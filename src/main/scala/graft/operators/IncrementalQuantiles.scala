package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.storage.VersionedTable

/** Incremental EXACT quantiles over a bounded-cardinality value domain —
  * the distribution-monitoring tier of the incremental family
  * ([[IncrementalAgg]] keeps COUNT/SUM, [[IncrementalDistinct]] keeps
  * NDV, this keeps the full value distribution): a persisted per-group
  * HISTOGRAM `(group…, v, cnt)` maintained from the source table's
  * commit-log deltas, from which any discrete quantile is answered
  * exactly without touching the source.
  *
  * The value expression must land in a bounded domain (a naturally
  * discrete column, or a continuous one bucketed by the caller — e.g.
  * `floor(value*10)/10`, which is exact IEEE arithmetic in every engine,
  * unlike decimal `round`). That is the standard warehouse trade: where a
  * t-digest/KLL sketch gives ε-approximate ranks over unbounded domains,
  * a bucketed histogram gives EXACT bucket quantiles, merges trivially,
  * and — because counts are an abelian sum — handles DELETES exactly,
  * which no rank sketch can (sketches cannot unmerge).
  *
  * Quantile definition (matches ANSI `quantile_disc`/`percentile_disc`):
  * the smallest bucket value whose cumulative count reaches
  * `ceil(q · n)` — pinned by the DuckDB oracle (q85).
  *
  * Exactly-once: the consumed source version rides the SAME commit as the
  * refreshed histogram (offsets), so replays after a crash cannot
  * double-count a delta.
  *
  * Scale shape: each refresh aggregates ONLY the delta (one map-side-
  * partial groupBy of batch-sized input) and folds it into the
  * state-sized histogram (bounded by groups × buckets, independent of
  * row count); [[quantiles]] is one window + one aggregate over the
  * histogram relation — the source is never rescanned.
  */
final class IncrementalQuantiles(spark: SparkSession, source: VersionedTable,
                                 targetRoot: String, groupCols: Seq[String],
                                 valueExpr: Column) {
  require(groupCols.nonEmpty, "need at least one group column")

  private val OFFSET_KEY = "incremental_quantiles.source_version"
  private val ACTION = "METADATA$ACTION"

  private def target = VersionedTable(spark, targetRoot)

  def appliedVersion: Long = target.offsets.getOrElse(OFFSET_KEY, 0L)

  /** Signed per-bucket counts of one delta window (nulls skipped, per
    * aggregate-function semantics).
    */
  private def histOf(rows: DataFrame, sign: Int): DataFrame =
    rows.withColumn("_v", valueExpr).filter(col("_v").isNotNull)
      .groupBy(groupCols.map(col) :+ col("_v"): _*)
      .agg((count(lit(1)) * sign).cast("long").as("cnt"))

  /** Bring the histogram up to the source's latest commit. Returns the
    * number of source versions applied (0 = already current). Inserts add,
    * deletes subtract, zero-count buckets are dropped — exact under every
    * workload, no rebuild path.
    */
  def refresh(): Long = {
    val latest = source.state.map(_.version).getOrElse(
      throw new IllegalStateException("source table has no commits"))
    val from = appliedVersion
    if (latest == from) return 0L
    val changes = source.changesBetween(from, latest)
    val delta = histOf(changes.filter(col(ACTION) === "INSERT"), 1)
      .unionByName(histOf(changes.filter(col(ACTION) === "DELETE"), -1))
    val merged =
      if (target.state.forall(_.parts.isEmpty)) delta
      else target.read.unionByName(delta)
    val folded = merged
      .groupBy(groupCols.map(col) :+ col("_v"): _*)
      .agg(sum(col("cnt")).cast("long").as("cnt"))
      .filter(col("cnt") =!= 0L)
    target.overwrite(folded, Map(OFFSET_KEY -> latest))
    latest - from
  }

  /** The maintained histogram: group columns + `_v` + `cnt`. */
  def histogram: DataFrame = target.read

  /** Exact discrete quantiles per group for each q in (0, 1]: one row per
    * (group, q) with the smallest bucket value whose cumulative count
    * reaches `ceil(q·n)`. One partitioned window + one aggregate over the
    * state relation.
    */
  def quantiles(qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1), "qs in (0,1]")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    val cum = histogram
      .withColumn("_cum", sum(col("cnt")).over(w))
      .withColumn("_n", sum(col("cnt")).over(wAll))
    val qRel = spark.createDataFrame(qs.map(q => (q, q))).toDF("q", "_q")
    cum.crossJoin(broadcast(qRel))
      .groupBy(groupCols.map(col) :+ col("q"): _*)
      .agg(min(when(col("_cum") >= ceil(col("_q") * col("_n")), col("_v")))
        .as("quantile"))
  }
}

object IncrementalQuantiles {
  def apply(spark: SparkSession, source: VersionedTable, targetRoot: String,
            groupCols: Seq[String], valueExpr: Column): IncrementalQuantiles =
    new IncrementalQuantiles(spark, source, targetRoot, groupCols, valueExpr)
}
