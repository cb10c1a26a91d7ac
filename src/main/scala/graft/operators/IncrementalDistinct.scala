package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.storage.VersionedTable

/** Incremental APPROX COUNT DISTINCT materialization: per-group
  * Datasketches HLL sketches maintained from the source table's commit-log
  * deltas ([[VersionedTable.changesBetween]]) — the counterpart of
  * [[IncrementalAgg]] for the aggregate it deliberately excludes
  * (COUNT DISTINCT is not abelian: a delete cannot be subtracted).
  *
  * Algebra: HLL sketches form a commutative monoid under union, so for
  * insert-only deltas (the reference stream's APPEND_ONLY mode —
  * `02_create_rawco2data_stream.py:50-56` — and every training-corpus
  * ingest) the refresh is exact sketch algebra: sketch the NEW rows,
  * `hll_union_agg` with the stored per-group sketch bytes, overwrite the
  * (tiny) sketch table. When a delta carries DELETE rows (an upstream
  * overwrite or partial rewrite), union cannot unmerge — [[refresh]] falls
  * back to ONE full recompute and reports it, so the estimate stays
  * correct under every workload rather than silently drifting.
  *
  * Consistency: the consumed source version rides in the SAME commit as
  * the refreshed sketches (the engine's exactly-once offset contract), so
  * a crash between refreshes never double-merges a delta — and because
  * HLL union is idempotent ANYWAY (re-merging the same rows does not move
  * the estimate), the operator is doubly safe against replays.
  *
  * Scale shape: each delta refresh shuffles only the NEW rows (one
  * groupBy into lgK-bounded sketch buffers, map-side partials) and one
  * |groups| union pass. A 100 TB source with a 1 GB daily delta refreshes
  * in delta time; the materialized state is |groups| × 2^lgK bytes,
  * independent of row count. Spark's built-in `hll_sketch_agg` /
  * `hll_union_agg` / `hll_sketch_estimate` run the Datasketches HLL_8
  * kernel inside codegen — no UDF, no custom expression needed.
  */
final class IncrementalDistinct(spark: SparkSession, source: VersionedTable,
                                target: VersionedTable, groupCols: Seq[String],
                                distinctCol: String, lgK: Int = 12) {
  require(groupCols.nonEmpty, "need at least one group column")

  private val OFFSET_KEY = "incremental_distinct.source_version"
  private val ACTION = "METADATA$ACTION"

  /** Applied source versions are tracked in the target's offsets. */
  def appliedVersion: Long = target.offsets.getOrElse(OFFSET_KEY, 0L)

  private def sketchOf(rows: DataFrame): DataFrame =
    rows.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(distinctCol), lit(lgK)).as("hll"))

  /** Bring the sketch table up to the source's latest commit. Returns
    * (versionsApplied, fullRebuild): (0, false) = already current;
    * fullRebuild is true only when the window contained DELETE rows.
    */
  def refresh(): (Long, Boolean) = {
    val latest = source.state.map(_.version).getOrElse(
      throw new IllegalStateException("source table has no commits"))
    val from = appliedVersion
    if (latest == from) return (0L, false)
    val changes = source.changesBetween(from, latest)
    // bounded probe: LIMIT 1 under the filter, not a full count
    val hasDeletes = !changes.filter(col(ACTION) === "DELETE").isEmpty
    if (hasDeletes) {
      target.overwrite(sketchOf(source.read), Map(OFFSET_KEY -> latest))
      (latest - from, true)
    } else {
      val delta = sketchOf(changes.drop(changes.columns.filter(_.startsWith("METADATA$")): _*))
      val merged =
        if (target.state.forall(_.parts.isEmpty)) delta
        else target.read.unionByName(delta)
          .groupBy(groupCols.map(col): _*)
          .agg(hll_union_agg(col("hll"), lit(true)).as("hll"))
      target.overwrite(merged, Map(OFFSET_KEY -> latest))
      (latest - from, false)
    }
  }

  /** The maintained per-group estimates ([[refresh]] first for freshness):
    * group columns + `approx_distinct` (long). Standard HLL error at the
    * default lgK=12 is ~1.6% RSE — far inside the 5%-tolerance contract
    * the spec and the q69 in-query guard assert.
    */
  def estimates: DataFrame =
    target.read.select(
      groupCols.map(col) :+
        hll_sketch_estimate(col("hll")).as("approx_distinct"): _*)
}

object IncrementalDistinct {
  def apply(spark: SparkSession, source: VersionedTable, targetRoot: String,
            groupCols: Seq[String], distinctCol: String,
            lgK: Int = 12): IncrementalDistinct =
    new IncrementalDistinct(spark, source, VersionedTable(spark, targetRoot),
      groupCols, distinctCol, lgK)
}
