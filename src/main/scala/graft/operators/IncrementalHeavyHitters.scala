package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}
import org.apache.spark.util.sketch.CountMinSketch

import graft.storage.VersionedTable

/** Incremental heavy hitters: the bounded-memory top-k frequency state of
  * [[Sketches.heavyHitters]] maintained from the source table's
  * commit-log deltas — the third member of the incremental family
  * ([[IncrementalAgg]] for abelian aggregates, [[IncrementalDistinct]]
  * for COUNT DISTINCT, this for TOP-K BY FREQUENCY).
  *
  * Algebra: the count-min sketch is a LINEAR sketch — CMS(A ∪ B) equals
  * CMS(A) merged with CMS(B) bit-for-bit (same seed/dimensions), so
  * insert-only deltas refresh by sketching ONLY the new rows and merging.
  * SpaceSaving candidate summaries merge by unioning per-batch candidates
  * and summing their upper bounds (Agarwal et al., "Mergeable Summaries",
  * PODS'12): each batch's UB bounds its true batch count from above, so
  * the sum bounds the true total — recall of heavy keys is preserved
  * across any number of merges. A DELETE-bearing window triggers ONE
  * announced full rebuild ([[IncrementalDistinct]]'s contract: SpaceSaving
  * cannot unsee an eviction), keeping results correct under every
  * workload instead of silently drifting.
  *
  * Consistency: candidates, the serialized sketch, and the consumed
  * source version ride in the SAME overwrite commit (kind-discriminated
  * rows in one table), so a crash between refreshes can never
  * double-merge a delta — the offsets-in-commit exactly-once contract.
  *
  * Scale shape: each refresh scans only the delta (one mapPartitions for
  * candidates + one sketch pass, map-side only — no shuffle of the
  * delta's keys); the persisted state is O(capacity + sketch) bytes
  * regardless of row count; [[topK]] collects only the capacity-bounded
  * candidate set. Values are tracked as strings (the cast is explicit) so
  * the state schema is stable across source column types.
  */
final class IncrementalHeavyHitters(spark: SparkSession,
                                    source: VersionedTable,
                                    target: VersionedTable, valueCol: String,
                                    capacity: Int = 1024, eps: Double = 1e-4,
                                    confidence: Double = 0.99,
                                    seed: Int = 42) {
  require(capacity > 0, "capacity must be positive")

  private val OFFSET_KEY = "incremental_hh.source_version"
  private val ACTION = "METADATA$ACTION"

  private val stateSchema = StructType(Seq(
    StructField("kind", StringType), StructField("item", StringType),
    StructField("ub", LongType), StructField("cms", BinaryType)))

  /** Applied source versions are tracked in the target's offsets. */
  def appliedVersion: Long = target.offsets.getOrElse(OFFSET_KEY, 0L)

  private def values(rows: DataFrame): DataFrame =
    rows.select(col(valueCol).cast("string").as("_v")).filter(col("_v").isNotNull)

  private def candidatesOf(rows: DataFrame): DataFrame =
    Sketches.spaceSavingCandidates(values(rows), "_v", capacity)
      .groupBy(col("item").cast("string").as("item"))
      .agg(sum(col("ub")).as("ub"))

  /** The documented state bound is O(capacity): per-partition SpaceSaving
    * summaries can emit up to partitions × capacity items, so EVERY write
    * path truncates to the heaviest `capacity` by summed upper bound (the
    * mergeable-summaries rule — heavy keys' UBs dominate by construction).
    */
  private def bounded(cands: DataFrame): DataFrame =
    cands.orderBy(desc("ub"), col("item")).limit(capacity)

  private def cmsOf(rows: DataFrame): CountMinSketch =
    values(rows).stat.countMinSketch(col("_v"), eps, confidence, seed)

  private def serialize(cms: CountMinSketch): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    cms.writeTo(bos)
    bos.toByteArray
  }

  private def stored(): Option[(CountMinSketch, DataFrame)] =
    if (target.state.forall(_.parts.isEmpty)) None
    else {
      val st = target.read
      val bytes = st.filter(col("kind") === "cms")
        .select(col("cms")).head.getAs[Array[Byte]](0)
      val cms = CountMinSketch.readFrom(new ByteArrayInputStream(bytes))
      Some((cms, st.filter(col("kind") === "cand")
        .select(col("item"), col("ub"))))
    }

  private def writeState(cms: CountMinSketch, cands: DataFrame,
                         latest: Long): Unit = {
    val candRows = cands.select(lit("cand").as("kind"), col("item"),
      col("ub"), lit(null).cast("binary").as("cms"))
    val cmsRow = spark.createDataFrame(
      java.util.List.of(Row("cms", null, 0L, serialize(cms))), stateSchema)
    target.overwrite(candRows.to(stateSchema).unionByName(cmsRow),
      Map(OFFSET_KEY -> latest))
  }

  /** Bring the state up to the source's latest commit. Returns
    * (versionsApplied, fullRebuild): (0, false) = already current;
    * fullRebuild is true only when the window contained DELETE rows.
    */
  def refresh(): (Long, Boolean) = {
    val latest = source.state.map(_.version).getOrElse(
      throw new IllegalStateException("source table has no commits"))
    val from = appliedVersion
    if (latest == from) return (0L, false)
    // materialize the change window ONCE (it is delta-sized for append
    // windows and a computed diff for rewrite windows — either way the
    // delete probe, the sketch pass, and the candidate pass below must
    // read the same rows, and must not re-execute the diff three times)
    val changes = source.changesBetween(from, latest).localCheckpoint(true)
    val hasDeletes = !changes.filter(col(ACTION) === "DELETE").isEmpty
    if (hasDeletes) {
      // rebuild from the version the offset will claim — a racing append
      // committing latest+1 mid-rebuild must NOT leak into this state or
      // its rows would double-merge on the next refresh
      val snap = source.readVersion(latest)
      writeState(cmsOf(snap), bounded(candidatesOf(snap)), latest)
      (latest - from, true)
    } else {
      val delta = changes.drop(
        changes.columns.filter(_.startsWith("METADATA$")): _*)
      val (cms, cands) = stored() match {
        case None => (cmsOf(delta), bounded(candidatesOf(delta)))
        case Some((oldCms, oldCands)) =>
          val merged = oldCms.mergeInPlace(cmsOf(delta))
          // union candidates, sum UBs (mergeable-summary rule)
          val c = bounded(oldCands.unionByName(candidatesOf(delta))
            .groupBy(col("item")).agg(sum(col("ub")).as("ub")))
          (merged, c)
      }
      writeState(cms, cands, latest)
      (latest - from, false)
    }
  }

  /** Top-k by merged-sketch estimate over the maintained candidate set
    * ([[refresh]] first for freshness): (item string, est_count long).
    * Candidate collection is capacity-bounded; estimates come from the
    * stored sketch on the driver.
    */
  def topK(k: Int): DataFrame = {
    val (cms, cands) = stored().getOrElse(
      throw new IllegalStateException("no state — call refresh() first"))
    val rows = cands.collect().toSeq
      .map(r => (r.getString(0), cms.estimateCount(r.getString(0))))
      .sortBy { case (item, n) => (-n, item) }
      .take(k)
    import spark.implicits._
    rows.toDF("item", "est_count")
  }

  /** The maintained candidate set (item, summed upper bound). */
  def candidates: DataFrame = stored() match {
    case Some((_, c)) => c
    case None => throw new IllegalStateException("no state")
  }
}

object IncrementalHeavyHitters {
  def apply(spark: SparkSession, source: VersionedTable, targetRoot: String,
            valueCol: String, capacity: Int = 1024,
            eps: Double = 1e-4): IncrementalHeavyHitters =
    new IncrementalHeavyHitters(spark, source,
      VersionedTable(spark, targetRoot), valueCol, capacity, eps)
}
