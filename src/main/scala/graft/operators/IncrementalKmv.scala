package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.storage.VersionedTable

/** Incremental per-group KMV distinct sketches — segment-overlap
  * monitoring kept current from commit-log deltas: "how many users does
  * segment A share with segment B, as of now" without ever rescanning
  * the source (the [[IncrementalDistinct]] sibling for SET ALGEBRA —
  * HLL answers counts only; KMV min-sets compose under union and
  * intersection, see [[Sketches.KmvSketch]]).
  *
  * State under `stateRoot`: one row per group `(g, mins sorted
  * array<long>)` — sketch-sized regardless of corpus size, so each
  * refresh OVERWRITES the whole state table (the state IS k·groups
  * longs; there is nothing bucket-prunable worth the machinery).
  * Consumed source version rides the same commit (exactly-once).
  *
  * Append-only: KMV min-sets cannot forget a hash, so source DELETEs are
  * refused loudly (rebuild from scratch for retention-driven shrinkage).
  *
  * Scale shape per refresh: the DELTA is sketched with the same
  * WindowGroupLimit rank filter as the batch builder, the old state is
  * sketch-sized, and the merge is a union + re-rank over
  * (groups × 2k) rows. A 100 TB source with daily deltas maintains
  * overlap dashboards in delta time.
  */
final class IncrementalKmv(spark: SparkSession, source: VersionedTable,
                           stateRoot: String, groupCol: String,
                           valueCol: String, k: Int,
                           maxGroups: Int = 1024) {
  require(k >= 2, s"k=$k too small")
  require(k.toLong * maxGroups <= 4000000L,
    s"k=$k × maxGroups=$maxGroups exceeds the 4M-hash budget")

  private val OFFSET_KEY = "incremental_kmv.source_version"
  private val ACTION = "METADATA$ACTION"

  private val state = VersionedTable(spark, stateRoot, collectStats = false)

  def appliedVersion: Long = state.offsets.getOrElse(OFFSET_KEY, 0L)

  private def sketchOf(df: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("h"))
    df.select(col(groupCol).cast("string").as("g"),
        xxhash64(col(valueCol)).as("h"))
      .distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(col("g")).agg(sort_array(collect_list(col("h"))).as("mins"))
  }

  /** Bring the sketches up to the source's latest commit. Returns the
    * number of source versions applied (0 = current).
    */
  def refresh(): Long = {
    val latest = source.state.map(_.version).getOrElse(
      throw new IllegalStateException("source table has no commits"))
    val from = appliedVersion
    if (latest == from) return 0L
    val changes = source.changesBetween(from, latest).cache()
    try {
      require(changes.filter(col(ACTION) === "DELETE").isEmpty,
        "IncrementalKmv is append-only: the source delta contains DELETE " +
          "rows — KMV min-sets cannot forget hashes; rebuild from scratch")
      val deltaSketch = sketchOf(changes)
      val merged =
        if (state.state.forall(_.parts.isEmpty)) deltaSketch
        else {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("g")).orderBy(col("h"))
          state.read.unionByName(deltaSketch)
            .select(col("g"), explode(col("mins")).as("h"))
            .distinct()
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= k)
            .groupBy(col("g"))
            .agg(sort_array(collect_list(col("h"))).as("mins"))
        }
      // guard BEFORE committing: a violating refresh must fail without
      // persisting the oversized state or consuming the source offset
      val cached = merged.cache()
      try {
        val n = cached.count()
        require(n <= maxGroups, s"$n groups exceed maxGroups=$maxGroups")
        state.overwrite(cached, Map(OFFSET_KEY -> latest))
      } finally cached.unpersist(blocking = false)
      latest - from
    } finally changes.unpersist(blocking = false)
  }

  /** The maintained sketches as driver objects (bounded by construction;
    * refresh first for freshness).
    */
  def sketches: Map[String, Sketches.KmvSketch] =
    state.read.collect().map(r => r.getString(0) ->
      Sketches.KmvSketch(k, r.getSeq[Long](1).toArray)).toMap
}

object IncrementalKmv {
  def apply(spark: SparkSession, source: VersionedTable, stateRoot: String,
            groupCol: String, valueCol: String, k: Int,
            maxGroups: Int = 1024): IncrementalKmv =
    new IncrementalKmv(spark, source, stateRoot, groupCol, valueCol, k,
      maxGroups)
}
