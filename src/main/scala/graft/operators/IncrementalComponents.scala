package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.storage.VersionedTable

/** Incremental connected components over an APPEND-ONLY edge log — the
  * graph face of the incremental tier (X39/X46/X47 siblings): the
  * component assignment stays current as near-dup/link edges arrive,
  * WITHOUT re-solving the whole graph.
  *
  * State under `stateRoot`: the label table `(id, component, _b)` —
  * node → component min, hash-bucketed on `_b = pmod(id, nBuckets)` so a
  * refresh can REWRITE ONLY THE BUCKETS IT TOUCHED
  * ([[VersionedTable.overwritePartitions]]). The label rows double as a
  * connectivity-equivalent contraction (star edges) of every edge ever
  * consumed, which is what makes the refresh delta-shaped:
  *
  *  1. delta edges from the source's commit log
  *     ([[VersionedTable.changesBetween]], INSERT rows only — DELETEs are
  *     refused loudly; decremental connectivity needs spanning-forest
  *     machinery deliberately out of scope);
  *  2. the components the delta touches resolve via one broadcast
  *     membership probe (delta-sized build side; the state scan is
  *     map-only — no state shuffle);
  *  3. [[Dedup.connectedComponents]] resolves (touched members' star edges ∪
  *     delta) — the old part is already stars, so rounds track the
  *     DELTA's chain structure, not corpus history;
  *  4. only buckets holding relabeled/new nodes are rewritten; untouched
  *     buckets' files are carried forward by reference.
  *
  * The consumed source version rides in the same commit as the rewritten
  * buckets (the engine's exactly-once offset contract).
  *
  * Scale note: step 2's membership probe scans the label table map-only.
  * At extreme state sizes a component→bucket secondary index would prune
  * that scan too; the write path is already bucket-pruned.
  */
final class IncrementalComponents(spark: SparkSession,
                                  source: VersionedTable, stateRoot: String,
                                  idACol: String = "id_a",
                                  idBCol: String = "id_b",
                                  nBuckets: Int = 64) {

  private val OFFSET_KEY = "incremental_components.source_version"
  private val ACTION = "METADATA$ACTION"

  private val state = VersionedTable(spark, stateRoot, collectStats = false)

  def appliedVersion: Long = state.offsets.getOrElse(OFFSET_KEY, 0L)

  private def withBucket(labels: DataFrame): DataFrame =
    labels.select(col("id"), col("component"),
      pmod(col("id"), lit(nBuckets.toLong)).as("_b"))

  /** Bring the component assignment up to the source's latest commit.
    * Returns the number of source versions applied (0 = current).
    */
  def refresh(): Long = {
    val latest = source.state.map(_.version).getOrElse(
      throw new IllegalStateException("source table has no commits"))
    val from = appliedVersion
    if (latest == from) return 0L
    val changes = source.changesBetween(from, latest).cache()
    try {
      require(changes.filter(col(ACTION) === "DELETE").isEmpty,
        "IncrementalComponents is append-only: the source delta contains " +
          "DELETE rows — decremental connectivity is out of scope (rebuild " +
          "from scratch or keep tombstones upstream)")
      val delta = changes
        .select(col(idACol).cast("long").as("id_a"),
          col(idBCol).cast("long").as("id_b"))
        .filter(col("id_a").isNotNull && col("id_b").isNotNull)
        .distinct()
      val empty = state.state.forall(_.parts.isEmpty)
      if (empty) {
        state.overwritePartitions(
          withBucket(Dedup.connectedComponents(delta)), "_b",
          Map(OFFSET_KEY -> latest))
        return latest - from
      }
      // components the delta touches, via one broadcast membership probe
      val deltaNodes = delta.select(col("id_a").as("id"))
        .union(delta.select(col("id_b"))).distinct()
      val touched = state.read.join(broadcast(deltaNodes), Seq("id"))
        .select(col("component")).distinct()
      val members = state.read
        .join(broadcast(touched), Seq("component"))
        .select(col("id"), col("component"))
      val subEdges = members.filter(col("id") =!= col("component"))
        .select(col("id").as("id_a"), col("component").as("id_b"))
        .union(delta)
      val newLabels = withBucket(Dedup.connectedComponents(subEdges)).cache()
      try {
        // rewrite ONLY buckets that hold a relabeled or new node; the
        // bucket list is driver-side but bounded by nBuckets
        val buckets = newLabels.select(col("_b")).distinct()
          .collect().map(_.getLong(0))
        val keep = state.readWhere(col("_b").isin(buckets: _*))
          .join(newLabels.select(col("id")), Seq("id"), "left_anti")
          .select(col("id"), col("component"), col("_b"))
        state.overwritePartitions(keep.unionByName(newLabels), "_b",
          Map(OFFSET_KEY -> latest))
      } finally newLabels.unpersist(blocking = false)
      latest - from
    } finally changes.unpersist(blocking = false)
  }

  /** The maintained `(id, component)` assignment (refresh first for
    * freshness).
    */
  def read: DataFrame = state.readOr(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("component",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_b",
        org.apache.spark.sql.types.LongType))))
    .select(col("id"), col("component"))
}

object IncrementalComponents {
  def apply(spark: SparkSession, source: VersionedTable, stateRoot: String,
            idACol: String = "id_a", idBCol: String = "id_b",
            nBuckets: Int = 64): IncrementalComponents =
    new IncrementalComponents(spark, source, stateRoot, idACol, idBCol,
      nBuckets)
}
