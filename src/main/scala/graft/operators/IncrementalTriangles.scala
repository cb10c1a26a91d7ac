package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.storage.VersionedTable

/** Incremental triangle counting over an APPEND-ONLY edge log — the
  * [[Triangles]] face of the incremental tier (sibling of
  * [[IncrementalComponents]]): per-node triangle counts and clustering
  * coefficients stay current as co-occurrence/link edges arrive, without
  * ever re-enumerating the old graph's wedges.
  *
  * The classic streaming-triangles identity: a triangle that appears in
  * batch N contains at least one batch-N edge, so only the DELTA's edges
  * need wedge enumeration — each new edge (a,b) looks up common
  * neighbors w of a and b in (old ∪ new) adjacency. A triangle whose
  * closing edges are THEMSELVES new would be found once per new edge it
  * contains, so each triangle is credited only at its lexicographically
  * SMALLEST new edge — exact, order-independent, no fractional weights.
  *
  * State under `stateRoot` (one versioned table, so the consumed source
  * version, the adjacency and the counts commit atomically —
  * exactly-once under replay): hash-bucketed on `_b = pmod(id,
  * nBuckets)`, holding two row kinds distinguished by `nb` nullability —
  * adjacency rows `(id, nb)` (both directions of each undirected edge)
  * and count rows `(id, NULL, tri)`. Per-node degree is NOT stored: it
  * is derivable exactly from the stored adjacency, so it cannot drift.
  *
  * Delta-shaped cost: every probe (old-adjacency attach, closing-edge
  * check, count merge) is confined to the delta endpoints' buckets
  * ([[VersionedTable.readWhere]] prunes files) with a broadcast of the
  * delta's node set; only touched buckets are rewritten, untouched
  * bucket files carry forward by reference.
  */
final class IncrementalTriangles(spark: SparkSession,
                                 source: VersionedTable, stateRoot: String,
                                 idACol: String = "id_a",
                                 idBCol: String = "id_b",
                                 nBuckets: Int = 64) {

  private val OFFSET_KEY = "incremental_triangles.source_version"
  private val ACTION = "METADATA$ACTION"

  private val state = VersionedTable(spark, stateRoot, collectStats = false)

  def appliedVersion: Long = state.offsets.getOrElse(OFFSET_KEY, 0L)

  private def bucketOf(c: Column): Column = pmod(c, lit(nBuckets.toLong))

  private val stateSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("nb",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("tri",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("_b",
      org.apache.spark.sql.types.LongType)))

  /** lexicographic (a,b) < (x,y) on normalized edges */
  private def lexLess(a: Column, b: Column, x: Column, y: Column): Column =
    a < x || (a === x && b < y)

  /** Bring counts up to the source's latest commit. Returns source
    * versions applied (0 = already current).
    */
  def refresh(): Long = {
    val latest = source.state.map(_.version).getOrElse(
      throw new IllegalStateException("source table has no commits"))
    val from = appliedVersion
    if (latest == from) return 0L
    val changes = source.changesBetween(from, latest).cache()
    try {
      require(changes.filter(col(ACTION) === "DELETE").isEmpty,
        "IncrementalTriangles is append-only: the source delta contains " +
          "DELETE rows — decremental triangle maintenance is out of scope")
      val d0 = changes
        .select(least(col(idACol), col(idBCol)).cast("long").as("a"),
          greatest(col(idACol), col(idBCol)).cast("long").as("b"))
        .filter(col("a").isNotNull && col("b").isNotNull &&
          col("a") =!= col("b"))
        .distinct()

      val empty = state.state.forall(_.parts.isEmpty)
      val existing =
        if (empty) spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)
        else state.read

      // re-appended edges must not recount: keep genuinely new ones only
      val dNew = d0.join(
          existing.filter(col("nb").isNotNull)
            .select(col("id").as("a"), col("nb").as("b")),
          Seq("a", "b"), "left_anti")
        .cache()
      try {
      val deltaNodes = dNew.select(col("a").as("id"))
        .union(dNew.select(col("b"))).distinct()
      val deltaBuckets = deltaNodes
        .select(bucketOf(col("id")).as("_b")).distinct()
        .collect().map(_.getLong(0)) // bounded by nBuckets

      // adjacency visible to the probes: delta endpoints' OLD rows
      // (bucket-pruned scan + broadcast semi) ∪ the new edges, flagged
      val oldTouched =
        (if (empty) existing
         else state.readWhere(col("_b").isin(deltaBuckets: _*)))
          .filter(col("nb").isNotNull)
          .join(broadcast(deltaNodes), Seq("id"), "left_semi")
          .select(col("id"), col("nb"), lit(false).as("is_new"))
      val newBoth = dNew.select(col("a").as("id"), col("b").as("nb"))
        .union(dNew.select(col("b"), col("a")))
        .withColumn("is_new", lit(true))
      val adjAll = oldTouched.unionByName(newBoth).cache()
      try {

      // wedges at each new edge: w from a's neighbors, closed via (b,w);
      // credit the triangle only at its smallest new edge
      val cand = dNew
        .join(adjAll.select(col("id").as("a"), col("nb").as("w"),
          col("is_new").as("n1")), Seq("a"))
        .filter(col("w") =!= col("b"))
      val closed = cand
        .join(adjAll.select(col("id").as("b"), col("nb").as("w"),
          col("is_new").as("n2")), Seq("b", "w"))
      val counted = closed.filter(
        (!col("n1") || lexLess(col("a"), col("b"),
          least(col("a"), col("w")), greatest(col("a"), col("w")))) &&
        (!col("n2") || lexLess(col("a"), col("b"),
          least(col("b"), col("w")), greatest(col("b"), col("w")))))
      val triDelta = counted
        .select(explode(array(col("a"), col("b"), col("w"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("dtri"))

      // rewrite only the buckets holding a new adjacency row or a count
      // change — corner w of a counted triangle can lie OUTSIDE the
      // delta's node set, so count buckets come from triDelta itself
      val touchedBuckets = triDelta.select(bucketOf(col("id")).as("_b"))
        .union(deltaNodes.select(bucketOf(col("id"))))
        .distinct().collect().map(_.getLong(0))
      val bucketRows =
        if (empty) existing
        else state.readWhere(col("_b").isin(touchedBuckets: _*))
      val keptAdj = bucketRows.filter(col("nb").isNotNull)
      val mergedCnt = bucketRows.filter(col("nb").isNull)
        .select(col("id"), col("tri"))
        .unionByName(triDelta.select(col("id"), col("dtri").as("tri")))
        .groupBy(col("id")).agg(sum(col("tri")).as("tri"))
        .select(col("id"), lit(null).cast("long").as("nb"), col("tri"),
          bucketOf(col("id")).as("_b"))
      val newAdj = newBoth.select(col("id"), col("nb"),
        lit(null).cast("long").as("tri"), bucketOf(col("id")).as("_b"))
      state.overwritePartitions(
        keptAdj.unionByName(mergedCnt).unionByName(newAdj), "_b",
        Map(OFFSET_KEY -> latest))
      latest - from
      } finally adjAll.unpersist(blocking = false)
      } finally dNew.unpersist(blocking = false)
    } finally changes.unpersist(blocking = false)
  }

  /** The maintained per-node view, same contract as
    * [[Triangles.triangleCounts]]: (`node_id`, `degree`, `triangles`,
    * `lcc`) for every node with degree ≥ 2 — degree aggregated from the
    * stored adjacency, so it is exact by construction.
    */
  def read: DataFrame = {
    val rows = state.readOr(stateSchema)
    val deg = rows.filter(col("nb").isNotNull)
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val cnt = rows.filter(col("nb").isNull).select(col("id"), col("tri"))
    deg.filter(col("degree") >= 2)
      .join(cnt, Seq("id"), "left")
      .select(col("id").as("node_id"), col("degree"),
        coalesce(col("tri"), lit(0L)).as("triangles"),
        (lit(2.0) * coalesce(col("tri"), lit(0L)) /
          (col("degree") * (col("degree") - lit(1)))).as("lcc"))
  }
}

object IncrementalTriangles {
  def apply(spark: SparkSession, source: VersionedTable, stateRoot: String,
            idACol: String = "id_a", idBCol: String = "id_b",
            nBuckets: Int = 64): IncrementalTriangles =
    new IncrementalTriangles(spark, source, stateRoot, idACol, idBCol,
      nBuckets)
}
