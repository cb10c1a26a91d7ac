package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.storage.VersionedTable

/** Incrementally maintained 2-D Pareto frontier ([[Selection.paretoFront]]
  * as a materialization): the skyline of an append-only point stream,
  * refreshed from the source's commit-log deltas
  * ([[VersionedTable.changesBetween]]) in FRONTIER+DELTA time — the
  * "best quality per cost, kept current as the corpus grows" dashboard.
  *
  * Algebra: max-dominance skylines absorb incrementally —
  * `F(A ∪ B) = F(F(A) ∪ B)`: any point F discards is dominated by a
  * point that can only leave the frontier by being dominated in turn,
  * and dominance is transitive, so discarded points stay dominated
  * forever under inserts. A delta refresh therefore runs the one-window
  * skyline over (stored frontier ∪ new rows) — frontier+delta-sized,
  * never the full history. DELETES break the algebra (a frontier point's
  * removal can resurrect points discarded long ago): such windows fall
  * back to ONE full recompute and report it (the [[IncrementalDistinct]]
  * posture — correct under every workload, never silently wrong).
  *
  * Consistency: the consumed source version commits WITH the refreshed
  * frontier (exactly-once offsets); replays are no-ops. State is
  * frontier-sized — for real score distributions, hundreds of rows off
  * a corpus of any size.
  */
final class IncrementalPareto(spark: SparkSession, source: VersionedTable,
                              target: VersionedTable, idCol: String,
                              xCol: String, yCol: String) {

  private val OFFSET_KEY = "incremental_pareto.source_version"
  private val ACTION = "METADATA$ACTION"

  def appliedVersion: Long = target.offsets.getOrElse(OFFSET_KEY, 0L)

  private def front(points: DataFrame): DataFrame =
    Selection.paretoFront(
      points.select(col(idCol), col(xCol), col(yCol)), xCol, yCol)

  /** Bring the frontier up to the source's latest commit. Returns
    * (versionsApplied, fullRebuild).
    */
  def refresh(): (Long, Boolean) = {
    val latest = source.state.map(_.version).getOrElse(
      throw new IllegalStateException("source table has no commits"))
    val from = appliedVersion
    if (latest == from) return (0L, false)
    val changes = source.changesBetween(from, latest)
    val hasDeletes = !changes.filter(col(ACTION) === "DELETE").isEmpty
    if (hasDeletes) {
      target.overwrite(front(source.read), Map(OFFSET_KEY -> latest))
      (latest - from, true)
    } else {
      val delta = changes
        .drop(changes.columns.filter(_.startsWith("METADATA$")): _*)
      val merged =
        if (target.state.forall(_.parts.isEmpty)) delta
        else target.read.unionByName(
          delta.select(col(idCol), col(xCol), col(yCol)))
      target.overwrite(front(merged), Map(OFFSET_KEY -> latest))
      (latest - from, false)
    }
  }

  /** The maintained frontier ([[refresh]] first for freshness). */
  def frontier: DataFrame = target.read
}

object IncrementalPareto {
  def apply(spark: SparkSession, source: VersionedTable, targetRoot: String,
            idCol: String, xCol: String, yCol: String): IncrementalPareto =
    new IncrementalPareto(spark, source, VersionedTable(spark, targetRoot),
      idCol, xCol, yCol)
}
