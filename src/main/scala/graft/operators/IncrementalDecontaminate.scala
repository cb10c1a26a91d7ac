package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.storage.VersionedTable

/** Incremental benchmark-decontamination index (X51): the persisted-state
  * counterpart of [[Decontaminate]], maintained from the BENCHMARK table's
  * commit-log deltas instead of rebuilding the gram set per run — the
  * shape a production pipeline needs when benchmarks evolve (new eval
  * suites land weekly) while the training corpus is scrubbed continuously.
  *
  * State under `stateRoot`: one row per distinct benchmark n-gram with its
  * occurrence count `(gram, n)`. Counts make the index EXACTLY
  * incremental under any mix of appends, overwrites, and deletes — gram
  * counts are an abelian-group aggregate (INSERT row → +its grams,
  * DELETE row → −its grams; [[IncrementalAgg]]'s algebra on the exploded
  * gram relation), so a gram whose count returns to zero leaves the set
  * and the index equals the from-scratch gram set after EVERY refresh (no
  * announced-rebuild escape hatch needed, unlike the order-sensitive
  * SpaceSaving state in [[IncrementalHeavyHitters]]).
  *
  * Consistency: the consumed benchmark version rides in the SAME commit
  * as the refreshed gram rows (the engine's offsets-in-commit
  * exactly-once contract); `n` is pinned in the offsets and a mismatched
  * reopen is refused loudly (a different `n` would silently match
  * nothing).
  *
  * Scale shape: refresh cost tracks the benchmark DELTA (explode + one
  * gram-keyed shuffle of delta grams + one merge over the eval-sized
  * state); the check keeps [[Decontaminate]]'s two-phase plan — fused
  * 64-bit gram-hash prefilter against the broadcast index hashes, exact
  * string rescore for the rare candidates — so the corpus is never
  * shuffled regardless of its size.
  */
final class IncrementalDecontaminate(spark: SparkSession,
                                     source: VersionedTable,
                                     stateRoot: String, textCol: String,
                                     n: Int = 8) {
  require(n >= 1, "need n >= 1")

  private val OFFSET_KEY = "incremental_decon.source_version"
  private val ACTION = "METADATA$ACTION"
  private def target = VersionedTable(spark, stateRoot, collectStats = false)
  private val paramOffsets = Map("p.n" -> n.toLong)

  private def validateParams(): Unit = {
    val o = target.offsets
    o.get("p.n").foreach(stored => require(stored == n.toLong,
      s"decontamination index at $stateRoot was built with n=$stored; " +
        s"reopened with n=$n — use the original gram size"))
  }

  /** Benchmark version the index reflects (0 = nothing applied). */
  def appliedVersion: Long = target.offsets.getOrElse(OFFSET_KEY, 0L)

  /** Bring the gram index up to the benchmark's latest commit. Returns
    * versions applied (0 = already current).
    */
  def refresh(): Long = {
    if (target.exists) validateParams()
    val latest = source.state.map(_.version).getOrElse(
      throw new IllegalStateException("benchmark table has no commits"))
    val from = appliedVersion
    if (latest == from) return 0L
    val sign = when(col(ACTION) === "INSERT", lit(1L)).otherwise(lit(-1L))
    val delta = source.changesBetween(from, latest)
      .select(sign.as("_s"),
        explode(TextFunctions.wordNgrams(col(textCol), n)).as("gram"))
      .groupBy(col("gram")).agg(sum(col("_s")).as("n"))
    val merged =
      if (target.state.forall(_.parts.isEmpty)) delta
      else target.read.unionByName(delta)
        .groupBy(col("gram")).agg(sum(col("n")).as("n"))
    target.overwrite(merged.filter(col("n") =!= 0L),
      paramOffsets + (OFFSET_KEY -> latest))
    latest - from
  }

  /** The current benchmark gram set (refresh first for freshness). */
  def grams: DataFrame = target.read.select(col("gram"))

  /** Ids of `batch` documents sharing ≥1 n-gram with the indexed
    * benchmark — [[Decontaminate.contaminatedIds]] against the persisted
    * state: hash prefilter (the stored gram string re-hashes through the
    * same fused kernel, one hash per gram) + exact string rescore.
    */
  def contaminatedIds(batch: DataFrame, idCol: String,
                      batchTextCol: String): DataFrame = {
    validateParams()
    val g = grams
    val idxHashes = g.select(
      explode(graft.plans.expressions.ngramHashes(col("gram"), n)).as("h"))
      .distinct()
    val candidates = batch
      .select(col(idCol),
        explode(graft.plans.expressions.ngramHashes(col(batchTextCol), n)).as("h"))
      .join(broadcast(idxHashes), Seq("h"), "left_semi")
      .select(col(idCol)).distinct()
    batch.join(broadcast(candidates), Seq(idCol), "left_semi")
      .select(col(idCol),
        explode(TextFunctions.wordNgrams(col(batchTextCol), n)).as("gram"))
      .join(broadcast(g), Seq("gram"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** `batch` with contaminated documents removed. */
  def clean(batch: DataFrame, idCol: String, batchTextCol: String): DataFrame =
    batch.join(contaminatedIds(batch, idCol, batchTextCol),
      Seq(idCol), "left_anti")
}

object IncrementalDecontaminate {
  def apply(spark: SparkSession, source: VersionedTable, stateRoot: String,
            textCol: String, n: Int = 8): IncrementalDecontaminate =
    new IncrementalDecontaminate(spark, source, stateRoot, textCol, n)
}
