package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.TextFunctions
import graft.storage.VersionedTable

/** Delta-maintained corpus data card (the incremental sibling of
  * [[DataCard.summarize]]): the per-(lang, source) release datasheet kept
  * current from a versioned corpus's commit log, so the card costs delta
  * time per refresh — the corpus is NEVER rescanned — yet every statistic
  * stays ENGINE-EXACT, including under deletes.
  *
  * Three state relations, all fed from the same per-doc delta projection:
  *   - scalar sums `(lang, source, n_docs, sum_tokens, sum_chars,
  *     n_langid_match)` — abelian (+ on INSERT, − on DELETE); bounded by
  *     segments, rewritten in place;
  *   - content-key SIGNED LOG `(lang, source, ck, cnt)` with 128-bit md5
  *     keys — the [[IncrementalRelevance]] postings pattern: a refresh
  *     APPENDS signed delta rows only (the live multiset is corpus-keyed,
  *     so an overwrite-fold would cost a corpus-sized rewrite per
  *     refresh); the read side folds the log, net counts > 0 make
  *     COUNT(DISTINCT content) exact under deletes, and [[compactCk]]
  *     folds the log in place when the dead fraction grows;
  *   - token-count histogram `(lang, source, tok, cnt)` (the X55
  *     machinery) — bounded by segments × token buckets, rewritten in
  *     place; min/max/INTERPOLATED median read off cumulative counts,
  *     matching ANSI `percentile`/`quantile_cont` exactly because both
  *     order statistics around the midpoint are recovered from it.
  *
  * Exactly-once across THREE state tables: each table carries its OWN
  * consumed-version offset and each refresh applies each table's own
  * missing window — a crash between the three commits leaves tables at
  * different versions, and the next refresh replays exactly what each
  * one is missing, never double-applying (the scalar table commits LAST
  * and is the canonical `appliedVersion`).
  *
  * Scale shape: a refresh is batch-sized map-side-partial groupBys — one
  * append (ck log) and two bounded rewrites; [[card]] is state-sized —
  * two windows over the histogram, one log fold, one join. Nothing
  * touches the corpus.
  */
final class IncrementalDataCard(spark: SparkSession, source: VersionedTable,
                                stateRoot: String, textCol: String,
                                langCol: String, sourceCol: String) {

  private val OFFSET_KEY = "incremental_card.source_version"
  private val ACTION = "METADATA$ACTION"

  private def aggT = VersionedTable(spark, s"$stateRoot/agg", collectStats = false)
  private def ckT = VersionedTable(spark, s"$stateRoot/ck", collectStats = false)
  private def tokT = VersionedTable(spark, s"$stateRoot/tok", collectStats = false)

  private val ckSchema = StructType(Seq(
    StructField("lang", StringType), StructField("source", StringType),
    StructField("ck", StringType), StructField("cnt", LongType)))

  def appliedVersion: Long = aggT.offsets.getOrElse(OFFSET_KEY, 0L)

  /** The same per-doc feature projection as the batch card, plus the
    * delta sign (+1 INSERT / −1 DELETE).
    */
  private def perDoc(rows: DataFrame): DataFrame = rows.select(
    col(langCol).as("lang"),
    col(sourceCol).as("source"),
    md5(col(textCol)).as("ck"),
    TextFunctions.tokenCount(col(textCol)).cast("long").as("tok"),
    length(col(textCol)).cast("long").as("chars"),
    (TextFunctions.langId(col(textCol)) === col(langCol))
      .cast("long").as("lid_match"),
    when(col(ACTION) === "DELETE", -1L).otherwise(1L).as("sgn"))

  /** Bring all three state relations up to the source's latest commit;
    * returns the number of source versions applied to the canonical
    * (scalar) table (0 = current).
    */
  def refresh(): Long = {
    val latest = source.state.map(_.version).getOrElse(
      throw new IllegalStateException("source table has no commits"))
    def offsetOf(t: VersionedTable) = t.offsets.getOrElse(OFFSET_KEY, 0L)
    val (fromAgg, fromCk, fromTok) =
      (appliedVersion, offsetOf(ckT), offsetOf(tokT))
    if (latest == fromAgg && latest == fromCk && latest == fromTok) return 0L

    // one materialized delta projection per DISTINCT pending window —
    // normally all three tables are current to the same version and the
    // scan runs once
    val cache = scala.collection.mutable.Map[Long, DataFrame]()
    def signed(from: Long): DataFrame = cache.getOrElseUpdate(from,
      perDoc(source.changesBetween(from, latest)).localCheckpoint(true))

    def foldBounded(state: VersionedTable, from: Long, delta: DataFrame,
                    keys: Seq[String], sums: Seq[String],
                    dropZero: Boolean): Unit = {
      if (from == latest) return
      val merged =
        if (state.state.forall(_.parts.isEmpty)) delta
        else state.read.unionByName(delta)
      val folded = merged.groupBy(keys.map(col): _*)
        .agg(sum(col(sums.head)).cast("long").as(sums.head),
          sums.tail.map(c => sum(col(c)).cast("long").as(c)): _*)
      state.overwrite(
        if (dropZero) folded.filter(col(sums.head) =!= 0L) else folded,
        Map(OFFSET_KEY -> latest))
    }

    // ck log: APPEND-ONLY — batch-sized commit however large the corpus
    if (fromCk < latest) {
      val t = ckT
      if (!t.exists) t.createEmpty(ckSchema)
      t.append(
        signed(fromCk).groupBy(col("lang"), col("source"), col("ck"))
          .agg(sum(col("sgn")).cast("long").as("cnt"))
          .to(ckSchema),
        Map(OFFSET_KEY -> latest))
    }
    foldBounded(tokT, fromTok,
      signed(fromTok).groupBy(col("lang"), col("source"), col("tok"))
        .agg(sum(col("sgn")).cast("long").as("cnt")),
      Seq("lang", "source", "tok"), Seq("cnt"), dropZero = true)
    // canonical offset commits LAST: replays after a crash re-apply only
    // the windows the other tables already guarded against
    foldBounded(aggT, fromAgg,
      signed(fromAgg).groupBy(col("lang"), col("source")).agg(
        sum(col("sgn")).cast("long").as("n_docs"),
        sum(col("sgn") * col("tok")).cast("long").as("sum_tokens"),
        sum(col("sgn") * col("chars")).cast("long").as("sum_chars"),
        sum(col("sgn") * col("lid_match")).cast("long").as("n_langid_match")),
      Seq("lang", "source"),
      Seq("n_docs", "sum_tokens", "sum_chars", "n_langid_match"),
      dropZero = false)
    latest - fromAgg
  }

  /** Fold the ck signed log in place (net rows with cnt > 0 only),
    * preserving the consumed-version offset — run when the dead fraction
    * grows (the OPTIMIZE of this state).
    */
  def compactCk(): Unit = {
    val t = ckT
    if (!t.exists) return
    val off = t.offsets.getOrElse(OFFSET_KEY, 0L)
    val net = t.read.groupBy(col("lang"), col("source"), col("ck"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))
      .filter(col("cnt") > 0L)
    t.overwrite(net.to(ckSchema), Map(OFFSET_KEY -> off))
  }

  /** The datasheet, read from state only — IDENTICAL schema and values to
    * [[DataCard.summarize]] over the net corpus. The interpolated median
    * comes from the two order statistics at positions
    * floor/ceil((n−1)/2)+1 of the cumulative histogram — exactly ANSI
    * `percentile(tok, 0.5)` / `quantile_cont(tok, 0.5)`.
    */
  def card: DataFrame = {
    val uniq = ckT.read
      .groupBy(col("lang"), col("source"), col("ck"))
      .agg(sum(col("cnt")).as("_c")).filter(col("_c") > 0L)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_unique"))
    val w = Window.partitionBy(col("lang"), col("source")).orderBy(col("tok"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("lang"), col("source"))
    val cum = tokT.read
      .withColumn("_cum", sum(col("cnt")).over(w))
      .withColumn("_n", sum(col("cnt")).over(wAll))
      .withColumn("_k1", floor((col("_n") - 1) / 2) + 1)
      .withColumn("_k2", ceil((col("_n") - 1) / 2) + 1)
    val tokStats = cum.groupBy(col("lang"), col("source")).agg(
      min(col("tok")).as("min_tok"),
      ((min(when(col("_cum") >= col("_k1"), col("tok"))) +
        min(when(col("_cum") >= col("_k2"), col("tok")))) / 2.0)
        .as("p50_tok"),
      max(col("tok")).as("max_tok"))
    aggT.read
      .join(uniq, Seq("lang", "source"))
      .join(tokStats, Seq("lang", "source"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_unique"),
        col("sum_tokens"), col("sum_chars"), col("n_langid_match"),
        col("min_tok"), col("p50_tok"), col("max_tok"))
  }
}

object IncrementalDataCard {
  def apply(spark: SparkSession, source: VersionedTable, stateRoot: String,
            textCol: String, langCol: String, sourceCol: String)
      : IncrementalDataCard =
    new IncrementalDataCard(spark, source, stateRoot, textCol, langCol,
      sourceCol)
}
