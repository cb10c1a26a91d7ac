package graft.changefeed

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.storage.VersionedTable

/** Spark-native emulation of a table change stream (CDC feed with a
  * consumption offset), modeled after the reference's
  * `CREATE STREAM CO2_DATA_STREAM ON TABLE CO2_DATA`
  * (/root/reference/scripts/raw data loading and stream creation/
  * 02_create_rawco2data_stream.py:50-76).
  *
  * Design: an append-only change log table. Every producer batch lands with
  * a monotonically increasing `_BATCH_ID` plus the stream pseudo-columns
  * (`METADATA\$ACTION`, `METADATA\$ISUPDATE`, `METADATA\$ROW_ID`). A consumer
  * reads `pending(consumer)` = rows with `_BATCH_ID` greater than its last
  * committed offset; committing the offset happens atomically inside the
  * consuming table's commit (see [[graft.operators.MergeInto]]), which is
  * the reference's offset-advances-on-DML-consume contract
  * (co2_harmonized_sp/function.py:119-153).
  *
  * At 100 TB: each publish appends one unpartitioned part whose zone map
  * bounds its `_BATCH_ID`, so pending()'s range filter on `_BATCH_ID`
  * skips every consumed part without opening it
  * ([[graft.storage.VersionedTable.SkipParts]]), and nothing is ever
  * rewritten — appends only.
  */
final class ChangeFeed(spark: SparkSession, val name: String, root: String) {

  val log = VersionedTable(spark, root)

  import ChangeFeed._

  def lastBatchId: Long = log.state.fold(0L)(lastBatchIn)

  /** The last batch id published as of the log state `s`. */
  def lastBatchIn(s: VersionedTable.State): Long = s.offsets.getOrElse(PRODUCER_KEY, 0L)

  /** Highest batch id containing a non-INSERT (DELETE / update) row —
    * O(1) off the commit offsets. 0 when the log is pure appends.
    */
  def lastMutationBatchId: Long = log.offsets.getOrElse(MUTATION_KEY, 0L)

  /** Data column names may not collide with the stream's metadata columns
    * or the internal helper columns `pending()`'s netting aggregate uses —
    * a silent collision would surface later as an ambiguous-column
    * AnalysisException on the first mixed-window read, far from its cause.
    */
  private def assertPublishable(df: DataFrame): Unit = {
    val clash = df.columns.filter(c =>
      reservedColumns.exists(r => r.equalsIgnoreCase(c)))
    require(clash.isEmpty,
      s"stream $name: column(s) ${clash.mkString(", ")} are reserved " +
        s"(metadata/internal: ${reservedColumns.mkString(", ")}); rename before publishing")
  }

  /** Stamp a batch with the stream pseudo-columns.
    *
    * The ROW_ID is an opaque 128-bit row id straight off the columns —
    * codegen'd hashes, no JSON serialization in the ingest hot path.
    * xxhash64 SKIPS null inputs (the accumulator is unchanged), so
    * per-column null flags are interleaved to keep null POSITIONS
    * distinguishing. The two 64-bit halves hash the SAME column list under
    * two distinct literal seed prefixes — independently-seeded streams, not
    * the correlated forward/reversed trick (reversal preserves pairwise
    * structure, so adversarial inputs could collide both halves together).
    */
  private def stamp(df: DataFrame, action: String, isUpdate: Boolean,
                    batchId: Long): DataFrame = {
    val cols = df.columns.toSeq.map(col)
    val flags = df.columns.toSeq.map(c => isnull(col(c)).cast("int"))
    val interleaved = cols.zip(flags).flatMap { case (c, f) => Seq(c, f) }
    def half(seed: String) = lpad(lower(hex(xxhash64(lit(seed) +: interleaved: _*))), 16, "0")
    df.withColumn(ACTION, lit(action))
      .withColumn(IS_UPDATE, lit(isUpdate))
      .withColumn(ROW_ID, concat(half("graft_rowid_h1"), half("graft_rowid_h2")))
      // a reference, not a literal: each batch reuses the compiled write
      .withColumn(BATCH_ID, graft.plans.expressions.runValue(batchId))
  }

  /** Producer side: record a batch of changes. Returns the batch id. */
  def publish(df: DataFrame, action: String = "INSERT",
              isUpdate: Boolean = false): Long = {
    assertPublishable(df)
    val batchId = lastBatchId + 1
    val offs = Map(PRODUCER_KEY -> batchId) ++
      (if (action != "INSERT") Map(MUTATION_KEY -> batchId) else Map.empty)
    log.append(stamp(df, action, isUpdate, batchId), offs)
    batchId
  }

  /** Publish an UPDATE as Snowflake's standard stream records it: the OLD
    * row images as DELETE and the NEW images as INSERT, both with
    * `METADATA\$ISUPDATE = true` (02_create_rawco2data_stream.py:50-56).
    * Both images land in ONE commit under ONE batch id, so a consumer
    * offset can never fall between them and split a logical update across
    * two windows — Snowflake records the pair atomically, and so does this
    * feed. Replay consumers order `(BATCH_ID, METADATA\$ACTION)`; DELETE
    * sorts before INSERT, preserving delete-before-insert replay.
    */
  def publishUpdate(oldRows: DataFrame, newRows: DataFrame): Long = {
    assertPublishable(oldRows)
    assertPublishable(newRows)
    val batchId = lastBatchId + 1
    val both = stamp(oldRows, "DELETE", isUpdate = true, batchId)
      .unionByName(stamp(newRows, "INSERT", isUpdate = true, batchId))
    log.append(both, Map(PRODUCER_KEY -> batchId, MUTATION_KEY -> batchId))
    batchId
  }

  /** Unconsumed NET changes for a consumer identified by its committed
    * offset — Snowflake STANDARD stream semantics
    * (02_create_rawco2data_stream.py:50-76): the stream returns the net
    * effect of every change between the consumed offset and now, so a row
    * inserted and then deleted inside one window vanishes, and an update
    * surfaces as its surviving DELETE+INSERT pair with
    * `METADATA\$ISUPDATE = true`.
    *
    * Netting is multiset arithmetic per `METADATA\$ROW_ID` (a 128-bit
    * content hash, so equal ids ⇔ equal row values): with i INSERTs and
    * d DELETEs for one id in the window, the stream emits max(i-d, 0)
    * INSERT rows or max(d-i, 0) DELETE rows, stamped with that side's
    * latest batch id and published ISUPDATE flag. Values are exact.
    * Known flag-only approximation (documented, Snowflake demotes it):
    * a row inserted and then UPDATED inside one window nets to a single
    * INSERT of the new values — Snowflake reports that row with
    * ISUPDATE=false, while this feed keeps the published true flag,
    * because pairing old→new images needs a logical row key the log
    * doesn't carry.
    *
    * 100 TB fast path: insert-only windows (the common ingest case — the
    * whole CO2 pipeline) are detected in O(1) from [[lastMutationBatchId]]
    * and return the raw pushed-down range filter with NO netting shuffle —
    * the exact plan of the pre-netting engine. Mixed windows pay exactly
    * ONE scan + ONE hash shuffle on ROW_ID: a row's net is insert-surplus
    * XOR delete-surplus, so both actions emit from a single aggregate
    * branch (a union of per-action branches would scan and shuffle twice).
    *
    * `s` pins the log state read (the latest by default), as a catalog
    * table pinned at load passes it.
    */
  def pending(consumedBatchId: Long,
              s: VersionedTable.State = published): DataFrame = {
    val raw = log.readState(s).filter(col(BATCH_ID) > consumedBatchId)
    if (s.offsets.getOrElse(MUTATION_KEY, 0L) <= consumedBatchId)
      return raw  // pure appends
    val dataCols = raw.columns.filterNot(metaColumns.contains).toSeq
    val ins = col(ACTION) === "INSERT"
    val agg = raw.groupBy(col(ROW_ID)).agg(
      count(when(ins, 1)).as("_nIns"),
      count(when(!ins, 1)).as("_nDel"),
      max(when(ins, struct(col(BATCH_ID).as("b"), col(IS_UPDATE).as("u")))).as("_lastIns"),
      max(when(!ins, struct(col(BATCH_ID).as("b"), col(IS_UPDATE).as("u")))).as("_lastDel"),
      // all rows sharing a ROW_ID carry identical data values (content
      // hash), so any representative works
      first(struct(dataCols.map(col): _*)).as("_vals"))
    val net = abs(col("_nIns") - col("_nDel"))
    val isIns = col("_nIns") > col("_nDel")
    val side = (f: String) =>
      when(isIns, col(s"_lastIns.$f")).otherwise(col(s"_lastDel.$f"))
    agg.filter(net > 0)
      .withColumn("_dup", explode(sequence(lit(1), net.cast("int"))))
      .select(dataCols.map(c => col(s"_vals.`$c`").as(c)) ++ Seq(
        when(isIns, "INSERT").otherwise("DELETE").as(ACTION),
        side("u").as(IS_UPDATE),
        col(ROW_ID),
        side("b").as(BATCH_ID)): _*)
  }

  /** Snowflake APPEND_ONLY stream semantics: raw INSERT rows only, no
    * netting, deletes/updates invisible. Always shuffle-free. `s` as in
    * [[pending]].
    */
  def pendingAppendOnly(consumedBatchId: Long,
                        s: VersionedTable.State = published): DataFrame =
    log.readState(s)
      .filter(col(BATCH_ID) > consumedBatchId && col(ACTION) === "INSERT")

  /** The log parts a [[pending]] read of `s` opens: those whose zone maps
    * may hold a batch after `consumedBatchId`. Metadata-only.
    */
  def pendingParts(consumedBatchId: Long,
                   s: VersionedTable.State = published): Seq[VersionedTable.Part] =
    log.partsWhere(s, col(BATCH_ID) > consumedBatchId)

  /** The log's latest state: one commit-log read for a whole pending read. */
  private def published: VersionedTable.State = log.state.getOrElse(
    throw new IllegalStateException(s"stream $name has no published batches"))

  /** SYSTEM\$STREAM_HAS_DATA equivalent — O(1) metadata check, no scan:
    * one commit-log read ([[lastBatchId]] is 0 before the first publish).
    */
  def hasData(consumedBatchId: Long): Boolean = lastBatchId > consumedBatchId
}

object ChangeFeed {
  val ACTION    = "METADATA$ACTION"
  val IS_UPDATE = "METADATA$ISUPDATE"
  val ROW_ID    = "METADATA$ROW_ID"
  val BATCH_ID  = "_BATCH_ID"
  val PRODUCER_KEY = "_producer"
  val MUTATION_KEY = "_mutation"

  val metaColumns: Seq[String] = Seq(ACTION, IS_UPDATE, ROW_ID, BATCH_ID)

  /** Names `pending()`'s netting aggregate introduces; rejected at publish
    * alongside the metadata columns so a mixed-window read can never hit
    * an ambiguous-column error from a data/helper collision.
    */
  val internalColumns: Seq[String] =
    Seq("_nIns", "_nDel", "_lastIns", "_lastDel", "_vals", "_dup")

  val reservedColumns: Seq[String] = metaColumns ++ internalColumns

  def apply(spark: SparkSession, name: String, root: String): ChangeFeed =
    new ChangeFeed(spark, name, root)
}
