package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.co2.Co2Pipeline

/** Structured-Streaming surface of the engine. The reference's "streaming"
  * is batch CDC (a Snowflake stream consumed on a daily cron —
  * /root/reference/templates/orchestrate_tasks.sql.j2:28-47); these
  * operators re-express that on Spark's native streaming runtime and add
  * the event-time operators a true stream needs (watermarked windows,
  * custom keyed state), which the reference's engine (Snowflake) provides
  * only through the same task/stream machinery.
  *
  * Scale design: every operator is keyed (partition-parallel state),
  * watermarks bound state size, and the change-log source is the same
  * append-only parquet layout the batch ChangeFeed writes — one storage
  * substrate, two consumption modes.
  */
object Streaming {

  /** Streaming read of a ChangeFeed's append-only parquet log. Checkpoint
    * location (set on the query) replaces the batch offsets table: each
    * micro-batch sees only newly appended files — the stream semantics of
    * SURVEY §1.1 with Spark-managed exactly-once offsets.
    */
  def readChangeLog(spark: SparkSession, logDir: String,
                    schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1000) // bound micro-batch size at scale
      .parquet(logDir)

  /** Watermarked tumbling-window aggregation: per-window count/avg/min/max
    * of `valueCol` grouped by `keyCol`. Late rows beyond the watermark are
    * dropped (bounded state at 100 TB/day rates).
    */
  def windowedStats(events: DataFrame, tsCol: String, keyCol: String,
                    valueCol: String, window: String = "1 hour",
                    watermark: String = "1 day"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(
        org.apache.spark.sql.functions.window(col(tsCol), window).as("win"),
        col(keyCol))
      .agg(
        count(lit(1)).as("n"),
        avg(col(valueCol)).as("avg_value"),
        min(col(valueCol)).as("min_value"),
        max(col(valueCol)).as("max_value"))
      .select(col("win.start").as("window_start"), col(keyCol),
        col("n"), col("avg_value"), col("min_value"), col("max_value"))

  /** Sliding-window variant (windowDuration, slideDuration). */
  def slidingStats(events: DataFrame, tsCol: String, keyCol: String,
                   valueCol: String, windowDuration: String,
                   slideDuration: String, watermark: String = "1 day"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(
        org.apache.spark.sql.functions.window(col(tsCol), windowDuration, slideDuration).as("win"),
        col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"))
      .select(col("win.start").as("window_start"), col(keyCol),
        col("n"), col("sum_value"))

  /** Event-time SESSION windows via the built-in `session_window`
    * aggregation: per key, events within `gap` of each other merge into
    * one session row (start, end, n, sum) — the watermark bounds state,
    * so an idle key's session closes and is emitted exactly once. This
    * is the streaming twin of [[graft.operators.Sessions]]' batch
    * sessionization (same gap semantics) and the dynamic-gap answer the
    * fixed tumbling window of [[windowedStats]] cannot give.
    */
  def sessionStats(events: DataFrame, tsCol: String, keyCol: String,
                   valueCol: String, gap: String = "30 minutes",
                   watermark: String = "1 day"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(
        org.apache.spark.sql.functions.session_window(col(tsCol), gap)
          .as("win"),
        col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"))
      .select(col("win.start").as("session_start"),
        col("win.end").as("session_end"), col(keyCol),
        col("n"), col("sum_value"))

  /** Keyed running state: per-key count / sum / last value, updated per
    * micro-batch via mapGroupsWithState — the custom-state primitive for
    * anything the built-in aggs can't express (the streaming analogue of
    * the reference's incremental MERGE accumulation).
    */
  case class KeyedEvent(key: String, value: Double)
  case class RunningStats(key: String, n: Long, sum: Double, last: Double)

  def runningStats(events: Dataset[KeyedEvent]): Dataset[RunningStats] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .mapGroupsWithState[RunningStats, RunningStats](GroupStateTimeout.NoTimeout) {
        (key, rows, state: GroupState[RunningStats]) =>
          val prev = state.getOption.getOrElse(RunningStats(key, 0L, 0.0, 0.0))
          val next = rows.foldLeft(prev) { (acc, e) =>
            RunningStats(key, acc.n + 1, acc.sum + e.value, e.value)
          }
          state.update(next)
          next
      }
  }

  /** Streaming anomaly screen — the continuous twin of the batch
    * [[graft.operators.Timeseries.rollingZscore]]: each arriving value
    * is scored against its key's RUNNING history (count / Σv / Σv² —
    * O(1) exact integer state per key) BEFORE being folded in
    * (self-exclusion, same contract as the batch operator), and only
    * rows beyond `|z| > k` with at least `minN` history are emitted —
    * the alerting-sink shape (emit nothing in the steady state).
    *
    * Values are pre-scaled longs (the [[graft.operators.Stats]]
    * contract), so state never drifts: the z for a given (history,
    * value) is one fixed double expression over exact integers, and a
    * replay from the same offsets reproduces identical alerts. Within a
    * micro-batch, values of one key fold in iterator order — feed
    * per-key-ordered batches when strict cross-run ordering matters
    * (the usual structured-streaming contract).
    *
    * Scale shape: state is 3 longs per key (unbounded-history baseline,
    * not a buffer); parallelism is the key domain; no timeout needed —
    * a silent key just keeps its baseline.
    */
  case class ScoredEvent(key: String, value: Long)
  /** public: the state encoder's generated code instantiates it */
  case class AnomalyState(n: Long, sum: Long, sumsq: Long)
  case class Anomaly(key: String, value: Long, z: Double, n_history: Long)

  def anomalyStream(events: Dataset[ScoredEvent], k: Double,
                    minN: Int = 30): Dataset[Anomaly] = {
    require(k > 0 && minN >= 2, "need k > 0 and minN >= 2")
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[AnomalyState, Anomaly](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, rows, state: GroupState[AnomalyState]) =>
          var st = state.getOption.getOrElse(AnomalyState(0L, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[Anomaly]
          rows.foreach { e =>
            if (st.n >= minN) {
              val nD = st.n.toDouble
              val varN = nD * st.sumsq.toDouble -
                st.sum.toDouble * st.sum.toDouble
              if (varN > 0d) {
                val z = (e.value.toDouble - st.sum.toDouble / nD) /
                  math.sqrt(varN / (nD * (nD - 1d)))
                if (math.abs(z) > k) out += Anomaly(key, e.value, z, st.n)
              }
            }
            st = AnomalyState(st.n + 1, st.sum + e.value,
              st.sumsq + e.value * e.value)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming sessionization (the continuous twin of the batch q33
    * sessions query): events of a user belong to one session while gaps
    * stay ≤ `gapMs`; a CLOSED session is emitted either when a later
    * event opens the next session or when the event-time watermark passes
    * the session's gap horizon (flatMapGroupsWithState +
    * EventTimeTimeout). State is one small record per ACTIVE user —
    * watermark-bounded, keyed parallel.
    */
  case class SessionEvent(user: String, ts: java.sql.Timestamp)
  /** public: the state encoder's generated code instantiates it */
  case class SessionState(start: Long, last: Long, n: Long)
  case class ClosedSession(user: String, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Long)

  def sessionize(events: Dataset[SessionEvent], gapMs: Long = 3600000L,
                 watermark: String = "1 hour"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    def t(ms: Long) = new java.sql.Timestamp(ms)
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(user, t(s.start), t(s.last), s.n))
          } else {
            val times = rows.map(_.ts.getTime).toSeq.sorted
            var closed = List.empty[ClosedSession]
            var cur = state.getOption
            // Late out-of-order events BEFORE the open session (ts <
            // start - gap) accumulate into a running pre-session "island":
            // consecutive in-gap late events chain into ONE session (batch
            // q33 semantics), and if a bridging event later in this batch
            // connects the island to the open session, the whole island
            // merges into it. Only already-EMITTED history can't re-open —
            // the one remaining (documented) streaming approximation.
            var island: Option[SessionState] = None
            def flushIsland(): Unit = {
              island.foreach(i =>
                closed ::= ClosedSession(user, t(i.start), t(i.last), i.n))
              island = None
            }
            for (ts <- times) cur match {
              case Some(s) if ts > s.last + gapMs =>
                // future gap: close island + current session, open the next
                flushIsland()
                closed ::= ClosedSession(user, t(s.start), t(s.last), s.n)
                cur = Some(SessionState(ts, ts, 1))
              case Some(s) if ts < s.start - gapMs =>
                island match {
                  case Some(i) if ts <= i.last + gapMs =>
                    island = Some(SessionState(i.start, ts, i.n + 1))
                  case _ =>
                    flushIsland()
                    island = Some(SessionState(ts, ts, 1))
                }
              case Some(s) =>
                // within gap of either edge: extend (start can move BACK
                // for in-watermark out-of-order arrivals); an island the
                // event bridges merges in whole
                island match {
                  case Some(i) if ts <= i.last + gapMs =>
                    cur = Some(SessionState(math.min(i.start, s.start),
                      math.max(s.last, ts), s.n + i.n + 1))
                    island = None
                  case _ =>
                    cur = Some(SessionState(math.min(s.start, ts),
                      math.max(s.last, ts), s.n + 1))
                }
              case None =>
                cur = Some(SessionState(ts, ts, 1))
            }
            // an island still more than gap before the open session when
            // the batch ends closes as its own session
            flushIsland()
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.reverse.iterator
          }
      }
  }

  /** Streaming exact dedup: drop rows whose `keyCols` were already seen,
    * with state bounded by the event-time watermark (a late duplicate past
    * the watermark is dropped by the watermark itself). The streaming
    * counterpart of Dedup.exact for continuous ingestion.
    */
  def dedupStream(events: DataFrame, tsCol: String, watermark: String,
                  keyCols: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-static enrichment join: a stream joined to a bounded
    * dimension (the lookup shape — events × customer dims, docs × domain
    * scores). The static side's PLAN is fixed at query start and
    * re-EXECUTED per micro-batch (no streaming state is kept), so a
    * versioned-table `dim` is a frozen snapshot for the query's lifetime
    * — use [[enrichEachBatch]] when the dimension must track new commits
    * while the stream runs.
    */
  def enrichJoin(stream: DataFrame, dim: DataFrame, keyCol: String,
                 joinType: String = "left_outer"): DataFrame =
    stream.join(dim, Seq(keyCol), joinType)

  /** EXACTLY-ONCE APPEND sink for a non-idempotent target: the processed
    * batch id is committed ATOMICALLY with the data through the table's
    * offsets map (the same piggyback contract the batch merge uses for
    * change-feed offsets), so a foreachBatch replay after a crash —
    * Spark's at-least-once delivery — sees the recorded id and skips.
    * MERGE sinks are replay-idempotent by key; this closes the gap for
    * plain appends (fact/event ingestion), where a replay would
    * double-land rows.
    *
    * `streamId` names the (query, sink) pair — one table can absorb
    * several independent streams, each tracked under its own key.
    * Concurrent micro-batches from different streams race on the commit
    * claim; the loser retries against the refreshed state (bounded),
    * re-checking its own offset each attempt.
    *
    * CHECKPOINT CONTRACT (same hazard as Delta's txnAppId/txnVersion):
    * batch ids are meaningful only relative to ONE checkpoint location.
    * Deleting the checkpoint or pointing the query at a new one restarts
    * ids at 0, and this sink would silently skip real data until the
    * old high-water mark is passed. When resetting a checkpoint, also
    * call [[resetStreamOffset]] (or use a fresh streamId).
    */
  def appendBatchExactlyOnce(table: graft.storage.VersionedTable,
                             streamId: String, maxRetries: Int = 20)
                            (batch: DataFrame, batchId: Long): Boolean = {
    var attempt = 0
    while (true) {
      try {
        // the offset guard is evaluated against the snapshot the commit
        // CLAIMS against (not a separate read) — a replayed batch racing
        // a successful first attempt cannot double-land
        return table.appendExactlyOnce(batch, streamId, batchId)
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          Thread.sleep(50L * attempt)
      }
    }
    false // unreachable
  }

  /** Forget a stream's high-water mark (metadata-only commit) — REQUIRED
    * after resetting the stream's checkpoint location, whose batch ids
    * restart at 0 (see [[appendBatchExactlyOnce]]).
    */
  def resetStreamOffset(table: graft.storage.VersionedTable,
                        streamId: String): Long =
    table.commitOffsets(Map(streamId -> -1L))

  /** [[appendBatchExactlyOnce]] wired as a streaming writer. */
  def appendSink(stream: DataFrame, table: graft.storage.VersionedTable,
                 streamId: String)
    : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      appendBatchExactlyOnce(table, streamId)(batch, id)
      ()
    }

  /** Enrichment against a LIVE versioned dimension: each micro-batch
    * re-reads the table's CURRENT committed state (a fresh plan per
    * batch — the only way a fixed streaming plan can see new commits)
    * and hands the joined batch to `sink`. Snapshot isolation per batch
    * comes free from the commit log: a dim commit mid-batch changes
    * nothing already planned.
    */
  def enrichEachBatch(stream: DataFrame, dim: graft.storage.VersionedTable,
                      keyCol: String, sink: (DataFrame, Long) => Unit,
                      joinType: String = "left_outer")
    : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      sink(batch.join(dim.read, Seq(keyCol), joinType), id)
    }

  /** Stream-stream interval join (the attribution shape: left events
    * joined to right events that occurred within `[0, withinMs]` AFTER
    * them, e.g. impressions → clicks). Both sides carry event-time
    * watermarks, and the join condition bounds right's time relative to
    * left's — the two things Spark needs to know when buffered state on
    * EITHER side can be dropped, keeping state watermark-bounded forever.
    * At 100 TB/day both sides hash-exchange on the key; state per
    * executor is (key-partition slice × interval), not the stream history.
    *
    * Column contract: both inputs must expose `keyCol`; time columns are
    * named per side and must be TimestampType.
    */
  def intervalJoin(left: DataFrame, leftTs: String, right: DataFrame,
                   rightTs: String, keyCol: String, watermark: String,
                   withinMs: Long): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $withinMs MILLISECONDS"))
  }

  /** One micro-batch of the streaming NEAR-DUP dedup sink — exposed so a
    * crash-replay (same batchId twice, Spark's at-least-once contract)
    * can be driven deterministically in tests.
    *
    * Exactly-once across TWO tables without a cross-table transaction:
    *  - the INDEX fold is guarded by a batch-id offset riding the SAME
    *    commit as the fold ([[graft.operators.IncrementalDedup.addBatch]]
    *    extraOffsets) — a replayed batch sees its id already applied and
    *    skips (addBatch is NOT idempotent, so this guard is load-bearing);
    *  - the SINK append derives survivors FROM INDEX STATE (batch ids
    *    whose terminal `rep_id` equals their own id) rather than from the
    *    addBatch return value, so the derivation is a pure function of
    *    (index, batch) and replay-stable even when the fold was skipped;
    *    the append itself is guarded by [[appendBatchExactlyOnce]].
    *  A crash BETWEEN the two commits replays into: fold skipped,
    *  survivors re-derived identically, sink append lands once.
    */
  def nearDedupBatch(spark: SparkSession, indexRoot: String,
                     sink: graft.storage.VersionedTable, textCol: String,
                     idCol: String, threshold: Double = 0.7)
                    (batch: DataFrame, batchId: Long): Unit = {
    val BATCH_KEY = "stream.dedup.batch_id"
    val idx = new graft.operators.IncrementalDedup(spark, indexRoot,
      threshold = threshold)
    if (batchId > idx.appliedOffset(BATCH_KEY))
      idx.addBatch(batch, textCol, idCol, Map(BATCH_KEY -> batchId))
    val sids = idx.indexedDocs.filter(col("rep_id") === col("id"))
      .select(col("id").as("__sid"))
    val surv = batch.join(sids,
      batch(idCol).cast("long") === col("__sid"), "left_semi")
    appendBatchExactlyOnce(sink, "near_dedup")(surv, batchId)
    ()
  }

  /** Streaming near-duplicate dedup: each micro-batch is deduped against
    * the PERSISTED MinHash signature index (everything that ever arrived,
    * not just the watermark window — the accumulated-corpus semantics
    * [[dedupStream]]'s exact watermark-bounded tier cannot give), and the
    * survivors land in a versioned sink table. Composition of
    * [[graft.operators.IncrementalDedup]] (X46) with the foreachBatch
    * exactly-once envelope; state is signatures only (a few hundred
    * bytes/doc), so the index outlives any watermark horizon.
    */
  def nearDedupSink(stream: DataFrame, spark: SparkSession, indexRoot: String,
                    sink: graft.storage.VersionedTable, textCol: String,
                    idCol: String, threshold: Double = 0.7)
    : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch(
      nearDedupBatch(spark, indexRoot, sink, textCol, idCol, threshold) _)

  /** One micro-batch of the quarantine sink — exposed for deterministic
    * replay tests. Row-local routing ([[graft.operators.Expectations
    * .partition]]) makes the split a pure function of the batch, so the
    * two appends need no cross-table transaction: each is independently
    * guarded by [[appendBatchExactlyOnce]] under its own streamId, and a
    * crash between them replays into one skip + one landing.
    */
  def quarantineBatch(clean: graft.storage.VersionedTable,
                      dirty: graft.storage.VersionedTable,
                      rules: Seq[graft.operators.Expectations.Rule])
                     (batch: DataFrame, batchId: Long): Unit = {
    val (ok, bad) = graft.operators.Expectations.partition(batch, rules)
    appendBatchExactlyOnce(clean, "quarantine.clean")(ok, batchId)
    appendBatchExactlyOnce(dirty, "quarantine.dirty")(bad, batchId)
    ()
  }

  /** Data-quality quarantine sink (dead-letter queue): each micro-batch
    * splits on the scalar expectation rules — clean rows append to
    * `clean`, violating rows (with their `violations` labels) to `dirty`
    * — both exactly-once. The streaming face of the X52 expectation
    * audit: the gate runs as one codegen'd projection per batch, no
    * shuffle, no state.
    */
  def quarantineSink(stream: DataFrame, clean: graft.storage.VersionedTable,
                     dirty: graft.storage.VersionedTable,
                     rules: Seq[graft.operators.Expectations.Rule])
    : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch(quarantineBatch(clean, dirty, rules) _)

  /** One micro-batch of the drift-gated sink — exposed for deterministic
    * replay/rejection tests. The BATCH-level acceptance counterpart of
    * [[quarantineBatch]]'s row-level routing: the whole batch is accepted
    * or quarantined on its distribution, not its individual rows.
    */
  def driftGateBatch(accept: graft.storage.VersionedTable,
                     reject: graft.storage.VersionedTable,
                     baseline: DataFrame, groupCols: Seq[String],
                     valueExpr: Column, maxPsi: Double)
                    (batch: DataFrame, batchId: Long): Unit = {
    val cur = graft.operators.DriftMonitor
      .histogram(batch, groupCols, valueExpr)
    // worst drifting group decides: one state-sized aggregate
    val worst = graft.operators.DriftMonitor
      .psi(baseline, cur, groupCols)
      .agg(max(col("psi"))).head
    val drifted = !worst.isNullAt(0) && worst.getDouble(0) > maxPsi
    val dest = if (drifted) reject else accept
    appendBatchExactlyOnce(dest,
      if (drifted) "drift_gate.reject" else "drift_gate.accept")(
      batch, batchId)
    ()
  }

  /** Distribution-drift acceptance gate: each micro-batch's value
    * histogram is compared against a BASELINE histogram (the
    * [[graft.operators.IncrementalQuantiles]] state shape — typically a
    * maintained table) and the batch lands WHOLE in `accept` or `reject`
    * depending on whether any group's PSI exceeds `maxPsi` — the
    * batch-level acceptance pattern for feeds where a shifted
    * distribution means an upstream breakage (schema drift, unit change,
    * partial outage) and individual rows are fine but the BATCH is not.
    * The PSI check reads the baseline state and a batch-sized histogram —
    * never a corpus. Replay-safe: the verdict is a pure function of
    * (baseline, batch), and each destination has its own exactly-once
    * guard.
    */
  def driftGateSink(stream: DataFrame,
                    accept: graft.storage.VersionedTable,
                    reject: graft.storage.VersionedTable,
                    baseline: DataFrame, groupCols: Seq[String],
                    valueExpr: Column, maxPsi: Double)
    : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch(
      driftGateBatch(accept, reject, baseline, groupCols, valueExpr,
        maxPsi) _)

  /** Streaming harmonize: consume a Co2Pipeline's change-log directory with
    * Trigger.AvailableNow and upsert each micro-batch through the batch
    * path's [[Co2Pipeline.mergeHarmonized]] (foreachBatch = the exactly-once
    * sink pattern for non-idempotent writes); the checkpoint, not a
    * committed offset, records progress. Blocks until drained. Returns
    * micro-batches processed.
    */
  def harmonizeAvailableNow(spark: SparkSession, pipeline: Co2Pipeline,
                            checkpointDir: String): Long = {
    // the commit-log part dirs are v_00000001/… — glob them as the source
    val logDir = pipeline.feed.log.root + "/v_*"
    val schema = pipeline.feed.log.read.schema
    var batches = 0L
    val q = readChangeLog(spark, logDir, schema)
      .filter(col(graft.changefeed.ChangeFeed.ACTION) === "INSERT")
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          pipeline.mergeHarmonized(batch, Map.empty)
          batches += 1
        }
        ()
      }
      .start()
    q.awaitTermination()
    batches
  }
}
