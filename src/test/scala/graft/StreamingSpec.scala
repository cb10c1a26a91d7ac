package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import graft.co2.Co2Pipeline
import graft.streaming.Streaming

/** Structured-Streaming operators: watermarked windows, keyed custom state,
  * and the AvailableNow change-log harmonize path.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("windowedStats: tumbling event-time windows with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "key", "value")
    val out = Streaming.windowedStats(df, "ts", "key", "value", "1 hour", "2 hours")
    val q = out.writeStream.format("memory").queryName("wstats")
      .outputMode(OutputMode.Append).start()
    in.addData(
      (ts("2026-01-01 10:05:00"), "a", 1.0),
      (ts("2026-01-01 10:55:00"), "a", 3.0),
      (ts("2026-01-01 11:05:00"), "a", 5.0),
      (ts("2026-01-01 10:30:00"), "b", 7.0))
    q.processAllAvailable()
    // advance watermark far enough to close the 10:00 and 11:00 windows
    in.addData((ts("2026-01-01 23:00:00"), "a", 0.0))
    q.processAllAvailable()
    val rows = spark.table("wstats").collect()
    q.stop()
    val a10 = rows.find(r => r.getString(1) == "a"
      && r.getTimestamp(0) == ts("2026-01-01 10:00:00")).get
    assert(a10.getLong(2) == 2 && a10.getDouble(3) == 2.0)
    val b10 = rows.find(r => r.getString(1) == "b").get
    assert(b10.getLong(2) == 1 && b10.getDouble(5) == 7.0)
  }

  test("sessionStats: gap-merged event-time sessions close at the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "key", "value")
    val out = Streaming.sessionStats(df, "ts", "key", "value",
      gap = "30 minutes", watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("sessstats")
      .outputMode(OutputMode.Append).start()
    in.addData(
      (ts("2026-01-01 10:00:00"), "a", 1.0), // session 1: 10:00, 10:20
      (ts("2026-01-01 10:20:00"), "a", 2.0),
      (ts("2026-01-01 11:30:00"), "a", 5.0), // gap > 30m: session 2
      (ts("2026-01-01 10:05:00"), "b", 7.0))
    q.processAllAvailable()
    in.addData((ts("2026-01-02 10:00:00"), "a", 0.0)) // advance watermark
    q.processAllAvailable()
    val rows = spark.table("sessstats").collect()
    q.stop()
    val aSessions = rows.filter(_.getString(2) == "a")
      .map(r => (r.getTimestamp(0), r.getTimestamp(1),
        r.getLong(3), r.getDouble(4))).toSet
    // session 1 spans 10:00..10:50 (last event + gap), n=2, sum=3
    assert(aSessions.contains(
      (ts("2026-01-01 10:00:00"), ts("2026-01-01 10:50:00"), 2L, 3.0)))
    // session 2 is the lone 11:30 event
    assert(aSessions.contains(
      (ts("2026-01-01 11:30:00"), ts("2026-01-01 12:00:00"), 1L, 5.0)))
    val b = rows.find(_.getString(2) == "b").get
    assert(b.getLong(3) == 1 && b.getDouble(4) == 7.0)
  }

  test("runningStats: mapGroupsWithState accumulates across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streaming.KeyedEvent]
    val out = Streaming.runningStats(in.toDS())
    val q = out.writeStream.format("memory").queryName("rstats")
      .outputMode(OutputMode.Update).start()
    in.addData(Streaming.KeyedEvent("x", 1.0), Streaming.KeyedEvent("x", 2.0))
    q.processAllAvailable()
    in.addData(Streaming.KeyedEvent("x", 4.0), Streaming.KeyedEvent("y", 10.0))
    q.processAllAvailable()
    val rows = spark.table("rstats").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    q.stop()
    // latest state for x: n=3 sum=7 (state carried across batches)
    assert(rows.contains(("x", 3L, 7.0)))
    assert(rows.contains(("y", 1L, 10.0)))
  }

  test("anomalyStream: spike flagged against running history, state" +
      " carries across batches, quiet keys emit nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streaming.ScoredEvent]
    val out = Streaming.anomalyStream(in.toDS(), k = 3.0, minN = 10)
    val q = out.writeStream.format("memory").queryName("anoms")
      .outputMode(OutputMode.Append).start()
    // batch 1: 12 quiet points alternating 99/101 — builds history, no alerts
    in.addData((1 to 12).map(i =>
      Streaming.ScoredEvent("x", if (i % 2 == 0) 99L else 101L)): _*)
    q.processAllAvailable()
    assert(spark.table("anoms").count() == 0L)
    // batch 2: a 200 spike on x (history carried over), quiet y (no history)
    in.addData(Streaming.ScoredEvent("x", 200L),
      Streaming.ScoredEvent("y", 500L))
    q.processAllAvailable()
    val rows = spark.table("anoms").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    q.stop()
    assert(rows.length == 1)
    val (key, v, z, nh) = rows.head
    assert(key == "x" && v == 200L && nh == 12L && z > 50.0)
    // exact-integer state: z is the same fixed expression as the batch
    // operator's — spot-check against the closed form
    val (n, s, ss) = (12d, 12d * 100d, 6 * (99d * 99d) + 6 * (101d * 101d))
    val expected = (200d - s / n) /
      math.sqrt((n * ss - s * s) / (n * (n - 1d)))
    assert(math.abs(z - expected) < 1e-12)
  }

  test("anomalyStream: constant history never divides by zero") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streaming.ScoredEvent]
    val out = Streaming.anomalyStream(in.toDS(), k = 1.0, minN = 3)
    val q = out.writeStream.format("memory").queryName("anoms_const")
      .outputMode(OutputMode.Append).start()
    in.addData((1 to 8).map(_ => Streaming.ScoredEvent("c", 7L)): _*)
    q.processAllAvailable()
    in.addData(Streaming.ScoredEvent("c", 9L)) // varN = 0 -> unscored
    q.processAllAvailable()
    val n = spark.table("anoms_const").count()
    q.stop()
    assert(n == 0L)
  }

  test("sessionize: gap-closed and timeout-closed sessions via flatMapGroupsWithState") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streaming.SessionEvent]
    val out = Streaming.sessionize(in.toDS(), gapMs = 3600000L, watermark = "30 minutes")
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    // user a: two events 10 min apart (one session), then a 2h gap (next
    // session) — arrival of the later event closes the first session
    in.addData(
      Streaming.SessionEvent("a", ts("2026-01-01 10:00:00")),
      Streaming.SessionEvent("a", ts("2026-01-01 10:10:00")),
      Streaming.SessionEvent("b", ts("2026-01-01 10:00:00")))
    q.processAllAvailable()
    in.addData(Streaming.SessionEvent("a", ts("2026-01-01 12:30:00")))
    q.processAllAvailable()
    // push the watermark far past everyone's gap horizon → timeouts fire
    in.addData(Streaming.SessionEvent("z", ts("2026-01-02 10:00:00")))
    q.processAllAvailable()
    in.addData(Streaming.SessionEvent("z", ts("2026-01-03 10:00:00")))
    q.processAllAvailable()
    val rows = spark.table("sessions").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    q.stop()
    // a's first session: 10:00–10:10, 2 events (closed by the next session)
    assert(rows.contains(("a", ts("2026-01-01 10:00:00"), ts("2026-01-01 10:10:00"), 2L)))
    // no session may END before it STARTS, and counts are positive
    assert(rows.forall { case (_, s, e, n) => !e.before(s) && n >= 1 })
    // a's second and b's only session close by TIMEOUT once the watermark passes
    assert(rows.contains(("a", ts("2026-01-01 12:30:00"), ts("2026-01-01 12:30:00"), 1L)))
    assert(rows.contains(("b", ts("2026-01-01 10:00:00"), ts("2026-01-01 10:00:00"), 1L)))
  }

  test("sessionize: in-watermark out-of-order event extends the session BACKWARD") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streaming.SessionEvent]
    val out = Streaming.sessionize(in.toDS(), gapMs = 3600000L, watermark = "30 minutes")
    val q = out.writeStream.format("memory").queryName("sessions_ooo")
      .outputMode(OutputMode.Append).start()
    in.addData(Streaming.SessionEvent("a", ts("2026-01-01 11:00:00")))
    q.processAllAvailable()
    // late but in-watermark (wm = 10:30) and within gap of the open session
    in.addData(Streaming.SessionEvent("a", ts("2026-01-01 10:45:00")))
    q.processAllAvailable()
    // push the watermark far ahead → timeout closes a's session
    in.addData(Streaming.SessionEvent("z", ts("2026-01-02 12:00:00")))
    q.processAllAvailable()
    in.addData(Streaming.SessionEvent("z", ts("2026-01-03 12:00:00")))
    q.processAllAvailable()
    val rows = spark.table("sessions_ooo").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    q.stop()
    assert(rows.contains(("a", ts("2026-01-01 10:45:00"), ts("2026-01-01 11:00:00"), 2L)),
      rows.mkString("; "))
  }

  test("sessionize: consecutive late islands chain; a bridging event merges them in") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streaming.SessionEvent]
    // 10h watermark so heavily-late events are still processed
    val out = Streaming.sessionize(in.toDS(), gapMs = 3600000L, watermark = "10 hours")
    val q = out.writeStream.format("memory").queryName("sessions_late")
      .outputMode(OutputMode.Append).start()
    // a: open a session at 18:00, then a batch of three late events all
    // >1h before it but within 1h of EACH OTHER → ONE chained island
    // session (batch q33 semantics), not three singletons
    in.addData(Streaming.SessionEvent("a", ts("2026-01-01 18:00:00")))
    q.processAllAvailable()
    in.addData(
      Streaming.SessionEvent("a", ts("2026-01-01 10:00:00")),
      Streaming.SessionEvent("a", ts("2026-01-01 10:20:00")),
      Streaming.SessionEvent("a", ts("2026-01-01 10:40:00")))
    q.processAllAvailable()
    // b: open at 12:00; late batch 10:00, 10:30 plus a BRIDGE at 11:10
    // (within gap of both the island's 10:30 and the session's 12:00) →
    // everything merges into one 10:00–12:00 session, emitted on timeout
    in.addData(Streaming.SessionEvent("b", ts("2026-01-01 12:00:00")))
    q.processAllAvailable()
    in.addData(
      Streaming.SessionEvent("b", ts("2026-01-01 10:00:00")),
      Streaming.SessionEvent("b", ts("2026-01-01 10:30:00")),
      Streaming.SessionEvent("b", ts("2026-01-01 11:10:00")))
    q.processAllAvailable()
    // advance the watermark far ahead so open sessions time out
    in.addData(Streaming.SessionEvent("z", ts("2026-01-03 12:00:00")))
    q.processAllAvailable()
    in.addData(Streaming.SessionEvent("z", ts("2026-01-05 12:00:00")))
    q.processAllAvailable()
    val rows = spark.table("sessions_late").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    q.stop()
    assert(rows.contains(("a", ts("2026-01-01 10:00:00"), ts("2026-01-01 10:40:00"), 3L)),
      rows.mkString("; "))
    assert(rows.contains(("a", ts("2026-01-01 18:00:00"), ts("2026-01-01 18:00:00"), 1L)))
    assert(rows.contains(("b", ts("2026-01-01 10:00:00"), ts("2026-01-01 12:00:00"), 4L)),
      rows.mkString("; "))
    // no singleton fragments leaked from a's island
    assert(!rows.exists(r => r._1 == "a" && r._4 == 1L &&
      r._2 == ts("2026-01-01 10:00:00")))
  }

  test("intervalJoin: stream-stream attribution within the interval only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, String)]
    val clicks = MemoryStream[(Timestamp, String)]
    val out = Streaming.intervalJoin(
      imps.toDF().toDF("imp_ts", "key"), "imp_ts",
      clicks.toDF().toDF("click_ts", "key"), "click_ts",
      "key", "10 minutes", withinMs = 600000L)
      .select(col("l.key"), col("imp_ts"), col("click_ts"))
    val q = out.writeStream.format("memory").queryName("ijoin")
      .outputMode(OutputMode.Append).start()
    imps.addData(
      (ts("2026-01-01 10:00:00"), "a"),
      (ts("2026-01-01 10:00:00"), "b"),
      (ts("2026-01-01 10:00:00"), "c"))
    clicks.addData(
      (ts("2026-01-01 10:05:00"), "a"),  // within 10 min -> joins
      (ts("2026-01-01 10:20:00"), "b"),  // past the interval -> dropped
      (ts("2026-01-01 09:55:00"), "c"))  // click BEFORE impression -> dropped
    q.processAllAvailable()
    // advance both watermarks so results flush in Append mode
    imps.addData((ts("2026-01-01 12:00:00"), "z"))
    clicks.addData((ts("2026-01-01 12:00:00"), "z"))
    q.processAllAvailable()
    val rows = spark.table("ijoin").collect()
    q.stop()
    assert(rows.map(_.getString(0)).count(_ == "a") == 1)
    assert(!rows.map(_.getString(0)).contains("b"))
    assert(!rows.map(_.getString(0)).contains("c"))
  }

  test("enrichJoin: stream-static lookup against a dimension snapshot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("enrich_").toString
    val dim = graft.storage.VersionedTable(spark, s"$root/dim")
    dim.overwrite(Seq(("a", "alpha")).toDF("key", "label"))

    val events = MemoryStream[String]
    val out = Streaming.enrichJoin(events.toDF().toDF("key"), dim.read, "key")
    val q = out.writeStream.format("memory").queryName("enrich")
      .outputMode(OutputMode.Append).start()
    events.addData("a", "x")
    q.processAllAvailable()
    val batch1 = spark.table("enrich").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    // known key enriched; unknown key kept with NULL (left_outer)
    assert(batch1 == Map("a" -> Some("alpha"), "x" -> None))
    q.stop()
  }

  test("enrichEachBatch: a dim commit BETWEEN batches is visible to the next batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("enrichb_").toString
    val dim = graft.storage.VersionedTable(spark, s"$root/dim")
    dim.overwrite(Seq(("a", "alpha")).toDF("key", "label"))

    val seen = scala.collection.mutable.ArrayBuffer[(String, Option[String])]()
    val events = MemoryStream[String]
    val q = Streaming.enrichEachBatch(events.toDF().toDF("key"), dim, "key",
      (batch, _) => seen.synchronized {
        seen ++= batch.collect().map(r => r.getString(0) -> Option(r.getString(1)))
      }).start()
    events.addData("a", "b")
    q.processAllAvailable()
    dim.append(Seq(("b", "beta")).toDF("key", "label")) // commit mid-stream
    events.addData("b")
    q.processAllAvailable()
    q.stop()
    assert(seen.toSet == Set("a" -> Some("alpha"), "b" -> None, "b" -> Some("beta")),
      s"second batch must see the new commit: $seen")
  }

  test("dedupStream drops in-watermark duplicates, keeps distinct keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val out = graft.streaming.Streaming.dedupStream(
      in.toDF().toDF("ts", "doc_key", "value"), "ts", "1 hour", Seq("doc_key"))
    val q = out.writeStream.format("memory").queryName("dedup_s")
      .outputMode(OutputMode.Append).start()
    in.addData(
      (ts("2026-01-01 10:00:00"), "a", 1.0),
      (ts("2026-01-01 10:01:00"), "a", 2.0), // dup key in-watermark
      (ts("2026-01-01 10:02:00"), "b", 3.0))
    q.processAllAvailable()
    in.addData((ts("2026-01-01 10:03:00"), "a", 4.0)) // still dup across batches
    q.processAllAvailable()
    val keys = spark.table("dedup_s").collect().map(_.getString(1)).toSeq
    q.stop()
    assert(keys.sorted == Seq("a", "b"))
  }

  test("nearDedupSink: micro-batches dedup against the persisted index; replay is exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_stream_neardedup").toString
    val sink = graft.storage.VersionedTable(spark, s"$root/sink",
      collectStats = false)
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.Streaming.nearDedupSink(
        in.toDF().toDF("doc_id", "text"), spark, s"$root/idx", sink,
        "text", "doc_id")
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    val base = "the quick brown fox jumps over the lazy dog again and again"
    in.addData((1L, base), (2L, "a totally different document about spark"))
    q.processAllAvailable()
    // batch 2: an exact dup of 1, a near dup of 1, and a fresh doc —
    // all judged against the PERSISTED index, not a watermark window
    in.addData((3L, base), (4L, base + " tail"),
      (5L, "yet another unrelated text about versioned tables"))
    q.processAllAvailable()
    q.stop()
    assert(sink.read.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 5L))

    // crash replay: re-drive batch 1 (same id) directly — the index fold
    // must skip (offset guard) and the sink append must not double-land
    val docsBefore = graft.storage.VersionedTable(spark, s"$root/idx/docs")
      .read.count()
    graft.streaming.Streaming.nearDedupBatch(spark, s"$root/idx", sink,
      "text", "doc_id")(
      Seq((3L, base), (4L, base + " tail"),
        (5L, "yet another unrelated text about versioned tables"))
        .toDF("doc_id", "text"), 1L)
    assert(graft.storage.VersionedTable(spark, s"$root/idx/docs")
      .read.count() == docsBefore, "replayed fold must be skipped")
    assert(sink.read.count() == 3L, "replayed append must be skipped")
  }

  test("quarantineSink: rows route by scalar rules; replay is exactly-once per table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Expectations._
    val root = Files.createTempDirectory("graft_stream_quar").toString
    val clean = graft.storage.VersionedTable(spark, s"$root/clean",
      collectStats = false)
    val dirty = graft.storage.VersionedTable(spark, s"$root/dirty",
      collectStats = false)
    val rules = Seq(NotNull("k"), InRange("v", 0.0, 100.0))
    val in = MemoryStream[(Option[String], Double)]
    val q = graft.streaming.Streaming.quarantineSink(
        in.toDF().toDF("k", "v"), clean, dirty, rules)
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    in.addData((Some("a"), 5.0), (None, 6.0), (Some("c"), 500.0))
    q.processAllAvailable()
    in.addData((Some("d"), 7.0))
    q.processAllAvailable()
    q.stop()
    assert(clean.read.select("k").as[String].collect().sorted.toSeq ==
      Seq("a", "d"))
    val bad = dirty.read.select("k", "violations").collect()
      .map(r => (Option(r.getString(0)), r.getString(1))).toMap
    assert(bad(None) == "not_null:k")
    assert(bad(Some("c")) == "in_range:v")
    // replay batch 0 directly: both appends must skip
    graft.streaming.Streaming.quarantineBatch(clean, dirty, rules)(
      Seq((Some("a"), 5.0), (None, 6.0), (Some("c"), 500.0))
        .toDF("k", "v"), 0L)
    assert(clean.read.count() == 2L && dirty.read.count() == 2L)
    // clean keeps the ORIGINAL schema (no violations column)
    assert(clean.read.columns.toSeq == Seq("k", "v"))
  }

  test("driftGateSink: in-distribution batches land in accept, shifted ones in reject") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_stream_drift").toString
    val accept = graft.storage.VersionedTable(spark, s"$root/accept",
      collectStats = false)
    val reject = graft.storage.VersionedTable(spark, s"$root/reject",
      collectStats = false)
    // baseline: uniform over buckets 0..9 for one group
    val baseline = (0 until 10).flatMap(b => Seq(("a", b.toDouble, 100L)))
      .toDF("g", "_v", "cnt")
    val in = MemoryStream[(String, Double)]
    val q = graft.streaming.Streaming.driftGateSink(
        in.toDF().toDF("g", "v"), accept, reject, baseline, Seq("g"),
        floor(col("v")), maxPsi = 0.25)
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    // batch 0: uniform sample — in distribution
    in.addData((0 until 100).map(i => ("a", (i % 10) + 0.5)): _*)
    q.processAllAvailable()
    // batch 1: everything in one bucket — hard shift
    in.addData((0 until 100).map(_ => ("a", 3.5)): _*)
    q.processAllAvailable()
    q.stop()
    assert(accept.read.count() == 100L)
    assert(reject.read.count() == 100L)
    assert(reject.read.select("v").distinct().count() == 1L)
    // replay the rejected batch: verdict re-derives, nothing double-lands
    graft.streaming.Streaming.driftGateBatch(accept, reject, baseline,
      Seq("g"), floor(col("v")), 0.25)(
      (0 until 100).map(_ => ("a", 3.5)).toDF("g", "v"), 1L)
    assert(accept.read.count() == 100L && reject.read.count() == 100L)
  }

  test("harmonizeAvailableNow: streaming merge from the change log") {
    val root = Files.createTempDirectory("graft_stream_co2").toString
    val p = Co2Pipeline(spark, s"$root/wh")
    val fixture = Files.createTempFile("noaa", ".txt")
    Files.writeString(fixture,
      """# NOAA test fixture
        |2024 1 1 2024.0000 420.11
        |2024 1 2 2024.0027 420.52
        |2024 1 3 2024.0055 421.03
        |""".stripMargin)
    assert(p.load(fixture.toString) == 3)
    val n = Streaming.harmonizeAvailableNow(spark, p, s"$root/ckpt")
    assert(n >= 1)
    assert(p.harmonized.read.count() == 3)
    // idempotent: a second AvailableNow run sees no new files, merges nothing
    val n2 = Streaming.harmonizeAvailableNow(spark, p, s"$root/ckpt")
    assert(n2 == 0)
    assert(p.harmonized.read.count() == 3)
  }

  test("harmonizeAvailableNow keeps harmonized YEAR-partitioned and refreshes _CO2_MINMAX") {
    val root = Files.createTempDirectory("graft_stream_mm").toString
    val p = Co2Pipeline(spark, s"$root/wh")
    val feed = Files.createTempFile("noaa", ".txt")
    val days = Seq(
      "2023 12 30 2023.9945 419.80",
      "2023 12 31 2023.9973 420.02",
      "2024 1 1 2024.0000 420.11")
    Files.writeString(feed, days.mkString("# NOAA\n", "\n", "\n"))
    assert(p.load(feed.toString) == 3)
    assert(p.harmonize().startsWith("Harmonized"))
    // a 4th day with a new maximum reaches harmonized only by streaming
    Files.writeString(feed, (days :+ "2024 1 2 2024.0027 425.50")
      .mkString("# NOAA\n", "\n", "\n"))
    assert(p.load(feed.toString) == 1)
    assert(Streaming.harmonizeAvailableNow(spark, p, s"$root/ckpt") >= 1)

    val parts = p.harmonized.state.get.parts
    assert(parts.forall(_.vals.nonEmpty), parts.map(_.vals))
    val harm = p.harmonized.read.agg(min("CO2_PPM"), max("CO2_PPM")).head
    val mm = p.minMax.read.head
    assert(p.harmonized.read.count() == 4)
    assert((mm.getDouble(0), mm.getDouble(1)) == (harm.getDouble(0), harm.getDouble(1)))
    assert(mm.getDouble(1) == 425.5)
    p.analytics()
    assert(p.dailyStats.read.agg(max("NORMALIZED_CO2")).head.getDouble(0) == 1.0)
  }

  test("exactly-once append sink: batch replays are skipped, batch ids piggyback atomically") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("eo_append").toString
    val t = graft.storage.VersionedTable(spark, root)
    val sink = Streaming.appendBatchExactlyOnce(t, "stream:q1") _
    assert(sink(Seq((1L, "a")).toDF("id", "v"), 0L))
    assert(sink(Seq((2L, "b")).toDF("id", "v"), 1L))
    // crash-replay of batch 1 (at-least-once delivery) must be a no-op
    assert(!sink(Seq((2L, "b")).toDF("id", "v"), 1L))
    assert(!sink(Seq((1L, "a")).toDF("id", "v"), 0L))
    assert(t.read.count() == 2)
    assert(t.offsets("stream:q1") == 1L)
    // a second stream into the same table tracks independently
    assert(Streaming.appendBatchExactlyOnce(t, "stream:q2")(
      Seq((9L, "z")).toDF("id", "v"), 0L))
    assert(t.read.count() == 3)
    assert(t.offsets == Map("stream:q1" -> 1L, "stream:q2" -> 0L))
  }
}
