package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.co2.{Co2Pipeline, NoaaIngest}
import java.nio.file.{Files, Path}
import java.time.LocalDate

/** End-to-end behavioral test of the full pipeline on a synthetic NOAA-format
  * fixture (~the reference's data shape: FIXTURES.md §1), including the
  * incremental second run and idempotence — the behavioral replacement for
  * the reference's SQL-string-mock SP tests (SURVEY.md §5).
  */
class Co2PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  /** Synthetic feed: daily rows from `from` until `until` (exclusive),
    * with a deterministic CO2 walk and occasional gaps.
    */
  private def writeFeed(path: Path, from: LocalDate, until: LocalDate): Int = {
    val sb = new StringBuilder
    sb.append("# CO2 data from Mauna Loa Observatory\n# header line\n\n")
    var d = from
    var n = 0
    while (d.isBefore(until)) {
      if (d.getDayOfYear % 31 != 0) { // gaps like the real feed
        val co2 = 350.0 + (d.toEpochDay % 1000) * 0.05 +
          math.sin(d.getDayOfYear / 58.0) * 2.0
        val dd = d.getYear + (d.getDayOfYear - 1) / 365.25
        sb.append(f"${d.getYear} ${d.getMonthValue} ${d.getDayOfMonth} $dd%.3f $co2%.2f\n")
        n += 1
      }
      d = d.plusDays(1)
    }
    Files.writeString(path, sb.toString)
    n
  }

  test("full pipeline: ingest → harmonize → analytics, then incremental run") {
    val dir = Files.createTempDirectory("co2_e2e_")
    val wh = dir.resolve("warehouse").toString
    val feed1 = dir.resolve("feed1.txt")
    val rows1 = writeFeed(feed1, LocalDate.of(2020, 1, 1), LocalDate.of(2021, 1, 1))

    val p = Co2Pipeline(spark, wh)
    val res1 = p.runPipeline(feed1.toString)
    assert(res1.exists(_._2.contains(s"loaded $rows1 rows")))

    // raw layer
    assert(p.raw.read.count() == rows1)
    // harmonized layer: one row per feed row, DATE populated
    val harm = p.harmonized.read
    assert(harm.count() == rows1)
    assert(harm.filter($"DATE".isNull).count() == 0)
    // stream fully consumed
    assert(!p.streamHasData)

    // daily stats: PREV_DAY_CO2 chain is exactly date-ordered lag
    val daily = p.dailyStats.read.orderBy("DATE").collect()
    assert(daily.length == rows1)
    assert(daily.head.isNullAt(daily.head.fieldIndex("PREV_DAY_CO2")))
    val co2s = daily.map(_.getAs[Double]("CO2_PPM"))
    val prevs = daily.tail.map(_.getAs[Double]("PREV_DAY_CO2"))
    assert(prevs.sameElements(co2s.dropRight(1)))
    // normalized in [0,1]
    assert(daily.forall { r =>
      val n = r.getAs[Double]("NORMALIZED_CO2"); n >= 0.0 && n <= 1.0 })

    // weekly stats: Monday buckets, avg between week min and max
    val weekly = p.weeklyStats.read.collect()
    assert(weekly.nonEmpty)
    assert(weekly.forall { r =>
      r.getAs[java.sql.Date]("WEEK_START").toLocalDate.getDayOfWeek ==
        java.time.DayOfWeek.MONDAY })
    assert(weekly.forall { r =>
      val a = r.getAs[Double]("AVG_WEEKLY_CO2")
      a >= r.getAs[Double]("WEEK_START_CO2") - 1e-9 &&
        a <= r.getAs[Double]("WEEK_END_CO2") + 1e-9 })

    // ---- second (incremental) run: +3 months of data ----
    val feed2 = dir.resolve("feed2.txt")
    val rows2 = writeFeed(feed2, LocalDate.of(2020, 1, 1), LocalDate.of(2021, 4, 1))
    val res2 = p.runPipeline(feed2.toString)
    val delta = rows2 - rows1
    assert(res2.exists(_._2.contains(s"loaded $delta rows")), res2.toString)
    assert(p.raw.read.count() == rows2)
    assert(p.harmonized.read.count() == rows2)
    assert(p.dailyStats.read.count() == rows2)

    // lag chain still exact across the incremental boundary
    val daily2 = p.dailyStats.read.orderBy("DATE").collect()
    val co2s2 = daily2.map(_.getAs[Double]("CO2_PPM"))
    val prevs2 = daily2.tail.map(_.getAs[Double]("PREV_DAY_CO2"))
    assert(prevs2.sameElements(co2s2.dropRight(1)))

    // ---- third run with no new data: stream gate short-circuits ----
    val res3 = p.runPipeline(feed2.toString)
    assert(res3.exists(_._2.contains("skipped (stream empty)")), res3.toString)
    assert(p.dailyStats.read.count() == rows2) // unchanged

    // task history recorded all runs, newest first
    val hist = p.taskHistory.collect()
    assert(hist.length == res1.length + res2.length + res3.length)

    // SHOW TASKS parity: the DAG definition (root cron, AFTER chain, gate)
    val defs = p.tasks().collect().map(r => r.getString(0) ->
      (r.getString(1), Option(r.getString(2)))).toMap
    assert(defs("CO2_RAW_DATA_TASK")._1.startsWith("USING CRON"))
    assert(defs("CO2_HARMONIZED_TASK") ==
      ("AFTER CO2_RAW_DATA_TASK",
        Some("SYSTEM$STREAM_HAS_DATA('RAW_CO2.CO2_DATA_STREAM')")))
    assert(defs("CO2_ANALYTICS_TASK")._1 == "AFTER CO2_HARMONIZED_TASK")

    // SQL surface (EP3): stream + tables resolvable from raw SQL
    p.registerViews()
    assert(spark.sql(
      "SELECT count(*) FROM HARMONIZED_CO2_HARMONIZED_CO2").head.getLong(0) == rows2)
    assert(spark.sql(
      "SELECT count(*) FROM CO2_DATA_STREAM WHERE `METADATA$ACTION`='INSERT'")
      .head.getLong(0) == 0) // fully consumed
  }

  test("steady-state one-row days compile almost no generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = Files.createTempDirectory("co2_codegen_")
    val p = Co2Pipeline(spark, dir.resolve("warehouse").toString)
    val feed = dir.resolve("feed.txt")
    val start = LocalDate.of(2015, 1, 1)
    val history = LocalDate.of(2020, 1, 1)
    writeFeed(feed, start, history)
    p.runPipeline(feed.toString)
    // January 1-5: no feed gaps, so each run loads exactly one new row
    val compiles = (1 to 5).map { d =>
      writeFeed(feed, start, history.plusDays(d))
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(p.runPipeline(feed.toString).head._2 == "loaded 1 rows")
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    assert(compiles.drop(2).forall(_ <= 15),
      s"generated-code compiles per day: ${compiles.mkString(", ")}")
  }

  test("analytics awaits the weekly merge before rethrowing a daily failure") {
    val dir = Files.createTempDirectory("co2_analytics_fail_")
    val p = Co2Pipeline(spark, dir.resolve("warehouse").toString)
    val feed = dir.resolve("feed.txt")
    writeFeed(feed, LocalDate.of(2020, 1, 1), LocalDate.of(2021, 1, 1))
    p.runPipeline(feed.toString)
    // a daily table of another shape: the daily merge fails at once
    p.dailyStats.overwrite(Seq(1).toDF("X"))
    val weeklyBefore = p.weeklyStats.state.get.version
    intercept[IllegalArgumentException](p.analytics())
    // the weekly merge had committed by the time analytics threw
    assert(p.weeklyStats.state.get.version == weeklyBefore + 1)
  }

  test("execute_task and runPipeline append to one task history") {
    val dir = Files.createTempDirectory("co2_task_history_")
    val wh = dir.resolve("warehouse").toString
    val p = Co2Pipeline(spark, wh)
    val feed = dir.resolve("feed.txt")
    val start = LocalDate.of(2020, 1, 1)
    writeFeed(feed, start, LocalDate.of(2020, 3, 1))
    p.runPipeline(feed.toString)
    p.registerCatalog("co2th")
    // the CO2 tasks have no SQL body, so the catalog records a failed run
    val manual = spark.sql("CALL co2th.system.execute_task('CO2_RAW_DATA_TASK')")
      .collect().map(r => r.getString(0) -> r.getString(1))
    assert(manual.length == 1 && manual.head._1 == "CO2_RAW_DATA_TASK" &&
      manual.head._2.startsWith("FAILED: task has no SQL body"), manual.toSeq)
    writeFeed(feed, start, LocalDate.of(2020, 3, 2))
    val history = graft.storage.VersionedTable(spark, s"$wh/_TASK_HISTORY")
    val before = history.state.get.version
    assert(p.runPipeline(feed.toString).head == ("CO2_RAW_DATA_TASK" -> "loaded 1 rows"))
    assert(history.state.get.version == before + 1) // one history commit per run

    val hist = spark.sql("CALL co2th.system.task_history()")
    assert(hist.columns.toSeq ==
      Seq("task_name", "state", "scheduled_time", "error_message", "return_value"))
    val rows = hist.collect()
    assert(rows.length == 3 + 1 + 3, rows.toSeq)
    val failed = rows.filter(_.getString(1).startsWith("FAILED"))
    assert(failed.length == 1 && failed.head.getString(3).startsWith("task has no SQL body"))
    // newest first: the one-day run, its stage summaries in RETURN_VALUE
    assert(rows.take(3).map(r => r.getString(0) -> r.getString(1)).toSet == Set(
      "CO2_RAW_DATA_TASK" -> "SUCCEEDED", "CO2_HARMONIZED_TASK" -> "SUCCEEDED",
      "CO2_ANALYTICS_TASK" -> "SUCCEEDED"))
    assert(rows.head.getString(4) != null &&
      rows.exists(r => r.getString(0) == "CO2_RAW_DATA_TASK" && r.getString(4) == "loaded 1 rows"))
  }

  test("registerCatalog redefines the CO2 tasks and keeps the warehouse's other tasks") {
    val dir = Files.createTempDirectory("co2_define_tasks_")
    val p = Co2Pipeline(spark, dir.resolve("warehouse").toString)
    p.registerCatalog("co2dt")
    spark.sql(
      """CALL co2dt.system.create_task(task => 'MINE', schedule => '30 MINUTE',
        |  body => 'SELECT 1', suspend_after_failures => 2)""".stripMargin).collect()
    spark.sql("CALL co2dt.system.alter_task(task => 'MINE', action => 'RESUME')").collect()
    spark.sql("CALL co2dt.system.alter_task(task => 'CO2_ANALYTICS_TASK', action => 'SUSPEND')")
      .collect()
    p.registerCatalog("co2dt")
    val shown = spark.sql("CALL co2dt.system.show_tasks()").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(shown.keySet ==
      Set("CO2_RAW_DATA_TASK", "CO2_HARMONIZED_TASK", "CO2_ANALYTICS_TASK", "MINE"))
    assert(!shown("MINE").getBoolean(3) && shown("MINE").getInt(6) == 2, shown("MINE"))
    // the CO2 tasks are deployed afresh: created, then resumed
    assert(!shown("CO2_ANALYTICS_TASK").getBoolean(3))
    assert(shown("CO2_HARMONIZED_TASK").getString(1) == "AFTER CO2_RAW_DATA_TASK")
  }

  test("a failing stage is a FAILED history row, stops its subtree and rethrows") {
    val dir = Files.createTempDirectory("co2_stage_fail_")
    val p = Co2Pipeline(spark, dir.resolve("warehouse").toString)
    val feed = dir.resolve("feed.txt")
    val start = LocalDate.of(2020, 1, 1)
    writeFeed(feed, start, LocalDate.of(2020, 3, 1))
    p.runPipeline(feed.toString)
    // a harmonized table of another shape: the harmonize merge fails
    p.harmonized.overwrite(Seq(1).toDF("X"))
    writeFeed(feed, start, LocalDate.of(2020, 3, 2))
    val thrown = intercept[Exception](p.runPipeline(feed.toString))
    // the same failure as calling the stage directly, not a wrapper
    val direct = intercept[Exception](p.harmonize())
    def firstLine(e: Throwable) = e.getMessage.linesIterator.next()
    assert(thrown.getClass == direct.getClass && firstLine(thrown) == firstLine(direct))

    val hist = p.taskHistory.collect()
    val newest = hist.head.getTimestamp(2)
    val run = hist.filter(_.getTimestamp(2) == newest).map(r => r.getString(0) -> r).toMap
    assert(run.keySet == Set("CO2_RAW_DATA_TASK", "CO2_HARMONIZED_TASK"), run) // no analytics
    assert(run("CO2_RAW_DATA_TASK").getString(4) == "loaded 1 rows")
    val harm = run("CO2_HARMONIZED_TASK")
    assert(!harm.isNullAt(3) && harm.getString(1) == s"FAILED: ${harm.getString(3)}", harm)
    assert(harm.getString(3) == firstLine(thrown).take(200))
  }

  test("parseText tolerates 6th column, comments, malformed numerics") {
    val f = Files.createTempFile("noaa_", ".txt")
    Files.writeString(f,
      """# comment
        |
        |2025 1 1 2025.000 418.50
        |2025 1 2 2025.003 418.65 0.15
        |2025 1 3 2025.005 nan
        |""".stripMargin)
    val df = NoaaIngest.parseText(spark, f.toString).orderBy("DAY")
    val rows = df.collect()
    assert(rows.length == 3) // 'nan' row kept with null CO2 (pandas coerce)
    assert(rows(1).getAs[Double]("CO2_PPM") == 418.65)
    assert(rows(2).isNullAt(rows(2).fieldIndex("CO2_PPM")))
    val rx = NoaaIngest.parseTextRegex(spark, f.toString)
    assert(rx.count() == 2)
  }

  test("pipeline ingests through the pluggable FeedSource trait (S1)") {
    val dir = Files.createTempDirectory("co2_feed_")
    val feed = dir.resolve("feed.txt")
    writeFeed(feed, LocalDate.of(2024, 1, 1), LocalDate.of(2024, 2, 1))
    val p = graft.co2.Co2Pipeline(spark, dir.resolve("wh").toString)
    val n = p.load(graft.co2.LocalFileSource(feed.toString))
    assert(n > 0 && p.raw.read.count() == n)
    // parseFeed and parseText agree on the same bytes
    val viaPath = NoaaIngest.parseText(spark, feed.toString).collect().toSet
    val viaSrc = NoaaIngest
      .parseFeed(spark, graft.co2.LocalFileSource(feed.toString)).collect().toSet
    assert(viaPath == viaSrc)
    // the HTTP impl is API-compatible (can't fetch in this sandbox):
    // construction + error surface only
    val http = graft.co2.HttpFeedSource("http://127.0.0.1:1/feed.txt", timeoutMs = 200)
    intercept[Exception] { http.fetchText() }
  }

  test("removeStaged deletes only glob-matched stage files (S12)") {
    val stage = Files.createTempDirectory("rm_stage_")
    Files.writeString(stage.resolve("co2_data_1.csv"), "x")
    Files.writeString(stage.resolve("co2_data_2.csv"), "x")
    Files.writeString(stage.resolve("keep.csv"), "x")
    val removed = NoaaIngest.removeStaged(spark, s"$stage/co2_data_*")
    assert(removed.length == 2)
    assert(Files.exists(stage.resolve("keep.csv")))
    assert(!Files.exists(stage.resolve("co2_data_1.csv")))
  }

  test("withScaledResources brackets jobs with a pool and restores on exit and on throw (§4 warehouse parity)") {
    val root = Files.createTempDirectory("wh_scale_").toString
    val p = Co2Pipeline(spark, root)
    val sc = spark.sparkContext
    sc.setLocalProperty("spark.scheduler.pool", "steady")
    try {
      val got = p.withScaledResources("XLARGE") {
        assert(sc.getLocalProperty("spark.scheduler.pool") == "scaled-xlarge")
        assert(sc.getLocalProperty("spark.job.description")
          .contains("withScaledResources(XLARGE)"))
        42
      }
      assert(got == 42)
      // finally-block downscale parity: previous pool restored
      assert(sc.getLocalProperty("spark.scheduler.pool") == "steady")
      // restore happens even when the bracketed statement throws (the
      // reference's finally-block ALTER WAREHOUSE … XSMALL)
      intercept[RuntimeException] {
        p.withScaledResources("LARGE") { throw new RuntimeException("boom") }
      }
      assert(sc.getLocalProperty("spark.scheduler.pool") == "steady")
    } finally sc.setLocalProperty("spark.scheduler.pool", null)
  }

  test("staged CSV roundtrip (partitioned write + typed tolerant read)") {
    val stage = Files.createTempDirectory("stage_").toString
    val df = Seq((2024, 1, 1, 2024.0, 420.1), (2025, 1, 1, 2025.0, 423.4))
      .toDF("YEAR", "MONTH", "DAY", "DECIMAL_DATE", "CO2_PPM")
    NoaaIngest.writeStage(df, stage)
    val back = NoaaIngest.readStagedCsv(spark, stage)
    assert(back.count() == 2)
    assert(back.schema == graft.co2.Co2Schemas.raw)
    assert(back.agg(sum("CO2_PPM")).head.getDouble(0) == 420.1 + 423.4)
  }

  /** Append literal feed lines (`YEAR MONTH DAY DECIMAL CO2`) to a feed. */
  private def appendFeed(path: Path, lines: String*): Unit =
    Files.writeString(path, lines.map(_ + "\n").mkString,
      java.nio.file.StandardOpenOption.APPEND)

  private val WatermarkDay = "RAW_CO2.WATERMARK_EPOCH_DAY"
  private val WatermarkVersion = "RAW_CO2.WATERMARK_VERSION"

  test("watermark: after a SQL INSERT into raw the next run scans, and no day loads twice") {
    val dir = Files.createTempDirectory("co2_wm_insert_")
    val p = Co2Pipeline(spark, dir.resolve("warehouse").toString)
    val feed = dir.resolve("feed.txt")
    val start = LocalDate.of(2020, 1, 1)
    writeFeed(feed, start, LocalDate.of(2021, 1, 1))
    p.runPipeline(feed.toString)
    val s = p.raw.state.get
    assert(s.offsets(WatermarkDay) == LocalDate.of(2020, 12, 31).toEpochDay)
    assert(s.offsets(WatermarkVersion) == s.version)

    p.registerCatalog("co2wm")
    spark.sql("INSERT INTO co2wm.RAW_CO2.CO2_DATA VALUES (2021, 1, 3, 2021.005, 413.5)")
    // January 1-5 have no feed gaps; the 3rd is already in raw, so only the
    // 4th and 5th are newer than raw's watermark
    writeFeed(feed, start, LocalDate.of(2021, 1, 6))
    assert(p.runPipeline(feed.toString).head._2 == "loaded 2 rows")
    val jan3 = p.raw.read.filter($"YEAR" === 2021 && $"MONTH" === 1 && $"DAY" === 3)
    assert(jan3.count() == 1)
    val after = p.raw.state.get
    assert(after.offsets(WatermarkDay) == LocalDate.of(2021, 1, 5).toEpochDay)
    assert(after.offsets(WatermarkVersion) == after.version)
  }

  test("watermark: a raw table without the offsets is scanned once, then carries them") {
    val dir = Files.createTempDirectory("co2_wm_legacy_")
    val p = Co2Pipeline(spark, dir.resolve("warehouse").toString)
    val feed = dir.resolve("feed.txt")
    val start = LocalDate.of(2020, 1, 1)
    writeFeed(feed, start, LocalDate.of(2021, 1, 1))
    p.raw.append(NoaaIngest.parseText(spark, feed.toString)) // no offsets
    writeFeed(feed, start, LocalDate.of(2021, 1, 4))
    assert(p.load(feed.toString) == 3)
    val s = p.raw.state.get
    assert(s.offsets(WatermarkDay) == LocalDate.of(2021, 1, 3).toEpochDay)
    assert(s.offsets(WatermarkVersion) == s.version)

    // a recorded watermark at raw's latest version is answered without a
    // scan: one recorded past the rows raw really holds skips them
    p.raw.commitOffsets(Map(
      WatermarkDay -> LocalDate.of(2021, 1, 10).toEpochDay,
      WatermarkVersion -> (s.version + 1)))
    writeFeed(feed, start, LocalDate.of(2021, 1, 12))
    assert(p.load(feed.toString) == 1) // January 11 only
  }

  /** (updated, inserted) per table from analytics' return text. */
  private def analyticsCounts(ret: String): Seq[(Long, Long)] =
    "(\\d+)u/(\\d+)i".r.findAllMatchIn(ret)
      .map(m => (m.group(1).toLong, m.group(2).toLong)).toSeq

  /** DAILY and WEEKLY equal a from-scratch analytics run over the same
    * harmonized and min/max tables, on every column but META_UPDATED_AT.
    */
  private def assertEqualsRecompute(p: Co2Pipeline, scratch: String): Unit = {
    val q = Co2Pipeline(spark, scratch)
    q.harmonized.overwrite(p.harmonized.read)
    q.minMax.overwrite(p.minMax.read)
    q.analytics()
    Seq(p.dailyStats -> q.dailyStats, p.weeklyStats -> q.weeklyStats).foreach {
      case (got, want) =>
        val g = got.read.drop("META_UPDATED_AT")
        val w = want.read.drop("META_UPDATED_AT").select(g.columns.map(col): _*)
        assert(g.count() == w.count() && g.exceptAll(w).isEmpty &&
          w.exceptAll(g).isEmpty, s"${got.root} differs from a recompute")
    }
  }

  test("analytics after each day equals a from-scratch recompute, with the MERGE's counts") {
    val dir = Files.createTempDirectory("co2_analytics_days_")
    val p = Co2Pipeline(spark, dir.resolve("warehouse").toString)
    val feed = dir.resolve("feed.txt")
    val start = LocalDate.of(2019, 1, 1)
    writeFeed(feed, start, LocalDate.of(2021, 1, 1))
    p.runPipeline(feed.toString)
    def redeliver(y: Int, m: Int, d: Int, co2: Double): Unit =
      p.feed.publish(Seq((y, m, d, y + 0.5, co2))
        .toDF("YEAR", "MONTH", "DAY", "DECIMAL_DATE", "CO2_PPM"))
    val days: Seq[() => Unit] = Seq(
      () => appendFeed(feed, "2021 1 1 2021.001 401.25"),
      () => redeliver(2020, 6, 15, 377.5), // a re-delivered day, new value
      () => appendFeed(feed, "2021 1 2 2021.004 999.0"), // moves MAX
      () => { appendFeed(feed, "2021 1 3 2021.007 402.5"); redeliver(2019, 3, 4, 100.0) }, // and MIN
      () => appendFeed(feed, "2021 1 4 2021.010 403.0", "2021 1 5 2021.012 403.5"))
    days.zipWithIndex.foreach { case (day, i) =>
      day()
      val before = (p.dailyStats.read.select("DATE").as[java.sql.Date].collect().toSet,
        p.weeklyStats.read.select("WEEK_START").as[java.sql.Date].collect().toSet)
      val ret = p.runPipeline(feed.toString).toMap
      assert(!ret("CO2_ANALYTICS_TASK").startsWith("skipped"), ret)
      val harm = p.harmonized.read
      val dailyKeys = harm.select("DATE").as[java.sql.Date].collect().toSet
      val weeklyKeys = harm.select(date_trunc("week", $"DATE").cast("date"))
        .as[java.sql.Date].collect().toSet
      // what a MERGE of the recompute into the previous tables reports
      val want = Seq(before._1 -> dailyKeys, before._2 -> weeklyKeys).map {
        case (old, now) => ((old & now).size.toLong, (now -- old).size.toLong)
      }
      assert(analyticsCounts(ret("CO2_ANALYTICS_TASK")) == want, s"day ${i + 1}: $ret")
      assertEqualsRecompute(p, dir.resolve(s"scratch$i").toString)
    }
    val mm = p.minMax.read.head()
    assert(mm.getDouble(0) == 100.0 && mm.getDouble(1) == 999.0)
  }

  test("DAILY/WEEKLY are a function of harmonized: deleted dates leave, foreign rows are replaced") {
    val dir = Files.createTempDirectory("co2_analytics_pure_")
    val p = Co2Pipeline(spark, dir.resolve("warehouse").toString)
    val feed = dir.resolve("feed.txt")
    writeFeed(feed, LocalDate.of(2020, 1, 1), LocalDate.of(2020, 6, 1))
    p.runPipeline(feed.toString)
    p.registerCatalog("co2pure")
    val gone = java.sql.Date.valueOf("2020-03-04")
    assert(p.dailyStats.read.filter($"DATE" === gone).count() == 1)
    spark.sql("DELETE FROM co2pure.HARMONIZED_CO2.HARMONIZED_CO2 WHERE DATE = DATE'2020-03-04'")
    spark.sql("INSERT INTO co2pure.ANALYTICS_CO2.DAILY_CO2_STATS VALUES " +
      "(DATE'1999-01-01', 1.0, 1.0, 0.0, 0.0, 0.0, TIMESTAMP'1999-01-01 00:00:00')")
    val harmRows = p.harmonized.read.count()
    p.analytics()
    val daily = p.dailyStats.read
    assert(daily.count() == harmRows)
    assert(daily.filter($"DATE" === gone || $"DATE" < java.sql.Date.valueOf("2000-01-01"))
      .isEmpty)
    // the lag skips the deleted date: March 5th's previous day is March 3rd
    val mar = daily.filter($"DATE".between("2020-03-03", "2020-03-05")).orderBy("DATE")
      .select("CO2_PPM", "PREV_DAY_CO2").collect()
    assert(mar.length == 2 && mar(1).getDouble(1) == mar(0).getDouble(0))
  }

  test("a one-row day: load takes at most 5 Spark jobs, analytics at most 8") {
    val dir = Files.createTempDirectory("co2_day_jobs_")
    val p = Co2Pipeline(spark, dir.resolve("warehouse").toString)
    val feed = dir.resolve("feed.txt")
    val start = LocalDate.of(2019, 1, 1)
    writeFeed(feed, start, LocalDate.of(2021, 1, 1))
    p.runPipeline(feed.toString)
    writeFeed(feed, start, LocalDate.of(2021, 1, 2))
    p.runPipeline(feed.toString) // warm-up day
    writeFeed(feed, start, LocalDate.of(2021, 1, 3))
    var loaded = 0L
    val loadJobs = TestSpark.jobsStartedBy { loaded = p.load(feed.toString) }
    assert(loaded == 1)
    p.harmonize()
    val analyticsJobs = TestSpark.jobsStartedBy(p.analytics())
    assert(loadJobs <= 5 && analyticsJobs <= 8,
      s"load $loadJobs jobs, analytics $analyticsJobs jobs")
  }

  /** Distinct META_UPDATED_AT stamps in DAILY: one after a full recompute,
    * more when earlier rows were kept.
    */
  private def dailyStamps(p: Co2Pipeline): Long =
    p.dailyStats.read.select("META_UPDATED_AT").distinct().count()

  /** _CO2_MINMAX holds harmonized's CO2_PPM (min, max), as one row. */
  private def assertMinMaxCurrent(p: Co2Pipeline): Unit = {
    val want = p.harmonized.read.agg(min("CO2_PPM"), max("CO2_PPM")).head()
    val got = p.minMax.read.collect()
    assert(got.length == 1 && got.head.toSeq == want.toSeq, s"${got.toSeq} vs $want")
  }

  test("a one-row day: harmonize takes at most 3 Spark jobs, analytics at most 2") {
    val dir = Files.createTempDirectory("co2_day_budget_")
    val p = Co2Pipeline(spark, dir.resolve("warehouse").toString)
    val feed = dir.resolve("feed.txt")
    val start = LocalDate.of(2019, 1, 1)
    writeFeed(feed, start, LocalDate.of(2021, 1, 1))
    p.runPipeline(feed.toString)
    writeFeed(feed, start, LocalDate.of(2021, 1, 2))
    p.runPipeline(feed.toString) // warm-up day
    writeFeed(feed, start, LocalDate.of(2021, 1, 3))
    assert(p.load(feed.toString) == 1)
    val harmonizeJobs = TestSpark.jobsStartedBy(p.harmonize())
    val analyticsJobs = TestSpark.jobsStartedBy(p.analytics())
    assert(harmonizeJobs <= 3 && analyticsJobs <= 2,
      s"harmonize $harmonizeJobs jobs, analytics $analyticsJobs jobs")
    // only 2021 was recomputed: the earlier rows kept their stamp
    assert(dailyStamps(p) > 1)
    assertMinMaxCurrent(p)
    assertEqualsRecompute(p, dir.resolve("scratch1").toString)

    // a day that moves MAX recomputes every row, and still matches
    appendFeed(feed, "2021 1 3 2021.007 999.0")
    p.runPipeline(feed.toString)
    assert(dailyStamps(p) == 1)
    assertMinMaxCurrent(p)
    assertEqualsRecompute(p, dir.resolve("scratch2").toString)
  }

  test("slice or full, analytics equals a recompute after every kind of day, with the MERGE's counts") {
    val dir = Files.createTempDirectory("co2_slice_days_")
    val p = Co2Pipeline(spark, dir.resolve("warehouse").toString)
    val feed = dir.resolve("feed.txt")
    writeFeed(feed, LocalDate.of(2018, 1, 1), LocalDate.of(2021, 1, 1))
    p.runPipeline(feed.toString)
    p.registerCatalog("co2slice")
    def redeliver(y: Int, m: Int, d: Int, co2: Double): Unit =
      p.feed.publish(Seq((y, m, d, y + 0.5, co2))
        .toDF("YEAR", "MONTH", "DAY", "DECIMAL_DATE", "CO2_PPM"))
    // (what the day does, whether analytics may keep earlier rows, the day)
    val days: Seq[(String, Boolean, () => Unit)] = Seq(
      ("a new day", true, () => appendFeed(feed, "2021 1 1 2021.001 375.25")),
      ("a new day", true, () => appendFeed(feed, "2021 1 2 2021.004 375.5")),
      ("a re-delivered old day", true, () => redeliver(2019, 6, 15, 377.5)),
      ("a day that moves MAX", false, () => appendFeed(feed, "2021 1 3 2021.007 999.0")),
      ("a new day", true, () => appendFeed(feed, "2021 1 4 2021.010 376.0")),
      ("a day that moves MIN", false, () => {
        appendFeed(feed, "2021 1 5 2021.012 376.5"); redeliver(2018, 3, 4, 100.0) }),
      ("a SQL DELETE on harmonized", false, () => {
        spark.sql("DELETE FROM co2slice.HARMONIZED_CO2.HARMONIZED_CO2 WHERE DATE = DATE'2020-03-04'")
        appendFeed(feed, "2021 1 6 2021.015 377.0") }),
      ("a new day", true, () => appendFeed(feed, "2021 1 7 2021.018 377.25")),
      ("a foreign INSERT into DAILY", false, () => {
        spark.sql("INSERT INTO co2slice.ANALYTICS_CO2.DAILY_CO2_STATS VALUES " +
          "(DATE'1999-01-01', 1.0, 1.0, 0.0, 0.0, 0.0, TIMESTAMP'1999-01-01 00:00:00')")
        appendFeed(feed, "2021 1 8 2021.021 377.5") }),
      ("two new days", true, () =>
        appendFeed(feed, "2021 1 9 2021.023 377.75", "2021 1 10 2021.026 378.0")),
      ("the first day of a year", true, () => appendFeed(feed, "2022 1 1 2022.001 378.25")),
      ("a new day", true, () => appendFeed(feed, "2022 1 2 2022.004 378.5")))
    days.zipWithIndex.foreach { case ((what, slice, day), i) =>
      day()
      val before = (p.dailyStats.read.select("DATE").as[java.sql.Date].collect().toSet,
        p.weeklyStats.read.select("WEEK_START").as[java.sql.Date].collect().toSet)
      val ret = p.runPipeline(feed.toString).toMap
      val harm = p.harmonized.read
      val dailyKeys = harm.select("DATE").as[java.sql.Date].collect().toSet
      val weeklyKeys = harm.select(date_trunc("week", $"DATE").cast("date"))
        .as[java.sql.Date].collect().toSet
      val want = Seq(before._1 -> dailyKeys, before._2 -> weeklyKeys).map {
        case (old, now) => ((old & now).size.toLong, (now -- old).size.toLong)
      }
      val at = s"day ${i + 1}, $what: $ret"
      assert(analyticsCounts(ret("CO2_ANALYTICS_TASK")) == want, at)
      assert((dailyStamps(p) > 1) == slice, at)
      assertMinMaxCurrent(p)
      assertEqualsRecompute(p, dir.resolve(s"scratch$i").toString)
    }
    assert(p.dailyStats.read.filter($"DATE" === java.sql.Date.valueOf("2020-03-04") ||
      $"DATE" < java.sql.Date.valueOf("2000-01-01")).isEmpty)
  }

  test("a stale _CO2_MINMAX is ignored by analytics and rewritten by the next harmonize") {
    val dir = Files.createTempDirectory("co2_stale_minmax_")
    val p = Co2Pipeline(spark, dir.resolve("warehouse").toString)
    val feed = dir.resolve("feed.txt")
    writeFeed(feed, LocalDate.of(2020, 1, 1), LocalDate.of(2021, 1, 1))
    p.runPipeline(feed.toString)
    // a crash after the harmonized commit: a day that moves MAX is merged,
    // and _CO2_MINMAX still holds the previous run's value
    val stale = p.minMax.read.collect().toList
    appendFeed(feed, "2021 1 1 2021.001 999.0")
    p.load(feed.toString)
    p.harmonize()
    p.minMax.overwrite(spark.createDataFrame(java.util.List.of(stale: _*), p.minMax.schema))
    assert(p.minMax.read.head().getDouble(1) < 999.0)

    p.analytics()
    val (lo, hi) = {
      val r = p.harmonized.read.agg(min("CO2_PPM"), max("CO2_PPM")).head()
      (r.getDouble(0), r.getDouble(1))
    }
    assert(hi == 999.0)
    val daily = p.dailyStats.read.select("CO2_PPM", "NORMALIZED_CO2").as[(Double, Double)].collect()
    assert(daily.forall { case (c, n) =>
      n == BigDecimal((c - lo) / (hi - lo)).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble })
    assertEqualsRecompute(p, dir.resolve("scratch").toString)

    appendFeed(feed, "2021 1 2 2021.004 380.0")
    p.runPipeline(feed.toString)
    assertMinMaxCurrent(p)
  }

  test("a one-row day's load starts at most 2 Spark jobs, and each raw and stream part is one file") {
    val dir = Files.createTempDirectory("co2_load_jobs_")
    val p = Co2Pipeline(spark, dir.resolve("warehouse").toString)
    val feed = dir.resolve("feed.txt")
    val rows = writeFeed(feed, LocalDate.of(2019, 1, 1), LocalDate.of(2021, 1, 1))
    assert(p.load(feed.toString) == rows) // the backfill
    appendFeed(feed, "2021 1 1 2021.001 401.25")
    var loaded = -1L
    val jobs = TestSpark.jobsStartedBy { loaded = p.load(feed.toString) }
    assert(loaded == 1 && jobs <= 2, s"$loaded rows in $jobs jobs")
    Seq(p.raw, p.feed.log).foreach { t =>
      val parts = t.state.get.parts
      assert(parts.length == 2 && parts.forall(_.files.length == 1), s"${t.root}: $parts")
    }
  }
}
