package graft.co2

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.changefeed.ChangeFeed
import graft.functions.Co2Functions
import graft.operators.{MergeInto, OrderedLag}
import graft.plans.expressions.runTimestamp
import graft.sql.{TaskDag, TaskDef}
import graft.storage.{VersionedTable, ZoneMaps}
import graft.storage.VersionedTable.State
import java.sql.Date
import java.time.{DayOfWeek, LocalDate}
import java.time.temporal.TemporalAdjusters

/** The full incremental pipeline — raw → harmonized → analytics — with the
  * same layer semantics as the reference's three stored procedures and task
  * DAG (/root/reference/templates/orchestrate_tasks.sql.j2:28-54), driven as
  * plain Scala over Spark.
  *
  * Tables live under `warehouseRoot`:
  *   RAW_CO2/CO2_DATA, RAW_CO2/CO2_DATA_STREAM (change log),
  *   HARMONIZED_CO2/HARMONIZED_CO2, ANALYTICS_CO2/{DAILY_CO2_STATS,
  *   WEEKLY_CO2_STATS,_CO2_MINMAX}.
  *
  * A one-row day is delta-sized: harmonize takes the touched YEARs from the
  * stream parts' zone maps and merges that one-partition slice in one
  * Spark job; CO2_PPM's min/max is folded from harmonized's per-file zone
  * maps; and analytics recomputes only the rows from 1 January of the
  * earliest changed YEAR on ([[analytics]]).
  */
final class Co2Pipeline(spark: SparkSession, warehouseRoot: String) {
  import Co2Pipeline._

  // collectStats = false where no reader uses the zone maps: raw and the
  // analytics tables hold ~19k rows in a handful of scan tasks, so they
  // have nothing to skip. Harmonized keeps each YEAR file's stats (its
  // CO2_PPM min/max and DATE range, read by analytics), _CO2_MINMAX its
  // one row's value, and the stream log its parts' YEAR and _BATCH_ID
  // ranges (the touched YEARs). A one-row day makes up to 7 commits:
  // raw, stream, harmonized, _CO2_MINMAX when its value moves, DAILY,
  // WEEKLY and the task history.
  val raw         = VersionedTable(spark, s"$warehouseRoot/RAW_CO2/CO2_DATA", collectStats = false)
  val feed        = ChangeFeed(spark, STREAM_NAME, s"$warehouseRoot/RAW_CO2/CO2_DATA_STREAM")
  val harmonized  = VersionedTable(spark, s"$warehouseRoot/HARMONIZED_CO2/HARMONIZED_CO2")
  val dailyStats  = VersionedTable(spark, s"$warehouseRoot/ANALYTICS_CO2/DAILY_CO2_STATS", collectStats = false)
  val weeklyStats = VersionedTable(spark, s"$warehouseRoot/ANALYTICS_CO2/WEEKLY_CO2_STATS", collectStats = false)
  val minMax      = VersionedTable(spark, s"$warehouseRoot/ANALYTICS_CO2/_CO2_MINMAX")

  private def resolver = spark.sessionState.analyzer.resolver

  // ---------------------------------------------------------------- load --

  /** Ingest a NOAA text feed file: parse, watermark-filter, append to raw,
    * publish the delta on the change stream. Returns rows loaded.
    * (loading_co2_data_sp semantics: loading_data_sp/function.py:171-377.)
    */
  def load(feedPath: String): Long =
    ingest(NoaaIngest.parsePath(spark, feedPath, _))

  /** Ingest through a pluggable [[FeedSource]] (HTTP in production — the
    * reference's lambda fetch — a local file in tests/replays).
    */
  def load(source: FeedSource): Long =
    ingest(NoaaIngest.parseSource(source, _))

  /** Warehouse-scaling parity hook (SURVEY §4): the reference brackets every
    * heavy statement with `ALTER WAREHOUSE … SET WAREHOUSE_SIZE = XLARGE …
    * WAIT_FOR_COMPLETION = TRUE` and a finally-block downscale to XSMALL
    * (co2_harmonized_sp/co2_harmonized_sp/function.py:115,166;
    * co2_analytical_sp/co2_analytical_sp/function.py:91,151). Spark has no
    * per-statement warehouse — capacity is dynamic allocation
    * (`spark.dynamicAllocation.*`), which grows/shrinks executors while the
    * bracketed stages run, so no resize call is needed. The hook preserves
    * the reference's API shape (bracket a heavy statement, guaranteed
    * restore on exit) by tagging the bracketed jobs with a scheduler pool +
    * job description — on a FAIR-scheduler cluster the `scaled-<size>` pool
    * is where an operator would pin a higher weight/minShare, which is the
    * closest native analog to a bigger warehouse — and restores the
    * previous properties in a finally.
    */
  def withScaledResources[T](size: String = "XLARGE")(body: => T): T = {
    val sc = spark.sparkContext
    val prevPool = sc.getLocalProperty("spark.scheduler.pool")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.scheduler.pool", s"scaled-${size.toLowerCase}")
    sc.setJobDescription(s"withScaledResources($size)")
    try body
    finally {
      sc.setLocalProperty("spark.scheduler.pool", prevPool)
      sc.setLocalProperty("spark.job.description", prevDesc)
    }
  }

  /** The watermark is read from raw's commit offsets, not from a scan of
    * raw: each ingest records the new watermark (epoch day) and the raw
    * version its append lands in. It is trusted only while that version is
    * still raw's latest; after any other commit to raw (a SQL INSERT, a
    * compaction) the next ingest scans raw once, as it always did.
    * `parseAfter` parses the feed keeping the rows newer than the
    * watermark; raw and the stream then write them from one local
    * relation in one partition, so each write is one job and one file.
    */
  private def ingest(parseAfter: Option[LocalDate] => NoaaIngest.Parsed): Long = {
    val prev = raw.state
    val recorded = prev
      .filter(s => s.offsets.get(WatermarkVersion).contains(s.version))
      .flatMap(_.offsets.get(WatermarkDay))
      .map(LocalDate.ofEpochDay)
    val wm = recorded.orElse(prev.flatMap(_ => NoaaIngest.watermark(raw.read)).map(_.toLocalDate))
    val fresh = parseAfter(wm)
    fresh.newest.foreach { newWm =>
      val rows = NoaaIngest.frame(spark, fresh.rows)
      raw.append(rows, Map(
        WatermarkDay -> newWm.toEpochDay,
        WatermarkVersion -> (prev.fold(0L)(_.version) + 1)))
      feed.publish(rows) // stream records the INSERT delta
    }
    fresh.rows.size
  }

  // ----------------------------------------------------------- harmonize --

  /** Consume pending stream rows, derive DATE, upsert into harmonized, and
    * refresh the 1-row _CO2_MINMAX table. Offset commits atomically with
    * the merge (exactly-once). Returns "no data" / merge summary string,
    * mirroring the SP's string return. One read of the stream log's state
    * gives the offset, the pending rows and the parts they come from.
    */
  def harmonize(): String = {
    val consumed = harmonized.offsets.getOrElse(STREAM_NAME, 0L)
    val log = feed.log.state.filter(feed.lastBatchIn(_) > consumed)
      .getOrElse(return "No data in stream - nothing to harmonize")
    val r = mergeHarmonized(
      feed.pending(consumed, log).filter(col(ChangeFeed.ACTION) === "INSERT"),
      Map(STREAM_NAME -> feed.lastBatchIn(log)), Some(feed.pendingParts(consumed, log)))
    s"Harmonized: ${r.updated} updated, ${r.inserted} inserted (v${r.version})"
  }

  /** Derive DATE for change-feed INSERT rows, upsert them into harmonized
    * and refresh the 1-row _CO2_MINMAX table: the one harmonize step of
    * the batch consumer ([[harmonize]]) and the streaming one
    * ([[graft.streaming.Streaming.harmonizeAvailableNow]]).
    * `consumeOffsets` commit atomically with the merge. `sourceParts`, the
    * stream parts `inserts` is read from, give the merge its touched YEARs
    * from their zone maps; without them the merge collects them.
    */
  private[graft] def mergeHarmonized(inserts: DataFrame,
                                     consumeOffsets: Map[String, Long],
                                     sourceParts: Option[Seq[VersionedTable.Part]] = None
                                    ): MergeInto.MergeResult = {
    val batchTs = runTimestamp() // one instant per merge batch
    val source = inserts
      .drop(ChangeFeed.metaColumns: _*)
      .withColumn("DATE",
        to_date(concat_ws("-",
          col("YEAR").cast("string"),
          col("MONTH").cast("string"),
          col("DAY").cast("string")), "yyyy-M-d"))
      .select(
        col("DATE"),
        col("YEAR"), col("MONTH"), col("DAY"),
        col("CO2_PPM"),
        batchTs.as("META_UPDATED_AT"))

    // Heavy statement bracket — reference scales to XLARGE around the merge
    // (co2_harmonized_sp/function.py:115,166)
    withScaledResources("XLARGE") {
      // Partition-scoped merge: harmonized is committed partitioned by YEAR
      // (functionally determined by the DATE key), so an incremental load
      // rewrites only the touched years — never the full history snapshot.
      val r = MergeInto(spark, harmonized, source, Seq("DATE"),
        consumeOffsets = consumeOffsets, dedupeSource = true,
        partitionBy = Some("YEAR"), sourceStats = sourceParts.map(_.map(_.stats)))

      // CTAS _CO2_MINMAX (co2_harmonized_sp/function.py:74-91), committed
      // only when its value differs from harmonized's
      val mm = co2Range(harmonized.state.get)
      if (!minMax.state.flatMap(committedMinMax).contains(mm))
        minMax.overwrite(spark.createDataFrame(java.util.List.of(mm), Co2Schemas.minMax))
      r
    }
  }

  /** (min, max) of column `c` over the live files of `t` at `s`, folded
    * from their zone maps: no Spark job. None when a file has no stats on
    * `c` (no stats kept, or no non-null value).
    */
  private def statsRange(t: VersionedTable, s: State, c: String): Option[(Double, Double)] =
    t.liveFiles(s).flatMap(fs => ZoneMaps.range(fs.map(_.stats), c, resolver)).collect {
      case (mn: Double, mx: Double) => (mn, mx)
    }

  /** Harmonized's CO2_PPM (min, max) at `s`: from its files' zone maps,
    * else from one aggregate job (NULLs when no value is known).
    */
  private def co2Range(s: State): Row =
    statsRange(harmonized, s, "CO2_PPM").fold(
      harmonized.readState(s).agg(min(col("CO2_PPM")), max(col("CO2_PPM"))).head()) {
      case (mn, mx) => Row(mn, mx)
    }

  /** The one row _CO2_MINMAX holds at `s`, from its zone maps and footer. */
  private def committedMinMax(s: State): Option[Row] = for {
    (mn, mn2) <- statsRange(minMax, s, "MIN_CO2") if mn == mn2
    (mx, mx2) <- statsRange(minMax, s, "MAX_CO2") if mx == mx2
    if minMax.rowCount(s) == 1L
  } yield Row(mn, mx)

  // ----------------------------------------------------------- analytics --

  /** Recompute daily + weekly stats from harmonized and commit them over
    * the analytics tables (co2_analytical_sp semantics). The reference
    * MERGEs the recompute into the tables; here it replaces them, which is
    * the same result: every DAILY/WEEKLY key is derived from a harmonized
    * key, and the pipeline never deletes harmonized keys. DAILY/WEEKLY are
    * thus a function of harmonized alone: a date deleted from harmonized
    * leaves DAILY too, and rows written to them by other means are
    * replaced.
    *
    * Each commit records the harmonized version it was computed from and
    * its own version. When harmonized has since only gained
    * partition-scoped parts, its min/max is unchanged and neither table was
    * written by anyone else, only the rows from 1 January of the earliest
    * changed YEAR on are recomputed ([[changedSince]]), as one partition,
    * and written with the kept rows in one job per table. Rows outside
    * that slice keep their META_UPDATED_AT.
    */
  def analytics(): String = {
    val h = harmonized.state.getOrElse(return "No harmonized data - nothing to analyze")

    // minmax injected as literals — the reference's collect-to-lit pattern,
    // folded from harmonized's own file stats
    val mm = co2Range(h)
    val minCo2 = mm.getDouble(0)
    val maxCo2 = mm.getDouble(1)
    val batchTs = runTimestamp()

    // daily: lag over date order; weekly: Monday-truncated buckets. The
    // reference labels the weekly MIN/MAX as WEEK_START_CO2/WEEK_END_CO2 —
    // replicated faithfully, and weekly change/volatility compare that min
    // and max (not adjacent weeks). The weekly average sums exactly, in
    // DECIMAL, so a week is the same however its rows split across scan
    // partitions: a kept row equals a recompute's.
    def daily(lagged: DataFrame) = lagged.select(
      col("DATE"), col("CO2_PPM"), col("PREV_DAY_CO2"),
      Co2Functions.co2PercentChange(col("PREV_DAY_CO2"), col("CO2_PPM")).as("DAILY_CHANGE"),
      Co2Functions.co2Volatility(col("CO2_PPM"), col("PREV_DAY_CO2")).as("DAILY_VOLATILITY"),
      Co2Functions.normalizeCo2(col("CO2_PPM"), lit(minCo2), lit(maxCo2)).as("NORMALIZED_CO2"),
      batchTs.as("META_UPDATED_AT"))
    def weekly(rows: DataFrame) = rows
      .groupBy(date_trunc("week", col("DATE")).cast("date").as("WEEK_START"))
      .agg(
        avg(col("CO2_PPM").cast("decimal(38,12)")).cast("double").as("AVG_WEEKLY_CO2"),
        min(col("CO2_PPM")).as("WEEK_START_CO2"),
        max(col("CO2_PPM")).as("WEEK_END_CO2"))
      .select(
        col("WEEK_START"), col("AVG_WEEKLY_CO2"),
        col("WEEK_START_CO2"), col("WEEK_END_CO2"),
        Co2Functions.co2PercentChange(col("WEEK_START_CO2"), col("WEEK_END_CO2")).as("WEEKLY_CHANGE"),
        Co2Functions.co2Volatility(col("WEEK_END_CO2"), col("WEEK_START_CO2")).as("WEEKLY_VOLATILITY"),
        Co2Functions.normalizeCo2(col("AVG_WEEKLY_CO2"), lit(minCo2), lit(maxCo2)).as("NORMALIZED_WEEKLY_CO2"),
        batchTs.as("META_UPDATED_AT"))
    def lagged(rows: DataFrame, lag: (DataFrame, String, String, String) => DataFrame) =
      lag(rows.select(col("DATE"), col("CO2_PPM")), "DATE", "CO2_PPM", "PREV_DAY_CO2")

    // the plans are built in the commit threads, after the schema check
    val (prevDaily, prevWeekly) = (dailyStats.state, weeklyStats.state)
    val (dailyRows, weeklyRows): (() => DataFrame, () => DataFrame) =
      changedSince(h, prevDaily, prevWeekly) match {
        case Some((year, years)) =>
          // the prior year gives 1 January its lag and the straddling week
          // its December days; a NULL DATE never reaches the slice and is
          // kept with the earlier rows, all of which a MERGE matches
          val from = LocalDate.of(year, 1, 1)
          val weekFrom = from.`with`(TemporalAdjusters.previousOrSame(DayOfWeek.MONDAY))
          val rows = harmonized.readPartitions(h, "YEAR", years)
            .filter(col("DATE") >= lit(Date.valueOf(from.minusYears(1)))).coalesce(1)
          def slice(t: VersionedTable, s: State, fresh: DataFrame, key: String,
                    upTo: LocalDate) = {
            val prev = t.readState(s)
            val since = col(key) >= lit(Date.valueOf(upTo))
            // a MERGE matches every kept row, and a recomputed one whose key
            // a previous row has: a join of two single partitions, no exchange
            val old = prev.filter(since).select(col(key).as("_old_key")).coalesce(1).distinct()
            fresh.filter(since)
              .join(old.withColumn(Matched, lit(true)).hint("merge"), col(key) === col("_old_key"), "left")
              .drop("_old_key")
              .unionByName(prev.filter(!since || col(key).isNull).withColumn(Matched, lit(true)))
              .coalesce(1)
          }
          (() => slice(dailyStats, prevDaily.get, daily(lagged(rows, OrderedLag.inPartition)),
             "DATE", from),
           () => slice(weeklyStats, prevWeekly.get,
             weekly(rows.filter(col("DATE") >= lit(Date.valueOf(weekFrom)))), "WEEK_START", weekFrom))
        case None =>
          // lag partitioned + stitched, exact global result; a MERGE
          // matches a row whose key a previous row has
          val harm = harmonized.readState(h)
          def flagged(rows: DataFrame, prev: Option[DataFrame], key: String) =
            rows.withColumn(Matched, prev.fold(lit(false))(old => col(key).isin(old.select(key))))
          (() => flagged(daily(lagged(harm, OrderedLag.byDate)),
             prevDaily.map(dailyStats.readState), "DATE"),
           () => flagged(weekly(harm), prevWeekly.map(weeklyStats.readState), "WEEK_START"))
      }

    // Reference scales to LARGE around the analytics merges
    // (co2_analytical_sp/function.py:91,151). The two commits target
    // DIFFERENT tables with NO data dependency, so they run as two
    // concurrent driver threads (the scheduler back-fills each job's
    // straggler tail with the other's tasks) — each commit keeps its own
    // per-root lock, and neither consumes stream offsets, so the semantics
    // are byte-identical to sequential. The threads are started here, so
    // they inherit the caller's Spark job group and local properties.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val (dT, wT) = try {
      val dF = Future(withScaledResources("LARGE")(
        replace(dailyStats, prevDaily, Co2Schemas.dailyStats, dailyRows(), h.version)))
      val wF = Future(withScaledResources("LARGE")(
        replace(weeklyStats, prevWeekly, Co2Schemas.weeklyStats, weeklyRows(), h.version)))
      // await BOTH before surfacing a failure, so no commit is still in
      // flight once this method has thrown
      (Await.ready(dF, Duration.Inf).value.get, Await.ready(wF, Duration.Inf).value.get)
    } finally pool.shutdown()
    for (d <- dT.failed; w <- wT.failed) d.addSuppressed(w)
    val ((du, di), (wu, wi)) = (dT.get, wT.get)

    s"Analytics: daily ${du}u/${di}i, weekly ${wu}u/${wi}i"
  }

  /** The earliest harmonized YEAR changed since DAILY and WEEKLY were
    * computed (from harmonized at `h`), and the live YEAR partitions from
    * the year before it on, when recomputing from 1 January of that YEAR
    * yields the full recompute's rows. That holds when both tables were
    * last written by [[analytics]] from one harmonized version; harmonized
    * has since only added partition-scoped parts, of YEAR values, with the
    * same columns and types; its CO2_PPM min/max is unchanged; the year
    * before holds a dated row; and no changed YEAR file, shadowed or new,
    * holds a NULL DATE. Commit metadata and parquet footers only; None
    * otherwise.
    */
  private def changedSince(h: State, daily: Option[State],
                           weekly: Option[State]): Option[(Int, Seq[String])] = {
    def own(s: State) = s.offsets.get(OwnVersion).contains(s.version)
    for {
      d <- daily; w <- weekly if own(d) && own(w)
      hv <- d.offsets.get(AnalyzedVersion)
      if w.offsets.get(AnalyzedVersion).contains(hv) && hv < h.version
      old <- harmonized.stateAt(hv)
      added = h.parts.drop(old.parts.size)
      if h.parts.startsWith(old.parts) && added.nonEmpty && added.forall(_.vals.nonEmpty) &&
        org.apache.spark.sql.types.DataType.equalsIgnoreNullability(h.schema, old.schema) &&
        h.partitionCol.contains("YEAR")
      touched = added.flatMap(_.vals).toSet
      years = touched.flatMap(_.toIntOption) if years.size == touched.size
      year = years.min
      mm <- statsRange(harmonized, h, "CO2_PPM") if statsRange(harmonized, old, "CO2_PPM").contains(mm)
      now <- harmonized.liveFiles(h)
      before <- harmonized.liveFiles(old)
      if now.exists(f => f.value == (year - 1).toString && f.stats.keys.exists(resolver(_, "DATE")))
      changed = (now ++ before).filter(f => f.value != null && touched(f.value))
      if ZoneMaps.nullCount(spark.sparkContext.hadoopConfiguration, changed.map(_.path),
        "DATE", resolver).contains(0L)
    } yield (year, now.map(_.value).filter(v => v != null && v.toIntOption.exists(_ >= year - 1)).distinct)
  }

  /** Commit `rows`, of columns `schema` plus [[Matched]], over `target`,
    * whose state was `prev`, recording the harmonized version `analyzed`
    * they come from, and return the (updated, inserted) counts the
    * reference's MERGE of them reports: the rows flagged [[Matched]] and
    * the rest, observed on the write itself. Like the MERGE, it refuses a
    * target of another column set, before `rows` is built.
    */
  private def replace(target: VersionedTable, prev: Option[State], schema: StructType,
                      rows: => DataFrame, analyzed: Long): (Long, Long) = {
    prev.foreach { s =>
      require(s.schema.fieldNames.sorted.sameElements(schema.fieldNames.sorted),
        s"merge schema mismatch: target ${s.schema.fieldNames.mkString(",")} " +
          s"vs source ${schema.fieldNames.mkString(",")}")
    }
    val obs = new org.apache.spark.sql.Observation()
    target.overwrite(
      rows.observe(obs, count(lit(1)).as("n"), count(when(col(Matched), 1)).as("u")).drop(Matched),
      Map(AnalyzedVersion -> analyzed, OwnVersion -> (prev.fold(0L)(_.version) + 1)))
    val (written, updated) = (obs.get("n").asInstanceOf[Long], obs.get("u").asInstanceOf[Long])
    (updated, written - updated)
  }

  // --------------------------------------------------------- orchestrate --

  /** The CO2 task DAG (orchestrate_tasks.sql.j2:28-54), each task with the
    * stage it runs on a feed path; [[tasks]], [[defineTasks]] and
    * [[runPipeline]] all derive from this one list.
    */
  private def dag(schedule: String): Seq[(TaskDef, String => String)] = Seq(
    (TaskDef("CO2_RAW_DATA_TASK", Some(schedule), None),
      feed => s"loaded ${load(feed)} rows"),
    (TaskDef("CO2_HARMONIZED_TASK", Some("AFTER CO2_RAW_DATA_TASK"),
      Some(s"SYSTEM$$STREAM_HAS_DATA('$STREAM_NAME')")), _ => harmonize()),
    (TaskDef("CO2_ANALYTICS_TASK", Some("AFTER CO2_HARMONIZED_TASK"), None),
      _ => analytics()))

  /** One DAG run on [[TaskDag.run]], gated by [[streamHasData]]: each
    * visited task with its stage's return string, or "skipped (stream
    * empty)". A failing stage is recorded as FAILED, then rethrown.
    */
  def runPipeline(feedPath: String): Seq[(String, String)] = {
    val defs = dag(DefaultSchedule)
    val stage = defs.map { case (t, run) => t.name -> run }.toMap
    val runs = TaskDag.run(spark, warehouseRoot, defs.head._1, defs.map(_._1),
        rootEvenIfSuspended = false, new java.sql.Timestamp(System.currentTimeMillis()))(
      _ => streamHasData, t => Some(stage(t.name)(feedPath)))
    runs.flatMap(_.error).foreach(e => throw e)
    runs.map(r => r.task -> r.returnValue.getOrElse("skipped (stream empty)"))
  }

  def taskHistory: DataFrame = TaskDag.history(spark, warehouseRoot)

  /** SHOW TASKS parity: the DAG's task definitions — root task on the cron
    * schedule, children chained with AFTER + the stream-gate condition
    * (orchestrate_tasks.sql.j2:28-54, SHOW TASKS at :81). The schedule
    * string comes from config (PipelineConfig.taskSchedule); execution
    * itself is external (cron/Airflow calling runPipeline), matching the
    * reference's scheduler-driven tasks.
    */
  def tasks(schedule: String = DefaultSchedule): DataFrame = {
    import spark.implicits._
    dag(schedule).map { case (t, _) => (t.name, t.schedule.orNull, t.condition.orNull) }
      .toDF("NAME", "SCHEDULE", "CONDITION")
  }

  /** SYSTEM$STREAM_HAS_DATA surface for the harmonized consumer. */
  def streamHasData: Boolean =
    feed.hasData(harmonized.offsets.getOrElse(STREAM_NAME, 0L))

  // -------------------------------------------------------------- sql -----

  /** Register the warehouse as a real `spark.catalog` catalog: every layer
    * becomes addressable as `<name>.<SCHEMA>.<TABLE>` with SHOW TABLES /
    * DESCRIBE / SELECT / INSERT working as SQL text against the versioned
    * commit protocol (reference EP3 full parity, not SELECT-only views).
    * Also types CO2_DATA_STREAM as a first-class STREAM object — SHOW
    * TABLES lists it and
    * `SELECT … FROM <name>.RAW_CO2.CO2_DATA_STREAM WHERE
    * \`METADATA\$ACTION\` = 'INSERT'` reads the net unconsumed window at
    * the harmonized consumer's committed offset
    * (02_create_rawco2data_stream.py:65-76) — and persists the task DAG
    * for `CALL <name>.system.show_tasks()`.
    */
  def registerCatalog(name: String = "co2"): Unit = {
    graft.sql.GraftCatalog.register(spark, name, warehouseRoot)
    graft.sql.GraftCatalog.defineStream(spark, warehouseRoot,
      dir = "RAW_CO2/CO2_DATA_STREAM", offsetKey = STREAM_NAME,
      sourceTable = "RAW_CO2.CO2_DATA",
      consumerDir = "HARMONIZED_CO2/HARMONIZED_CO2")
    defineTasks()
  }

  /** Persist the task DAG into the warehouse `_TASKS` table so
    * `CALL <cat>.system.show_tasks()` lists it from SQL text (SHOW TASKS
    * parity, orchestrate_tasks.sql.j2:81). Idempotent: the three CO2 rows
    * are replaced by fresh, active definitions, like the template's
    * suspend / CREATE OR REPLACE / resume deploy (:19-55); every other task
    * in the warehouse is kept as it is.
    */
  def defineTasks(schedule: String = DefaultSchedule): Unit = {
    val defs = dag(schedule).map(_._1)
    TaskDag.writeTasks(spark, warehouseRoot, TaskDag.readTasks(spark, warehouseRoot)
      .filterNot(t => defs.exists(_.name.equalsIgnoreCase(t.name))) ++ defs)
  }

  /** Register every layer as temp views (dots → underscores) plus the
    * stream view with metadata columns, so `spark.sql` covers the
    * reference's raw-SQL entry point (EP3).
    */
  def registerViews(): Unit = {
    if (raw.exists) raw.read.createOrReplaceTempView("RAW_CO2_CO2_DATA")
    if (harmonized.exists) harmonized.read.createOrReplaceTempView("HARMONIZED_CO2_HARMONIZED_CO2")
    if (dailyStats.exists) dailyStats.read.createOrReplaceTempView("ANALYTICS_CO2_DAILY_CO2_STATS")
    if (weeklyStats.exists) weeklyStats.read.createOrReplaceTempView("ANALYTICS_CO2_WEEKLY_CO2_STATS")
    if (minMax.exists) minMax.read.createOrReplaceTempView("ANALYTICS_CO2_MINMAX")
    val consumed = harmonized.offsets.getOrElse(STREAM_NAME, 0L)
    if (feed.log.exists)
      feed.pending(consumed).createOrReplaceTempView("CO2_DATA_STREAM")
  }
}

object Co2Pipeline {
  val STREAM_NAME = "RAW_CO2.CO2_DATA_STREAM"
  /** Raw's commit offsets: the ingest watermark (epoch day) and the raw
    * version it was recorded in.
    */
  private val WatermarkDay = "RAW_CO2.WATERMARK_EPOCH_DAY"
  private val WatermarkVersion = "RAW_CO2.WATERMARK_VERSION"
  /** DAILY's and WEEKLY's commit offsets: the harmonized version they were
    * computed from, and the version the commit itself claimed.
    */
  private val AnalyzedVersion = "ANALYTICS_CO2.HARMONIZED_VERSION"
  private val OwnVersion = "ANALYTICS_CO2.OWN_VERSION"
  /** Analytics' flag column: the row's key matches a previous row's. */
  private val Matched = "_MERGE_MATCHED"
  private val DefaultSchedule = "USING CRON 0 10 * * * UTC"

  def apply(spark: SparkSession, warehouseRoot: String): Co2Pipeline =
    new Co2Pipeline(spark, warehouseRoot)
}
