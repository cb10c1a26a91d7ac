package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** What one timed operation reports: its class (for mixed workloads), the
  * mismatch found by its correctness check, and any per-op metrics it
  * measured itself.
  */
final case class OpResult(cls: String = "", error: Option[String] = None,
                          metrics: Map[String, Double] = Map.empty)

/** A traced op runs the pipeline stage by stage and records a span per
  * stage; an untraced op calls `runPipeline`, as in an untraced run.
  */
final class Ctx(val traced: Boolean, val opSpan: Int, spark: SparkSession) {
  val stages = ArrayBuffer[(Span, Seq[JobRec])]()
  def stage[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val s = Tracer.open(opSpan, "stage", name)
      try body
      finally {
        Tracer.close(s)
        stages += s -> Tracer.takeJobs(spark.sparkContext)
      }
    }
}

/** One workload: a timed set-up and preparation, the timed operation, and
  * the check run after timing.
  */
trait Workload {
  /** Builds the warehouse the ops start from; `ctx` gives stage spans. */
  def setup(ctx: Ctx): Unit
  def prepare(): Unit = ()
  /** Whether `n` timed ops complete a run once `--seconds` have passed. */
  def enough(n: Int): Boolean = n >= Main.MinOps
  /** Untimed: make the inputs op `i` consumes. */
  def beforeOp(i: Int): Unit = ()
  def op(i: Int, ctx: Ctx): OpResult
  def finalCheck(): Seq[String]
  /** Warehouse bytes on disk per byte of feed, for the warehouse the ops
    * ran against.
    */
  def bytesPerUserByte: Double
  /** Whether the ops are one-day pipeline runs (else SQL statements). */
  def pipelineOps: Boolean
  /** Traced runs only, after the final check: a few ops of the other kind,
    * each run through `traced`, so that a traced run of either workload
    * measures every layer. Returns the mismatches found.
    */
  def probe(traced: (Ctx => OpResult) => OpResult): Seq[String]
}

object Main {
  /** Every run times at least this many ops, so its median is an op's. */
  val MinOps = 3
  val MinTracedOps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val runDir = Paths.get(a("run-dir"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val feed = new Feed(Paths.get(a("feed")))
    val historyDays = a("history-days").toInt

    if (trace) {
      // the first `file` FileSystem created is the one the JVM caches
      val c = new org.apache.hadoop.conf.Configuration()
      c.set("fs.file.impl", classOf[CountingFs].getName)
      org.apache.hadoop.fs.FileSystem.get(java.net.URI.create("file:///"), c)
    }
    FsCounters.enabled = false // counted only inside traced ops
    val wSpan = Tracer.open(0, "workload", a("workload"))
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.get()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    if (trace) {
      val fs = new org.apache.hadoop.fs.Path(runDir.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[CountingFs], s"file system is ${fs.getClass}, not CountingFs")
    }

    val w: Workload = a("workload") match {
      case "daily_increment" => new DailyIncrement(spark, runDir, feed, historyDays, a("seed").toLong)
      case "warehouse_sql" => new WarehouseSql(spark, runDir, feed, historyDays, a("seed").toLong)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def timed(body: => Unit): Double = {
      val s = System.nanoTime(); body; (System.nanoTime() - s) / 1e9
    }
    // The set-up is the JVM's first pipeline run, a backfill of the history
    // into an empty warehouse, so it pays class loading, JIT and code
    // generation. A traced run traces it as the backfill.
    val (setupS, setupRes, backfill) = measure(spark, wSpan.id, "setup", trace) { ctx =>
      w.setup(ctx); OpResult()
    }
    setupRes.error.foreach(e => throw new IllegalStateException(s"set-up failed: $e"))
    val prepS = timed(w.prepare())

    // Timed loop, one client, closed loop. A traced run traces every other
    // op, so traced and untraced ops see the same warm-up, the traced ops
    // are the same ops in every run, and the ratio of their latencies is
    // the tracing overhead.
    val ops = ArrayBuffer[(Double, Boolean, Boolean, String)]()
    val traced = ArrayBuffer[Map[String, Double]]()
    Jvm.resetPeaks()
    val gc0 = Jvm.gcMs
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var i = 0
    while (elapsed < seconds || !w.enough(ops.size) || (trace && traced.size < MinTracedOps)) {
      val on = trace && i % 2 == 1
      w.beforeOp(i)
      val (lat, res, m) = measure(spark, wSpan.id, s"op$i", on)(w.op(i, _))
      res.error.foreach(e => System.err.println(s"op $i failed: $e"))
      ops += ((lat, res.error.isEmpty, on, res.cls))
      if (on) traced += m
      i += 1
    }
    val timedS = elapsed
    val gcPerOp = (Jvm.gcMs - gc0) / 1e3 / ops.size
    val heapPeakMb = Jvm.heapPeakMb

    def guard(what: String)(check: => Seq[String]) =
      try check catch { case e: Throwable => Seq(s"$what: $e") }
    val finalErrors = guard("final check")(w.finalCheck())
    val bytesPerUserByte = w.bytesPerUserByte
    val probes = ArrayBuffer[Map[String, Double]]()
    val probeErrors = if (!trace) Nil else guard("probe")(w.probe { body =>
      val (_, r, m) = measure(spark, wSpan.id, "probe", on = true)(body)
      probes += m
      r
    })
    val errors = finalErrors ++ probeErrors
    errors.foreach(e => System.err.println(s"check failed: $e"))
    Tracer.close(wSpan)

    // Pipeline-layer metrics come from one-day runs and SQL metrics from
    // statements: the workload's own traced ops for one, its probe for the
    // other.
    val (pipeline, statements) =
      if (w.pipelineOps) (traced.toSeq, probes.toSeq) else (probes.toSeq, traced.toSeq)
    def prefixed(m: Map[String, Double], ps: String*) =
      m.filter { case (k, _) => ps.exists(k.startsWith) }
    val layer: Map[String, Double] =
      if (!trace) Map.empty
      else prefixed(aggregate(pipeline), "co2.", "storage.", "changefeed.", "operators.") ++
        aggregate(statements).collect {
          case (k, v) if k.startsWith("sql.") => k -> v
          case (k @ ("storage.commit_log_reads" | "storage.dir_listings" |
                     "storage.data_files_opened"), v) => "sql." + k.stripPrefix("storage.") -> v
        } ++
        prefixed(aggregate(traced.toSeq), "spark.", "trace.") ++
        backfill.map { case (k, v) => s"backfill.$k" -> v } ++ Map(
        "spark.core_util" -> traced.map(_("spark.task_s")).sum /
          (traced.map(_("trace.op_s")).sum * graft.GraftSession.cpus.toDouble),
        "jvm.gc_s" -> gcPerOp,
        "jvm.heap_peak_mb" -> heapPeakMb,
        "storage.bytes_per_user_byte" -> bytesPerUserByte)

    val out = new StringBuilder("{")
    out ++= s""""session_s":$sessionS,"setup_s":$setupS,"""
    out ++= s""""prepare_s":$prepS,"timed_s":$timedS,"""
    out ++= ops.map { case (l, ok, on, c) => s"""[$l,${if (ok) 1 else 0},${if (on) 1 else 0},"$c"]""" }
      .mkString(""""ops":[""", ",", "],")
    out ++= errors.map(e => Json.str(e)).mkString(""""errors":[""", ",", "],")
    out ++= layer.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      .mkString(""""layer":{""", ",", "}}")
    Files.writeString(runDir.resolve("result.json"), out.toString)
    if (trace) Files.writeString(runDir.resolve("spans.json"),
      Tracer.allSpans.map(Json.span).mkString("[\n", ",\n", "\n]\n"))
    spark.stop()
  }

  /** Runs `body` as one op span: (latency s, result, per-op metrics, empty
    * when untraced). File counting and the listener are on only while a
    * traced op runs.
    */
  def measure(spark: SparkSession, parent: Int, name: String, on: Boolean)(
      body: Ctx => OpResult): (Double, OpResult, Map[String, Double]) = {
    val sc = spark.sparkContext
    if (on) { FsCounters.enabled = true; Tracer.attach(sc) }
    val fs0 = FsCounters.snapshot()
    val read0 = Jvm.bytesRead
    val (tasks0, taskMs0, shuffle0) =
      (Tracer.tasks.sum, Tracer.taskRunMs.sum, Tracer.shuffleBytes.sum)
    val span = Tracer.open(parent, "op", name)
    val ctx = new Ctx(on, span.id, spark)
    val t = System.nanoTime()
    val res =
      try body(ctx)
      catch { case e: Throwable => OpResult(error = Some(e.toString)) }
    val lat = (System.nanoTime() - t) / 1e9
    Tracer.close(span)
    if (!on) return (lat, res, Map.empty)

    val loose = Tracer.takeJobs(sc)
    Tracer.detach(sc)
    FsCounters.enabled = false
    val jobs = ctx.stages.flatMap(_._2).toSeq ++ loose
    for ((s, js) <- ctx.stages; j <- js) jobSpan(s.id, j)
    loose.foreach(jobSpan(span.id, _))
    val fs = FsCounters.snapshot().map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) }
    def sumS(js: Seq[JobRec]) = js.map(j => (j.endMs - j.startMs).max(0L)).sum / 1e3
    def of(l: String) = jobs.filter(_.layers(l))
    val m = Map.newBuilder[String, Double]
    m ++= res.metrics
    for ((s, js) <- ctx.stages) {
      val self = Tracer.selfMs(s.startMs, s.endMs, js.map(j => (j.startMs.toDouble, j.endMs.toDouble)))
      m += s"co2.${s.name}_s" -> self / 1e3
      m += s"co2.${s.name}_wall_s" -> (s.endMs - s.startMs) / 1e3
      m += s"co2.${s.name}_jobs" -> js.size.toDouble
    }
    // warehouse paths only: the feed file and scratch files are "other"
    def wh(op: String, kind: String = "*") =
      FsCounters.sum(fs, op, kind) - FsCounters.sum(fs, op, kind, "other")
    val storageTables = Seq("raw", "stream", "harmonized", "daily", "weekly")
    m ++= Seq[(String, Long)](
      "storage.commit_log_reads" -> wh("open", "commits"),
      "storage.dir_listings" -> wh("list"),
      "storage.commits" -> wh("rename", "commits"),
      "storage.files_written" -> wh("create", "data"),
      "storage.data_files_opened" -> wh("open", "data"),
      "storage.bytes_written" -> wh("bytes_written"),
      "storage.bytes_read" -> (Jvm.bytesRead - read0),
      "storage.listing_jobs" -> jobs.count(_.listing).toLong,
      "storage.jobs" -> of("storage").size.toLong,
      "changefeed.jobs" -> of("changefeed").size.toLong,
      "operators.merge_jobs" -> of("operators.merge").size.toLong,
      "spark.jobs" -> jobs.size.toLong,
      "spark.tasks" -> (Tracer.tasks.sum - tasks0),
      "spark.shuffle_bytes" -> (Tracer.shuffleBytes.sum - shuffle0)
    ).map { case (k, v) => k -> v.toDouble }
    m ++= storageTables.map(t =>
      s"storage.bytes_written.$t" -> FsCounters.sum(fs, "bytes_written", table = t).toDouble)
    m ++= Seq(
      "storage.job_s" -> sumS(of("storage")),
      "changefeed.job_s" -> sumS(of("changefeed")),
      "operators.merge_job_s" -> sumS(of("operators.merge")),
      "spark.task_s" -> (Tracer.taskRunMs.sum - taskMs0) / 1e3,
      "trace.op_s" -> lat)
    (lat, res, m.result())
  }

  private def jobSpan(parent: Int, j: JobRec): Unit =
    Tracer.record(parent, "job", j.site, j.startMs.toDouble, j.endMs.toDouble,
      Map("layers" -> j.layers.toSeq.sorted.mkString(","), "job_id" -> j.jobId.toString))

  /** Counts and bytes repeat exactly for a seed, so they come from the
    * first traced ops only (later ops of a run see a longer history); times
    * are the median over every traced op.
    */
  def aggregate(ops: Seq[Map[String, Double]]): Map[String, Double] = {
    def exact(k: String) = !(k.endsWith("_s") || k.endsWith("_ms"))
    ops.flatMap(_.keys).distinct.map { k =>
      val vs = (if (exact(k)) ops.filter(_.contains(k)).take(MinTracedOps)
                else ops.filter(_.contains(k))).map(_(k))
      k -> median(vs)
    }.toMap
  }

  def median(v: Seq[Double]): Double = {
    val s = v.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Bytes of every file under `dir`. */
  def duBytes(dir: Path): Long = {
    val st = Files.walk(dir)
    try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally st.close()
  }
}

object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  /** The old generation: what survives collection, not the garbage that
    * fills the young generation between collections.
    */
  private def oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old Gen"))
  def resetPeaks(): Unit = oldGen.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = oldGen.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Bytes read through Hadoop's local file system, checksums included. */
  def bytesRead: Long = {
    import org.apache.hadoop.fs.FileSystem
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
      .map(_.getBytesRead).sum
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def span(s: Span): String =
    s"""{"id":${s.id},"parent":${s.parent},"kind":${str(s.kind)},"name":${str(s.name)},""" +
      s""""start_ms":${num(s.startMs)},"end_ms":${num(s.endMs)}""" +
      s.attrs.toSeq.sorted.map { case (k, v) => s",${str(k)}:${str(v)}" }.mkString + "}"
}
