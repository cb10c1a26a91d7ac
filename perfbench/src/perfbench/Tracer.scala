package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One recorded interval. `parent` is the id of the span that caused it
  * (0 for the workload span). Times are epoch milliseconds.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startMs: Double, var endMs: Double = 0,
                      attrs: Map[String, String] = Map.empty)

/** A Spark job as the listener saw it. `layers` are the layers whose code
  * is on the job's call stack (see [[Tracer.layersOf]]); `site` is the
  * innermost frame of the program on that stack.
  */
final case class JobRec(jobId: Int, site: String, layers: Set[String],
                        listing: Boolean, startMs: Long,
                        var endMs: Long = -1)

/** Outside-in tracing: spans are recorded around the benchmark's calls into
  * the program's public functions, and Spark jobs, tasks and shuffle bytes
  * are counted by a [[SparkListener]]. Everything stays in memory until
  * the run ends.
  */
object Tracer {
  private val spans = ArrayBuffer[Span]()
  private var nextId = 1

  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  def open(parent: Int, kind: String, name: String,
           attrs: Map[String, String] = Map.empty): Span =
    record(parent, kind, name, nowMs, 0, attrs)

  /** A span whose times were measured elsewhere (a Spark job's). */
  def record(parent: Int, kind: String, name: String, startMs: Double,
             endMs: Double, attrs: Map[String, String] = Map.empty): Span = synchronized {
    val s = Span(nextId, parent, kind, name, startMs, endMs, attrs)
    nextId += 1
    spans += s
    s
  }

  def close(s: Span): Unit = s.endMs = nowMs

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Milliseconds of [start, end] covered by none of `children`. */
  def selfMs(start: Double, end: Double, children: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var reach = start
    for ((s, e) <- children.sortBy(_._1)) {
      val a = math.max(s, reach)
      val b = math.min(e, end)
      if (b > a) { covered += b - a; reach = b }
    }
    (end - start) - covered
  }

  private val LayerFiles = Map(
    "VersionedTable.scala" -> "storage", "ZoneMaps.scala" -> "storage",
    "ZOrder.scala" -> "storage", "ChangeFeed.scala" -> "changefeed",
    "MergeInto.scala" -> "operators.merge",
    "Co2Pipeline.scala" -> "co2", "NoaaIngest.scala" -> "co2",
    "GraftCatalog.scala" -> "sql", "GraftMerge.scala" -> "sql")
  private val Frame = """^graft\.[^(]*\(([^:()]+):(\d+)\)""".r

  /** The program's frames, innermost first, as `File.scala:line`. */
  def programFrames(stack: String): Seq[String] =
    stack.split("\n").toSeq.flatMap(l => Frame.findFirstMatchIn(l.trim))
      .map(m => s"${m.group(1)}:${m.group(2)}")

  /** Every layer with a frame on the stack: a job counts for each layer
    * that started it, directly or through the layers below.
    */
  def layersOf(frames: Seq[String]): Set[String] =
    frames.flatMap(f => LayerFiles.get(f.takeWhile(_ != ':'))).toSet

  // ---------------------------------------------------------- listener --

  val tasks = new LongAdder
  val taskRunMs = new LongAdder
  val shuffleBytes = new LongAdder
  private val started = new ConcurrentLinkedQueue[JobRec]()
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  /** SQL execution id -> the call stack that started the execution. Jobs
    * that adaptive execution submits from its own threads carry only that
    * id, so their stack is the execution's.
    */
  private val execStacks = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  object Listener extends SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execStacks.put(s.executionId, s.details)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val stack = prop("spark.sql.execution.id").flatMap(id => Option(execStacks.get(id.toLong)))
        .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details)
      val frames = programFrames(stack)
      val j = JobRec(e.jobId, frames.headOption.getOrElse("outside the program"),
        layersOf(frames), prop("spark.job.description").exists(_.startsWith("Listing leaf files")),
        e.time)
      byId.put(e.jobId, j)
      started.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(byId.remove(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      Option(e.taskMetrics).foreach { m =>
        taskRunMs.add(m.executorRunTime)
        shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  /** The listener hears only traced work: it is added when a traced op
    * starts and removed when it ends, so untraced ops run without it.
    */
  def attach(sc: SparkContext): Unit = sc.addSparkListener(Listener)
  def detach(sc: SparkContext): Unit = sc.removeSparkListener(Listener)

  /** Jobs started since the last call. Waits for the listener bus first,
    * so every job the caller's (synchronous) work started is included.
    */
  def takeJobs(sc: SparkContext): Seq[JobRec] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val out = ArrayBuffer[JobRec]()
    var j = started.poll()
    while (j != null) { out += j; j = started.poll() }
    out.toSeq
  }
}
