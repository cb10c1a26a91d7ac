package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import graft.co2.Co2Pipeline

/** A traced op drives the three pipeline stages one after another, so it
  * has a span per stage; an untraced op calls the task DAG's own
  * `runPipeline`, which also appends to the task history.
  */
object Stages {
  def run(p: Co2Pipeline, feedPath: String, ctx: Ctx): Long =
    if (!ctx.traced) {
      val r = p.runPipeline(feedPath)
      "loaded (\\d+) rows".r.findFirstMatchIn(r.head._2).map(_.group(1).toLong)
        .getOrElse(throw new IllegalStateException(s"unexpected load result ${r.head}"))
    } else {
      val n = ctx.stage("load")(p.load(feedPath))
      ctx.stage("harmonize")(p.harmonize())
      ctx.stage("analytics")(p.analytics())
      n
    }

  /** A one-day run; it must load exactly the new day. */
  def oneDay(p: Co2Pipeline, feedPath: Path, ctx: Ctx): OpResult = {
    val n = run(p, feedPath.toString, ctx)
    OpResult(error = if (n == 1) None else Some(s"loaded $n rows, want 1"))
  }
}

/** Set-up shared by the workloads: load the history into an empty
  * warehouse (a backfill); the ops run against it, `p`.
  */
abstract class HistoryWarehouse(spark: SparkSession, dir: Path, feed: Feed,
                                historyDays: Int) extends Workload {
  protected val history = feed.writePrefix(dir.resolve("history.txt"), historyDays)
  protected val root: Path = dir.resolve("wh")
  protected var p: Co2Pipeline = _

  def setup(ctx: Ctx): Unit = {
    p = Co2Pipeline(spark, root.toString)
    Stages.run(p, history.toString, ctx)
  }
}

/** One op = one task-DAG run on the feed grown by one new day, against a
  * warehouse that already holds the 52-year history.
  */
final class DailyIncrement(spark: SparkSession, dir: Path, feed: Feed,
                           historyDays: Int, seed: Long)
    extends HistoryWarehouse(spark, dir, feed, historyDays) {
  val pipelineOps = true
  private var fed = historyDays

  private def dayFeed = dir.resolve(s"feed_$fed.txt")

  /** Warm-up: one untimed day, so the first timed op is not the first
    * one-row merge this JVM compiles.
    */
  override def prepare(): Unit = { beforeOp(-1); p.runPipeline(dayFeed.toString) }

  override def beforeOp(i: Int): Unit = {
    Files.deleteIfExists(dayFeed)
    fed += 1
    feed.writePrefix(dayFeed, fed)
  }

  def op(i: Int, ctx: Ctx): OpResult = Stages.oneDay(p, dayFeed, ctx)

  /** Every layer table equals a from-scratch load of the final feed, and
    * the values equal the feed's.
    */
  def finalCheck(): Seq[String] = {
    val fresh = Co2Pipeline(spark, dir.resolve("fresh").toString)
    fresh.runPipeline(dayFeed.toString)
    val (got, want) = (new Snapshot(p), new Snapshot(fresh))
    val m = feed.model(fed)
    Check.counts(got, fed, m.weeks.size) ++ Check.sameWarehouse(got, want) ++ Check.values(got, m)
  }

  /** Two rounds of the SQL mix on the final warehouse. */
  def probe(traced: (Ctx => OpResult) => OpResult): Seq[String] = {
    val mix = SqlMix.on(spark, p, root, feed, fed, 0,
      Seq(p.harmonized.state.get.version -> fed), seed)
    (1 to 2 * SqlMix.Classes.size).flatMap { _ =>
      val s = mix.next()
      traced(_ => s.result(spark)).error.map(e => s"probe ${s.cls}: $e")
    }
  }

  def bytesPerUserByte: Double = Main.duBytes(root).toDouble / Files.size(dayFeed)
}

/** One op = one read-only SQL statement through the `co2` catalog against
  * a warm warehouse: the history, two more harmonized days (so harmonized
  * has three versions to travel to), and two loaded but unharmonized days
  * on the stream.
  */
final class WarehouseSql(spark: SparkSession, dir: Path, feed: Feed,
                         historyDays: Int, seed: Long)
    extends HistoryWarehouse(spark, dir, feed, historyDays) {
  val pipelineOps = false
  val HarmonizedDays = 2
  val StreamDays = 2
  private var mix: SqlMix = _
  private var warmErrors = Seq.empty[String]
  private var streamFeed: Path = _
  private def feedOf(days: Int) =
    feed.writePrefix(dir.resolve(s"feed_$days.txt"), historyDays + days)

  override def prepare(): Unit = {
    val versions = scala.collection.mutable.ArrayBuffer(p.harmonized.state.get.version -> historyDays)
    for (d <- 1 to HarmonizedDays) {
      p.runPipeline(feedOf(d).toString)
      versions += p.harmonized.state.get.version -> (historyDays + d)
    }
    // loaded but not harmonized: the stream holds these days
    streamFeed = feedOf(HarmonizedDays + StreamDays)
    p.load(streamFeed.toString)
    mix = SqlMix.on(spark, p, root, feed, historyDays + HarmonizedDays, StreamDays,
      versions.toSeq, seed)
    warmErrors = for {
      _ <- 1 to 2
      c <- SqlMix.Classes
      s = mix.statement(c)
      e <- s.expect(s.run(spark)._1)
    } yield s"warm-up $c: $e"
  }

  /** Whole rounds of the mix, at least ten: every run times the same class
    * mix, so its median and tail fall in the same classes even when a slow
    * host completes fewer statements in `--seconds`.
    */
  override def enough(n: Int): Boolean = {
    val k = SqlMix.Classes.size
    n >= 10 * k && n % k == 0
  }

  private var next: Stmt = _
  override def beforeOp(i: Int): Unit = next = mix.next()

  def op(i: Int, ctx: Ctx): OpResult = next.result(spark)

  def finalCheck(): Seq[String] = warmErrors

  /** Three one-day runs on the SQL warehouse, which first harmonize the
    * stream's pending days.
    */
  def probe(traced: (Ctx => OpResult) => OpResult): Seq[String] =
    (1 to 3).flatMap { d =>
      val f = feedOf(HarmonizedDays + StreamDays + d)
      traced(ctx => Stages.oneDay(p, f, ctx)).error.map(e => s"probe day $d: $e")
    }

  def bytesPerUserByte: Double = Main.duBytes(root).toDouble / Files.size(streamFeed)
}
