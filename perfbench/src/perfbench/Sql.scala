package perfbench

import java.nio.file.Path
import java.time.LocalDate
import org.apache.spark.sql.{Row, SparkSession}
import graft.co2.Co2Pipeline

/** A read-only statement and the check of its result against the feed. */
final case class Stmt(cls: String, sql: String, expect: Seq[Row] => Option[String]) {
  /** Runs the statement: its rows and its time split in three, measured
    * around `spark.sql` (parsing and analysis; a CALL also runs there),
    * forcing the physical plan (optimization and planning) and `collect`.
    */
  def run(spark: SparkSession): (Seq[Row], Map[String, Double]) = {
    def ms(t: Long) = (System.nanoTime() - t) / 1e6
    var t = System.nanoTime()
    val df = spark.sql(sql)
    val analyze = ms(t)
    t = System.nanoTime()
    df.queryExecution.executedPlan
    val plan = ms(t)
    t = System.nanoTime()
    val rows = df.collect().toSeq
    (rows, Map(s"sql.$cls.analyze_ms" -> analyze, s"sql.$cls.plan_ms" -> plan,
      s"sql.$cls.exec_ms" -> ms(t)))
  }

  def result(spark: SparkSession): OpResult = {
    val (rows, m) = run(spark)
    OpResult(cls, expect(rows), m)
  }
}

/** The seeded statement mix over a warehouse registered as catalog `co2`:
  * `harm` is what the harmonized table holds, `pending` the days loaded
  * but not harmonized, `versions` harmonized versions with the days each
  * holds, `commits` each history table's commit versions.
  */
final class SqlMix(feed: Feed, harm: Model, pending: Seq[(LocalDate, Option[Double])],
                   versions: Seq[(Long, Int)], commits: Map[String, Seq[Long]],
                   rng: java.util.Random) {
  import SqlMix._

  private val models = scala.collection.mutable.Map[Int, Model]()
  /** Times each class was drawn: its variants alternate. */
  private val drawn = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
  private var round = List.empty[String]

  /** Statements come in rounds holding each class once, in a seeded
    * order, so every run has the same class mix whatever its seed.
    */
  def next(): Stmt = {
    if (round.isEmpty) round = new scala.util.Random(rng).shuffle(Classes).toList
    val s = statement(round.head)
    round = round.tail
    s
  }

  def statement(cls: String): Stmt = {
    val k = drawn(cls)
    drawn(cls) = k + 1
    variant(cls, k)
  }

  private def want(ok: Boolean, got: Seq[Row], what: => String) =
    if (ok) None else Some(s"got ${got.mkString(" ")}, want $what")
  private def sum(vs: Seq[Option[Double]]) = vs.flatten.sum
  private def long(r: Row, i: Int) = r.getAs[Number](i).longValue
  private def randomDay(): LocalDate = harm.days(rng.nextInt(harm.days.size))._1
  private def range(): (LocalDate, LocalDate) = {
    val a = randomDay()
    (a, a.plusDays(30 + rng.nextInt(700)))
  }

  private def variant(cls: String, k: Int): Stmt = cls match {
    case "range_scan" if k % 2 == 0 =>
      val (a, b) = range()
      val in = harm.in(a, b)
      val co2 = in.map(_._2)
      val prev = in.map { case (d, _) => harm.prev(d) }
      Stmt(cls, s"""SELECT count(*), count(CO2_PPM), sum(CO2_PPM), sum(PREV_DAY_CO2)
        |FROM co2.ANALYTICS_CO2.DAILY_CO2_STATS
        |WHERE DATE BETWEEN ${Check.dateLit(a)} AND ${Check.dateLit(b)}""".stripMargin,
        r => want(r.size == 1 && r.head.getLong(0) == in.size &&
          r.head.getLong(1) == co2.flatten.size &&
          Check.close(r.head.getDouble(2), sum(co2)) && Check.close(r.head.getDouble(3), sum(prev)),
          r, s"${in.size} days, sum ${sum(co2)}, prev sum ${sum(prev)}"))
    case "range_scan" =>
      val (a, b) = range()
      val ws = harm.weeks.filter { case (w, _) => !w.isBefore(a) && !w.isAfter(b) }
      val avg = ws.values.filter(_.nonEmpty).map(v => v.sum / v.size).sum
      Stmt(cls, s"""SELECT count(*), sum(AVG_WEEKLY_CO2)
        |FROM co2.ANALYTICS_CO2.WEEKLY_CO2_STATS
        |WHERE WEEK_START BETWEEN ${Check.dateLit(a)} AND ${Check.dateLit(b)}""".stripMargin,
        r => want(r.size == 1 && r.head.getLong(0) == ws.size &&
          Check.close(r.head.getDouble(1), avg), r, s"${ws.size} weeks, avg sum $avg"))
    case "point_lookup" if k % 2 == 0 =>
      val d = randomDay()
      Stmt(cls, s"""SELECT CO2_PPM, PREV_DAY_CO2 FROM co2.ANALYTICS_CO2.DAILY_CO2_STATS
        |WHERE DATE = ${Check.dateLit(d)}""".stripMargin,
        r => want(r.size == 1 && Check.sameOpt(harm.co2(d), r.head.get(0)) &&
          Check.sameOpt(harm.prev(d), r.head.get(1)), r, s"${harm.co2(d)}, ${harm.prev(d)}"))
    case "point_lookup" =>
      val d = randomDay()
      Stmt(cls, s"""SELECT YEAR, MONTH, DAY, CO2_PPM FROM co2.HARMONIZED_CO2.HARMONIZED_CO2
        |WHERE DATE = ${Check.dateLit(d)}""".stripMargin,
        r => want(r.size == 1 && long(r.head, 0) == d.getYear && long(r.head, 1) == d.getMonthValue &&
          long(r.head, 2) == d.getDayOfMonth && Check.sameOpt(harm.co2(d), r.head.get(3)),
          r, s"$d ${harm.co2(d)}"))
    case "time_travel" =>
      val (v, n) = versions(rng.nextInt(versions.size))
      val m = models.getOrElseUpdate(n, feed.model(n))
      Stmt(cls, s"""SELECT count(*), max(DATE), sum(CO2_PPM)
        |FROM co2.HARMONIZED_CO2.HARMONIZED_CO2 VERSION AS OF $v""".stripMargin,
        r => want(r.size == 1 && r.head.getLong(0) == n &&
          r.head.getDate(1).toLocalDate == m.last && Check.close(r.head.getDouble(2), sum(m.days.map(_._2))),
          r, s"$n days to ${m.last}"))
    case "stream_read" =>
      val co2 = pending.map(_._2)
      Stmt(cls, s"""SELECT count(*), count(CO2_PPM), sum(CO2_PPM)
        |FROM co2.RAW_CO2.CO2_DATA_STREAM WHERE `METADATA$$ACTION` = 'INSERT'""".stripMargin,
        r => want(r.size == 1 && r.head.getLong(0) == pending.size &&
          r.head.getLong(1) == co2.flatten.size &&
          (co2.flatten.isEmpty || Check.close(r.head.getDouble(2), sum(co2))),
          r, s"${pending.size} pending rows, sum ${sum(co2)}"))
    case "history_call" =>
      val t = HistoryTables(k % HistoryTables.size)
      Stmt(cls, s"CALL co2.system.history('$t')",
        r => want(r.map(_.getLong(0)) == commits(t), r.take(3), s"versions ${commits(t).mkString(",")}"))
  }
}

object SqlMix {
  val Classes = Seq("range_scan", "point_lookup", "time_travel", "stream_read", "history_call")
  val HistoryTables = Seq("HARMONIZED_CO2.HARMONIZED_CO2", "ANALYTICS_CO2.DAILY_CO2_STATS",
    "RAW_CO2.CO2_DATA")

  /** Registers `p`'s warehouse (at `root`) as catalog `co2` and returns
    * the mix over it. `harmonized` days of the feed are harmonized and the
    * next `pending` days loaded only.
    */
  def on(spark: SparkSession, p: Co2Pipeline, root: Path, feed: Feed, harmonized: Int,
         pending: Int, versions: Seq[(Long, Int)], seed: Long): SqlMix = {
    p.registerCatalog("co2")
    val commits = HistoryTables.map(t => t -> graft.storage.VersionedTable(
      spark, root.resolve(t.replace('.', '/')).toString).versions).toMap
    new SqlMix(feed, feed.model(harmonized), feed.days.slice(harmonized, harmonized + pending),
      versions, commits, new java.util.Random(seed))
  }
}
