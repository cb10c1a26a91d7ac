package perfbench

import java.time.LocalDate
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import graft.changefeed.ChangeFeed
import graft.co2.Co2Pipeline

/** Every layer table of a warehouse, read once through the program's
  * public readers, without `META_UPDATED_AT` (a load-time stamp). The
  * stream holds its INSERT rows without the change-feed metadata.
  */
final class Snapshot(p: Co2Pipeline) {
  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.drop("META_UPDATED_AT").collect().toSeq
  val tables: Seq[(String, Seq[String], Seq[Row])] = Seq(
    ("CO2_DATA", Seq("YEAR", "MONTH", "DAY"), rows(p.raw.read)),
    ("CO2_DATA_STREAM", Seq("YEAR", "MONTH", "DAY"), rows(p.feed.log.read
      .filter(col(ChangeFeed.ACTION) === "INSERT").drop(ChangeFeed.metaColumns: _*))),
    ("HARMONIZED_CO2", Seq("DATE"), rows(p.harmonized.read)),
    ("DAILY_CO2_STATS", Seq("DATE"), rows(p.dailyStats.read)),
    ("WEEKLY_CO2_STATS", Seq("WEEK_START"), rows(p.weeklyStats.read)),
    ("_CO2_MINMAX", Seq("MIN_CO2"), rows(p.minMax.read)))
  def apply(name: String): Seq[Row] = tables.find(_._1 == name).get._3
  val offset: Long = p.harmonized.offsets.getOrElse(Co2Pipeline.STREAM_NAME, -1L)
  val lastBatch: Long = p.feed.lastBatchId
}

/** Correctness gates. Each returns the mismatches found; empty means pass. */
object Check {
  private val Tol = 1e-7

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= Tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) => close(x, y)
    case (x, y) => x == y
  }

  def sameOpt(a: Option[Double], b: Any): Boolean = (a, b) match {
    case (None, null) => true
    case (Some(x), y: Double) => close(x, y)
    case _ => false
  }

  /** Every layer table of `a` equals the same table of `b`, row by row on
    * the table's key.
    */
  def sameWarehouse(a: Snapshot, b: Snapshot): Seq[String] =
    a.tables.zip(b.tables).flatMap { case ((name, keys, x), (_, _, y)) =>
      def byKey(rs: Seq[Row]) = rs.map(r => keys.map(k => r.get(r.fieldIndex(k))) -> r).toMap
      val (kx, ky) = (byKey(x), byKey(y))
      val unmatched = (kx.keySet diff ky.keySet).size + (ky.keySet diff kx.keySet).size
      val differ = kx.count { case (k, r) =>
        ky.get(k).exists(o => r.schema != o.schema || (0 until r.length).exists(i => !same(r.get(i), o.get(i))))
      }
      if (unmatched == 0 && differ == 0 && kx.size == x.size && ky.size == y.size) Nil
      else Seq(s"$name: ${x.size} vs ${y.size} rows, $unmatched unmatched keys, $differ differ")
    }

  /** Row counts equal the days fed, and the harmonized table has consumed
    * the stream up to its last batch.
    */
  def counts(s: Snapshot, days: Int, weeks: Int): Seq[String] = {
    val want = Map("WEEKLY_CO2_STATS" -> weeks, "_CO2_MINMAX" -> 1).withDefaultValue(days)
    s.tables.collect { case (t, _, rs) if rs.size != want(t) => s"$t has ${rs.size} rows, want ${want(t)}" } ++
      (if (s.offset == s.lastBatch) Nil
       else Seq(s"harmonized offset ${s.offset}, stream last batch ${s.lastBatch}"))
  }

  /** Harmonized, daily, weekly and min/max values equal those computed
    * from the generated feed.
    */
  def values(s: Snapshot, m: Model): Seq[String] = {
    def d(r: Row, c: String) = r.getAs[java.sql.Date](c).toLocalDate
    def v(r: Row, c: String): Any = r.get(r.fieldIndex(c))
    def bad(t: String, n: Int)(ok: Row => Boolean) = {
      val rs = s(t)
      val wrong = rs.count(r => !ok(r))
      if (rs.size == n && wrong == 0) Nil
      else Seq(s"$t: ${rs.size} rows, want $n; $wrong differ from the feed")
    }
    def co2Ok(r: Row) = m.co2.get(d(r, "DATE")).exists(sameOpt(_, v(r, "CO2_PPM")))
    bad("HARMONIZED_CO2", m.days.size)(co2Ok) ++
      bad("DAILY_CO2_STATS", m.days.size)(r =>
        co2Ok(r) && sameOpt(m.prev(d(r, "DATE")), v(r, "PREV_DAY_CO2"))) ++
      bad("WEEKLY_CO2_STATS", m.weeks.size) { r =>
        val vs = m.weeks.getOrElse(d(r, "WEEK_START"), Vector.empty)
        def opt(f: Vector[Double] => Double) = if (vs.isEmpty) None else Some(f(vs))
        m.weeks.contains(d(r, "WEEK_START")) &&
          sameOpt(opt(x => x.sum / x.size), v(r, "AVG_WEEKLY_CO2")) &&
          sameOpt(opt(_.min), v(r, "WEEK_START_CO2")) && sameOpt(opt(_.max), v(r, "WEEK_END_CO2"))
      } ++
      bad("_CO2_MINMAX", 1)(r =>
        sameOpt(Some(m.nonNull.min), r.get(0)) && sameOpt(Some(m.nonNull.max), r.get(1)))
  }

  def dateLit(d: LocalDate): String = s"DATE'$d'"
}
