package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.co2.{Co2Pipeline, LocalFileSource, NoaaIngest}
import java.io.StringReader
import java.nio.file.Files
import java.time.LocalDate

/** The driver-side feed parser against the Spark-expression parse it
  * replaced, and its errors on malformed lines.
  */
class NoaaIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  /** The replaced parse: column expressions over `spark.read.text` lines,
    * under the session's casts, and its watermark filter.
    */
  private def sparkParse(lines: DataFrame): DataFrame = {
    val t = trim(col("value"))
    val parts = split(t, "\\s+")
    def num(c: org.apache.spark.sql.Column) =
      when(isnan(c.cast("double")), lit(null)).otherwise(c.cast("double"))
    lines
      .filter(t =!= "" && !t.startsWith("#"))
      .filter(size(parts) >= 5)
      .select(
        parts.getItem(0).cast("int").as("YEAR"),
        parts.getItem(1).cast("int").as("MONTH"),
        parts.getItem(2).cast("int").as("DAY"),
        num(parts.getItem(3)).as("DECIMAL_DATE"),
        num(parts.getItem(4)).as("CO2_PPM"))
  }

  private def sparkNewerThan(df: DataFrame, wm: LocalDate): DataFrame =
    df.filter(NoaaIngest.rowDate > lit(java.sql.Date.valueOf(wm)))

  private val feedText = Seq(
    "# CO2 data from Mauna Loa Observatory",
    "",
    "   ",
    "2024 12 30 2024.995 420.10",
    "2024 12 31 2024.997 420.20 0.35",
    "2025\t1\t1\t2025.000\t420.30",
    "   2025 1 2 2025.003 420.40",
    "2025 1 3 2025.005 nan",
    "2025 1 4 2025.008 NaN",
    "2025 1 5 NaN Infinity",
    "2025 1 6 2025.014 1e2",
    "+2025 +1 07 2025.016 -Infinity",
    "2025 1 8 2025.019",
    "2025 1",
    "#2025 1 9 2025.022 421.00",
    "2025 1 10 2025.025 421.10  \t ",
    "2025 1 11 2025.027 421.2 # trailing remark").mkString("\r\n") + "\r\n"

  test("the driver parse returns the Spark-expression parse's rows, with and without a watermark") {
    val f = Files.createTempFile("noaa_diff_", ".txt")
    Files.writeString(f, feedText)
    val want = sparkParse(spark.read.text(f.toString)).collect().toSeq
    assert(want.length == 11)
    assert(NoaaIngest.parse(new StringReader(feedText), "feed").rows == want)
    val df = NoaaIngest.parseText(spark, f.toString)
    assert(df.schema == graft.co2.Co2Schemas.raw && df.collect().toSeq == want)
    assert(NoaaIngest.parseFeed(spark, LocalFileSource(f.toString)).collect().toSeq == want)

    val wm = LocalDate.of(2025, 1, 4)
    val newer = sparkNewerThan(sparkParse(spark.read.text(f.toString)), wm).collect().toSeq
    val got = NoaaIngest.parse(new StringReader(feedText), "feed", Some(wm))
    assert(newer.length == 5 && got.rows == newer)
    assert(got.newest.contains(LocalDate.of(2025, 1, 11)))
    assert(NoaaIngest.parse(new StringReader(feedText), "feed",
      Some(LocalDate.of(2025, 1, 11))) == NoaaIngest.Parsed(Nil, None))
  }

  /** The error message of parsing `bad` as line 3 of a feed. */
  private def errorOn(bad: String): String = {
    val text = s"# header\n2025 1 1 2025.000 420.30\n$bad\n2025 1 3 2025.005 420.50\n"
    intercept[IllegalArgumentException] {
      NoaaIngest.parse(new StringReader(text), "test-feed")
    }.getMessage
  }

  test("a malformed feed line fails naming the feed and its 1-based line number") {
    Seq(
      "2025 1 x 2025.003 420.40" -> "DAY 'x' is not an integer",
      "2025 2 30 2025.160 420.40" -> "FEBRUARY 30",
      "2025 13 1 2025.160 420.40" -> "MonthOfYear",
      "99999 1 1 2025.003 420.40" -> "YEAR 99999 is outside 1..9999",
      "0 1 1 2025.003 420.40" -> "YEAR 0 is outside 1..9999",
      "2025.0 1 2 2025.003 420.40" -> "YEAR '2025.0' is not an integer",
      "2025 1 2 2025.003 4x0.40" -> "CO2_PPM '4x0.40' is not a number",
      "2025 1 2 - 420.40" -> "DECIMAL_DATE '-' is not a number",
      "2025 1 99999999999 2025.003 420.40" -> "DAY '99999999999' is not an integer"
    ).foreach { case (bad, why) =>
      val msg = errorOn(bad)
      assert(msg.startsWith("malformed line 3 of feed test-feed: "), msg)
      assert(msg.contains(why) && msg.endsWith(s"'$bad'"), msg)
    }
  }

  test("a malformed line fails the load, naming the feed file, and commits nothing") {
    val dir = Files.createTempDirectory("noaa_bad_")
    val p = Co2Pipeline(spark, dir.resolve("wh").toString)
    val feed = dir.resolve("feed.txt")
    Files.writeString(feed, "2025 1 1 2025.000 420.30\n2025 1 2 2025.003 420.40\n")
    assert(p.load(feed.toString) == 2)
    val before = p.raw.state.get.version
    // a 5-digit year must not load: as a 9999-01-01 watermark it would
    // leave no later day newer
    Files.writeString(feed, "2025 1 1 2025.000 420.30\n2025 1 2 2025.003 420.40\n" +
      "99999 1 1 2025.005 420.50\n", java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    val e = intercept[IllegalArgumentException](p.load(feed.toString))
    assert(e.getMessage.startsWith(s"malformed line 3 of feed $feed: YEAR 99999"), e.getMessage)
    val viaSource = intercept[IllegalArgumentException](p.load(LocalFileSource(feed.toString)))
    assert(viaSource.getMessage.startsWith(
      s"malformed line 3 of feed LocalFileSource($feed): "), viaSource.getMessage)
    assert(p.raw.state.get.version == before && p.feed.lastBatchId == 1)

    Files.writeString(feed, "2025 1 1 2025.000 420.30\n2025 1 2 2025.003 420.40\n" +
      "2025 1 3 2025.005 420.50\n", java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    assert(p.load(feed.toString) == 1)
    assert(p.raw.read.filter($"DAY" === 3).as[(Int, Int, Int, Double, Double)].collect()
      .sameElements(Seq((2025, 1, 3, 2025.005, 420.5))))
  }
}
