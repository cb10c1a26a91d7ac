package graft.co2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import java.io.{BufferedReader, InputStreamReader, Reader, StringReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Date
import java.time.{DateTimeException, LocalDate}
import java.util.Locale
import scala.jdk.CollectionConverters._
import scala.util.Using

/** NOAA Mauna Loa feed ingestion: the reference's loader
  * (udfs_and_spoc/loading_co2_data_sp/loading_data_sp/function.py:109-193
  * and scripts/raw data loading and stream creation/raw_co2_data.py:77-95).
  *
  * The feed is one small text document, which the reference parses in one
  * pandas process. It is parsed here on the driver, in one pass that also
  * applies the watermark, so a day's load hands Spark only its new rows as
  * one local relation and no Spark job reads the whole feed.
  */
object NoaaIngest {

  /** The feed rows dated after a watermark, and the newest of their dates. */
  final case class Parsed(rows: Seq[Row], newest: Option[LocalDate])

  /** Parse the whitespace-delimited feed text `in`, keeping the rows dated
    * after `after` (every row when None). Comment (`#`) and blank lines,
    * and lines of fewer than 5 fields, are dropped. The 5 leading fields
    * are Year Month Day Decimal_Date CO2_ppm; a 6th or later field is
    * ignored. The numbers read as Spark's string casts read them, and a
    * textual NaN becomes null (pandas errors="coerce" parity). Any other
    * field that is not a number, a date that does not exist and a YEAR
    * outside 1..9999 fail, naming `feed` and the 1-based line number.
    */
  def parse(in: Reader, feed: String, after: Option[LocalDate] = None): Parsed = {
    val lines = new BufferedReader(in)
    val rows = Seq.newBuilder[Row]
    var newest = Option.empty[LocalDate]
    var n = 0
    var line = lines.readLine()
    while (line != null) {
      n += 1
      val f = line.trim.split("\\s+")
      if (f.length >= 5 && !f(0).startsWith("#")) {
        val (date, row) = try fields(f) catch {
          case e @ (_: IllegalArgumentException | _: DateTimeException) =>
            throw new IllegalArgumentException(
              s"malformed line $n of feed $feed: ${e.getMessage}: '$line'", e)
        }
        if (after.forall(date.isAfter)) {
          rows += row
          if (newest.forall(date.isAfter)) newest = Some(date)
        }
      }
      line = lines.readLine()
    }
    Parsed(rows.result(), newest)
  }

  /** [[parse]] of the feed at `path`, any Hadoop path, read as UTF-8. */
  def parsePath(spark: SparkSession, path: String, after: Option[LocalDate]): Parsed = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Using.resource(new InputStreamReader(fs.open(p), UTF_8))(parse(_, path, after))
  }

  /** [[parse]] of the text a [[FeedSource]] fetches. */
  def parseSource(source: FeedSource, after: Option[LocalDate]): Parsed =
    parse(new StringReader(source.fetchText()), source.toString, after)

  /** `rows` as one local relation of [[Co2Schemas.raw]] in one partition,
    * so that each write of it makes one data file.
    */
  def frame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, Co2Schemas.raw).coalesce(1)

  /** Every row of the feed file at `path`, as a DataFrame ([[parse]]). */
  def parseText(spark: SparkSession, path: String): DataFrame =
    frame(spark, parsePath(spark, path, None).rows)

  /** Every row of a feed delivered by any [[FeedSource]] (HTTP in
    * production, a local file in tests), as a DataFrame ([[parse]]).
    */
  def parseFeed(spark: SparkSession, source: FeedSource): DataFrame =
    frame(spark, parseSource(source, None).rows)

  private val IntField = "[+-]?[0-9]+".r

  /** One line's date and raw row from its first 5 fields. */
  private def fields(f: Array[String]): (LocalDate, Row) = {
    def int(i: Int, name: String): Int =
      Some(f(i)).filter(IntField.matches).flatMap(_.toIntOption).getOrElse(
        throw new IllegalArgumentException(s"$name '${f(i)}' is not an integer"))
    val year = int(0, "YEAR")
    if (year < 1 || year > 9999)
      throw new IllegalArgumentException(s"YEAR $year is outside 1..9999")
    val date = LocalDate.of(year, int(1, "MONTH"), int(2, "DAY"))
    (date, Row(year, date.getMonthValue, date.getDayOfMonth,
      num(f(3), "DECIMAL_DATE"), num(f(4), "CO2_PPM")))
  }

  /** Spark's string-to-double cast: Java's syntax, else its special
    * literals; NaN becomes null.
    */
  private def num(s: String, name: String): java.lang.Double = {
    val d = try java.lang.Double.parseDouble(s) catch {
      case _: NumberFormatException => s.toLowerCase(Locale.ROOT) match {
        case "inf" | "+inf" | "infinity" | "+infinity" => Double.PositiveInfinity
        case "-inf" | "-infinity" => Double.NegativeInfinity
        case "nan" | "+nan" | "-nan" => Double.NaN
        case _ => throw new IllegalArgumentException(s"$name '$s' is not a number")
      }
    }
    if (d.isNaN) null else d
  }

  /** Regex-extraction fallback mirroring the reference's
    * `re.findall(r"\s*(\d{4})\s+(\d{1,2})\s+(\d{1,2})\s+(\d{4}\.\d+)\s+(\d+\.\d+)")`
    * (loading_data_sp/function.py:124-145).
    */
  def parseTextRegex(spark: SparkSession, path: String): DataFrame = {
    val re = "^\\s*(\\d{4})\\s+(\\d{1,2})\\s+(\\d{1,2})\\s+(\\d{4}\\.\\d+)\\s+(\\d+\\.\\d+)"
    val v = col("value")
    spark.read.text(path)
      .filter(regexp_extract(v, re, 1) =!= "")
      .select(
        regexp_extract(v, re, 1).cast("int").as("YEAR"),
        regexp_extract(v, re, 2).cast("int").as("MONTH"),
        regexp_extract(v, re, 3).cast("int").as("DAY"),
        regexp_extract(v, re, 4).cast("double").as("DECIMAL_DATE"),
        regexp_extract(v, re, 5).cast("double").as("CO2_PPM")
      )
  }

  /** Typed CSV read of the staged per-year layout
    * `stageDir/YEAR=YYYY/ *.csv` (COPY INTO parity: header skipped, quoted
    * fields, ''/'NULL' as null, trimmed, malformed rows dropped —
    * ON_ERROR=CONTINUE).
    */
  def readStagedCsv(spark: SparkSession, stageDir: String): DataFrame =
    spark.read
      .schema(Co2Schemas.raw)
      .option("header", "true")
      .option("quote", "\"")
      .option("nullValue", "NULL")
      .option("ignoreLeadingWhiteSpace", "true")
      .option("ignoreTrailingWhiteSpace", "true")
      .option("mode", "DROPMALFORMED")
      .option("pathGlobFilter", "*.csv")
      .option("recursiveFileLookup", "true")
      .csv(stageDir)

  /** Stage write: one CSV per year, Hive-partitioned — the reference's
    * `{stage}/{year}/co2_daily_mlo.csv` layout done with a distributed
    * writer (loading_data_sp/function.py:222-248).
    */
  def writeStage(df: DataFrame, stageDir: String): Unit =
    // partition dirs keyed on a copy so the YEAR column stays in the files
    // (the reference's per-year CSVs carry all five columns); repartition by
    // the same key → exactly one file per year.
    df.withColumn("_YR", col("YEAR"))
      .repartition(col("_YR"))
      .write.partitionBy("_YR")
      .option("header", "true")
      .mode("overwrite")
      .csv(stageDir)

  /** Stage cleanup (S12): delete staged files matching a glob pattern —
    * `REMOVE @RAW_CO2.USER_TEMP_STAGE PATTERN='co2_data_.*'` parity
    * (loading_data_sp/function.py:362). Returns paths removed.
    */
  def removeStaged(spark: SparkSession, globPath: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(globPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matches = Option(fs.globStatus(p)).getOrElse(Array.empty)
    matches.map { st =>
      fs.delete(st.getPath, true)
      st.getPath.toString
    }.toSeq
  }

  /** A row's date, the watermark's measure: TO_DATE(CONCAT(LPAD(YEAR..),-,
    * LPAD(MONTH..),-,LPAD(DAY..))) (loading_data_sp/function.py:41-49).
    */
  def rowDate: Column =
    to_date(concat_ws("-",
      lpad(col("YEAR").cast("string"), 4, "0"),
      lpad(col("MONTH").cast("string"), 2, "0"),
      lpad(col("DAY").cast("string"), 2, "0")), "yyyy-MM-dd")

  /** Ingest high-watermark: MAX([[rowDate]]). None on empty. */
  def watermark(raw: DataFrame): Option[Date] = {
    val d = raw.agg(max(rowDate).as("wm")).collect().head
    if (d.isNullAt(0)) None else Some(d.getDate(0))
  }
}
