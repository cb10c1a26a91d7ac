package graft.co2

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Date

/** NOAA Mauna Loa feed ingestion — distributed re-expression of the
  * reference's loader (/root/reference/udfs_and_spoc/loading_co2_data_sp/
  * loading_data_sp/function.py:109-193 and scripts/raw data loading and
  * stream creation/raw_co2_data.py:77-95).
  *
  * The parse runs on executors (spark.read.text + column expressions), not
  * driver-side pandas — the 100 TB-safe shape of the same semantics.
  */
object NoaaIngest {

  /** Parse the raw whitespace-delimited text feed. Comment (`#`) and blank
    * lines dropped; 5 leading columns Year Month Day Decimal_Date CO2_ppm;
    * an optional 6th column is tolerated and ignored; malformed numerics
    * coerce to null (pandas errors="coerce" parity).
    */
  def parseText(spark: SparkSession, path: String): DataFrame =
    parseLines(spark.read.text(path))

  /** Parse a feed delivered by any [[FeedSource]] (HTTP in production,
    * local file in tests). The text arrives driver-side — same as the
    * reference's `requests.get().text` — and parsing/typing still runs as
    * distributed column expressions.
    */
  def parseFeed(spark: SparkSession, source: FeedSource): DataFrame = {
    import spark.implicits._
    parseLines(source.fetchText().split("\n", -1).toSeq.toDF("value"))
  }

  private def parseLines(lines: DataFrame): DataFrame = {
    val t = trim(col("value"))
    val parts = split(t, "\\s+")
    // cast failures and textual NaN coerce to null (pandas errors="coerce")
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
        num(parts.getItem(4)).as("CO2_PPM")
      )
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

  /** Keep only rows strictly newer than the watermark (reference filters in
    * pandas at loading_data_sp/function.py:187-193; here it's a pushed-down
    * predicate).
    */
  def newerThan(df: DataFrame, wm: Option[Date]): DataFrame = wm match {
    case None => df
    case Some(d) => df.filter(rowDate > lit(d))
  }
}
