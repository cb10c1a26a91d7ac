package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.changefeed.ChangeFeed
import graft.sql.GraftCatalog
import graft.storage.VersionedTable

/** One read path: SQL reads plan the table's own parquet relation, and
  * part skipping is one optimizer rule that SQL, `readWhere` and plain
  * `read.filter` share.
  */
class ReadPathSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("readpath").toString

  /** Three appends with disjoint `id` ranges: 1..99, 100..199, 200..299. */
  private def threeParts(root: String): VersionedTable = {
    val t = VersionedTable(spark, root)
    Seq(0L, 100L, 200L).foreach { lo =>
      t.append(Seq((lo + 1L, s"t$lo", 1.0), (lo + 99L, s"u$lo", 2.0))
        .toDF("id", "tag", "x"))
    }
    t
  }

  /** Do `files` lie in exactly the parts `want` of `t`'s latest state? */
  private def inParts(t: VersionedTable, files: Array[String], want: Int*): Boolean = {
    val dirs = t.state.get.parts.map(_.dir)
    files.nonEmpty && files.forall(f => want.exists(i => f.contains(dirs(i)))) &&
      want.forall(i => files.exists(_.contains(dirs(i))))
  }

  test("a filtered SQL SELECT opens fewer files than the unfiltered one") {
    val wh = tmp()
    val t = threeParts(s"$wh/NS/T")
    GraftCatalog.register(spark, "rp1", wh)
    val all = spark.sql("SELECT * FROM rp1.NS.T").inputFiles
    val some = spark.sql("SELECT id FROM rp1.NS.T WHERE id >= 200").inputFiles
    assert(inParts(t, all, 0, 1, 2), all.toSeq)
    assert(inParts(t, some, 2) && some.length < all.length, some.toSeq)
    assert(spark.sql("SELECT id FROM rp1.NS.T WHERE id >= 200")
      .as[Long].collect().sorted.toSeq == Seq(201L, 299L))
    // the range scan plans the parquet relation itself, filters pushed
    val plan = spark.sql("SELECT id FROM rp1.NS.T WHERE id >= 200")
      .queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet") &&
      plan.contains("PushedFilters: [GreaterThanOrEqual(id,200)]"), plan)
  }

  test("read.filter skips parts exactly as readWhere does") {
    val t = threeParts(tmp())
    val cond = col("id") >= 100L && col("id") < 200L
    val viaFilter = t.read.filter(cond).inputFiles.sorted
    assert(inParts(t, viaFilter, 1), viaFilter.toSeq)
    assert(viaFilter.toSeq == t.readWhere(cond).inputFiles.sorted.toSeq)
    assert(t.read.filter(cond).as[(Long, String, Double)].collect()
      .map(_._1).sorted.toSeq == Seq(101L, 199L))
    // a filter no part can satisfy opens nothing and returns nothing
    assert(t.read.filter(col("id") > 1000L).inputFiles.isEmpty)
    assert(t.read.filter(col("id") > 1000L).count() == 0)
  }

  test("an IN list longer than the InSet threshold still prunes") {
    val t = threeParts(tmp())
    val probe = (250L to 265L).toSeq // 16 values: OptimizeIn makes an InSet
    assert(probe.size > 10)
    val df = t.read.filter(col("id").isin(probe: _*) || col("id") === 299L)
    // an OR is not a prunable conjunct; the IN alone is
    assert(inParts(t, df.inputFiles, 0, 1, 2))
    val in = t.read.filter(col("id").isin((probe :+ 299L): _*))
    assert(in.queryExecution.optimizedPlan.toString.contains("INSET"),
      in.queryExecution.optimizedPlan)
    assert(inParts(t, in.inputFiles, 2), in.inputFiles.toSeq)
    assert(in.as[(Long, String, Double)].collect().map(_._1).toSeq == Seq(299L))
    assert(t.pruneStats(col("id").isin(probe: _*)) == (1, 3))
  }

  test("SQL reads of graft tables in every read position") {
    val wh = tmp()
    val t = threeParts(s"$wh/NS/T")
    VersionedTable(spark, s"$wh/NS/K").overwrite(Seq(1L, 299L).toDF("id"))
    GraftCatalog.register(spark, "rp2", wh)
    def ids(sql: String): Seq[Long] =
      spark.sql(sql).as[Long].collect().sorted.toSeq

    // self-join: the two reads keep distinct attributes
    assert(ids("""SELECT a.id FROM rp2.NS.T a JOIN rp2.NS.T b
                 |ON a.id = b.id + 98""".stripMargin) == Seq(99L, 199L, 299L))
    // IN-subquery over another graft table
    assert(ids("SELECT id FROM rp2.NS.T WHERE id IN (SELECT id FROM rp2.NS.K)") ==
      Seq(1L, 299L))
    // CTE
    assert(ids("""WITH hi AS (SELECT id FROM rp2.NS.T WHERE id >= 200)
                 |SELECT h1.id FROM hi h1 JOIN hi h2 ON h1.id = h2.id""".stripMargin) ==
      Seq(201L, 299L))
    // VERSION AS OF with a WHERE: version 2 holds the first two parts
    assert(ids("SELECT id FROM rp2.NS.T VERSION AS OF 2 WHERE id > 50") ==
      Seq(99L, 101L, 199L))
    assert(inParts(t, spark.sql(
      "SELECT id FROM rp2.NS.T VERSION AS OF 2 WHERE id > 150").inputFiles, 1))
    // INSERT ... SELECT from a graft table, into the same table
    spark.sql("INSERT INTO rp2.NS.T SELECT id + 1000, tag, x FROM rp2.NS.T WHERE id < 100")
    assert(t.state.get.version == 4)
    assert(ids("SELECT id FROM rp2.NS.T WHERE id > 1000") == Seq(1001L, 1099L))
    // MERGE ... USING a graft table
    VersionedTable(spark, s"$wh/NS/M").overwrite(
      Seq((1L, "m", 9.0), (5L, "n", 9.0)).toDF("id", "tag", "x"))
    val merged = spark.sql(
      """MERGE INTO rp2.NS.T t USING rp2.NS.M s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(merged.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 1L)))
    assert(spark.sql("SELECT tag FROM rp2.NS.T WHERE id IN (1, 5)")
      .as[String].collect().sorted.toSeq == Seq("m", "n"))
  }

  test("a SQL WHERE on a netted stream window equals the filter on pending") {
    val wh = tmp()
    val feed = ChangeFeed(spark, "NS.S", s"$wh/NS/S")
    feed.publish(Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("k", "v"))
    feed.publishUpdate(Seq((2, 20.0)).toDF("k", "v"), Seq((2, 21.0)).toDF("k", "v"))
    feed.publish(Seq((3, 30.0)).toDF("k", "v"), action = "DELETE")
    GraftCatalog.defineStream(spark, wh, "NS/S", "NS.S", "NS.SRC", "NS/CONSUMER")
    GraftCatalog.register(spark, "rp3", wh)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", ChangeFeed.ACTION, ChangeFeed.IS_UPDATE)
        .collect().map(_.toString).sorted.toSeq
    val sql = spark.sql(
      "SELECT * FROM rp3.NS.S WHERE `METADATA$ACTION` = 'INSERT'")
    val direct = feed.pending(0).filter(col(ChangeFeed.ACTION) === "INSERT")
    // the window nets: (3, 30.0) inserted and deleted vanishes, the update
    // keeps its new image only
    assert(rows(sql) == Seq("[1,10.0,INSERT,false]", "[2,21.0,INSERT,true]"))
    assert(rows(sql) == rows(direct))
    assert(rows(spark.sql("SELECT * FROM rp3.NS.S")) == rows(feed.pending(0)))
    // the netted columns keep the log's committed NOT NULL
    val streamSchema = spark.table("rp3.NS.S").schema
    assert(!streamSchema("k").nullable && !streamSchema("v").nullable, streamSchema)
    spark.sql("CREATE TABLE rp3.NS.OUT (k INT NOT NULL, v DOUBLE NOT NULL)")
    spark.sql("INSERT INTO rp3.NS.OUT SELECT k, v FROM rp3.NS.S")
    assert(spark.table("rp3.NS.OUT").as[(Int, Double)].collect().sorted.toSeq ==
      Seq((1, 10.0), (2, 21.0)))
  }

  test("a committed NOT NULL column stays enforced on SQL writes") {
    val wh = tmp()
    threeParts(s"$wh/NS/T")
    GraftCatalog.register(spark, "rp4", wh)
    spark.sql("CREATE TABLE rp4.NS.NN (id BIGINT NOT NULL, tag STRING)")
    val nn = VersionedTable(spark, s"$wh/NS/NN")
    val v0 = nn.state.get.version
    intercept[Exception](spark.sql("INSERT INTO rp4.NS.NN VALUES (NULL, 'a')"))
    assert(nn.state.get.version == v0)
    assert(!spark.table("rp4.NS.NN").schema("id").nullable)
    // INSERT ... SELECT from a graft table into the NOT NULL target
    spark.sql("INSERT INTO rp4.NS.NN SELECT id, tag FROM rp4.NS.T WHERE id >= 200")
    assert(spark.sql("SELECT id FROM rp4.NS.NN").as[Long].collect().sorted.toSeq ==
      Seq(201L, 299L))
    assert(!nn.schema("id").nullable)
  }

  test("SQL DELETE takes any condition but a subquery") {
    val wh = tmp()
    val t = threeParts(s"$wh/NS/T")
    VersionedTable(spark, s"$wh/NS/K").overwrite(Seq(1L).toDF("id"))
    GraftCatalog.register(spark, "rp5", wh)
    // a condition no sources.Filter expresses
    spark.sql("DELETE FROM rp5.NS.T WHERE id % 100 = 99 AND length(tag) = 2")
    assert(spark.sql("SELECT id FROM rp5.NS.T").as[Long].collect().sorted.toSeq ==
      Seq(1L, 101L, 199L, 201L, 299L))
    val v = t.state.get.version
    val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(
      "DELETE FROM rp5.NS.T WHERE id IN (SELECT id FROM rp5.NS.K)"))
    assert(e.getMessage.contains("subquery"), e.getMessage)
    intercept[org.apache.spark.sql.AnalysisException](spark.sql(
      """DELETE FROM rp5.NS.T o
        |WHERE EXISTS (SELECT 1 FROM rp5.NS.K k WHERE k.id = o.id)""".stripMargin))
    assert(t.state.get.version == v)
  }

  test("SQL UPDATE rejects a correlated subquery and runs an uncorrelated one") {
    val wh = tmp()
    val t = threeParts(s"$wh/NS/T")
    VersionedTable(spark, s"$wh/NS/K").overwrite(Seq(1L, 299L).toDF("id"))
    GraftCatalog.register(spark, "rp6", wh)
    def tags = spark.sql("SELECT id, tag FROM rp6.NS.T").as[(Long, String)].collect().toMap
    val before = tags
    val v = t.state.get.version
    val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(
      """UPDATE rp6.NS.T o SET tag = 'k'
        |WHERE EXISTS (SELECT 1 FROM rp6.NS.K k WHERE k.id = o.id)""".stripMargin))
    assert(e.getCondition == "UNSUPPORTED_FEATURE.TABLE_OPERATION" &&
      e.getMessage.contains("correlated subquery"), e.getMessage)
    intercept[org.apache.spark.sql.AnalysisException](spark.sql(
      """UPDATE rp6.NS.T o SET tag = (SELECT max(CAST(k.id AS STRING))
        |  FROM rp6.NS.K k WHERE k.id = o.id)""".stripMargin))
    assert(t.state.get.version == v && tags == before)
    spark.sql("UPDATE rp6.NS.T SET tag = 'k' WHERE id IN (SELECT id FROM rp6.NS.K)")
    assert(tags == before ++ Map(1L -> "k", 299L -> "k"))
  }

  test("pending opens only the unconsumed parts of the stream log") {
    val feed = ChangeFeed(spark, "s", tmp() + "/log")
    (1 to 3).foreach(i => feed.publish(Seq((i, i * 1.0)).toDF("k", "v")))
    val batch3 = feed.log.state.get.parts.last.dir
    val files = feed.pending(2).inputFiles
    assert(files.nonEmpty && files.forall(_.contains(batch3)), files.toSeq)
    assert(feed.pending(2).select("k").as[Int].collect().toSeq == Seq(3))
    assert(feed.pendingAppendOnly(2).inputFiles.toSeq == files.toSeq)
  }
}
