package graft

import org.scalatest.funsuite.AnyFunSuite

/** EP3 parity: the raw-SQL entry point. Tables registered as temp views,
  * queries expressed as SQL text through SparkSqlParser — including the
  * SQL-registered function surface (call_udf names).
  */
class SqlSurfaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  private def register(): Unit =
    Seq("lineitem", "orders", "customer", "documents").foreach { n =>
      Tables(spark, dir, n).createOrReplaceTempView(n)
    }

  test("aggregation + window + EXISTS all parse and run as SQL text") {
    register()
    val agg = spark.sql(
      """SELECT l_returnflag, SUM(l_quantity) s FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin).collect()
    assert(agg.nonEmpty && agg.forall(_.getDouble(1) > 0))

    val win = spark.sql(
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) rk
        |  FROM orders) WHERE rk = 1""".stripMargin)
    assert(win.count() > 0)

    val exists = spark.sql(
      """SELECT count(*) FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin)
      .head.getLong(0)
    assert(exists > 0)
  }

  test("registered scalar functions are callable from SQL") {
    register()
    val r = spark.sql(
      """SELECT CALCULATE_CO2_VOLATILITY(420.5, 418.2) v,
        |       CO2_DAILY_PERCENT_CHANGE(418.2, 420.5) p,
        |       NORMALIZE_CO2_UDF(5.0, 0.0, 10.0) n,
        |       TOKEN_COUNT('one two three') t""".stripMargin).head
    assert(r.getDouble(0) > 0 && r.getDouble(1) > 0)
    assert(r.getDouble(2) == 0.5)
    assert(r.getInt(3) == 3)
  }

  test("extension-injected native functions plan as Catalyst expressions") {
    register()
    val r = spark.sql(
      """SELECT simhash64('the quick brown fox') s1,
        |       simhash64('the quick  BROWN fox') s2,
        |       rolling_fingerprint(' Hello  World ') f1,
        |       rolling_fingerprint('hello world') f2,
        |       quality_score('the quick brown fox jumps over the lazy dog') q,
        |       lang_id('der hund ist nicht da') l,
        |       cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                         array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) c,
        |       sig_agreement(minhash_text('a b c d e', 3, 64),
        |                     minhash_text('a b c d e', 3, 64)) a""".stripMargin).head
    assert(r.getLong(0) != 0L)
    assert(r.getLong(2) == r.getLong(3)) // fingerprint normalization
    // SQL-reproducible simhash spec is SQL-callable too
    val m = spark.sql(
      "SELECT md5_simhash60('the quick brown fox'), md5_simhash60('the quick  BROWN fox')").head
    assert(m.getLong(0) == m.getLong(1) && m.getLong(0) != 0L)
    assert(r.getDouble(4) > 0 && r.getDouble(4) <= 1)
    assert(r.getString(5) == "de")
    assert(math.abs(r.getDouble(6) - 1.0) < 1e-12)
    assert(r.getDouble(7) == 1.0)
    // round-4 kernels are SQL-callable with the same exact semantics
    val t = spark.sql(
      "SELECT trigram_stats('a b a b a b a b'), size(ngram_hashes('a b c d e', 3))").head
    assert(t.getStruct(0).getInt(0) == 6 && t.getStruct(0).getInt(1) == 2)
    assert(t.getInt(1) == 3)

    // planned as native expressions, not UDF wrappers
    val plan = spark.sql("SELECT quality_score(text) FROM documents")
      .queryExecution.analyzed.toString
    assert(plan.contains("quality_score") && !plan.contains("UDF"), plan)
  }

  test("round-4 kernel expressions stay codegen'd — no interpreted fallback") {
    // fallback=false makes Spark THROW if doGenCode fails to compile, so a
    // green run proves the kernels live inside whole-stage codegen
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      register()
      val r = spark.sql(
        """SELECT sum(trigram_stats(text).n_grams - trigram_stats(text).n_distinct) rep,
          |       sum(size(ngram_hashes(text, 8))) ng
          |FROM documents""".stripMargin).head
      assert(r.getLong(0) >= 0 && r.getLong(1) > 0)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("documents text analysis via SQL over the same engine") {
    register()
    val n = spark.sql(
      "SELECT count(DISTINCT md5(text)) FROM documents").head.getLong(0)
    assert(n > 0)
  }

  test("GraftCatalog: CREATE/SHOW/DESC/INSERT land on the versioned commit log") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    graft.sql.GraftCatalog.register(spark, "g1", root)
    spark.sql("CREATE NAMESPACE g1.NS")
    spark.sql("CREATE TABLE g1.NS.T (k INT, v STRING)")
    assert(spark.sql("SHOW TABLES IN g1.NS").collect().map(_.getString(1)).contains("T"))

    spark.sql("INSERT INTO g1.NS.T VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO g1.NS.T VALUES (3, 'c')")
    assert(spark.sql("SELECT count(*) FROM g1.NS.T").head.getLong(0) == 3)
    // each DML landed an atomic commit: create + 2 appends
    val vt = graft.storage.VersionedTable(spark, s"$root/NS/T")
    assert(vt.state.get.version == 3)

    spark.sql("INSERT OVERWRITE g1.NS.T VALUES (9, 'z')")
    assert(spark.sql("SELECT v FROM g1.NS.T").collect().map(_.getString(0)).toSeq == Seq("z"))
    assert(vt.state.get.version == 4)

    val desc = spark.sql("DESCRIBE TABLE g1.NS.T").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("k") == "int" && desc("v") == "string")

    // CTAS goes through createTable + append
    spark.sql("CREATE TABLE g1.NS.T2 AS SELECT 42 AS answer")
    assert(spark.sql("SELECT answer FROM g1.NS.T2").head.getInt(0) == 42)
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF hit exact commits") {
    val root = java.nio.file.Files.createTempDirectory("graft_tt_").toString
    graft.sql.GraftCatalog.register(spark, "gtt", root)
    spark.sql("CREATE NAMESPACE gtt.NS")
    spark.sql("CREATE TABLE gtt.NS.T (k INT, v STRING)")          // version 1
    spark.sql("INSERT INTO gtt.NS.T VALUES (1, 'a')")             // version 2
    spark.sql("INSERT INTO gtt.NS.T VALUES (2, 'b')")             // version 3
    spark.sql("INSERT OVERWRITE gtt.NS.T VALUES (9, 'z')")        // version 4

    def rows(q: String): Set[Int] =
      spark.sql(q).collect().map(_.getInt(0)).toSet
    assert(rows("SELECT k FROM gtt.NS.T") == Set(9))
    assert(rows("SELECT k FROM gtt.NS.T VERSION AS OF 3") == Set(1, 2))
    assert(rows("SELECT k FROM gtt.NS.T VERSION AS OF 2") == Set(1))
    assert(rows("SELECT k FROM gtt.NS.T VERSION AS OF 1") == Set.empty[Int])
    val e = intercept[Exception](
      spark.sql("SELECT k FROM gtt.NS.T VERSION AS OF 42").collect())
    assert(e.getMessage.contains("42"))
    // TIMESTAMP AS OF "now" resolves to the latest commit
    assert(rows("SELECT k FROM gtt.NS.T TIMESTAMP AS OF current_timestamp()") == Set(9))
    // a filtered time-travel read still prunes/pushes like any other scan
    assert(rows("SELECT k FROM gtt.NS.T VERSION AS OF 3 WHERE k > 1") == Set(2))
  }

  test("CALL system.compact / system.vacuum maintain tables from SQL") {
    val root = java.nio.file.Files.createTempDirectory("graft_proc_").toString
    graft.sql.GraftCatalog.register(spark, "gp", root)
    spark.sql("CREATE NAMESPACE gp.NS")
    spark.sql("CREATE TABLE gp.NS.T (k INT, v STRING)")          // version 1
    spark.sql("INSERT INTO gp.NS.T VALUES (1, 'a')")
    spark.sql("INSERT INTO gp.NS.T VALUES (2, 'b')")
    spark.sql("INSERT INTO gp.NS.T VALUES (3, 'c')")             // version 4
    val vt = graft.storage.VersionedTable(spark, s"$root/NS/T")
    assert(vt.state.get.parts.size == 3)

    val v = spark.sql("CALL gp.system.compact(table => 'NS.T')").head.getLong(0)
    assert(v == 5 && vt.state.get.parts.size == 1)
    assert(spark.sql("SELECT count(*) FROM gp.NS.T").head.getLong(0) == 3)

    val deleted = spark.sql("CALL gp.system.vacuum('NS.T', retain_last => 1)")
      .head.getInt(0)
    assert(deleted == 3, "the three pre-compaction append dirs are reclaimed")
    assert(spark.sql("SELECT count(*) FROM gp.NS.T").head.getLong(0) == 3)
    // default retain_last keeps history: nothing more to delete either way
    assert(spark.sql("CALL gp.system.vacuum('NS.T')").head.getInt(0) == 0)

    val err = intercept[Exception](spark.sql("CALL gp.system.nope('NS.T')"))
    assert(err.getMessage.toLowerCase.contains("nope"))

    // the procedure surface is discoverable
    val procs = spark.sql("SHOW PROCEDURES IN gp.system").collect()
      .map(_.getString(3)).toSet
    assert(Set("compact", "vacuum", "clone").subsetOf(procs), procs)
    val desc = spark.sql("DESCRIBE PROCEDURE gp.system.vacuum").collect()
      .map(_.getString(0)).mkString("\n")
    assert(desc.contains("vacuum"), desc)

    // zero-copy clone through SQL, immediately queryable
    spark.sql("CALL gp.system.clone('NS.T', 'NS.T_DEV')").collect()
    assert(spark.sql("SELECT count(*) FROM gp.NS.T_DEV").head.getLong(0) == 3)
    spark.sql("INSERT INTO gp.NS.T_DEV VALUES (99, 'dev')")
    assert(spark.sql("SELECT count(*) FROM gp.NS.T_DEV").head.getLong(0) == 4)
    assert(spark.sql("SELECT count(*) FROM gp.NS.T").head.getLong(0) == 3,
      "clone writes must not leak into the source")
    val dup = intercept[Exception](
      spark.sql("CALL gp.system.clone('NS.T', 'NS.T_DEV')").collect())
    assert(dup.getMessage.contains("T_DEV"))

    // commit history through SQL: version, instant, inferred operation
    val hist = spark.sql("CALL gp.system.history('NS.T_DEV')").collect()
      .map(r => r.getLong(0) -> r.getString(2))
    assert(hist.head == (1L -> "WRITE") && hist.last._2 == "APPEND", hist.toSeq)
    assert(spark.sql("CALL gp.system.history('NS.T_DEV')")
      .schema.fieldNames.toSeq == Seq("version", "committed_at", "operation", "n_parts"))
  }

  test("GraftCatalog reads prune columns and push filters into the table scan") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cat2_").toString
    val vt = graft.storage.VersionedTable(spark, s"$root/ANALYTICS/METRICS")
    vt.overwrite(Seq((2022, 1.5, "x"), (2023, 2.5, "y")).toDF("year", "v", "note"))
    graft.sql.GraftCatalog.register(spark, "g2", root)

    val q = spark.sql("SELECT v FROM g2.ANALYTICS.METRICS WHERE year = 2023")
    assert(q.collect().map(_.getDouble(0)).toSeq == Seq(2.5))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("year"), plan)

    // a VersionedTable written by the programmatic API is visible to SQL
    assert(spark.sql("SHOW TABLES IN g2.ANALYTICS").count() == 1)
  }

  test("SQL MERGE INTO a graft table runs the atomic versioned merge") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mrg_").toString
    val vt = graft.storage.VersionedTable(spark, s"$root/NS/T")
    vt.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    graft.sql.GraftCatalog.register(spark, "gm", root)
    Seq((2, "B"), (3, "c")).toDF("k", "v").createOrReplaceTempView("mrg_src")

    val res = spark.sql(
      """MERGE INTO gm.NS.T t USING mrg_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(res.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 1L)))
    assert(spark.sql("SELECT * FROM gm.NS.T").as[(Int, String)].collect().toMap ==
      Map(1 -> "a", 2 -> "B", 3 -> "c"))
    assert(vt.state.get.version == 2) // the merge landed ONE atomic commit

    // unsupported shapes fail loudly, not silently wrong
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO gm.NS.T t USING mrg_src s ON t.k = s.k
          |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(e.getMessage.contains("graft MERGE INTO supports"), e.getMessage)
    // non-graft targets are untouched by the rule (Spark's own error)
    Seq((1, "x")).toDF("k", "v").createOrReplaceTempView("plain_t")
    intercept[Exception] {
      spark.sql(
        """MERGE INTO plain_t t USING mrg_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
  }

  test("SQL DELETE / UPDATE / COMMENT ON against graft tables") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_dml_").toString
    val vt = graft.storage.VersionedTable(spark, s"$root/NS/T")
    vt.overwrite(Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("k", "v"))
    graft.sql.GraftCatalog.register(spark, "gd", root)

    // DELETE via the pushed-filter path — one versioned commit
    spark.sql("DELETE FROM gd.NS.T WHERE k = 2")
    assert(spark.sql("SELECT k FROM gd.NS.T ORDER BY k").as[Int].collect().toSeq == Seq(1, 3))
    assert(vt.state.get.version == 2)

    // UPDATE with an expression over existing columns + WHERE
    val upd = spark.sql("UPDATE gd.NS.T SET v = v * 2 WHERE k >= 3").collect()
    assert(upd.map(_.getLong(0)).toSeq == Seq(1L))
    assert(spark.sql("SELECT v FROM gd.NS.T ORDER BY k").as[Double].collect().toSeq ==
      Seq(10.0, 60.0))
    assert(vt.state.get.version == 3)

    // unconditional UPDATE touches every row
    assert(spark.sql("UPDATE gd.NS.T SET v = 0.0").head.getLong(0) == 2L)
    assert(spark.sql("SELECT sum(v) FROM gd.NS.T").head.getDouble(0) == 0.0)

    // COMMENT ON TABLE persists and survives a reload
    spark.sql("COMMENT ON TABLE gd.NS.T IS 'co2 harmonized layer'")
    val desc = spark.sql("DESCRIBE TABLE EXTENDED gd.NS.T").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.exists { case (k, v) =>
      k.toLowerCase.contains("comment") && v.contains("co2 harmonized layer") },
      desc.mkString("; "))
  }

  test("SQL ALTER TABLE ADD COLUMN: old parts read NULL, new inserts carry it") {
    val root = java.nio.file.Files.createTempDirectory("graft_add_").toString
    graft.sql.GraftCatalog.register(spark, "ga", root)
    spark.sql("CREATE NAMESPACE ga.NS")
    spark.sql("CREATE TABLE ga.NS.T (k INT, v STRING)")
    spark.sql("INSERT INTO ga.NS.T VALUES (1, 'a'), (2, 'b')")

    spark.sql("ALTER TABLE ga.NS.T ADD COLUMN score DOUBLE")
    // schema-only commit: no data rewritten, version advanced
    val vt = graft.storage.VersionedTable(spark, s"$root/NS/T")
    assert(vt.state.get.version == 3)
    assert(vt.schema.fieldNames.toSeq == Seq("k", "v", "score"))

    // pre-evolution rows read NULL for the new column
    val before = spark.sql("SELECT k, score FROM ga.NS.T ORDER BY k").collect()
    assert(before.forall(_.isNullAt(1)))

    // new inserts land values; mixed read is consistent
    spark.sql("INSERT INTO ga.NS.T VALUES (3, 'c', 0.5)")
    val rows = spark.sql("SELECT k, score FROM ga.NS.T ORDER BY k").collect()
    assert(rows.length == 3 && rows(2).getDouble(1) == 0.5 && rows(0).isNullAt(1))

    // duplicate column is rejected loudly
    val e = intercept[Exception](
      spark.sql("ALTER TABLE ga.NS.T ADD COLUMN v INT"))
    assert(e.getMessage.toLowerCase.contains("exist"), e.getMessage)
  }

  test("SQL ALTER TABLE RENAME and DROP TABLE against the catalog") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ddl_").toString
    graft.storage.VersionedTable(spark, s"$root/NS/OLD")
      .overwrite(Seq((1, "a")).toDF("k", "v"))
    graft.sql.GraftCatalog.register(spark, "gr", root)

    spark.sql("ALTER TABLE gr.NS.OLD RENAME TO NS.NEW")
    val names = spark.sql("SHOW TABLES IN gr.NS").collect().map(_.getString(1)).toSet
    assert(names == Set("NEW"))
    assert(spark.sql("SELECT count(*) FROM gr.NS.NEW").head.getLong(0) == 1)

    spark.sql("DROP TABLE gr.NS.NEW")
    assert(spark.sql("SHOW TABLES IN gr.NS").count() == 0)
    intercept[Exception] { spark.sql("SELECT * FROM gr.NS.NEW").collect() }
  }

  test("Co2Pipeline.registerCatalog exposes all layers to SQL catalog ops") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cat3_").toString
    val feedFile = java.nio.file.Files.createTempFile("noaa", ".txt")
    java.nio.file.Files.writeString(feedFile,
      "# comment\n2024 1 2 2024.004 421.1\n2024 1 5 2024.012 422.3\n")
    val p = graft.co2.Co2Pipeline(spark, wh)
    p.runPipeline(feedFile.toString)
    p.registerCatalog("co2t")
    val raw = spark.sql("SHOW TABLES IN co2t.RAW_CO2").collect().map(_.getString(1)).toSet
    assert(raw.contains("CO2_DATA"))
    val n = spark.sql("SELECT count(*) FROM co2t.HARMONIZED_CO2.HARMONIZED_CO2")
      .head.getLong(0)
    assert(n == 2)
    // SQL INSERT into the harmonized layer lands a versioned commit
    val before = p.harmonized.state.get.version
    spark.sql(
      """INSERT INTO co2t.HARMONIZED_CO2.HARMONIZED_CO2
        |SELECT DATE '2024-01-03', 2024, 1, 3, 421.7, current_timestamp()""".stripMargin)
    assert(p.harmonized.state.get.version == before + 1)
    assert(spark.sql("SELECT count(*) FROM co2t.HARMONIZED_CO2.HARMONIZED_CO2")
      .head.getLong(0) == 3)
  }

  test("stream is a first-class catalog object with offset semantics + task SQL surface") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cat4_").toString
    val f1 = java.nio.file.Files.createTempFile("noaa", ".txt")
    java.nio.file.Files.writeString(f1,
      "# comment\n2024 1 2 2024.004 421.1\n2024 1 5 2024.012 422.3\n")
    val p = graft.co2.Co2Pipeline(spark, wh)
    p.runPipeline(f1.toString) // load + harmonize → offset fully consumed
    p.registerCatalog("co2s")

    // SHOW TABLES lists the stream next to the source table
    val raw = spark.sql("SHOW TABLES IN co2s.RAW_CO2").collect()
      .map(_.getString(1)).toSet
    assert(raw == Set("CO2_DATA", "CO2_DATA_STREAM"))

    // consumed stream reads empty via SQL (offset semantics, not raw log)
    assert(spark.sql("SELECT count(*) FROM co2s.RAW_CO2.CO2_DATA_STREAM")
      .head.getLong(0) == 0)

    // a new load publishes a delta; SQL sees exactly the unconsumed window
    val f2 = java.nio.file.Files.createTempFile("noaa", ".txt")
    java.nio.file.Files.writeString(f2, "2024 1 8 2024.021 423.0\n")
    p.load(f2.toString)
    val pend = spark.sql(
      """SELECT DAY, CO2_PPM FROM co2s.RAW_CO2.CO2_DATA_STREAM
        |WHERE `METADATA$ACTION` = 'INSERT'""".stripMargin).collect()
    assert(pend.length == 1 && pend.head.getInt(0) == 8)

    // DESCRIBE TABLE shows data + metadata columns
    val cols = spark.sql("DESCRIBE TABLE co2s.RAW_CO2.CO2_DATA_STREAM")
      .collect().map(_.getString(0)).toSet
    assert(cols.contains("METADATA$ACTION") && cols.contains("CO2_PPM"))

    // DESCRIBE STREAM parity via procedure
    val ds = spark.sql(
      "CALL co2s.system.describe_stream('RAW_CO2.CO2_DATA_STREAM')").head
    assert(ds.getString(0) == "RAW_CO2.CO2_DATA_STREAM")
    assert(ds.getString(1) == "DEFAULT")
    assert(ds.getString(2) == "RAW_CO2.CO2_DATA")
    assert(ds.getBoolean(5)) // has_data: the f2 delta is unconsumed

    // SHOW TASKS parity: 3-task DAG with schedule + stream-gate condition
    val tasks = spark.sql("CALL co2s.system.show_tasks()").collect()
    assert(tasks.map(_.getString(0)).toSet ==
      Set("CO2_RAW_DATA_TASK", "CO2_HARMONIZED_TASK", "CO2_ANALYTICS_TASK"))
    assert(tasks.find(_.getString(0) == "CO2_HARMONIZED_TASK").get
      .getString(2).contains("STREAM_HAS_DATA"))

    // TASK_HISTORY parity: the earlier runPipeline logged its 3 tasks
    val th = spark.sql("CALL co2s.system.task_history(limit => 10)").collect()
    assert(th.map(_.getString(0)).toSet.contains("CO2_RAW_DATA_TASK"))

    // consuming (harmonize) drains the stream as seen from SQL
    p.harmonize()
    assert(spark.sql("SELECT count(*) FROM co2s.RAW_CO2.CO2_DATA_STREAM")
      .head.getLong(0) == 0)
    assert(!spark.sql(
      "CALL co2s.system.describe_stream('RAW_CO2.CO2_DATA_STREAM')")
      .head.getBoolean(5))

    // streams are read-only: INSERT must fail
    intercept[Exception](spark.sql(
      "INSERT INTO co2s.RAW_CO2.CO2_DATA_STREAM SELECT * FROM co2s.RAW_CO2.CO2_DATA_STREAM"))

    // mixed window nets THROUGH the SQL surface: publish an insert+delete
    // pair of one new row — SQL sees neither (net zero), while a plain
    // second insert of another row survives
    val feed = graft.changefeed.ChangeFeed(spark,
      graft.co2.Co2Pipeline.STREAM_NAME, s"$wh/RAW_CO2/CO2_DATA_STREAM")
    val ghost = spark.sql(
      """SELECT 2024 AS YEAR, 1 AS MONTH, 20 AS DAY,
        |CAST(2024.052 AS DOUBLE) AS DECIMAL_DATE,
        |CAST(430.0 AS DOUBLE) AS CO2_PPM""".stripMargin)
    val keeper = spark.sql(
      """SELECT 2024 AS YEAR, 1 AS MONTH, 21 AS DAY,
        |CAST(2024.055 AS DOUBLE) AS DECIMAL_DATE,
        |CAST(431.0 AS DOUBLE) AS CO2_PPM""".stripMargin)
    feed.publish(ghost)
    feed.publish(keeper)
    feed.publish(ghost, action = "DELETE")
    val netted = spark.sql(
      """SELECT DAY FROM co2s.RAW_CO2.CO2_DATA_STREAM
        |WHERE `METADATA$ACTION` = 'INSERT'""".stripMargin)
      .collect().map(_.getInt(0)).toSet
    assert(netted == Set(21), s"insert+delete must net away, got $netted")

    // CREATE STREAM parity: define a second stream entirely from SQL,
    // publish to it, and SELECT it back through the catalog
    val cs = spark.sql(
      """CALL co2s.system.create_stream(
        |  stream => 'RAW_CO2.AUX_STREAM',
        |  source => 'RAW_CO2.CO2_DATA',
        |  consumer => 'HARMONIZED_CO2.HARMONIZED_CO2')""".stripMargin).head
    assert(cs.getString(1) == "created")
    graft.changefeed.ChangeFeed(spark, "RAW_CO2.AUX_STREAM",
      s"$wh/RAW_CO2/AUX_STREAM")
      .publish(spark.sql("SELECT 7 AS N"))
    assert(spark.sql("SELECT N FROM co2s.RAW_CO2.AUX_STREAM").head.getInt(0) == 7)
    assert(spark.sql("CALL co2s.system.describe_stream('RAW_CO2.AUX_STREAM')")
      .head.getString(2) == "RAW_CO2.CO2_DATA")

    // APPEND_ONLY mode: raw inserts only, no netting, deletes invisible
    spark.sql(
      """CALL co2s.system.create_stream(
        |  stream => 'RAW_CO2.AO_STREAM', source => 'RAW_CO2.CO2_DATA',
        |  consumer => 'HARMONIZED_CO2.HARMONIZED_CO2',
        |  mode => 'APPEND_ONLY')""".stripMargin).collect()
    val ao = graft.changefeed.ChangeFeed(spark, "RAW_CO2.AO_STREAM",
      s"$wh/RAW_CO2/AO_STREAM")
    ao.publish(spark.sql("SELECT 1 AS N"))
    ao.publish(spark.sql("SELECT 1 AS N"), action = "DELETE")
    ao.publish(spark.sql("SELECT 2 AS N"))
    assert(spark.sql("SELECT N FROM co2s.RAW_CO2.AO_STREAM ORDER BY N")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2)) // delete hidden, no netting
    assert(spark.sql("CALL co2s.system.describe_stream('RAW_CO2.AO_STREAM')")
      .head.getString(1) == "APPEND_ONLY")

    // bloom sidecars opt in through TBLPROPERTIES: SQL INSERTs build the
    // filters and equality SELECTs prune through them
    spark.sql(
      """CREATE TABLE co2s.NSB.T (h STRING, v INT) """)
    spark.sql(
      "ALTER TABLE co2s.NSB.T SET TBLPROPERTIES ('graft.bloom.cols'='h')")
    spark.sql("INSERT INTO co2s.NSB.T VALUES ('aaa1', 1), ('bbb2', 2)")
    spark.sql("INSERT INTO co2s.NSB.T VALUES ('ccc3', 3), ('ddd4', 4)")
    val bt = graft.storage.VersionedTable(spark, s"$wh/NSB/T")
    val (keptB, totalB) = bt.pruneStats(
      org.apache.spark.sql.functions.col("h") === "ccc3")
    assert(totalB == 2 && keptB == 1, s"kept $keptB of $totalB")
    assert(spark.sql("SELECT v FROM co2s.NSB.T WHERE h = 'ccc3'")
      .head.getInt(0) == 3)

    // SHOW STREAMS parity: all three streams listed with their modes
    val streams = spark.sql("CALL co2s.system.show_streams()").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(streams == Map(
      "RAW_CO2.CO2_DATA_STREAM" -> "DEFAULT",
      "RAW_CO2.AUX_STREAM" -> "DEFAULT",
      "RAW_CO2.AO_STREAM" -> "APPEND_ONLY"), streams)
  }

  test("task DAG defined, resumed, and executed entirely from SQL text") {
    // the reference's orchestrate_tasks.sql.j2 lifecycle: suspend-if-exists,
    // CREATE OR REPLACE TASK ×3 (schedule / AFTER / WHEN stream-has-data),
    // RESUME in reverse order, EXECUTE TASK root, read TASK_HISTORY
    val wh = java.nio.file.Files.createTempDirectory("graft_task_").toString
    graft.sql.GraftCatalog.register(spark, "tk", wh)
    spark.sql("CREATE NAMESPACE tk.RAW_CO2")
    spark.sql("CREATE NAMESPACE tk.HARMONIZED_CO2")
    spark.sql("CREATE NAMESPACE tk.ANALYTICS_CO2")
    spark.sql("CREATE TABLE tk.RAW_CO2.CO2_DATA (YEAR INT, CO2_PPM DOUBLE)")
    spark.sql("CREATE TABLE tk.HARMONIZED_CO2.HARMONIZED_CO2 (YEAR INT, CO2_PPM DOUBLE)")
    spark.sql("CREATE TABLE tk.ANALYTICS_CO2.YEARLY (YEAR INT, AVG_CO2 DOUBLE)")
    spark.sql(
      """CALL tk.system.create_stream(
        |  stream => 'RAW_CO2.CO2_DATA_STREAM', source => 'RAW_CO2.CO2_DATA',
        |  consumer => 'HARMONIZED_CO2.HARMONIZED_CO2')""".stripMargin).collect()
    // producer lands a batch on the stream (the reference's lambda load)
    graft.changefeed.ChangeFeed(spark, "RAW_CO2.CO2_DATA_STREAM",
      s"$wh/RAW_CO2/CO2_DATA_STREAM")
      .publish(spark.sql("SELECT 2024 AS YEAR, CAST(421.5 AS DOUBLE) AS CO2_PPM"))

    // Step 1: ALTER TASK IF EXISTS ... SUSPEND on a task that doesn't exist
    assert(spark.sql(
      """CALL tk.system.alter_task(task => 'CO2_RAW_DATA_TASK',
        |  action => 'SUSPEND', if_exists => true)""".stripMargin)
      .head.getString(1) == "not found (if_exists)")

    // Step 3: CREATE OR REPLACE TASK ×3, the template's exact DAG shape
    assert(spark.sql(
      """CALL tk.system.create_task(task => 'CO2_RAW_DATA_TASK',
        |  schedule => 'USING CRON 0 10 * * * UTC',
        |  body => 'INSERT INTO tk.RAW_CO2.CO2_DATA VALUES (2025, 423.0)')"""
        .stripMargin).head.getString(1) == "created (suspended)")
    spark.sql(
      """CALL tk.system.create_task(task => 'CO2_HARMONIZED_TASK',
        |  after => 'CO2_RAW_DATA_TASK',
        |  condition => 'SYSTEM$STREAM_HAS_DATA(''RAW_CO2.CO2_DATA_STREAM'')',
        |  body => 'INSERT INTO tk.HARMONIZED_CO2.HARMONIZED_CO2
        |    SELECT YEAR, CO2_PPM FROM tk.RAW_CO2.CO2_DATA_STREAM
        |    WHERE `METADATA$ACTION` = ''INSERT''')""".stripMargin).collect()
    spark.sql(
      """CALL tk.system.create_task(task => 'CO2_ANALYTICS_TASK',
        |  after => 'CO2_HARMONIZED_TASK',
        |  body => 'INSERT INTO tk.ANALYTICS_CO2.YEARLY
        |    SELECT YEAR, avg(CO2_PPM) FROM tk.HARMONIZED_CO2.HARMONIZED_CO2
        |    GROUP BY YEAR')""".stripMargin).collect()

    // SHOW TASKS sees the DAG: schedule on the root, AFTER edges, WHEN gate
    val shown = spark.sql("CALL tk.system.show_tasks()").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(shown.keySet == Set("CO2_RAW_DATA_TASK", "CO2_HARMONIZED_TASK",
      "CO2_ANALYTICS_TASK"))
    assert(shown("CO2_RAW_DATA_TASK")._1 == "USING CRON 0 10 * * * UTC")
    assert(shown("CO2_HARMONIZED_TASK")._1 == "AFTER CO2_RAW_DATA_TASK")
    assert(shown("CO2_HARMONIZED_TASK")._2 ==
      "SYSTEM$STREAM_HAS_DATA('RAW_CO2.CO2_DATA_STREAM')")
    assert(shown("CO2_ANALYTICS_TASK")._1 == "AFTER CO2_HARMONIZED_TASK")

    // EXECUTE TASK before resume: the named root runs (manual-trigger
    // semantics), the still-suspended child stops its subtree
    val pre = spark.sql("CALL tk.system.execute_task('CO2_RAW_DATA_TASK')")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(pre == Map(
      "CO2_RAW_DATA_TASK" -> "SUCCEEDED",
      "CO2_HARMONIZED_TASK" -> "SKIPPED (suspended)"), pre)

    // Step 4: RESUME in the template's reverse order, then EXECUTE TASK
    Seq("CO2_ANALYTICS_TASK", "CO2_HARMONIZED_TASK", "CO2_RAW_DATA_TASK")
      .foreach(t => spark.sql(
        s"CALL tk.system.alter_task(task => '$t', action => 'RESUME')").collect())
    val run = spark.sql("CALL tk.system.execute_task('CO2_RAW_DATA_TASK')")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(run == Map(
      "CO2_RAW_DATA_TASK" -> "SUCCEEDED",
      "CO2_HARMONIZED_TASK" -> "SUCCEEDED",
      "CO2_ANALYTICS_TASK" -> "SUCCEEDED"), run)

    // each body really ran, in dependency order
    assert(spark.sql("SELECT count(*) FROM tk.RAW_CO2.CO2_DATA")
      .head.getLong(0) == 2) // two executes of the root INSERT
    assert(spark.sql(
      "SELECT CO2_PPM FROM tk.HARMONIZED_CO2.HARMONIZED_CO2 WHERE YEAR = 2024")
      .head.getDouble(0) == 421.5)
    assert(spark.sql("SELECT AVG_CO2 FROM tk.ANALYTICS_CO2.YEARLY WHERE YEAR = 2024")
      .head.getDouble(0) == 421.5)

    // TASK_HISTORY recorded both runs (2 + 3 states)
    val hist = spark.sql("CALL tk.system.task_history(limit => 10)").collect()
    assert(hist.length == 5, hist.toSeq.toString)
    assert(hist.count(_.getString(1) == "SUCCEEDED") == 4)

    // a false WHEN gate skips the task AND its subtree: a second DAG gated
    // on a stream with no published batches
    spark.sql(
      """CALL tk.system.create_stream(stream => 'RAW_CO2.EMPTY_STREAM',
        |  source => 'RAW_CO2.CO2_DATA',
        |  consumer => 'HARMONIZED_CO2.HARMONIZED_CO2')""".stripMargin).collect()
    spark.sql(
      """CALL tk.system.create_task(task => 'ROOT2',
        |  schedule => 'USING CRON 0 0 * * * UTC', body => 'SELECT 1')"""
        .stripMargin).collect()
    spark.sql(
      """CALL tk.system.create_task(task => 'GATED2', after => 'ROOT2',
        |  condition => 'SYSTEM$STREAM_HAS_DATA(''RAW_CO2.EMPTY_STREAM'')',
        |  body => 'SELECT 1')""".stripMargin).collect()
    spark.sql(
      """CALL tk.system.create_task(task => 'LEAF2', after => 'GATED2',
        |  body => 'SELECT 1')""".stripMargin).collect()
    Seq("ROOT2", "GATED2", "LEAF2").foreach(t => spark.sql(
      s"CALL tk.system.alter_task(task => '$t', action => 'RESUME')").collect())
    val gated = spark.sql("CALL tk.system.execute_task('ROOT2')")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(gated == Map(
      "ROOT2" -> "SUCCEEDED",
      "GATED2" -> "SKIPPED (WHEN condition false)"), gated) // LEAF2 unreached

    // error paths are loud: duplicate without or_replace, missing task
    intercept[Exception](spark.sql(
      """CALL tk.system.create_task(task => 'ROOT2', body => 'SELECT 1',
        |  or_replace => false)""".stripMargin).collect())
    intercept[Exception](spark.sql(
      "CALL tk.system.alter_task(task => 'NOPE', action => 'RESUME')").collect())
    intercept[Exception](spark.sql(
      "CALL tk.system.execute_task('NOPE')").collect())

    // DROP TASK prunes the DAG
    assert(spark.sql("CALL tk.system.drop_task(task => 'GATED2')")
      .head.getString(1) == "dropped")
    val afterDrop = spark.sql("CALL tk.system.execute_task('ROOT2')")
      .collect().map(_.getString(0)).toSeq
    assert(afterDrop == Seq("ROOT2"), afterDrop.toString)
  }

  test("run_due: cron scheduler tick fires a 3-task DAG from a simulated clock") {
    val wh = java.nio.file.Files.createTempDirectory("graft_sched_").toString
    graft.sql.GraftCatalog.register(spark, "sch", wh)
    spark.sql("CREATE NAMESPACE sch.G")
    spark.sql("CREATE TABLE sch.G.LOG (STEP STRING)")
    // the reference's DAG shape: cron root, two AFTER children
    spark.sql(
      """CALL sch.system.create_task(task => 'R',
        |  schedule => 'USING CRON 0 10 * * * UTC',
        |  body => 'INSERT INTO sch.G.LOG VALUES (''raw'')')""".stripMargin)
      .collect()
    spark.sql(
      """CALL sch.system.create_task(task => 'C1', after => 'R',
        |  body => 'INSERT INTO sch.G.LOG VALUES (''harmonized'')')"""
        .stripMargin).collect()
    spark.sql(
      """CALL sch.system.create_task(task => 'C2', after => 'C1',
        |  body => 'INSERT INTO sch.G.LOG VALUES (''analytics'')')"""
        .stripMargin).collect()
    Seq("C2", "C1", "R").foreach(t => spark.sql(
      s"CALL sch.system.alter_task(task => '$t', action => 'RESUME')").collect())

    def tick(now: String): Map[String, String] =
      spark.sql(s"CALL sch.system.run_due(now => '$now')")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap

    // first tick ever: registers the watermark, does NOT fire (a resumed
    // task first runs at the NEXT occurrence, never a past one)
    assert(tick("2026-01-01T09:00:00Z") ==
      Map("R" -> "BASELINE (first tick registered)"))
    assert(tick("2026-01-01T09:59:00Z") == Map("R" -> "NOT DUE"))
    // the 10:00 occurrence passed: the whole DAG fires in order
    assert(tick("2026-01-01T10:00:30Z") == Map(
      "R" -> "SUCCEEDED", "C1" -> "SUCCEEDED", "C2" -> "SUCCEEDED"))
    // same occurrence again: idempotent
    assert(tick("2026-01-01T10:20:00Z") == Map("R" -> "NOT DUE"))
    // three MISSED days collapse to ONE catch-up run (not three)
    assert(tick("2026-01-05T12:00:00Z")("R") == "SUCCEEDED")
    assert(spark.sql("SELECT count(*) FROM sch.G.LOG").head.getLong(0) == 6L)
    // history stamps the catch-up with the OCCURRENCE time, not the tick
    val hist = spark.sql("CALL sch.system.task_history(limit => 20)").collect()
    val times = hist.map(_.getTimestamp(2).toInstant.toString).distinct.sorted
    assert(times.contains("2026-01-05T10:00:00Z"), times.toSeq.toString)

    // a suspended root never fires from the scheduler (unlike execute_task)
    spark.sql("CALL sch.system.alter_task(task => 'R', action => 'SUSPEND')")
      .collect()
    assert(tick("2026-01-06T12:00:00Z") == Map("R" -> "SKIPPED (suspended)"))

    // interval schedule: '<n> MINUTE' from the last fire
    spark.sql(
      """CALL sch.system.create_task(task => 'IV', schedule => '30 MINUTE',
        |  body => 'INSERT INTO sch.G.LOG VALUES (''iv'')')""".stripMargin)
      .collect()
    spark.sql("CALL sch.system.alter_task(task => 'IV', action => 'RESUME')")
      .collect()
    assert(tick("2026-01-07T00:00:00Z")("IV") ==
      "BASELINE (first tick registered)")
    assert(tick("2026-01-07T00:29:00Z")("IV") == "NOT DUE")
    assert(tick("2026-01-07T00:31:00Z")("IV") == "SUCCEEDED")

    // show_tasks now surfaces scheduler state: suspended flag, last
    // fire, and the computed next occurrence (null for AFTER-children)
    val st = spark.sql("CALL sch.system.show_tasks()").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(st("R").getBoolean(3), "R was suspended above")
    assert(st("R").isNullAt(5), "suspended task has no next_fire")
    assert(st("C1").isNullAt(4) && st("C1").isNullAt(5), "AFTER-child")
    val iv = st("IV")
    assert(!iv.getBoolean(3) && !iv.isNullAt(4) && !iv.isNullAt(5))
    // interval next_fire = last_fire + 30 min exactly
    assert(iv.getTimestamp(5).getTime - iv.getTimestamp(4).getTime ==
      30L * 60 * 1000, iv.toString)

    // a schedule that cannot parse is rejected AT CREATE, not at tick time
    intercept[Exception](spark.sql(
      """CALL sch.system.create_task(task => 'BAD',
        |  schedule => 'USING CRON 61 10 * * * UTC', body => 'SELECT 1')"""
        .stripMargin).collect())
    intercept[Exception](spark.sql(
      """CALL sch.system.create_task(task => 'BAD',
        |  schedule => 'whenever', body => 'SELECT 1')""".stripMargin)
      .collect())
  }

  test("run_due fires the reference CO2 DAG: stream gate consulted at tick time") {
    val wh = java.nio.file.Files.createTempDirectory("graft_sched2_").toString
    graft.sql.GraftCatalog.register(spark, "sc2", wh)
    Seq("RAW_CO2", "HARMONIZED_CO2").foreach(ns =>
      spark.sql(s"CREATE NAMESPACE sc2.$ns"))
    spark.sql("CREATE TABLE sc2.RAW_CO2.CO2_DATA (YEAR INT, CO2_PPM DOUBLE)")
    spark.sql(
      "CREATE TABLE sc2.HARMONIZED_CO2.HARMONIZED_CO2 (YEAR INT, CO2_PPM DOUBLE)")
    spark.sql(
      """CALL sc2.system.create_stream(
        |  stream => 'RAW_CO2.CO2_DATA_STREAM', source => 'RAW_CO2.CO2_DATA',
        |  consumer => 'HARMONIZED_CO2.HARMONIZED_CO2')""".stripMargin).collect()
    // the reference's exact DAG shape: cron root (10:00 UTC) + gated child
    spark.sql(
      """CALL sc2.system.create_task(task => 'CO2_RAW_DATA_TASK',
        |  schedule => 'USING CRON 0 10 * * * UTC',
        |  body => 'INSERT INTO sc2.RAW_CO2.CO2_DATA VALUES (2026, 424.5)')"""
        .stripMargin).collect()
    spark.sql(
      """CALL sc2.system.create_task(task => 'CO2_HARMONIZED_TASK',
        |  after => 'CO2_RAW_DATA_TASK',
        |  condition => 'SYSTEM$STREAM_HAS_DATA(''RAW_CO2.CO2_DATA_STREAM'')',
        |  body => 'INSERT INTO sc2.HARMONIZED_CO2.HARMONIZED_CO2
        |    SELECT YEAR, CO2_PPM FROM sc2.RAW_CO2.CO2_DATA_STREAM
        |    WHERE `METADATA$ACTION` = ''INSERT''')""".stripMargin).collect()
    Seq("CO2_HARMONIZED_TASK", "CO2_RAW_DATA_TASK").foreach(t => spark.sql(
      s"CALL sc2.system.alter_task(task => '$t', action => 'RESUME')").collect())

    def tick(now: String): Map[String, String] =
      spark.sql(s"CALL sc2.system.run_due(now => '$now')")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(tick("2026-03-01T09:00:00Z") ==
      Map("CO2_RAW_DATA_TASK" -> "BASELINE (first tick registered)"))
    // no batch published yet: the fired root succeeds, the child's stream
    // gate is FALSE at tick time
    val t1 = tick("2026-03-01T10:00:10Z")
    assert(t1 == Map("CO2_RAW_DATA_TASK" -> "SUCCEEDED",
      "CO2_HARMONIZED_TASK" -> "SKIPPED (WHEN condition false)"), t1)
    // a producer lands a batch on the stream; next occurrence fires the
    // WHOLE chain and the harmonized insert consumes it
    graft.changefeed.ChangeFeed(spark, "RAW_CO2.CO2_DATA_STREAM",
      s"$wh/RAW_CO2/CO2_DATA_STREAM")
      .publish(spark.sql("SELECT 2025 AS YEAR, CAST(423.0 AS DOUBLE) AS CO2_PPM"))
    val t2 = tick("2026-03-02T10:00:10Z")
    assert(t2 == Map("CO2_RAW_DATA_TASK" -> "SUCCEEDED",
      "CO2_HARMONIZED_TASK" -> "SUCCEEDED"), t2)
    assert(spark.sql(
      "SELECT count(*) FROM sc2.HARMONIZED_CO2.HARMONIZED_CO2")
      .head.getLong(0) >= 1L)
  }

  test("data_card + incremental_card procedures: batch and delta-maintained datasheets from SQL") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_card_").toString
    graft.sql.GraftCatalog.register(spark, "crd", wh)
    spark.sql("CREATE NAMESPACE crd.G")
    Seq(
      (1L, "en", "web", "the cat and the dog sat with the mat"),
      (2L, "en", "web", "the cat and the dog sat with the mat"),
      (3L, "de", "web", "der hund und die katze ist nicht hier mit ein"))
      .toDF("doc_id", "lang", "source", "text")
      .createOrReplaceTempView("card_seed")
    spark.sql("CREATE TABLE crd.G.DOCS AS SELECT * FROM card_seed")

    // batch datasheet lands in a fresh target
    spark.sql(
      """CALL crd.system.data_card(source => 'G.DOCS',
        |  target => 'G.CARD_BATCH')""".stripMargin).collect()
    val batch = spark.sql(
      "SELECT lang, n_docs, n_unique FROM crd.G.CARD_BATCH ORDER BY lang")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(batch == Seq(("de", 1L, 1L), ("en", 2L, 1L)), batch.toString)

    // incremental: first call folds the whole history as one delta
    val r1 = spark.sql(
      """CALL crd.system.incremental_card(source => 'G.DOCS',
        |  target => 'G.CARD')""".stripMargin).head
    assert(r1.getLong(1) >= 1L && r1.getLong(2) == 2L, r1.toString)
    // delete the exact dup + append a french doc; repeat call = delta only
    spark.sql("DELETE FROM crd.G.DOCS WHERE doc_id = 2")
    spark.sql("""INSERT INTO crd.G.DOCS VALUES
      (4, 'fr', 'web', 'le chat est une bete et pas le chien')""")
    val r2 = spark.sql(
      """CALL crd.system.incremental_card(source => 'G.DOCS',
        |  target => 'G.CARD')""".stripMargin).head
    assert(r2.getLong(2) == 3L, r2.toString) // en, de, fr segments
    val card = spark.sql(
      "SELECT lang, n_docs, n_unique, n_langid_match FROM crd.G.CARD ORDER BY lang")
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(card == Seq(("de", 1L, 1L, 1L), ("en", 1L, 1L, 1L),
      ("fr", 1L, 1L, 1L)), card.toString)
    // a no-op repeat applies zero versions and leaves the card intact
    val r3 = spark.sql(
      """CALL crd.system.incremental_card(source => 'G.DOCS',
        |  target => 'G.CARD')""".stripMargin).head
    assert(r3.getLong(1) == 0L && r3.getLong(2) == 3L, r3.toString)
  }

  test("RBAC: roles + grants gate SELECT/INSERT/DELETE/UPDATE/MERGE/DDL from SQL") {
    val root = java.nio.file.Files.createTempDirectory("graft_sec_").toString
    graft.sql.GraftCatalog.register(spark, "sec", root)
    spark.sql("CREATE NAMESPACE sec.RAW")
    spark.sql("CREATE TABLE sec.RAW.T1 (k INT, v STRING)")
    spark.sql("CREATE TABLE sec.RAW.T2 (k INT, v STRING)")
    spark.sql("INSERT INTO sec.RAW.T1 VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO sec.RAW.T2 VALUES (7, 'x')")

    // table_grants.sql.j2 flow: create role, grant per-table privileges
    spark.sql("CALL sec.system.create_role('ANALYST')")
    spark.sql("CALL sec.system.grant_privilege(role => 'ANALYST', " +
      "privilege => 'SELECT', on => 'RAW.T1')")
    assert(spark.sql("CALL sec.system.show_roles()").collect()
      .map(_.getString(0)).contains("ANALYST"))

    // full message chain: security failures may arrive wrapped
    def denied(f: => Any): String = {
      val e = intercept[Throwable](f)
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).mkString(" | ")
    }

    try {
      spark.conf.set("spark.graft.role", "analyst") // USE ROLE ANALYST
      // granted SELECT passes; ungranted object and verbs are denied loudly
      assert(spark.sql("SELECT count(*) FROM sec.RAW.T1").head.getLong(0) == 2)
      assert(denied(spark.sql("SELECT * FROM sec.RAW.T2").collect())
        .contains("not authorized"))
      assert(denied(spark.sql("INSERT INTO sec.RAW.T1 VALUES (3, 'c')"))
        .contains("not authorized"))
      assert(denied(spark.sql("DELETE FROM sec.RAW.T1 WHERE k = 1"))
        .contains("not authorized"))
      assert(denied(spark.sql("UPDATE sec.RAW.T1 SET v = 'q' WHERE k = 1"))
        .contains("not authorized"))
      assert(denied(spark.sql("CREATE TABLE sec.RAW.T3 (k INT)"))
        .contains("not authorized"))
      assert(denied(spark.sql("DROP TABLE sec.RAW.T1"))
        .contains("not authorized"))
      // security DDL itself is admin-only
      assert(denied(spark.sql("CALL sec.system.create_role('EVIL')").collect())
        .contains("admin"))

      // the reference's GRANT INSERT,UPDATE ON TABLE: verbs open one by one
      spark.conf.set("spark.graft.role", "accountadmin")
      for (p <- Seq("INSERT", "UPDATE", "DELETE"))
        spark.sql("CALL sec.system.grant_privilege(role => 'ANALYST', " +
          s"privilege => '$p', on => 'RAW.T1')")
      spark.sql("CALL sec.system.grant_privilege(role => 'ANALYST', " +
        "privilege => 'CREATE TABLE', on => 'RAW.*')")
      spark.conf.set("spark.graft.role", "analyst")

      spark.sql("INSERT INTO sec.RAW.T1 VALUES (3, 'c')")
      spark.sql("UPDATE sec.RAW.T1 SET v = 'up' WHERE k = 1")
      spark.sql("DELETE FROM sec.RAW.T1 WHERE k = 2")
      // MERGE needs UPDATE + INSERT on the target (all granted now)
      spark.sql("SELECT 1 AS k, 'm' AS v").createOrReplaceTempView("sec_src")
      spark.sql(
        """MERGE INTO sec.RAW.T1 t USING sec_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(spark.sql("SELECT v FROM sec.RAW.T1 WHERE k = 1")
        .head.getString(0) == "m")
      // schema-star CREATE TABLE grant admits DDL in RAW
      spark.sql("CREATE TABLE sec.RAW.T3 (k INT)")
      // OWNERSHIP still withheld: drop/alter remain denied
      assert(denied(spark.sql("DROP TABLE sec.RAW.T1"))
        .contains("not authorized"))
      assert(denied(spark.sql(
        "ALTER TABLE sec.RAW.T1 SET TBLPROPERTIES ('comment'='x')"))
        .contains("not authorized"))

      // REVOKE closes the door again
      spark.conf.set("spark.graft.role", "accountadmin")
      spark.sql("CALL sec.system.revoke_privilege(role => 'ANALYST', " +
        "privilege => 'SELECT', on => 'RAW.T1')")
      spark.conf.set("spark.graft.role", "analyst")
      assert(denied(spark.sql("SELECT * FROM sec.RAW.T1").collect())
        .contains("not authorized"))

      // grants are introspectable (SHOW GRANTS TO ROLE parity)
      spark.conf.set("spark.graft.role", "accountadmin")
      val grants = spark.sql(
        "CALL sec.system.show_grants(role => 'ANALYST')").collect()
        .map(r => (r.getString(1), r.getString(2))).toSet
      assert(grants == Set(("INSERT", "RAW.T1"), ("UPDATE", "RAW.T1"),
        ("DELETE", "RAW.T1"), ("CREATE TABLE", "RAW.*")))

      // drop_role cascades its grants away
      spark.sql("CALL sec.system.drop_role('ANALYST')")
      spark.conf.set("spark.graft.role", "analyst")
      assert(denied(spark.sql("SELECT * FROM sec.RAW.T1").collect())
        .contains("does not exist"))
    } finally spark.conf.unset("spark.graft.role")

    // admin mode restored: everything is open again
    // rows: (1,'m') after merge-update, (3,'c') — the k=2 row was deleted
    assert(spark.sql("SELECT count(*) FROM sec.RAW.T1").head.getLong(0) == 2)
  }

  test("LLM-operator procedures: dedup_exact/substring_dedup/minhash_dedup/ann_topk from SQL") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_llmproc_").toString
    graft.sql.GraftCatalog.register(spark, "llm", wh)
    spark.sql("CREATE NAMESPACE llm.DOCS")
    Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),    // exact dup of 1
      (3L, "ALPHA  beta gamma   delta"), // normalized dup of 1
      (4L, "totally different text here")
    ).toDF("doc_id", "text").createOrReplaceTempView("seed_docs")
    spark.sql("CREATE TABLE llm.DOCS.D AS SELECT * FROM seed_docs")

    // exact dedup → CTAS-shaped survivors table
    val ex = spark.sql(
      "CALL llm.system.dedup_exact(source => 'DOCS.D', target => 'DOCS.D2', " +
        "text_col => 'text', id_col => 'doc_id')").head
    assert(ex.getString(0) == "DOCS.D2" && ex.getLong(1) == 2L)
    assert(spark.sql("SELECT doc_id FROM llm.DOCS.D2 ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 4L))

    // substring dedup: docs 2/3 are fully covered by doc 1's 3-grams
    spark.sql(
      "CALL llm.system.substring_dedup(source => 'DOCS.D', target => 'DOCS.D3', " +
        "text_col => 'text', id_col => 'doc_id', k => 3)")
    val d3 = spark.sql(
      "SELECT doc_id, n_toks_dropped FROM llm.DOCS.D3 ORDER BY doc_id").collect()
    assert(d3.map(_.getLong(0)).toSeq == Seq(1L, 4L))
    assert(d3.forall(_.getLong(1) == 0L))

    // minhash near-dup (default threshold) collapses the same cluster
    val mh = spark.sql(
      "CALL llm.system.minhash_dedup(source => 'DOCS.D', target => 'DOCS.D4', " +
        "text_col => 'text', id_col => 'doc_id')").head
    assert(mh.getLong(1) == 2L)

    // ann_topk: more-like-this against a vector table; self ranks first
    spark.sql("CREATE NAMESPACE llm.VEC")
    Tables(spark, dir, "embeddings").createOrReplaceTempView("seed_emb")
    spark.sql("CREATE TABLE llm.VEC.E AS SELECT * FROM seed_emb")
    val top = spark.sql(
      "CALL llm.system.ann_topk(table => 'VEC.E', vec_col => 'embedding', " +
        "id_col => 'vec_id', query_id => 7L, k => 5)").collect()
    assert(top.length == 5)
    assert(top.head.getLong(0) == 7L &&
      math.abs(top.head.getDouble(1) - 1.0) < 1e-9)

    // target-exists and RBAC contracts hold for the CTAS-shaped verbs
    val dup = intercept[Exception](spark.sql(
      "CALL llm.system.dedup_exact(source => 'DOCS.D', target => 'DOCS.D2', " +
        "text_col => 'text', id_col => 'doc_id')"))
    assert(Option(dup.getMessage).exists(_.toLowerCase.contains("already")))
  }

  test("LLM-operator procedures: decontaminate/pmi_topk from SQL (r7)") {
    import spark.implicits._
    graft.sql.GraftCatalog.register(spark, "llm7",
      java.nio.file.Files.createTempDirectory("sql_llm7_").toString)
    spark.sql("CREATE NAMESPACE llm7.DOCS")
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a clean doc with nothing shared anywhere inside"),
      (3L, "contains the quick brown fox jumps phrase verbatim")
    ).toDF("doc_id", "text").createOrReplaceTempView("seed7_docs")
    Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
      .createOrReplaceTempView("seed7_bench")
    spark.sql("CREATE TABLE llm7.DOCS.D AS SELECT * FROM seed7_docs")
    spark.sql("CREATE TABLE llm7.DOCS.B AS SELECT * FROM seed7_bench")

    // decontaminate: docs 1 and 3 share the bench 5-gram; only doc 2 stays
    val de = spark.sql(
      "CALL llm7.system.decontaminate(source => 'DOCS.D', bench => 'DOCS.B', " +
        "target => 'DOCS.CLEAN', text_col => 'text', id_col => 'doc_id', " +
        "n => 5)").head
    assert(de.getString(0) == "DOCS.CLEAN" && de.getLong(1) == 1L)
    assert(spark.sql("SELECT doc_id FROM llm7.DOCS.CLEAN")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))

    // pmi_topk: bounded (bigram, c12, pmi_r) rows straight from SQL text
    val pmi = spark.sql(
      "CALL llm7.system.pmi_topk(table => 'DOCS.D', text_col => 'text', " +
        "k => 3, min_count => 2L)").collect()
    assert(pmi.nonEmpty && pmi.length <= 3)
    // "the quick", "quick brown", "brown fox", "fox jumps" all appear twice
    assert(pmi.forall(_.getLong(1) == 2L))
  }

  test("LLM-operator procedures: quality_filter/bm25_topk from SQL (r7)") {
    import spark.implicits._
    graft.sql.GraftCatalog.register(spark, "llm8",
      java.nio.file.Files.createTempDirectory("sql_llm8_").toString)
    spark.sql("CREATE NAMESPACE llm8.DOCS")
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "short"),                                    // fails word_count
      (3L, "spark merge window table join stream scan") // no stopwords
    ).toDF("doc_id", "text").createOrReplaceTempView("seed8_docs")
    spark.sql("CREATE TABLE llm8.DOCS.D AS SELECT * FROM seed8_docs")

    // quality_filter: CTAS-shaped — survivors land in a NEW table
    val qf = spark.sql(
      "CALL llm8.system.quality_filter(source => 'DOCS.D', " +
        "target => 'DOCS.CLEAN', text_col => 'text', min_words => 5, " +
        "min_stopword_hits => 2)").head
    assert(qf.getString(0) == "DOCS.CLEAN" && qf.getLong(1) == 1L)
    assert(spark.sql("SELECT doc_id FROM llm8.DOCS.CLEAN")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))

    // bm25_topk: bounded (id, score, n_terms_hit) rows from SQL text
    val bm = spark.sql(
      "CALL llm8.system.bm25_topk(table => 'DOCS.D', text_col => 'text', " +
        "id_col => 'doc_id', terms => 'fox stream', k => 2)").collect()
    assert(bm.length == 2)
    assert(bm.map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(bm.forall(_.getLong(2) == 1L))
  }

  test("LLM-operator procedures: hybrid_topk/drift_psi from SQL (r7)") {
    import spark.implicits._
    graft.sql.GraftCatalog.register(spark, "llm9",
      java.nio.file.Files.createTempDirectory("sql_llm9_").toString)
    spark.sql("CREATE NAMESPACE llm9.DOCS")
    Seq(
      (1L, "the quick brown fox jumps high"),
      (2L, "a quick look at the brown river"),
      (3L, "nothing lexically related here at all")
    ).toDF("doc_id", "text").createOrReplaceTempView("seed9_docs")
    Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.6f, 0.8f)), (3L, Seq(0.9f, 0.1f))
    ).toDF("vec_id", "embedding").createOrReplaceTempView("seed9_vecs")
    spark.sql("CREATE TABLE llm9.DOCS.D AS SELECT * FROM seed9_docs")
    spark.sql("CREATE TABLE llm9.DOCS.V AS SELECT * FROM seed9_vecs")

    // hybrid: docs 1 and 2 hit 'quick brown'; doc 3 is lexically absent
    // even though its vector is closest to the query (id 1) — hybrid
    // candidates come from BM25 first
    val hy = spark.sql(
      "CALL llm9.system.hybrid_topk(docs => 'DOCS.D', text_col => 'text', " +
        "id_col => 'doc_id', terms => 'quick brown', vectors => 'DOCS.V', " +
        "vec_col => 'embedding', vec_id_col => 'vec_id', query_id => 1L, " +
        "k => 2)").collect()
    assert(hy.length == 2)
    assert(hy.map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(hy.head.getLong(0) == 1L) // own vector: cos 1.0 dominates

    // drift: baseline vs a shifted copy of the same table
    spark.sql("CREATE TABLE llm9.DOCS.BASE AS " +
      "SELECT 'a' AS g, CAST(doc_id * 10 AS DOUBLE) AS v FROM seed9_docs")
    spark.sql("CREATE TABLE llm9.DOCS.CUR AS " +
      "SELECT 'a' AS g, CAST(doc_id * 10 + 500 AS DOUBLE) AS v FROM seed9_docs")
    val dr = spark.sql(
      "CALL llm9.system.drift_psi(table => 'DOCS.CUR', " +
        "baseline => 'DOCS.BASE', group_col => 'g', value_col => 'v', " +
        "bucket_width => 10.0D)").collect()
    assert(dr.length == 1)
    assert(dr.head.getString(0) == "a" && dr.head.getDouble(1) > 0.25)
    assert(dr.head.getLong(2) == 3L && dr.head.getLong(3) == 3L)
  }

  test("selection procedures: quantile_buckets / scd2_apply from SQL (r7)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    graft.sql.GraftCatalog.register(spark, "sel1",
      java.nio.file.Files.createTempDirectory("sql_sel1_").toString)
    spark.sql("CREATE NAMESPACE sel1.S")

    // 9 scored rows in one group: terciles at 3 and 6 (quantile_disc)
    Seq.tabulate(9)(i => ("g1", i + 1L)).toDF("grp", "score")
      .createOrReplaceTempView("seed_sel_scores")
    spark.sql("CREATE TABLE sel1.S.SCORES AS SELECT * FROM seed_sel_scores")
    val qb = spark.sql(
      "CALL sel1.system.quantile_buckets(table => 'S.SCORES', " +
        "group_col => 'grp', score_col => 'score')").collect()
    assert(qb.map(r => (r.getString(1), r.getLong(2))).toSet ==
      Set(("head", 3L), ("middle", 3L), ("tail", 3L)))

    // SCD2: dim of two keys; one changes, one new key arrives
    Seq((1L, "A"), (2L, "B")).toDF("k", "seg")
      .select(col("k"), col("seg"),
        lit("2020-01-01").cast("date").as("valid_from"),
        lit(null).cast("date").as("valid_to"), lit(true).as("is_current"))
      .createOrReplaceTempView("seed_sel_dim")
    Seq((1L, "A2"), (3L, "C")).toDF("k", "seg")
      .createOrReplaceTempView("seed_sel_upd")
    spark.sql("CREATE TABLE sel1.S.DIM AS SELECT * FROM seed_sel_dim")
    spark.sql("CREATE TABLE sel1.S.UPD AS SELECT * FROM seed_sel_upd")
    val sc = spark.sql(
      "CALL sel1.system.scd2_apply(dim => 'S.DIM', updates => 'S.UPD', " +
        "key_col => 'k', tracked_cols => 'seg', " +
        "effective_date => '2020-06-01')").collect()
    assert(sc.length == 1)
    assert(sc.head.getLong(1) == 4L && sc.head.getLong(2) == 3L)
    // the dimension table itself was rewritten in place
    val dim = spark.sql("SELECT k, seg, is_current FROM sel1.S.DIM " +
      "ORDER BY k, seg").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSeq
    assert(dim == Seq((1L, "A", false), (1L, "A2", true),
      (2L, "B", true), (3L, "C", true)))
  }

  test("LLM-operator procedures: connected_components/weighted_sample/kmv_overlap from SQL (r7)") {
    import spark.implicits._
    graft.sql.GraftCatalog.register(spark, "llm11",
      java.nio.file.Files.createTempDirectory("sql_llm11_").toString)
    spark.sql("CREATE NAMESPACE llm11.G")

    // connected_components: chain 1-2-3 + pair 10-11 -> two components
    Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
      .createOrReplaceTempView("seed11_pairs")
    spark.sql("CREATE TABLE llm11.G.PAIRS AS SELECT * FROM seed11_pairs")
    val cc = spark.sql(
      "CALL llm11.system.connected_components(source => 'G.PAIRS', " +
        "target => 'G.COMPS')").head
    assert(cc.getString(0) == "G.COMPS" && cc.getLong(1) == 5L)
    val comps = spark.sql("SELECT id, component FROM llm11.G.COMPS")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(3L) == 1L && comps(11L) == 10L)

    // weighted_sample: deterministic k rows into a new table
    Seq((1L, 5.0), (2L, 1.0), (3L, 50.0), (4L, 20.0), (5L, 0.0))
      .toDF("id", "w").createOrReplaceTempView("seed11_w")
    spark.sql("CREATE TABLE llm11.G.W AS SELECT * FROM seed11_w")
    val ws = spark.sql(
      "CALL llm11.system.weighted_sample(source => 'G.W', " +
        "target => 'G.SAMPLE', id_col => 'id', weight_col => 'w', k => 3)").head
    assert(ws.getLong(1) == 3L)
    val ids = spark.sql("SELECT id FROM llm11.G.SAMPLE")
      .collect().map(_.getLong(0)).toSet
    assert(ids.size == 3 && !ids.contains(5L)) // zero weight never sampled

    // kmv_overlap: pairwise estimates; tiny groups are exact
    Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 3L), ("b", 4L))
      .toDF("g", "v").createOrReplaceTempView("seed11_kmv")
    spark.sql("CREATE TABLE llm11.G.SETS AS SELECT * FROM seed11_kmv")
    val ov = spark.sql(
      "CALL llm11.system.kmv_overlap(table => 'G.SETS', " +
        "group_col => 'g', value_col => 'v', k => 64)").collect()
    assert(ov.length == 1)
    val r = ov.head
    assert(r.getString(0) == "a" && r.getString(1) == "b")
    assert(r.getDouble(2) == 3.0 && r.getDouble(3) == 2.0)
    assert(r.getDouble(4) == 4.0 && r.getDouble(5) == 1.0)
  }

  test("LLM-operator procedures: interleave/proximity_topk/pagerank from SQL (r7)") {
    import spark.implicits._
    graft.sql.GraftCatalog.register(spark, "llm12",
      java.nio.file.Files.createTempDirectory("sql_llm12_").toString)
    spark.sql("CREATE NAMESPACE llm12.G")

    Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"))
      .toDF("id", "grp").createOrReplaceTempView("seed12_mix")
    spark.sql("CREATE TABLE llm12.G.MIX AS SELECT * FROM seed12_mix")
    val il = spark.sql(
      "CALL llm12.system.interleave(source => 'G.MIX', target => 'G.ORD', " +
        "group_col => 'grp', id_col => 'id', rates => 'a:1.0,b:0.5')").head
    assert(il.getLong(1) == 4L)
    val keys = spark.sql(
      "SELECT grp, interleave_key FROM llm12.G.ORD ORDER BY interleave_key, grp")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(keys == Seq(("a", 1.0), ("b", 2.0), ("a", 2.0), ("b", 4.0))
      || keys == Seq(("a", 1.0), ("a", 2.0), ("b", 2.0), ("b", 4.0)))

    Seq((1L, "data x stream"), (2L, "data only"), (3L, "stream y z data"))
      .toDF("doc_id", "text").createOrReplaceTempView("seed12_docs")
    spark.sql("CREATE TABLE llm12.G.D AS SELECT * FROM seed12_docs")
    val px = spark.sql(
      "CALL llm12.system.proximity_topk(table => 'G.D', text_col => 'text', " +
        "id_col => 'doc_id', term_a => 'data', term_b => 'stream', k => 5)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(px == Map(1L -> 2L, 3L -> 3L))

    Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
      .createOrReplaceTempView("seed12_edges")
    spark.sql("CREATE TABLE llm12.G.E AS SELECT * FROM seed12_edges")
    spark.sql("CALL llm12.system.pagerank(source => 'G.E', " +
      "target => 'G.R', iters => 1)")
    val pr = spark.sql("SELECT id, rank FROM llm12.G.R")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr == Map(1L -> 150000000L, 2L -> 575000000L, 3L -> 1425000000L))
  }

  test("graph procedures: triangle_counts/kcore from SQL (r10)") {
    import spark.implicits._
    graft.sql.GraftCatalog.register(spark, "llm14",
      java.nio.file.Files.createTempDirectory("sql_llm14_").toString)
    spark.sql("CREATE NAMESPACE llm14.G")
    // K4 on 1..4 with a 4-5-6 tail
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("src", "dst")
      .createOrReplaceTempView("seed14_edges")
    spark.sql("CREATE TABLE llm14.G.E AS SELECT * FROM seed14_edges")

    spark.sql("CALL llm14.system.triangle_counts(source => 'G.E', " +
      "target => 'G.TRI')")
    val tri = spark.sql("SELECT node_id, triangles FROM llm14.G.TRI")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tri == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 0L))

    spark.sql("CALL llm14.system.kcore(source => 'G.E', " +
      "target => 'G.CORE', k => 3)")
    val core = spark.sql("SELECT node_id, core_degree FROM llm14.G.CORE")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == (1L to 4L).map(_ -> 3L).toMap)

    // audio_features procedure over a REAL WAV payload
    val a: Short = 8000
    val frames = Array.tabulate(400)(i =>
      if ((i / 5) % 2 == 0) a else (-a).toShort)
    val wav = graft.operators.Multimodal.WavCodec.encodePcm16(frames, 8000, 1)
    Seq((1L, wav)).toDF("media_id", "payload")
      .createOrReplaceTempView("seed14_audio")
    spark.sql("CREATE TABLE llm14.G.AU AS SELECT * FROM seed14_audio")
    spark.sql("CALL llm14.system.audio_features(source => 'G.AU', " +
      "target => 'G.AF')")
    val af = spark.sql(
      "SELECT n_samples, zero_crossings, rms FROM llm14.G.AF").head
    assert(af.getInt(0) == 400 && af.getInt(1) == 399 / 5)
    assert(af.getDouble(2) == a / 32768.0)
  }

  test("stats procedures: link_predict/chi2/gini/ks_test/rank_eval" +
      " from SQL (r10)") {
    import spark.implicits._
    graft.sql.GraftCatalog.register(spark, "llm15",
      java.nio.file.Files.createTempDirectory("sql_llm15_").toString)
    spark.sql("CREATE NAMESPACE llm15.G")

    // path 1-2-3: the only candidate is (1,3), jaccard 1
    Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
      .createOrReplaceTempView("s15e")
    spark.sql("CREATE TABLE llm15.G.E AS SELECT * FROM s15e")
    spark.sql("CALL llm15.system.link_predict(source => 'G.E', " +
      "target => 'G.LP')")
    val lp = spark.sql("SELECT u, v, cn, jaccard FROM llm15.G.LP").collect()
    assert(lp.length == 1)
    assert((lp.head.getLong(0), lp.head.getLong(1), lp.head.getLong(2),
      lp.head.getDouble(3)) == ((1L, 3L, 1L, 1.0)))

    // chi2: perfectly dependent 2x2 -> chi2 = n at ppm scale
    (Seq.fill(10)(("x", "x")) ++ Seq.fill(10)(("y", "y"))).toDF("a", "b")
      .createOrReplaceTempView("s15c")
    spark.sql("CREATE TABLE llm15.G.C AS SELECT * FROM s15c")
    val c2 = spark.sql("CALL llm15.system.chi2(table => 'G.C', " +
      "a_col => 'a', b_col => 'b')").head
    assert((c2.getLong(0), c2.getLong(1), c2.getLong(2)) ==
      ((20L, 1L, 20000000L)))

    // gini of 1,2,3,4 = 0.25 (IntegritySpec hand case)
    Seq(("g", 1L), ("g", 2L), ("g", 3L), ("g", 4L)).toDF("grp", "v")
      .createOrReplaceTempView("s15g")
    spark.sql("CREATE TABLE llm15.G.GN AS SELECT * FROM s15g")
    val gn = spark.sql("CALL llm15.system.gini(table => 'G.GN', " +
      "group_col => 'grp', value_col => 'v')").head
    assert(gn.getString(0) == "g" && gn.getLong(1) == 4L &&
      gn.getDouble(2) == 0.25)

    // disjoint samples -> KS D = 1
    Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L)).toDF("grp", "v")
      .createOrReplaceTempView("s15k")
    spark.sql("CREATE TABLE llm15.G.KS AS SELECT * FROM s15k")
    val ks = spark.sql("CALL llm15.system.ks_test(table => 'G.KS', " +
      "group_col => 'grp', value_col => 'v', a => 'a', b => 'b')").head
    assert((ks.getLong(0), ks.getLong(1), ks.getLong(2)) ==
      ((2L, 2L, 1000000L)))

    // identical rankings -> perfect metrics at the one cutoff
    Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("qid", "id", "rank")
      .createOrReplaceTempView("s15r")
    spark.sql("CREATE TABLE llm15.G.RT AS SELECT * FROM s15r")
    spark.sql("CREATE TABLE llm15.G.RC AS SELECT * FROM s15r")
    val re = spark.sql("CALL llm15.system.rank_eval(truth => 'G.RT', " +
      "cand => 'G.RC', ks => '2')").head
    assert(re.getInt(0) == 2 && re.getLong(1) == 1L)
    assert((re.getLong(2), re.getLong(3), re.getLong(4)) ==
      ((1000000L, 1000000L, 1000000L)))
  }

  test("stat procedures: welch_t/moments/bootstrap_ci/ridge/coverage" +
      " from SQL (r10)") {
    import spark.implicits._
    graft.sql.GraftCatalog.register(spark, "llm17",
      java.nio.file.Files.createTempDirectory("sql_llm17_").toString)
    spark.sql("CREATE NAMESPACE llm17.G")

    // welch_t on the StatsSpec textbook case
    (Seq(1, 2, 3, 4, 5).map(("a", _)) ++
      Seq(2, 4, 6, 8, 10, 12).map(("b", _))).toDF("grp", "v")
      .createOrReplaceTempView("s17w")
    spark.sql("CREATE TABLE llm17.G.W AS SELECT * FROM s17w")
    val wt = spark.sql("CALL llm17.system.welch_t(table => 'G.W', " +
      "group_col => 'grp', value_col => 'v', a => 'a', b => 'b')").head
    assert(wt.getLong(0) == 5 && wt.getLong(1) == 6)
    assert(math.abs(wt.getDouble(2) -
      (3.0 - 7.0) / math.sqrt(2.5 / 5 + 14.0 / 6)) < 1e-12)

    // moments on the hand case {2,2,5,7}
    Seq(2, 2, 5, 7).map(("g", _)).toDF("grp", "v")
      .createOrReplaceTempView("s17m")
    spark.sql("CREATE TABLE llm17.G.M AS SELECT * FROM s17m")
    val mo = spark.sql("CALL llm17.system.moments(table => 'G.M', " +
      "group_col => 'grp', value_col => 'v')").head
    assert(mo.getString(0) == "g" && mo.getLong(1) == 4 &&
      mo.getDouble(2) == 4.0 && math.abs(mo.getDouble(3) - 6.0) < 1e-12)

    // bootstrap_ci: constant column pins lo = hi = mean
    (0 until 100).map(i => ("g", i.toLong, 42L)).toDF("grp", "id", "v")
      .createOrReplaceTempView("s17b")
    spark.sql("CREATE TABLE llm17.G.B AS SELECT * FROM s17b")
    val bc = spark.sql("CALL llm17.system.bootstrap_ci(table => 'G.B', " +
      "group_col => 'grp', id_col => 'id', value_col => 'v', " +
      "reps => 20, seed => 7)").head
    assert(bc.getLong(1) == 100 && bc.getDouble(2) == 42.0 &&
      bc.getDouble(4) == 42.0 && bc.getDouble(5) == 42.0)

    // ridge at lambda=0 recovers the exact plane
    Seq((1L, 0L), (2L, 1L), (3L, 0L), (4L, 1L), (5L, 3L))
      .map { case (a, b) => ("g", a, b, 3 + 2 * a + 5 * b) }
      .toDF("grp", "x1", "x2", "y").createOrReplaceTempView("s17r")
    spark.sql("CREATE TABLE llm17.G.R AS SELECT * FROM s17r")
    val ri = spark.sql("CALL llm17.system.ridge(table => 'G.R', " +
      "group_col => 'grp', x1_col => 'x1', x2_col => 'x2', " +
      "y_col => 'y', lambda => 0.0)").head
    assert(math.abs(ri.getDouble(2) - 3.0) < 1e-9 &&
      math.abs(ri.getDouble(3) - 2.0) < 1e-9 &&
      math.abs(ri.getDouble(4) - 5.0) < 1e-9)

    // pareto: staircase survives
    Seq((1L, 9L), (5L, 5L), (9L, 1L), (4L, 4L)).toDF("x", "y")
      .createOrReplaceTempView("s17p")
    spark.sql("CREATE TABLE llm17.G.P AS SELECT * FROM s17p")
    val pf = spark.sql("CALL llm17.system.pareto(table => 'G.P', " +
      "x_col => 'x', y_col => 'y')").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pf == Set((1L, 9L), (5L, 5L), (9L, 1L)))

    // frequent_triples: the ItemsetsSpec hand case
    Seq(("b1", "x"), ("b1", "y"), ("b1", "z"), ("b2", "x"), ("b2", "y"),
      ("b2", "z"), ("b3", "x"), ("b3", "y")).toDF("bk", "it")
      .createOrReplaceTempView("s17t")
    spark.sql("CREATE TABLE llm17.G.T3 AS SELECT * FROM s17t")
    val tr = spark.sql("CALL llm17.system.frequent_triples(" +
      "table => 'G.T3', basket_col => 'bk', item_col => 'it', " +
      "min_support => 2)").collect()
    assert(tr.length == 1)
    assert((tr.head.getString(0), tr.head.getString(1),
      tr.head.getString(2), tr.head.getLong(3)) == (("x", "y", "z", 2L)))

    // coverage: [1,3)+[3,5) merge, [7,9) separate -> 2 islands, 6 covered
    Seq(("u", 1L, 3L), ("u", 3L, 5L), ("u", 7L, 9L)).toDF("grp", "s", "e")
      .createOrReplaceTempView("s17i")
    spark.sql("CREATE TABLE llm17.G.I AS SELECT * FROM s17i")
    val cv = spark.sql("CALL llm17.system.coverage(table => 'G.I', " +
      "group_col => 'grp', start_col => 's', end_col => 'e')").head
    assert(cv.getString(0) == "u" && cv.getLong(1) == 2 &&
      cv.getLong(2) == 6 && cv.getLong(3) == 2)

    // k_anonymity: the PrivacySpec lattice case — satisfied at level 1
    Seq(("a", 0.0, 0), ("a", 1.0, 1), ("a", 2.0, 0), ("a", 3.0, 1),
      ("a", 4.0, 0), ("a", 5.0, 1), ("a", 6.0, 0), ("a", 7.0, 1))
      .toDF("seg", "bal", "s").createOrReplaceTempView("s17k")
    spark.sql("CREATE TABLE llm17.G.K AS SELECT * FROM s17k")
    val ka = spark.sql("CALL llm17.system.k_anonymity(table => 'G.K', " +
      "qi_cat_col => 'seg', qi_num_col => 'bal', sensitive_col => 's', " +
      "k => 2, l => 2)").collect()
    assert(ka.length == 4 && ka.forall(_.getInt(0) == 1) &&
      ka.forall(r => r.getLong(3) == 2L && r.getLong(4) == 2L))

    // isotonic_fit: the (0,1,0) violation pools the last two at 1/2
    Seq(("g", 0L, 0L), ("g", 1L, 1L), ("g", 2L, 0L)).toDF("grp", "x", "y")
      .createOrReplaceTempView("s17iso")
    spark.sql("CREATE TABLE llm17.G.ISO AS SELECT * FROM s17iso")
    val fit = spark.sql("CALL llm17.system.isotonic_fit(table => 'G.ISO', " +
      "group_col => 'grp', x_col => 'x', y_col => 'y')").collect()
      .map(r => r.getLong(1) -> r.getDouble(4)).toMap
    assert(fit == Map(0L -> 0.0, 1L -> 0.5, 2L -> 0.5))

    // kaplan_meier: the StatsSpec textbook curve
    Seq(("g", 1L, 1L), ("g", 2L, 0L), ("g", 3L, 1L), ("g", 4L, 0L))
      .toDF("grp", "dur", "e").createOrReplaceTempView("s17km")
    spark.sql("CREATE TABLE llm17.G.KM AS SELECT * FROM s17km")
    val kmr = spark.sql("CALL llm17.system.kaplan_meier(table => 'G.KM', " +
      "group_col => 'grp', duration_col => 'dur', event_col => 'e')")
      .collect().map(r => r.getLong(1) -> r.getDouble(4)).toMap
    assert(kmr == Map(1L -> 0.75, 2L -> 0.75, 3L -> 0.375, 4L -> 0.375))

    // weighted_quantile: weight mass beats row count
    Seq(("g", 1L, 1L), ("g", 2L, 1L), ("g", 10L, 8L)).toDF("grp", "v", "w")
      .createOrReplaceTempView("s17wq")
    spark.sql("CREATE TABLE llm17.G.WQ AS SELECT * FROM s17wq")
    val wq = spark.sql("CALL llm17.system.weighted_quantile(" +
      "table => 'G.WQ', group_col => 'grp', value_col => 'v', " +
      "weight_col => 'w', q => 0.5)").head
    assert(wq.getLong(2) == 10L && wq.getLong(3) == 10L)

    // theil_sen: the outlier-immune slope
    Seq(("g", 0L, 0L), ("g", 1L, 2L), ("g", 2L, 4L), ("g", 3L, 6L),
      ("g", 4L, 1000L)).toDF("grp", "x", "y")
      .createOrReplaceTempView("s17ts")
    spark.sql("CREATE TABLE llm17.G.TS AS SELECT * FROM s17ts")
    val tsr = spark.sql("CALL llm17.system.theil_sen(table => 'G.TS', " +
      "group_col => 'grp', x_col => 'x', y_col => 'y')").head
    assert(tsr.getLong(3) == 2000000L)
  }

  test("agreement/sync procedures: kendall_tau/fleiss_kappa/reconcile from SQL (r12)") {
    import spark.implicits._
    graft.sql.GraftCatalog.register(spark, "llm18",
      java.nio.file.Files.createTempDirectory("sql_llm18_").toString)
    spark.sql("CREATE NAMESPACE llm18.G")

    // kendall_tau: one discordant pair of six -> tau 2/3
    Seq(("g", 1L, 1L), ("g", 2L, 3L), ("g", 3L, 2L), ("g", 4L, 4L))
      .toDF("grp", "x", "y").createOrReplaceTempView("s18k")
    spark.sql("CREATE TABLE llm18.G.K AS SELECT * FROM s18k")
    val kt = spark.sql("CALL llm18.system.kendall_tau(table => 'G.K', " +
      "group_col => 'grp', x_col => 'x', y_col => 'y')").head
    assert(kt.getLong(2) == 5L && kt.getLong(3) == 1L &&
      kt.getLong(4) == 666666L)

    // fleiss_kappa: the hand case from StatsSpec (kappa -1/3)
    Seq(("u1", "a"), ("u1", "a"), ("u2", "a"), ("u2", "b"))
      .toDF("u", "c").createOrReplaceTempView("s18f")
    spark.sql("CREATE TABLE llm18.G.F AS SELECT * FROM s18f")
    val fk = spark.sql("CALL llm18.system.fleiss_kappa(table => 'G.F', " +
      "unit_col => 'u', category_col => 'c')").head
    assert(fk.getLong(2) == 500000L &&
      math.abs(fk.getDouble(3) - (-1.0 / 3)) < 1e-12)

    // reconcile: identical tables match on every bucket; a corrupted
    // value flips exactly the buckets holding it
    (0 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .createOrReplaceTempView("s18r")
    spark.sql("CREATE TABLE llm18.G.SRC AS SELECT * FROM s18r")
    spark.sql("CREATE TABLE llm18.G.TGT AS SELECT * FROM s18r")
    val rc = spark.sql("CALL llm18.system.reconcile(source => 'G.SRC', " +
      "target => 'G.TGT', key_cols => 'k', cols => 'k,v', buckets => 4)")
      .collect()
    assert(rc.length == 4 && rc.forall(_.getBoolean(5)))
    spark.sql("CREATE TABLE llm18.G.BAD AS " +
      "SELECT k, CASE WHEN k = 7 THEN 'X' ELSE v END AS v FROM s18r")
    val rb = spark.sql("CALL llm18.system.reconcile(source => 'G.SRC', " +
      "target => 'G.BAD', key_cols => 'k', cols => 'k,v', buckets => 4)")
      .collect()
    assert(rb.count(!_.getBoolean(5)) == 1)
  }

  test("eval procedures: mutual_info/wasserstein/auc/calibration/" +
      "markov_stationary/label_propagate from SQL (r10)") {
    import spark.implicits._
    graft.sql.GraftCatalog.register(spark, "llm16",
      java.nio.file.Files.createTempDirectory("sql_llm16_").toString)
    spark.sql("CREATE NAMESPACE llm16.G")

    // identical columns: MI = H (up to the floored micro-nat terms)
    (Seq.fill(2)(("x", "x")) ++ Seq.fill(2)(("y", "y"))).toDF("a", "b")
      .createOrReplaceTempView("s16m")
    spark.sql("CREATE TABLE llm16.G.M AS SELECT * FROM s16m")
    val mi = spark.sql("CALL llm16.system.mutual_info(table => 'G.M', " +
      "a_col => 'a', b_col => 'b')").head
    assert(mi.getLong(0) == 4L && math.abs(mi.getDouble(1) - math.log(2.0)) < 1e-5)

    // point masses at distance 10
    Seq(("a", 0L), ("b", 10L)).toDF("grp", "v")
      .createOrReplaceTempView("s16w")
    spark.sql("CREATE TABLE llm16.G.W AS SELECT * FROM s16w")
    val w1 = spark.sql("CALL llm16.system.wasserstein(table => 'G.W', " +
      "group_col => 'grp', value_col => 'v', a => 'a', b => 'b')").head
    assert(w1.getDouble(2) == 10.0)

    // perfect separation
    Seq((false, 1L), (false, 2L), (true, 3L), (true, 4L)).toDF("lbl", "v")
      .createOrReplaceTempView("s16a")
    spark.sql("CREATE TABLE llm16.G.A AS SELECT * FROM s16a")
    val auc = spark.sql("CALL llm16.system.auc(table => 'G.A', " +
      "label_col => 'lbl', score_col => 'v')").head
    assert(auc.getDouble(2) == 1.0)

    // calibration buckets (the MarkovSpec hand case)
    Seq((50000L, false), (150000L, true), (150000L, false),
      (999999L, true)).toDF("score", "lbl")
      .createOrReplaceTempView("s16c")
    spark.sql("CREATE TABLE llm16.G.C AS SELECT * FROM s16c")
    val cal = spark.sql("CALL llm16.system.calibration(table => 'G.C', " +
      "score_col => 'score', label_col => 'lbl')").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(cal == Map(0 -> ((1L, 50000L, 0L)), 1 -> ((2L, 150000L, 500000L)),
      9 -> ((1L, 999999L, 1000000L))))

    // 2-cycle chain: uniform stationary point
    Seq((1L, 1, "A"), (1L, 2, "B"), (1L, 3, "A"), (1L, 4, "B"))
      .toDF("k", "i", "s").createOrReplaceTempView("s16t")
    spark.sql("CREATE TABLE llm16.G.T AS SELECT * FROM s16t")
    val st = spark.sql("CALL llm16.system.markov_stationary(" +
      "table => 'G.T', key_col => 'k', order_col => 'i', " +
      "state_col => 's', iters => 4)").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st == Map("A" -> 1000000000L, "B" -> 1000000000L))

    // CTAS LPA over a path with one seed
    Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
      .createOrReplaceTempView("s16e")
    spark.sql("CREATE TABLE llm16.G.E AS SELECT * FROM s16e")
    Seq((1L, 7L)).toDF("id", "label").createOrReplaceTempView("s16s")
    spark.sql("CREATE TABLE llm16.G.S AS SELECT * FROM s16s")
    spark.sql("CALL llm16.system.label_propagate(source => 'G.E', " +
      "seeds => 'G.S', target => 'G.L', iters => 2)")
    val lp = spark.sql("SELECT id, label FROM llm16.G.L ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp == Map(1L -> 7L, 2L -> 7L, 3L -> 7L))
  }

  test("profile procedure: per-column stats in one scan") {
    import spark.implicits._
    graft.sql.GraftCatalog.register(spark, "llm13",
      java.nio.file.Files.createTempDirectory("sql_llm13_").toString)
    spark.sql("CREATE NAMESPACE llm13.G")
    Seq((1L, Some("a")), (2L, Some("b")), (3L, None), (4L, Some("b")))
      .toDF("id", "v").createOrReplaceTempView("seed13")
    spark.sql("CREATE TABLE llm13.G.T AS SELECT * FROM seed13")
    val prof = spark.sql("CALL llm13.system.profile(table => 'G.T')")
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5), r.getString(6))).toMap
    assert(prof("id") == ((4L, 0L, 4L, "1", "4")))
    val (n, nulls, ndv, mn, mx) = prof("v")
    assert(n == 4L && nulls == 1L && ndv == 2L && mn == "a" && mx == "b")

    // zero-row table: every count is 0 (not SQL NULL -> NPE), min/max null
    spark.sql("CREATE TABLE llm13.G.E0 AS SELECT * FROM seed13 WHERE id < 0")
    val prof0 = spark.sql("CALL llm13.system.profile(table => 'G.E0')")
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5), r.getString(6))).toMap
    assert(prof0("id") == ((0L, 0L, 0L, null, null)), prof0.toString)
    assert(prof0("v") == ((0L, 0L, 0L, null, null)), prof0.toString)
  }

  test("clean_text SQL function: NFC + control strip + whitespace collapse") {
    import spark.implicits._
    // raw BEL + decomposed accent, routed through the SQL function surface
    val got = Seq("a  b" + "\u0007" + "  cafe" + "\u0301").toDF("c")
      .selectExpr("clean_text(c)").head.getString(0)
    assert(got == "a b caf" + "\u00e9", got.codePoints().toArray.toSeq.toString)
  }

  test("clean_text strips vertical tab (0x0B) as a control char, not whitespace") {
    import spark.implicits._
    // RE2 \s is [\t\n\f\r ] — VT is NOT whitespace there, so the
    // oracle contract strips it via the control class [\x00-\x08\x0b...].
    // "a<VT>b" must join ("ab"), not collapse to "a b"; "a <VT> b" must
    // still collapse the surrounding real spaces to one.
    val rows = Seq("a" + "\u000b" + "b", "a " + "\u000b" + " b").toDF("c")
      .selectExpr("clean_text(c)").collect().map(_.getString(0)).toSeq
    assert(rows == Seq("ab", "a b"), rows.toString)
  }

  test("CALL jdbc_ingest: delta-only warehouse pull, schedulable as a task") {
    import org.apache.spark.sql.SaveMode
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_jing_").toString
    graft.sql.GraftCatalog.register(spark, "ji", root)
    spark.sql("CREATE NAMESPACE ji.ING")
    val url = "jdbc:derby:memory:graft_sqlproc_" +
      java.util.UUID.randomUUID.toString.replace("-", "").take(10) +
      ";create=true"
    val drv = "org.apache.derby.jdbc.EmbeddedDriver"
    val wh = new graft.sources.JdbcWarehouse(spark,
      graft.sources.JdbcProfile(url = url, driver = Some(drv)))
    def rows(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
    wh.writeTable(rows(0, 9), "src", SaveMode.Overwrite)
    val callSql =
      s"""CALL ji.system.jdbc_ingest(url => '$url',
         |  source_table => 'src', watermark_col => 'id',
         |  target => 'ING.T', driver => '$drv')""".stripMargin
    val r1 = spark.sql(callSql).head
    assert(r1.getLong(1) == 10L && r1.getLong(2) == 9L, r1.toString)
    assert(spark.sql("SELECT count(*) FROM ji.ING.T").head.getLong(0) == 10)
    // nothing new: 0 rows, watermark unchanged
    val r2 = spark.sql(callSql).head
    assert(r2.getLong(1) == 0L && r2.getLong(2) == 9L)
    // source grows: only the delta lands
    wh.writeTable(rows(10, 14), "src", SaveMode.Append)
    assert(spark.sql(callSql).head.getLong(1) == 5L)
    assert(spark.sql("SELECT sum(id) FROM ji.ING.T").head.getLong(0) ==
      (0 to 14).sum)

    // the reference's production shape: the pull on a cron task, fired
    // by the in-engine scheduler tick
    val body = callSql.replace("'", "''")
    spark.sql(
      s"""CALL ji.system.create_task(task => 'PULL',
         |  schedule => 'USING CRON 0 10 * * * UTC', body => '$body')"""
        .stripMargin).collect()
    spark.sql("CALL ji.system.alter_task(task => 'PULL', action => 'RESUME')")
      .collect()
    def tick(now: String): Map[String, String] =
      spark.sql(s"CALL ji.system.run_due(now => '$now')")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(tick("2026-02-01T09:00:00Z")("PULL").startsWith("BASELINE"))
    wh.writeTable(rows(15, 19), "src", SaveMode.Append)
    assert(tick("2026-02-01T10:00:30Z")("PULL") == "SUCCEEDED")
    assert(spark.sql("SELECT count(*) FROM ji.ING.T").head.getLong(0) == 20)
    // next tick, same occurrence: no re-fire, no double-ingest
    assert(tick("2026-02-01T10:30:00Z")("PULL") == "NOT DUE")
    assert(spark.sql("SELECT count(*) FROM ji.ING.T").head.getLong(0) == 20)
  }

  test("SUSPEND AFTER n FAILURES: repeated task failure auto-suspends; RESUME resets") {
    val wh = java.nio.file.Files.createTempDirectory("graft_saf_").toString
    graft.sql.GraftCatalog.register(spark, "saf", wh)
    spark.sql("CREATE NAMESPACE saf.G")
    spark.sql("CREATE TABLE saf.G.LOG (STEP STRING)")
    // a body that always fails (missing table) with auto-suspend at 3
    spark.sql(
      """CALL saf.system.create_task(task => 'FLAKY',
        |  schedule => 'USING CRON 0 10 * * * UTC',
        |  body => 'INSERT INTO saf.G.NO_SUCH_TABLE VALUES (''x'')',
        |  suspend_after_failures => 3)""".stripMargin).collect()
    spark.sql("CALL saf.system.alter_task(task => 'FLAKY', action => 'RESUME')")
      .collect()
    def tick(now: String): Map[String, String] =
      spark.sql(s"CALL saf.system.run_due(now => '$now')")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    def taskRow() = spark.sql("CALL saf.system.show_tasks()").collect()
      .find(_.getString(0) == "FLAKY").get
    assert(tick("2026-04-01T09:00:00Z")("FLAKY").startsWith("BASELINE"))
    // failures 1 and 2: counter climbs, task stays active
    assert(tick("2026-04-01T10:00:30Z")("FLAKY").startsWith("FAILED"))
    assert(tick("2026-04-02T10:00:30Z")("FLAKY").startsWith("FAILED"))
    val mid = taskRow()
    assert(!mid.getBoolean(3) && mid.getInt(6) == 3 && mid.getInt(7) == 2,
      mid.toString)
    // failure 3 trips the threshold: durable auto-suspend
    assert(tick("2026-04-03T10:00:30Z")("FLAKY").startsWith("FAILED"))
    val tripped = taskRow()
    assert(tripped.getBoolean(3) && tripped.getInt(7) == 3, tripped.toString)
    // suspended tasks never fire from the scheduler
    assert(tick("2026-04-04T10:00:30Z") == Map("FLAKY" -> "SKIPPED (suspended)"))
    // history carries per-run error state in the dedicated column
    val hist = spark.sql("CALL saf.system.task_history(limit => 10)").collect()
    val failed = hist.filter(_.getString(1).startsWith("FAILED"))
    assert(failed.length == 3, hist.toSeq.toString)
    assert(failed.forall(r => !r.isNullAt(3) &&
      r.getString(3).contains("NO_SUCH_TABLE")), failed.toSeq.toString)
    // RESUME lifts the suspension AND forgives the streak
    spark.sql("CALL saf.system.alter_task(task => 'FLAKY', action => 'RESUME')")
      .collect()
    val resumed = taskRow()
    assert(!resumed.getBoolean(3) && resumed.getInt(7) == 0, resumed.toString)
    // a later success (fixed body) also keeps the counter at zero
    spark.sql(
      """CALL saf.system.create_task(task => 'FLAKY',
        |  schedule => 'USING CRON 0 10 * * * UTC',
        |  body => 'INSERT INTO saf.G.LOG VALUES (''ok'')',
        |  suspend_after_failures => 3)""".stripMargin).collect()
    spark.sql("CALL saf.system.alter_task(task => 'FLAKY', action => 'RESUME')")
      .collect()
    // the run watermark survives re-creation: next occurrence fires
    assert(tick("2026-04-05T10:00:30Z")("FLAKY") == "SUCCEEDED")
    assert(taskRow().getInt(7) == 0)
  }

  test("_table_meta.json: a tricky property value round-trips; the old writer's bytes read back") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
    val root = java.nio.file.Files.createTempDirectory("graft_meta_").toString
    graft.sql.GraftCatalog.register(spark, "tmeta", root)
    spark.sql("CREATE TABLE tmeta.NS.T (k INT)")
    val cat = new graft.sql.GraftCatalog
    cat.initialize("tmeta",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(Map("root" -> root).asJava))
    val id = Identifier.of(Array("NS"), "T")
    def props = cat.loadTable(id).properties().asScala.toMap
    val tricky = "a \"quoted\" \\path} key:value\nsecond line"
    cat.alterTable(id, TableChange.setProperty("weird", tricky))
    assert(props.get("weird").contains(tricky))
    // the hand-rolled writer escaped only \ and ", and left newlines raw
    val old = "{\"comment\":\"plain\",\"weird\":\"a \\\"quoted\\\" \\\\path} key:value\nsecond line\"}"
    val meta = new org.apache.hadoop.fs.Path(s"$root/NS/T/_table_meta.json")
    val out = meta.getFileSystem(spark.sparkContext.hadoopConfiguration).create(meta, true)
    try out.write(old.getBytes("UTF-8")) finally out.close()
    assert(props == Map("comment" -> "plain", "weird" -> tricky))
  }

  test("procedure registry: every listed procedure loads; the unknown-name error lists them all") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.connector.catalog.Identifier
    val root = java.nio.file.Files.createTempDirectory("graft_preg_").toString
    val cat = new graft.sql.GraftCatalog
    cat.initialize("preg",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(Map("root" -> root).asJava))
    val listed = cat.listProcedures(Array("system")).map(_.name).toSeq
    assert(listed == graft.sql.Procedures.names)
    assert(listed.distinct.size == listed.size, listed)
    for (n <- listed) {
      val p = cat.loadProcedure(Identifier.of(Array("system"), n))
      assert(p.name == n)
      val params = p.bind(new org.apache.spark.sql.types.StructType()).parameters()
      assert(params.map(_.name).distinct.length == params.length, n)
    }
    val msg = intercept[IllegalArgumentException](
      cat.loadProcedure(Identifier.of(Array("system"), "nope"))).getMessage
    val named = msg.substring(msg.indexOf('(') + 1, msg.lastIndexOf(')'))
      .split(",").map(_.trim).toSet
    assert(named == listed.toSet, listed.filterNot(named))
    // the SQL surface lists the same set
    graft.sql.GraftCatalog.register(spark, "preg", root)
    assert(spark.sql("SHOW PROCEDURES IN preg.system").collect()
      .map(_.getString(3)).toSet == listed.toSet)
  }

  test("CALL table arguments are privilege-checked: maintenance needs OWNERSHIP, history SELECT") {
    val root = java.nio.file.Files.createTempDirectory("graft_ppriv_").toString
    graft.sql.GraftCatalog.register(spark, "pp", root)
    spark.sql("CREATE NAMESPACE pp.NS")
    spark.sql("CREATE TABLE pp.NS.T (k INT)")
    spark.sql("INSERT INTO pp.NS.T VALUES (1)")
    spark.sql("INSERT INTO pp.NS.T VALUES (2)")
    spark.sql("CREATE TABLE pp.NS.U (k INT)")
    spark.sql("CALL pp.system.create_role('READER')")
    spark.sql("CALL pp.system.grant_privilege(role => 'READER', " +
      "privilege => 'SELECT', on => 'NS.T')")
    val vt = graft.storage.VersionedTable(spark, s"$root/NS/T")
    def denied(f: => Any): String = {
      val e = intercept[Throwable](f)
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).mkString(" | ")
    }
    try {
      spark.conf.set("spark.graft.role", "reader")
      assert(denied(spark.sql("CALL pp.system.vacuum('NS.T', retain_last => 1)"))
        .contains("not authorized"))
      assert(denied(spark.sql("CALL pp.system.compact(table => 'NS.T')"))
        .contains("not authorized"))
      assert(vt.state.get.parts.size == 2, "a denied compact rewrites nothing")
      assert(spark.sql("CALL pp.system.history('NS.T')").collect()
        .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      assert(denied(spark.sql("CALL pp.system.history('NS.U')"))
        .contains("not authorized"))
      assert(denied(spark.sql("CALL pp.system.zonemaps('NS.U')"))
        .contains("not authorized"))
      // clone reads the source and creates the target: CREATE TABLE is missing
      assert(denied(spark.sql("CALL pp.system.clone('NS.T', 'NS.T2')"))
        .contains("not authorized"))

      spark.conf.set("spark.graft.role", "accountadmin")
      spark.sql("CALL pp.system.grant_privilege(role => 'READER', " +
        "privilege => 'OWNERSHIP', on => 'NS.T')")
      spark.conf.set("spark.graft.role", "reader")
      assert(spark.sql("CALL pp.system.compact(table => 'NS.T')").head.getLong(0) == 4L)
    } finally spark.conf.unset("spark.graft.role")
  }

  test("CALL history/zonemaps read metadata only: no Spark job") {
    import graft.TestSpark.jobsStartedBy
    val root = java.nio.file.Files.createTempDirectory("graft_pnj_").toString
    graft.sql.GraftCatalog.register(spark, "pnj", root)
    spark.sql("CREATE NAMESPACE pnj.NS")
    spark.sql("CREATE TABLE pnj.NS.T (k INT, v STRING)")
    spark.sql("INSERT INTO pnj.NS.T VALUES (1, 'a'), (5, 'e')")
    spark.sql("INSERT INTO pnj.NS.T VALUES (9, 'i')")
    // warm the catalog and the statement path, then count
    spark.sql("CALL pnj.system.history('NS.T')").collect()
    spark.sql("CALL pnj.system.zonemaps('NS.T')").collect()
    var hist: Array[org.apache.spark.sql.Row] = null
    var zm: Array[org.apache.spark.sql.Row] = null
    assert(jobsStartedBy {
      hist = spark.sql("CALL pnj.system.history('NS.T')").collect()
    } == 0)
    assert(jobsStartedBy {
      zm = spark.sql("CALL pnj.system.zonemaps(table => 'NS.T')").collect()
    } == 0)
    assert(hist.map(r => r.getLong(0) -> r.getString(2)).toSeq ==
      Seq(1L -> "CREATE", 2L -> "APPEND", 3L -> "APPEND"))
    assert(zm.filter(_.getString(1) == "k").map(r => (r.getString(2), r.getString(3)))
      .toSet == Set(("1", "5"), ("9", "9")))
  }
}
