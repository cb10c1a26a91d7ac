package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.storage.VersionedTable
import graft.changefeed.ChangeFeed
import graft.operators.{MergeInto, OrderedLag}
import graft.TestSpark.jobsStartedBy
import java.nio.file.Files

class StorageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_test_").toString

  test("VersionedTable: overwrite/append/read with commit log") {
    val t = VersionedTable(spark, tmp() + "/t1")
    assert(!t.exists)
    t.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    assert(t.read.count() == 2)
    t.append(Seq((3, "c")).toDF("k", "v"))
    assert(t.read.count() == 3)
    t.overwrite(Seq((9, "z")).toDF("k", "v"))
    assert(t.read.count() == 1)
    assert(t.state.get.version == 3)
  }

  test("racing writers: OCC claim retry keeps commits dense and lossless") {
    // two concurrent sessions' worth of appends into ONE table: every
    // claim loser must retry against the winner's state, so nothing is
    // lost, versions stay dense, and no orphan data dir stays referenced
    val root = tmp() + "/occ"
    val t = VersionedTable(spark, root, collectStats = false)
    val perWriter = 50
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (0 until 2).map { w =>
      new Thread(() => {
        try (0 until perWriter).foreach { i =>
          t.append(Seq((w, i)).toDF("writer", "seq"))
        } catch { case e: Throwable => errs.add(e) }
      }, s"occ-writer-$w")
    }
    writers.foreach(_.start())
    writers.foreach(_.join())
    assert(errs.isEmpty, s"writer failures: $errs")

    // all rows present, none double-landed
    val rows = t.read.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(rows.size == 2 * perWriter,
      s"expected ${2 * perWriter} distinct rows, got ${rows.size}")
    assert(rows == (for (w <- 0 until 2; i <- 0 until perWriter) yield (w, i)).toSet)

    // versions dense: 1..100 with no gap (each append = exactly one commit)
    val versions = t.history.map(_.version).sorted
    assert(versions == (1L to 2L * perWriter),
      s"non-dense versions: head=${versions.take(5)} last=${versions.takeRight(5)}")

    // every referenced part dir exists; every claim loser cleaned up its
    // orphan dir (nothing unreferenced remains besides _commits)
    val referenced = t.state.get.parts.map(_.dir).toSet
    val onDisk = new java.io.File(root).listFiles().map(_.getName)
      .filterNot(_ == "_commits").toSet
    assert(referenced.subsetOf(onDisk), s"missing dirs: ${referenced -- onDisk}")
    assert((onDisk -- referenced).isEmpty, s"orphan dirs: ${onDisk -- referenced}")
  }

  test("VersionedTable: offsets persist and merge atomically with commit") {
    val t = VersionedTable(spark, tmp() + "/t2")
    t.overwrite(Seq(1).toDF("x"), Map("feedA" -> 5L))
    t.append(Seq(2).toDF("x"), Map("feedB" -> 1L))
    assert(t.offsets == Map("feedA" -> 5L, "feedB" -> 1L))
    t.append(Seq(3).toDF("x"), Map("feedA" -> 6L))
    assert(t.offsets == Map("feedA" -> 6L, "feedB" -> 1L))
  }

  test("time travel: readVersion reproduces every commit; versionAt resolves instants") {
    val t = VersionedTable(spark, tmp() + "/tt")
    t.overwrite(Seq((1, "a")).toDF("k", "v"))
    t.append(Seq((2, "b")).toDF("k", "v"))
    t.append(Seq((3, "c")).toDF("k", "v"))
    assert(t.versions == Seq(1L, 2L, 3L))
    assert(t.readVersion(1).as[(Int, String)].collect().toSet == Set((1, "a")))
    assert(t.readVersion(2).as[(Int, String)].collect().toSet == Set((1, "a"), (2, "b")))
    assert(t.readVersion(3).count() == 3 && t.read.count() == 3)
    val e = intercept[IllegalArgumentException](t.readVersion(99))
    assert(e.getMessage.contains("available: 1..3"))
    assert(t.versionAt(System.currentTimeMillis() + 60000).contains(3L))
    assert(t.versionAt(0L).isEmpty)
    assert(t.schemaAt(1).fieldNames.toSeq == Seq("k", "v"))
  }

  test("compact collapses live parts to one; vacuum reclaims only unreferenced history") {
    val root = tmp() + "/opt"
    val t = VersionedTable(spark, root)
    t.overwritePartitions(Seq((2020, 1, "a"), (2021, 2, "b")).toDF("yr", "k", "v"), "yr")
    t.overwritePartitions(Seq((2021, 2, "B"), (2022, 3, "c")).toDF("yr", "k", "v"), "yr")
    t.append(Seq((2023, 4, "d")).toDF("yr", "k", "v"))
    val before = t.read.as[(Int, Int, String)].collect().toSet
    assert(before == Set((2020, 1, "a"), (2021, 2, "B"), (2022, 3, "c"), (2023, 4, "d")))
    val preCompact = t.state.get.version

    val cv = t.compact()
    assert(t.state.get.parts.size == 1, "compaction must leave ONE referenced part")
    assert(t.state.get.parts.head.vals.sorted == Seq("2020", "2021", "2022", "2023"),
      "compaction keeps the partition-clustered layout")
    assert(t.read.as[(Int, Int, String)].collect().toSet == before)
    assert(t.readVersion(preCompact).as[(Int, Int, String)].collect().toSet == before,
      "pre-compaction versions stay readable until vacuum")

    val deleted = t.vacuum(retainLast = 1)
    assert(deleted.size == 3, s"three obsolete data dirs, got $deleted")
    assert(t.versions == Seq(cv), "old commit files trimmed")
    assert(t.read.as[(Int, Int, String)].collect().toSet == before)
    intercept[IllegalArgumentException](t.readVersion(preCompact))
    // on-disk dirs = exactly the one referenced part (+ _commits)
    val left = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(left == Set("_commits", t.state.get.parts.head.dir))
  }

  test("vacuum keeps dirs referenced by retained commits; schema survives compaction") {
    val t = VersionedTable(spark, tmp() + "/vac")
    t.overwrite(Seq((1, "a")).toDF("k", "v"))
    t.append(Seq((2, "b")).toDF("k", "v"))   // v2 references BOTH dirs
    val deleted = t.vacuum(retainLast = 1)
    assert(deleted.isEmpty, "append-chain parts are all live — nothing to reclaim")
    assert(t.read.count() == 2)
    // declared schema is preserved verbatim through compact (not relaxed)
    val ddlBefore = t.state.get.schemaDdl
    t.compact()
    assert(t.state.get.schemaDdl == ddlBefore)
    assert(t.vacuum(retainLast = 1).size == 2)
    assert(t.read.count() == 2)
  }

  test("vacuumOlderThan: time-based retention keeps the fresh suffix, always the latest") {
    val t = VersionedTable(spark, tmp() + "/vact")
    t.overwrite(Seq((1, "a")).toDF("k", "v"))
    t.overwrite(Seq((2, "b")).toDF("k", "v"))
    t.overwrite(Seq((3, "c")).toDF("k", "v"))
    // everything committed milliseconds ago: a 1-day window retains all
    assert(t.vacuumOlderThan(86400000L).isEmpty)
    assert(t.versions == Seq(1L, 2L, 3L))
    // zero window: only the latest survives (never vacuum to nothing)
    val deleted = t.vacuumOlderThan(0L)
    assert(deleted.size == 2)
    assert(t.versions == Seq(3L))
    assert(t.read.collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("vacuumOlderThan never deletes a fresh version even under non-monotone mtimes") {
    val root = tmp() + "/vacnm"
    val t = VersionedTable(spark, root)
    t.overwrite(Seq((1, "a")).toDF("k", "v"))
    t.overwrite(Seq((2, "b")).toDF("k", "v"))
    t.overwrite(Seq((3, "c")).toDF("k", "v"))
    // age versions 2 and 3 artificially; version 1 stays fresh (a restored
    // commit file) — retention must start at the oldest FRESH version
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val old = System.currentTimeMillis() - 7200000L
    Seq(2L, 3L).foreach { v =>
      fs.setTimes(new org.apache.hadoop.fs.Path(
        f"$root/_commits/$v%08d.json"), old, -1)
    }
    assert(t.vacuumOlderThan(3600000L).isEmpty)
    assert(t.versions == Seq(1L, 2L, 3L))
  }

  test("commitOffsets: metadata-only advance/reset; hostile keys rejected") {
    val t = VersionedTable(spark, tmp() + "/offm")
    t.overwrite(Seq((1, "a")).toDF("k", "v"))
    val v = t.commitOffsets(Map("stream:q1" -> 7L))
    assert(v == 2L && t.offsets("stream:q1") == 7L)
    assert(t.read.count() == 1) // no data job, contents untouched
    t.commitOffsets(Map("stream:q1" -> -1L))
    assert(t.offsets("stream:q1") == -1L)
    intercept[IllegalArgumentException] {
      t.commitOffsets(Map("bad}key" -> 1L))
    }
    intercept[IllegalArgumentException] {
      t.append(Seq((2, "b")).toDF("k", "v"), Map("also\"bad" -> 1L))
    }
  }

  test("history labels every commit kind without opening data files") {
    val t = VersionedTable(spark, tmp() + "/hist")
    t.createEmpty(org.apache.spark.sql.types.StructType.fromDDL("k INT, v STRING"))
    t.append(Seq((1, "a")).toDF("k", "v"))
    t.overwritePartitions(Seq((2, "b")).toDF("k", "v"), "k")
    t.addColumns(Seq(org.apache.spark.sql.types.StructField("w",
      org.apache.spark.sql.types.StringType)))
    t.compact()
    val ops = t.history.map(c => c.version -> c.operation)
    assert(ops == Seq(1L -> "CREATE", 2L -> "APPEND", 3L -> "REPLACE_PARTITIONS",
      4L -> "ADD_COLUMNS", 5L -> "REWRITE"), ops)
    assert(t.history.forall(_.committedAtMs > 0))
  }

  test("changesBetween: append fast path scans only new parts; rewrites diff exactly") {
    val t = VersionedTable(spark, tmp() + "/chg")
    t.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"))   // v1
    t.append(Seq((3, "c")).toDF("k", "v"))                // v2
    t.append(Seq((4, "d")).toDF("k", "v"))                // v3

    val d13 = t.changesBetween(1, 3)
    assert(d13.select("k", "v", "METADATA$ACTION").as[(Int, String, String)]
      .collect().toSet == Set((3, "c", "INSERT"), (4, "d", "INSERT")))
    // fast path: ONLY the v2/v3 part dirs are opened
    val newDirs = t.stateAt(3).get.parts.drop(1).map(_.dir).toSet
    assert(d13.inputFiles.nonEmpty &&
      d13.inputFiles.forall(f => newDirs.exists(f.contains)), d13.inputFiles.toSeq)

    // from the beginning: everything is an INSERT
    assert(t.changesBetween(0, 3).filter(col("METADATA$ACTION") === "INSERT").count() == 4)
    // empty delta window
    assert(t.changesBetween(3, 3).count() == 0)

    // a rewrite (update of k=2) produces DELETE(old) + INSERT(new) exactly
    t.overwrite(Seq((1, "a"), (2, "B"), (3, "c"), (4, "d")).toDF("k", "v")) // v4
    val d34 = t.changesBetween(3, 4)
      .select("k", "v", "METADATA$ACTION").as[(Int, String, String)].collect().toSet
    assert(d34 == Set((2, "B", "INSERT"), (2, "b", "DELETE")))

    // partition-scoped rewrite: only the touched partition's rows appear
    val p = VersionedTable(spark, tmp() + "/chgp")
    p.overwritePartitions(Seq((2020, 1, "x"), (2021, 2, "y")).toDF("yr", "k", "v"), "yr")
    p.overwritePartitions(Seq((2021, 2, "Y")).toDF("yr", "k", "v"), "yr")
    val pd = p.changesBetween(1, 2)
      .select("yr", "k", "v", "METADATA$ACTION").as[(Int, Int, String, String)]
      .collect().toSet
    assert(pd == Set((2021, 2, "Y", "INSERT"), (2021, 2, "y", "DELETE")))

    intercept[IllegalArgumentException](t.changesBetween(2, 1))
    intercept[IllegalArgumentException](t.changesBetween(1, 99))
  }

  test("cloneTo: zero-copy snapshot, isolated from source; compact materializes it") {
    val srcRoot = tmp() + "/src"
    val src = VersionedTable(spark, srcRoot)
    src.overwritePartitions(Seq((2020, 1, "a"), (2021, 2, "b")).toDF("yr", "k", "v"), "yr")
    src.append(Seq((2022, 3, "c")).toDF("yr", "k", "v"))

    val cloneRoot = tmp() + "/cl"
    val clone = src.cloneTo(cloneRoot)
    val snapshot = src.read.as[(Int, Int, String)].collect().toSet
    assert(clone.read.as[(Int, Int, String)].collect().toSet == snapshot)
    assert(clone.offsets == src.offsets && clone.schema == src.schema)
    // zero copy: the clone root holds ONLY metadata
    assert(new java.io.File(cloneRoot).listFiles().map(_.getName).toSet == Set("_commits"))

    // source evolves; clone is a frozen snapshot
    src.append(Seq((2023, 4, "d")).toDF("yr", "k", "v"))
    assert(clone.read.count() == 3 && src.read.count() == 4)
    // clone evolves; source untouched
    clone.append(Seq((2099, 9, "z")).toDF("yr", "k", "v"))
    assert(clone.read.count() == 4 && src.read.count() == 4)

    // clone's vacuum never touches the source's (absolute-ref) dirs
    assert(clone.vacuum(retainLast = 1).isEmpty)
    assert(src.read.count() == 4 && clone.read.count() == 4)

    // compact copies the data in; now the clone survives a source vacuum
    clone.compact()
    val reclaimed = clone.vacuum(retainLast = 1)
    assert(reclaimed.size == 1, // only the clone's own v2 append dir; never source dirs
      s"expected the local pre-compact append dir, got $reclaimed")
    src.overwrite(Seq((0, 0, "x")).toDF("yr", "k", "v"))
    src.vacuum(retainLast = 1)
    assert(clone.read.count() == 4)

    intercept[IllegalArgumentException](src.cloneTo(cloneRoot)) // target exists
  }

  test("ChangeFeed: publish/pending/hasData with metadata columns") {
    val f = ChangeFeed(spark, "S", tmp() + "/feed")
    assert(!f.hasData(0))
    val b1 = f.publish(Seq((1, 10.0)).toDF("k", "v"))
    val b2 = f.publish(Seq((2, 20.0)).toDF("k", "v"))
    assert(b1 == 1 && b2 == 2)
    assert(f.hasData(0) && f.hasData(1) && !f.hasData(2))
    val p = f.pending(1)
    assert(p.count() == 1)
    val row = p.collect().head
    assert(row.getAs[String](ChangeFeed.ACTION) == "INSERT")
    assert(!row.getAs[Boolean](ChangeFeed.IS_UPDATE))
    assert(row.getAs[String](ChangeFeed.ROW_ID).nonEmpty)
    assert(f.pending(0).count() == 2)
  }

  test("ChangeFeed: standard-stream net-change semantics") {
    val f = ChangeFeed(spark, "NET", tmp() + "/netfeed")
    // insert k=1,2 then delete k=1 inside the same unconsumed window →
    // k=1 vanishes (insert+delete net to zero), k=2 survives as INSERT
    f.publish(Seq((1, 10.0), (2, 20.0)).toDF("k", "v"))
    f.publish(Seq((1, 10.0)).toDF("k", "v"), action = "DELETE")
    assert(f.lastMutationBatchId == 2)
    val net = f.pending(0).collect()
    assert(net.length == 1, s"expected 1 net row, got ${net.toSeq}")
    assert(net.head.getAs[Int]("k") == 2 &&
      net.head.getAs[String](ChangeFeed.ACTION) == "INSERT" &&
      !net.head.getAs[Boolean](ChangeFeed.IS_UPDATE))

    // an update of the surviving row surfaces as DELETE(old)+INSERT(new)
    // with METADATA$ISUPDATE=true (reference standard-stream contract)
    f.publishUpdate(Seq((2, 20.0)).toDF("k", "v"),
                    Seq((2, 25.0)).toDF("k", "v"))
    val upd = f.pending(2).collect().sortBy(_.getAs[String](ChangeFeed.ACTION))
    assert(upd.length == 2)
    assert(upd(0).getAs[String](ChangeFeed.ACTION) == "DELETE" &&
      upd(0).getAs[Double]("v") == 20.0 &&
      upd(0).getAs[Boolean](ChangeFeed.IS_UPDATE))
    assert(upd(1).getAs[String](ChangeFeed.ACTION) == "INSERT" &&
      upd(1).getAs[Double]("v") == 25.0 &&
      upd(1).getAs[Boolean](ChangeFeed.IS_UPDATE))
    // full-window net: k=1 gone, old k=2 image insert+delete nets away,
    // only the new k=2 image remains
    val all = f.pending(0).collect()
    assert(all.length == 1 && all.head.getAs[Double]("v") == 25.0 &&
      all.head.getAs[String](ChangeFeed.ACTION) == "INSERT")

    // deletes of rows inserted BEFORE the window survive as DELETEs:
    // window = batches 2..4 → delete(k=1), delete(old k=2), insert(new k=2)
    val del = f.pending(1)
    assert(del.filter(s"`${ChangeFeed.ACTION}` = 'DELETE'").count() == 2)
    assert(del.count() == 3)

    // multiset: double-insert then single delete of identical content
    // nets to exactly one surviving INSERT copy
    val g = ChangeFeed(spark, "MS", tmp() + "/msfeed")
    g.publish(Seq((7, 1.0), (7, 1.0)).toDF("k", "v"))
    g.publish(Seq((7, 1.0)).toDF("k", "v"), action = "DELETE")
    assert(g.pending(0).count() == 1)

    // append-only view ignores netting and hides deletes
    assert(g.pendingAppendOnly(0).count() == 2)

    // insert-only window takes the raw fast path: lastMutationBatchId
    // below the offset → no netting (plan has no Aggregate)
    val h = ChangeFeed(spark, "FP", tmp() + "/fpfeed")
    h.publish(Seq((1, 1.0)).toDF("k", "v"))
    assert(h.lastMutationBatchId == 0)
    val plan = h.pending(0).queryExecution.optimizedPlan.toString
    assert(!plan.contains("Aggregate"), s"fast path must not shuffle:\n$plan")
  }

  test("MergeInto: insert-only bootstrap, then matched update + unmatched insert") {
    val t = VersionedTable(spark, tmp() + "/m1")
    val r1 = MergeInto(spark, t,
      Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq("k"))
    assert(r1.inserted == 2 && r1.updated == 0)

    val r2 = MergeInto(spark, t,
      Seq((2, "B"), (3, "c")).toDF("k", "v"), Seq("k"))
    assert(r2.updated == 1 && r2.inserted == 1)
    val m = t.read.as[(Int, String)].collect().toMap
    assert(m == Map(1 -> "a", 2 -> "B", 3 -> "c"))
  }

  test("MergeInto: duplicate source keys raise without dedupeSource") {
    val t = VersionedTable(spark, tmp() + "/m2")
    t.overwrite(Seq((1, "a")).toDF("k", "v"))
    intercept[IllegalArgumentException] {
      MergeInto(spark, t, Seq((1, "x"), (1, "y")).toDF("k", "v"), Seq("k"))
    }
    val r = MergeInto(spark, t, Seq((1, "x"), (1, "y")).toDF("k", "v"),
      Seq("k"), dedupeSource = true)
    assert(r.updated == 1)
    assert(t.read.as[(Int, String)].collect().toMap == Map(1 -> "y"))
  }

  test("MergeInto: idempotent re-merge of identical source") {
    val t = VersionedTable(spark, tmp() + "/m3")
    val src = Seq((1, 1.5), (2, 2.5)).toDF("k", "v")
    MergeInto(spark, t, src, Seq("k"))
    val r = MergeInto(spark, t, src, Seq("k"))
    assert(r.updated == 2 && r.inserted == 0)
    assert(t.read.count() == 2)
  }

  test("MergeInto commits consumed offsets with the data") {
    val t = VersionedTable(spark, tmp() + "/m4")
    MergeInto(spark, t, Seq((1, "a")).toDF("k", "v"), Seq("k"),
      consumeOffsets = Map("S" -> 7L))
    assert(t.offsets("S") == 7L)
  }

  test("appendIfOffsetIs: CAS on the watermark — overlapping-window race loses cleanly") {
    val t = VersionedTable(spark, tmp() + "/cas")
    // first pull: no offset yet, expected None
    assert(t.appendIfOffsetIs(Seq((1, "a")).toDF("k", "v"), "F", None, 10L))
    assert(t.offsets("F") == 10L)
    // the race: pull B read its window against offset 10, but pull A
    // landed (10, 20] first — B's expected Some(10) no longer holds after
    // A advances to 20, so B must be a no-op (the monotone `< h` guard
    // would have let B's (10, 25] window double-land rows 11-20)
    assert(t.appendIfOffsetIs(Seq((2, "b")).toDF("k", "v"), "F", Some(10L), 20L))
    assert(!t.appendIfOffsetIs(Seq((3, "c")).toDF("k", "v"), "F", Some(10L), 25L))
    assert(t.offsets("F") == 20L && t.read.count() == 2)
    // the loser re-pulls against the fresh offset and lands
    assert(t.appendIfOffsetIs(Seq((3, "c")).toDF("k", "v"), "F", Some(20L), 25L))
    assert(t.offsets("F") == 25L && t.read.count() == 3)
  }

  test("commit claim is atomic: double-create of a version file fails; losers don't corrupt") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("vt_conflict").toString
    val t = graft.storage.VersionedTable(spark, root)
    t.overwrite(Seq((1, "a")).toDF("k", "v"))
    val v1dir = t.state.get.parts.head.dir
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the protocol's primitive: create(overwrite=false) succeeds exactly once
    val claim = new org.apache.hadoop.fs.Path(root, "_commits/00000002.json")
    val out = fs.create(claim, false)
    // the winner's record: v1's record re-versioned (parts = [v1's part])
    val in = fs.open(new org.apache.hadoop.fs.Path(root, "_commits/00000001.json"))
    val v1record = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(v1record.contains(s""""dir":"$v1dir""""))
    out.write(v1record.replace("\"version\":1,", "\"version\":2,").getBytes("UTF-8"))
    out.close()
    intercept[java.io.IOException] { fs.create(claim, false).close() }
    // a writer that lost the race re-reads state and lands AFTER the winner,
    // never overwriting it — monotonic versions, consistent reads throughout
    val v = t.append(Seq((2, "b")).toDF("k", "v"))
    assert(v == 3L)
    assert(t.read.count() == 2) // winner's state (v2 = parts[v1]) + appended part
  }

  private def dataDirs(root: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).map(_.getPath.getName).filterNot(_ == "_commits").toSet
  }

  private def fileSnapshot(dir: String): Set[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val b = Set.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      b += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    b.result()
  }

  test("overwritePartitions rewrites only touched partitions; untouched dirs byte-identical") {
    val root = tmp() + "/pt1"
    val t = VersionedTable(spark, root)
    t.overwritePartitions(
      Seq((2022, 1, "a"), (2022, 2, "b"), (2023, 3, "c")).toDF("year", "id", "v"),
      "year")
    val v1dir = t.state.get.parts.head.dir
    val before = fileSnapshot(s"$root/$v1dir")
    // second commit touches ONLY 2023
    t.overwritePartitions(
      Seq((2023, 3, "C"), (2023, 4, "d")).toDF("year", "id", "v"), "year")
    assert(fileSnapshot(s"$root/$v1dir") == before) // v1 never reopened
    assert(t.state.get.parts.map(_.dir).contains(v1dir)) // still referenced
    val got = t.read.orderBy("id").as[(Int, Int, String)].collect().toSeq
    assert(got == Seq((2022, 1, "a"), (2022, 2, "b"), (2023, 3, "C"), (2023, 4, "d")))
    // partition col mismatch is rejected
    intercept[IllegalArgumentException] {
      t.overwritePartitions(Seq((1, 1, "x")).toDF("year", "id", "v"), "id")
    }
  }

  test("MergeInto partitionBy: incremental merge leaves untouched partition dirs alone") {
    val root = tmp() + "/pt2"
    val t = VersionedTable(spark, root)
    MergeInto(spark, t,
      Seq((2022, 1, 1.0), (2022, 2, 2.0), (2023, 3, 3.0)).toDF("year", "k", "v"),
      Seq("k"), partitionBy = Some("year"))
    val v1dir = t.state.get.parts.head.dir
    val before = fileSnapshot(s"$root/$v1dir")
    val r = MergeInto(spark, t,
      Seq((2023, 3, 3.5), (2023, 4, 4.0)).toDF("year", "k", "v"),
      Seq("k"), partitionBy = Some("year"))
    assert(r.updated == 1 && r.inserted == 1)
    assert(fileSnapshot(s"$root/$v1dir") == before)
    val m = t.read.as[(Int, Int, Double)].collect().map(x => x._2 -> (x._1, x._3)).toMap
    assert(m == Map(1 -> (2022, 1.0), 2 -> (2022, 2.0), 3 -> (2023, 3.5), 4 -> (2023, 4.0)))
  }

  test("MergeInto with source stats: touched partitions from metadata, merged in one job") {
    val t = VersionedTable(spark, tmp() + "/pt7")
    MergeInto(spark, t, Seq((Some(2021), 1, 1.0), (Some(2022), 2, 2.0), (None, 3, 3.0))
      .toDF("year", "k", "v"), Seq("k"), partitionBy = Some("year"))
    // a part of several files records each file's zone maps
    val live = t.liveFiles(t.state.get).get
    assert(live.map(_.value).toSet == Set("2021", "2022", null))
    assert(live.find(_.value == "2022").get.stats("v") == ("D:2.0" -> "D:2.0"))

    val feed = ChangeFeed(spark, "s", tmp() + "/pt7log")
    feed.publish(Seq((2022, 2, 2.5), (2022, 4, 4.0)).toDF("year", "k", "v"))
    val stats = feed.pendingParts(0).map(_.stats)
    // the year the source's zone maps span, and the NULL partition
    assert(t.partitionsMatching(t.state.get, "year", stats).get.toSet == Set("2022", null))
    var r: MergeInto.MergeResult = null
    val jobs = jobsStartedBy {
      r = MergeInto(spark, t, feed.pending(0).drop(ChangeFeed.metaColumns: _*), Seq("k"),
        dedupeSource = true, partitionBy = Some("year"), sourceStats = Some(stats))
    }
    assert(jobs == 1 && r.updated == 1 && r.inserted == 1, s"$jobs jobs, $r")
    assert(t.read.as[(Option[Int], Int, Double)].collect().toSet == Set(
      (Some(2021), 1, 1.0), (Some(2022), 2, 2.5), (None, 3, 3.0), (Some(2022), 4, 4.0)))
    // a source part without stats on the column: the merge collects instead
    assert(t.partitionsMatching(t.state.get, "year", Seq(Map.empty)).isEmpty)
  }

  test("MergeInto maxTouchedPartitions: an over-wide source fails loudly, not slowly") {
    val root = tmp() + "/pt6"
    val t = VersionedTable(spark, root)
    MergeInto(spark, t, Seq((2022, 1, 1.0)).toDF("year", "k", "v"),
      Seq("k"), partitionBy = Some("year"))
    val wide = Seq((2020, 10, 1.0), (2021, 11, 1.0), (2022, 12, 1.0))
      .toDF("year", "k", "v")
    val e = intercept[IllegalArgumentException] {
      MergeInto(spark, t, wide, Seq("k"), partitionBy = Some("year"),
        maxTouchedPartitions = 2)
    }
    assert(e.getMessage.contains("maxTouchedPartitions"))
    // raising the cap explicitly lets the same merge through
    val ok = MergeInto(spark, t, wide, Seq("k"), partitionBy = Some("year"),
      maxTouchedPartitions = 3)
    assert(ok.inserted == 3)
  }

  test("MergeInto validatePartitionKeys catches a key moved across partitions") {
    val root = tmp() + "/pt5"
    val t = VersionedTable(spark, root)
    MergeInto(spark, t,
      Seq((2022, 1, 1.0), (2023, 2, 2.0)).toDF("year", "k", "v"),
      Seq("k"), partitionBy = Some("year"))
    // key 1 lives in year=2022; a source row claiming year=2023 for the same
    // key violates the key→partition functional dependency
    val moved = Seq((2023, 1, 9.9)).toDF("year", "k", "v")
    val e = intercept[IllegalStateException] {
      MergeInto(spark, t, moved, Seq("k"), partitionBy = Some("year"),
        validatePartitionKeys = true)
    }
    assert(e.getMessage.contains("partition contract violated"))
    // without validation the documented hazard happens: duplicate key rows
    MergeInto(spark, t, moved, Seq("k"), partitionBy = Some("year"))
    assert(t.read.filter($"k" === 1).count() == 2)
    // a contract-respecting merge passes validation
    val ok = MergeInto(spark, t, Seq((2023, 5, 5.0)).toDF("year", "k", "v"),
      Seq("k"), partitionBy = Some("year"), validatePartitionKeys = true)
    assert(ok.inserted == 1)
  }

  test("partition values with NULLs and hive-escaped characters round-trip") {
    val root = tmp() + "/pt4"
    val t = VersionedTable(spark, root)
    // ':' and '/' are hive-escaped in dir names; null gets the sentinel
    t.overwritePartitions(
      Seq((Some("a:b"), 1), (Some("c d"), 2), (None: Option[String], 3))
        .toDF("part", "id"),
      "part")
    assert(t.read.count() == 3)
    // replace ONLY the null partition; escaped ones survive untouched
    t.overwritePartitions(
      Seq((None: Option[String], 30)).toDF("part", "id"), "part")
    val got = t.read.orderBy("id").as[(Option[String], Int)].collect().toSeq
    assert(got == Seq(Some("a:b") -> 1, Some("c d") -> 2, None -> 30))
    // and replacing an escaped value shadows exactly that one
    t.overwritePartitions(
      Seq((Some("a:b"), 100)).toDF("part", "id"), "part")
    assert(t.read.orderBy("id").as[(Option[String], Int)].collect().toSeq ==
      Seq(Some("c d") -> 2, None -> 30, Some("a:b") -> 100))
  }

  test("empty-source partition commit keeps the table readable (no dataless part)") {
    val root = tmp() + "/pt3"
    val t = VersionedTable(spark, root)
    t.overwritePartitions(Seq((2022, 1, "a")).toDF("year", "id", "v"), "year")
    val empty = Seq.empty[(Int, Int, String)].toDF("year", "id", "v")
    // a merge of an empty batch must still commit its offsets atomically…
    val r = MergeInto(spark, t, empty, Seq("id"),
      consumeOffsets = Map("S" -> 9L), partitionBy = Some("year"))
    assert(r.updated == 0 && r.inserted == 0)
    assert(t.offsets("S") == 9L)
    // …without referencing a data-file-less part dir
    assert(t.read.count() == 1)
    assert(t.state.get.parts.forall(_.vals.nonEmpty))
  }

  test("ROW_ID distinguishes null positions (xxhash64 skips null inputs)") {
    val f = ChangeFeed(spark, "N", tmp() + "/nfeed")
    f.publish(Seq(
      (Some(2024), None: Option[Int], 5),
      (None: Option[Int], Some(2024), 5)).toDF("a", "b", "c"))
    val ids = f.pending(0).select(ChangeFeed.ROW_ID).collect().map(_.getString(0))
    assert(ids.distinct.length == 2, ids.mkString(","))
    // fixed-width 128-bit ids: zero-padded halves, no boundary ambiguity
    assert(ids.forall(_.length == 32), ids.mkString(","))
  }

  test("MergeInto: matched rows take the WHOLE source row — NULLs overwrite") {
    val t = VersionedTable(spark, tmp() + "/m5")
    t.overwrite(Seq((1, Some(1.5)), (2, Some(2.5))).toDF("k", "v"))
    val r = MergeInto(spark, t, Seq((1, None: Option[Double])).toDF("k", "v"), Seq("k"))
    assert(r.updated == 1 && r.inserted == 0)
    val m = t.read.as[(Int, Option[Double])].collect().toMap
    assert(m == Map(1 -> None, 2 -> Some(2.5)))
  }

  test("concurrent appenders: claim losers clean up, winners never clobbered") {
    val root = tmp() + "/cc"
    val t = VersionedTable(spark, root)
    t.overwrite(Seq(0).toDF("x"))
    val threads = (1 to 3).map { i =>
      new Thread(() => {
        try VersionedTable(spark, root).append(Seq(i).toDF("x"))
        catch { case _: java.util.ConcurrentModificationException => () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // every data dir on disk is referenced by the final state (losers swept
    // their unique dirs; no winner's dir was ever deleted or overwritten)
    assert(dataDirs(root) == t.state.get.parts.map(_.dir).toSet)
    // one row per committed version: reads stay consistent
    val nCommits = t.state.get.version
    assert(t.read.count() == nCommits)
  }

  test("appendClustered: delta lands as prunable range parts; old parts untouched") {
    val root = Files.createTempDirectory("graft_appclu").toString
    val t = graft.storage.VersionedTable(spark, root)
    t.overwrite((0 until 100).map(i => (i.toLong, i % 4)).toDF("id", "k"))
    val partsBefore = t.state.get.parts
    t.appendClustered((100 until 400).map(i => (i.toLong, i % 4)).toDF("id", "k"),
      Seq("k"), nParts = 4, offsets = Map("clu.v" -> 7L))
    val s = t.state.get
    // existing part carried over by reference; delta split into 4 ranges
    assert(s.parts.take(partsBefore.size) == partsBefore)
    assert(s.parts.size == partsBefore.size + 4)
    assert(t.offsets("clu.v") == 7L)
    assert(t.read.count() == 400L)
    // zone maps prune INSIDE the delta: k=0 read skips the k>0 ranges
    val (kept, total) = t.pruneStats(col("k") === 0)
    assert(kept < total, s"kept $kept of $total")
    assert(t.readWhere(col("k") === 0).count() == 100L)
    // schema guard holds
    intercept[Exception](t.appendClustered(
      Seq((1L, "x")).toDF("id", "other"), Seq("id"), 2))
  }

  test("diffVersions: added/removed/changed classes, unchanged rows drop") {
    val t = VersionedTable(spark, tmp() + "/diff")
    val v0 = t.overwrite(Seq((1L, "a", 10.0), (2L, "b", 20.0),
      (3L, "c", 30.0)).toDF("k", "s", "p"))
    val v1 = t.overwrite(Seq((1L, "a", 10.0), // unchanged
      (2L, "b2", 20.0),                       // changed payload
      (4L, "d", 40.0)).toDF("k", "s", "p"))   // 3 removed, 4 added
    val out = t.diffVersions(v0, v1, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
    // payload structs carry both sides; absent side is null
    val ch = t.diffVersions(v0, v1, Seq("k"))
      .filter($"k" === 2L).select($"old.s", $"new.s").collect().head
    assert(ch.getString(0) == "b" && ch.getString(1) == "b2")
    val add = t.diffVersions(v0, v1, Seq("k"))
      .filter($"k" === 4L).select($"old", $"new.p").collect().head
    assert(add.isNullAt(0) && add.getDouble(1) == 40.0)
  }

  test("diffVersions: identical versions diff empty; guards fail loud") {
    val t = VersionedTable(spark, tmp() + "/diff2")
    val v0 = t.overwrite(Seq((1L, "a")).toDF("k", "s"))
    val v1 = t.overwrite(Seq((1L, "a")).toDF("k", "s"))
    assert(t.diffVersions(v0, v1, Seq("k")).isEmpty)
    intercept[IllegalArgumentException](t.diffVersions(v0, v1, Seq.empty))
    // duplicate keys on one side are ambiguous -> loud
    val v2 = t.overwrite(Seq((1L, "a"), (1L, "b")).toDF("k", "s"))
    intercept[IllegalArgumentException](
      t.diffVersions(v0, v2, Seq("k")).collect())
    // schema change between versions is ambiguous -> loud
    val v3 = t.overwrite(Seq((1L, "a", 0)).toDF("k", "s", "extra"))
    intercept[IllegalArgumentException](t.diffVersions(v0, v3, Seq("k")))
  }

  test("schemaDrift: ADDED/REMOVED/RETYPED columns; empty on identical schemas") {
    val t = VersionedTable(spark, tmp() + "/drift")
    val v0 = t.overwrite(Seq((1L, "a", 1.5)).toDF("k", "s", "x"))
    // the audit diffVersions points to when it refuses: drop x (REMOVED),
    // add extra (ADDED), retype s string -> int (RETYPED)
    val v1 = t.overwrite(Seq((1L, 7, true)).toDF("k", "s", "extra"))
    val drift = t.schemaDrift(v0, v1).collect()
      .map(r => r.getString(0) ->
        (r.getString(1), Option(r.getString(2)), Option(r.getString(3))))
      .toMap
    assert(drift == Map(
      "extra" -> (("ADDED", None, Some("BOOLEAN"))),
      "x" -> (("REMOVED", Some("DOUBLE"), None)),
      "s" -> (("RETYPED", Some("STRING"), Some("INT")))))
    // identical schemas drift empty even when the DATA changed
    val v2 = t.overwrite(Seq((2L, 8, false)).toDF("k", "s", "extra"))
    assert(t.schemaDrift(v1, v2).isEmpty)
    intercept[IllegalArgumentException](t.schemaDrift(v0, 99L))
  }

  test("OrderedLag matches global-window lag exactly (incl. bucket boundaries)") {
    import org.apache.spark.sql.expressions.Window
    // dates spanning 3 years with gaps; a year entirely missing
    val days = Seq("2019-12-30", "2019-12-31", "2020-01-01", "2020-06-05",
      "2022-01-02", "2022-01-03").map(java.sql.Date.valueOf)
    val df = days.zipWithIndex.map { case (d, i) => (d, 100.0 + i) }
      .toDF("DATE", "V")
    val got = OrderedLag.byDate(df, "DATE", "V", "PREV")
      .orderBy("DATE").select("DATE", "PREV").collect().toSeq
    val want = df.withColumn("PREV", lag($"V", 1).over(Window.orderBy($"DATE")))
      .orderBy("DATE").select("DATE", "PREV").collect().toSeq
    assert(got == want)
  }

  // ---- reads built from the commit's file list ---------------------------

  /** 40 YEAR partitions (above Spark's 32-path parallel-listing threshold),
    * two of them shadowed by a later partition-scoped commit.
    */
  private def manyPartitions(root: String): VersionedTable = {
    val t = VersionedTable(spark, root)
    t.overwritePartitions((1970 until 2010).map(y => (y, y * 10L)).toDF("YEAR", "V"), "YEAR")
    t.overwritePartitions(Seq((1980, -1L), (2005, -2L)).toDF("YEAR", "V"), "YEAR")
    t
  }

  test("read of a >32-partition table starts no Spark job before an action") {
    val t = manyPartitions(tmp() + "/many")
    assert(t.state.get.parts.forall(_.files.nonEmpty))
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsStartedBy { df = t.read } == 0)
    assert(jobsStartedBy(t.readVersion(1)) == 0)
    assert(jobsStartedBy(t.readPartitions("YEAR", Seq("1980", "1999"))) == 0)
    assert(df.count() == 40)
  }

  test("file-list read returns what spark.read.parquet over the live dirs returns") {
    val root = tmp() + "/many_rows"
    val t = manyPartitions(root)
    val Seq(p1, p2) = t.state.get.parts
    val liveDirs = p1.vals.filterNot(p2.vals.toSet).map(v => s"$root/${p1.dir}/_pt=$v") ++
      p2.vals.map(v => s"$root/${p2.dir}/_pt=$v")
    assert(liveDirs.size == 40)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("YEAR", "V").orderBy("YEAR").collect().toSeq
    val want = rows(spark.read.parquet(liveDirs: _*))
    assert(rows(t.read) == want)
    assert(want.collect { case r if r.getInt(0) == 1980 => r.getLong(1) } == Seq(-1L))
    // a partition-scoped read is the same rows narrowed to its values
    assert(rows(t.readPartitions("YEAR", Seq("1980", "1999"))) ==
      want.filter(r => Set(1980, 1999)(r.getInt(0))))
  }

  test("a commit record without file lists, schema or part objects is rejected, naming its path") {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val part = """"dir":"v_00000001_0a1b2c3d","vals":[]"""
    val files = """"files":[["part-00000.parquet",512,1700000000000]]"""
    val schema = """"schema":"k BIGINT,v STRING""""
    Seq(
      "no_files" -> s"""{"version":1,"parts":[{$part}],"offsets":{},$schema}""",
      "no_schema" -> s"""{"version":1,"parts":[{$part,$files}],"offsets":{}}""",
      "round1_parts" -> """{"version":1,"parts":["v_00000001_0a1b2c3d"],"offsets":{}}"""
    ).foreach { case (name, record) =>
      val root = tmp() + "/" + name
      val path = s"$root/_commits/00000001.json"
      val out = fs.create(new org.apache.hadoop.fs.Path(path), false)
      try out.write(record.getBytes("UTF-8")) finally out.close()
      val e = intercept[IllegalStateException](VersionedTable(spark, root).state)
      assert(e.getMessage.startsWith("malformed commit record") &&
        e.getMessage.endsWith(path), s"$name: ${e.getMessage}")
    }
  }

  test("parts written by cloneTo, compact, compactClustered and rewriteWhere carry file lists") {
    val root = tmp()
    def listed(t: VersionedTable): Boolean = t.state.get.parts.forall { p =>
      val dir = if (p.dir.startsWith("/")) p.dir else s"${t.root}/${p.dir}"
      p.files.nonEmpty && p.files.forall(f =>
        new java.io.File(s"$dir/${f.path}").length() == f.length)
    }
    val t = VersionedTable(spark, s"$root/t")
    t.overwrite((1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v"))
    t.append((101 to 200).map(i => (i.toLong, s"v$i")).toDF("k", "v"))
    val clone = t.cloneTo(s"$root/clone")
    assert(listed(clone))
    clone.compact()
    assert(listed(clone) && clone.read.count() == 200)
    t.compactClustered(Seq("k"), 4)
    assert(t.state.get.parts.size == 4 && listed(t))
    t.rewriteWhere(col("k") <= 10L)(_.filter(col("k") > 5L))
    assert(listed(t) && t.read.count() == 195)
    val pt = manyPartitions(s"$root/pt")
    pt.compact()
    assert(listed(pt) && pt.read.count() == 40)
  }
}
