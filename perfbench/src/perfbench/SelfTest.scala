package perfbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Self-test of the harness's own instruments, run by
  * perfbench/tests/test_countingfs.py: the counting file system passes data
  * through unchanged and counts each call under the right key, and span
  * self time and stack attribution compute as documented.
  */
object SelfTest {
  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) { System.err.println(s"SelfTest failed: $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    val base = args(0)
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[CountingFs].getName)
    val fs = new Path(base).getFileSystem(conf)
    check(fs.isInstanceOf[CountingFs], s"file system is ${fs.getClass}")

    val raw = s"$base/wh/RAW_CO2/CO2_DATA"
    val data = Array.tabulate[Byte](100000)(i => (i * 31).toByte)
    val part = new Path(s"$raw/v_1/part-0.parquet")
    val out = fs.create(part)
    out.write(data, 0, 50000)
    out.write(data(50000).toInt)
    out.write(data, 50001, data.length - 50001)
    out.close()
    val tmp = new Path(s"$raw/_commits/.tmp")
    val o2 = fs.create(tmp)
    o2.write("{}".getBytes("UTF-8"))
    o2.close()
    check(fs.rename(tmp, new Path(s"$raw/_commits/00000001.json")), "rename")
    val in = fs.open(part)
    val back = in.readAllBytes()
    in.close()
    check(back.sameElements(data), "bytes read back differ from bytes written")
    check(fs.listStatus(new Path(s"$raw/_commits")).map(_.getPath.getName).toSeq ==
      Seq("00000001.json"), "listing of _commits")
    fs.open(new Path(s"$raw/_commits/00000001.json")).close()
    fs.create(new Path(s"$base/wh/RAW_CO2/CO2_DATA_STREAM/v_1/p")).close()
    fs.create(new Path(s"$base/feed.txt")).close()

    val want = Map(
      "create.data.raw" -> 1L, "bytes_written.data.raw" -> data.length.toLong,
      "create.commits.raw" -> 1L, "bytes_written.commits.raw" -> 2L,
      "rename.commits.raw" -> 1L, "open.data.raw" -> 1L, "open.commits.raw" -> 1L,
      "list.commits.raw" -> 1L, "create.data.stream" -> 1L, "create.data.other" -> 1L)
    val got = FsCounters.snapshot().filter(_._2 != 0)
    check(got == want, s"counters $got, want $want")

    FsCounters.enabled = false
    fs.open(part).close()
    check(FsCounters.snapshot().filter(_._2 != 0) == want, "counted while disabled")

    check(FsCounters.table("/w/_TASK_HISTORY/_commits/00000002.json") == "task_history" &&
      FsCounters.kind("/w/_TASKS/_commits") == "commits" &&
      FsCounters.table("/w/ANALYTICS_CO2/DAILY_CO2_STATS") == "daily", "path classification")

    check(Tracer.selfMs(0, 10, Seq((1.0, 3.0), (2.0, 5.0), (8.0, 12.0))) == 4.0, "self time")
    val stack = Seq(
      "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:369)",
      "graft.storage.VersionedTable.commit(VersionedTable.scala:1122)",
      "graft.operators.MergeInto$.apply(MergeInto.scala:120)",
      "graft.co2.Co2Pipeline.analytics(Co2Pipeline.scala:200)",
      "perfbench.Stages$.run(Workloads.scala:20)").mkString("\n")
    val frames = Tracer.programFrames(stack)
    check(frames == Seq("VersionedTable.scala:1122", "MergeInto.scala:120", "Co2Pipeline.scala:200"),
      s"frames $frames")
    check(Tracer.layersOf(frames) == Set("storage", "operators.merge", "co2"), "layers")
    println("SelfTest ok")
  }
}
