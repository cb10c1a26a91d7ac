package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.storage.{LocalFs, VersionedTable}

/** The session's `file` file system sets permissions in-process with the
  * bits Hadoop's own `chmod` path gives.
  */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  private def perms(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def octal(mode: String) = new FsPermission(Integer.parseInt(mode, 8).toShort)

  test("the session's file system is LocalFs; a committed part carries Hadoop's bits") {
    val root = Files.createTempDirectory("localfs_part_").resolve("t")
    val fs = new Path(root.toString).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[LocalFs], fs.getClass)
    VersionedTable(spark, root.toString)
      .overwritePartitions(Seq((1, "a"), (2, "b")).toDF("k", "v"), "k")
    val (dirs, files) = Files.walk(root).iterator.asScala.toSeq.partition(Files.isDirectory(_))
    assert(dirs.exists(_.getFileName.toString.startsWith("_pt=")) &&
      files.exists(_.getFileName.toString.endsWith(".parquet")) &&
      files.exists(_.getFileName.toString.endsWith(".json")))
    files.foreach(f => assert(perms(f) == "rw-r--r--", f))
    dirs.foreach(d => assert(perms(d) == "rwxr-xr-x", d))
  }

  test("setPermission round-trips 0640 and 0700; a sticky-bit mode takes Hadoop's path") {
    val fs = new LocalFs
    fs.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val dir = Files.createTempDirectory("localfs_perm_")
    val f = Files.writeString(dir.resolve("f"), "x")
    Seq("640" -> "rw-r-----", "700" -> "rwx------").foreach { case (mode, bits) =>
      fs.setPermission(new Path(f.toString), octal(mode))
      assert(perms(f) == bits)
      // read back through Hadoop's own status
      assert(fs.getFileStatus(new Path(f.toString)).getPermission == octal(mode))
    }
    // java.nio has no sticky bit: it is set only if Hadoop's path ran
    val d = Files.createDirectory(dir.resolve("d"))
    fs.setPermission(new Path(d.toString), octal("1777"))
    val p = fs.getFileStatus(new Path(d.toString)).getPermission
    assert(p.getStickyBit && p == octal("1777"), p)
    fs.close()
  }
}
