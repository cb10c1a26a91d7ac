package perfbench

import java.io.{FilterOutputStream, OutputStream}
import java.util.EnumSet
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Pass-through local file system that counts what the program asks of
  * storage. Registered for the `file` scheme with
  * `spark.hadoop.fs.file.impl`, it sees every open, listing, create and
  * rename the pipeline makes, without any change to the program.
  *
  * Counter keys are `<op>.<kind>.<table>`: `op` is open, list, create,
  * rename or bytes_written; `kind` is `commits` for paths in a table's
  * `_commits` log and `data` otherwise; `table` is the warehouse table the
  * path belongs to (see [[FsCounters.table]]).
  */
class CountingFs extends LocalFileSystem {
  import FsCounters.count

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count("open", f)
    super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    count("create", f)
    FsCounters.counting(f, super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: EnumSet[CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    count("create", f)
    FsCounters.counting(f, super.createNonRecursive(f, permission, flags,
      bufferSize, replication, blockSize, progress))
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    count("list", f)
    super.listStatus(f)
  }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    count("list", f)
    super.listLocatedStatus(f)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    count("rename", dst)
    super.rename(src, dst)
  }
}

object FsCounters {
  /** Counting is switched off for the untraced half of a traced run. */
  @volatile var enabled = true

  private val counters = new ConcurrentHashMap[String, LongAdder]()

  private val Tables = Seq(
    "RAW_CO2/CO2_DATA_STREAM" -> "stream",
    "RAW_CO2/CO2_DATA" -> "raw",
    "HARMONIZED_CO2/HARMONIZED_CO2" -> "harmonized",
    "ANALYTICS_CO2/DAILY_CO2_STATS" -> "daily",
    "ANALYTICS_CO2/WEEKLY_CO2_STATS" -> "weekly",
    "ANALYTICS_CO2/_CO2_MINMAX" -> "minmax",
    "_TASK_HISTORY" -> "task_history",
    "_TASKS" -> "tasks")

  /** The warehouse table a path belongs to, or `other`. */
  def table(path: String): String =
    Tables.collectFirst {
      case (dir, name) if path.contains(s"/$dir/") || path.endsWith(s"/$dir") => name
    }.getOrElse("other")

  def kind(path: String): String =
    if (path.contains("/_commits/") || path.endsWith("/_commits")) "commits"
    else "data"

  def key(op: String, path: String): String =
    s"$op.${kind(path)}.${table(path)}"

  def add(key: String, n: Long): Unit =
    if (enabled) counters.computeIfAbsent(key, _ => new LongAdder).add(n)

  def count(op: String, f: Path): Unit = add(key(op, f.toUri.getPath), 1)

  def snapshot(): Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    counters.forEach((k, v) => b += k -> v.sum)
    b.result()
  }

  /** Wraps a created file's stream so the bytes written to it are counted
    * under that file's table.
    */
  def counting(f: Path, out: FSDataOutputStream): FSDataOutputStream = {
    val k = key("bytes_written", f.toUri.getPath)
    new FSDataOutputStream(new FilterOutputStream(out) {
      override def write(b: Int): Unit = { out.write(b); add(k, 1) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); add(k, len)
      }
    }, null)
  }

  /** Sum of the counters whose key matches `op`, `kind` and `table`; a
    * `*` matches anything.
    */
  def sum(m: Map[String, Long], op: String, kind: String = "*",
          table: String = "*"): Long =
    m.collect {
      case (k, v) if {
        val Array(o, kd, t) = k.split("\\.", 3)
        o == op && (kind == "*" || kd == kind) && (table == "*" || t == table)
      } => v
    }.sum
}
