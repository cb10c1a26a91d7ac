package graft.sql

import java.sql.Timestamp

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, desc}
import org.apache.spark.sql.types.StructType

import graft.storage.VersionedTable

/** One row of the warehouse `_TASKS` table. `schedule` is a cron schedule
  * (`USING CRON …`) or the dependency edge (`AFTER <parent>`), as SHOW
  * TASKS displays it. `body` is `;`-separated SQL; the CO2 pipeline's tasks
  * have none. `suspendAfter` is `SUSPEND_TASK_AFTER_NUM_FAILURES` (0 =
  * never); `consecFailures` counts failed runs since the last success.
  */
private[graft] final case class TaskDef(
    name: String, schedule: Option[String], condition: Option[String],
    body: Option[String] = None, suspended: Boolean = false,
    suspendAfter: Int = 0, consecFailures: Int = 0)

/** One visited task's outcome: its STATE (`SUCCEEDED`, `SKIPPED (…)` or
  * `FAILED: <first line of the error>`), the body's return value, and the
  * exception of a failed WHEN gate or body.
  */
private[graft] final case class TaskRun(
    task: String, state: String,
    returnValue: Option[String] = None, error: Option[Throwable] = None)

/** The one task-DAG runner, and the warehouse tables that hold the tasks
  * (`_TASKS`, one [[TaskDef]] per row) and their runs (`_TASK_HISTORY`,
  * Snowflake TASK_HISTORY parity: orchestrate_tasks.sql.j2:64-75).
  */
private[graft] object TaskDag {
  val Succeeded = "SUCCEEDED"

  private val TasksSchema = StructType.fromDDL(
    "NAME STRING NOT NULL, SCHEDULE STRING, CONDITION STRING, BODY STRING, " +
      "SUSPENDED BOOLEAN NOT NULL, SUSPEND_AFTER_FAILURES INT NOT NULL, " +
      "CONSEC_FAILURES INT NOT NULL")

  /** RETURN_VALUE is the body's return string, as in Snowflake. */
  val HistorySchema: StructType = StructType.fromDDL(
    "TASK_NAME STRING NOT NULL, STATE STRING NOT NULL, " +
      "SCHEDULED_TIME TIMESTAMP NOT NULL, ERROR_MESSAGE STRING, RETURN_VALUE STRING")

  private def table(spark: SparkSession, root: String, name: String) =
    VersionedTable(spark, s"$root/$name", collectStats = false)

  def readTasks(spark: SparkSession, root: String): Seq[TaskDef] = {
    val vt = table(spark, root, "_TASKS")
    if (!vt.exists) return Nil
    vt.read.select(TasksSchema.fieldNames.toSeq.map(col): _*).collect().toSeq.map { r =>
      def opt(i: Int) = Option(r.getString(i))
      TaskDef(r.getString(0), opt(1), opt(2), opt(3), r.getBoolean(4), r.getInt(5), r.getInt(6))
    }
  }

  def writeTasks(spark: SparkSession, root: String, ts: Seq[TaskDef]): Unit =
    table(spark, root, "_TASKS").overwrite(spark.createDataFrame(
      ts.map(t => Row(t.name, t.schedule.orNull, t.condition.orNull, t.body.orNull,
        t.suspended, t.suspendAfter, t.consecFailures)).asJava,
      TasksSchema))

  /** Every recorded task run, newest first. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val vt = table(spark, root, "_TASK_HISTORY")
    (if (vt.exists) vt.read else spark.createDataFrame(java.util.List.of[Row](), HistorySchema))
      .orderBy(desc("SCHEDULED_TIME"))
  }

  /** Runs `rootTask`, then its AFTER-children in name order, depth first;
    * an AFTER cycle is cut at the first revisit. A suspended task (the
    * root too, unless `rootEvenIfSuspended`) or a false WHEN `gate` is
    * SKIPPED, and a `body` or `gate` that throws is FAILED; either stops
    * that task's subtree. `gate` evaluates a WHEN condition; `body` runs a
    * task and returns its RETURN_VALUE. Appends one `_TASK_HISTORY` row per
    * visited task, stamped `scheduledTime`, in one commit, and returns the
    * outcomes in visit order.
    */
  def run(spark: SparkSession, root: String, rootTask: TaskDef, all: Seq[TaskDef],
          rootEvenIfSuspended: Boolean, scheduledTime: Timestamp)
         (gate: String => Boolean, body: TaskDef => Option[String]): Seq[TaskRun] = {
    val runs = Seq.newBuilder[TaskRun]
    val visited = scala.collection.mutable.Set[String]()
    def failed(t: TaskDef, e: Throwable) =
      TaskRun(t.name, s"FAILED: ${firstLine(e)}", error = Some(e))
    def exec(t: TaskDef, isRoot: Boolean): Unit = if (visited.add(t.name.toUpperCase)) {
      val r =
        if (t.suspended && !(isRoot && rootEvenIfSuspended)) TaskRun(t.name, "SKIPPED (suspended)")
        else Try(t.condition.forall(gate)) match {
          case Failure(e) => failed(t, e)
          case Success(false) => TaskRun(t.name, "SKIPPED (WHEN condition false)")
          case Success(true) => Try(body(t)).fold(failed(t, _), v => TaskRun(t.name, Succeeded, v))
        }
      runs += r
      if (r.state == Succeeded)
        all.filter(_.schedule.exists(_.trim.equalsIgnoreCase(s"AFTER ${t.name}")))
          .sortBy(_.name).foreach(exec(_, isRoot = false))
    }
    exec(rootTask, isRoot = true)
    val out = runs.result()
    table(spark, root, "_TASK_HISTORY").append(spark.createDataFrame(
      out.map(r => Row(r.task, r.state, scheduledTime, r.error.map(firstLine).orNull,
        r.returnValue.orNull)).asJava,
      HistorySchema))
    out
  }

  private def firstLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.toString)
      .linesIterator.find(_.trim.nonEmpty).getOrElse(e.toString).take(200)
}
