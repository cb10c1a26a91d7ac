package graft.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{approx_count_distinct, coalesce, col, count, desc, floor, lit, max, min, sum, when}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, LongType, MapType, StringType, StructType}

import graft.operators._
import graft.storage.{VersionedTable, ZoneMaps}

/** How a procedure uses a `NS.TABLE` argument: whether the table must
  * already exist (`None`: created on the first call, written again later)
  * and the grants the caller needs on it.
  */
private[sql] sealed abstract class TableUse(val mustExist: Option[Boolean],
                                            privs: String*) {
  def privileges(exists: Boolean): Seq[String] = privs
}

private[sql] object TableUse {
  /** An existing table the procedure reads. */
  case object Read extends TableUse(Some(true), "SELECT")
  /** An existing table rewritten in place — what ALTER TABLE needs. */
  case object Own extends TableUse(Some(true), "OWNERSHIP")
  /** An existing table whose rows are closed and extended in place. */
  case object Modify extends TableUse(Some(true), "SELECT", "UPDATE", "INSERT")
  /** A new table in an existing schema (CTAS-shaped procedures). */
  case object Create extends TableUse(Some(false), "CREATE TABLE")
  /** A table created by the first call and written by later ones. */
  case object Land extends TableUse(None) {
    override def privileges(exists: Boolean): Seq[String] =
      Seq(if (exists) "INSERT" else "CREATE TABLE")
  }
}

/** One `CALL` parameter: its SQL type, an optional SQL default, and — for a
  * `NS.TABLE` argument — how the procedure uses that table.
  */
private[sql] final case class ProcParam(name: String, dataType: DataType,
                                        default: Option[String] = None,
                                        table: Option[TableUse] = None)

/** One `CALL <cat>.system.<name>` procedure: signature and body. */
private[sql] final case class ProcEntry(name: String, description: String,
                                        params: Seq[ProcParam],
                                        body: ProcArgs => DataFrame)

/** A call's arguments, read by parameter name. Every table argument is
  * resolved through [[GraftCatalog.tableArg]] — parsed, existence-checked
  * and privilege-checked — before the body runs.
  */
private[sql] final class ProcArgs(val catalog: GraftCatalog,
                                  params: Seq[ProcParam], input: InternalRow) {
  private def at(name: String): Int = {
    val i = params.indexWhere(_.name == name)
    require(i >= 0, s"procedure has no parameter '$name'")
    i
  }

  private val tables: Map[String, (Identifier, VersionedTable)] =
    params.collect { case ProcParam(n, _, _, Some(use)) =>
      n -> catalog.tableArg(str(n), n, use)
    }.toMap

  def str(name: String): String =
    Option(input.getUTF8String(at(name))).map(_.toString).orNull
  def int(name: String): Int = input.getInt(at(name))
  def long(name: String): Long = input.getLong(at(name))
  def double(name: String): Double = input.getDouble(at(name))
  def bool(name: String): Boolean = input.getBoolean(at(name))
  /** A comma-separated list argument. */
  def list(name: String): Seq[String] =
    str(name).split(",").map(_.trim).filter(_.nonEmpty).toSeq

  def ident(name: String): Identifier = tables(name)._1
  def table(name: String): VersionedTable = tables(name)._2
  def read(name: String): DataFrame = table(name).read
}

/** The one bound procedure behind every registry entry. */
private[sql] final class RegisteredProcedure(entry: ProcEntry,
                                             catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = entry.name
  override def description(): String = entry.description
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] =
    entry.params.map { p =>
      val b = ProcedureParameter.in(p.name, p.dataType)
      p.default.fold(b)(d => b.defaultValue(d)).build()
    }.toArray
  override def call(input: InternalRow): java.util.Iterator[Scan] =
    java.util.List.of[Scan](Procedures.localScan(
      entry.body(new ProcArgs(catalog, entry.params, input)))).iterator()
}

/** The procedure registry: every `CALL <cat>.system.<name>` verb as one
  * entry — name, description, typed parameters and a body that returns its
  * result as a DataFrame. Bodies that read only metadata return a
  * driver-local DataFrame ([[local]]), which reaches the caller without a
  * Spark job.
  */
object Procedures {
  import TableUse._

  private def spark = SparkSession.active

  // ----------------------------------------------------------- plumbing --

  private def proc(name: String, description: String, params: ProcParam*)
                  (body: ProcArgs => DataFrame): ProcEntry =
    ProcEntry(name, description, params, body)

  private def str(n: String) = ProcParam(n, StringType)
  private def str(n: String, default: String) =
    ProcParam(n, StringType, Some(s"'$default'"))
  private def int(n: String) = ProcParam(n, IntegerType)
  private def int(n: String, default: Int) =
    ProcParam(n, IntegerType, Some(default.toString))
  private def long(n: String) = ProcParam(n, LongType)
  private def long(n: String, default: Long) =
    ProcParam(n, LongType, Some(default.toString))
  private def double(n: String) = ProcParam(n, DoubleType)
  private def double(n: String, default: Double) =
    ProcParam(n, DoubleType, Some(default.toString))
  private def bool(n: String, default: Boolean) =
    ProcParam(n, BooleanType, Some(default.toString))
  private def table(n: String, use: TableUse = Read) =
    ProcParam(n, StringType, table = Some(use))

  /** The DataFrame → `LocalScan` bridge: the scan's schema and rows come
    * from the body's plan. A driver-local plan hands its rows over as they
    * are, so it starts no Spark job; any other plan runs once, as
    * `collect()` would run it.
    */
  private[sql] def localScan(df: DataFrame): LocalScan = {
    val qe = df.queryExecution
    val out = qe.analyzed match {
      case l: LocalRelation => l.data.toArray
      case _ => SQLExecution.withNewExecutionId(qe)(qe.executedPlan.executeCollect())
    }
    val schema = df.schema
    new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = out
    }
  }

  /** A driver-local result; `ddl` is its schema (`name TYPE [NOT NULL], …`). */
  private def local(ddl: String, rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava, StructType.fromDDL(ddl))

  private def version(v: Long) = local("version BIGINT NOT NULL", Row(v))
  private def status(s: String) = local("status STRING NOT NULL", Row(s))
  private def taskStatus(task: String, s: String) =
    local("task STRING NOT NULL, status STRING NOT NULL", Row(task, s))
  private def taskStates(results: Seq[(String, String)]) =
    local("task_name STRING NOT NULL, state STRING NOT NULL",
      results.map(Row.fromTuple): _*)

  /** `cols` of `df`, led by its group column rendered as the string `group`. */
  private def byGroup(df: DataFrame, groupCol: String, cols: String*) =
    df.select(col(groupCol).cast(StringType).as("group") +: cols.map(col): _*)

  /** The `(src, dst)` edge relation named by `src_col`/`dst_col`. */
  private def edges(a: ProcArgs, df: DataFrame) =
    df.select(col(a.str("src_col")).as("src"), col(a.str("dst_col")).as("dst"))

  private def terms(a: ProcArgs): Seq[String] = {
    val ts = a.str("terms").trim.split("\\s+").toSeq.filter(_.nonEmpty)
    require(ts.nonEmpty, "terms must contain at least one token")
    ts
  }

  /** The embedding of row `id` in `df`, read on the driver. */
  private def queryVector(df: DataFrame, idCol: String, vecCol: String,
                          id: Long, from: String): Array[Double] = {
    val q = df.filter(col(idCol).cast("long") === id)
      .select(col(vecCol)).limit(1).collect()
    require(q.nonEmpty, s"query_id $id not in $from")
    q.head.getSeq[Number](0).map(_.doubleValue).toArray
  }

  /** The CTAS tail of the procedures that write a new table: `op` over
    * the `source` table lands in `target`, one row `(target, n_rows)`.
    */
  private def materializeResult(a: ProcArgs)(op: DataFrame => DataFrame): DataFrame = {
    // cache the operator result so the row count does not re-run the
    // operator (or re-scan the written table) a second time
    val result = op(a.read("source")).cache()
    try {
      val n = result.count()
      a.table("target").overwrite(result)
      local("target STRING NOT NULL, n_rows BIGINT NOT NULL", Row(a.str("target"), n))
    } finally result.unpersist(blocking = false)
  }

  // ------------------------------------------------------------ registry --

  private val all: Seq[ProcEntry] = Seq(
    // ---- table maintenance
    proc("compact", "rewrite a graft table's live rows into one part (OPTIMIZE)",
      table("table", Own)) { a =>
      version(a.table("table").compact())
    },
    proc("cluster",
      "rewrite live rows into n_parts range-clustered parts on cluster_by " +
        "(Snowflake clustering keys / OPTIMIZE ZORDER analogue) - makes " +
        "zone maps tight for range predicates on those columns",
      table("table", Own), str("cluster_by"), int("n_parts", 16)) { a =>
      version(a.table("table").compactClustered(a.list("cluster_by"), a.int("n_parts")))
    },
    proc("zorder",
      "rewrite live rows into n_parts Morton-curve-ordered parts on 2-3 " +
        "zorder_by columns (OPTIMIZE ZORDER BY) - zone maps bound a " +
        "rectangle in EVERY listed dimension, so multi-dimension box " +
        "predicates prune multiplicatively",
      table("table", Own), str("zorder_by"), int("n_parts", 16)) { a =>
      version(a.table("table").compactZorder(a.list("zorder_by"), a.int("n_parts")))
    },
    proc("vacuum", "reclaim data dirs unreachable from the newest retain_last commits",
      table("table", Own), int("retain_last", 2), long("max_age_ms", -1L)) { a =>
      val vt = a.table("table")
      // time-based retention wins when given (Delta RETAIN n HOURS parity)
      val deleted =
        if (a.long("max_age_ms") >= 0L) vt.vacuumOlderThan(a.long("max_age_ms"))
        else vt.vacuum(retainLast = a.int("retain_last"))
      local("deleted_dirs INT NOT NULL", Row(deleted.size))
    },
    proc("clone",
      "zero-copy clone: CALL <cat>.system.clone('NS.SRC', 'NS.DST') — " +
        "O(1) metadata commit, Snowflake CREATE TABLE ... CLONE semantics",
      table("source"), table("target", Create)) { a =>
      version(a.table("source").cloneTo(a.table("target").root).state.get.version)
    },
    proc("history",
      "commit history of a graft table (DESCRIBE HISTORY parity), metadata-only",
      table("table")) { a =>
      local("version BIGINT NOT NULL, committed_at TIMESTAMP NOT NULL, " +
        "operation STRING NOT NULL, n_parts INT NOT NULL",
        a.table("table").history.map(c => Row(c.version,
          java.time.Instant.ofEpochMilli(c.committedAtMs), c.operation, c.nParts)): _*)
    },
    proc("zonemaps",
      "per-part (column, min, max) zone-map stats of a graft table - the " +
        "skipping metadata filtered reads and pruned DELETE/UPDATE consult; " +
        "metadata-only",
      table("table")) { a =>
      local("part STRING NOT NULL, column STRING NOT NULL, " +
        "min STRING NOT NULL, max STRING NOT NULL",
        a.table("table").state.toSeq.flatMap(_.parts).flatMap { p =>
          p.stats.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
            Row(p.dir, c, ZoneMaps.display(mn), ZoneMaps.display(mx))
          }
        }: _*)
    },

    // ---- streams
    // `CREATE STREAM <s> ON TABLE <t>` parity: types the stream directory so
    // SHOW TABLES lists it and SELECT reads the net unconsumed window.
    // `consumer` names the table whose committed offset (under key = the
    // stream's qualified name) defines "consumed" — the engine's offsets
    // live with the consuming transaction (MergeInto), exactly like
    // Snowflake advancing a stream inside the consuming DML. The change log
    // itself materializes on first publish.
    proc("create_stream",
      "define a STREAM object over a change-log dir (CREATE STREAM parity)",
      str("stream"), str("source"), str("consumer"), str("mode", "DEFAULT")) { a =>
      val stream = a.str("stream")
      require(stream.split("\\.").count(_.nonEmpty) >= 2,
        s"stream name must be namespace-qualified, got '$stream'")
      GraftCatalog.defineStream(spark, a.catalog.root,
        dir = stream.split("\\.").filter(_.nonEmpty).mkString("/"),
        offsetKey = stream, sourceTable = a.str("source"),
        consumerDir = a.str("consumer").split("\\.").filter(_.nonEmpty).mkString("/"),
        mode = a.str("mode"))
      local("stream STRING NOT NULL, status STRING NOT NULL", Row(stream, "created"))
    },
    proc("describe_stream",
      "DESCRIBE STREAM parity: name, mode, tracked table, consumer, " +
        "committed offset, and SYSTEM$STREAM_HAS_DATA - metadata-only",
      str("stream")) { a =>
      val stream = a.str("stream")
      val (props, consumed, hasData) = a.catalog.streamStatus(stream)
      local("name STRING NOT NULL, mode STRING NOT NULL, table_name STRING, " +
        "consumer STRING, consumed_offset BIGINT NOT NULL, has_data BOOLEAN NOT NULL",
        Row(stream, props.getOrElse("mode", "DEFAULT"),
          props.get(GraftCatalog.STREAM_SOURCE_PROP).orNull,
          props.get(GraftCatalog.STREAM_CONSUMER_PROP).orNull, consumed, hasData))
    },
    // one metadata file read per table dir — DDL-scale, not data-scale
    proc("show_streams",
      "list the STREAM objects in this warehouse (SHOW STREAMS parity)") { a =>
      local("name STRING NOT NULL, mode STRING NOT NULL, table_name STRING",
        a.catalog.streams.sortBy(_._1).map { case (name, props) =>
          Row(name, props.getOrElse("mode", "DEFAULT"),
            props.get(GraftCatalog.STREAM_SOURCE_PROP).orNull)
        }: _*)
    },

    // ---- tasks
    // SHOW TASKS parity (orchestrate_tasks.sql.j2:81) over the warehouse
    // `_TASKS` table, plus scheduler state: the last fire from _TASK_RUNS,
    // the next occurrence (strictly after the last fire, at/after now;
    // interval = last_fire + n, null until baselined; null for suspended
    // tasks and AFTER-children), and SUSPEND_TASK_AFTER_NUM_FAILURES state
    proc("show_tasks",
      "list the task DAG registered in this warehouse (SHOW TASKS parity)") { a =>
      val c = a.catalog
      val runs = c.readTaskRuns()
      val now = java.time.Instant.now()
      local("name STRING NOT NULL, schedule STRING, condition STRING, " +
        "suspended BOOLEAN NOT NULL, last_fire TIMESTAMP, next_fire TIMESTAMP, " +
        "suspend_after_failures INT NOT NULL, consec_failures INT NOT NULL",
        TaskDag.readTasks(spark, c.root).map { t =>
          val last = runs.get(t.name.toUpperCase)
          val next =
            if (t.suspended) None
            else t.schedule.flatMap(TaskSchedule.parse).flatMap {
              case cron: CronSchedule =>
                val from = last.map(_.plusSeconds(60)).filter(_.isAfter(now))
                cron.earliestAtOrAfter(from.getOrElse(now))
              case IntervalSchedule(n) => last.map(_.plusSeconds(n * 60))
            }
          Row(t.name, t.schedule.orNull, t.condition.orNull, t.suspended,
            last.orNull, next.orNull, t.suspendAfter, t.consecFailures)
        }: _*)
    },
    // TASK_HISTORY() parity (orchestrate_tasks.sql.j2:64-75): newest first,
    // bounded by `limit` (Snowflake's information-schema default of 100)
    proc("task_history",
      "recent pipeline task runs, newest first (TASK_HISTORY parity)",
      int("limit", 100)) { a =>
      TaskDag.history(spark, a.catalog.root)
        .select(TaskDag.HistorySchema.fieldNames.toSeq.map(n => col(n).as(n.toLowerCase)): _*)
        .limit(math.max(0, a.int("limit")))
    },
    // `CREATE [OR REPLACE] TASK` parity (orchestrate_tasks.sql.j2:28-48).
    // Like Snowflake, a new task is created SUSPENDED and must be resumed
    // (`alter_task`) before a DAG run reaches it — `execute_task` on the
    // task itself always runs it.
    proc("create_task",
      "define a TASK object: schedule or AFTER edge, optional " +
        "SYSTEM$STREAM_HAS_DATA condition, SQL body (CREATE TASK parity)",
      str("task"), str("body"), str("schedule", ""), str("after", ""),
      str("condition", ""), bool("or_replace", true),
      int("suspend_after_failures", 0)) { a =>
      val c = a.catalog
      val taskName = a.str("task").trim
      val body = a.str("body")
      val schedule = a.str("schedule").trim
      val after = a.str("after").trim
      val condition = a.str("condition").trim
      val suspendAfter = a.int("suspend_after_failures")
      require(suspendAfter >= 0,
        s"task $taskName: suspend_after_failures must be >= 0, got $suspendAfter")
      require(taskName.nonEmpty, "task name must be non-empty")
      require(body.trim.nonEmpty, s"task $taskName needs a SQL body")
      require(schedule.isEmpty || after.isEmpty,
        s"task $taskName: SCHEDULE and AFTER are mutually exclusive")
      if (condition.nonEmpty)
        require(c.StreamCond.pattern.matcher(condition).matches(),
          s"task $taskName: WHEN condition must be " +
            s"SYSTEM$$STREAM_HAS_DATA('<ns>.<stream>'), got '$condition'")
      val existing = TaskDag.readTasks(spark, c.root)
      require(a.bool("or_replace") || !existing.exists(_.name.equalsIgnoreCase(taskName)),
        s"task $taskName already exists (use or_replace => true)")
      if (after.nonEmpty)
        require(existing.exists(_.name.equalsIgnoreCase(after)),
          s"task $taskName: AFTER parent '$after' does not exist")
      // a schedule must parse NOW — a typo'd cron that silently never
      // fires is the worst failure mode a scheduler can have
      if (schedule.nonEmpty)
        require(TaskSchedule.parse(schedule).nonEmpty,
          s"task $taskName: SCHEDULE must be 'USING CRON <m> <h> <dom> " +
            s"<mon> <dow> <tz>' or '<n> MINUTE', got '$schedule'")
      val sched =
        if (after.nonEmpty) Some(s"AFTER $after")
        else Some(schedule).filter(_.nonEmpty)
      val t = TaskDef(taskName, sched, Some(condition).filter(_.nonEmpty),
        Some(body), suspended = true, suspendAfter = suspendAfter)
      TaskDag.writeTasks(spark, c.root,
        existing.filterNot(_.name.equalsIgnoreCase(taskName)) :+ t)
      taskStatus(taskName, "created (suspended)")
    },
    // `ALTER TASK <t> SUSPEND|RESUME` parity (orchestrate_tasks.sql.j2:19-21,
    // 53-55); `if_exists => true` mirrors the template's ALTER TASK IF EXISTS
    proc("alter_task", "SUSPEND or RESUME a TASK object (ALTER TASK parity)",
      str("task"), str("action"), bool("if_exists", false)) { a =>
      val c = a.catalog
      val taskName = a.str("task").trim
      val action = a.str("action").trim.toUpperCase
      require(action == "SUSPEND" || action == "RESUME",
        s"alter_task action must be SUSPEND or RESUME, got '$action'")
      val existing = TaskDag.readTasks(spark, c.root)
      val found = existing.exists(_.name.equalsIgnoreCase(taskName))
      require(found || a.bool("if_exists"), s"task $taskName does not exist")
      if (found)
        TaskDag.writeTasks(spark, c.root, existing.map(t =>
          if (t.name.equalsIgnoreCase(taskName))
            // RESUME forgives the failure streak, like Snowflake's
            // auto-suspend counter resetting on ALTER TASK RESUME
            t.copy(suspended = action == "SUSPEND",
              consecFailures = if (action == "RESUME") 0 else t.consecFailures)
          else t))
      taskStatus(taskName,
        if (found) action.toLowerCase + "d" else "not found (if_exists)")
    },
    // `DROP TASK` parity. Children whose AFTER edge pointed at the dropped
    // task become standalone (a DAG run no longer reaches them) — the same
    // orphaning Snowflake allows once the parent is suspended and dropped.
    proc("drop_task", "drop a TASK object (DROP TASK parity)",
      str("task"), bool("if_exists", false)) { a =>
      val c = a.catalog
      val taskName = a.str("task").trim
      val existing = TaskDag.readTasks(spark, c.root)
      val found = existing.exists(_.name.equalsIgnoreCase(taskName))
      require(found || a.bool("if_exists"), s"task $taskName does not exist")
      if (found) TaskDag.writeTasks(spark, c.root,
        existing.filterNot(_.name.equalsIgnoreCase(taskName)))
      taskStatus(taskName, if (found) "dropped" else "not found (if_exists)")
    },
    // `EXECUTE TASK <root>` parity (orchestrate_tasks.sql.j2:63): Snowflake's
    // manual trigger — the named root runs even if suspended (the standard
    // way to test a DAG); see GraftCatalog.runTaskDag
    proc("execute_task",
      "run a TASK and its AFTER-descendants in dependency order " +
        "(EXECUTE TASK parity); records each outcome in task history",
      str("task")) { a =>
      val c = a.catalog
      val rootName = a.str("task").trim
      val all = TaskDag.readTasks(spark, c.root)
      val rootTask = all.find(_.name.equalsIgnoreCase(rootName)).getOrElse(
        throw new IllegalArgumentException(s"task $rootName does not exist"))
      taskStates(c.runTaskDag(rootTask, all, rootEvenIfSuspended = true,
        scheduledTime = new java.sql.Timestamp(System.currentTimeMillis())))
    },
    // The scheduler tick Snowflake runs internally: evaluates every
    // non-suspended ROOT task's SCHEDULE (`USING CRON …` / `<n> MINUTE`,
    // [[TaskSchedule]]) against a clock and fires due DAGs through the
    // same executor as `execute_task`. The clock is an explicit `now`
    // (ISO-8601 instant or 'yyyy-MM-dd HH:mm[:ss]' UTC; empty = wall
    // clock) so schedules are testable and replayable — a driver loop
    // becomes `while true { CALL run_due(); sleep }`. Per task:
    //   - the first tick ever seen registers a BASELINE watermark and does
    //     NOT fire (Snowflake: a resumed task first runs at the NEXT
    //     occurrence, never a past one);
    //   - cron: fires iff an occurrence exists in (last_fire, now]; the
    //     watermark advances to the OCCURRENCE time, so N missed ticks
    //     collapse to one catch-up run, and sub-schedule-resolution ticks
    //     are idempotent;
    //   - interval: fires iff now ≥ last_fire + n minutes; the watermark
    //     advances to `now`.
    proc("run_due",
      "scheduler tick: fire every non-suspended root task whose " +
        "SCHEDULE is due at `now` (default: wall clock); missed " +
        "occurrences collapse to one run",
      str("now", "")) { a =>
      val c = a.catalog
      val nowStr = a.str("now").trim
      val now: java.time.Instant =
        if (nowStr.isEmpty) java.time.Instant.now()
        else try java.time.Instant.parse(nowStr)
        catch {
          case _: java.time.format.DateTimeParseException =>
            java.time.LocalDateTime.parse(nowStr.replace(' ', 'T'))
              .toInstant(java.time.ZoneOffset.UTC)
        }
      val all = TaskDag.readTasks(spark, c.root)
      var runs = c.readTaskRuns()
      val results = scala.collection.mutable.ArrayBuffer[(String, String)]()
      def fire(t: TaskDef, at: java.time.Instant): Unit = {
        runs += t.name.toUpperCase -> at
        results ++= c.runTaskDag(t, all, rootEvenIfSuspended = false,
          scheduledTime = java.sql.Timestamp.from(at))
      }
      all.foreach { t =>
        t.schedule.flatMap(TaskSchedule.parse) match {
          case None => // AFTER-child or unscheduled: never fires directly
          case Some(_) if t.suspended =>
            results += t.name -> "SKIPPED (suspended)"
          case Some(sched) =>
            runs.get(t.name.toUpperCase) match {
              case None =>
                runs += t.name.toUpperCase -> now
                results += t.name -> "BASELINE (first tick registered)"
              case Some(last) => sched match {
                case cron: CronSchedule =>
                  cron.latestAtOrBefore(now) match {
                    case Some(occ) if occ.isAfter(last) => fire(t, occ)
                    case _ => results += t.name -> "NOT DUE"
                  }
                case i: IntervalSchedule =>
                  if (i.due(last, now)) fire(t, now)
                  else results += t.name -> "NOT DUE"
              }
            }
        }
      }
      c.writeTaskRuns(runs)
      taskStates(results.toSeq)
    },

    // ---- security (RBAC): GRANT parity with the reference's
    // table_grants.sql.j2:13-27 — roles are catalog objects, privileges are
    // granted per table / schema-star / account-star, and
    // `SET spark.graft.role = <r>` is USE ROLE. See GraftSecurity.
    proc("create_role",
      "CREATE ROLE parity: register a role in this catalog's _GRANTS store",
      str("role")) { a =>
      a.catalog.security.createRole(spark, a.str("role"))
      local("role STRING NOT NULL", Row(a.str("role").trim.toUpperCase))
    },
    proc("drop_role", "DROP ROLE parity: remove a role and cascade-drop its grants",
      str("role")) { a =>
      a.catalog.security.dropRole(spark, a.str("role"))
      local("dropped STRING NOT NULL", Row(a.str("role").trim.toUpperCase))
    },
    // privilege: SELECT / INSERT / UPDATE / DELETE / ALL (the four DML) /
    // OWNERSHIP (drop, alter, rename, maintenance) / CREATE TABLE
    // (schema-scoped); target `NS.TABLE`, `NS.*`, or `*`
    proc("grant_privilege",
      "GRANT parity: grant a privilege on a table/schema-star/account-star " +
        "target to a role (table_grants.sql.j2 GRANT INSERT,UPDATE ON TABLE)",
      str("role"), str("privilege"), str("on")) { a =>
      a.catalog.security.grant(spark, a.str("role"), a.str("privilege"), a.str("on"))
      status("GRANTED")
    },
    proc("revoke_privilege",
      "REVOKE parity: remove a previously granted privilege from a role",
      str("role"), str("privilege"), str("on")) { a =>
      a.catalog.security.revoke(spark, a.str("role"), a.str("privilege"), a.str("on"))
      status("REVOKED")
    },
    proc("show_grants",
      "SHOW GRANTS [TO ROLE r] parity: list grants, optionally one role's",
      str("role", "")) { a =>
      val role = Option(a.str("role")).map(_.trim).filter(_.nonEmpty)
      local("role STRING NOT NULL, privilege STRING NOT NULL, target STRING NOT NULL",
        a.catalog.security.showGrants(spark, role)
          .sortBy(g => (g.role, g.target, g.priv))
          .map(g => Row(g.role, g.priv, g.target)): _*)
    },
    proc("show_roles", "SHOW ROLES parity") { a =>
      local("role STRING NOT NULL",
        a.catalog.security.listRoles(spark).map(Row(_)): _*)
    },

    // ---- LLM-pipeline operators (SURVEY §2.11). CTAS-shaped verbs read
    // `source` and land their result in a NEW `target` table, with the
    // grants of their DML equivalents: SELECT on every input, CREATE TABLE
    // on the target's schema.
    proc("dedup_exact",
      "exact content dedup: keep the smallest-id row per normalized text; " +
        "survivors land in a NEW table (CTAS-shaped)",
      table("source"), table("target", Create), str("text_col"), str("id_col")) { a =>
      val (textCol, idCol) = (a.str("text_col"), a.str("id_col"))
      materializeResult(a) { df =>
        df.join(Dedup.exact(df, textCol, idCol).select(col(idCol)), Seq(idCol), "left_semi")
      }
    },
    proc("minhash_dedup",
      "MinHash/LSH near-dup removal with exact Jaccard rescore " +
        "(graft.operators.Dedup.minhashDedupExact); survivors land in a " +
        "NEW table (CTAS-shaped)",
      table("source"), table("target", Create), str("text_col"), str("id_col"),
      double("threshold", 0.7)) { a =>
      materializeResult(a)(Dedup.minhashDedupExact(_, a.str("text_col"),
        a.str("id_col"), threshold = a.double("threshold")))
    },
    proc("substring_dedup",
      "cross-document exact-substring dedup (Lee et al. k-gram cover): " +
        "spans seen earlier in the corpus are scrubbed, survivors " +
        "reassemble into a NEW table (id, text, n_toks_kept, n_toks_dropped)",
      table("source"), table("target", Create), str("text_col"), str("id_col"),
      int("k", 5)) { a =>
      materializeResult(a)(Dedup.substringDedup(_, a.str("text_col"),
        a.str("id_col"), a.int("k")))
    },
    proc("ann_topk",
      "exact cosine top-k against the vector of query_id in the same " +
        "table (more-like-this); returns (id, score) — k rows, bounded",
      table("table"), str("vec_col"), str("id_col"), long("query_id"),
      int("k", 10)) { a =>
      val (vecCol, idCol) = (a.str("vec_col"), a.str("id_col"))
      val df = a.read("table")
      val q = queryVector(df, idCol, vecCol, a.long("query_id"), a.str("table"))
      Similarity.topK(df, vecCol, idCol, q, a.int("k"))
        .select(col(idCol).cast("long").as("id"), col("score"))
    },
    proc("decontaminate",
      "benchmark decontamination: remove source docs sharing any word " +
        "n-gram with the bench table (broadcast two-phase, corpus never " +
        "shuffles); survivors land in a NEW table (CTAS-shaped)",
      table("source"), table("bench"), table("target", Create), str("text_col"),
      str("id_col"), int("n", 8)) { a =>
      materializeResult(a)(Decontaminate.clean(_, a.read("bench"),
        a.str("id_col"), a.str("text_col"), a.int("n")))
    },
    proc("pmi_topk",
      "top-k adjacent-token collocations by pointwise mutual information " +
        "with a count floor; returns (bigram, c12, pmi_r) — k rows, bounded",
      table("table"), str("text_col"), int("k", 20), long("min_count", 5L)) { a =>
      Relevance.pmiTopK(a.read("table"), a.str("text_col"), a.int("k"),
        a.long("min_count"))
    },
    proc("quality_filter",
      "C4/Gopher rule-based quality gate: survivors of the heuristic " +
        "filter chain land in a NEW table (CTAS-shaped); one codegen'd " +
        "map-only pass, no shuffle",
      table("source"), table("target", Create), str("text_col"),
      int("min_words", 50), int("max_words", 100000),
      int("min_stopword_hits", 2)) { a =>
      val cfg = QualityFilter.Config(minWords = a.int("min_words"),
        maxWords = a.int("max_words"), minStopwordHits = a.int("min_stopword_hits"))
      materializeResult(a)(QualityFilter.keep(_, a.str("text_col"), cfg))
    },
    proc("bm25_topk",
      "top-k BM25 documents for space-separated query terms; returns " +
        "(id, score, n_terms_hit) — k rows, bounded",
      table("table"), str("text_col"), str("id_col"), str("terms"),
      int("k", 10)) { a =>
      val idCol = a.str("id_col")
      Relevance.bm25TopK(a.read("table"), a.str("text_col"), idCol, terms(a), a.int("k"))
        .select(col(idCol).cast("long").as("id"), col("score"), col("n_terms_hit"))
    },
    proc("hybrid_topk",
      "hybrid retrieval: BM25 lexical candidates reranked by embedding " +
        "cosine against the vector of query_id; blended w_lex/w_vec; " +
        "returns (id, bm25, cos, hybrid) — k rows, bounded",
      table("docs"), str("text_col"), str("id_col"), str("terms"),
      table("vectors"), str("vec_col"), str("vec_id_col"), long("query_id"),
      int("k", 10), int("candidates", 30), double("w_lex", 0.3)) { a =>
      val (vecCol, vidCol) = (a.str("vec_col"), a.str("vec_id_col"))
      val ts = terms(a)
      val wLex = a.double("w_lex")
      require(wLex >= 0 && wLex <= 1, "w_lex in [0,1]")
      val vecs = a.read("vectors")
      val qv = queryVector(vecs, vidCol, vecCol, a.long("query_id"), a.str("vectors"))
      Relevance.bm25(a.read("docs"), a.str("text_col"), a.str("id_col"), ts)
        .select(col(a.str("id_col")).cast("long").as("id"), col("score").as("bm25"))
        .orderBy(desc("bm25"), col("id")).limit(a.int("candidates"))
        .join(vecs.select(col(vidCol).cast("long").as("id"), col(vecCol)), Seq("id"))
        .select(col("id"), col("bm25"), Similarity.cosineScore(col(vecCol), qv).as("cos"))
        .withColumn("hybrid", col("bm25") * wLex + col("cos") * (1 - wLex))
        .orderBy(desc("hybrid"), col("id")).limit(a.int("k"))
    },
    proc("drift_psi",
      "PSI distribution drift of `table` vs `baseline` per group over a " +
        "numeric column (buckets = floor(value/width)*width); returns " +
        "(group, psi, n_base, n_cur) — groups-sized, bounded",
      table("table"), table("baseline"), str("group_col"), str("value_col"),
      double("bucket_width", 10.0)) { a =>
      val gCol = a.str("group_col")
      val width = a.double("bucket_width")
      require(width > 0, "bucket_width must be positive")
      val bucket = (floor(col(a.str("value_col")) / width) * width).cast("double")
      byGroup(DriftMonitor.psi(
          DriftMonitor.histogram(a.read("baseline"), Seq(gCol), bucket),
          DriftMonitor.histogram(a.read("table"), Seq(gCol), bucket),
          Seq(gCol)).orderBy(col(gCol)),
        gCol, "psi", "n_base", "n_cur")
    },
    proc("quantile_buckets",
      "CCNet-style per-group head/middle/tail bucketing by exact tercile " +
        "thresholds of an integer score column (histogram-walked, no " +
        "per-group sort); returns (group, bucket, n) — groups×3, bounded",
      table("table"), str("group_col"), str("score_col")) { a =>
      val (gCol, sCol) = (a.str("group_col"), a.str("score_col"))
      byGroup(Selection.quantileBuckets(
          a.read("table").select(col(gCol), col(sCol).cast("long").as(sCol)),
          gCol, sCol, Seq(1 -> 3, 2 -> 3), Seq("head", "middle", "tail"))
        .groupBy(col(gCol), col("bucket")).agg(count(lit(1)).as("n"))
        .orderBy(col(gCol), col("bucket")),
        gCol, "bucket", "n")
    },
    proc("scd2_apply",
      "SCD Type 2 batch apply: close changed keys' current rows at the " +
        "effective date and open new versions; no-op updates create no " +
        "churn; unseen keys insert. Overwrites `dim` in place; returns " +
        "(version, n_rows, n_current)",
      // mutation = UPDATE (closing rows) + INSERT (new versions)
      table("dim", Modify), table("updates"), str("key_col"),
      str("tracked_cols"), str("effective_date")) { a =>
      val key = a.str("key_col")
      val tracked = a.list("tracked_cols")
      val dim = a.table("dim")
      val result = Scd.applyBatch(dim.read,
        a.read("updates").select((key +: tracked).map(col): _*),
        key, tracked, lit(a.str("effective_date"))).cache()
      try {
        // materialize BEFORE overwriting the table the plan reads from
        val nRows = result.count()
        val nCurrent = result.filter(col("is_current")).count()
        local("version BIGINT NOT NULL, n_rows BIGINT NOT NULL, n_current BIGINT NOT NULL",
          Row(dim.overwrite(result), nRows, nCurrent))
      } finally result.unpersist(blocking = false)
    },
    proc("connected_components",
      "resolve (id_a, id_b) pair rows into connected components via " +
        "star contraction (distributed above the driver edge limit); " +
        "target gets (id, component = min id of the component)",
      table("source"), table("target", Create), str("id_a_col", "id_a"),
      str("id_b_col", "id_b")) { a =>
      materializeResult(a)(df => Dedup.connectedComponents(
        df.select(col(a.str("id_a_col")).as("id_a"), col(a.str("id_b_col")).as("id_b"))))
    },
    proc("weighted_sample",
      "Efraimidis-Spirakis weighted sample without replacement, " +
        "deterministic (md5-keyed); k rows land in target",
      table("source"), table("target", Create), str("id_col"), str("weight_col"),
      int("k", 1000)) { a =>
      materializeResult(a)(Sampling.weightedSample(_, a.str("id_col"),
        col(a.str("weight_col")), a.int("k")))
    },
    proc("kmv_overlap",
      "KMV theta-sketch distinct/union/intersection estimates for every " +
        "group pair; sketch-sized state, values never shuffle",
      table("table"), str("group_col"), str("value_col"), int("k", 256)) { a =>
      // pairwise output: bounded group count so the row set stays small
      val sk = Sketches.kmvByGroup(a.read("table"), a.str("group_col"),
        a.str("value_col"), a.int("k"), maxGroups = 64)
      val groups = sk.keys.toSeq.sorted
      local("group_a STRING NOT NULL, group_b STRING NOT NULL, " +
        "est_a DOUBLE NOT NULL, est_b DOUBLE NOT NULL, " +
        "est_union DOUBLE NOT NULL, est_intersect DOUBLE NOT NULL",
        (for ((ga, i) <- groups.zipWithIndex; gb <- groups.drop(i + 1))
          yield Row(ga, gb, sk(ga).estimate, sk(gb).estimate,
            sk(ga).union(sk(gb)).estimate, sk(ga).intersectEstimate(sk(gb)))): _*)
    },
    proc("interleave",
      "deterministic weighted curriculum order: adds interleave_key " +
        "(k/rate per group); rates as 'group:rate,group:rate'",
      table("source"), table("target", Create), str("group_col"), str("id_col"),
      str("rates"), double("default_rate", 1.0)) { a =>
      val rates = a.list("rates").map { kv =>
        val Array(g, r) = kv.split(":")
        g.trim -> r.trim.toDouble
      }.toMap
      materializeResult(a)(Sampling.interleaveWeighted(_, a.str("group_col"),
        a.str("id_col"), rates, a.double("default_rate")))
    },
    proc("proximity_topk",
      "top-k docs by minimum token distance between two terms; " +
        "bounded (id, min_dist, n_a, n_b) rows",
      table("table"), str("text_col"), str("id_col"), str("term_a"),
      str("term_b"), int("k", 10)) { a =>
      val idCol = a.str("id_col")
      Relevance.proximity(a.read("table"), a.str("text_col"), idCol,
          a.str("term_a"), a.str("term_b"))
        .orderBy(col("min_dist"), col(idCol)).limit(a.int("k"))
        .select(col(idCol).cast("long").as("id"),
          col("min_dist").cast("long").as("min_dist"), col("n_a"), col("n_b"))
    },

    // ---- graph operators over (src, dst) edge rows
    proc("pagerank",
      "fixed-point scaled-integer PageRank over (src, dst) edge rows; " +
        "bit-reproducible ranks land in target",
      table("source"), table("target", Create), str("src_col", "src"),
      str("dst_col", "dst"), int("iters", 10)) { a =>
      materializeResult(a)(df => PageRank.scaledRanks(edges(a, df), a.int("iters")))
    },
    proc("triangle_counts",
      "per-node triangle counts + local clustering coefficients over " +
        "(src, dst) edge rows via degree-ordered orientation; lands in target",
      table("source"), table("target", Create), str("src_col", "src"),
      str("dst_col", "dst")) { a =>
      materializeResult(a)(df => Triangles.triangleCounts(edges(a, df)))
    },
    proc("kcore",
      "k-core survivors (node_id, core_degree) of the (src, dst) edge " +
        "graph by bounded-round iterative peeling; lands in target",
      table("source"), table("target", Create), int("k"), str("src_col", "src"),
      str("dst_col", "dst"), int("max_rounds", 30)) { a =>
      materializeResult(a)(df => KCore.kCore(edges(a, df), a.int("k"), a.int("max_rounds")))
    },
    proc("audio_features",
      "audio quality features (rms/peak/zero-crossings/duration) per " +
        "payload row via the real WAV decode path; lands in target",
      table("source"), table("target", Create), str("payload_col", "payload")) { a =>
      materializeResult(a)(Multimodal.audioFeatures(_, a.str("payload_col")))
    },
    proc("data_card",
      "corpus datasheet per (lang, source): sizes, token mass, exact-dup " +
        "rate, langid agreement, token-length distribution; lands in target",
      table("source"), table("target", Create), str("text_col", "text"),
      str("lang_col", "lang"), str("source_col", "source")) { a =>
      materializeResult(a)(DataCard.summarize(_, a.str("text_col"),
        a.str("lang_col"), a.str("source_col")))
    },
    // The delta-maintained datasheet: each call folds the source table's
    // commit-log delta into persisted card state (under the catalog root at
    // `_CARD_STATE/<ns>/<table>` — scalar sums + content-key multiset +
    // token histogram) and lands the CURRENT card in `target` (overwritten:
    // the card is a dashboard table, and the refresh is idempotent per
    // source version). The source is never rescanned — repeat calls cost
    // delta time.
    proc("incremental_card",
      "delta-maintained data card: fold the source's commit-log delta " +
        "into persisted card state, land the current card in target",
      table("source"), table("target", Land), str("text_col", "text"),
      str("lang_col", "lang"), str("source_col", "source")) { a =>
      val src = a.ident("source")
      val stateRoot = (s"${a.catalog.root}/_CARD_STATE" +: src.namespace.toSeq :+
        src.name).mkString("/")
      val card = IncrementalDataCard(spark, a.table("source"), stateRoot,
        a.str("text_col"), a.str("lang_col"), a.str("source_col"))
      val applied = card.refresh()
      val result = card.card.cache()
      try {
        val n = result.count()
        a.table("target").overwrite(result)
        local("target STRING NOT NULL, versions_applied BIGINT NOT NULL, " +
          "n_segments BIGINT NOT NULL", Row(a.str("target"), applied, n))
      } finally result.unpersist(blocking = false)
    },
    // Scheduled incremental load from an external JDBC warehouse — the
    // reference's task-driven high-watermark COPY loop
    // (templates/orchestrate_tasks.sql.j2 scheduling
    // incremental_raw_co2data.py's only-new-years load) as one SQL verb.
    // Pulls only the delta above the target's recorded watermark
    // ([[graft.sources.JdbcIngest]]: server-side MAX probe, pushed-down
    // bounded window, watermark in the same commit, exactly-once under
    // replays) — composable with create_task/run_due for a fully in-engine
    // scheduled ingest DAG.
    proc("jdbc_ingest",
      "incremental pull from a JDBC warehouse table into a versioned " +
        "table: delta above the recorded watermark only, exactly-once",
      str("url"), str("source_table"), str("watermark_col"), table("target", Land),
      str("driver", ""), str("user", ""), str("password", ""), int("parts", 1)) { a =>
      def opt(n: String) = Some(a.str(n)).filter(_.nonEmpty)
      val wh = new graft.sources.JdbcWarehouse(spark, graft.sources.JdbcProfile(
        url = a.str("url"), driver = opt("driver"), user = opt("user"),
        password = opt("password")))
      val (srcTable, wmCol) = (a.str("source_table"), a.str("watermark_col"))
      val target = a.table("target")
      val n = graft.sources.JdbcIngest.pull(wh, srcTable, wmCol, target,
        parts = a.int("parts"))
      val hw = target.offsets
        .getOrElse(graft.sources.JdbcIngest.streamId(srcTable, wmCol), -1L)
      local("target STRING NOT NULL, rows_ingested BIGINT NOT NULL, " +
        "watermark BIGINT NOT NULL", Row(a.str("target"), n, hw))
    },
    proc("link_predict",
      "common-neighbor / Jaccard / Adamic-Adar scores for non-adjacent " +
        "2-hop pairs of the (src, dst) edge graph (hub wedge centers " +
        "beyond max_wedge_degree gated); lands (u, v, cn, jaccard, " +
        "aa_scaled) in target",
      table("source"), table("target", Create), str("src_col", "src"),
      str("dst_col", "dst"), int("max_wedge_degree", 1000)) { a =>
      materializeResult(a)(df => Graphs.linkPredict(edges(a, df), a.int("max_wedge_degree")))
    },

    // ---- statistics
    proc("chi2",
      "chi-square independence test between two categorical columns; " +
        "returns one row (n, dof, chi2_ppm) — exact ppm-scaled statistic",
      table("table"), str("a_col"), str("b_col")) { a =>
      Stats.chiSquare(a.read("table"), a.str("a_col"), a.str("b_col"))
        .select("n", "dof", "chi2_ppm")
    },
    proc("gini",
      "per-group Gini concentration of a non-negative integer-valued " +
        "column; returns (group, n, gini) — groups-sized, bounded",
      table("table"), str("group_col"), str("value_col")) { a =>
      val gCol = a.str("group_col")
      byGroup(Stats.gini(a.read("table"), Seq(gCol), a.str("value_col")).orderBy(col(gCol)),
        gCol, "n", "gini")
    },
    proc("ks_test",
      "two-sample Kolmogorov-Smirnov statistic between the `a` and `b` " +
        "slices of group_col over an integer-valued column; returns one " +
        "row (n_a, n_b, d_ppm)",
      table("table"), str("group_col"), str("value_col"), str("a"), str("b")) { a =>
      Stats.ksTest(a.read("table"), a.str("group_col"), a.str("value_col"),
        a.str("a"), a.str("b")).select("n_a", "n_b", "d_ppm")
    },
    proc("rank_eval",
      "recall@k / MRR / ln-nDCG of a candidate ranking vs ground truth " +
        "(both tables carry qid, id, rank); returns one row per cutoff " +
        "in `ks` (comma-separated) — exact ppm integers",
      table("truth"), table("cand"), str("ks", "1,5,10")) { a =>
      Relevance.rankEval(a.read("truth"), a.read("cand"), a.list("ks").map(_.toInt))
        .orderBy(col("k"))
        .select("k", "n_queries", "recall_ppm", "mrr_ppm", "ndcg_ppm")
    },
    proc("mutual_info",
      "mutual information + marginal entropies (nats) between two " +
        "categorical columns; returns one row (n, mi, hx, hy)",
      table("table"), str("a_col"), str("b_col")) { a =>
      Stats.mutualInfo(a.read("table"), a.str("a_col"), a.str("b_col"))
        .select("n", "mi", "hx", "hy")
    },
    proc("wasserstein",
      "1-D Wasserstein-1 distance between the `a` and `b` slices of " +
        "group_col over an integer-valued column; one row (n_a, n_b, w1)",
      table("table"), str("group_col"), str("value_col"), str("a"), str("b")) { a =>
      Stats.wasserstein1(a.read("table"), a.str("group_col"), a.str("value_col"),
        a.str("a"), a.str("b")).select("n_a", "n_b", "w1")
    },
    proc("auc",
      "exact rank-based ROC-AUC of an integer score against a boolean " +
        "label; one row (n_pos, n_neg, auc)",
      table("table"), str("label_col"), str("score_col")) { a =>
      Stats.auc(a.read("table"), a.str("label_col"), a.str("score_col"))
        .select("n_pos", "n_neg", "auc")
    },
    proc("calibration",
      "reliability table of a ppm score vs a boolean label: per bucket " +
        "(bucket, n, conf_ppm, obs_ppm) — exact integer-div ppm",
      table("table"), str("score_col"), str("label_col"), int("buckets", 10)) { a =>
      Stats.calibration(a.read("table"), a.str("score_col"), a.str("label_col"),
          a.int("buckets"))
        .orderBy(col("bucket")).select("bucket", "n", "conf_ppm", "obs_ppm")
    },
    proc("markov_stationary",
      "stationary distribution of the state column's Markov chain along " +
        "each key's ordered stream — scaled-integer power iteration; " +
        "returns (state, pi) at 1e9 scale",
      table("table"), str("key_col"), str("order_col"), str("state_col"),
      int("iters", 3)) { a =>
      val trans = Markov.transitions(a.read("table"), Seq(a.str("key_col")),
        Seq(a.str("order_col")), a.str("state_col"))
      Markov.scaledStationary(trans, a.int("iters")).orderBy(col("state"))
        .select(col("state").cast(StringType).as("state"), col("pi"))
    },
    // CTAS-shaped LPA: SELECT is enforced on BOTH the edge table and the
    // seed table (the decontaminate two-input contract)
    proc("label_propagate",
      "clamped label propagation: seed labels spread a fixed number of " +
        "majority-vote rounds over the (src, dst) edge graph; lands " +
        "(id, label) in target",
      table("source"), table("seeds"), table("target", Create), int("iters", 5),
      str("src_col", "src"), str("dst_col", "dst")) { a =>
      materializeResult(a)(df =>
        Graphs.labelPropagate(edges(a, df), a.read("seeds"), a.int("iters")))
    },
    proc("welch_t",
      "Welch two-sample t statistic + Welch-Satterthwaite df between " +
        "the `a` and `b` slices of group_col over an integer-valued " +
        "column; one row (n_a, n_b, t, df)",
      table("table"), str("group_col"), str("value_col"), str("a"), str("b")) { a =>
      Stats.welchT(a.read("table"), a.str("group_col"), a.str("value_col"),
        a.str("a"), a.str("b")).select("n_a", "n_b", "t", "df")
    },
    proc("moments",
      "per-group distribution-shape profile of an integer-valued " +
        "column: (group, n, mean, variance, skewness, kurt_excess) — " +
        "one grouped pass, groups-sized",
      table("table"), str("group_col"), str("value_col")) { a =>
      val gCol = a.str("group_col")
      byGroup(Stats.momentsProfile(a.read("table"), Seq(gCol), a.str("value_col"))
          .orderBy(col(gCol)),
        gCol, "n", "mean", "variance", "skewness", "kurt_excess")
    },
    proc("bootstrap_ci",
      "per-group Poisson-bootstrap 95% CI for the mean of an " +
        "integer-valued column (id-pure md5 replicate weights); " +
        "(group, n, mean, n_reps, lo, hi)",
      table("table"), str("group_col"), str("id_col"), str("value_col"),
      int("reps"), long("seed")) { a =>
      val gCol = a.str("group_col")
      byGroup(Stats.bootstrapMeanCI(a.read("table"), Seq(gCol), a.str("id_col"),
          a.str("value_col"), reps = a.int("reps"), seed = a.long("seed"))
          .orderBy(col(gCol)),
        gCol, "n", "mean", "n_reps", "lo", "hi")
    },
    proc("ridge",
      "per-group ridge fit y ~ b0 + b1*x1 + b2*x2 over integer-valued " +
        "columns via exact normal equations; (group, n, b0, b1, b2)",
      table("table"), str("group_col"), str("x1_col"), str("x2_col"),
      str("y_col"), double("lambda")) { a =>
      val gCol = a.str("group_col")
      byGroup(Stats.ridgeFit(a.read("table"), Seq(gCol), a.str("x1_col"),
          a.str("x2_col"), a.str("y_col"), a.double("lambda")).orderBy(col(gCol)),
        gCol, "n", "b0", "b1", "b2")
    },
    proc("coverage",
      "per-group union of half-open integer intervals [start, end): " +
        "(group, n_islands, coverage, max_merged) — the gaps-and-islands " +
        "summary, groups-sized",
      table("table"), str("group_col"), str("start_col"), str("end_col")) { a =>
      val gCol = a.str("group_col")
      byGroup(Timeseries.intervalUnion(a.read("table"), Seq(gCol),
          a.str("start_col"), a.str("end_col"))
        .groupBy(col(gCol))
        .agg(count(lit(1)).as("n_islands"),
          sum(col("island_end") - col("island_start")).cast("long").as("coverage"),
          max(col("n_merged")).as("max_merged"))
        .orderBy(col(gCol)),
        gCol, "n_islands", "coverage", "max_merged")
    },
    proc("pareto",
      "2-D Pareto frontier (both dimensions maximized) over " +
        "integer-valued columns; returns the undominated (x, y) points " +
        "— frontier-sized by construction",
      table("table"), str("x_col"), str("y_col")) { a =>
      Selection.paretoFront(a.read("table").select(
          col(a.str("x_col")).cast("long").as("x"),
          col(a.str("y_col")).cast("long").as("y")), "x", "y")
        .orderBy(desc("x"), col("y")).select("x", "y")
    },
    proc("frequent_triples",
      "A-Priori frequent 3-itemsets over (basket, item) rows at an " +
        "absolute support; returns (item_a, item_b, item_c, support)",
      table("table"), str("basket_col"), str("item_col"), long("min_support")) { a =>
      Itemsets.frequentTriples(a.read("table"), a.str("basket_col"),
          a.str("item_col"), a.long("min_support"))
        .orderBy(desc("support"), col("item_a"), col("item_b"), col("item_c"))
        .select(Seq("item_a", "item_b", "item_c").map(c => col(c).cast(StringType).as(c)) :+
          col("support"): _*)
    },
    proc("k_anonymity",
      "minimal-generalization k-anonymity / l-diversity audit: searches " +
        "bucket widths 2^level over the numeric QI for the least-coarse " +
        "release with every class >= k rows and >= l distinct sensitive " +
        "values; returns the risk frontier (smallest classes) at the " +
        "chosen level, chosen_level = -1 when even the coarsest fails",
      table("table"), str("qi_cat_col"), str("qi_num_col"), str("sensitive_col"),
      long("k"), long("l")) { a =>
      val catCol = a.str("qi_cat_col")
      val (lvl, classes) = Privacy.minimalGeneralization(a.read("table"),
        Seq(catCol), a.str("qi_num_col"), a.str("sensitive_col"), a.long("k"),
        a.long("l"))
      classes.orderBy(col("class_size"), col(catCol), col("qi_bucket")).limit(100)
        .select(lit(lvl).as("chosen_level"), col(catCol).cast(StringType).as("qi_cat"),
          col("qi_bucket"), col("class_size"), col("l_diversity"))
    },
    proc("isotonic_fit",
      "monotone (isotonic) least-squares calibration of an integer label " +
        "against an integer score per group: PAVA by its minimax closed " +
        "form, fully relational; returns (group, x, n, y_sum, fitted)",
      table("table"), str("group_col"), str("x_col"), str("y_col")) { a =>
      val gCol = a.str("group_col")
      byGroup(Stats.isotonicFit(a.read("table"), Seq(gCol), a.str("x_col"),
          a.str("y_col")).orderBy(col(gCol), col("x")),
        gCol, "x", "n", "y_sum", "fitted")
    },
    proc("kaplan_meier",
      "Kaplan-Meier product-limit survival curve per group over " +
        "(duration, event 1/censored 0) rows; returns " +
        "(group, t, n_risk, n_events, survival)",
      table("table"), str("group_col"), str("duration_col"), str("event_col")) { a =>
      val gCol = a.str("group_col")
      byGroup(Stats.kaplanMeier(a.read("table"), Seq(gCol), a.str("duration_col"),
          a.str("event_col")).orderBy(col(gCol), col("t")),
        gCol, "t", "n_risk", "n_events", "survival")
    },
    proc("weighted_quantile",
      "exact weighted discrete quantile per group: the smallest value " +
        "whose cumulative weight reaches q*W; returns " +
        "(group, q, value, total_weight)",
      table("table"), str("group_col"), str("value_col"), str("weight_col"),
      double("q")) { a =>
      val gCol = a.str("group_col")
      byGroup(Stats.weightedQuantile(a.read("table"), Seq(gCol), a.str("value_col"),
          a.str("weight_col"), Seq(a.double("q"))).orderBy(col(gCol)),
        gCol, "q", "value", "total_weight")
    },
    proc("theil_sen",
      "Theil-Sen robust trend per group: median pairwise slope in " +
        "integer micro-units over a bounded series; returns " +
        "(group, n_points, n_pairs, slope_micro)",
      table("table"), str("group_col"), str("x_col"), str("y_col")) { a =>
      val gCol = a.str("group_col")
      byGroup(Stats.theilSen(a.read("table"), Seq(gCol), a.str("x_col"),
          a.str("y_col")).orderBy(col(gCol)),
        gCol, "n_points", "n_pairs", "slope_micro")
    },
    proc("kendall_tau",
      "Kendall's tau-b rank correlation per group with tie correction " +
        "over a bounded series; returns (group, n_points, concordant, " +
        "discordant, tau_micro)",
      table("table"), str("group_col"), str("x_col"), str("y_col")) { a =>
      val gCol = a.str("group_col")
      byGroup(Stats.kendallTau(a.read("table"), Seq(gCol), a.str("x_col"),
          a.str("y_col")).orderBy(col(gCol)),
        gCol, "n_points", "concordant", "discordant", "tau_micro")
    },
    proc("fleiss_kappa",
      "Fleiss' kappa: chance-corrected multi-rater agreement (constant " +
        "m ratings per unit); one row (n_units, m_raters, po_ppm, kappa)",
      table("table"), str("unit_col"), str("category_col")) { a =>
      Stats.fleissKappa(a.read("table"), a.str("unit_col"), a.str("category_col"))
        .select("n_units", "m_raters", "po_ppm", "kappa")
    },
    proc("reconcile",
      "order-independent per-bucket sync fingerprint of two tables " +
        "(key-addressed buckets, md5 row checksums); one row per bucket " +
        "with both sides' counts/checksums and a match flag",
      table("source"), table("target"), str("key_cols"), str("cols"),
      int("buckets")) { a =>
      def fingerprint(t: String) = Diagnostics.reconcile(a.read(t),
        a.list("key_cols"), a.list("cols"), a.int("buckets"))
      fingerprint("source")
        .join(fingerprint("target").select(col("bucket"), col("n_rows").as("t_rows"),
          col("checksum").as("t_checksum")), Seq("bucket"), "full_outer")
        .orderBy(col("bucket"))
        .select(col("bucket"), col("n_rows"), col("checksum"), col("t_rows"),
          col("t_checksum"), coalesce(col("n_rows") === col("t_rows") &&
            col("checksum") === col("t_checksum"), lit(false)).as("matches"))
    },
    // ANALYZE-style one-pass column profile: null count, distinct count,
    // min/max (rendered as strings) for every column — the stats surface a
    // query planner or a data-quality audit reads first
    proc("profile", "per-column profile: n_nulls, approx_ndv, min, max in ONE scan",
      table("table")) { a =>
      val df = a.read("table")
      val fields = df.schema.fields
      // the row count rides the SAME aggregate as the per-column stats, so
      // the whole profile is one scan; coalesce guards the zero-row table
      // (sum over no rows is SQL NULL)
      val aggs = count(lit(1)) +: fields.toSeq.flatMap { f =>
        val c = col(f.name)
        val countable = !f.dataType.isInstanceOf[MapType]
        Seq(coalesce(sum(when(c.isNull, 1L).otherwise(0L)), lit(0L)),
          if (countable) approx_count_distinct(c) else lit(-1L),
          if (countable) min(c).cast(StringType) else lit(null).cast(StringType),
          if (countable) max(c).cast(StringType) else lit(null).cast(StringType))
      }
      val r = df.agg(aggs.head, aggs.tail: _*).head
      local("column STRING NOT NULL, type STRING NOT NULL, n_rows BIGINT NOT NULL, " +
        "n_nulls BIGINT NOT NULL, approx_ndv BIGINT NOT NULL, min STRING, max STRING",
        fields.toSeq.zipWithIndex.map { case (f, i) =>
          val b = 1 + i * 4
          Row(f.name, f.dataType.simpleString, r.getLong(0), r.getLong(b),
            r.getLong(b + 1), r.getString(b + 2), r.getString(b + 3))
        }: _*)
    }
  )

  private val byName: Map[String, ProcEntry] = all.map(e => e.name -> e).toMap

  /** Every registered procedure name, in listing order. */
  val names: Seq[String] = all.map(_.name)

  private[sql] def lookup(name: String): Option[ProcEntry] = byName.get(name)
}
