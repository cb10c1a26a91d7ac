package graft.sql

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException, UpdateAttributeNullability}
import org.apache.spark.sql.catalyst.expressions.{Alias, KnownNotNull}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan, MergeIntoTable, Project, UpdateTable, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.procedures
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.changefeed.ChangeFeed
import graft.storage.VersionedTable
import graft.storage.VersionedTable.State

/** A DataSource V2 `TableCatalog` over [[VersionedTable]] directories — the
  * raw-SQL surface the reference drives through Snowflake's catalog
  * (CREATE/INSERT in loading_data_sp/function.py:285-314, SHOW TABLES LIKE /
  * DESC in co2_harmonized_sp/function.py:50, raw_co2_data.py:103-105).
  *
  * Register with
  * {{{
  *   GraftCatalog.register(spark, "co2", warehouseRoot)
  *   spark.sql("SHOW TABLES IN co2.RAW_CO2")
  *   spark.sql("INSERT INTO co2.RAW_CO2.CO2_DATA VALUES (...)")   // a real versioned commit
  *   spark.sql("DESCRIBE TABLE co2.HARMONIZED_CO2.HARMONIZED_CO2")
  * }}}
  *
  * Layout mapping: `root/<namespace>/<table>` — a table is any directory
  * with a `_commits` log. A loaded table is pinned to one committed state.
  * Reads are planned as the table's own DataFrame over that state
  * ([[GraftReadRule]]), so Spark optimizes one plan over the parquet
  * relation: column and filter pushdown, part skipping, vectorized read.
  * Writes go through a V1Write bridge that lands an atomic
  * [[VersionedTable]] commit — INSERT INTO appends a part, INSERT
  * OVERWRITE / TRUNCATE replaces.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {

  private var catalogName: String = _
  private[sql] var root: String = _

  /** RBAC for this root — enforcement is active only when a session sets
    * `spark.graft.role` to a non-admin role (see [[GraftSecurity]]).
    */
  private[sql] lazy val security = new GraftSecurity(root)

  private def spark = SparkSession.active
  private def fs =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.root=<warehouse dir>"))
  }

  override def name(): String = catalogName

  private def dirFor(ident: Identifier): String =
    (Seq(root) ++ ident.namespace.toSeq :+ ident.name).mkString("/")
  /** Tables honor the `graft.bloom.cols` property (comma-separated column
    * list): SQL INSERTs into such a table write per-part bloom sidecars,
    * and equality/IN SELECTs prune through them — the SQL opt-in is
    * `ALTER TABLE t SET TBLPROPERTIES ('graft.bloom.cols'='h,k')`.
    */
  private[sql] def table(ident: Identifier,
                         props: Map[String, String]): VersionedTable = {
    val blooms = props.get(GraftCatalog.BLOOM_COLS_PROP)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    VersionedTable(spark, dirFor(ident), bloomCols = blooms)
  }
  private[sql] def table(ident: Identifier): VersionedTable =
    table(ident, readProps(ident))
  private def isTableDir(p: Path): Boolean =
    fs.exists(new Path(p, "_commits"))

  // ------------------------------------------------------------- tables --

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsPath = new Path((Seq(root) ++ namespace.toSeq).mkString("/"))
    if (!fs.exists(nsPath)) throw new NoSuchNamespaceException(namespace.toSeq)
    fs.listStatus(nsPath).filter(s => s.isDirectory && isTableDir(s.getPath))
      .map(s => Identifier.of(namespace, s.getPath.getName))
  }

  /** One commit-log read; a dir without `_commits/` has no state. */
  override def tableExists(ident: Identifier): Boolean =
    VersionedTable(spark, dirFor(ident)).exists

  /** An existing table with its properties and the state `at` picks from
    * it (the latest by default): one `_table_meta.json` read and one commit
    * read, on every SQL statement that names it. `missing` explains a table
    * that exists but has no such state.
    */
  private def existing(ident: Identifier,
                       at: VersionedTable => Option[State] = _.state,
                       missing: VersionedTable => String = _ => "")
      : (VersionedTable, State, Map[String, String]) = {
    val props = readProps(ident)
    val vt = table(ident, props)
    at(vt) match {
      case Some(s) => (vt, s, props)
      case None if vt.exists => throw new IllegalArgumentException(missing(vt))
      case None => throw new NoSuchTableException(
        Seq(catalogName) ++ ident.namespace.toSeq :+ ident.name)
    }
  }

  override def loadTable(ident: Identifier): Table = {
    val (vt, s, props) = existing(ident)
    if (props.get(GraftCatalog.STREAM_PROP).contains("true"))
      streamTable(ident, s, props)
    else new GraftSqlTable(vt, s, ident, props, Some(security))
  }

  /** A STREAM object (Snowflake `CREATE STREAM ... ON TABLE` parity,
    * 02_create_rawco2data_stream.py:65-76): `SELECT` returns the NET
    * unconsumed changes relative to the consumer's committed offset —
    * not the raw change log — with the `METADATA\$ACTION` / ISUPDATE /
    * ROW_ID columns. Read-only; the offset advances only when a consumer
    * commits it (MergeInto consumeOffsets), exactly like Snowflake's
    * DML-transaction advance.
    */
  private def streamTable(ident: Identifier, s: State,
                          props: Map[String, String]): Table = {
    val offsetKey = props.getOrElse(GraftCatalog.STREAM_KEY_PROP,
      (ident.namespace.toSeq :+ ident.name).mkString("."))
    val feed = ChangeFeed(spark, offsetKey, dirFor(ident))
    new GraftStreamTable(feed, s, ident, props,
      () => streamConsumedOffset(props, offsetKey),
      appendOnly = props.get("mode").contains("APPEND_ONLY"),
      security = Some(security))
  }

  /** The stream's current offset: the consumer table's committed offset for
    * this stream's key, 0 before the consumer exists (full history, matching
    * a freshly created Snowflake stream at table creation).
    */
  private def streamConsumedOffset(props: Map[String, String], offsetKey: String): Long =
    props.get(GraftCatalog.STREAM_CONSUMER_PROP) match {
      case Some(rel) =>
        VersionedTable(spark, s"$root/$rel").offsets.getOrElse(offsetKey, 0L)
      case None => 0L
    }

  /** `SELECT ... FROM t VERSION AS OF <n>` — time-travel to an exact
    * commit (the reference's Snowflake `AT (STATEMENT => ...)` shape).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft table versions are numeric commit ids; got '$version'")
    }
    val (vt, s, props) = existing(ident, _.stateAt(v), vt =>
      s"no committed version $v of ${ident.name} " +
        s"(available: ${vt.versions.mkString(", ")})")
    new GraftSqlTable(vt, s, ident, props, Some(security))
  }

  /** `SELECT ... FROM t TIMESTAMP AS OF <ts>` — Spark hands us the instant
    * in MICROSECONDS since epoch; resolve to the newest commit at or
    * before it (Snowflake `AT (TIMESTAMP => ...)`).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val (vt, s, props) = existing(ident,
      vt => vt.versionAt(timestamp / 1000L).flatMap(vt.stateAt),
      _ => s"no commit of ${ident.name} at or before timestamp $timestamp")
    new GraftSqlTable(vt, s, ident, props, Some(security))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft catalog tables declare no DDL partitioning; use " +
        "MergeInto(partitionBy=...) / overwritePartitions for partition-scoped commits")
    if (tableExists(ident))
      throw new TableAlreadyExistsException(
        Seq(catalogName) ++ ident.namespace.toSeq :+ ident.name)
    // GRANT CREATE TABLE ON SCHEMA parity: the namespace-star grant admits
    security.requirePriv(spark, "CREATE TABLE", ident.namespace.toSeq,
      ident.name)
    val vt = table(ident)
    vt.createEmpty(schema)
    val props = properties.asScala.toMap
    if (props.nonEmpty) writeProps(ident, props)
    new GraftSqlTable(vt, vt.state.get, ident, props, Some(security))
  }

  /** COMMENT ON TABLE / SET-UNSET TBLPROPERTIES (the reference's
    * raw_co2_data.py:103-105 table comments). Properties live in a
    * sidecar `_table_meta.json` — DDL metadata, not a versioned commit.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident))
      throw new NoSuchTableException(Seq(catalogName) ++ ident.namespace.toSeq :+ ident.name)
    security.requirePriv(spark, "OWNERSHIP", ident.namespace.toSeq, ident.name)
    // ADD COLUMN lands as a schema-only versioned commit (old parts read
    // NULL for the new columns); property changes land in the side meta
    val newFields = changes.collect {
      case ac: TableChange.AddColumn =>
        require(ac.fieldNames.length == 1,
          "nested ADD COLUMN is not supported")
        StructField(ac.fieldNames()(0), ac.dataType(), nullable = true)
    }
    if (newFields.nonEmpty) table(ident).addColumns(newFields)
    val updated = changes.foldLeft(readProps(ident)) { (props, change) =>
      change match {
        case _: TableChange.AddColumn => props
        case sp: TableChange.SetProperty =>
          props + (sp.property -> sp.value)
        case rp: TableChange.RemoveProperty =>
          props - rp.property
        case other =>
          throw new UnsupportedOperationException(
            s"ALTER TABLE change $other is not supported " +
              "(ADD COLUMN / properties / comment only)")
      }
    }
    writeProps(ident, updated)
    val vt = table(ident, updated)
    new GraftSqlTable(vt, vt.state.get, ident, updated, Some(security))
  }

  private def metaPath(ident: Identifier) =
    new Path(dirFor(ident), "_table_meta.json")

  private def readProps(ident: Identifier): Map[String, String] =
    GraftCatalog.readPropsAt(fs, metaPath(ident))

  private def writeProps(ident: Identifier, props: Map[String, String]): Unit =
    GraftCatalog.writePropsAt(fs, metaPath(ident), props)

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(dirFor(ident))
    if (!isTableDir(p)) false
    else {
      security.requirePriv(spark, "OWNERSHIP", ident.namespace.toSeq, ident.name)
      fs.delete(p, true)
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    security.requirePriv(spark, "OWNERSHIP", oldIdent.namespace.toSeq,
      oldIdent.name)
    if (!tableExists(oldIdent))
      throw new NoSuchTableException(
        Seq(catalogName) ++ oldIdent.namespace.toSeq :+ oldIdent.name)
    if (tableExists(newIdent))
      throw new TableAlreadyExistsException(
        Seq(catalogName) ++ newIdent.namespace.toSeq :+ newIdent.name)
    fs.mkdirs(new Path(dirFor(newIdent)).getParent)
    if (!fs.rename(new Path(dirFor(oldIdent)), new Path(dirFor(newIdent))))
      throw new IllegalStateException(s"rename failed for $oldIdent -> $newIdent")
  }

  // --------------------------------------------------------- namespaces --

  override def listNamespaces(): Array[Array[String]] = {
    val r = new Path(root)
    if (!fs.exists(r)) return Array.empty
    fs.listStatus(r).filter(s => s.isDirectory && !s.getPath.getName.startsWith("_"))
      .map(s => Array(s.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace.toSeq)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      fs.exists(new Path((Seq(root) ++ namespace.toSeq).mkString("/")))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace.toSeq)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    fs.mkdirs(new Path((Seq(root) ++ namespace.toSeq).mkString("/")))
  }

  // --------------------------------------------------------- procedures --
  // Verbs with no ANSI DML shape — table maintenance, streams, tasks, roles
  // and the operator library — exposed through the DSv2 procedure surface
  // (Spark 4 `CALL`), one [[Procedures]] registry entry each:
  //   CALL <cat>.system.compact(table => 'NS.T')        → new version
  //   CALL <cat>.system.vacuum('NS.T', retain_last => 2) → reclaim stats

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      Procedures.names.map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure = {
    val name = ident.name.toLowerCase
    Procedures.lookup(name).map(new RegisteredProcedure(_, this)).getOrElse(
      throw new IllegalArgumentException(s"catalog $catalogName has no " +
        s"procedure '$name' (${Procedures.names.mkString(", ")})"))
  }

  /** `NS.NAME` (or deeper) as an identifier; `what` names the argument in
    * the error.
    */
  private def qualifiedIdent(qualified: String, what: String): Identifier = {
    val parts = qualified.split("\\.").filter(_.nonEmpty)
    require(parts.length >= 2, s"$what must be namespace-qualified, got '$qualified'")
    Identifier.of(parts.init, parts.last)
  }

  /** Resolves a procedure's `NS.TABLE` argument `param` for `use`: the
    * table must (or must not) exist, and the caller must hold the grants
    * `use` names on it.
    */
  private[sql] def tableArg(qualified: String, param: String,
                            use: TableUse): (Identifier, VersionedTable) = {
    val id = qualifiedIdent(qualified, s"procedure $param argument")
    val exists = tableExists(id)
    def fullName = Seq(catalogName) ++ id.namespace.toSeq :+ id.name
    use.mustExist match {
      case Some(true) =>
        if (!exists) throw new NoSuchTableException(fullName)
      case mustExist =>
        if (!namespaceExists(id.namespace))
          throw new NoSuchNamespaceException(id.namespace.toSeq)
        if (exists && mustExist.contains(false))
          throw new TableAlreadyExistsException(fullName)
    }
    use.privileges(exists).foreach(
      security.requirePriv(spark, _, id.namespace.toSeq, id.name))
    (id, table(id))
  }

  /** A STREAM object's properties, committed offset and
    * `SYSTEM$STREAM_HAS_DATA` — an O(1) offset comparison, no scan.
    */
  private[sql] def streamStatus(qualified: String): (Map[String, String], Long, Boolean) = {
    val id = qualifiedIdent(qualified, "stream")
    val props = readProps(id)
    require(props.get(GraftCatalog.STREAM_PROP).contains("true"),
      s"'$qualified' is not a stream (no ${GraftCatalog.STREAM_PROP} property)")
    val offsetKey = props.getOrElse(GraftCatalog.STREAM_KEY_PROP, qualified)
    val feed = ChangeFeed(spark, offsetKey, dirFor(id))
    val consumed = streamConsumedOffset(props, offsetKey)
    (props, consumed, feed.hasData(consumed))
  }

  /** Every STREAM object in the warehouse: qualified name → properties
    * (one metadata file read per table dir — DDL-scale, not data-scale).
    */
  private[sql] def streams: Seq[(String, Map[String, String])] =
    listNamespaces().toSeq.flatMap { ns =>
      val nsPath = new Path((Seq(root) ++ ns.toSeq).mkString("/"))
      fs.listStatus(nsPath).filter(_.isDirectory).toSeq.flatMap { d =>
        val props = readProps(Identifier.of(ns, d.getPath.getName))
        if (props.get(GraftCatalog.STREAM_PROP).contains("true"))
          Some((ns.toSeq :+ d.getPath.getName).mkString(".") -> props)
        else None
      }
    }

  // -------------------------------------------------------------- tasks ---

  private[sql] val StreamCond =
    """(?i)\s*SYSTEM\$STREAM_HAS_DATA\(\s*'([^']+)'\s*\)\s*""".r

  /** Evaluates a task WHEN condition — the only supported shape is the
    * reference's `SYSTEM\$STREAM_HAS_DATA('<ns>.<stream>')`
    * (orchestrate_tasks.sql.j2:40), an O(1) offset comparison, no scan.
    */
  private def conditionHolds(cond: String): Boolean = cond match {
    case StreamCond(stream) => streamStatus(stream)._3
    case other => throw new IllegalArgumentException(
      s"unsupported task WHEN condition '$other' - only " +
        "SYSTEM$STREAM_HAS_DATA('<ns>.<stream>') is supported")
  }

  /** Splits a task body on `;` outside single-quoted literals. */
  private def splitStatements(sql: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQuote = false
    sql.foreach {
      case '\'' => inQuote = !inQuote; cur += '\''
      case ';' if !inQuote => out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** `execute_task` (manual trigger — the root runs even if suspended) and
    * `run_due` (scheduler tick — a suspended root never fires) walk the DAG
    * with [[TaskDag.run]]: WHEN gates through [[streamStatus]], bodies as
    * SQL statements. Failure accounting: a task whose body fails has its
    * consecutive-failure counter bumped (reset on success); reaching a
    * non-zero `suspendAfter` threshold auto-suspends the task —
    * `SUSPEND_TASK_AFTER_NUM_FAILURES` parity. The suspension is durable
    * (written to `_TASKS`) and lifted by `alter_task RESUME`, which also
    * resets the counter.
    */
  private[sql] def runTaskDag(rootTask: TaskDef, all: Seq[TaskDef],
                              rootEvenIfSuspended: Boolean,
                              scheduledTime: java.sql.Timestamp)
      : Seq[(String, String)] = {
    val results = TaskDag.run(spark, root, rootTask, all, rootEvenIfSuspended,
        scheduledTime)(conditionHolds, t => t.body match {
      case Some(b) =>
        splitStatements(b).foreach(stmt => spark.sql(stmt).collect())
        None
      case None => throw new IllegalStateException("task has no SQL body " +
        "(Scala-defined task; run it from its own pipeline)")
    }).map(r => r.task -> r.state)

    // SUSPEND_TASK_AFTER_NUM_FAILURES accounting: bump/reset each visited
    // task's consecutive-failure counter; crossing a non-zero threshold
    // suspends the task durably. One _TASKS write per DAG run, only when
    // a counter actually moved. Re-read rather than reuse `all`: a prior
    // DAG in the same run_due tick may have written counters it predates.
    val outcomes = results.toMap
    val current = TaskDag.readTasks(spark, root)
    val updated = current.map { t =>
      outcomes.get(t.name) match {
        case Some(s) if s.startsWith("FAILED") =>
          val n = t.consecFailures + 1
          t.copy(consecFailures = n,
            suspended = t.suspended || (t.suspendAfter > 0 && n >= t.suspendAfter))
        case Some(TaskDag.Succeeded) => t.copy(consecFailures = 0)
        case _ => t
      }
    }
    if (updated != current) TaskDag.writeTasks(spark, root, updated)
    results
  }

  // ------------------------------------------- scheduler (run_due) --

  /** Per-task last-fire watermarks backing `run_due` —
    * (TASK_NAME, LAST_FIRE). Tiny (one row per scheduled task),
    * overwritten whole on each tick.
    */
  private def taskRunsVt =
    VersionedTable(spark, s"$root/_TASK_RUNS", collectStats = false)

  private[sql] def readTaskRuns(): Map[String, java.time.Instant] = {
    val vt = taskRunsVt
    if (!vt.exists) return Map.empty
    vt.read.collect().map(r => r.getString(0) ->
      r.getTimestamp(1).toInstant).toMap
  }

  private[sql] def writeTaskRuns(m: Map[String, java.time.Instant]): Unit = {
    val schema = StructType(Seq(
      StructField("TASK_NAME", StringType, nullable = false),
      StructField("LAST_FIRE", TimestampType, nullable = false)))
    taskRunsVt.overwrite(spark.createDataFrame(
      m.toSeq.sortBy(_._1)
        .map { case (n, i) => Row(n, java.sql.Timestamp.from(i)) }.asJava,
      schema))
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = new Path((Seq(root) ++ namespace.toSeq).mkString("/"))
    if (!fs.exists(p)) false
    else {
      if (!cascade && fs.listStatus(p).nonEmpty)
        throw new IllegalStateException(s"namespace ${namespace.mkString(".")} is not empty")
      fs.delete(p, true)
    }
  }
}

object GraftCatalog {
  /** `_table_meta.json` property marking a directory as a STREAM object. */
  val STREAM_PROP = "graft.stream"
  /** Offset key the consumer commits under (`VersionedTable.offsets`). */
  val STREAM_KEY_PROP = "graft.stream.offset_key"
  /** Qualified name of the table the stream tracks (informational). */
  val STREAM_SOURCE_PROP = "graft.stream.source_table"
  /** Root-relative dir of the consumer table holding the committed offset. */
  val STREAM_CONSUMER_PROP = "graft.stream.consumer"
  /** Comma-separated columns to build per-part bloom sidecars for. */
  val BLOOM_COLS_PROP = "graft.bloom.cols"

  /** Point a session catalog name at a warehouse root (lazy — the catalog
    * instantiates on first SQL reference).
    */
  def register(spark: SparkSession, name: String, root: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
  }

  /** Mark `root/dir` as a STREAM object: SHOW TABLES lists it, SELECT
    * returns net unconsumed changes (offset semantics), and
    * `CALL <cat>.system.describe_stream(...)` describes it. Merges with any
    * existing table properties; idempotent.
    */
  def defineStream(spark: SparkSession, root: String, dir: String,
                   offsetKey: String, sourceTable: String,
                   consumerDir: String, mode: String = "DEFAULT"): Unit = {
    require(mode == "DEFAULT" || mode == "APPEND_ONLY",
      s"stream mode must be DEFAULT or APPEND_ONLY, got '$mode'")
    val meta = new Path(s"$root/$dir", "_table_meta.json")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    writePropsAt(fs, meta, readPropsAt(fs, meta) ++ Map(
      STREAM_PROP -> "true",
      STREAM_KEY_PROP -> offsetKey,
      STREAM_SOURCE_PROP -> sourceTable,
      STREAM_CONSUMER_PROP -> consumerDir,
      "mode" -> mode))
  }

  /** `_table_meta.json`: one JSON object of string properties, through the
    * commit records' codec ([[VersionedTable.json]]).
    */
  private[sql] def readPropsAt(fs: org.apache.hadoop.fs.FileSystem,
                               p: Path): Map[String, String] = {
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    try VersionedTable.json.readTree(in).properties.asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
    finally in.close()
  }

  private[sql] def writePropsAt(fs: org.apache.hadoop.fs.FileSystem,
                                p: Path, props: Map[String, String]): Unit = {
    val o = VersionedTable.json.createObjectNode()
    props.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
    val out = fs.create(p, true)
    try out.write(VersionedTable.json.writeValueAsBytes(o))
    finally out.close()
  }
}

/** A catalog table that SQL reads as the table's own DataFrame:
  * [[GraftReadRule]] puts [[readChecked]]'s plan in place of each read of
  * the table's relation, so the tables implement no scan of their own.
  */
sealed trait GraftReadable extends Table {
  /** The table's contents, after the role's SELECT check. */
  private[sql] def readChecked(): DataFrame
}

/** Read-only façade over a STREAM object: a read is the feed's NET
  * pending window at the consumer's committed offset, resolved when the
  * statement is analyzed (a re-run of the same SQL after a consume sees
  * the drained stream). A predicate like `METADATA\$ACTION = 'INSERT'`
  * evaluates on the netted result: Catalyst pushes a filter below the
  * netting aggregate only where the answer cannot change.
  */
final class GraftStreamTable(feed: ChangeFeed, pinned: State, ident: Identifier,
                             props: Map[String, String],
                             consumed: () => Long,
                             appendOnly: Boolean = false,
                             security: Option[GraftSecurity] = None)
    extends GraftReadable {

  override def name(): String = (ident.namespace.toSeq :+ ident.name).mkString(".")
  override def schema(): StructType = pinned.schema
  override def properties(): util.Map[String, String] = props.asJava
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override private[sql] def readChecked(): DataFrame = {
    security.foreach(_.requirePriv(SparkSession.active, "SELECT",
      ident.namespace.toSeq, ident.name))
    if (appendOnly) feed.pendingAppendOnly(consumed(), pinned)
    else feed.pending(consumed(), pinned)
  }
}

/** V2 table façade over one [[VersionedTable]], pinned to one committed
  * state: the latest at load, or a time-travel version. Reads go through
  * [[GraftReadRule]], writes through the V1 write bridge, and MERGE,
  * UPDATE and DELETE through [[GraftMergeRule]].
  */
final class GraftSqlTable(vt: VersionedTable, pinned: State, ident: Identifier,
                          props: Map[String, String] = Map.empty,
                          security: Option[GraftSecurity] = None)
    extends GraftReadable with SupportsWrite with TruncatableTable {

  /** The backing table — used by the SQL MERGE/UPDATE/DELETE rewrites. */
  private[graft] def versionedTable: VersionedTable = vt

  /** RBAC check against the owning catalog's grants (no-op when the table
    * was built outside a secured catalog, or in admin mode) — also called
    * by the read and MERGE/UPDATE/DELETE rewrite rules, which bypass the
    * write builder.
    */
  private[graft] def requirePriv(priv: String): Unit =
    security.foreach(_.requirePriv(SparkSession.active, priv,
      ident.namespace.toSeq, ident.name))

  override def name(): String = (ident.namespace.toSeq :+ ident.name).mkString(".")
  override def schema(): StructType = pinned.schema
  override def properties(): util.Map[String, String] = props.asJava
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override private[sql] def readChecked(): DataFrame = {
    requirePriv("SELECT")
    vt.readState(pinned)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requirePriv("INSERT")
    new GraftWriteBuilder(vt, onTruncate = () => requirePriv("DELETE"))
  }

  /** `TRUNCATE TABLE`: a commit with no rows. */
  override def truncateTable(): Boolean = {
    requirePriv("DELETE")
    vt.deleteWhere(lit(true))
    true
  }
}

/** SQL reads of graft tables, planned as the tables' own DataFrames (the
  * way Delta resolves its V2 tables to a file relation): each read of a
  * [[GraftReadable]] relation becomes the table's SELECT-checked read
  * plan, under the relation's own output attribute ids, before any file
  * is opened. Spark then optimizes one plan over the parquet relation.
  * Write targets and the DELETE/MERGE/UPDATE targets keep their
  * relations: the write bridge and [[GraftMergeRule]] take them from
  * there.
  */
object GraftReadRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val targets = plan.collectWithSubqueries {
      case w: V2WriteCommand => w.table
      case m: MergeIntoTable => m.targetTable
      case u: UpdateTable => u.table
      case d: DeleteFromTable => d.table
    }.flatMap(_.collectLeaves())
    plan.transformUpWithSubqueries {
      case r @ DataSourceV2Relation(t: GraftReadable, _, _, _, _, _)
          if !targets.exists(_ eq r) =>
        // a column committed NOT NULL reads as NOT NULL, as the relation
        // reports it: marked on the scan itself, so filters on it still
        // push down, and trusted above a computed column (a stream's net)
        val notNull = r.output.filterNot(_.nullable).map(_.name).toSet
        val read = UpdateAttributeNullability(
          t.readChecked().queryExecution.analyzed transform {
            case l: LogicalRelation => l.copy(output = l.output.map(a =>
              if (notNull(a.name)) a.withNullability(false) else a))
          })
        Project(r.output.map { a =>
          val c = read.output.find(_.name == a.name).getOrElse(
            throw new IllegalStateException(
              s"${t.name()}: read plan has no column ${a.name}"))
          Alias(if (c.nullable && !a.nullable) KnownNotNull(c) else c,
            a.name)(exprId = a.exprId)
        }, read)
    }
  }
}

/** INSERT INTO → versioned append; INSERT OVERWRITE / truncate → versioned
  * replace. The V1 bridge hands us the source as a DataFrame, which drops
  * straight into the table's atomic commit protocol.
  */
final class GraftWriteBuilder(vt: VersionedTable,
                              onTruncate: () => Unit = () => ())
    extends WriteBuilder with SupportsTruncate {

  private var replace = false

  // INSERT OVERWRITE / TRUNCATE destroys existing rows — Snowflake-wise
  // that needs DELETE on top of INSERT, which the callback enforces
  override def truncate(): WriteBuilder = { onTruncate(); replace = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, overwrite: Boolean): Unit = {
        if (replace || overwrite) vt.overwrite(data) else vt.append(data)
      }
    }
  }
}
