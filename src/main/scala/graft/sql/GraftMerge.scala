package graft.sql

import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.LongType

import graft.storage.VersionedTable

/** SQL `MERGE INTO`, `UPDATE` and `DELETE` for graft catalog tables.
  *
  * Spark's built-in MERGE planning requires `SupportsRowLevelOperations`
  * (a full v2 BatchWrite); graft's versioned-commit protocol instead wants
  * the whole-relation merge that [[graft.operators.MergeInto]] already
  * implements atomically. So, Delta-style, a post-hoc resolution rule
  * rewrites a RESOLVED `MergeIntoTable` over a [[GraftSqlTable]] target
  * into a runnable command (eagerly executed like any SQL command) before
  * the planner rejects the v2 relation. `UPDATE` and `DELETE` become
  * zone-map-pruned rewrites the same way. Non-graft targets are untouched.
  *
  * Supported shape (the reference's merge, co2_harmonized_sp/
  * function.py:146-153): equality-conjunction ON over same-named columns,
  * `WHEN MATCHED THEN UPDATE SET *`, `WHEN NOT MATCHED THEN INSERT *`
  * (the analyzer expands the stars to column-wise assignments, which are
  * verified). Anything else raises a clear AnalysisException rather than
  * silently doing the wrong merge.
  */
case class GraftMergeRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan transformDown {
    case m @ MergeIntoTable(target, source, cond, matched, notMatched, bySource, _)
        if m.resolved && graftTable(target).isDefined =>
      val (vt, name) = graftTable(target).get
      // Snowflake MERGE authorization: updates existing rows and inserts
      // new ones, so the role needs both privileges on the target
      sqlTable(target).foreach { t =>
        t.requirePriv("UPDATE"); t.requirePriv("INSERT")
      }
      validateActions(name, target, source, matched, notMatched, bySource)
      val keys = extractKeys(name, cond, target, source)
      GraftMergeCommand(vt, name, source, keys)

    case u @ UpdateTable(target, assignments, condition)
        if u.resolved && graftTable(target).isDefined =>
      val (vt, name) = graftTable(target).get
      sqlTable(target).foreach(_.requirePriv("UPDATE"))
      // the command re-resolves by name against a fresh read, which a
      // correlated subquery's outer references cannot follow; an
      // uncorrelated one re-resolves whole
      if ((condition.toSeq ++ assignments.map(_.value))
          .exists(SubqueryExpression.hasCorrelatedSubquery))
        throw new AnalysisException(
          errorClass = "UNSUPPORTED_FEATURE.TABLE_OPERATION",
          messageParameters = Map("tableName" -> name,
            "operation" -> "UPDATE with a correlated subquery"))
      val sets = assignments.map {
        case Assignment(k: AttributeReference, v) => k.name -> ExprBox(unresolve(v))
        case a => unsupported(name, s"unsupported UPDATE assignment '${a.sql}' " +
          "(only plain columns can be assigned)")
      }
      GraftUpdateCommand(vt, name, sets, condition.map(e => ExprBox(unresolve(e))))

    case d @ DeleteFromTable(target, condition)
        if d.resolved && graftTable(target).isDefined =>
      val (vt, name) = graftTable(target).get
      sqlTable(target).foreach(_.requirePriv("DELETE"))
      // the command re-resolves the condition by name against a fresh
      // read, which a subquery's outer references cannot follow
      if (SubqueryExpression.hasSubquery(condition))
        throw new AnalysisException(
          errorClass = "UNSUPPORTED_FEATURE.TABLE_OPERATION",
          messageParameters = Map("tableName" -> name,
            "operation" -> "DELETE with a subquery in its condition"))
      GraftDeleteCommand(vt, name, ExprBox(unresolve(condition)))
  }

  /** Rebind a resolved expression by NAME so it can re-resolve against a
    * fresh read of the same table inside the executed command.
    */
  private def unresolve(e: Expression): Expression = e transform {
    case a: AttributeReference =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(a.name))
  }

  private def graftTable(p: LogicalPlan): Option[(VersionedTable, String)] =
    sqlTable(p).map(t => (t.versionedTable, t.name()))

  private def sqlTable(p: LogicalPlan): Option[GraftSqlTable] =
    p.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftSqlTable] =>
        r.table.asInstanceOf[GraftSqlTable]
    }

  private def unsupported(table: String, reason: String): Nothing =
    throw new AnalysisException(
      errorClass = "UNSUPPORTED_FEATURE.TABLE_OPERATION",
      messageParameters = Map(
        "tableName" -> table,
        "operation" ->
          (s"this MERGE shape ($reason). graft MERGE INTO supports exactly: " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT * " +
            "with an AND-of-equalities ON clause over same-named columns; " +
            "use the MergeInto operator API for other shapes")))

  /** The star-expanded assignment lists must map every target column from
    * the same-named source column.
    */
  private def validateActions(table: String,
                              target: LogicalPlan, source: LogicalPlan,
                              matched: Seq[MergeAction],
                              notMatched: Seq[MergeAction],
                              bySource: Seq[MergeAction]): Unit = {
    def wholeRow(assigns: Seq[Assignment]): Boolean =
      assigns.length == target.output.length && assigns.forall {
        case Assignment(t: AttributeReference, v: AttributeReference) =>
          t.name.equalsIgnoreCase(v.name)
        case _ => false
      }
    matched match {
      case Seq(UpdateStarAction(None)) => ()
      case Seq(UpdateAction(None, assigns, _)) if wholeRow(assigns) => ()
      case _ => unsupported(table, "matched clause is not an unconditional UPDATE SET *")
    }
    notMatched match {
      case Seq(InsertStarAction(None)) => ()
      case Seq(InsertAction(None, assigns)) if wholeRow(assigns) => ()
      case _ => unsupported(table, "not-matched clause is not an unconditional INSERT *")
    }
    if (bySource.nonEmpty)
      unsupported(table, "NOT MATCHED BY SOURCE clauses are not supported")
  }

  private def extractKeys(table: String, cond: Expression,
                          target: LogicalPlan,
                          source: LogicalPlan): Seq[String] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    conjuncts(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        val sidesOk =
          (target.outputSet.contains(a) && source.outputSet.contains(b)) ||
            (target.outputSet.contains(b) && source.outputSet.contains(a))
        if (!sidesOk)
          unsupported(table, s"cannot attribute '${a.sql} = ${b.sql}' to target/source")
        if (!a.name.equalsIgnoreCase(b.name))
          unsupported(table, s"'${a.sql} = ${b.sql}' joins differently-named columns")
        a.name
      case other => unsupported(table, s"unsupported ON predicate '${other.sql}'")
    }
  }
}

/** The executed merge: one atomic versioned commit via MergeInto. The
  * source plan is a FIELD (not a child), turned into a DataFrame at
  * execution — the same structure Delta's MergeIntoCommand uses.
  */
case class GraftMergeCommand(@transient vt: VersionedTable, tableName: String,
                             @transient source: LogicalPlan, keys: Seq[String])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("num_updated_rows", LongType, nullable = false)(),
    AttributeReference("num_inserted_rows", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val df = org.apache.spark.sql.graft.ColumnBridge.ofRows(session, source)
    val r = graft.operators.MergeInto(session, vt, df, keys)
    Seq(Row(r.updated, r.inserted))
  }

  override def simpleString(maxFields: Int): String =
    s"GraftMergeCommand $tableName keys=${keys.mkString(",")}"
}

/** Opaque expression holder: keeps deliberately-unresolved expressions
  * out of a command's `expressions` traversal (they re-resolve against a
  * fresh table read at execution).
  */
case class ExprBox(e: Expression)

/** SQL `UPDATE <graft table> SET col = expr, ... [WHERE cond]`: rows
  * matching the condition take the assigned expressions, everything else
  * is kept verbatim — one versioned overwrite commit. Returns the number
  * of rows that matched the condition.
  */
case class GraftUpdateCommand(@transient vt: VersionedTable, tableName: String,
                              sets: Seq[(String, ExprBox)],
                              condition: Option[ExprBox])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("num_updated_rows", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, lit, sum, when}
    val bridge = org.apache.spark.sql.graft.ColumnBridge
    val condCol = condition.map(b => bridge.column(b.e)).getOrElse(lit(true))
    val setMap = sets.map { case (n, b) => n.toLowerCase -> bridge.column(b.e) }.toMap
    val obs = new org.apache.spark.sql.Observation()
    // zone-map-pruned rewrite: only parts that might match the WHERE are
    // read and rewritten; untouched parts carry over by reference (the
    // matched-row count is unaffected — a skipped part can't match)
    val (_, executed) = vt.rewriteWhereDetailed(condCol) { df =>
      val updatedCols = df.columns.toSeq.map { c =>
        setMap.get(c.toLowerCase) match {
          case Some(v) => when(condCol, v).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }
      df.select(updatedCols :+ when(condCol, 1L).otherwise(0L).as("_upd"): _*)
        .observe(obs, sum(col("_upd")).as("n"))
        .drop("_upd")
    }
    // the explicit executed-flag, not a racy version compare: reading
    // obs of a never-run plan would block forever
    val n =
      if (!executed) 0L
      else Option(obs.get("n")).map(_.asInstanceOf[Long]).getOrElse(0L)
    Seq(Row(n))
  }

  override def simpleString(maxFields: Int): String =
    s"GraftUpdateCommand $tableName sets=${sets.map(_._1).mkString(",")}"
}

/** SQL `DELETE FROM <graft table> [WHERE cond]`: rows where the condition
  * is TRUE are removed in one versioned commit (NULL keeps the row, per
  * SQL); parts that provably hold no matching row carry over by reference
  * ([[VersionedTable.deleteWhere]]).
  */
case class GraftDeleteCommand(@transient vt: VersionedTable, tableName: String,
                              condition: ExprBox)
    extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    vt.deleteWhere(org.apache.spark.sql.graft.ColumnBridge.column(condition.e))
    Seq.empty
  }

  override def simpleString(maxFields: Int): String =
    s"GraftDeleteCommand $tableName"
}
