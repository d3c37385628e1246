package graft.sql

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, InsertStarAction, LogicalPlan, MergeIntoTable, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.shims

import graft.ecom.VersionedTable

/** SQL `UPDATE` and `MERGE INTO` for catalog tables, completing the DML
  * surface (INSERT/CTAS/DELETE/TRUNCATE are elsewhere): the resolved
  * command converts to an eager command that runs the library's
  * copy-on-write [[VersionedTable.update]]/[[VersionedTable.mergeClauses]]
  * — one atomic version, untouched files carried forward, history intact.
  * The Delta architecture again: Spark resolves names and expressions,
  * the library owns the rewrite semantics, nothing is implemented twice.
  *
  * MERGE supports the FULL Delta clause matrix over an `ON` conjunction
  * of same-name target/source key equalities: every statement, the
  * `UPDATE SET *` + `INSERT *` upsert included, translates to
  * [[VersionedTable.mergeClauses]] with every clause expression
  * re-expressed over the library's `t`/`s` row structs. Only
  * non-equi-key ON conditions refuse (with a message naming the
  * library API) rather than approximating.
  */
case class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def graftTarget(table: LogicalPlan): Option[GraftSqlTable] =
    table.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftSqlTable] =>
        r.table.asInstanceOf[GraftSqlTable]
    }

  /** Re-express a resolved expression against the TABLE by name, so the
    * library can evaluate it on its own snapshot frame (the statement's
    * attribute ids belong to the statement's relation instance).
    */
  private def byName(e: Expression, what: String): Column = {
    require(e.deterministic, s"$what must be deterministic")
    require(e.find(_.isInstanceOf[SubqueryExpression]).isEmpty,
      s"$what must not contain a subquery")
    shims.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    // ALTER TABLE ... ADD CONSTRAINT <name> CHECK (<expr>): Spark's own
    // exec path runs a validation scan through the DSv2 relation, which
    // this catalog deliberately cannot serve (reads convert to the V1
    // snapshot plan) — and the library op validates every existing row
    // itself (Delta semantics). So the command converts WHOLESALE to an
    // eager call of VersionedTable.addCheckConstraint.
    case a @ org.apache.spark.sql.catalyst.plans.logical.AddCheckConstraint(child, chk)
        if a.resolved && graftTarget(child).isDefined =>
      val t = graftTarget(child).get
      require(chk.userProvidedName != null && chk.userProvidedName.nonEmpty,
        s"ADD CONSTRAINT on ${t.name()} requires an explicit constraint name")
      GraftAddConstraintCommand(t, chk.userProvidedName, chk.condition)

    case u @ UpdateTable(table, assignments, condition)
        if u.resolved && graftTarget(table).isDefined =>
      val t = graftTarget(table).get
      val set = assignments.map {
        case Assignment(k: Attribute, v) => k.name -> byName(v, s"UPDATE SET ${k.name}")
        case Assignment(k, _) => throw new UnsupportedOperationException(
          s"UPDATE ${t.name()}: only plain column assignments are supported, got $k")
      }.toMap
      val cond = condition.map(byName(_, "UPDATE WHERE")).getOrElse(lit(true))
      GraftUpdateCommand(t, set, cond)

    case m @ MergeIntoTable(table, source, cond, matched, notMatched, bySource, _)
        if m.resolved && graftTarget(table).isDefined =>
      val t = graftTarget(table).get
      val targetOut = table.outputSet
      val sourceOut = source.outputSet
      def refuse(why: String): Nothing = throw new UnsupportedOperationException(
        s"MERGE INTO ${t.name()}: $why — this catalog supports ON as a " +
          "conjunction of same-name key equalities plus the full WHEN clause " +
          "matrix; other ON shapes are the library API " +
          "(VersionedTable.update/delete/mergeClauses)")
      def keysOf(e: Expression): Seq[String] = e match {
        case And(l, r) => keysOf(l) ++ keysOf(r)
        case EqualTo(a: AttributeReference, b: AttributeReference)
            if a.name.equalsIgnoreCase(b.name) &&
              ((targetOut.contains(a) && sourceOut.contains(b)) ||
                (targetOut.contains(b) && sourceOut.contains(a))) => Seq(a.name)
        case other => refuse(s"unsupported ON clause ${other.sql}")
      }
      // re-express a resolved clause expression over the t/s row
      // structs mergeClauses evaluates against
      def overTs(e: Expression, what: String): Column = {
        require(e.deterministic, s"$what must be deterministic")
        require(e.find(_.isInstanceOf[SubqueryExpression]).isEmpty,
          s"$what must not contain a subquery")
        shims.column(e.transform {
          case a: AttributeReference if targetOut.contains(a) =>
            UnresolvedAttribute(Seq("t", a.name))
          case a: AttributeReference if sourceOut.contains(a) =>
            UnresolvedAttribute(Seq("s", a.name))
        })
      }
      def assignsOf(assigns: Seq[Assignment], what: String): Map[String, Column] =
        assigns.map {
          case Assignment(k: Attribute, v) => k.name -> overTs(v, s"$what ${k.name}")
          case Assignment(k, _) => refuse(
            s"$what: only plain column assignments are supported, got $k")
        }.toMap
      def starSet: Map[String, Column] =
        t.schema().fieldNames.toSeq
          .map(n => n -> shims.column(UnresolvedAttribute(Seq("s", n)))).toMap
      def whens(actions: Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction],
          group: String): Seq[VersionedTable.MergeWhen] = actions.map {
        case UpdateStarAction(c) => VersionedTable.MergeWhen(
          c.map(overTs(_, s"$group AND")), VersionedTable.MergeUpdate(starSet))
        case UpdateAction(c, assigns, _) => VersionedTable.MergeWhen(
          c.map(overTs(_, s"$group AND")),
          VersionedTable.MergeUpdate(assignsOf(assigns, s"$group UPDATE SET")))
        case DeleteAction(c) => VersionedTable.MergeWhen(
          c.map(overTs(_, s"$group AND")), VersionedTable.MergeDelete)
        case InsertStarAction(c) => VersionedTable.MergeWhen(
          c.map(overTs(_, s"$group AND")), VersionedTable.MergeInsert(starSet))
        case InsertAction(c, assigns) => VersionedTable.MergeWhen(
          c.map(overTs(_, s"$group AND")),
          VersionedTable.MergeInsert(assignsOf(assigns, s"$group INSERT")))
        case other => refuse(s"unsupported $group clause: $other")
      }
      GraftMergeMatrixCommand(t, source, keysOf(cond).distinct,
        whens(matched, "WHEN MATCHED"),
        whens(notMatched, "WHEN NOT MATCHED"),
        whens(bySource, "WHEN NOT MATCHED BY SOURCE"))
  }
}

/** Eager `UPDATE` — runs the copy-on-write update at execution. */
case class GraftUpdateCommand(t: GraftSqlTable, set: Map[String, Column],
    cond: Column) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    t.pinnedVersion.foreach(v => throw new IllegalArgumentException(
      s"cannot UPDATE ${t.name()} VERSION AS OF $v — time travel is read-only"))
    t.vt.update(cond, set)
    Seq.empty
  }
}

/** Eager `ALTER TABLE ADD CONSTRAINT ... CHECK` — the library op
  * validates every existing row, then publishes the metadata-only
  * version (qv09's enforcement machinery covers later writes).
  */
case class GraftAddConstraintCommand(t: GraftSqlTable, name: String,
    sqlExpr: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    t.pinnedVersion.foreach(v => throw new IllegalArgumentException(
      s"cannot ALTER ${t.name()} VERSION AS OF $v — time travel is read-only"))
    t.vt.addCheckConstraint(name, sqlExpr)
    Seq.empty
  }
}

/** Eager `MERGE INTO` — conditional/multiple WHEN MATCHED
  * (UPDATE/DELETE), conditional NOT MATCHED inserts, and NOT MATCHED
  * BY SOURCE, running [[VersionedTable.mergeClauses]]. The source
  * keeps ALL its columns (clause expressions reference them through
  * the `s` row struct).
  */
case class GraftMergeMatrixCommand(t: GraftSqlTable, source: LogicalPlan,
    keys: Seq[String],
    matched: Seq[VersionedTable.MergeWhen],
    notMatched: Seq[VersionedTable.MergeWhen],
    bySource: Seq[VersionedTable.MergeWhen]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    t.pinnedVersion.foreach(v => throw new IllegalArgumentException(
      s"cannot MERGE INTO ${t.name()} VERSION AS OF $v — time travel is read-only"))
    t.vt.mergeClauses(shims.dataFrame(spark, source), keys,
      matched, notMatched, bySource)
    Seq.empty
  }
}
