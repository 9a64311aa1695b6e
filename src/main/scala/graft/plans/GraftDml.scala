package graft.plans

import org.apache.spark.sql.{GraftShims, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, CommonExpressionRef, Expression, InheritAnalysisRules, RuntimeReplaceable, With}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, LogicalPlan, MergeAction, MergeIntoTable, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.LongType

import graft.sources.{GraftTable, Versioned}

/** The pure-SQL door for row-level DML on versioned tables — Delta's
  * pre-row-level-API pattern: an ANALYZER rule that rewrites the
  * resolved [[UpdateTable]]/[[MergeIntoTable]] nodes over a
  * [[GraftTable]] relation into [[LeafRunnableCommand]]s, which the
  * stock planner executes eagerly (`ExecutedCommandExec`) exactly like
  * every other SQL command. The commands orchestrate DISTRIBUTED work
  * — [[Versioned.updateWhere]] / [[Versioned.mergeInto]] run joins and
  * rewrites as ordinary Spark jobs and land ONE atomic copy-on-write
  * commit — so nothing here is driver-side row handling; the command
  * is just the transaction coordinator, the same division of labor as
  * Delta's `MergeIntoCommand`. (`DELETE FROM` needs none of this: the
  * table implements `SupportsDeleteV2`, Spark's native hook.)
  *
  * Captured expressions are remapped from resolved
  * [[AttributeReference]]s to UNRESOLVED attributes over a stable name
  * space before the command stores them — the command re-resolves them
  * against the DataFrames it builds at run time, so exprIds never leak
  * across the analysis/execution boundary. UPDATE uses plain column
  * names (single relation); MERGE prefixes `__t_`/`__s_` so same-named
  * target and source columns stay unambiguous after the join.
  */
class GraftDmlRewrite extends Rule[LogicalPlan] {

  private def graftTableOf(plan: LogicalPlan): Option[GraftTable] =
    plan.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
        r.table.asInstanceOf[GraftTable]
    }

  /** Spark 4 resolves `BETWEEN` (like other argument-inheriting
    * replaceable functions) to a node whose arguments are plain fields
    * and whose only child is its replacement, which shares the input
    * through a `With` common-expression binding. An attribute remap
    * reaches neither the fields nor the binding's references, so the
    * captured condition would re-resolve against stale exprIds. Inline
    * them first: the replacement stands in for the node, and each
    * reference for the expression it names — only for deterministic
    * bindings, which evaluate the same however often they are
    * repeated. */
  private def inlineReplacements(e: Expression): Expression = e.transformUp {
    case w: With if w.defs.forall(_.child.deterministic) =>
      val defs = w.defs.map(d => d.id -> d.child).toMap
      w.child.transformUp { case r: CommonExpressionRef => defs(r.id) }
    case r: RuntimeReplaceable with InheritAnalysisRules => r.replacement
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case u @ UpdateTable(target, assignments, condition)
        if u.resolved && graftTableOf(target).isDefined =>
      val gt = graftTableOf(target).get
      def remap(e: Expression): Expression = inlineReplacements(e).transformUp {
        case a: AttributeReference => UnresolvedAttribute(a.name)
      }
      val sets = assignments.map { a =>
        a.key match {
          case k: AttributeReference => k.name -> remap(a.value)
          case other => throw new UnsupportedOperationException(
            s"graft UPDATE supports top-level column assignments; got $other")
        }
      }
      GraftUpdateCommand(gt.location,
        new CapturedUpdate(sets, condition.map(remap)))

    case m @ MergeIntoTable(target, source, mergeCond, matchedActions,
        notMatchedActions, notMatchedBySourceActions, _withSchemaEvolution)
        if m.resolved && graftTableOf(target).isDefined =>
      // WITH SCHEMA EVOLUTION, ADD-COLUMN half: by the time this
      // rule sees a RESOLVED MergeIntoTable, Spark's own
      // ResolveMergeIntoSchemaEvolution (gated on [[GraftTable]]'s
      // AUTOMATIC_SCHEMA_EVOLUTION capability) has already pushed the
      // source-minus-target columns through GraftCatalog.alterTable as
      // metadata-only ADD COLUMN commits and reloaded the target — the
      // assignments below resolve against the evolved schema, and
      // untouched rows read null for the new columns (pinned by q139).
      // The TYPE-WIDENING half (which stock evolution never emits)
      // runs in GraftMergeCommand.run via the captured flag.
      val gt = graftTableOf(target).get
      val tIds: AttributeSet = target.outputSet
      val sIds: AttributeSet = source.outputSet
      def remap(e: Expression): Expression = inlineReplacements(e).transformUp {
        case a: AttributeReference if tIds.contains(a) =>
          UnresolvedAttribute("__t_" + a.name)
        case a: AttributeReference if sIds.contains(a) =>
          UnresolvedAttribute("__s_" + a.name)
      }
      def key(a: Assignment): String = a.key match {
        case k: Attribute => k.name
        case other => throw new UnsupportedOperationException(
          s"graft MERGE supports top-level column assignments; got $other")
      }
      def spec(a: MergeAction): Versioned.MergeActSpec = a match {
        case UpdateAction(c, as, _) =>
          Versioned.UpdateAct(c.map(remap), as.map(x => key(x) -> remap(x.value)))
        case DeleteAction(c) => Versioned.DeleteAct(c.map(remap))
        case InsertAction(c, as) =>
          Versioned.InsertAct(c.map(remap), as.map(x => key(x) -> remap(x.value)))
        case other => throw new UnsupportedOperationException(
          s"graft MERGE does not support action $other")
      }
      GraftMergeCommand(gt.location,
        new CapturedMerge(source, remap(mergeCond), matchedActions.map(spec),
          notMatchedActions.map(spec).map(_.asInstanceOf[Versioned.InsertAct]),
          notMatchedBySourceActions.map(spec), _withSchemaEvolution))
  }
}

/** Opaque (non-Product) holders for the DML state the commands carry:
  * the captured expressions are INTENTIONALLY unresolved (plain-name
  * attributes the command re-resolves against run-time DataFrames), so
  * they must stay invisible to TreeNode's product reflection —
  * otherwise CheckAnalysis walks into them and fails the statement on
  * exactly the unresolved attributes the design calls for. */
final class CapturedUpdate(val sets: Seq[(String, Expression)],
    val cond: Option[Expression]) {
  override def toString: String =
    s"SET ${sets.map { case (k, v) => s"$k = ${v.sql}" }.mkString(", ")}" +
      cond.map(c => s" WHERE ${c.sql}").getOrElse("")
}

final class CapturedMerge(val source: LogicalPlan, val cond: Expression,
    val matched: Seq[Versioned.MergeActSpec],
    val notMatched: Seq[Versioned.InsertAct],
    val notMatchedBySource: Seq[Versioned.MergeActSpec],
    val schemaEvolution: Boolean = false) {
  override def toString: String = s"ON ${cond.sql} " +
    s"[${matched.size} matched, ${notMatched.size} not-matched, " +
    s"${notMatchedBySource.size} not-matched-by-source]"
}

/** `UPDATE graft.t SET ... WHERE ...` as one stats-pruned copy-on-write
  * commit; returns the updated-row count. */
final case class GraftUpdateCommand(path: String, dml: CapturedUpdate)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("num_affected_rows", LongType)())

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(Versioned.updateWhere(spark, path, dml.cond, dml.sets)))
}

/** `MERGE INTO graft.t USING ... ON ...` as one atomic commit: touched
  * files rewritten through the action cascade, inserts appended,
  * untouched files carried by reference. */
final case class GraftMergeCommand(path: String, dml: CapturedMerge)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("num_updated_rows", LongType)(),
    AttributeReference("num_deleted_rows", LongType)(),
    AttributeReference("num_inserted_rows", LongType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val src = GraftShims.ofRows(spark, dml.source)
    // WITH SCHEMA EVOLUTION, type half: widen target columns the
    // source carries at a wider type (int→bigint, float→double)
    // through the metadata-only widening commit BEFORE the merge
    // aligns assignments — the ADD-COLUMN half already happened at
    // analysis via the AUTOMATIC_SCHEMA_EVOLUTION capability. Run
    // time (not analysis) so the commit fires exactly once per
    // statement execution.
    // DOCUMENTED RESIDUAL: the widen is its OWN commit, so a merge
    // that subsequently fails (cardinality violation, constraint,
    // concurrent-writer conflict) leaves the widened schema version —
    // unlike Delta, where merge evolution rides the merge txn. The
    // stranded state is benign and forward-compatible (metadata-only,
    // every narrow file still reads via upcast; narrowing back is
    // refused by design, so no rollback exists) and a retried MERGE
    // proceeds idempotently past it. The widen also clears a bloom
    // index on the widened column (widenColumn's invariant) — re-add
    // it after evolution if still wanted.
    if (dml.schemaEvolution)
      Versioned.widenForMerge(spark, path, src.schema)
    val stats = Versioned.mergeInto(spark, path,
      src, dml.cond, dml.matched,
      dml.notMatched, dml.notMatchedBySource)
    Seq(Row(stats.updated, stats.deleted, stats.inserted))
  }
}
