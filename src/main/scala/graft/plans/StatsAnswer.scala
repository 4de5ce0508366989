package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, HiveTableRelation}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project, ResolvedHint, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Metadata-only query answering — the twin of Hive's `StatsOptimizer`
  * (`hive.compute.query.using.stats`, jar-verified
  * `o.a.h.hive.ql.optimizer.StatsOptimizer` — SURVEY.md §4.1 #29):
  * a global aggregate of only `count(*)` / `count(col)` / `min(col)` /
  * `max(col)` over a bare ANALYZEd catalog table is answered straight
  * from catalog statistics as a `LocalRelation` — zero tasks, zero
  * bytes scanned. At 100 TB this turns the most common "how big is it"
  * audit query from a full-corpus scan into a catalog lookup.
  *
  * Mirrors Hive's accuracy contract exactly:
  *  - fires ONLY when `spark.graft.stats.answerQueries=true` (Hive's
  *    conf also defaults false) AND the catalog has a rowCount —
  *    i.e. `ANALYZE TABLE ... COMPUTE STATISTICS` ran (add
  *    `FOR COLUMNS ...` for count(col)/min/max, which need null counts
  *    and min/max column stats);
  *  - Spark's own write path keeps this safe the same way Hive's
  *    basic-stats-accurate flag does: an INSERT through Spark clears
  *    (or rewrites without rowCount) the table stats, so the rule
  *    silently stops firing until the next ANALYZE. Files dropped
  *    behind the catalog's back defeat both engines identically.
  *  - any Filter, grouping, DISTINCT aggregate, or non-answerable
  *    aggregate in the query disables the rewrite for that plan (the
  *    normal scan path runs).
  *
  * Extension surface: (c)-level `Rule[LogicalPlan]` appended to
  * `spark.experimental.extraOptimizations` (runs after the main
  * optimizer batches, so the subtree shapes matched here are the
  * already-pruned forms).
  */
object StatsAnswer {

  val Flag = "spark.graft.stats.answerQueries"

  /** The rule `SparkEntry.tune` installs into each session; it stays
    * dormant until `spark.graft.stats.answerQueries=true`.
    */
  final class AnswerRule extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      if (conf.getConfString(Flag, "false") != "true") plan else answer(plan)
  }

  /** The rewrite itself: every answerable global aggregate in `plan`
    * becomes a one-row `LocalRelation`. A statement that wants the
    * answer for its own plan calls this on its optimized plan instead
    * of setting the session conf other statements would see.
    */
  def answer(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(Nil, aggExprs, child, _) =>
      answerAll(agg, aggExprs, child).getOrElse(agg)
  }

  /** The whole aggregate must be answerable or none of it is — a
    * partial rewrite would still scan, so it would save nothing.
    */
  private def answerAll(agg: Aggregate,
      aggExprs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] =
    for {
      table <- bareTable(child)
      stats <- table.stats
      rowCount <- stats.rowCount
      values <- traverse(aggExprs)(valueOf(_, table, rowCount.toLong))
    } yield LocalRelation(
      agg.output.map(_.asInstanceOf[Attribute]),
      Seq(InternalRow.fromSeq(values)))

  /** Accept only a bare relation under aliases/hints/attribute-only
    * projections — ANY filter or computation means real work that
    * stats cannot answer.
    */
  private def bareTable(plan: LogicalPlan): Option[CatalogTable] =
    plan match {
      case SubqueryAlias(_, c) => bareTable(c)
      case ResolvedHint(c, _) => bareTable(c)
      case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        bareTable(c)
      case r: HiveTableRelation => Some(r.tableMeta)
      case l: LogicalRelation => l.catalogTable
      case _ => None
    }

  private def traverse[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] =
    xs.foldRight(Option(List.empty[B])) { (x, acc) =>
      for (t <- acc; v <- f(x)) yield v :: t
    }

  /** One aggregate output → its stats-derived Catalyst value. */
  private def valueOf(e: org.apache.spark.sql.catalyst.expressions.NamedExpression,
      table: CatalogTable, rowCount: Long): Option[Any] = e match {
    case Alias(AggregateExpression(fn, Complete, false, None, _), _) =>
      fn match {
        // count(*) / count(1) / count(any non-null literal)
        case Count(Seq(Literal(v, _))) if v != null => Some(rowCount)
        // count(col) = rowCount - nullCount(col)
        case Count(Seq(a: AttributeReference)) =>
          colStat(table, a).flatMap(_.nullCount)
            .map(nc => rowCount - nc.toLong)
        case Min(a: AttributeReference) => minMax(table, a, isMin = true)
        case Max(a: AttributeReference) => minMax(table, a, isMin = false)
        case _ => None
      }
    case _ => None
  }

  private def colStat(table: CatalogTable, a: AttributeReference) =
    table.stats.flatMap(_.colStats.get(a.name))
      .map(_.toPlanStat(a.name, a.dataType))

  /** min/max from column stats; an all-null (or empty) column has no
    * recorded min/max and correctly answers NULL — but only when the
    * null count PROVES it, otherwise don't fire.
    */
  private def minMax(table: CatalogTable, a: AttributeReference,
      isMin: Boolean): Option[Any] =
    colStat(table, a).flatMap { st =>
      val v = if (isMin) st.min else st.max
      v match {
        case Some(x) => Some(x)
        case None =>
          // Fire with a NULL answer only if stats PROVE every row is
          // null (or the table is empty); otherwise stay out.
          if (st.nullCount.exists(_.toLong == tableRows(table)))
            Some(null)
          else None
      }
    }

  private def tableRows(table: CatalogTable): Long =
    table.stats.flatMap(_.rowCount).map(_.toLong).getOrElse(-1L)
}
