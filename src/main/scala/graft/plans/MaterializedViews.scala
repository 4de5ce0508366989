package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Materialized-view query rewrite (Hive 3's Calcite-based
  * `HiveMaterializedViewsRegistry` rewrite — SURVEY.md §1.1 [Hive3+]),
  * re-expressed as a custom Catalyst `Rule[LogicalPlan]` — the (c)-level
  * extension surface from the build plan: a whole-plan semantic Spark
  * lacks, injected via `spark.experimental.extraOptimizations`
  * (equivalently `SparkSessionExtensions.injectOptimizerRule` at
  * session-build time).
  *
  * Mechanism: `register` materializes a DataFrame into a catalog table
  * and records the CANONICALIZED analyzed plan it computes. The rule
  * then replaces any query subtree whose canonical form equals a
  * registered plan with a scan of the materialized table — exprIds are
  * re-bound with an aliasing Project so the substitution is transparent
  * to the rest of the plan. Like Hive, rewrites serve STALE data if the
  * base tables change after materialization; `refresh` re-materializes
  * and re-records, `refreshIncremental` folds an insert-only delta into
  * the stored aggregate without rescanning the base, `unregister` stops
  * rewriting.
  *
  * Registry state is scoped PER SESSION (WeakHashMap keyed on the
  * session object): a plan registered in one session never rewrites a
  * matching plan in another session to the first session's snapshot
  * files, and dead sessions drop their registrations with GC.
  *
  * Scale notes: this is the classic aggregate-reuse play — a 100 TB
  * scan+agg collapses to a read of the (tiny) materialized result, and
  * matching is O(plan size), driver-side only.
  */
object MaterializedViews {

  /** Per-session rewrite state: canonicalized defining plan -> (table
    * name, cached optimized scan of the table). The scan is resolved
    * ONCE at registration so the rule never launches a nested query
    * execution inside the optimizer (that nesting is a stack-overflow
    * vector).
    */
  private final class SessionState {
    val registry = TrieMap[LogicalPlan, (String, LogicalPlan)]()
    var ruleInstalled = false
  }

  private val sessions =
    new java.util.WeakHashMap[SparkSession, SessionState]()

  private def stateOf(spark: SparkSession): SessionState =
    sessions.synchronized {
      var st = sessions.get(spark)
      if (st == null) { st = new SessionState; sessions.put(spark, st) }
      st
    }

  private val applying = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  def register(spark: SparkSession, name: String, defining: DataFrame): Unit = {
    if (!spark.catalog.tableExists(name)) materialize(name, defining)
    record(spark, name, defining)
  }

  /** Save `defining` as table `name`, computed from its base tables: an
    * older MV of the same plan (a superseded version) never serves it. */
  def materialize(name: String, defining: DataFrame): Unit =
    unrewritten(defining.write.saveAsTable(name))

  private def unrewritten[A](body: => A): A =
    if (applying.get) body else { applying.set(true); try body finally applying.set(false) }

  /** Re-materialize `name` from `defining` and re-point the rewrite at
    * the fresh snapshot (Hive's ALTER MATERIALIZED VIEW ... REBUILD).
    */
  def refresh(spark: SparkSession, name: String, defining: DataFrame): Unit = {
    unregister(spark, name)
    unrewritten(defining.write.mode("overwrite").saveAsTable(name))
    record(spark, name, defining)
  }

  /** Drop every rewrite that targets table `name` in this session. */
  def unregister(spark: SparkSession, name: String): Unit = {
    val st = stateOf(spark)
    st.registry.filterInPlace { case (_, (n, _)) => n != name }
  }

  /** INCREMENTAL maintenance for an aggregate MV over insert-only base
    * deltas (Hive 3's `ALTER MATERIALIZED VIEW ... REBUILD` incremental
    * path): instead of recomputing `defining` over the whole base,
    * aggregate JUST the delta rows with the same query shape
    * (`deltaAgg`) and fold them into the stored MV by re-aggregating
    * `old UNION delta` per group with each aggregate's MERGE function —
    * count/sum merge by sum, min by min, max by max (avg must be stored
    * as sum+count and divided at read time, the standard decomposition).
    * Distributive/algebraic aggregates only; sums should be exact
    * decimals (T.dec) so the merged result is bit-identical to a full
    * recompute regardless of merge order.
    *
    * Scale: the work is O(|MV| + |delta agg|) — group-count-bounded,
    * never a rescan of the 100 TB base. The merged snapshot lands in a
    * staging table then swaps in (restartable: a crash before the swap
    * leaves the old MV intact and readable).
    *
    * `defining` must be the full-base defining query (same object
    * contract as `refresh`); it re-keys the rewrite at the new snapshot.
    * `merge` maps each aggregate output column to "sum" | "min" | "max",
    * in the defining query's column order after `keys`.
    */
  def refreshIncremental(spark: SparkSession, name: String,
      defining: DataFrame, deltaAgg: DataFrame, keys: Seq[String],
      merge: Seq[(String, String)]): Unit = {
    import org.apache.spark.sql.functions.{col, max, min, sum}
    val old = spark.table(name)
    val aggs = merge.map { case (c, f) =>
      (f match {
        case "sum" => sum(col(c))
        case "min" => min(col(c))
        case "max" => max(col(c))
        case other => throw new IllegalArgumentException(
          s"non-mergeable aggregate '$other' for column $c — store " +
            "algebraic aggregates in decomposed form (e.g. avg as sum+count)")
      }).as(c)
    }
    // Re-cast to the stored schema: sum() widens decimals/longs, and a
    // schema that drifts per refresh would break the rewrite's
    // positional rebind.
    val merged = old.unionByName(deltaAgg)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(old.schema.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    val staged = name + "_staged"
    merged.write.mode("overwrite").saveAsTable(staged)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"ALTER TABLE $staged RENAME TO $name")
    unregister(spark, name)
    record(spark, name, defining)
  }

  /** Rewrite `defining`'s plan to a scan of the existing table `name`,
    * in place of any table an equal plan was recorded under before (a
    * rewritten base table reads canonically equal to the old one). */
  def record(spark: SparkSession, name: String,
      defining: DataFrame): Unit = {
    // extraOptimizations run AFTER the main optimizer batches, so the
    // incoming subtrees are optimized — match on the OPTIMIZED canonical
    // form of the defining query, taken with the rule off (else a plan
    // recorded before would already read its MV here).
    val st = stateOf(spark)
    unrewritten {
      val scan = spark.table(name).queryExecution.optimizedPlan
      st.registry.put(defining.queryExecution.optimizedPlan.canonicalized, (name, scan))
    }
    sessions.synchronized {
      if (!st.ruleInstalled) {
        // extraOptimizations is itself per-session state, so the rule —
        // closed over this session's registry — only ever sees plans
        // from the session that registered the MV.
        spark.experimental.extraOptimizations ++= Seq(new Rewrite(st.registry))
        st.ruleInstalled = true
      }
    }
  }

  /** Replaces registered subtrees bottom-up; a hit substitutes the
    * cached MV scan re-aliased to the replaced subtree's output
    * attributes. Re-entrant applications (nested optimizations) no-op.
    */
  final class Rewrite(
      registry: TrieMap[LogicalPlan, (String, LogicalPlan)])
      extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      if (applying.get()) plan
      else {
        applying.set(true)
        try plan.transformUp {
          case p if registry.contains(p.canonicalized) =>
            val (_, cached) = registry(p.canonicalized)
            // Fresh relation instance per substitution: two hits in one
            // plan (self-join of the MV subtree) must not share exprIds.
            val mv = cached match {
              case m: MultiInstanceRelation =>
                m.newInstance().asInstanceOf[LogicalPlan]
              case other => other
            }
            // Positional re-bind (table column order = defining schema
            // order): keep original exprIds so parents are untouched.
            // The parquet-backed MV scan is all-nullable, but parents
            // were analyzed against the ORIGINAL output (e.g. a
            // non-nullable count(*)): restore non-nullability with
            // AssertNotNull — sound because the MV rows ARE the
            // defining query's rows — and carry the original metadata.
            val projectList = p.output.zip(mv.output).map { case (o, n) =>
              val child: Expression =
                if (!o.nullable && n.nullable) AssertNotNull(n) else n
              Alias(child, o.name)(exprId = o.exprId,
                explicitMetadata = Some(o.metadata))
            }
            Project(projectList, mv)
        } finally applying.set(false)
      }
  }
}
