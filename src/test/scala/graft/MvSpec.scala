package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Materialized-view rewrite: the custom optimizer rule must substitute
  * the MV scan for a matching aggregate (plan-level proof) without
  * changing results, and must NOT fire for non-matching queries.
  */
class MvSpec extends AnyFunSuite {
  import SparkTestBase._

  private val tag = sfDir.replaceAll("[^0-9a-zA-Z]", "_")

  private def defining = {
    val l = T.t(spark, sfDir, "lineitem")
    l.groupBy("l_returnflag", "l_linestatus")
      .agg(T.dsum(l("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
  }

  test("matching aggregate is rewritten to scan the MV table") {
    MaterializedViews.register(spark, s"g_mv_qty_$tag", defining)
    val q = defining // independent plan instance, canonically equal
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains(s"g_mv_qty_$tag"),
      s"MV not substituted:\n${plan.take(1500)}")
    // And the rewritten plan returns the same rows as a forced base run.
    val viaMv = q.collect().map(_.toSeq).toSet
    val base = spark.table(s"g_mv_qty_$tag").collect().map(_.toSeq).toSet
    assert(viaMv === base)
  }

  test("refresh re-points the rewrite; unregister stops it") {
    val name = s"g_mv_refresh_$tag"
    def defin = T.t(spark, sfDir, "region")
      .groupBy("r_regionkey").agg(count(lit(1)).as("cnt"))
    MaterializedViews.register(spark, name, defin)
    assert(defin.queryExecution.optimizedPlan.toString.contains(name))
    MaterializedViews.refresh(spark, name, defin)
    assert(defin.queryExecution.optimizedPlan.toString.contains(name))
    assert(defin.collect().length === 5)
    MaterializedViews.unregister(spark, name)
    assert(!defin.queryExecution.optimizedPlan.toString.contains(name),
      "rewrite still fires after unregister")
  }

  test("recording an equal plan under a new table re-points the rewrite") {
    // A rewritten base table reads back canonically equal to the old
    // one: the table recorded last serves the plan, also once the
    // superseded table's rewrite is retired.
    val (a, b) = (s"g_mv_swap_a_$tag", s"g_mv_swap_b_$tag")
    def defin = T.t(spark, sfDir, "supplier")
      .groupBy("s_nationkey").agg(count(lit(1)).as("cnt"))
    def reads = defin.queryExecution.optimizedPlan.toString
    MaterializedViews.register(spark, a, defin)
    MaterializedViews.register(spark, b, defin)
    assert(reads.contains(b) && !reads.contains(a), s"not served by $b:\n${reads.take(1500)}")
    MaterializedViews.unregister(spark, a)
    assert(reads.contains(b), s"retiring $a stopped the rewrite:\n${reads.take(1500)}")
  }

  test("rebind preserves non-nullable output attributes") {
    val name = s"g_mv_nn_$tag"
    def defin = T.t(spark, sfDir, "nation")
      .groupBy("n_regionkey").agg(count(lit(1)).as("cnt"))
    MaterializedViews.register(spark, name, defin)
    val q = defin
    assert(q.queryExecution.optimizedPlan.toString.contains(name))
    // count(*) analyzes non-nullable; the MV parquet scan is nullable —
    // the rebind must restore the original nullability or parents hold
    // a stale contract.
    val cnt = q.queryExecution.optimizedPlan.output.find(_.name == "cnt").get
    assert(!cnt.nullable, "MV rewrite made non-nullable count(*) nullable")
    assert(q.collect().map(_.getLong(1)).sum === 25)
  }

  test("incremental refresh folds a delta without rescanning the base") {
    val base = s"g_mv_inc_base_$tag"
    val name = s"g_mv_inc_$tag"
    spark.sql(s"DROP TABLE IF EXISTS $base")
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val cust = T.t(spark, sfDir, "customer")
    // Split on the key's midpoint so the test is sf-independent.
    val mid = cust.agg(((max("c_custkey") + min("c_custkey")) / 2)
      .cast("long")).head.getLong(0)
    cust.filter(col("c_custkey") <= mid)
      .write.mode("overwrite").saveAsTable(base)
    // Exact-decimal sums so the delta-merge is associative: incremental
    // must be BIT-identical to a full recompute, not approximately so.
    def defining = spark.table(base).groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(T.dec(col("c_acctbal"))).as("bal"),
        max(col("c_acctbal")).as("mx"))
    MaterializedViews.register(spark, name, defining)

    // Insert-only delta lands in the base table...
    val delta = cust.filter(col("c_custkey") > mid)
    delta.write.mode("append").saveAsTable(base)
    // ...and its PARTIAL aggregate — computed over the delta rows only,
    // never the base — folds into the stored MV.
    val deltaAgg = delta.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(T.dec(col("c_acctbal"))).as("bal"),
        max(col("c_acctbal")).as("mx"))
    MaterializedViews.refreshIncremental(spark, name, defining, deltaAgg,
      Seq("c_mktsegment"), Seq("n" -> "sum", "bal" -> "sum", "mx" -> "max"))

    // Parity: the maintained MV equals a full recompute over base+delta.
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(col("c_mktsegment"), col("n"),
        col("bal").cast("decimal(38,4)").as("bal"), col("mx"))
        .collect().map(_.toSeq).toSet
    assert(norm(spark.table(name)) === norm(defining),
      "incremental MV diverged from full recompute")

    // Freshness: a new matching query is rewritten to the MV AND sees
    // the post-delta data through it.
    val q = defining
    assert(q.queryExecution.optimizedPlan.toString.contains(name),
      "rewrite no longer fires after incremental refresh")
    assert(q.agg(sum("n")).head.getLong(0) === cust.count(),
      "rewritten query serves stale pre-delta data")

    // Non-mergeable aggregates are rejected loudly, not silently wrong.
    val err = intercept[IllegalArgumentException] {
      MaterializedViews.refreshIncremental(spark, name, defining, deltaAgg,
        Seq("c_mktsegment"), Seq("n" -> "avg"))
    }
    assert(err.getMessage.contains("non-mergeable"))
  }

  test("q_ddl_mv_incremental plan reads the maintained MV, not the base") {
    val df = SparkEntry.queries("q_ddl_mv_incremental")(spark, sfDir)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains(s"g_mv_rev_$tag"),
      s"incremental MV not substituted into the query plan:\n" +
        plan.take(1200))
    // The oracle proves values; this proves the 100 TB claim - the
    // final read must NOT rescan the orders base.
    assert(!plan.contains("orders.parquet"),
      "query still scans the base table after MV substitution")
  }

  test("non-matching aggregate is left alone") {
    MaterializedViews.register(spark, s"g_mv_qty_$tag", defining)
    val l = T.t(spark, sfDir, "lineitem")
    val other = l.groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"))
    val plan = other.queryExecution.optimizedPlan.toString
    assert(!plan.contains(s"g_mv_qty_$tag"),
      "rewrite fired for a query the MV cannot answer")
  }
}
