package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The §4 "configuration, not code" claims, proven on real plans:
  * dynamic partition pruning (Hive's AppMasterEventOperator/DPP),
  * exchange reuse (CorrelationOptimizer/YSmart), ANALYZE feeding real
  * CBO stats, and small-file compaction (OrcFileMergeOperator
  * equivalent).
  */
class OptimizerSpec extends AnyFunSuite {
  import SparkTestBase._

  private def tmpDir(name: String): String =
    SparkTestBase.tmpDir(name).toString + "/d"

  test("dynamic partition pruning injects a runtime partition filter") {
    val p = tmpDir("graft-dpp")
    T.t(spark, sfDir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .repartition(col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(p)
    val fact = spark.read.parquet(p)
    // DPP requires the dim side to be a SELECTIVE FILTER over a real
    // scan (a bare local relation never qualifies): materialize the dim
    // as parquet, filter it with an equality on a non-join column.
    import spark.implicits._
    val dimPath = tmpDir("graft-dpp-dim")
    Seq(("F", "closed"), ("O", "open"), ("P", "pending"))
      .toDF("st", "label").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("label") === "closed")
    val joined = fact.join(dim, fact("o_orderstatus") === dim("st"))
      .agg(count(lit(1)).as("cnt"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n${plan.take(1500)}")
    val viaJoin = joined.collect()(0).getLong(0)
    val direct = fact.filter(col("o_orderstatus") === "F").count()
    assert(viaJoin === direct)
  }

  test("one shuffle is reused across two aggregation consumers") {
    // Hive's CorrelationOptimizer (YSmart) shares a ReduceSink among
    // consumers; Spark's ReuseExchange does the same for identical
    // exchanges. Two different aggregates over the same shuffled child:
    val base = T.t(spark, sfDir, "lineitem")
      .groupBy("l_orderkey").agg(T.dsum(col("l_quantity")).as("q"))
    val hi = base.filter(col("q") > 100)
      .agg(count(lit(1)).as("c")).select(col("c"))
    val lo = base.filter(col("q") <= 100)
      .agg(count(lit(1)).as("c")).select(col("c"))
    val both = hi.union(lo)
    both.collect() // AQE finalizes reuse at runtime
    val plan = both.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") ||
      plan.contains("TableCacheQueryStage") || plan.contains("ReusedQueryStage"),
      s"shuffle not reused:\n${plan.take(1500)}")
  }

  test("ANALYZE produces real CBO stats (row count visible to planner)") {
    SparkEntry.queries("q_ddl_ctas_analyze")(spark, sfDir).collect()
    val tbl = operators.Artifact.tableName("cust_summary", sfDir, "customer", "orders")
    val stats = spark.table(tbl).queryExecution.optimizedPlan.stats
    assert(stats.rowCount.isDefined,
      "ANALYZE did not produce a row count — CBO has no stats input")
    assert(stats.rowCount.get.toLong ===
      spark.table(tbl).count())
  }

  test("small-file compaction preserves rows and bounds file count") {
    val p = tmpDir("graft-compact")
    val src = T.t(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity")
    src.repartition(64).write.mode("overwrite").parquet(p) // 64 small files
    val compacted = tmpDir("graft-compact-out")
    spark.read.parquet(p).coalesce(4)
      .write.mode("overwrite").parquet(compacted)
    val files = new java.io.File(compacted).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files <= 4, s"$files files after compaction")
    assert(spark.read.parquet(compacted).count() === src.count())
  }
}
