package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Runtime bloom-filter semijoin (SURVEY §4.2: Hive's
  * GenericUDAFBloomFilter + GenericUDFInBloomFilter via
  * SyntheticJoinPredicate → Spark's runtime.bloomFilter rewrite).
  * The conf is on by default in Spark 4 (tune() leaves it alone); this
  * spec proves the rewrite actually fires: with the size thresholds lowered to test scale, a selective
  * dim filter must inject a BloomFilter probe into the fact scan side,
  * and the result must equal the unfiltered-plan result.
  */
class BloomFilterSpec extends AnyFunSuite {
  import SparkTestBase._

  test("runtime bloom filter injects a might_contain probe and preserves results") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set(keys(0), "100MB")
      conf.set(keys(1), "0")
      // Injection is skipped when the join can broadcast (a broadcast
      // join gains nothing from a bloom probe) — at test scale every dim
      // broadcasts, so force the genuine shuffle-join shape of 100 TB.
      conf.set(keys(2), "-1")
      // Selective dim joined to the fact side: the optimizer should
      // build a bloom filter on o_orderkey and probe it in lineitem's
      // scan stage. NB the creation-side predicate must be "likely
      // selective" in InjectRuntimeFilter's sense — equality/IN qualify,
      // plain comparisons do not.
      val l = T.t(spark, sfDir, "lineitem")
      val o = T.t(spark, sfDir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = l.join(o.hint("merge"), l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("bloom_filter"),
        s"no bloom filter in optimized plan:\n${plan.take(2000)}")
      // Semantics unchanged vs the broadcast plan without the rewrite.
      val expected = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val actual = joined.collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(actual === expected)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
