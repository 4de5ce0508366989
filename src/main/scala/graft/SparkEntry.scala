package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each capability from SURVEY.md §2's operator inventory is one QueryDef
  * in a themed pack; this object is just the aggregation point.
  */
object SparkEntry {

  /** All query packs. Order is cosmetic (names are unique). */
  private val packs: Seq[QueryPack] = Seq(
    Aggregates, Joins, Sorting, SetOps, Lateral, Windows,
    Dedup, Similarity, TextAnalysis, Curation, Graphs, Functions, Sources,
    Ddl, Streaming, Subqueries)

  lazy val all: Seq[QueryDef] = {
    val ds = packs.flatMap(_.defs)
    val dup = ds.groupBy(_.name).filter(_._2.size > 1).keys
    require(dup.isEmpty, s"duplicate query names: ${dup.mkString(",")}")
    ds
  }

  /** Tuned conf baseline (SURVEY.md §4.1 conclusion): AQE is on by default
    * in Spark 4; add CBO + join reorder + runtime bloom-filter semijoin —
    * the moral equivalents of Hive's MapJoinProcessor/JoinReorder/
    * SyntheticJoinPredicate chain.
    */
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    c.set("spark.sql.cbo.enabled", "true")
    c.set("spark.sql.cbo.joinReorder.enabled", "true")
    c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    c.set("spark.sql.adaptive.enabled", "true")
    // ObjectHashAggregate (the exec behind every TypedImperativeAggregate
    // here — collect_topk, sketches, ngrams) falls back to SORT-BASED
    // aggregation after this many distinct groups per task; the 128
    // default would resurrect the very per-task sort the r15
    // collect_topk conversions removed (their group = a vector/doc id,
    // so map tasks routinely hold tens of thousands of groups with
    // k-element bounded buffers — a few MB). 65536 keeps the hash path
    // for those while still bounding worst-case buffer residency
    // (65536 × k elements) far below executor memory; past it the exec
    // degrades gracefully to the old sort behavior.
    // CAVEAT (ADVICE r15): the threshold is global, so it also governs
    // the theta/KLL/ngram sketch aggregates, whose per-group buffers
    // are KB-to-tens-of-KB — the "65536 × k elements" residency bound
    // holds only for collect_topk. Every current sketch query groups
    // on a low-cardinality key (≤ dozens of groups/task), so the
    // high-threshold × big-buffer product is unreachable today; a new
    // sketch query grouping on a high-cardinality key must lower this
    // or aggregate in two stages.
    c.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      "65536")
    HiveCompatFunctions.ensure(spark)
    // Dormant until spark.graft.stats.answerQueries=true (Hive's
    // hive.compute.query.using.stats twin — see plans/StatsAnswer).
    StatsAnswer.install(spark)
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    tune(spark)
    all.head.run(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(d => d.name -> { (s: SparkSession, dir: String) =>
      tune(s); d.run(s, dir)
    }).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
