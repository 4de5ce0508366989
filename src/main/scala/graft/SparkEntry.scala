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

  /** Tuned conf baseline (SURVEY.md §4.1 conclusion): AQE and the
    * runtime bloom-filter semijoin are on by default in Spark 4; add
    * CBO + join reorder — the moral equivalents of Hive's
    * MapJoinProcessor/JoinReorder/SyntheticJoinPredicate chain.
    * Once per session, under the set's lock: [[queries]] calls it per
    * statement, and setting the confs again undid a client's own `SET`.
    */
  def tune(spark: SparkSession): SparkSession = tuned.synchronized {
    if (tuned.put(spark, java.lang.Boolean.TRUE) == null) {
      val c = spark.conf
      c.set("spark.sql.cbo.enabled", "true")
      c.set("spark.sql.cbo.joinReorder.enabled", "true")
      // ObjectHashAggregate (behind collect_topk, the sketches, ngrams)
      // falls back to sort-based aggregation past this many groups per
      // task; the 128 default would bring back the per-task sort for
      // collect_topk, whose groups (a vector/doc id) number tens of
      // thousands per task with k-element buffers. 65536 bounds buffer
      // residency at 65536 × k elements. The threshold is global: the
      // sketch aggregates' buffers are KB-sized, which is safe only
      // because every sketch query groups on a low-cardinality key; a
      // new one grouping on a high-cardinality key must lower this or
      // aggregate in two stages.
      c.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "65536")
      HiveCompatFunctions.ensure(spark)
      // Dormant until spark.graft.stats.answerQueries=true (Hive's
      // hive.compute.query.using.stats twin — see plans/StatsAnswer).
      spark.experimental.extraOptimizations ++= Seq(new StatsAnswer.AnswerRule)
    }
    spark
  }

  private val tuned = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

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
