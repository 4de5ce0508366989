package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Contract of the per-session parquet schema memo behind T.t: a table
  * read again in the same session starts no footer-inference job, a
  * rewritten table or a different session / footer conf is inferred
  * afresh, and answers are the same as through a plain
  * `spark.read.parquet`. Jobs are counted by job group with the
  * listener bus drained, so other suites' work in this JVM never counts.
  */
class TableSchemaMemoSpec extends AnyFunSuite {
  import SparkTestBase._

  /** Run `body` under a fresh job group; return its value and the number
    * of Spark jobs started in that group. */
  private def jobsIn[A](body: => A): (A, Int) = {
    val (out, sites) = jobSitesIn(body)
    (out, sites.size)
  }

  /** Run `body` under a fresh job group; return its value and the call
    * site of each Spark job started in that group: Spark's short form
    * (e.g. "parquet at Dedup.scala:628"), which names the job's result
    * stage, the newest of its stages. The `callSite.short` property is
    * set only where user code calls `setCallSite`. With `inferenceOnly`,
    * jobs run inside a SQL execution (a write, a checkpoint, a collect)
    * are left out: footer inference runs outside one. */
  private def jobSitesIn[A](body: => A,
      inferenceOnly: Boolean = false): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"schema-memo-${java.util.UUID.randomUUID}"
    val started = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .filter(_.getProperty("spark.jobGroup.id") == group)
          .filter(p => !inferenceOnly || p.getProperty("spark.sql.execution.id") == null)
          .foreach(_ => started.add(e.stageInfos.maxBy(_.stageId).name))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "schema memo spec", interruptOnCancel = false)
    try {
      val out = body
      // SparkContext.listenerBus is Spark-internal; reach it reflectively.
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      (out, started.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def hash(df: DataFrame): Long =
    df.selectExpr("bit_xor(xxhash64(*)) AS h").head().getLong(0)

  private def fresh(): SparkSession = SparkEntry.tune(spark.newSession())

  test("a second T.t of a table in one session starts no Spark job") {
    val s = fresh()
    val (first, firstJobs) = jobsIn(T.t(s, sfDir, "orders"))
    assert(firstJobs >= 1, "the first read infers the schema with a job")
    val (again, againJobs) = jobsIn(T.t(s, sfDir, "orders"))
    assert(againJobs == 0)
    assert(again.schema == first.schema)
    val (_, eventJobs) = jobsIn {
      T.t(s, sfDir, "events"); T.t(s, sfDir, "events")
    }
    assert(eventJobs == 1, "events infers once, then hits the memo")
    val (nanos, nanosJobs) = jobsIn(T.eventsTsIsNanos(s, sfDir))
    assert(nanosJobs == 0, "eventsTsIsNanos reads the memoized schema")
    assert(nanos == (spark.read.parquet(s"$sfDir/events.parquet")
      .schema("ts").dataType == LongType))
    // A fresh relation each time: a self-join still resolves both sides.
    def selfJoin(a: DataFrame, b: DataFrame) =
      a.join(b, a("o_orderkey") === b("o_custkey")).count()
    val path = s"$sfDir/orders.parquet"
    assert(selfJoin(T.t(s, sfDir, "orders"), T.t(s, sfDir, "orders")) ==
      selfJoin(s.read.parquet(path), s.read.parquet(path)))
  }

  test("rewriting a table at the same path invalidates its memo entry") {
    val s = fresh()
    val dir = SparkTestBase.tmpDir("graft-schema-memo").toString
    val path = s"$dir/tbl.parquet"
    s.range(5).toDF("a").write.parquet(path)
    assert(T.t(s, dir, "tbl").columns.toSeq == Seq("a"))
    assert(jobsIn(T.t(s, dir, "tbl"))._2 == 0)
    s.range(5).selectExpr("id AS a", "id * 2 AS b")
      .write.mode("overwrite").parquet(path)
    val rewritten = T.t(s, dir, "tbl")
    assert(rewritten.columns.toSeq == Seq("a", "b"))
    assert(rewritten.selectExpr("sum(b)").head().getLong(0) == 20L)
  }

  test("another session or footer conf does not see a session's entry") {
    // A footer with no Spark schema in its key-value metadata (Spark's
    // own writer always stores one, and inference prefers it), so that
    // binaryAsString decides the type of the un-annotated binary column.
    val dir = SparkTestBase.tmpDir("graft-schema-memo").toString
    val footer = MessageTypeParser.parseMessageType(
      "message m { required binary b; }")
    val writer = ExampleParquetWriter
      .builder(new Path(s"$dir/bin.parquet")).withType(footer).build()
    try writer.write(new SimpleGroupFactory(footer).newGroup()
      .append("b", Binary.fromString("hi")))
    finally writer.close()
    val s1 = fresh()
    assert(T.t(s1, dir, "bin").schema("b").dataType == BinaryType)
    val s2 = fresh()
    s2.conf.set("spark.sql.parquet.binaryAsString", "true")
    val (other, otherJobs) = jobsIn(T.t(s2, dir, "bin"))
    assert(otherJobs >= 1 && other.schema("b").dataType == StringType)
    assert(other.head().getString(0) == "hi")
    // The same session with the conf flipped is a different entry too;
    // flipping it back finds the original entry again.
    s1.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(T.t(s1, dir, "bin").schema("b").dataType == StringType)
    s1.conf.set("spark.sql.parquet.binaryAsString", "false")
    val (back, backJobs) = jobsIn(T.t(s1, dir, "bin"))
    assert(backJobs == 0 && back.schema("b").dataType == BinaryType)
  }

  test("answers through the memo equal a plain spark.read.parquet") {
    for (name <- Seq("q1_pricing_summary", "q3_shipping_priority")) {
      val run = SparkEntry.queries(name)
      // A new session has no entries: every read infers, as a plain
      // spark.read.parquet does. The second build hits the memo.
      val s = fresh()
      val plain = hash(run(s, sfDir))
      val (memoized, jobs) = jobsIn(run(s, sfDir))
      assert(jobs == 0, s"$name: the second build must hit the memo")
      assert(hash(memoized) == plain, name)
    }
  }

  test("rebuilding every benchmark statement starts no Spark job") {
    val stmts = Seq(
      "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue",
      "q_sketch_theta", "q_win_rank",
      "q_text_langid", "q_pii_redact", "q_dedup_simhash",
      "q_ann_cosine_topk", "q_pipeline_curate")
    val jobs = stmts.map { name =>
      val run = SparkEntry.queries(name)
      run(spark, sfDir)
      name -> jobsIn(run(spark, sfDir))._2
    }.filter(_._2 != 0)
    assert(jobs.isEmpty, s"statements whose second build started jobs: $jobs")
  }

  test("rebuilding q_stats_metadata_only answers from catalog stats with no job or conf") {
    // The statement applies StatsAnswer to its own optimized plan; had
    // the rewrite not fired, its aggregate would run a scan job.
    val s = fresh()
    val run = SparkEntry.queries("q_stats_metadata_only")
    val first = run(s, sfDir).collect().toSeq
    val (again, jobs) = jobsIn(run(s, sfDir).collect().toSeq)
    assert(jobs == 0 && again == first, s"rebuild started $jobs jobs")
    assert(s.conf.getOption(StatsAnswer.Flag).isEmpty)
  }

  test("rebuilding an IVF-PQ index statement reads the index back with no inference job") {
    // The index tables are read with their writer's schema, so the only
    // jobs left are the search's own: the eager probe checkpoint and the
    // collect that routes the probed cells (8 jobs when each of the
    // three tables was inferred from its footers).
    for (name <- Seq("q_ann_ivfpq_index", "q_ann_ivfpq_delta")) {
      val run = SparkEntry.queries(name)
      val s = fresh()
      run(s, sfDir) // builds or finds the index; memoizes embeddings
      val (df, jobs) = jobsIn(run(s, sfDir))
      assert(jobs == 5, s"$name: $jobs jobs per rebuild")
      assert(hash(df) == hash(SparkEntry.queries("q_ann_ivfpq")(s, sfDir)),
        s"$name: the index search must answer as q_ann_ivfpq")
    }
  }

  test("rebuilding a statement that reads an artifact starts no inference job") {
    // Every statement that reads a derived artifact back (through an
    // ensure* builder: the media stores, the KV / segment / topic
    // stores, the IVF-PQ and LSH indexes, the bitmap rollups), plus the
    // two IVF statements that size their tiers from the embeddings
    // count. The first build publishes the artifacts and memoizes the
    // base tables; a rebuild must read both back with known schemas.
    val stmts = Seq(
      "q_multimodal_decode", "q_media_dedup", "q_multimodal_audio",
      "q_audio_frames", "q_image_resize", "q_multimodal_video",
      "q_video_frames", "q_image_dhash", "q_image_neardup",
      "q_image_dedup_survivors", "q_media_manifest", "q_audio_fingerprint",
      "q_video_fingerprint", "q_multimodal_codecs", "q_crossmodal_topk",
      "q_crossmodal_ivf",
      "q_agg_bitmap_rollup", "q_agg_bitmap_rollup_delta",
      "q_dedup_incremental_neardup",
      "q_src_hbase_rowkey_range", "q_src_accumulo_range",
      "q_src_druid_interval", "q_src_kafka_offsets",
      "q_ann_ivfpq_index", "q_ann_ivfpq_delta",
      "q_ann_ivf_cells", "q_ann_ivf_hier")
    val s = fresh()
    val inferring = stmts.map { name =>
      val run = SparkEntry.queries(name)
      run(s, sfDir)
      name -> jobSitesIn(run(s, sfDir))._2.filter(_.startsWith("parquet at"))
    }.filter(_._2.nonEmpty)
    assert(inferring.isEmpty, s"rebuilds that inferred a schema: $inferring")
  }

  test("rebuilding a sink statement reads its own output back with no inference job") {
    // A sink statement writes on every build, and its write jobs carry
    // the same "parquet at" call site as an inference job; they run
    // inside a SQL execution, inference does not. The ACID statements
    // read back the directories AcidTable's commits wrote.
    val stmts = Seq("q_sink_partitioned", "q_sink_dynpart_overwrite", "q_sink_compact",
      "q_acid_merge_delta", "q_acid_time_travel", "q_acid_snapshot_diff")
    val s = fresh()
    val inferring = stmts.map { name =>
      val run = SparkEntry.queries(name)
      run(s, sfDir)
      name -> jobSitesIn(run(s, sfDir), inferenceOnly = true)._2
        .filter(_.startsWith("parquet at"))
    }.filter(_._2.nonEmpty)
    assert(inferring.isEmpty, s"rebuilds that inferred a schema: $inferring")
  }
}
