package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import graft.operators.Artifact
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Contract of the derived-artifact operator (operators/Artifact.scala)
  * for every builder that goes through it: two threads building one
  * artifact at once on one session publish exactly one directory, with
  * the serial build's row count, throw nothing and leave no staging
  * directory; and a directory at the path that holds no schema record
  * is rebuilt, not reused.
  *
  * Each builder runs on its own copy of sf0.001, so its content tag and
  * path are new; everything published for that copy is deleted after.
  */
class ArtifactSpec extends AnyFunSuite {
  import SparkTestBase._

  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
  private val rounds = 2

  /** (kind, builder, table under the artifact root to count). */
  private val builders: Seq[(String, (SparkSession, String) => String, String)] =
    Seq(
      ("media", sources.MediaBlobs.ensureStore, ""),
      ("audio", sources.MediaBlobs.ensureAudioStore, ""),
      ("video", sources.MediaBlobs.ensureVideoStore, ""),
      ("imgemb", sources.MediaBlobs.ensureImageEmbStore, ""),
      ("codec", sources.MediaBlobs.ensureCodecStore, ""),
      ("hbase", sources.HBaseKv.ensureStore(_, _, 8), ""),
      ("accumulo", sources.AccumuloKv.ensureStore(_, _, 6), ""),
      ("druid", sources.DruidSegments.ensureDatasource, ""),
      ("kafka", sources.KafkaLog.ensureTopic(_, _, 4), ""),
      ("ivfpq", sources.IvfPqIndex.ensure, "codes"),
      ("ivfpqinc", sources.IvfPqIndex.ensureIncremental, "codes"),
      ("lshidx", queries.Dedup.ensureLshIndex, ""),
      ("bmroll", queries.Aggregates.ensureBitmapRollup, ""),
      ("bmrollinc", queries.Aggregates.ensureBitmapRollupIncremental, ""),
      ("acid", queries.Ddl.acidDemo, "base_1"))

  private def sanitized(dir: String) = dir.replaceAll("[^0-9a-zA-Z]", "_")

  private def entries(d: Path): Set[String] =
    if (!Files.isDirectory(d)) Set.empty
    else {
      val st = Files.list(d)
      try st.iterator().asScala.map(_.getFileName.toString).toSet
      finally st.close()
    }

  private def published(kind: String, dir: String): Set[String] =
    entries(tmp).filter(_.startsWith(s"graft_${kind}_${sanitized(dir)}_"))

  for ((kind, build, table) <- builders)
    test(s"two threads building the $kind artifact publish one serial-equal copy") {
      val dir = copyOfData(sfDir, "graft-artifact")
      def rows(p: String) = Artifact.read(spark, Paths.get(p, table).toString).count()
      try {
        val serial = rows(build(spark, dir))
        dropArtifacts(dir)
        for (round <- 1 to rounds) {
          val staged = entries(tmp.resolve("graft_staging"))
          val start = new CountDownLatch(1)
          val paths = new ConcurrentLinkedQueue[String]()
          val errors = new ConcurrentLinkedQueue[Throwable]()
          val threads = (1 to 2).map { _ =>
            val th = new Thread(() => {
              start.await()
              try paths.add(build(spark, dir))
              catch { case e: Throwable => errors.add(e) }
              ()
            })
            th.start(); th
          }
          start.countDown()
          threads.foreach(_.join())
          assert(errors.isEmpty, s"round $round: ${errors.asScala.toList}")
          assert(paths.asScala.toSet.size == 1, s"round $round: $paths")
          assert(published(kind, dir).size == 1, s"round $round")
          assert(rows(paths.peek()) == serial, s"round $round")
          assert((entries(tmp.resolve("graft_staging")) -- staged).isEmpty,
            s"round $round left a staging directory")
          dropArtifacts(dir)
        }
      } finally dropArtifacts(dir)
    }

  test("a directory at the artifact path without a schema record is rebuilt") {
    val dir = copyOfData(sfDir, "graft-artifact")
    try {
      val legacy = Artifact.path("media", dir, "documents")
      spark.range(1).toDF("doc_id").write.parquet(legacy) // with _SUCCESS
      assert(Files.exists(Paths.get(legacy, "_SUCCESS")))
      assert(sources.MediaBlobs.ensureStore(spark, dir) == legacy)
      assert(Files.exists(Paths.get(legacy, "_schema.json")))
      val store = Artifact.read(spark, legacy)
      assert(store.columns.toSeq == Seq("doc_id", "payload"))
      assert(store.count() == T.t(spark, dir, "documents").count())
    } finally dropArtifacts(dir)
  }
}
