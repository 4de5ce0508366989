package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Statement scratch is scoped to the statement that made it:
  *  - a statement's release never drops the checkpoints of a statement
  *    running on another thread of the same session;
  *  - the Dedup memo holds exactly its two artifacts, not the
  *    intermediate checkpoints of their builds, also when two threads
  *    build it at once;
  *  - a documents table rewritten in place rebuilds the memo, and the
  *    superseded artifacts go with the rebuilding statement's release.
  * Held RDDs are counted against a snapshot taken inside each test, so
  * other suites' memo checkpoints never count.
  */
class ScratchScopeSpec extends AnyFunSuite {
  import SparkTestBase._

  private val sf001 = Paths.get(sfDir).resolveSibling("sf0.01").toString

  private def fresh(): SparkSession = SparkEntry.tune(spark.newSession())

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a release on another thread leaves a running statement's checkpoints") {
    val kmeans = SparkEntry.queries("q_cluster_kmeans")
    val q15 = SparkEntry.queries("q15_top_supplier")
    val serial = rows(kmeans(spark, sfDir))
    T.releaseScratch(spark)
    val failed = (1 to 4).flatMap { round =>
      val done = new AtomicBoolean(false)
      val errors = new ConcurrentLinkedQueue[Throwable]()
      val other = new Thread(() => {
        try while (!done.get) {
          q15(spark, sfDir).collect()
          T.releaseScratch(spark)
        } catch { case e: Throwable => errors.add(e) }
        ()
      })
      other.start()
      val got =
        try Right(rows(kmeans(spark, sfDir)))
        catch { case e: Throwable => Left(s"kmeans threw ${e.getMessage}") }
        finally { done.set(true); other.join() }
      T.releaseScratch(spark)
      val problems = errors.asScala.map(e => s"q15 loop threw ${e.getMessage}") ++
        got.swap.toSeq ++ got.toOption.filter(_ != serial).map(_ => "kmeans rows differ")
      problems.map(p => s"round $round: ${p.take(300)}")
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("the Dedup memo holds its two artifacts and none of their build scratch") {
    val dir = copyOfData(sfDir, "graft-scratch-scope")
    val s = fresh()
    T.releaseScratch(spark)
    val before = persisted
    for (name <- Seq("q_dedup_components", "q_dedup_minhash", "q_dedup_survivors"))
      SparkEntry.queries(name)(s, dir).collect()
    T.releaseScratch(s)
    val held = persisted -- before
    assert(held.size == 2, s"held after release: $held")
  }

  test("two threads building the Dedup memo at once get the serial rows and hold its two RDDs") {
    val names = Seq("q_dedup_components", "q_dedup_survivors")
    val serial = names.map(n => n -> rows(SparkEntry.queries(n)(fresh(), sfDir))).toMap
    T.releaseScratch(spark)
    val dir = copyOfData(sfDir, "graft-scratch-scope")
    val s = fresh()
    val before = persisted
    val start = new CountDownLatch(1)
    val wrong = new ConcurrentLinkedQueue[String]()
    val threads = Seq(names, names.reverse).map { order =>
      val th = new Thread(() => {
        start.await()
        for (n <- order) {
          try if (rows(SparkEntry.queries(n)(s, dir)) != serial(n)) wrong.add(s"$n rows differ")
          catch { case e: Throwable => wrong.add(s"$n threw $e") }
          finally T.releaseScratch(s)
        }
      })
      th.start(); th
    }
    start.countDown()
    threads.foreach(_.join())
    assert(wrong.isEmpty, wrong.asScala.mkString("\n"))
    val held = persisted -- before
    assert(held.size == 2, s"held after release: $held")
  }

  test("rewriting documents in place rebuilds the Dedup memo and drops the old one") {
    val run = SparkEntry.queries("q_dedup_components")
    val expected = rows(run(fresh(), sf001))
    T.releaseScratch(spark)
    val dir = copyOfData(sfDir, "graft-scratch-scope")
    val s = fresh()
    val before = persisted
    val first = rows(run(s, dir))
    T.releaseScratch(s)
    assert(first != expected, "sf0.001 and sf0.01 must differ for this test to mean anything")
    Files.copy(Paths.get(sf001, "documents.parquet"), Paths.get(dir, "documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val second = rows(run(s, dir))
    T.releaseScratch(s)
    assert(second == expected, "the rewritten table must be read, not the memo of the old one")
    val held = persisted -- before
    assert(held.size == 2, s"held after the rebuild: $held")
  }
}
