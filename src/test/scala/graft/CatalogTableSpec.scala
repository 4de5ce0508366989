package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.StandardCopyOption.REPLACE_EXISTING
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Catalog tables a statement saves go through `Artifact.table`: keyed
  * on the content of the base tables they derive from, and built once
  * under a per-name lock. For every statement that saves one:
  *  - rerun in a live session after its inputs are rewritten in place,
  *    it answers as a fresh copy of the new data does;
  *  - two threads running it at once on a fresh copy both get the
  *    serial rows and throw nothing, and serial reruns on that copy
  *    still get them.
  * Every copy's tables are dropped from the catalog afterwards.
  */
class CatalogTableSpec extends AnyFunSuite {
  import SparkTestBase._

  private val sf001 = Paths.get(sfDir).resolveSibling("sf0.01").toString

  /** Every statement that saves a catalog table. */
  private val stmts = Seq("q_ddl_ctas_analyze", "q_stats_metadata_only",
    "q_join_bucketed_smb", "q_fn_char_varchar", "q_ddl_mv_rewrite",
    "q_ddl_mv_incremental")

  private val rounds = 2

  private def fresh(): SparkSession = SparkEntry.tune(spark.newSession())

  private def rows(s: SparkSession, name: String, dir: String): Seq[String] =
    SparkEntry.queries(name)(s, dir).collect().map(_.toString).toSeq.sorted

  /** sf0.01's region without its last row: sf0.01's region file is
    * byte-identical to sf0.001's, so a rewrite must change it itself. */
  private lazy val region4: Path = {
    val out = tmpDir("graft-catalog-region").resolve("r")
    spark.read.parquet(s"$sf001/region.parquet").filter("r_regionkey < 4")
      .coalesce(1).write.parquet(out.toString)
    val st = Files.list(out)
    try st.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    finally st.close()
  }

  /** Overwrite `dir`'s customer, orders and lineitem with sf0.01's, and
    * its region with [[region4]]. */
  private def rewrite(dir: String): Unit = {
    for (t <- Seq("customer", "orders", "lineitem"))
      Files.copy(Paths.get(sf001, s"$t.parquet"), Paths.get(dir, s"$t.parquet"),
        REPLACE_EXISTING)
    Files.copy(region4, Paths.get(dir, "region.parquet"), REPLACE_EXISTING)
  }

  for (n <- stmts)
    test(s"$n answers from its rewritten inputs under a live session") {
      val ref = copyOfData(sfDir, "graft-catalog")
      rewrite(ref)
      val dir = copyOfData(sfDir, "graft-catalog")
      try {
        val expected = rows(fresh(), n, ref)
        val s = fresh()
        assert(rows(s, n, dir) != expected,
          "sf0.001 and the rewritten tables must differ for this test to mean anything")
        rewrite(dir)
        assert(rows(s, n, dir) == expected)
      } finally Seq(ref, dir).foreach(dropTables)
    }

  for (n <- stmts)
    test(s"two threads running $n on a fresh copy get the serial rows") {
      val serial = rows(fresh(), n, sfDir)
      val s = fresh()
      val wrong = new ConcurrentLinkedQueue[String]()
      val copies = (1 to rounds).map { round =>
        val dir = copyOfData(sfDir, "graft-catalog")
        val start = new CountDownLatch(1)
        val threads = (1 to 2).map { _ =>
          val th = new Thread(() => {
            start.await()
            val got =
              try rows(s, n, dir)
              catch { case e: Throwable => Seq(s"threw $e") }
            if (got != serial) wrong.add(s"round $round: $got")
          })
          th.start(); th
        }
        start.countDown()
        threads.foreach(_.join())
        dir
      }
      try {
        for ((dir, round) <- copies.zipWithIndex) {
          val got = rows(s, n, dir)
          if (got != serial) wrong.add(s"serial rerun on round ${round + 1}'s copy: $got")
        }
        assert(wrong.isEmpty, wrong.asScala.mkString("\n"))
      } finally copies.foreach(dropTables)
    }
}
