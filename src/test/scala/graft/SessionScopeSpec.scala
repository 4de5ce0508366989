package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Statements do not write state that other statements of the session
  * share:
  *  - two threads on one session, each on its own data dir, get their
  *    serial answers from every statement that binds a temp view or a
  *    SQL variable (T.scoped) and from q_stats_metadata_only, and leave
  *    no temp view or variable behind;
  *  - `SparkEntry.tune` runs once per session, so a client's own `SET`
  *    survives the statements it runs;
  *  - no query pack registers a name, sets a session conf or checks
  *    for a catalog table itself.
  */
class SessionScopeSpec extends AnyFunSuite {
  import SparkTestBase._

  private val sf001 = Paths.get(sfDir).resolveSibling("sf0.01").toString

  /** Every statement that binds a view or a variable, plus the one that
    * used to flip the stats conf around its own plan. */
  private val stmts = Seq(
    "q_subq_scalar", "q_subq_in", "q_subq_not_in", "q_subq_exists_corr",
    "q_recursive_chain", "q_pipe_syntax", "q_sql_variables",
    "q_group_by_all", "q_lateral_alias", "q_sql_collation",
    "q_sql_identifier", "q_agg_grouping_sets", "q_agg_ordered_set",
    "q_agg_bitmap_rollup", "q_agg_bitmap_rollup_delta",
    "q_agg_bitmap_distinct", "q_transform_script", "q_ddl_view",
    "q_stats_metadata_only")

  private def rows(s: SparkSession, name: String, dir: String): Seq[String] =
    SparkEntry.queries(name)(s, dir).collect().map(_.toString).toSeq.sorted

  test("two threads on one session get their serial answers and leave no names behind") {
    val s = SparkEntry.tune(spark.newSession())
    val dirs = Seq(sfDir, sf001)
    val serial = dirs.map(d => d -> stmts.map(n => n -> rows(s, n, d)).toMap).toMap
    assert(serial(sfDir) != serial(sf001))
    // Fresh copies, so the bitmap rollups are built during the race.
    val copies = dirs.map(d => d -> copyOfData(d, "graft-session-scope"))
    val rounds = 4
    val wrong = new ConcurrentLinkedQueue[String]()
    val start = new CountDownLatch(1)
    val threads = copies.map { case (orig, copy) =>
      val th = new Thread(() => {
        start.await()
        for (round <- 1 to rounds; n <- stmts) {
          val got =
            try rows(s, n, copy)
            catch { case e: Throwable => Seq(s"threw $e") }
          if (got != serial(orig)(n)) wrong.add(s"$orig round $round $n: $got")
        }
      })
      th.start(); th
    }
    start.countDown()
    threads.foreach(_.join())
    copies.foreach(c => dropArtifacts(c._2))
    assert(wrong.isEmpty,
      s"${wrong.size} of ${2 * rounds * stmts.size} results differ from serial:\n" +
        wrong.asScala.mkString("\n"))
    val views = s.catalog.listTables().collect().filter(_.isTemporary).map(_.name)
    assert(views.isEmpty, s"temp views left: ${views.toSeq}")
    assert(s.sessionState.catalogManager.tempVariableManager.isEmpty,
      "a statement left a session variable declared")
  }

  test("a client's SET survives the statements it runs") {
    val s = SparkEntry.tune(spark.newSession())
    s.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
    SparkEntry.queries("q1_pricing_summary")(s, sfDir).collect()
    assert(s.conf.get("spark.sql.cbo.joinReorder.enabled") == "false")
    val rules = s.experimental.extraOptimizations.count(_.isInstanceOf[StatsAnswer.AnswerRule])
    assert(rules == 1, s"tune installed the stats rule $rules times")
  }

  test("query packs register no name and set no session conf themselves") {
    // T.scoped in core.scala is the one place a statement registers a
    // temp view or a SQL variable; Artifact.table the one place it
    // looks a catalog table up before saving it.
    val root = Paths.get("src", "main", "scala", "graft", "queries")
    val banned = Seq("TempView(", "DECLARE OR REPLACE VARIABLE", "conf.set(", "conf.unset(",
      "tableExists(")
    val st = Files.walk(root)
    val hits =
      try st.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex
          .filter { case (line, _) => banned.exists(line.contains) }
          .map { case (line, i) => s"${root.relativize(p)}:${i + 1}: ${line.trim}" }
      }.toList
      finally st.close()
    assert(hits.isEmpty,
      s"session writes outside T.scoped or Artifact.table:\n${hits.mkString("\n")}")
  }
}
