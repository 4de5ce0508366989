package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Contract of the scratch operator in T: `T.scratch` checkpoints and
  * records the checkpoint under the calling thread (the statement's
  * scope), `T.releaseScratch` drops only what its caller recorded,
  * `T.keep` makes a checkpoint no statement owns and `T.own` hands one
  * back to the calling statement. Bench/Verify/Explain and the perfbench
  * harness call releaseScratch after every statement; without it,
  * checkpoint scratch accumulates across a long session and storage
  * pressure inflates later statements.
  *
  * Assertions track the RDDs this test makes, never an absolute count:
  * other suites in this JVM legitimately hold memo checkpoints.
  */
class ScratchHygieneSpec extends AnyFunSuite {
  import SparkTestBase._

  private def live(id: Int) =
    spark.sparkContext.getPersistentRDDs.contains(id)

  private def rddId(checkpoint: org.apache.spark.sql.DataFrame): Int =
    checkpoint.queryExecution.logical
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id

  test("releaseScratch drops checkpoint scratch but keeps kept checkpoints") {
    import spark.implicits._
    val scratch = T.scratch((1 to 1000).toDF("x"))
    val keep = T.keep((1 to 500).toDF("y"))
    assert(scratch.count() == 1000 && keep.count() == 500)
    assert(live(rddId(scratch)) && live(rddId(keep)))

    T.releaseScratch(spark)
    assert(!live(rddId(scratch)), "the statement's scratch must drain")
    assert(live(rddId(keep)), "a kept checkpoint outlives the statement")
    // Its blocks were never touched, so the truncated lineage still reads.
    assert(keep.count() == 500)

    // Handed back to a statement, it goes with that statement's release.
    T.own(keep)
    T.releaseScratch(spark)
    assert(!live(rddId(keep)))
  }

  test("releaseScratch leaves another thread's scratch alone") {
    import spark.implicits._
    val made = new java.util.concurrent.SynchronousQueue[Int]()
    val release = new java.util.concurrent.CountDownLatch(1)
    val other = new Thread(() => {
      made.put(rddId(T.scratch((1 to 100).toDF("z"))))
      release.await()
      T.releaseScratch(spark)
    })
    other.start()
    val id = made.take()
    T.releaseScratch(spark)
    assert(live(id), "a release on this thread dropped another statement's checkpoint")
    release.countDown()
    other.join()
    assert(!live(id), "the owning thread's release drops it")
  }

  test("localCheckpoint( occurs in src/main only inside the scratch operator") {
    // Every checkpoint goes through T.scratch or T.keep, so each one is
    // owned by a statement or by the memo that holds it.
    val root = Paths.get("src", "main", "scala")
    val st = Files.walk(root)
    val hits =
      try st.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex
          .filter(_._1.contains("localCheckpoint("))
          .map { case (line, i) => s"${root.relativize(p)}:${i + 1}: ${line.trim}" }
      }.toList
      finally st.close()
    assert(hits.size == 1 && hits.head.startsWith("graft/core.scala:"),
      s"checkpoints outside T.scratch / T.keep:\n${hits.mkString("\n")}")
  }
}
