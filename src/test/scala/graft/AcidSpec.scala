package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Delta-file ACID mechanics (AcidTable): write-id snapshots, tombstone
  * merge-on-read, update-as-delete+insert, row__id stability, and major
  * compaction (fold + cleaner). The q_acid_* queries oracle-check the
  * RESULTS; this spec checks the storage-layer invariants the oracle
  * can't see.
  */
class AcidSpec extends AnyFunSuite {
  import SparkTestBase._

  private def freshRoot() = SparkTestBase.tmpDir("graft-acid-spec").toString + "/t"

  test("lifecycle: create, insert, delete, update with snapshot isolation") {
    val root = freshRoot()
    val n = T.t(spark, sfDir, "nation")
    AcidTable.create(spark, root, n)                       // w1: 25 rows
    AcidTable.insert(spark, root,
      n.filter(col("n_nationkey") < 5)
        .withColumn("n_nationkey", col("n_nationkey") + 100)) // w2: +5
    // w3: region 0 holds 5 base nations plus 1 of the inserted copies
    // (nation 0) — tombstones hit base AND delta rows: -6.
    AcidTable.delete(spark, root, col("n_regionkey") === 0)
    AcidTable.update(spark, root, col("n_nationkey") >= 100,
      Map("n_name" -> lit("UPDATED")))                        // w4

    assert(AcidTable.read(spark, root, Some(1L)).count() === 25)
    assert(AcidTable.read(spark, root, Some(2L)).count() === 30)
    assert(AcidTable.read(spark, root, Some(3L)).count() === 24)
    val latest = AcidTable.read(spark, root)
    assert(latest.count() === 24)
    assert(latest.filter(col("n_name") === "UPDATED").count() === 4)
    // The update re-wrote ONLY its rows (delete+insert, one write id).
    assert(AcidTable.currentWriteId(spark, root) === 4L)
  }

  test("update keeps untouched columns and tombstones exactly once") {
    val root = freshRoot()
    AcidTable.create(spark, root, T.t(spark, sfDir, "region"))
    AcidTable.update(spark, root, col("r_regionkey") === 2,
      Map("r_name" -> lit("X")))
    val rows = AcidTable.read(spark, root)
    assert(rows.count() === 5)
    assert(rows.filter(col("r_name") === "X").count() === 1)
    // row__id is unique across base + deltas.
    assert(rows.select("row__id").distinct().count() === 5)
  }

  test("major compaction preserves data and drops history") {
    val root = freshRoot()
    val n = T.t(spark, sfDir, "nation")
    AcidTable.create(spark, root, n)
    AcidTable.delete(spark, root, col("n_nationkey") % 2 === 0)
    val before = AcidTable.read(spark, root)
      .orderBy("n_nationkey").collect().map(_.toString).toSeq
    val w = AcidTable.compact(spark, root)
    val after = AcidTable.read(spark, root)
      .orderBy("n_nationkey").collect().map(_.toString).toSeq
    assert(after === before, "compaction changed visible data")
    // Cleaner ran: only the new base remains on disk.
    val dirs = new java.io.File(root).listFiles().map(_.getName).toSeq
    assert(dirs === Seq(s"base_$w"), s"stale dirs survive: $dirs")
    // Post-compaction read is a bare scan — no anti-join in the plan.
    val plan = AcidTable.read(spark, root)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Anti"), s"compacted read still merges:\n$plan")
    // Pre-compaction snapshots are gone (Hive cleaner semantics).
    intercept[IllegalArgumentException] {
      AcidTable.read(spark, root, Some(1L)).collect()
    }
  }

  test("compaction retention window keeps time travel alive up to K") {
    // Cleaner-with-retention (Hive's cleaner only removes history no
    // still-valid reader needs): compact(retainWrites = K) keeps
    // snapshots with id >= w-K readable; older ids fail loud.
    val root = freshRoot()
    val n = T.t(spark, sfDir, "nation")
    AcidTable.create(spark, root, n)                          // w1: 25
    AcidTable.insert(spark, root,
      n.limit(3).withColumn("n_nationkey", col("n_nationkey") + 200)) // w2: 28
    AcidTable.insert(spark, root,
      n.limit(2).withColumn("n_nationkey", col("n_nationkey") + 300)) // w3: 30
    AcidTable.delete(spark, root, col("n_nationkey") >= 300)  // w4: 28

    val w5 = AcidTable.compact(spark, root, retainWrites = 2) // retain 3,4
    assert(w5 === 5L)
    // Retained pre-compaction snapshots reconstruct exactly.
    assert(AcidTable.read(spark, root, Some(4L)).count() === 28)
    assert(AcidTable.read(spark, root, Some(3L)).count() === 30)
    assert(AcidTable.read(spark, root).count() === 28)
    // The anchor base (base_1) plus every later delta survived — so
    // snapshot 2, between the anchor and the window, also reconstructs
    // (kept because snapshot 3 needs delta_2; retention never keeps a
    // delta chain with holes).
    assert(AcidTable.read(spark, root, Some(2L)).count() === 28)

    // A later compaction with a narrower window expires the old chain:
    AcidTable.insert(spark, root,
      n.limit(1).withColumn("n_nationkey", col("n_nationkey") + 400)) // w6: 29
    val w7 = AcidTable.compact(spark, root, retainWrites = 1) // retain 6
    assert(w7 === 7L)
    assert(AcidTable.read(spark, root, Some(6L)).count() === 29)
    // base_5 anchors the new window; everything before it is deleted —
    // expired time travel fails loud, not wrong.
    intercept[IllegalArgumentException] {
      AcidTable.read(spark, root, Some(4L)).collect()
    }
    intercept[IllegalArgumentException] {
      AcidTable.read(spark, root, Some(1L)).collect()
    }
    val dirs = new java.io.File(root).listFiles().map(_.getName).sorted.toSeq
    assert(dirs === Seq("base_5", "base_7", "delta_6_insert"),
      s"cleaner kept the wrong set: $dirs")
  }

  test("streaming micro-batch ingest lands as ACID write ids") {
    // HiveStreamingConnection parity (SURVEY §2.9 #1): clients append
    // micro-batches into ACID tables, one transaction per batch. Spark
    // twin: readStream → foreachBatch → AcidTable.insert — each
    // micro-batch commits as its own write id, and the post-ingest
    // table composes with the rest of the lifecycle (delete+compact).
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot()
    AcidTable.create(spark, root,
      T.t(spark, sfDir, "events").filter(lit(false)))  // empty base
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val stageDir = SparkTestBase.tmpDir("graft-acid-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      stageDir.resolve("events.parquet"))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir.toString)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // Same nanos surfacing as T.t, so batch schema == base schema.
        AcidTable.insert(spark, root,
          batch.withColumn("ts_ns", col("ts"))
            .withColumn("ts", timestamp_micros(expr("ts div 1000")))
            .select(T.t(spark, sfDir, "events").columns.map(col): _*))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val n = T.t(spark, sfDir, "events").count()
    assert(AcidTable.read(spark, root).count() === n)
    assert(AcidTable.currentWriteId(spark, root) >= 2L) // ≥1 ingest txn
    // The ingested table supports the full lifecycle.
    AcidTable.delete(spark, root, col("event_type") === "error")
    AcidTable.compact(spark, root)
    val expect = T.t(spark, sfDir, "events")
      .filter(col("event_type") =!= "error").count()
    assert(AcidTable.read(spark, root).count() === expect)
  }

  test("racing writers: commit-time write-id CAS aborts the loser") {
    val root = freshRoot()
    AcidTable.create(spark, root, T.t(spark, sfDir, "nation")) // w1
    // Two writers read the SAME snapshot (currentWriteId=1) and both
    // claim w=2 — with DIFFERENT dir names (insert vs delete), so both
    // renames would "succeed" and the old name-collision check alone
    // would publish a delete derived from a snapshot that never saw the
    // concurrent insert. Stage the interleaving deterministically
    // through the private[graft] commit seam.
    val w = AcidTable.currentWriteId(spark, root) + 1
    assert(w === 2L)
    val extra = T.t(spark, sfDir, "nation")
      .filter(col("n_nationkey") < 3)
      .withColumn("n_nationkey", col("n_nationkey") + 200)
      .withColumn("row__id",
        struct(lit(w).as("write_id"),
          monotonically_increasing_id().as("row_id")))
    // Writer A commits first.
    AcidTable.commit(spark, root, w, s"delta_${w}_insert")("" -> extra)
    // Writer B (same claimed id, different kind) must abort at the CAS.
    val tomb = AcidTable.read(spark, root, Some(1L))
      .filter(col("n_regionkey") === 0).select("row__id")
    val e = intercept[IllegalStateException] {
      AcidTable.commit(spark, root, w, s"delta_${w}_delete")("" -> tomb)
    }
    assert(e.getMessage.contains("commit conflict"))
    // The loser left nothing behind: no tombstones applied, A's insert
    // visible, no .tmp_ residue, and the write id advanced exactly once.
    assert(AcidTable.read(spark, root).count() === 28)
    assert(AcidTable.currentWriteId(spark, root) === 2L)
    val leftovers = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith(".tmp_"))
    assert(leftovers.isEmpty, s"loser left temp dirs: ${leftovers.toSeq}")
    // And a retry from a FRESH snapshot (w=3) succeeds: region 0 holds
    // 5 base nations plus nation 0's inserted copy (regionkey travels
    // with the copy) — 28 - 6 = 22.
    AcidTable.delete(spark, root, col("n_regionkey") === 0)
    assert(AcidTable.currentWriteId(spark, root) === 3L)
    assert(AcidTable.read(spark, root).count() === 22)
  }

  test("tombstone side of merge-on-read is broadcast") {
    val root = freshRoot()
    AcidTable.create(spark, root, T.t(spark, sfDir, "customer"))
    AcidTable.delete(spark, root, col("c_acctbal") < 0)
    val plan = AcidTable.read(spark, root)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("Anti"),
      s"expected broadcast anti-join merge-on-read:\n$plan")
  }

  test("every committed directory records the schema inference reads") {
    val root = freshRoot()
    val n = T.t(spark, sfDir, "nation")
    AcidTable.create(spark, root, n)
    AcidTable.insert(spark, root, n.filter(col("n_nationkey") < 3))
    AcidTable.delete(spark, root, col("n_regionkey") === 0)
    AcidTable.update(spark, root, col("n_nationkey") === 5,
      Map("n_name" -> lit("FIVE")))
    val dirs = Seq("base_1", "delta_2_insert", "delta_3_delete",
      "delta_4_update/insert", "delta_4_update/delete").map(d => s"$root/$d")
    for (d <- dirs) {
      val json = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(d, "_schema.json")), "UTF-8")
      val recorded = org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      // Nullability included: the reader makes a file source's schema
      // nullable, so the writer's record reads as inference does.
      assert(spark.read.schema(recorded).parquet(d).schema ==
        spark.read.parquet(d).schema, d)
    }
  }

  test("a customer table rewritten under a live session derives a new ACID history") {
    val sf001 = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01")
    val dir = java.nio.file.Paths.get(copyOfData(sfDir, "graft-acid-rewrite"))
    val merge = SparkEntry.queries("q_acid_merge_delta")
    def rows(d: String) = merge(spark, d).collect().map(_.toString).toSeq
    try {
      val expected = rows(sf001.toString)
      val first = rows(dir.toString)
      assert(first != expected, "sf0.001 and sf0.01 must differ for this test to mean anything")
      java.nio.file.Files.copy(sf001.resolve("customer.parquet"), dir.resolve("customer.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      assert(rows(dir.toString) == expected,
        "the rewritten customer table must be read, not the old ACID history")
    } finally dropArtifacts(dir.toString)
  }
}
