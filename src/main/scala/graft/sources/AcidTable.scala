package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.operators.Artifact
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** ACID delta-file table layout with merge-on-read and compaction —
  * Hive's transactional-table mechanics (SURVEY.md §1.1 / §2.1:
  * ql/io/{AcidInputFormat, AcidOutputFormat}.class, delta-file MVCC +
  * background compaction), re-expressed Spark-first on plain parquet.
  *
  * Layout under `root/` (write ids strictly increase; every write lands
  * in a dot-prefixed temp dir and a single atomic rename into the final
  * name IS the commit point — a crashed writer leaves only an invisible
  * `.tmp_*` dir that `writes()` never lists, same protocol as Hive's
  * delta_w directories):
  *   base_<w>/           full snapshot as of write w (parquet)
  *   delta_<w>_insert/   rows added by write w
  *   delta_<w>_delete/   ROW__IDs tombstoned by write w
  *   delta_<w>_update/   insert/ + delete/ subdirs committed by ONE
  *                       rename (update = delete + insert, one write id)
  *
  * Write-id allocation is optimistic (`currentWriteId + 1` at operation
  * start) with a CAS at commit time: the root is re-listed immediately
  * before the rename and the commit ABORTS if any write id >= the
  * claimed one landed meanwhile (see `commit`). A losing concurrent
  * writer therefore throws and must retry from a fresh snapshot — it
  * never silently publishes deltas derived from a stale snapshot. What
  * this file deliberately does NOT re-implement is Hive's metastore txn
  * manager (a distributed lock service): without one, the re-list ->
  * rename window remains, the same residual a catalog-less file-based
  * lakehouse has.
  *
  * Every row carries `row__id` = STRUCT(write_id, row_id) — Hive's
  * ROW__ID(writeId, bucket, rowId) minus the bucket leg (Spark's file
  * source has no bucket identity on read; write_id + a per-write
  * monotonic id is already globally unique). UPDATE = delete + insert
  * in one write id, exactly Hive ACID v2.
  *
  * Merge-on-read = (base ∪ inserts) ANTI JOIN deletes on row__id. The
  * delete side is the small side by construction (tombstones since the
  * last compaction, not data), so it is broadcast — the 100 TB read
  * costs one scan plus a broadcast hash anti join, no shuffle of the
  * data side. When tombstones outgrow broadcast range, that IS the
  * signal to compact (Hive's compactor threshold, same economics).
  * `compact` folds everything into a new base_<w> and drops older dirs
  * (Hive's major compaction + cleaner; history before the new base is
  * gone — same freshness contract). Snapshot reads (`asOf`) replay
  * only deltas with write id ≤ the requested snapshot.
  *
  * At 100 TB the layout extends per-partition (root/part=x/base_w/...)
  * so deletes and compaction touch only affected partitions; the
  * merge-on-read plan is unchanged.
  */
object AcidTable {

  private val RID = "row__id"

  private def fs(s: SparkSession, root: String) =
    new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def withRid(df: DataFrame, w: Long): DataFrame =
    df.withColumn(RID,
      struct(lit(w).as("write_id"),
        monotonically_increasing_id().as("row_id")))

  /** All committed (kind, writeId) dirs, ascending by writeId. Only
    * fully-committed (renamed-into-place) dirs appear; in-flight or
    * crashed `.tmp_*` writes are invisible here by construction.
    */
  private def writes(s: SparkSession, root: String): Seq[(String, Long)] = {
    val f = fs(s, root)
    val p = new Path(root)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName).flatMap {
      case n if n.startsWith("base_") =>
        Some(("base", n.stripPrefix("base_").toLong))
      case n if n.startsWith("delta_") && n.endsWith("_insert") =>
        Some(("insert", n.stripPrefix("delta_").stripSuffix("_insert").toLong))
      case n if n.startsWith("delta_") && n.endsWith("_delete") =>
        Some(("delete", n.stripPrefix("delta_").stripSuffix("_delete").toLong))
      case n if n.startsWith("delta_") && n.endsWith("_update") =>
        Some(("update", n.stripPrefix("delta_").stripSuffix("_update").toLong))
      case _ => None
    }.sortBy(_._2)
  }

  /** Commit protocol: write each part (a subdirectory, "" for the
    * directory itself) and its schema record (`Artifact`'s format) under
    * `root/.tmp_<name>`, then one rename to `root/<name>`. Readers list
    * only final names, so a writer crash before the rename leaves the
    * table untouched.
    *
    * Concurrent-writer conflict detection is a write-id CAS: `w` is the
    * id this commit claims (allocated as currentWriteId+1 when the
    * operation STARTED), and immediately before the rename the root is
    * re-listed — if any commit with id >= w landed meanwhile, this
    * writer aborts and cleans its temp dir. That catches the real
    * anomaly (two writers deriving deltas from the same snapshot: the
    * second's tombstones/updates never saw the first's rows) even when
    * the two dirs have different names and both renames would "succeed".
    * The residual window is re-list -> rename, which is what a
    * file-based lakehouse without a catalog/lock service honestly
    * provides (Hive closes it with the metastore txn manager's locks;
    * pre-catalog Delta/Iceberg have the same residual race on
    * non-atomic-visibility filesystems). Losers must RETRY from a fresh
    * snapshot, not re-rename. private[graft] so AcidSpec can stage the
    * two-writer race deterministically.
    */
  private[graft] def commit(s: SparkSession, root: String, w: Long,
      name: String)(parts: (String, DataFrame)*): Unit = {
    val f = fs(s, root)
    val tmp = new Path(s"$root/.tmp_$name")
    if (f.exists(tmp)) f.delete(tmp, true) // leftover from a crashed writer
    for ((sub, df) <- parts) {
      val dir = if (sub.isEmpty) tmp else new Path(tmp, sub)
      df.write.parquet(dir.toString)
      val out = f.create(new Path(dir, Artifact.record))
      try out.write(df.schema.json.getBytes(UTF_8)) finally out.close()
    }
    val committed = writes(s, root).map(_._2).maxOption.getOrElse(0L)
    if (committed >= w) {
      f.delete(tmp, true)
      throw new IllegalStateException(
        s"ACID commit conflict: write id $w is stale under $root " +
          s"(highest committed id is $committed — a concurrent writer " +
          "landed first); recompute against a fresh snapshot and retry")
    }
    val dst = new Path(s"$root/$name")
    if (f.exists(dst) || !f.rename(tmp, dst))
      throw new IllegalStateException(
        s"ACID commit failed: rename $tmp -> $dst (concurrent " +
          "writer claimed this write id, or the root vanished)")
  }

  /** Highest committed write id (0 = empty table). */
  def currentWriteId(s: SparkSession, root: String): Long =
    writes(s, root).map(_._2).maxOption.getOrElse(0L)

  /** Create the table: `df` becomes base_1. */
  def create(s: SparkSession, root: String, df: DataFrame): Unit =
    commit(s, root, 1L, "base_1")("" -> withRid(df, 1L))

  /** Data directories read with the first one's `commit` record: no inference job. */
  private def readDirs(s: SparkSession, dirs: String*): DataFrame = {
    val in = fs(s, dirs.head).open(new Path(dirs.head, Artifact.record))
    val json = try new String(in.readAllBytes(), UTF_8) finally in.close()
    s.read.schema(DataType.fromJson(json).asInstanceOf[StructType]).parquet(dirs: _*)
  }

  /** Snapshot read. `asOf` = write id (None = latest). Returns data
    * columns + `row__id`.
    */
  def read(s: SparkSession, root: String,
      asOf: Option[Long] = None): DataFrame = {
    val all = writes(s, root)
    require(all.nonEmpty, s"no ACID table at $root")
    val snap = asOf.getOrElse(all.map(_._2).max)
    val visible = all.filter(_._2 <= snap)
    require(visible.exists(_._1 == "base"),
      s"no snapshot at write id $snap under $root " +
        "(compaction discarded older history)")
    val baseW = visible.filter(_._1 == "base").map(_._2).max
    val base = readDirs(s, s"$root/base_$baseW")
    val rows = visible.collect {
      case ("insert", w) if w > baseW =>
        readDirs(s, s"$root/delta_${w}_insert")
      case ("update", w) if w > baseW =>
        readDirs(s, s"$root/delta_${w}_update/insert")
    }.foldLeft(base)(_ unionByName _)
    val delDirs = visible.collect {
      case ("delete", w) if w > baseW => s"$root/delta_${w}_delete"
      case ("update", w) if w > baseW => s"$root/delta_${w}_update/delete"
    }
    if (delDirs.isEmpty) rows
    else rows.join(broadcast(readDirs(s, delDirs: _*)), Seq(RID),
      "left_anti")
  }

  /** Append rows as a new write. Returns the write id. */
  def insert(s: SparkSession, root: String, df: DataFrame): Long = {
    val w = currentWriteId(s, root) + 1
    commit(s, root, w, s"delta_${w}_insert")("" -> withRid(df, w))
    w
  }

  /** Tombstone every current row matching `pred`. Returns the write id. */
  def delete(s: SparkSession, root: String, pred: Column): Long = {
    val w = currentWriteId(s, root) + 1
    val tomb = read(s, root).filter(pred).select(RID)
    commit(s, root, w, s"delta_${w}_delete")("" -> tomb)
    w
  }

  /** UPDATE = delete + re-insert with `set` applied, ONE write id (Hive
    * ACID v2's update path). Both legs land under one delta_<w>_update
    * dir so the write commits with a single rename — no window where a
    * reader sees the tombstones without the re-inserted rows (or vice
    * versa). Returns the write id.
    */
  def update(s: SparkSession, root: String, pred: Column,
      set: Map[String, Column]): Long = {
    val w = currentWriteId(s, root) + 1
    val hit = read(s, root).filter(pred).cache()
    try {
      val updated = set.foldLeft(hit.drop(RID)) { case (d, (c, e)) =>
        d.withColumn(c, e) }
      commit(s, root, w, s"delta_${w}_update")(
        "delete" -> hit.select(RID), "insert" -> withRid(updated, w))
    } finally hit.unpersist()
    w
  }

  /** Major compaction with a snapshot-retention window (Hive's
    * compactor + cleaner-with-retention: the cleaner only removes files
    * no still-valid reader can need). `retainWrites = K` keeps time
    * travel alive for the last K pre-compaction write ids — snapshots
    * with id >= w-K stay readable after compacting at id w; K = 0 (the
    * default) is the eager cleaner (all pre-compaction history gone).
    *
    * What retention must keep is determined by how `read` reconstructs
    * a snapshot v: the newest base <= v plus every delta in (base, v].
    * So for the window [w-K, w-1] the cleaner keeps the newest base
    * <= w-K (the anchor) and EVERY dir after it — deltas between the
    * anchor and the oldest retained snapshot are themselves required.
    * Everything strictly older than the anchor is subsumed by it for
    * all retained snapshots and is deleted. Reads of expired ids fail
    * loud in `read` (no base <= v remains). If no base is old enough
    * to anchor the full window (the table was compacted recently), the
    * oldest surviving base anchors it — the window clamps rather than
    * over-deletes.
    */
  def compact(s: SparkSession, root: String, retainWrites: Int = 0): Long = {
    val w = currentWriteId(s, root) + 1
    // Keep existing row__ids (stable identity across compaction). The
    // snapshot must be materialized BEFORE the commit rename: the plan
    // reads the very dirs the cleaner below deletes.
    val snap = read(s, root)
    commit(s, root, w, s"base_$w")("" -> snap)
    val f = fs(s, root)
    val pre = writes(s, root).filter(_._2 < w)
    val anchor: Option[Long] =
      if (retainWrites <= 0) None
      else {
        val baseIds = pre.filter(_._1 == "base").map(_._2)
        val minRetained = w - retainWrites
        Some(baseIds.filter(_ <= minRetained).maxOption
          .getOrElse(baseIds.min))
      }
    pre.filterNot(d => anchor.exists(a => d._2 >= a)).foreach {
      case ("base", i) => f.delete(new Path(s"$root/base_$i"), true)
      case ("insert", i) => f.delete(new Path(s"$root/delta_${i}_insert"), true)
      case ("delete", i) => f.delete(new Path(s"$root/delta_${i}_delete"), true)
      case ("update", i) => f.delete(new Path(s"$root/delta_${i}_update"), true)
    }
    w
  }
}
