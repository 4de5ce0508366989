package graft.sources

import graft.operators.Artifact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-backed "KV table over sorted regions" — the infrastructure-free
  * parity slice of Hive's HBase storage handler (hbase-handler:
  * HBaseStorageHandler + HBaseSerDe + the rowkey-predicate pushdown of
  * HiveHBaseTableInputFormat, SURVEY.md §2.1; no HBase cluster exists
  * in this sandbox). The handler's data model, reproduced exactly:
  *
  *  - a table is a byte-lexicographically SORTED map rowkey → cells,
  *    horizontally sharded into REGIONS, each region owning a
  *    contiguous rowkey range (split points fixed at pre-split time);
  *  - `hbase.columns.mapping` binds `:key` to the rowkey and `cf:col`
  *    entries to typed columns — the scan surfaces plain columns;
  *  - rowkey predicates (point GET, [startRow, stopRow) SCAN — stop
  *    exclusive, the HBase convention) are DECOMPOSED out of the
  *    residual filter and become region selection + in-region seeks,
  *    never a full-table scan.
  *
  * Spark-first mapping: the store is parquet PARTITIONED BY `__region`
  * (directory per region = region server assignment) and written
  * rowkey-sorted within regions, so a rowkey range becomes partition-
  * directory pruning (the region selection) plus parquet row-group
  * min/max skipping on `__row_key` (the in-region seek) — verified by
  * HBaseKvSpec reading the scan's PartitionFilters/PushedFilters. The
  * region math itself is the driver-side hbase:meta lookup: split
  * points are a pure function of the build-time key domain, persisted
  * in a tiny meta file next to the data. At 100 TB the shape holds:
  * regions are directories, a range scan touches only the directories
  * whose [start, stop) intersects it, and the meta lookup stays O(1)
  * driver work exactly like a client's region-locator cache.
  */
object HBaseKv {

  /** Rowkeys are zero-padded decimal strings: byte-lexicographic order
    * == numeric order, the standard fixed-width HBase key design.
    */
  val keyWidth = 12
  def rowkey(k: Long): String = {
    val s = k.toString
    require(s.length <= keyWidth && k >= 0, s"key out of domain: $k")
    ("0" * (keyWidth - s.length)) + s
  }

  private def metaPath(path: String) =
    java.nio.file.Paths.get(path, "_graft_hbase_meta.json")

  private def readMeta(path: String): (Int, Long) = {
    val txt = new String(java.nio.file.Files.readAllBytes(metaPath(path)),
      "UTF-8")
    val n = """"nRegions":(\d+)""".r.findFirstMatchIn(txt).get.group(1).toInt
    val mx = """"maxKey":(\d+)""".r.findFirstMatchIn(txt).get.group(1).toLong
    (n, mx)
  }

  /** Region of a numeric key under uniform pre-split of [0, maxKey]:
    * floor(k * nRegions / (maxKey + 1)), clamped — monotone in the
    * rowkey, so a rowkey range maps to a contiguous region range.
    */
  private def regionOf(k: Long, nRegions: Int, maxKey: Long): Int =
    math.min(nRegions - 1L,
      math.max(0L, k * nRegions / (maxKey + 1L))).toInt

  /** Deterministic store build from the customer table — the
    * `hbase.columns.mapping` twin `:key,cf:name,cf:mktsegment,
    * cf:acctbal,cf:nationkey` with rowkey = padded c_custkey. One
    * artifact per customer content and region count.
    */
  def ensureStore(s: SparkSession, dir: String, nRegions: Int = 8): String =
    Artifact.derive(s, "hbase", dir, "customer", "_r" + nRegions) { out =>
      val c = graft.T.t(s, dir, "customer")
      val maxKey = c.agg(max(col("c_custkey"))).head().getLong(0)
      c.select(
          lpad(col("c_custkey").cast("string"), keyWidth, "0")
            .as("__row_key"),
          // Integer `div`, not `/` (Column./ is double division —
          // float rounding at a split point would misplace a row).
          least(lit(nRegions - 1L),
            expr(s"(c_custkey * $nRegions) div ${maxKey + 1L}"))
            .cast("int").as("__region"),
          col("c_name").as("name"),
          col("c_mktsegment").as("mktsegment"),
          col("c_acctbal").as("acctbal"),
          col("c_nationkey").as("nationkey"))
        .repartition(col("__region"))
        .sortWithinPartitions("__row_key")
        .write
        .partitionBy("__region")
        .parquet(out)
      java.nio.file.Files.write(metaPath(out),
        s"""{"nRegions":$nRegions,"maxKey":$maxKey}"""
          .getBytes("UTF-8"))
    }

  /** Range SCAN: [startRow, stopRow), stop exclusive (the HBase Scan
    * convention). The driver-side meta lookup selects the contiguous
    * region range; the rowkey bounds push to parquet min/max. Padded
    * numeric rowkeys only (this store's key design).
    */
  def scanRange(s: SparkSession, path: String,
      startRow: String, stopRow: String): DataFrame = {
    val (nRegions, maxKey) = readMeta(path)
    val kv = Artifact.read(s, path)
    val lo = startRow.toLong
    val hi = stopRow.toLong - 1L // last key a stop-EXCLUSIVE scan can hit
    if (hi < lo) return kv.filter(lit(false))
    val rLo = regionOf(lo, nRegions, maxKey)
    val rHi = regionOf(math.min(hi, maxKey), nRegions, maxKey)
    kv.filter(col("__region").between(rLo, rHi) &&
      col("__row_key") >= startRow && col("__row_key") < stopRow)
  }

  /** Point GET: one region + one exact key — the client get(rowkey). */
  def get(s: SparkSession, path: String, key: Long): DataFrame = {
    val (nRegions, maxKey) = readMeta(path)
    val kv = Artifact.read(s, path)
    if (key > maxKey) return kv.filter(lit(false))
    kv.filter(col("__region") === regionOf(key, nRegions, maxKey) &&
      col("__row_key") === rowkey(key))
  }

  /** Multi-GET: the client's batched get(List<Get>) — one scan with
    * region set + IN-list pushdown, not one job per key.
    */
  def multiGet(s: SparkSession, path: String, keys: Seq[Long]): DataFrame = {
    val (nRegions, maxKey) = readMeta(path)
    val kv = Artifact.read(s, path)
    val ks = keys.filter(_ <= maxKey)
    if (ks.isEmpty) return kv.filter(lit(false))
    val regions = ks.map(regionOf(_, nRegions, maxKey)).distinct.sorted
    kv.filter(col("__region").isin(regions.map(Int.box): _*) &&
      col("__row_key").isin(ks.map(rowkey): _*))
  }
}
