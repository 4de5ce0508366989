package graft.sources

import graft.operators.Artifact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-backed sorted-CELL store — the infrastructure-free parity
  * slice of Hive's Accumulo storage handler (`[src]`
  * `accumulo-handler/src/java/org/apache/hadoop/hive/accumulo/
  * AccumuloStorageHandler` + `AccumuloPredicateHandler` rowkey-range
  * pushdown + `columns.mapping `:rowID`/`cf:cq``, SURVEY.md §2.1; no
  * Accumulo instance exists in this sandbox). Closes the last §2.1
  * row (VERDICT r10 #4).
  *
  * Accumulo's data model differs from HBase's in two ways this slice
  * reproduces rather than aliasing to [[HBaseKv]]:
  *
  *  - the table is a sorted map of CELLS, key = (row, columnFamily,
  *    columnQualifier, visibility) → value — a logical row is a RUN of
  *    adjacent cell entries, not a wide record; readers reassemble
  *    rows from cell runs (the WholeRowIterator pattern);
  *  - every cell carries a VISIBILITY EXPRESSION (security label); a
  *    scan presents a set of authorizations and a cell is returned
  *    only if its expression is satisfied — `finance` needs the
  *    `finance` auth, `pii&ops` needs BOTH. Column-level security is
  *    per-CELL, enforced in the scan itself, not a view on top.
  *
  * Spark-first mapping: cells live in parquet PARTITIONED BY
  * `__tablet` (directory per tablet = tablet-server assignment under
  * uniform pre-split, the same monotone split math as the HBase
  * slice's regions) and are written (row, cf, cq)-sorted within
  * tablets, so a row-range scan compiles to tablet-directory pruning
  * plus parquet min/max seeks on `__row` (AccumuloKvSpec reads the
  * plan). Visibility is evaluated as a codegen'd `forall` over the
  * '&'-split label conjunction against the scan's auth-set literal —
  * per-cell, inside the scan filter, exactly where Accumulo's
  * VisibilityFilter iterator sits. At 100 TB: tablets are directories,
  * a range scan touches only intersecting tablets, the auth filter is
  * scan-local (no shuffle), and row reassembly is one groupBy(row)
  * whose key is the sort prefix.
  */
object AccumuloKv {

  /** Fixed-width decimal rowkeys: byte-lexicographic == numeric. */
  val keyWidth = 12
  def rowkey(k: Long): String = {
    val s = k.toString
    require(s.length <= keyWidth && k >= 0, s"key out of domain: $k")
    ("0" * (keyWidth - s.length)) + s
  }

  private def metaPath(path: String) =
    java.nio.file.Paths.get(path, "_graft_accumulo_meta.json")

  private def readMeta(path: String): (Int, Long) = {
    val txt = new String(java.nio.file.Files.readAllBytes(metaPath(path)),
      "UTF-8")
    val n = """"nTablets":(\d+)""".r.findFirstMatchIn(txt).get.group(1).toInt
    val mx = """"maxKey":(\d+)""".r.findFirstMatchIn(txt).get.group(1).toLong
    (n, mx)
  }

  /** Tablet of a numeric key under uniform pre-split of [0, maxKey] —
    * monotone, so a row range maps to a contiguous tablet range.
    */
  private def tabletOf(k: Long, nTablets: Int, maxKey: Long): Int =
    math.min(nTablets - 1L,
      math.max(0L, k * nTablets / (maxKey + 1L))).toInt

  /** Cell mapping for the supplier-backed demo table (the
    * `accumulo.columns.mapping` twin `:rowID,f:name,f:nationkey,
    * f:acctbal,f:contact`), with per-cell visibility labels:
    * name/nationkey are `public`, acctbal is `finance`, contact (a
    * derived PII-stand-in token — the test schema has no phone
    * column) is the conjunction `pii&ops` (both auths required).
    * The SQL expression is evaluated against the supplier row.
    */
  private val cellSpec: Seq[(String, String, String)] = Seq(
    ("name", "s_name", "public"),
    ("nationkey", "s_nationkey", "public"),
    ("acctbal", "s_acctbal", "finance"),
    ("contact", "md5(s_name)", "pii&ops"))

  /** Deterministic cell-store build from the supplier table: one CELL
    * ROW per (supplier, mapped column), rowkey = padded s_suppkey.
    * One artifact per supplier content and tablet count.
    */
  def ensureStore(s: SparkSession, dir: String, nTablets: Int = 6): String =
    Artifact.derive(s, "accumulo", dir, "supplier", "_t" + nTablets) { out =>
      val sup = graft.T.t(s, dir, "supplier")
      val maxKey = sup.agg(max(col("s_suppkey"))).head().getLong(0)
      val cells = cellSpec.map { case (cq, src, vis) =>
        sup.select(
          lpad(col("s_suppkey").cast("string"), keyWidth, "0").as("__row"),
          least(lit(nTablets - 1L),
            expr(s"(s_suppkey * $nTablets) div ${maxKey + 1L}"))
            .cast("int").as("__tablet"),
          lit("f").as("__cf"), lit(cq).as("__cq"), lit(vis).as("__vis"),
          // Accumulo values are opaque bytes; Hive's serializer writes
          // the string form. Spark's double→string is the shortest
          // round-trippable repr, so numeric cells parse back exactly.
          expr(src).cast("string").as("__value"))
      }.reduce(_ unionAll _)
      cells
        .repartition(col("__tablet"))
        .sortWithinPartitions("__row", "__cf", "__cq")
        .write
        .partitionBy("__tablet")
        .parquet(out)
      java.nio.file.Files.write(metaPath(out),
        s"""{"nTablets":$nTablets,"maxKey":$maxKey}""".getBytes("UTF-8"))
    }

  /** Range SCAN [startRow, stopRow) with authorizations: driver-side
    * tablet selection (the client's tablet-locator cache), `__row`
    * bounds pushed to parquet min/max, and the per-cell visibility
    * filter — a cell survives iff EVERY label in its '&'-conjunction
    * is held (Accumulo's VisibilityEvaluator for the conjunction
    * subset this store writes). Empty-expression cells would be
    * world-readable; this store labels every cell.
    */
  def scanRange(s: SparkSession, path: String, startRow: String,
      stopRow: String, auths: Set[String]): DataFrame = {
    val (nTablets, maxKey) = readMeta(path)
    val lo = tabletOf(startRow.toLong, nTablets, maxKey)
    // stop-exclusive: the last tablet that can hold a row < stopRow
    val hi = tabletOf(math.max(0L, stopRow.toLong - 1L), nTablets, maxKey)
    val authArr = array(auths.toSeq.sorted.map(lit): _*)
    Artifact.read(s, path)
      .filter(col("__tablet") >= lo && col("__tablet") <= hi)
      .filter(col("__row") >= startRow && col("__row") < stopRow)
      .filter(forall(split(col("__vis"), "&"),
        l => array_contains(authArr, l)))
  }

  /** Point GET: one row's visible cell run. */
  def get(s: SparkSession, path: String, row: String,
      auths: Set[String]): DataFrame =
    scanRange(s, path, row,
      rowkey(row.toLong + 1L), auths)
}
