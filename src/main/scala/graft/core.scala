package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** One named capability: a Spark query plus (optionally) DuckDB oracle SQL
  * the driver hash-compares against. Name and column aliases MUST match
  * between the two (the driver sorts columns by name before hashing).
  */
final case class QueryDef(
    name: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame)

/** A themed group of QueryDefs (joins, aggregates, windows, ...). */
trait QueryPack {
  def defs: Seq[QueryDef]

  /** Oracle-checked query. */
  protected def q(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, Some(oracle), run)
}

/** Table access + numeric helpers shared by all packs. */
object T {
  val star = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one test table. At 100 TB this is the same call against a
    * partitioned table root; Spark's file source handles split planning,
    * partition pruning and filter/column pushdown identically.
    *
    * The parquet schema is memoized per session, the way a Hive
    * metastore holds each table's schema: Spark's footer inference is a
    * Spark job of its own, so without the memo every statement paid one
    * job per table it reads before any of its own work ran. The memo
    * key is the session, the table path, its [[contentTag]] (a listing,
    * no data read — a table regenerated in-process misses) and the
    * session confs that decide how a footer maps to Catalyst types
    * ([[footerConfs]]). Only the schema is kept, never the DataFrame:
    * each call still builds a fresh relation, so self-joins get fresh
    * expression IDs and `df("col")` references resolve against their
    * own read, and the file index lists the files as they are now.
    *
    * `events.ts` has shipped as BOTH parquet INT64 TIMESTAMP(NANOS)
    * (earlier rounds) and TIMESTAMP(MICROS) (current driver generator),
    * so detect from the read schema and surface the SAME two columns
    * either way:
    *   - `ts_ns` BIGINT — exact epoch nanos, oracle twin is DuckDB
    *     `epoch_ns(ts)` (epoch_ns of a µs timestamp is exact)
    *   - `ts` TIMESTAMP — microsecond precision, oracle twin is
    *     `CAST(ts AS TIMESTAMP)` (DuckDB ns→us cast truncates the same
    *     way the nanos branch here does)
    * Nanos files: Spark 4 refuses TIMESTAMP(NANOS) as a timestamp
    * (PARQUET_TYPE_ILLEGAL), so the legacy nanosAsLong conf (set in
    * HiveCompatFunctions.ensure) reads them as raw BIGINT nanos —
    * integer `div` keeps the ns→µs math in long space (epoch nanos
    * ~1.7e18 exceed a double's 2^53 integer range; truncation = floor
    * for the non-negative nanos in the test data).
    */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    HiveCompatFunctions.ensure(s)
    if (name == "events") {
      val raw = parquet(s, dir, "events")
      raw.schema("ts").dataType match {
        case LongType => // TIMESTAMP(NANOS) file read as raw nanos
          raw.withColumn("ts_ns", col("ts"))
            .withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ =>
          // TIMESTAMP(MICROS) file. isAdjustedToUTC=false makes Spark
          // read TIMESTAMP_NTZ; every session here pins
          // spark.sql.session.timeZone=UTC (Bench/Verify/SparkTestBase),
          // so the cast to TIMESTAMP is the identity instant mapping and
          // downstream code keeps the same TimestampType contract the
          // nanos branch always produced.
          val ts = col("ts").cast(TimestampType)
          raw.withColumn("ts", ts)
            .withColumn("ts_ns", unix_micros(ts) * lit(1000L))
      }
    } else parquet(s, dir, name)
  }

  /** True if dir's events.parquet stores ts as INT64 TIMESTAMP(NANOS)
    * (which the nanosAsLong conf surfaces as a raw BIGINT); false for
    * TIMESTAMP(MICROS) files. Callers that read events with an explicit
    * LongType schema (the streaming specs' file source) get the raw
    * int64 either way and use this to pick the µs conversion.
    */
  def eventsTsIsNanos(s: SparkSession, dir: String): Boolean = {
    HiveCompatFunctions.ensure(s)
    parquet(s, dir, "events").schema("ts").dataType == LongType
  }

  /** Session confs that change how a parquet footer maps to Catalyst
    * types; their values are part of the schema memo key. */
  private val footerConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  // Session -> (path, footer conf values) -> (contentTag, schema). Keyed
  // on the session object like HiveCompatFunctions.registered; the
  // WeakHashMap lets dead sessions' memos be collected. A rewritten
  // table replaces its entry, so a session holds one per path and conf
  // combination.
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.concurrent
      .ConcurrentHashMap[(String, Seq[Option[String]]), (String, StructType)]]())

  /** `$dir/$name.parquet` through the session's schema memo (see [[t]]):
    * the first read infers the schema as Spark always does and stores
    * it; later reads pass it to the reader, which skips the footer job. */
  private def parquet(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = (path, footerConfs.map(s.conf.getOption))
    val tag = contentTag(dir, name)
    val memo =
      schemas.computeIfAbsent(s, _ => new java.util.concurrent.ConcurrentHashMap())
    memo.get(key) match {
      case (`tag`, schema) => s.read.schema(schema).parquet(path)
      case _ =>
        val df = s.read.parquet(path)
        memo.put(key, (tag, df.schema))
        df
    }
  }

  /** Exact-decimal cast for money/quantity doubles. Summing doubles is
    * order-dependent (partial aggregation order differs run to run and
    * engine to engine); summing decimals is exact and associative, so the
    * Spark result and the DuckDB oracle agree bit-for-bit after the final
    * cast back to double. Scale 4 keeps 2-decimal money values unambiguous.
    */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Exact decimal sum, surfaced as double (deterministic final cast). */
  def dsum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** Deterministic average: exact decimal sum / count, evaluated in
    * double exactly like the oracle's `CAST(SUM(..) AS DOUBLE)/COUNT(..)`.
    */
  def davg(c: Column): Column = sum(dec(c)).cast(DoubleType) / count(c)

  /** Cross-engine-portable 60-bit hash: identical in Spark
    * (`conv(substr(md5(x),1,15),16,10)`) and DuckDB
    * (`('0x' || substr(md5(x),1,15))::BIGINT`) — 15 hex digits keep it
    * positive and inside BIGINT. Use whenever an ORACLE-CHECKED query
    * needs hash-based blocking/ordering (xxhash64 is Spark-only).
    */
  def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Revenue pattern sum(price*(1-disc)): scale-8 decimal sum, rescaled
    * to 2 decimals (HALF_UP both engines — see q1 notes) before double.
    */
  def drev(p: Column, d: Column): Column =
    sum(dec(p) * (lit(1) - dec(d))).cast("decimal(38,2)").cast(DoubleType)

  /** The one place a statement writes names into the shared session:
    * register each frame as a temp view under a name unique to this
    * call, `v(key)` (any other key gets one too, for a view or SQL
    * variable the body declares), run `body`, then drop every name.
    * `s.sql` analyzes eagerly, so its frame no longer needs them.
    * Catalog names, not plan substitution: `IDENTIFIER(..)` and
    * `EXECUTE IMMEDIATE` resolve names from strings.
    */
  def scoped[A](s: SparkSession, frames: (String, DataFrame)*)(
      body: (String => String) => A): A = {
    val names = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val id = scopeIds.incrementAndGet()
    val v = (key: String) => names.getOrElseUpdate(key, s"graft_${key}_$id")
    try { frames.foreach { case (key, df) => df.createTempView(v(key)) }; body(v) }
    finally names.values.foreach { n => // the session catalog: no uncache
      if (!s.sessionState.catalog.dropTempView(n))
        s.sql(s"DROP TEMPORARY VARIABLE IF EXISTS $n")
    }
  }
  private val scopeIds = new java.util.concurrent.atomic.AtomicLong()

  /** Statement scratch, the one checkpoint operator. An eager
    * MEMORY_AND_DISK_SER local checkpoint outlives the statement that
    * made it; in a long session (the bench harness, a Thrift server)
    * such blocks pile up and evict later statements' working blocks
    * (q_cluster_kmeans: 1.3 s alone, 6.8 s after ~100 statements'
    * scratch). A statement runs on one thread, so that thread is its
    * scope: [[scratch]] records the checkpoint under it, and
    * [[releaseScratch]] drops only what its caller recorded, never
    * another thread's in-flight checkpoints. [[keep]] makes a checkpoint
    * no statement owns, for a session memo (Dedup's pair graph), which
    * hands a superseded one to the current statement with [[own]].
    */
  private val scratchIds =
    ThreadLocal.withInitial(() => scala.collection.mutable.Set.empty[Int])

  def scratch(df: DataFrame): DataFrame = own(keep(df))

  def keep(df: DataFrame): DataFrame =
    df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)

  def own(checkpoint: DataFrame): DataFrame = {
    scratchIds.get += checkpoint.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id
    checkpoint
  }

  /** Drop the checkpoints the calling statement made. BLOCKING: the
    * async form left removal racing the next statement, so on a
    * large-heap JVM (~88 g) tens of GB of dead scratch
    * stayed resident in old gen and G1's concurrent-mark cycles traced
    * it continuously, stealing CPU from the 32 executor threads.
    * Callers sit in untimed gaps, so the synchronous wait is free.
    */
  def releaseScratch(s: SparkSession): Unit = {
    val ids = scratchIds.get
    val live = s.sparkContext.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = true)))
    ids.clear()
  }

  /** Process-scoped scratch dir (session warehouses of the Bench /
    * Verify / Explain mains, q_load_data's metastore), under `parent` or
    * the temp dir, deleted recursively at JVM exit — every harness run
    * otherwise leaks one `graft-wh*` dir (complete with any q_ddl_*
    * table data) into /tmp for the box's lifetime, the r15 hygiene
    * sweep's second-largest debris class after the spec temp dirs.
    */
  def scratchDir(prefix: String, parent: Option[java.nio.file.Path] = None): String = {
    val p = parent.fold(java.nio.file.Files.createTempDirectory(prefix))(
      java.nio.file.Files.createTempDirectory(_, prefix))
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try deleteTree(p) catch { case _: Throwable => () }
    }))
    p.toString
  }

  /** Delete `p` and, if it is a directory, everything under it. */
  def deleteTree(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p)) {
      val st = java.nio.file.Files.list(p)
      try st.forEach(deleteTree(_)) finally st.close()
    }
    java.nio.file.Files.deleteIfExists(p); ()
  }

  /** Content fingerprint of test tables: md5 over the sorted
    * (path, size, mtime) listing of each `$dir/$name.parquet` (file or
    * directory). Setup-once memos (the BPE merge table, `Artifact`'s
    * directories and catalog tables) keyed by data-dir PATH alone
    * silently go stale if the dir's parquet is regenerated in-process;
    * keying on this makes them self-invalidate, and it costs one
    * directory listing per table — no data read.
    */
  def contentTag(dir: String, names: String*): String = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val files: Seq[Path] = names.map(n => Paths.get(dir, s"$n.parquet")).flatMap { root =>
      if (Files.isDirectory(root)) {
        val st = Files.walk(root)
        try st.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        finally st.close() // walk holds a directory fd until closed
      } else if (Files.exists(root)) Seq(root)
      else Seq.empty
    }
    val sig = files.map(_.toString).sorted.map { p =>
      val path = Paths.get(p)
      s"$p:${Files.size(path)}:${Files.getLastModifiedTime(path).toMillis}"
    }.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).take(8)
      .map("%02x".format(_)).mkString
  }

  /** DuckDB-side twins of dec/dsum/davg for oracle SQL strings. */
  def oDec(e: String): String = s"CAST($e AS DECIMAL(18,4))"
  def oSum(e: String): String = s"CAST(SUM(CAST($e AS DECIMAL(18,4))) AS DOUBLE)"
  def oAvg(e: String): String =
    s"(CAST(SUM(CAST($e AS DECIMAL(18,4))) AS DOUBLE) / COUNT($e))"
  def oRev(p: String, d: String): String =
    s"CAST(ROUND(SUM(${oDec(p)} * (1 - ${oDec(d)})), 2) AS DOUBLE)"
}
