package graft.queries

import graft._
import graft.T._
import graft.operators.Artifact
import graft.sources.LegacyDecode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink surface (SURVEY.md §2.1): text/CSV/JSON serde families
  * (LazySimpleSerDe, OpenCSVSerde, JsonSerDe), ORC read/write with
  * predicate pushdown, partitioned writes with dynamic partitions
  * (FileSinkOperator), and RegexSerDe-style line parsing.
  *
  * Each round-trip WRITES a derived dataset (to the JVM temp dir, keyed
  * by the sf dir so scale factors don't collide), READS it back through
  * the target format, and aggregates — the oracle computes the same
  * aggregate straight from the source parquet, proving the format
  * round-trip is lossless for the covered types.
  *
  * Scale notes (100 TB): all writes re-partition to a bounded file count
  * (no 32-way shard of a 25-row dim, no single-file TB write);
  * partitioned reads prove partition PRUNING (the status filter never
  * scans other partitions' files — Hive's PartitionPruner, free in
  * Spark's file source). Avro rides the avro-core jar directly (no
  * spark-avro connector on this classpath) via [[graft.AvroIO]] — see
  * q_src_avro below.
  */
object Sources extends QueryPack {

  private def tmp(dir: String, name: String): String =
    System.getProperty("java.io.tmpdir") + "/graft_src_" + Artifact.dirTag(dir) + "_" + name

  /** Schema of a directory `df` was written to with `partitionBy(part)`:
    * the data columns, then the partition column as the string partition
    * discovery reads from its `part=value` directory names. Reading the
    * directory back with it starts no footer-inference job. */
  private def partitionedSchema(df: DataFrame, part: String): StructType =
    StructType(df.schema.filterNot(_.name == part) :+
      StructField(part, StringType))

  /** One Hive-catalog-backed session per JVM for the LOAD DATA entry
    * point (q_load_data): `LOAD DATA` is a metastore operation — Spark
    * only accepts it against `spark.sql.catalogImplementation=hive`
    * tables, and that's a STATIC conf, so the flow needs its own
    * session (same SparkContext, own SharedState + embedded-Derby
    * metastore — the HiveCatalogSpec pattern). Built once and reused
    * across bench iterations; default/active session are restored so
    * the surrounding Verify/Bench session is untouched.
    */
  private object LoadCatalog {
    @volatile private var hs: org.apache.spark.sql.SparkSession = _
    def session(s: org.apache.spark.sql.SparkSession)
        : org.apache.spark.sql.SparkSession = synchronized {
      if (hs == null) {
        val B = org.apache.spark.sql.SparkSession
        // r15 (bench stability, VERDICT r14 #8): the scratch metastore
        // lives on tmpfs when available and Derby runs with
        // durability=test (no per-DDL fsync). q_load_data's cost is
        // catalog DDL — 10 Derby transactions per run, each fsyncing
        // the Derby txn log on the data disk made it the registry's
        // most expensive AND most environment-sensitive entry (driver
        // 4.3 s vs frozen 2.1 s, a pure FS-state artifact). A
        // throwaway per-JVM metastore needs no durability; LOAD
        // semantics and results are unchanged (same HMS code path).
        val base = java.nio.file.Paths.get(T.scratchDir("graft-load-cat",
          Some(java.nio.file.Paths.get("/dev/shm")).filter(java.nio.file.Files.isWritable)))
        // JVM-GLOBAL and permanent (ADVICE r15): every Derby database
        // this process opens afterwards also loses log-fsync
        // durability. Acceptable because all Derby use in this harness
        // is throwaway-by-design (per-JVM scratch metastores, exit-
        // deleted); a future PERSISTENT catalog in the same JVM must
        // scope or clear this property around its creation.
        System.setProperty("derby.system.durability", "test")
        System.setProperty("derby.stream.error.file",
          base.resolve("derby.log").toString)
        B.clearDefaultSession()
        B.clearActiveSession()
        hs = try B.builder()
          .master(s.sparkContext.master)
          .config("spark.sql.catalogImplementation", "hive")
          .config("spark.sql.warehouse.dir", s"$base/warehouse")
          .config("javax.jdo.option.ConnectionURL",
            s"jdbc:derby:;databaseName=$base/metastore_db;create=true")
          // scope Hive's session resources dir under the shutdown-
          // cleaned base (default leaves /tmp/<uuid>_resources behind)
          .config("hive.downloaded.resources.dir",
            s"$base/resources/$${hive.session.id}")
          .config("spark.sql.session.timeZone", "UTC")
          .getOrCreate()
        finally {
          B.setDefaultSession(s)
          B.setActiveSession(s)
        }
      }
      hs
    }
  }

  def defs: Seq[QueryDef] = Seq(

    // CSV round-trip (OpenCSVSerde / LazySimpleSerDe): write nation as
    // headered CSV, read back with an explicit schema (schema-on-read),
    // aggregate. Types: bigint + string survive; csv is header+quote
    // aware both directions.
    q("q_src_csv",
      """SELECT n_regionkey, COUNT(*) AS cnt,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
        |  MIN(n_name) AS first_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin) { (s, dir) =>
      val p = tmp(dir, "csv")
      t(s, dir, "nation").coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(p)
      val schema = StructType(Seq(
        StructField("n_nationkey", LongType), StructField("n_name", StringType),
        StructField("n_regionkey", LongType)))
      s.read.schema(schema).option("header", "true").csv(p)
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_nationkey")).as("key_sum"),
          min(col("n_name")).as("first_name"))
        .orderBy("n_regionkey")
    },

    // MALFORMED-RECORD handling (the serde error-tolerance surface:
    // Hive's ignore.malformed + error tables): nation rows rendered as
    // raw CSV text with every 5th key deterministically corrupted
    // (non-numeric suffix), read back PERMISSIVE with an explicit
    // corrupt-record column — bad lines land whole in `_bad` with
    // typed fields null, good lines parse normally, and NOTHING is
    // silently dropped. The oracle reconstructs both populations from
    // the clean table, including a hash checksum of the exact corrupt
    // raw lines — proving the quarantined bytes, not just their count.
    // One pass, no shuffle (global agg); at 100 TB the same read feeds
    // a good-rows sink and a `_bad IS NOT NULL` quarantine sink.
    q("q_src_csv_badrecords",
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN n_nationkey % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_good,
        |  CAST(SUM(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_corrupt,
        |  CAST(SUM(CASE WHEN n_nationkey % 5 <> 0 THEN n_nationkey END) AS BIGINT)
        |    AS key_sum_good,
        |  CAST(SUM(CASE WHEN n_nationkey % 5 = 0 THEN
        |      ('0x' || substr(md5(n_nationkey::VARCHAR || 'x,' || n_name || ','
        |        || n_regionkey::VARCHAR), 1, 15))::BIGINT % 1000000007
        |    END) AS BIGINT) AS corrupt_checksum
        |FROM nation""".stripMargin) { (s, dir) =>
      val p = tmp(dir, "csvbad")
      t(s, dir, "nation")
        .select(concat_ws(",",
          when(col("n_nationkey") % 5 === 0,
            concat(col("n_nationkey").cast("string"), lit("x")))
            .otherwise(col("n_nationkey").cast("string")),
          col("n_name"), col("n_regionkey").cast("string")).as("value"))
        .coalesce(1).write.mode("overwrite").text(p)
      val schema = StructType(Seq(
        StructField("n_nationkey", LongType), StructField("n_name", StringType),
        StructField("n_regionkey", LongType), StructField("_bad", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(p)
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("_bad").isNull, 1).otherwise(0)).cast("long")
            .as("n_good"),
          sum(when(col("_bad").isNotNull, 1).otherwise(0)).cast("long")
            .as("n_corrupt"),
          // Only verified-good rows contribute — don't rely on
          // PERMISSIVE nulling the failed field on corrupt rows.
          sum(when(col("_bad").isNull, col("n_nationkey"))).cast("long")
            .as("key_sum_good"),
          sum(h60(col("_bad")) % 1000000007L).cast("long")
            .as("corrupt_checksum"))
    },

    // JSON-lines round-trip (JsonSerDe): nested struct column written to
    // json, read back (schema inference), struct field extracted.
    q("q_src_json",
      """SELECT event_type, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_id < 2000
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val p = tmp(dir, "json")
      t(s, dir, "events").filter(col("event_id") < 2000)
        .select(col("event_id"), col("event_type"),
          struct(col("value").as("v"), col("user_id").as("u")).as("payload"))
        .coalesce(4)
        .write.mode("overwrite").json(p)
      s.read.json(p)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          dsum(col("payload.v")).as("sum_value"))
        .orderBy("event_type")
    },

    // ORC round-trip with predicate + column pushdown (Hive's
    // SearchArgument sarg): the read filter reaches the ORC reader
    // (min/max stripe skipping), the projection prunes columns.
    q("q_src_orc",
      """SELECT l_returnflag, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey < 1000 AND l_quantity > 10
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val p = tmp(dir, "orc")
      t(s, dir, "lineitem").filter(col("l_orderkey") < 1000)
        .select("l_orderkey", "l_returnflag", "l_quantity")
        .coalesce(4)
        .write.mode("overwrite").orc(p)
      s.read.orc(p)
        .filter(col("l_quantity") > 10)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")
    },

    // Text + regex parsing (RegexSerDe): pipe-delimited lines written as
    // raw text, re-parsed with regexp_extract on read.
    q("q_src_text_regex",
      """SELECT CAST(r_regionkey AS VARCHAR) AS k, upper(r_name) AS name
        |FROM region ORDER BY k""".stripMargin) { (s, dir) =>
      val p = tmp(dir, "text")
      t(s, dir, "region")
        .select(concat(col("r_regionkey"), lit("|"), col("r_name"))
          .as("value"))
        .coalesce(1)
        .write.mode("overwrite").text(p)
      s.read.text(p)
        .select(
          regexp_extract(col("value"), "^([0-9]+)\\|(.*)$", 1).as("k"),
          upper(regexp_extract(col("value"), "^([0-9]+)\\|(.*)$", 2))
            .as("name"))
        .orderBy("k")
    },

    // Avro round-trip (SURVEY §2.1: AvroSerDe) via [[AvroIO]] — the
    // Hadoop AvroKey formats bridged at the RDD layer, since the
    // spark-avro connector jar is absent from this classpath.
    q("q_src_avro",
      """SELECT n_regionkey, COUNT(*) AS cnt,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
        |  MAX(n_name) AS last_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin) { (s, dir) =>
      val p = tmp(dir, "avro")
      val src = t(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      // Hadoop output formats refuse to overwrite: fresh subdir per run
      // would leak, so delete-then-write (idempotent, JVM temp dir).
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
      AvroIO.write(src, p)
      AvroIO.read(s, p, src.schema)
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_nationkey")).as("key_sum"),
          max(col("n_name")).as("last_name"))
        .orderBy("n_regionkey")
    },

    // SequenceFile round-trip (SURVEY §2.1 legacy row: SequenceFile +
    // LazySimpleSerDe — Hive's default pre-columnar container). Bridged
    // at the RDD layer like Avro: rows serialize to the classic
    // (LongWritable key, Text ctrl-A-delimited value) shape, read back
    // via sc.sequenceFile + a schema-on-read split. Kept off the perf
    // path deliberately: this is a compatibility ingress for legacy data
    // — at 100 TB the first job is converting it to parquet, exactly as
    // here (read → DataFrame → columnar ops downstream).
    q("q_src_sequencefile",
      """SELECT n_regionkey, COUNT(*) AS cnt,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
        |  MIN(n_name) AS first_name
        |FROM nation WHERE n_nationkey % 2 = 0
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin) { (s, dir) =>
      import org.apache.hadoop.io.{LongWritable, Text}
      val p = tmp(dir, "seqfile")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
      t(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"),
          col("n_regionkey").cast("long"))
        .rdd.map { r =>
          (new LongWritable(r.getLong(0)),
            new Text(s"${r.getLong(0)}\u0001${r.getString(1)}\u0001${r.getLong(2)}"))
        }
        .coalesce(2)
        .saveAsSequenceFile(p)
      // Quarantine-safe decode (LegacyDecode.readSeqDelimited): on this
      // self-written store every field parses, so the result is
      // unchanged — but a corrupt record in a real legacy file decodes
      // to null fields instead of an ANSI cast throw killing the task
      // (LegacyBridgeFuzzSpec proves the contract).
      LegacyDecode.readSeqDelimited(s, p, StructType(Seq(
          StructField("n_nationkey", LongType),
          StructField("n_name", StringType),
          StructField("n_regionkey", LongType))))
        .filter(col("n_nationkey") % 2 === 0)
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_nationkey")).as("key_sum"),
          min(col("n_name")).as("first_name"))
        .orderBy("n_regionkey")
    },

    // RCFile round-trip (SURVEY §2.1 row "RCFile", previously skipped as
    // legacy): Hive's first columnar container (row-groups of
    // column-chunks; Facebook/ICDE'11) bridged at the RDD layer with the
    // hive-exec/serde classes Spark already ships. Write nation as a
    // 4-column text-encoded RCFile via RCFileOutputFormat, read it back
    // through RCFileInputFormat with ColumnProjectionUtils READ PRUNING:
    // only columns 0-2 are requested, so the wide filler column's
    // chunks are skipped inside each row-group — the columnar skip that
    // motivated the format (the same knob Hive's ColumnPruner sets).
    // Compatibility ingress only: at 100 TB the first job converts
    // RCFile to parquet, exactly as here (read → DataFrame → columnar
    // ops downstream).
    q("q_src_rcfile",
      """SELECT n_regionkey, COUNT(*) AS cnt,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
        |  MIN(n_name) AS first_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin) { (s, dir) =>
      import org.apache.hadoop.hive.ql.io.RCFileOutputFormat
      import org.apache.hadoop.hive.serde2.columnar.{BytesRefArrayWritable, BytesRefWritable}
      import java.nio.charset.StandardCharsets.UTF_8
      val p = tmp(dir, "rcfile")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
      // Write side: one RCFile.Writer per partition (the mapred
      // OutputFormat wants the MR task commit protocol's work dir, which
      // Spark's saveAsHadoopFile doesn't provide — so this bridge opens
      // the writer directly, like the Avro one).
      t(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"),
          col("n_regionkey").cast("long"),
          // Wide filler column that the read side prunes.
          repeat(concat(col("n_name"), lit(" ")), 20).as("n_filler"))
        .rdd.coalesce(2).mapPartitionsWithIndex { (idx, it) =>
          val conf = new org.apache.hadoop.conf.Configuration()
          RCFileOutputFormat.setColumnNumber(conf, 4)
          val pfs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
          val w = new org.apache.hadoop.hive.ql.io.RCFile.Writer(pfs, conf,
            new org.apache.hadoop.fs.Path(p, f"part-$idx%05d.rc"))
          var n = 0L
          it.foreach { r =>
            val cols = Array(r.getLong(0).toString, r.getString(1),
              r.getLong(2).toString, r.getString(3))
            val v = new BytesRefArrayWritable(4)
            var i = 0
            while (i < 4) {
              val b = cols(i).getBytes(UTF_8)
              v.set(i, new BytesRefWritable(b, 0, b.length))
              i += 1
            }
            w.append(v)
            n += 1
          }
          w.close()
          Iterator.single(n)
        }.count()
      // Quarantine-safe projected read (LegacyDecode.readRcProjected):
      // columns 0-2 requested, the filler's chunks skipped per
      // row-group; field decode is copy-out-then-parse with
      // quarantine-by-null (a garbage numeric or short-arity record in
      // a real legacy file nulls its fields — LegacyBridgeFuzzSpec).
      LegacyDecode.readRcProjected(s, p, StructType(Seq(
          StructField("n_nationkey", LongType),
          StructField("n_name", StringType),
          StructField("n_regionkey", LongType))), Seq(0, 1, 2))
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("cnt"), sum(col("n_nationkey")).as("key_sum"),
          min(col("n_name")).as("first_name"))
        .orderBy("n_regionkey")
    },

    // JDBC external handler (SURVEY §2.1: jdbc-handler) against embedded
    // Derby: write nation over JDBC, read it back with predicate
    // pushdown (the filter ships to the database as SQL — check
    // PushedFilters in the JDBCScan), aggregate. At 100 TB the same
    // read call adds partitionColumn/numPartitions for parallel pulls.
    q("q_src_jdbc",
      """SELECT n_regionkey, COUNT(*) AS cnt, MIN(n_name) AS first_name
        |FROM nation WHERE n_nationkey >= 5
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin) { (s, dir) =>
      val url = "jdbc:derby:" + tmp(dir, "jdbcdb") + ";create=true"
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      t(s, dir, "nation")
        .write.mode("overwrite").jdbc(url, "NATION_JDBC", props)
      s.read.jdbc(url, "NATION_JDBC", props)
        .filter(col("n_nationkey") >= 5)
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("cnt"), min(col("n_name")).as("first_name"))
        .orderBy("n_regionkey")
    },

    // Partitioned write + partition-pruned read (FileSinkOperator with
    // dynamic partitions + PartitionPruner): one directory per
    // o_orderstatus; the status filter on read scans ONLY that
    // partition's files.
    // SCHEMA EVOLUTION on read: two parquet batches written with
    // DIFFERENT schemas (the second adds n_chars — the drift every
    // long-lived table accumulates), unified by mergeSchema with NULL
    // backfill for the pre-drift rows. At 100 TB mergeSchema footer
    // reconciliation is a bounded metadata pass; pin the final schema
    // with a read-time schema once drift stabilizes.
    q("q_src_schema_evolution",
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(COALESCE(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars END), 0)
        |    AS BIGINT) AS chars_sum
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val p = tmp(dir, "evolve")
      val docs = t(s, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "lang")
        .write.mode("overwrite").parquet(p)
      docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "lang", "n_chars")
        .write.mode("append").parquet(p)
      s.read.option("mergeSchema", "true").parquet(p)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum("n_chars"), lit(0)).cast("long").as("chars_sum"))
        .orderBy("lang")
    },

    // EXPORT / IMPORT round-trip (ExportSemanticAnalyzer /
    // ImportSemanticAnalyzer — the reference's table-replication
    // bundle): customer is EXPORTed partitioned by market segment into
    // a self-describing bundle (_metadata.json schema + partition
    // layout), IMPORTed back purely from the bundle (stored schema, no
    // inference scan), and the imported table answers a segment query
    // WITH partition pruning (two segments read, three untouched —
    // ExportImportSpec asserts the PartitionFilters). The oracle runs
    // the same aggregate on the original table: a lossless round-trip
    // is the only way the hashes can match.
    q("q_export_import",
      """SELECT c_mktsegment, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal_sum,
        |  CAST(MIN(c_custkey) AS BIGINT) AS min_key
        |FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      val bundle = tmp(dir, "export")
      graft.sources.ExportImport.exportTable(
        t(s, dir, "customer"), bundle, Seq("c_mktsegment"))
      graft.sources.ExportImport.importTable(s, bundle)
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"),
          sum(dec(col("c_acctbal"))).cast("double").as("bal_sum"),
          min(col("c_custkey")).cast("long").as("min_key"))
        .orderBy("c_mktsegment")
    },

    // LOAD DATA entry point (`[jar]` ql/parse/LoadSemanticAnalyzer):
    // the classic file-ingest path — pipe-delimited text staged from
    // real nation rows, CREATE TABLE ... STORED AS TEXTFILE, then the
    // three Hive load shapes against a real Hive-metastore catalog:
    // two appending loads (LOAD DATA is a file move/copy into the
    // table location — NO rewrite, NO scan), a partition-scoped load
    // (rows land in the named partition), and OVERWRITE of one
    // partition (replaces only that partition's files). After each
    // shape the table is summarized by the q_table_checksum kernel
    // (count + bit_xor + mod-sum over h60 of the row text, partition
    // value included so WHERE the rows landed is hashed, not just
    // which); the oracle reconstructs each post-state from nation
    // directly — a hash match proves load placement end to end. The
    // three signature rows are collected (3 × 4 values, model-sized by
    // construction) because each LOAD mutates the table the previous
    // signature read. 100 TB: LOAD DATA cost is O(files moved),
    // independent of table size — that is the operator's whole point.
    q("q_load_data",
      """WITH n AS (SELECT n_nationkey AS k, n_name AS nm,
        |             n_regionkey AS rk FROM nation),
        |append_rows AS (SELECT k, nm FROM n WHERE rk <= 3),
        |scoped_rows AS (
        |  SELECT k, nm, 'a' AS grp FROM n WHERE rk = 4
        |  UNION ALL
        |  SELECT k, nm, 'b' AS grp FROM n WHERE k < 5),
        |over_rows AS (
        |  SELECT k, nm, 'a' AS grp FROM n WHERE rk = 4 AND k % 2 = 0
        |  UNION ALL
        |  SELECT k, nm, 'b' AS grp FROM n WHERE k < 5),
        |sig AS (
        |  SELECT 'append' AS step,
        |    ('0x' || substr(md5(k::VARCHAR || '|' || nm), 1, 15))::BIGINT AS h
        |  FROM append_rows
        |  UNION ALL
        |  SELECT 'scoped',
        |    ('0x' || substr(md5(k::VARCHAR || '|' || nm || '|' || grp),
        |      1, 15))::BIGINT
        |  FROM scoped_rows
        |  UNION ALL
        |  SELECT 'overwrite',
        |    ('0x' || substr(md5(k::VARCHAR || '|' || nm || '|' || grp),
        |      1, 15))::BIGINT
        |  FROM over_rows)
        |SELECT step, COUNT(*) AS n_rows, BIT_XOR(h) AS xor_sig,
        |  CAST(SUM(h % 1000000007) AS BIGINT) AS mod_sum
        |FROM sig GROUP BY step ORDER BY step""".stripMargin) { (s, dir) =>
      val hs = LoadCatalog.session(s)
      // Stage pipe-delimited text from the real nation rows (25 — a
      // fixed-size dimension at every SF; the collect is the staging
      // step itself, not a data-plane shortcut).
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey").cast("int"), col("n_name"),
          col("n_regionkey").cast("int"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
        .sortBy(_._1)
      val stage = java.nio.file.Files.createTempDirectory("graft-load-stage")
      def write(name: String, rows: Seq[(Int, String, Int)]): String = {
        val f = stage.resolve(name)
        java.nio.file.Files.writeString(f,
          rows.map(r => s"${r._1}|${r._2}").mkString("", "\n", "\n"))
        f.toString
      }
      def sig(step: String, withGrp: Boolean, table: String) = {
        val hcol = h60(if (withGrp)
          concat_ws("|", col("k").cast("string"), col("nm"), col("grp"))
        else concat_ws("|", col("k").cast("string"), col("nm")))
        val r = hs.table(table).select(hcol.as("h"))
          .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("xor_sig"),
            sum(col("h") % 1000000007L).as("mod_sum"))
          .collect()(0)
        (step, r.getLong(0), r.getLong(1), r.getLong(2))
      }
      // Shape 1: two appending loads into an unpartitioned table.
      hs.sql("DROP TABLE IF EXISTS graft_load")
      hs.sql("""CREATE TABLE graft_load (k INT, nm STRING)
               |ROW FORMAT DELIMITED FIELDS TERMINATED BY '|'
               |STORED AS TEXTFILE""".stripMargin)
      val b1 = write("b1.txt", nat.toSeq.filter(_._3 < 2))
      val b2 = write("b2.txt", nat.toSeq.filter(r => r._3 == 2 || r._3 == 3))
      hs.sql(s"LOAD DATA LOCAL INPATH '$b1' INTO TABLE graft_load")
      hs.sql(s"LOAD DATA LOCAL INPATH '$b2' INTO TABLE graft_load")
      val s1 = sig("append", withGrp = false, "graft_load")
      // Shape 2: partition-scoped loads.
      hs.sql("DROP TABLE IF EXISTS graft_load_p")
      hs.sql("""CREATE TABLE graft_load_p (k INT, nm STRING)
               |PARTITIONED BY (grp STRING)
               |ROW FORMAT DELIMITED FIELDS TERMINATED BY '|'
               |STORED AS TEXTFILE""".stripMargin)
      val pa = write("pa.txt", nat.toSeq.filter(_._3 == 4))
      val pb = write("pb.txt", nat.toSeq.filter(_._1 < 5))
      hs.sql(s"LOAD DATA LOCAL INPATH '$pa' INTO TABLE graft_load_p" +
        " PARTITION (grp='a')")
      hs.sql(s"LOAD DATA LOCAL INPATH '$pb' INTO TABLE graft_load_p" +
        " PARTITION (grp='b')")
      val s2 = sig("scoped", withGrp = true, "graft_load_p")
      // Shape 3: OVERWRITE replaces partition 'a' only; 'b' untouched.
      val pa2 = write("pa2.txt",
        nat.toSeq.filter(r => r._3 == 4 && r._1 % 2 == 0))
      hs.sql(s"LOAD DATA LOCAL INPATH '$pa2' OVERWRITE INTO TABLE" +
        " graft_load_p PARTITION (grp='a')")
      val s3 = sig("overwrite", withGrp = true, "graft_load_p")
      // LOAD DATA LOCAL COPIES (not moves) the staged files into the
      // table location, so the stage dir is dead weight once the third
      // load lands — delete it, or every bench iteration leaks a temp
      // dir for the JVM's lifetime. (Table data itself is bounded: the
      // DROP TABLE at each shape's start replaces, never accumulates.)
      T.deleteTree(stage)
      import s.implicits._
      Seq(s1, s2, s3).toDF("step", "n_rows", "xor_sig", "mod_sum")
        .orderBy("step")
    },

    q("q_sink_partitioned",
      """SELECT o_orderpriority, COUNT(*) AS cnt
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val p = tmp(dir, "part")
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_orderstatus")
      o.repartition(col("o_orderstatus"))
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(p)
      s.read.schema(partitionedSchema(o, "o_orderstatus")).parquet(p)
        .filter(col("o_orderstatus") === "F")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")
    },

    // INSERT OVERWRITE of ONE dynamic partition
    // (spark.sql.sources.partitionOverwriteMode=dynamic — Hive's
    // insert-overwrite-partition semantics): rewrite only status 'O'
    // with discounted prices; other partitions untouched. The oracle
    // reproduces the expected post-state.
    q("q_sink_dynpart_overwrite",
      """SELECT o_orderstatus,
        |  COUNT(*) AS cnt,
        |  CAST(SUM(CAST(CASE WHEN o_orderstatus = 'O'
        |        THEN o_totalprice * 0.5 ELSE o_totalprice END
        |        AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val p = tmp(dir, "dynpart")
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      // Base state: full table, partitioned by status.
      o.repartition(col("o_orderstatus"))
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(p)
      // Dynamic overwrite of just the 'O' partition (halved prices); a
      // writer option, so no other statement on the session sees it.
      o.filter(col("o_orderstatus") === "O")
        .withColumn("o_totalprice", col("o_totalprice") * 0.5)
        .repartition(col("o_orderstatus"))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus").parquet(p)
      s.read.schema(partitionedSchema(o, "o_orderstatus")).parquet(p)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderstatus")
    },

    // Small-file compaction as a GATED query (OrcFileMergeOperator /
    // ALTER TABLE .. CONCATENATE — SURVEY §2.1; previously spec-only in
    // OptimizerSpec): scatter orders into 64 small files, then run the
    // size-targeted compaction rewrite (read → repartition to
    // ceil(bytes/target) → overwrite, the OPTIMIZE shape that holds at
    // 100 TB because the target is BYTES, not a file count). The result
    // row-parity-checks the compacted data against the oracle's direct
    // scan AND folds the file-count bound in as a boolean column — if
    // compaction ever stops bounding files, files_bounded flips false
    // and the hash gate fails.
    q("q_sink_compact",
      """SELECT o_orderstatus, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
        |  TRUE AS files_bounded
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val small = tmp(dir, "compact_small")
      val big = tmp(dir, "compact_out")
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      o.repartition(64).write.mode("overwrite").parquet(small)
      def parts(p: String) = Option(new java.io.File(p).listFiles())
        .getOrElse(Array.empty)
        .count(f => f.getName.startsWith("part-"))
      val nSmall = parts(small)
      val targetBytes = 128L * 1024 * 1024
      val totalBytes = Option(new java.io.File(small).listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.startsWith("part-")).map(_.length()).sum
      val nOut = math.max(1L,
        (totalBytes + targetBytes - 1) / targetBytes).toInt
      s.read.schema(o.schema).parquet(small).repartition(nOut)
        .write.mode("overwrite").parquet(big)
      val bounded = parts(big) <= nOut && parts(big) < nSmall
      s.read.schema(o.schema).parquet(big)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum(dec(col("o_totalprice"))).cast("double").as("sum_price"),
          min(col("o_orderkey")).cast("long").as("min_key"))
        .withColumn("files_bounded", lit(bounded))
        .orderBy("o_orderstatus")
    },

    // Kafka storage handler parity slice (kafka-handler:
    // KafkaStorageHandler + KafkaScanTrimmer — SURVEY §2.1/§2.9
    // [Hive3+]; no broker in this sandbox, so the topic is
    // [[graft.sources.KafkaLog]]'s file-backed log with the handler's
    // exact data model): events keyed by user_id land in 4 topic
    // partitions with dense per-partition offsets; the query SEEKS
    // per-partition offset ranges (starting inclusive / ending
    // exclusive, the consumer convention) — compiled to partition-dir
    // pruning + parquet offset pushdown, never a full log scan
    // (KafkaLogSpec reads the plan) — and aggregates the addressed
    // slice. The oracle re-derives identical (partition, offset)
    // addresses from events with the same deterministic arrival order.
    q("q_src_kafka_offsets",
      """WITH log AS (
        |  SELECT CAST(user_id % 4 AS INT) AS part_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id % 4
        |                       ORDER BY ts, event_id) - 1 AS off,
        |    CAST(user_id AS VARCHAR) AS k, event_type AS v
        |  FROM events),
        |sought AS (
        |  SELECT * FROM log WHERE
        |    (part_id = 0 AND off >= 10) OR
        |    (part_id = 1 AND off >= 25 AND off < 200) OR
        |    (part_id = 2 AND off < 150) OR
        |    (part_id = 3 AND off >= 5))
        |SELECT part_id, COUNT(*) AS n,
        |  CAST(MIN(off) AS BIGINT) AS first_off,
        |  CAST(MAX(off) AS BIGINT) AS last_off,
        |  CAST(SUM(off) AS BIGINT) AS off_sum,
        |  COUNT(DISTINCT k) AS n_keys, MIN(v) AS first_v
        |FROM sought GROUP BY part_id ORDER BY part_id""".stripMargin) { (s, dir) =>
      val topic = graft.sources.KafkaLog.ensureTopic(s, dir, 4)
      graft.sources.KafkaLog.readBatch(s, topic,
          startingOffsets = Map(0 -> 10L, 1 -> 25L, 3 -> 5L),
          endingOffsets = Map(1 -> 200L, 2 -> 150L))
        .groupBy(col("__partition").as("part_id"))
        .agg(count(lit(1)).as("n"),
          min(col("__offset")).cast("long").as("first_off"),
          max(col("__offset")).cast("long").as("last_off"),
          sum(col("__offset")).cast("long").as("off_sum"),
          countDistinct(col("__key")).as("n_keys"),
          min(col("__value")).as("first_v"))
        .orderBy("part_id")
    },

    // HBase storage handler parity slice (hbase-handler:
    // HBaseStorageHandler + HBaseSerDe rowkey pushdown — SURVEY §2.1;
    // no HBase cluster in this sandbox, so the table is
    // [[graft.sources.HBaseKv]]'s region-sharded sorted store with the
    // handler's exact data model): customer keyed by zero-padded
    // c_custkey across 8 pre-split regions; the query is a rowkey
    // range SCAN [rowkey(120), rowkey(940)) — stop exclusive, the
    // HBase convention — compiled to region-directory pruning + a
    // parquet rowkey seek, never a full-table scan (HBaseKvSpec reads
    // the plan), then aggregated per market segment. The oracle
    // re-derives the identical rowkey strings and range from customer.
    q("q_src_hbase_rowkey_range",
      """WITH kv AS (
        |  SELECT lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS rk,
        |    c_mktsegment AS mktsegment, c_acctbal AS acctbal
        |  FROM customer),
        |scanned AS (
        |  SELECT * FROM kv
        |  WHERE rk >= lpad('120', 12, '0') AND rk < lpad('940', 12, '0'))
        |SELECT mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal_total,
        |  MIN(rk) AS first_key, MAX(rk) AS last_key
        |FROM scanned GROUP BY mktsegment ORDER BY mktsegment""".stripMargin) {
      (s, dir) =>
      val store = graft.sources.HBaseKv.ensureStore(s, dir, 8)
      graft.sources.HBaseKv.scanRange(s, store,
          graft.sources.HBaseKv.rowkey(120L),
          graft.sources.HBaseKv.rowkey(940L))
        .groupBy("mktsegment")
        .agg(count(lit(1)).as("n"),
          dsum(col("acctbal")).as("bal_total"),
          min(col("__row_key")).as("first_key"),
          max(col("__row_key")).as("last_key"))
        .orderBy("mktsegment")
    },

    // Druid storage handler parity slice (druid-handler:
    // DruidStorageHandler + DruidSerDe — SURVEY §2.1 [Hive3+]; no
    // Druid cluster in this sandbox, so the datasource is
    // [[graft.sources.DruidSegments]]'s day-partitioned HOUR-rollup
    // segment store with the handler's exact data model): a Druid
    // `timeseries`-query twin — interval [2024-01-08, 2024-01-22)
    // (end exclusive), dimension filter event_type <> 'error', DAY
    // result granularity — answered FROM THE ROLLUP (sum of partial
    // counts/decimal sums, max of partial maxes; never re-scanning raw
    // events), with the interval compiled to segment-directory pruning
    // (DruidSegmentsSpec reads the plan). The oracle recomputes from
    // raw events, so a broken rollup (lost bucket, partial double-
    // counted, non-associative float sum) hash-mismatches.
    q("q_src_druid_interval",
      """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_total,
        |  MAX(value) AS value_peak
        |FROM events
        |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08'
        |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-22'
        |  AND event_type <> 'error'
        |GROUP BY day ORDER BY day""".stripMargin) { (s, dir) =>
      val ds = graft.sources.DruidSegments.ensureDatasource(s, dir)
      graft.sources.DruidSegments
        .scanInterval(s, ds, "2024-01-08", "2024-01-22")
        .filter(col("event_type") =!= "error")
        .groupBy(col("__day").as("day"))
        .agg(sum(col("cnt")).as("n_events"),
          sum(col("value_sum")).cast("double").as("value_total"),
          max(col("value_max")).as("value_peak"))
        .orderBy("day")
    },

    // Accumulo storage handler parity slice (`[src]` accumulo-handler/
    // AccumuloStorageHandler + AccumuloPredicateHandler — SURVEY §2.1,
    // the last open row; no Accumulo instance in this sandbox, so the
    // table is [[graft.sources.AccumuloKv]]'s tablet-sharded sorted
    // CELL store with the handler's exact data model): supplier cells
    // keyed by zero-padded s_suppkey, one cell row per mapped column
    // with per-CELL visibility labels (name/nationkey `public`,
    // acctbal `finance`, contact `pii&ops`). The query is a range SCAN
    // [rowkey(2), rowkey(80)) — stop exclusive — under auths
    // {public, finance}: tablet-directory pruning + a parquet __row
    // seek (AccumuloKvSpec reads the plan), the visibility filter
    // applied per cell IN the scan (contact cells need `pii` AND `ops`,
    // so they never surface), then rows reassembled from their cell
    // runs (groupBy on the sort-prefix row) and aggregated per nation.
    // The oracle re-derives the rowkey range, the per-cell visibility
    // outcome (3 visible + 1 hidden cell per supplier) and the
    // acctbal values from supplier directly — a cell that leaked
    // through the label filter, a lost tablet, or a string round-trip
    // error on the numeric cells all hash-mismatch.
    q("q_src_accumulo_range",
      """WITH rows_in AS (
        |  SELECT lpad(CAST(s_suppkey AS VARCHAR), 12, '0') AS rk,
        |    s_nationkey, s_acctbal
        |  FROM supplier
        |  WHERE lpad(CAST(s_suppkey AS VARCHAR), 12, '0')
        |          >= lpad('2', 12, '0')
        |    AND lpad(CAST(s_suppkey AS VARCHAR), 12, '0')
        |          < lpad('80', 12, '0'))
        |SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE)
        |    AS bal_total,
        |  CAST(COUNT(*) * 3 AS BIGINT) AS n_cells_visible,
        |  CAST(COUNT(*) AS BIGINT) AS n_cells_hidden,
        |  MIN(rk) AS first_key, MAX(rk) AS last_key
        |FROM rows_in GROUP BY s_nationkey ORDER BY nationkey""".stripMargin) {
      (s, dir) =>
      val store = graft.sources.AccumuloKv.ensureStore(s, dir, 6)
      val cells = graft.sources.AccumuloKv.scanRange(s, store,
        graft.sources.AccumuloKv.rowkey(2L),
        graft.sources.AccumuloKv.rowkey(80L),
        Set("public", "finance"))
      // WholeRowIterator shape: reassemble each logical row from its
      // visible cell run (the row is the sort prefix, so at 100 TB
      // this groupBy combines map-side within tablet-sorted splits).
      val rows = cells.groupBy(col("__row"))
        .agg(
          max(when(col("__cq") === "nationkey", col("__value")))
            .cast("long").as("nationkey"),
          max(when(col("__cq") === "acctbal", col("__value")))
            .cast("double").as("acctbal"),
          count(lit(1)).as("n_visible"))
      // Hidden-cell accounting: every supplier wrote 4 cells, the scan
      // surfaced n_visible — the difference is the pii&ops contact cell.
      rows.groupBy("nationkey")
        .agg(count(lit(1)).as("n_suppliers"),
          dsum(col("acctbal")).as("bal_total"),
          sum(col("n_visible")).cast("long").as("n_cells_visible"),
          sum(lit(4) - col("n_visible")).cast("long").as("n_cells_hidden"),
          min(col("__row")).as("first_key"),
          max(col("__row")).as("last_key"))
        .orderBy("nationkey")
    })
}
