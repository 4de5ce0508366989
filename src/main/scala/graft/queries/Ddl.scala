package graft.queries

import graft._
import graft.T._
import graft.operators.Artifact
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** DDL / catalog / mutation surface (SURVEY.md §7 stage E): CREATE TABLE
  * AS SELECT into the session catalog, ANALYZE TABLE COMPUTE STATISTICS
  * (feeds the enabled CBO — table + column stats make the cost-based
  * join reorder real), CREATE VIEW expansion, and the ACID trio
  * MERGE / UPDATE / DELETE implemented as deterministic batch rewrites
  * (SURVEY §7.5.3), in two flavors: single-job batch rewrites (the
  * q_ddl_* queries below), and REAL delta-file MVCC with tombstones,
  * write-id snapshots and compaction via [[graft.AcidTable]] (the
  * q_acid_* queries — Hive ACID v2's delete+insert delta mechanics).
  *
  * Scale notes: CTAS setup is create-if-absent per (session, sf) like
  * the SMB tables — queries re-read, never re-write; the MERGE rewrite
  * is a single shuffle join on the merge key + one write, which is
  * exactly how batch MERGE executes at 100 TB (plus partition pruning
  * to rewrite only touched partitions — demonstrated by the dynamic-
  * partition overwrite in Sources).
  */
object Ddl extends QueryPack {

  /** Shared ACID demo table: customer put through a fixed write-id
    * history, a derived artifact keyed on customer's content (a
    * rewritten table derives a new history; reruns read, never
    * rewrite, so every snapshot below is deterministic).
    *   w1 CREATE  = customer
    *   w2 INSERT  = ingest batch (custkey ≤ 100, shifted key, INGESTED)
    *   w3 DELETE  = negative balances tombstoned
    *   w4 UPDATE  = balances capped at 9000 (delete+insert, one write)
    */
  private[graft] def acidDemo(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Artifact.derive(s, "acid", dir, "customer", tables = Seq("base_1")) { root =>
      val c = t(s, dir, "customer")
      AcidTable.create(s, root, c)
      AcidTable.insert(s, root, c.filter(col("c_custkey") <= 100)
        .withColumn("c_custkey", col("c_custkey") + 1000000L)
        .withColumn("c_mktsegment", lit("INGESTED")))
      AcidTable.delete(s, root, col("c_acctbal") < 0)
      AcidTable.update(s, root, col("c_acctbal") > 9000,
        Map("c_acctbal" -> lit(9000.0)))
    }

  /** DuckDB twin of the w2 state (base + ingest batch). */
  private val acidOracleAll =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |  FROM customer
      |UNION ALL
      |SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal,
      |  'INGESTED'
      |  FROM customer WHERE c_custkey <= 100""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ACID delta-file lifecycle, merge-on-read (AcidInputFormat —
    // SURVEY §2.1): latest snapshot after create→ingest→delete→update,
    // each a real delta dir with tombstones by ROW__ID. The oracle
    // replays the same history relationally.
    q("q_acid_merge_delta",
      s"""WITH t AS ($acidOracleAll),
         |after AS (
         |  SELECT c_mktsegment,
         |    CASE WHEN c_acctbal > 9000 THEN 9000.0 ELSE c_acctbal END AS bal
         |  FROM t WHERE NOT (c_acctbal < 0))
         |SELECT c_mktsegment, COUNT(*) AS n_rows,
         |  CAST(SUM(CAST(bal AS DECIMAL(18,4))) AS DOUBLE) AS bal_total
         |FROM after GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) {
      (s, dir) =>
        AcidTable.read(s, acidDemo(s, dir))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_rows"),
            sum(dec(col("c_acctbal"))).cast("double").as("bal_total"))
          .orderBy("c_mktsegment")
    },

    // Snapshot (time-travel) read at write id 3: the delete is visible,
    // the update is not — balances still uncapped. Proves write-id
    // isolation, not just final state.
    q("q_acid_time_travel",
      s"""WITH t AS ($acidOracleAll)
         |SELECT c_mktsegment, COUNT(*) AS n_rows,
         |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal_total
         |FROM t WHERE NOT (c_acctbal < 0)
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) {
      (s, dir) =>
        AcidTable.read(s, acidDemo(s, dir), asOf = Some(3L))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_rows"),
            sum(dec(col("c_acctbal"))).cast("double").as("bal_total"))
          .orderBy("c_mktsegment")
    },

    // SNAPSHOT DIFF — "what did transactions w3..w4 change?": a full
    // outer join of two time-travel reads (write id 2 = post-ingest vs
    // latest = post-delete+update) on the row key, classified into
    // removed / changed / unchanged with row and balance deltas. This
    // is the CDC-style audit an ACID table exists to answer; the
    // oracle replays the history relationally (delete = negatives,
    // change = caps). At 100 TB both snapshot reads share the same
    // base files — only delta dirs differ — and the join is an
    // equi-shuffle on the key.
    q("q_acid_snapshot_diff",
      s"""WITH t AS ($acidOracleAll)
         |SELECT 'changed' AS status, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(c_custkey) AS BIGINT) AS key_checksum,
         |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4)) - 9000) AS DOUBLE)
         |    AS bal_delta
         |FROM t WHERE NOT (c_acctbal < 0) AND c_acctbal > 9000
         |UNION ALL
         |SELECT 'removed', CAST(COUNT(*) AS BIGINT),
         |  CAST(SUM(c_custkey) AS BIGINT),
         |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
         |FROM t WHERE c_acctbal < 0
         |UNION ALL
         |SELECT 'unchanged', CAST(COUNT(*) AS BIGINT),
         |  CAST(SUM(c_custkey) AS BIGINT), CAST(0.0 AS DOUBLE)
         |FROM t WHERE NOT (c_acctbal < 0) AND c_acctbal <= 9000
         |ORDER BY status""".stripMargin) { (s, dir) =>
      val root = acidDemo(s, dir)
      val before = AcidTable.read(s, root, asOf = Some(2L))
        .select(col("c_custkey"), col("c_acctbal").as("bal_old"))
      val after = AcidTable.read(s, root)
        .select(col("c_custkey"), col("c_acctbal").as("bal_new"))
      before.join(after, Seq("c_custkey"), "full_outer")
        .withColumn("status",
          when(col("bal_new").isNull, "removed")
            .when(col("bal_old") =!= col("bal_new"), "changed")
            .otherwise("unchanged"))
        .groupBy("status")
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum(col("c_custkey")).cast("long").as("key_checksum"),
          sum(dec(col("bal_old")) -
            coalesce(dec(col("bal_new")), lit(0).cast("decimal(18,4)")))
            .cast("double").as("bal_delta"))
        .orderBy("status")
    },

    // CTAS + ANALYZE: materialize a per-customer order summary in the
    // catalog, compute table+column stats (CBO input), query it.
    q("q_ddl_ctas_analyze",
      """SELECT seg_band, COUNT(*) AS n_cust,
        |  CAST(SUM(n_orders) AS BIGINT) AS orders_total
        |FROM (
        |  SELECT c.c_custkey,
        |    CASE WHEN COUNT(o.o_orderkey) >= 10 THEN 'many'
        |         WHEN COUNT(o.o_orderkey) >= 1 THEN 'some'
        |         ELSE 'none' END AS seg_band,
        |    COUNT(o.o_orderkey) AS n_orders
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |GROUP BY seg_band ORDER BY seg_band""".stripMargin) { (s, dir) =>
      val tbl = Artifact.table(s, "cust_summary", dir, "customer", "orders") { tbl =>
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .groupBy(c("c_custkey"))
          .agg(count(o("o_orderkey")).as("n_orders"))
          .withColumn("seg_band",
            when(col("n_orders") >= 10, "many")
              .when(col("n_orders") >= 1, "some").otherwise("none"))
          .write.saveAsTable(tbl)
        // Table + column stats: the catalyst CBO (enabled in tune())
        // reads these for cardinality estimates / join reorder.
        s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR ALL COLUMNS")
      }
      s.table(tbl)
        .groupBy("seg_band")
        .agg(count(lit(1)).as("n_cust"),
          sum(col("n_orders")).as("orders_total"))
        .orderBy("seg_band")
    },

    // Metadata-only answering (Hive StatsOptimizer /
    // hive.compute.query.using.stats twin — plans/StatsAnswer.scala):
    // count(*) / count(col) / min / max over an ANALYZEd table resolve
    // from CATALOG STATISTICS as a LocalRelation — zero tasks, zero
    // bytes read (StatsAnswerSpec asserts the scanless plan and the
    // write-invalidation accuracy contract). The oracle recomputes the
    // same numbers by scanning the source parquet — equality IS the
    // correctness claim: the stats answer must match the true scan.
    q("q_stats_metadata_only",
      """SELECT COUNT(*) AS n_rows,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
        |  COUNT(o_custkey) AS n_cust
        |FROM orders""".stripMargin) { (s, dir) =>
      // Keyed on orders' content: a rewritten table gets a fresh saved
      // table and ANALYZE, never the old stats.
      val tbl = Artifact.table(s, "stats_orders", dir, "orders") { tbl =>
        t(s, dir, "orders").select("o_orderkey", "o_custkey")
          .write.saveAsTable(tbl)
        s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR ALL COLUMNS")
      }
      // Answer this statement's own optimized plan from the catalog
      // statistics; the session conf would answer every other client's
      // plans too. Without stats the plan is not rewritten and scans.
      // The one answered row surfaces as a local relation.
      val agg = s.table(tbl).agg(
        count(lit(1)).as("n_rows"),
        min(col("o_orderkey")).cast("long").as("min_key"),
        max(col("o_orderkey")).cast("long").as("max_key"),
        count(col("o_custkey")).as("n_cust"))
      val v: Int => Long =
        StatsAnswer.answer(agg.queryExecution.optimizedPlan) match {
          case answered: LocalRelation => answered.data.head.getLong
          case _ => agg.head.getLong
        }
      import s.implicits._
      Seq((v(0), v(1), v(2), v(3))).toDF("n_rows", "min_key", "max_key", "n_cust")
    },

    // CREATE VIEW + query-through-view (CreateViewDesc): views expand at
    // analysis time — the plan is identical to inlining the subquery.
    q("q_ddl_view",
      """SELECT r_name, COUNT(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, dir) =>
      scoped(s, "nation" -> t(s, dir, "nation"), "region" -> t(s, dir, "region")) { v =>
        s.sql(s"CREATE TEMPORARY VIEW ${v("nation_region")} AS " +
          s"SELECT n.*, r.r_name FROM ${v("nation")} n " +
          s"JOIN ${v("region")} r ON n.n_regionkey = r.r_regionkey")
        s.sql(s"SELECT r_name, COUNT(*) AS n_nations FROM ${v("nation_region")} " +
          "GROUP BY r_name ORDER BY r_name")
      }
    },

    // MERGE INTO as a batch rewrite: target = customer balances, source =
    // per-customer order revenue. WHEN MATCHED THEN UPDATE (add revenue),
    // WHEN NOT MATCHED BY SOURCE keep row — expressed as a left join +
    // projection (the scale shape: one shuffle join on the merge key).
    // Output is a checksum of the post-MERGE state.
    q("q_ddl_merge",
      """WITH src AS (
        |  SELECT o_custkey AS k,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
        |  FROM orders WHERE o_totalprice > 300000 GROUP BY o_custkey)
        |SELECT c_mktsegment, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(c_acctbal + COALESCE(rev, 0) AS DECIMAL(18,4)))
        |       AS DOUBLE) AS bal_total,
        |  CAST(SUM(CASE WHEN rev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_updated
        |FROM customer LEFT JOIN src ON c_custkey = k
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      val target = t(s, dir, "customer")
      val source = t(s, dir, "orders")
        .filter(col("o_totalprice") > 300000)
        .groupBy(col("o_custkey").as("k"))
        .agg(dsum(col("o_totalprice")).as("rev"))
      // MERGE rewrite: matched rows get the update applied; unmatched
      // target rows pass through; (no NOT-MATCHED-INSERT branch here).
      val merged = target.join(source, target("c_custkey") === source("k"),
          "left")
        .withColumn("c_acctbal_new",
          col("c_acctbal") + coalesce(col("rev"), lit(0.0)))
        .withColumn("was_updated", col("rev").isNotNull.cast("long"))
      merged.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("c_acctbal_new"))).cast("double").as("bal_total"),
          sum(col("was_updated")).as("n_updated"))
        .orderBy("c_mktsegment")
    },

    // Materialized-view rewrite ([Hive3+] HiveMaterializedViewsRegistry
    // — SURVEY §1.1): register an MV for a lineitem aggregate, then run
    // the SAME aggregate built independently from base tables — the
    // custom Catalyst rule (MaterializedViews.Rewrite) substitutes the
    // MV scan by canonical-plan equality. MvSpec proves the plan reads
    // the MV table; the oracle proves the answer is still right.
    q("q_ddl_mv_rewrite",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      def defining = {
        val l = t(s, dir, "lineitem")
        l.groupBy("l_returnflag", "l_linestatus")
          .agg(dsum(l("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
      }
      val mv = Artifact.table(s, "mv_qty", dir, "lineitem")(
        MaterializedViews.materialize(_, defining))
      MaterializedViews.record(s, mv, defining)
      // A fresh, independently-built instance of the same aggregate:
      // the rewrite rule must recognize it by canonical equality.
      defining.orderBy("l_returnflag", "l_linestatus")
    },

    // INCREMENTAL materialized-view maintenance (Hive 3's ALTER
    // MATERIALIZED VIEW ... REBUILD incremental path): the MV is FIRST
    // materialized from the historical slice only (o_orderdate <
    // 1999-01-01), then the 1999+ delta is folded in with
    // MaterializedViews.refreshIncremental — aggregate the DELTA alone,
    // merge per group into the stored MV (counts/sums by sum, max by
    // max), swap snapshots. The base is never rescanned: at 100 TB the
    // refresh costs O(|MV| + |delta agg|), both group-count-bounded.
    // The oracle recomputes the aggregate over the FULL base, so a
    // wrong merge (lost group, double-counted delta, float drift) hash-
    // mismatches. Sums are held as DECIMAL(18,4) inside the MV and cast
    // to double only at read time - double(old)+double(delta) would NOT
    // equal double(old+delta).
    q("q_ddl_mv_incremental",
      """SELECT o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS rev_total,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS last_key
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val cutoff = "1999-01-01"
      // The STORE keeps the exact mergeable form; the display MV casts
      // at the end, and so does the recorded defining: Catalyst collapses
      // the cast INTO the Aggregate, and the rule matches optimized plans.
      def aggOf(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            sum(dec(col("o_totalprice"))).as("rev_total"),
            max(col("o_orderkey")).as("last_key"))
      def display(df: org.apache.spark.sql.DataFrame) =
        df.select(col("o_orderpriority"), col("n_orders"),
          col("rev_total").cast("double").as("rev_total"),
          col("last_key").cast("long").as("last_key"))
      // The display MV derives from the STORE (5 rows), not the base.
      val name = Artifact.table(s, "mv_rev", dir, "orders") { name =>
        val store = Artifact.table(s, "mv_rev_store", dir, "orders") { store =>
          val o = t(s, dir, "orders")
          aggOf(o.filter(col("o_orderdate") < cutoff))
            .write.saveAsTable(store)
          // Fold the 1999+ delta into the store: O(|MV| + |delta agg|),
          // no rescan of the historical base.
          MaterializedViews.refreshIncremental(s, store, aggOf(o),
            aggOf(o.filter(col("o_orderdate") >= cutoff)),
            Seq("o_orderpriority"),
            Seq("n_orders" -> "sum", "rev_total" -> "sum",
              "last_key" -> "max"))
        }
        display(s.table(store)).write.saveAsTable(name)
      }
      // The full-base defining below never executes: the rule serves it
      // from the maintained snapshot (MvSpec proves the plan).
      MaterializedViews.record(s, name, display(aggOf(t(s, dir, "orders"))))
      display(aggOf(t(s, dir, "orders"))).orderBy("o_orderpriority")
    },

    // UPDATE + DELETE as batch rewrites (UpdateDeleteSemanticAnalyzer →
    // full-rewrite): DELETE negative-balance rows, UPDATE the remainder
    // (cap balances at 9000). Output checksums the post-state.
    q("q_ddl_update_delete",
      """SELECT c_mktsegment,
        |  COUNT(*) AS n_kept,
        |  CAST(SUM(CAST(CASE WHEN c_acctbal > 9000 THEN 9000.0
        |        ELSE c_acctbal END AS DECIMAL(18,4))) AS DOUBLE) AS bal_total
        |FROM customer WHERE NOT (c_acctbal < 0)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val afterDelete = c.filter(!(col("c_acctbal") < 0))
      val afterUpdate = afterDelete.withColumn("c_acctbal",
        when(col("c_acctbal") > 9000, lit(9000.0)).otherwise(col("c_acctbal")))
      afterUpdate.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_kept"),
          sum(dec(col("c_acctbal"))).cast("double").as("bal_total"))
        .orderBy("c_mktsegment")
    },

    // SCD TYPE-2 dimension build: turn a per-entity change log (orders
    // as observations of each customer's o_orderpriority) into validity
    // intervals [valid_from, valid_to) with a current-row flag — the
    // MERGE-maintained slowly-changing dimension, built set-at-once.
    // Shape: one window pass detects attribute changes (lag), a running
    // sum numbers the versions (islands), a groupBy collapses each
    // island, and a second window (lead over ~10× fewer version rows)
    // closes the intervals. Both windows partition BY ENTITY KEY, so at
    // 100 TB this is two key-partitioned shuffles of the change log —
    // no global sort, no driver state. Tie-break inside a day by
    // o_orderkey makes version order total and deterministic; the 5%
    // entity sample (md5 bucket, not rand) bounds the output.
    q("q_scd2_build",
      s"""WITH ${scd2Cte(scd2SampleSql)}
        |SELECT custkey, version, priority, valid_from, valid_to,
        |  CAST(valid_to IS NULL AS BOOLEAN) AS is_current, n_obs
        |FROM scd2
        |ORDER BY custkey, version""".stripMargin) { (s, dir) =>
      scd2Dim(s, dir, sampled = true)
        .withColumn("is_current", col("valid_to").isNull)
        .select("custkey", "version", "priority", "valid_from", "valid_to",
          "is_current", "n_obs")
        .orderBy("custkey", "version")
    },

    // POINT-IN-TIME join against the SCD2 dimension: each lineitem is
    // priced under the customer priority that was VALID AT SHIP TIME
    // (fact date in [valid_from, valid_to)), the join every
    // as-of-history warehouse query needs. The join carries an EQUI
    // conjunct on the entity key, so Catalyst plans a hash/SMJ join on
    // custkey with the interval test as a post-join filter — per-key
    // version lists are short (avg ~7 here), so the filter fans out a
    // handful of candidates per fact, never a cartesian. Facts shipping
    // before the first observed version match nothing and surface as
    // 'NONE' via the LEFT join — lost facts are visible, not dropped.
    // At 100 TB: facts shuffle once on custkey (or broadcast the dim —
    // versions compress ~10× vs the change log).
    q("q_scd2_pointintime",
      s"""WITH ${scd2Cte("")},
        |f AS (
        |  SELECT o.o_custkey AS custkey, l.l_shipdate, l.l_extendedprice,
        |    l.l_discount
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT COALESCE(d.priority, 'NONE') AS priority_at_ship,
        |  COUNT(*) AS n_lines,
        |  ${oRev("f.l_extendedprice", "f.l_discount")} AS revenue
        |FROM f LEFT JOIN scd2 d
        |  ON f.custkey = d.custkey
        |  AND f.l_shipdate >= d.valid_from
        |  AND (d.valid_to IS NULL OR f.l_shipdate < d.valid_to)
        |GROUP BY priority_at_ship
        |ORDER BY priority_at_ship""".stripMargin) { (s, dir) =>
      val dim = scd2Dim(s, dir, sampled = false)
        .select(col("custkey").as("d_custkey"), col("priority"),
          col("valid_from"), col("valid_to"))
      val facts = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("custkey"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"))
      facts.join(dim,
          col("custkey") === col("d_custkey") &&
            col("l_shipdate") >= col("valid_from") &&
            (col("valid_to").isNull || col("l_shipdate") < col("valid_to")),
          "left")
        .groupBy(coalesce(col("priority"), lit("NONE")).as("priority_at_ship"))
        .agg(count(lit(1)).as("n_lines"),
          drev(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy("priority_at_ship")
    })

  /** Shared SCD2 island logic (see q_scd2_build). `sampled` keeps the
    * 5% md5 entity bucket that bounds q_scd2_build's output; the
    * point-in-time join uses the full dimension.
    */
  private def scd2Dim(s: org.apache.spark.sql.SparkSession, dir: String,
      sampled: Boolean): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val all = t(s, dir, "orders")
    val o = if (sampled)
      all.filter(conv(substring(md5(col("o_custkey").cast("string")), 1, 15),
        16, 10).cast("long") % 20 === 0)
    else all
    val ver = o
      .withColumn("prev_p", lag(col("o_orderpriority"), 1).over(byKey))
      .withColumn("version",
        sum(when(col("prev_p").isNull
            || col("prev_p") =!= col("o_orderpriority"), 1).otherwise(0))
          .over(byKey.rowsBetween(Window.unboundedPreceding, 0)))
    val island = ver.groupBy(col("o_custkey"), col("version"))
      .agg(min(col("o_orderpriority")).as("priority"),
        min(col("o_orderdate")).as("valid_from"),
        count(lit(1)).as("n_obs"))
    val byVer = Window.partitionBy("o_custkey").orderBy("version")
    island
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byVer))
      .select(col("o_custkey").as("custkey"),
        col("version").cast("int").as("version"),
        col("priority"), col("valid_from"), col("valid_to"), col("n_obs"))
  }

  /** DuckDB twin of scd2Dim as a `scd2` CTE body; `where` restricts the
    * change log ("" = full). */
  private def scd2Cte(where: String): String =
    s"""obs AS (
      |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
      |    LAG(o_orderpriority) OVER w AS prev_p
      |  FROM orders $where
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |ver AS (
      |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
      |    SUM(CASE WHEN prev_p IS NULL OR prev_p <> o_orderpriority
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |            ROWS UNBOUNDED PRECEDING) AS version
      |  FROM obs),
      |island AS (
      |  SELECT o_custkey, version, MIN(o_orderpriority) AS priority,
      |    MIN(o_orderdate) AS valid_from, COUNT(*) AS n_obs
      |  FROM ver GROUP BY o_custkey, version),
      |scd2 AS (
      |  SELECT o_custkey AS custkey, CAST(version AS INT) AS version,
      |    priority, valid_from,
      |    LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY version)
      |      AS valid_to,
      |    n_obs
      |  FROM island)""".stripMargin

  private val scd2SampleSql =
    "WHERE ('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))::BIGINT % 20 = 0"
}
