package graft.queries

import graft._
import graft.T._
import graft.operators.Artifact
import org.apache.spark.sql.functions._

/** Join surface (SURVEY.md §2.3): CommonJoinOperator join types
  * (INNER/LEFT/RIGHT/FULL/LEFT SEMI + NOT-EXISTS anti), MapJoinOperator
  * (broadcast), SMBMapJoinOperator (bucketed sort-merge), cross/theta,
  * null-safe equality.
  *
  * Scale notes (100 TB):
  * - Dimension joins broadcast explicitly (`broadcast(nation)`): Hive's
  *   MapJoinProcessor decision made declarative. Fact-fact joins shuffle
  *   on the join key and rely on AQE for skew splitting (Hive's
  *   SkewJoinResolver equivalent, free at runtime).
  * - The bucketed query materializes both sides bucketed+sorted on the
  *   join key, then joins without an Exchange — Hive's SMB join. At
  *   100 TB this is the pattern for repeatedly-joined fact tables.
  */
object Joins extends QueryPack {

  def defs: Seq[QueryDef] = Seq(

    // TPC-H Q5 (local supplier volume) — the 6-table join-reorder
    // flagship: region→nation are broadcast dims, customer/supplier
    // shuffle on nationkey, orders/lineitem carry the volume, and the
    // c_nationkey = s_nationkey correlation ("local" suppliers) is the
    // classic trap that makes join ORDER matter — CBO + joinReorder
    // (SparkEntry.tune) get the dims probed early so the big fact join
    // runs pre-filtered. Money math in exact decimal (T.dec pattern).
    q("q5_local_supplier_volume",
      """SELECT n_name,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
        |       * (1 - CAST(l_discount AS DECIMAL(18,4)))
        |       AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin) {
      (s, dir) =>
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >=
          lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") <
            lit("1997-01-01 00:00:00").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      val supp = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val nat = t(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      val reg = t(s, dir, "region").filter(col("r_name") === "ASIA")
        .select("r_regionkey")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(cust, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum((dec(col("l_extendedprice")) *
            (lit(1) - dec(col("l_discount")))).cast("decimal(18,4)"))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // TPC-H Q3 (shipping priority): two-fact join, segment-filtered
    // dim probe, top-10 by revenue — the TakeOrderedAndProject shape on
    // a join output (the sort never sees more than the per-partition
    // top 10).
    q("q3_shipping_priority",
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
        |       * (1 - CAST(l_discount AS DECIMAL(18,4)))
        |       AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  strftime(o_orderdate, '%Y-%m-%d') AS odate, o_orderpriority
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) {
      (s, dir) =>
      val cut = lit("1997-03-15 00:00:00").cast("timestamp")
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = t(s, dir, "orders").filter(col("o_orderdate") < cut)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val li = t(s, dir, "lineitem").filter(col("l_shipdate") > cut)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum((dec(col("l_extendedprice")) *
            (lit(1) - dec(col("l_discount")))).cast("decimal(18,4)"))
          .cast("double").as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
          col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
    },

    // TPC-H Q10 (returned items): which customers returned the most
    // revenue in a quarter — fact join filtered on the return flag,
    // customer dim re-joined for attributes, top 20.
    q("q10_returned_items",
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
        |       * (1 - CAST(l_discount AS DECIMAL(18,4)))
        |       AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  c_mktsegment, n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_mktsegment, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin) {
      (s, dir) =>
      val cust = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_mktsegment", "c_nationkey")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >=
          lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_mktsegment", "n_name")
        .agg(sum((dec(col("l_extendedprice")) *
            (lit(1) - dec(col("l_discount")))).cast("decimal(18,4)"))
          .cast("double").as("revenue"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_mktsegment"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
    },

    // TPC-H Q18 (large-volume customers): the HAVING-subquery shape —
    // qualifying orderkeys come from a grouped HAVING over the fact
    // table, then re-join the facts. The subquery output is tiny
    // (a semi-probe list), so it broadcasts into the second pass.
    q("q18_large_volume",
      """WITH big AS (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(l_quantity) > 150)
        |SELECT c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS odate,
        |  CAST(o_totalprice AS DOUBLE) AS total,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
        |FROM customer, orders, lineitem
        |WHERE o_orderkey IN (SELECT l_orderkey FROM big)
        |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY total DESC, o_orderkey LIMIT 20""".stripMargin) {
      (s, dir) =>
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      // ONE aggregation serves both the HAVING filter and the output
      // qty: the classic Q18 form semi-joins lineitem against the
      // big-order set and re-aggregates the same quantities a second
      // time — a second 60 M-row pass at the 100× point that recomputes
      // a number the first aggregate already holds. o_orderdate/
      // o_totalprice/c_custkey are functionally dependent on the
      // orderkey, so grouping once on l_orderkey and joining orders
      // AFTER the >150 filter is row-for-row identical. The filtered
      // set is selectivity-bound but fact-derived, so no broadcast
      // hint — AQE broadcasts it while small, shuffle-joins at scale.
      // ONE decimal-exact sum serves both the HAVING filter and the
      // output: l_quantity is integer-valued, so the decimal sum and
      // the oracle's double SUM are both exact and the >150 boundary
      // is identical.
      val big = li.groupBy("l_orderkey")
        .agg(sum(dec(col("l_quantity"))).cast("double").as("qty"))
        .filter(col("qty") > 150)
      val ord = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      val cust = t(s, dir, "customer").select("c_custkey")
      big.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
          col("o_totalprice").cast("double").as("total"), col("qty"))
        .orderBy(col("total").desc, col("o_orderkey")).limit(20)
    },

    // TPC-H Q12 (shipmode priority): single-pass fact scan with a
    // conditional aggregation — the CASE-WHEN rollup shape. Priority
    // classes counted per l_linestatus stand-in for shipmode (this
    // schema has no l_shipmode; l_linestatus plays the 2-value role).
    q("q12_priority_by_status",
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders, lineitem
        |WHERE o_orderkey = l_orderkey
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) {
      (s, dir) =>
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >=
          lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
        .select("l_orderkey", "l_linestatus")
      val ord = t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(sum(when(hi, 1).otherwise(0)).cast("long")
          .as("high_line_count"),
          sum(when(!hi, 1).otherwise(0)).cast("long").as("low_line_count"))
        .orderBy("l_linestatus")
    },

    // TPC-H Q14 (promo effect): aggregate ratio over a joined scan —
    // two exact-decimal sums, one conditional, divided at the end.
    // The p_type LIKE 'PROMO%' class runs map-side on the broadcast
    // part dim.
    q("q14_promo_effect",
      """SELECT CAST(ROUND(100.00 * pr / tot, 4) AS DOUBLE) AS promo_revenue
        |FROM (
        |  SELECT
        |    SUM(CASE WHEN p_type LIKE 'PROMO%'
        |        THEN CAST(CAST(l_extendedprice AS DECIMAL(18,4))
        |             * (1 - CAST(l_discount AS DECIMAL(18,4)))
        |             AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4))
        |        END) AS pr,
        |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
        |        * (1 - CAST(l_discount AS DECIMAL(18,4)))
        |        AS DECIMAL(18,4))) AS tot
        |  FROM lineitem, part
        |  WHERE l_partkey = p_partkey
        |    AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00')""".stripMargin) {
      (s, dir) =>
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >=
          lit("1996-09-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1996-10-01 00:00:00").cast("timestamp"))
        .select("l_partkey", "l_extendedprice", "l_discount")
      val part = t(s, dir, "part").select("p_partkey", "p_type")
      val rev = (dec(col("l_extendedprice")) *
        (lit(1) - dec(col("l_discount")))).cast("decimal(18,4)")
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type").like("PROMO%"), rev)
            .otherwise(lit(0).cast("decimal(18,4)"))).as("pr"),
          sum(rev).as("tot"))
        .select(round(lit(100.00) * col("pr") / col("tot"), 4)
          .cast("double").as("promo_revenue"))
    },

    // TPC-H Q19 (discounted revenue): the disjunctive multi-attribute
    // predicate — three OR'd (brand, container-ish, quantity-band)
    // clauses that each combine join-key and non-join predicates. The
    // planner must keep it ONE broadcast join with the OR residual, not
    // a union of three scans.
    q("q19_disjunctive_revenue",
      """SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
        |       * (1 - CAST(l_discount AS DECIMAL(18,4)))
        |       AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey
        |  AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity >= 1 AND l_quantity <= 21)
        |    OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |        AND l_quantity >= 10 AND l_quantity <= 30)
        |    OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 45
        |        AND l_quantity >= 20 AND l_quantity <= 40))""".stripMargin) {
      (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      val part = t(s, dir, "part").select("p_partkey", "p_brand", "p_size")
      val clause = (b: String, s1: Int, s2: Int, q1: Int, q2: Int) =>
        col("p_brand") === b && col("p_size").between(s1, s2) &&
          col("l_quantity") >= q1 && col("l_quantity") <= q2
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .filter(clause("Brand#1", 1, 15, 1, 21) ||
          clause("Brand#2", 10, 30, 10, 30) ||
          clause("Brand#3", 20, 45, 20, 40))
        .agg(sum((dec(col("l_extendedprice")) *
            (lit(1) - dec(col("l_discount")))).cast("decimal(18,4)"))
          .cast("double").as("revenue"))
    },

    // TPC-H Q13 (customer distribution): LEFT join preserving order-less
    // customers, then a COUNT-OF-COUNTS — two chained aggregations where
    // the second's input is already key-cardinality-sized. The classic
    // histogram-of-activity shape.
    q("q13_customer_distribution",
      """WITH co AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey
        |   AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM co GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, dir) =>
      val cust = t(s, dir, "customer").select("c_custkey")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_orderkey", "o_custkey")
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // TPC-H Q17 (small-quantity orders): the correlated scalar-average
    // shape — revenue from lineitems below 20% of their part's average
    // quantity. Decorrelates to ONE per-part aggregate re-joined to the
    // fact scan (Catalyst does this from the subquery form too; written
    // explicitly here, the oracle keeps the correlated original). The
    // per-part averages relation is |parts|-sized → broadcast probe.
    q("q17_small_quantity_revenue",
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
        |       / 7.0, 4) AS DOUBLE) AS avg_yearly
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey AND p_size = 1
        |  AND l_quantity < (
        |    SELECT 0.2 * AVG(l_quantity)
        |    FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)""".stripMargin) {
      (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
      val part = t(s, dir, "part").filter(col("p_size") === 1)
        .select("p_partkey")
      // The p_size=1 broadcast join runs FIRST: it keeps every lineitem
      // row of a surviving part (inner join on the key), so the per-part
      // average over the joined subset equals the correlated subquery's
      // average over the FULL lineitem for exactly the parts that can
      // reach the final filter — while the aggregation input shrinks by
      // the part-filter selectivity (~50×). The correlated 0.2*avg is
      // then a WINDOW over l_partkey (the q2 decorrelation pattern): one
      // shuffle of the filtered subset, no second join, no per-part
      // aggregate relation whose cardinality grows with the corpus (the
      // earlier groupBy+join form aggregated the full 60 M-row lineitem
      // at the 100× scale point before the filter could bite). Decimal-
      // exact mean so both engines place boundary rows identically.
      val w = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .withColumn("cutoff", lit(0.2) *
          (sum(dec(col("l_quantity"))).over(w).cast("double")
            / count(lit(1)).over(w)))
        .filter(col("l_quantity") < col("cutoff"))
        .agg(round(sum(dec(col("l_extendedprice"))) / 7.0, 4)
          .cast("double").as("avg_yearly"))
    },

    // TPC-H Q22 (global sales opportunity): the composite shape — a
    // GLOBAL scalar threshold (avg positive balance across the target
    // nations, broadcast as one row) filters customers, then an
    // ANTI-join drops anyone with an urgent 1996 order. Exact decimal sums keep the
    // threshold comparison bit-identical.
    q("q22_sales_opportunity",
      """WITH pool AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |  WHERE c_nationkey IN (3, 7, 11, 17, 21)),
        |thresh AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
        |         / COUNT(*) AS a
        |  FROM pool WHERE c_acctbal > 0.0)
        |SELECT c_nationkey, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
        |FROM pool
        |WHERE c_acctbal > (SELECT a FROM thresh)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT'
        |                    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |                    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) {
      (s, dir) =>
      val pool = t(s, dir, "customer")
        .filter(col("c_nationkey").isin(3, 7, 11, 17, 21))
        .select("c_custkey", "c_nationkey", "c_acctbal")
      val thresh = pool.filter(col("c_acctbal") > 0.0)
        .agg((sum(dec(col("c_acctbal"))).cast("double") / count(lit(1)))
          .as("a"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >=
            lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
      pool.crossJoin(broadcast(thresh))
        .filter(col("c_acctbal") > col("a"))
        .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"),
          sum(dec(col("c_acctbal"))).cast("double").as("totacctbal"))
        .orderBy("c_nationkey")
    },

    // TPC-H Q4 (order-priority checking), adapted: the synthetic
    // lineitem carries no commit/receipt dates, so "late" is shipping
    // more than 60 days after the order date. The correlated EXISTS
    // decorrelates to ONE left-semi join whose condition mixes the equi
    // key with the non-equi lateness predicate — Spark keeps it a
    // shuffle semi join on l_orderkey (no cartesian), and the semi side
    // prunes to two columns. At 100 TB both sides partition on orderkey.
    q("q4_order_priority",
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) {
      (s, dir) =>
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >=
          lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
      ord.join(li,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >
              col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },

    // TPC-H Q6 (forecasting revenue change): the pure scan-filter-agg
    // flagship — no join at all. The whole query is one codegen'd stage:
    // parquet scan with ALL THREE predicates pushed (shipdate range,
    // discount band, quantity cap) feeding a single decimal sum. The
    // plan to demand: PushedFilters lists every clause, ReadSchema is
    // 4 columns, one partial+final agg, zero exchanges beyond the final
    // single-row gather.
    q("q6_forecast_revenue",
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
        |     * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE)
        |     AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >=
          lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
          .cast("decimal(38,2)").cast("double").as("revenue"))
    },

    // TPC-H Q7 (volume shipping): the two-nation flow query — nation
    // joins on BOTH ends of the order (supplier side and customer side),
    // with the symmetric pair predicate that forces the planner to keep
    // both dimension copies distinct. Both nation probes broadcast; the
    // lineitem→orders→customer chain shuffles on its natural keys; the
    // year extraction groups into a 2×2×years cube.
    q("q7_volume_shipping",
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
        |       * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
        |       AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    EXTRACT(year FROM l_shipdate) AS l_year,
        |    l_extendedprice, l_discount
        |  FROM supplier, lineitem, orders, customer,
        |    nation n1, nation n2
        |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |    AND c_custkey = o_custkey
        |    AND s_nationkey = n1.n_nationkey
        |    AND c_nationkey = n2.n_nationkey
        |    AND ((n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_8')
        |      OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_7'))
        |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin) {
      (s, dir) =>
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >=
          lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
        .select("l_orderkey", "l_suppkey", "l_shipdate",
          "l_extendedprice", "l_discount")
      val ord = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val supp = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
      val n1 = broadcast(nat.select(col("n_nationkey").as("n1_key"),
        col("n_name").as("supp_nation")))
      val n2 = broadcast(nat.select(col("n_nationkey").as("n2_key"),
        col("n_name").as("cust_nation")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(n1, col("s_nationkey") === col("n1_key"))
        .join(n2, col("c_nationkey") === col("n2_key"))
        .filter((col("supp_nation") === "NATION_7" &&
            col("cust_nation") === "NATION_8") ||
          (col("supp_nation") === "NATION_8" &&
            col("cust_nation") === "NATION_7"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(drev(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    // TPC-H Q8 (national market share): the widest flagship join — all
    // seven tables (part, lineitem, orders, customer, supplier, nation
    // ×2 via region) feeding a conditional-ratio aggregate: the target
    // nation's share of AMERICA-region revenue per order year. Dims
    // broadcast; fact chain shuffles; the ratio divides two exact
    // decimal sums cast to double (deterministic, like q14).
    q("q8_market_share",
      """SELECT o_year,
        |  CAST(ROUND(100.00 * nat / tot, 4) AS DOUBLE) AS mkt_share
        |FROM (
        |  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
        |    SUM(CASE WHEN n2.n_name = 'NATION_6'
        |        THEN CAST(CAST(l_extendedprice AS DECIMAL(18,4))
        |             * (1 - CAST(l_discount AS DECIMAL(18,4)))
        |             AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4))
        |        END) AS nat,
        |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
        |        * (1 - CAST(l_discount AS DECIMAL(18,4)))
        |        AS DECIMAL(18,4))) AS tot
        |  FROM part, lineitem, orders, customer, supplier,
        |    nation n1, nation n2, region
        |  WHERE p_partkey = l_partkey AND l_orderkey = o_orderkey
        |    AND o_custkey = c_custkey AND l_suppkey = s_suppkey
        |    AND c_nationkey = n1.n_nationkey
        |    AND n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
        |    AND s_nationkey = n2.n_nationkey
        |    AND p_type = 'ECONOMY'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY o_year)
        |ORDER BY o_year""".stripMargin) { (s, dir) =>
      val rev = (dec(col("l_extendedprice")) *
        (lit(1) - dec(col("l_discount")))).cast("decimal(18,4)")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey",
          "l_extendedprice", "l_discount")
      val part = broadcast(t(s, dir, "part")
        .filter(col("p_type") === "ECONOMY").select("p_partkey"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >=
          lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val supp = broadcast(t(s, dir, "supplier")
        .select("s_suppkey", "s_nationkey"))
      val nat = t(s, dir, "nation")
      val n1 = broadcast(nat.join(broadcast(t(s, dir, "region")
          .filter(col("r_name") === "AMERICA").select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("n1_key")))
      val n2 = broadcast(nat.select(col("n_nationkey").as("n2_key"),
        col("n_name").as("supp_nation")))
      li.join(part, col("l_partkey") === col("p_partkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(n1, col("c_nationkey") === col("n1_key"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(n2, col("s_nationkey") === col("n2_key"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_6", rev)
            .otherwise(lit(0).cast("decimal(18,4)"))).as("nat"),
          sum(rev).as("tot"))
        .select(col("o_year"),
          round(lit(100.00) * col("nat") / col("tot"), 4)
            .cast("double").as("mkt_share"))
        .orderBy("o_year")
    },

    // TPC-H Q15 (top supplier): the view-plus-scalar-max shape — a
    // quarter's per-supplier revenue rollup is consumed TWICE, once for
    // the global max (one broadcast row) and once as the join probe.
    // The decimal revenue stays decimal through the max-equality test
    // (bit-exact tie semantics) and only casts to double on output.
    q("q15_top_supplier",
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
        |        * (1 - CAST(l_discount AS DECIMAL(18,4)))
        |        AS DECIMAL(18,4))) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        |  CAST(total_revenue AS DOUBLE) AS total_revenue
        |FROM supplier, revenue
        |WHERE s_suppkey = supplier_no
        |  AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >=
          lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sum((dec(col("l_extendedprice")) *
            (lit(1) - dec(col("l_discount")))).cast("decimal(18,4)"))
          .as("total_revenue"))
        // consumed twice (max + probe): materialize once, not two scans
        .transform(T.scratch)
      val mx = rev.agg(max(col("total_revenue")).as("mx"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("mx"))
        .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_name")),
          col("supplier_no") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_revenue").cast("double").as("total_revenue"))
        .orderBy("s_suppkey")
    },

    // TPC-H Q21 (suppliers who kept orders waiting), adapted to the
    // no-receipt-date schema: a lineitem is "late" when it ships more
    // than 60 days after the order date. For finished orders, count per
    // supplier the orders where THAT supplier shipped late, at least one
    // OTHER supplier participated (semi), and NO other supplier was late
    // (anti) — the classic sole-blame triple self-join. The late set is
    // computed once and reused on both probe sides; all three probes
    // shuffle on l_orderkey, so at 100 TB they co-partition.
    q("q21_waiting_supplier",
      """WITH fli AS (
        |  SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'),
        |late AS (
        |  SELECT * FROM fli
        |  WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM fli l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin) {
      (s, dir) =>
      // The semi (some OTHER supplier participates) and anti (no OTHER
      // supplier was late) probes both reduce to per-order DISTINCT-
      // supplier facts, and since suppkeys are non-null those facts are
      // min/max-expressible: ≥2 distinct suppliers ⟺ min≠max over the
      // order's lineitems, and "the only late supplier is l1's" ⟺
      // min==max over the order's LATE lineitems (l1 itself is late, so
      // the late set is non-empty and pinned to l1's supplier). That
      // turns the classic triple self-join into ONE window over
      // l_orderkey: lineitem⋈orders runs once, nothing is checkpointed,
      // and no semi/anti re-shuffles — the earlier form materialized the
      // late set in block storage and recomputed the fact join for the
      // semi probe, which the 100× scale run measured at 23×/decade.
      val ord = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val fli = t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .withColumn("late_supp",
          when(col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 60 DAYS"), col("l_suppkey")))
        .select("l_orderkey", "l_suppkey", "late_supp")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("l_orderkey")
      val supp = broadcast(t(s, dir, "supplier")
        .select("s_suppkey", "s_name"))
      fli
        .withColumn("min_s", min(col("l_suppkey")).over(w))
        .withColumn("max_s", max(col("l_suppkey")).over(w))
        .withColumn("min_late", min(col("late_supp")).over(w))
        .withColumn("max_late", max(col("late_supp")).over(w))
        .filter(col("late_supp").isNotNull &&
          col("min_s") =!= col("max_s") &&
          col("min_late") === col("max_late"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    },

    // TPC-H Q2 (minimum-cost supplier), adapted: no partsupp table in
    // this schema, so the supply relation is derived — distinct
    // (part, supplier) pairs from lineitem with supply cost = the best
    // observed unit price (MIN of extendedprice/quantity; IEEE division
    // and MIN are bit-identical across engines, no accumulation). The
    // correlated min-cost subquery decorrelates to ONE window min over
    // the region-scoped supply, partitioned by part — one shuffle on
    // partkey, no self-join, no cartesian. The part filter prunes ~94%
    // of groups BEFORE that shuffle (size/type are functionally
    // dependent on partkey, so pre-filtering cannot change a group's
    // min). Dims broadcast; at extreme SF the supplier broadcast would
    // become a shuffle join — flagged, same tradeoff as q8.
    q("q2_min_cost_supplier",
      """WITH supply AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |    MIN(l_extendedprice / l_quantity) AS ps_supplycost
        |  FROM lineitem GROUP BY 1, 2),
        |eu AS (
        |  SELECT ps_partkey, ps_supplycost, s_acctbal, s_name, n_name
        |  FROM supply, supplier, nation, region
        |  WHERE s_suppkey = ps_suppkey AND s_nationkey = n_nationkey
        |    AND n_regionkey = r_regionkey AND r_name = 'EUROPE')
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_type
        |FROM part JOIN eu ON p_partkey = ps_partkey
        |WHERE p_size <= 15 AND p_type = 'LARGE'
        |  AND ps_supplycost = (SELECT MIN(e2.ps_supplycost) FROM eu e2
        |                       WHERE e2.ps_partkey = p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val supply = t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("ps_partkey"),
          col("l_suppkey").as("ps_suppkey"))
        .agg(min(col("l_extendedprice") / col("l_quantity"))
          .as("ps_supplycost"))
      val natEu = broadcast(t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")
          .filter(col("r_name") === "EUROPE").select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name"))
      val supp = broadcast(t(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_acctbal", "s_nationkey"))
      val prt = broadcast(t(s, dir, "part")
        .filter(col("p_size") <= 15 && col("p_type") === "LARGE")
        .select("p_partkey", "p_type"))
      val eu = supply
        .join(supp, col("ps_suppkey") === col("s_suppkey"))
        .join(natEu, col("s_nationkey") === col("n_nationkey"))
        .join(prt, col("ps_partkey") === col("p_partkey"))
      eu.withColumn("mincost",
          min(col("ps_supplycost")).over(Window.partitionBy("ps_partkey")))
        .filter(col("ps_supplycost") === col("mincost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type")
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    },

    // TPC-H Q9 (product-type profit), adapted: supply cost proxied as
    // 60% of the part's retail price (no partsupp.ps_supplycost). The
    // profit expression stays EXACT decimal end to end: 0.6 enters as a
    // DECIMAL(2,1) literal (never a double), products widen scale
    // without rounding, and only the final sum rescales to 2 decimals
    // (HALF_UP in both engines). Part-name LIKE filter broadcast-prunes
    // lineitem before the orders join; nation broadcast; group by
    // supplier nation × order year.
    q("q9_product_type_profit",
      """SELECT nation, o_year,
        |  CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
        |FROM (
        |  SELECT n_name AS nation,
        |    EXTRACT(year FROM o_orderdate) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(18,4))
        |      * (1 - CAST(l_discount AS DECIMAL(18,4)))
        |      - CAST(p_retailprice AS DECIMAL(18,4))
        |        * CAST(l_quantity AS DECIMAL(18,4)) * 0.6 AS amount
        |  FROM part, lineitem, orders, supplier, nation
        |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        |    AND p_name LIKE 'small%') profit
        |GROUP BY nation, o_year
        |ORDER BY nation, o_year DESC""".stripMargin) { (s, dir) =>
      val amount = dec(col("l_extendedprice")) *
        (lit(1) - dec(col("l_discount"))) -
        dec(col("p_retailprice")) * dec(col("l_quantity")) *
          lit(BigDecimal("0.6"))
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount")
        .join(broadcast(t(s, dir, "part")
          .filter(col("p_name").like("small%"))
          .select("p_partkey", "p_retailprice")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "supplier")
          .select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")
          .select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(sum(amount).cast("decimal(38,2)").cast("double")
          .as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },

    // TPC-H Q11 (important stock), adapted: "stock value" per part is
    // the revenue flowing through ONE nation's suppliers (no
    // partsupp.availqty). The global-fraction HAVING is the signature
    // shape: the per-part rollup is consumed twice — once for the total
    // (one broadcast row) and once as the filter probe. The threshold
    // compares 1000*val > total in EXACT decimals (integer scaling, no
    // decimal division — cross-engine bit-safe, same trick as the
    // similarity thresholds).
    q("q11_important_stock",
      """WITH v AS (
        |  SELECT l_partkey AS ps_partkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS val
        |  FROM lineitem, supplier, nation
        |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |    AND n_name = 'NATION_3'
        |  GROUP BY 1)
        |SELECT ps_partkey, CAST(val AS DOUBLE) AS value
        |FROM v
        |WHERE 1000 * val > (SELECT SUM(val) FROM v)
        |ORDER BY value DESC, ps_partkey""".stripMargin) { (s, dir) =>
      val natSupp = broadcast(t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name") === "NATION_3").select("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey"))
      val v = t(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(natSupp, col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey").as("ps_partkey"))
        .agg(sum(dec(col("l_extendedprice"))).as("val"))
        // consumed twice (total + probe): materialize once
        .transform(T.scratch)
      val total = v.agg(sum(col("val")).as("total"))
      v.crossJoin(broadcast(total))
        .filter(lit(1000) * col("val") > col("total"))
        .select(col("ps_partkey"), col("val").cast("double").as("value"))
        .orderBy(col("value").desc, col("ps_partkey"))
    },

    // TPC-H Q16 (parts/supplier relationship): how many distinct
    // suppliers serve each surviving (brand, type, size) bucket, after
    // excluding blacklisted suppliers (negative account balance stands
    // in for the "customer complaints" LIKE — same NOT IN shape). The
    // supply relation is the distinct lineitem pair set; the exclusion
    // is a broadcast anti join (NOT IN with non-null keys), and the
    // count-distinct rides the same shuffle as the group-by.
    q("q16_supplier_part_count",
      """WITH supply AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM supply JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#4' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin) {
      (s, dir) =>
      val prt = broadcast(t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#4" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
        .select("p_partkey", "p_brand", "p_type", "p_size"))
      val bad = broadcast(t(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select("s_suppkey"))
      t(s, dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
        .join(prt, col("l_partkey") === col("p_partkey"))
        .join(bad, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },

    // TPC-H Q20 (potential part promotion), adapted: no availqty, so
    // the "excess stock" test becomes supply concentration — a
    // (part, supplier) pair qualifies when 1996 shipments exceed half
    // of the pair's all-time shipments (2*q96 > qall in exact decimal,
    // the conditional sum and the unconditional sum sharing ONE
    // aggregation pass). Qualifying pairs semi-probe 'small%' parts
    // (broadcast), then the distinct supplier set semi-probes supplier.
    q("q20_part_promotion",
      """WITH shipped AS (
        |  SELECT l_partkey, l_suppkey,
        |    SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |             AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |        THEN CAST(l_quantity AS DECIMAL(18,4))
        |        ELSE CAST(0 AS DECIMAL(18,4)) END) AS q96,
        |    SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qall
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM shipped JOIN part ON p_partkey = l_partkey
        |  WHERE p_name LIKE 'small%' AND 2 * q96 > qall)
        |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
      val in96 = col("l_shipdate") >=
        lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp")
      val qualifying = t(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
        .join(broadcast(t(s, dir, "part")
          .filter(col("p_name").like("small%")).select("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
          sum(when(in96, dec(col("l_quantity")))
            .otherwise(lit(0).cast("decimal(18,4)"))).as("q96"),
          sum(dec(col("l_quantity"))).as("qall"))
        .filter(lit(2) * col("q96") > col("qall"))
        .select("l_suppkey")
      t(s, dir, "supplier").select("s_suppkey", "s_name")
        .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .orderBy("s_suppkey")
    },

    // TPC-H Q5 shape: fact-fact shuffle join + broadcast dim chain.
    q("q_join_star",
      s"""SELECT n_name, ${oRev("l_extendedprice", "l_discount")} AS revenue,
         |  COUNT(*) AS cnt
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin) { (s, dir) =>
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val c = t(s, dir, "customer")
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy("n_name")
        .agg(drev(l("l_extendedprice"), l("l_discount")).as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // LEFT OUTER: preserve customers with zero matching orders.
    q("q_join_left",
      """SELECT c_custkey, COUNT(o_orderkey) AS big_orders
        |FROM customer LEFT JOIN
        |  (SELECT * FROM orders WHERE o_totalprice > 400000) o
        |  ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey LIMIT 100""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(o("o_orderkey")).as("big_orders"))
        .orderBy("c_custkey").limit(100)
    },

    // RIGHT OUTER (same semantics, mirrored operator).
    q("q_join_right",
      """SELECT c_custkey, COUNT(o_orderkey) AS big_orders
        |FROM (SELECT * FROM orders WHERE o_totalprice > 400000) o
        |RIGHT JOIN customer ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey DESC LIMIT 100""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      o.join(c, c("c_custkey") === o("o_custkey"), "right")
        .groupBy("c_custkey")
        .agg(count(o("o_orderkey")).as("big_orders"))
        .orderBy(col("c_custkey").desc).limit(100)
    },

    // FULL OUTER over two partially-overlapping aggregates.
    q("q_join_full",
      """WITH cn AS (SELECT c_nationkey AS k, COUNT(*) AS cust_cnt
        |            FROM customer WHERE c_acctbal < 0 GROUP BY 1),
        |     sn AS (SELECT s_nationkey AS k, COUNT(*) AS supp_cnt
        |            FROM supplier WHERE s_acctbal > 5000 GROUP BY 1)
        |SELECT COALESCE(cn.k, sn.k) AS nationkey,
        |  COALESCE(cust_cnt, 0) AS cust_cnt,
        |  COALESCE(supp_cnt, 0) AS supp_cnt
        |FROM cn FULL JOIN sn ON cn.k = sn.k
        |ORDER BY nationkey""".stripMargin) { (s, dir) =>
      val cn = t(s, dir, "customer").filter(col("c_acctbal") < 0)
        .groupBy(col("c_nationkey").as("ck")).agg(count(lit(1)).as("cust_cnt"))
      val sn = t(s, dir, "supplier").filter(col("s_acctbal") > 5000)
        .groupBy(col("s_nationkey").as("sk")).agg(count(lit(1)).as("supp_cnt"))
      cn.join(sn, cn("ck") === sn("sk"), "full_outer")
        .select(
          coalesce(cn("ck"), sn("sk")).as("nationkey"),
          coalesce(col("cust_cnt"), lit(0L)).as("cust_cnt"),
          coalesce(col("supp_cnt"), lit(0L)).as("supp_cnt"))
        .orderBy("nationkey")
    },

    // LEFT SEMI (JoinDesc.LEFT_SEMI_JOIN): customers having an urgent
    // high-value order; EXISTS on the oracle side.
    q("q_join_semi",
      """SELECT c_mktsegment, COUNT(*) AS cnt
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 350000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 350000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment")
    },

    // ANTI (Hive 2.3 NOT EXISTS rewrite — SURVEY.md §2.3).
    q("q_join_anti",
      """SELECT c_mktsegment, COUNT(*) AS cnt
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 350000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 350000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment")
    },

    // Cross join + theta residual (CrossProductCheck path →
    // BroadcastNestedLoopJoin in Spark).
    q("q_join_cross_theta",
      """SELECT a.r_name AS r1, b.r_name AS r2
        |FROM region a CROSS JOIN region b
        |WHERE a.r_regionkey < b.r_regionkey
        |ORDER BY r1, r2""".stripMargin) { (s, dir) =>
      val a = t(s, dir, "region").as("a")
      val b = t(s, dir, "region").as("b")
      a.crossJoin(b)
        .filter(col("a.r_regionkey") < col("b.r_regionkey"))
        .select(col("a.r_name").as("r1"), col("b.r_name").as("r2"))
        .orderBy("r1", "r2")
    },

    // Explicit MapJoin twin: broadcast dim chain supplier→nation→region.
    q("q_join_broadcast",
      """SELECT r_name, COUNT(*) AS supp_cnt,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, dir) =>
      val sup = t(s, dir, "supplier")
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region"))
      sup.join(n, sup("s_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("supp_cnt"), dsum(sup("s_acctbal")).as("sum_bal"))
        .orderBy("r_name")
    },

    // Big-big sort-merge join (hinted — below the broadcast threshold at
    // test SF, but SMJ is what this plan must be at 100 TB).
    q("q_join_merge_bigbig",
      s"""SELECT o_orderstatus, COUNT(*) AS cnt,
         |  ${oRev("l_extendedprice", "l_discount")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      l.join(o.hint("merge"), l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          drev(l("l_extendedprice"), l("l_discount")).as("revenue"))
        .orderBy("o_orderstatus")
    },

    // SMB join on bucketed+sorted saved tables: joins with NO Exchange
    // (Hive SMBMapJoinOperator / bucket-map-join — SURVEY.md §2.3).
    q("q_join_bucketed_smb",
      s"""SELECT o_orderpriority, COUNT(*) AS cnt,
         |  ${oSum("l_quantity")} AS sum_qty
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      // Bucketed layout: co-partitioned + co-sorted on the join key, the
      // write-once/join-many pattern. Each table is built once per content
      // of its input, so reruns read, never rewrite (the 100 TB contract:
      // materialize bucketed fact tables once, join many times).
      // 8 buckets here; at 100 TB size buckets to a few hundred MB each.
      val lt = Artifact.table(s, "lineitem_bkt", dir, "lineitem")(
        t(s, dir, "lineitem").write.bucketBy(8, "l_orderkey")
          .sortBy("l_orderkey").saveAsTable(_))
      val ot = Artifact.table(s, "orders_bkt", dir, "orders")(
        t(s, dir, "orders").write.bucketBy(8, "o_orderkey")
          .sortBy("o_orderkey").saveAsTable(_))
      val lb = s.table(lt)
      val ob = s.table(ot)
      lb.join(ob.hint("merge"), lb("l_orderkey") === ob("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"), dsum(lb("l_quantity")).as("sum_qty"))
        .orderBy("o_orderpriority")
    },

    // Skew-handling join via SALTING (Hive SkewJoinOptimizer §2.3; AQE's
    // runtime skew split is also enabled, but salting is the explicit
    // plan-level fix): the fact side keys collapse to 10 hot values
    // (every key ~10% of rows — true skew); the dim side is exploded ×16
    // salts, the fact side picks a deterministic salt, so each hot key
    // spreads over 16 reducers. Result is identical to the unsalted join.
    q("q_join_skew_salted",
      """SELECT hot, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  MIN(tag) AS tag
        |FROM (SELECT l_orderkey % 10 AS hot, l_quantity FROM lineitem) f
        |JOIN (SELECT r_regionkey * 2 AS hot, r_name AS tag FROM region) d
        |  USING (hot)
        |GROUP BY hot ORDER BY hot""".stripMargin) { (s, dir) =>
      val salts = 16
      val f = t(s, dir, "lineitem")
        .select((col("l_orderkey") % 10).as("hot"), col("l_quantity"),
          pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(salts))
            .as("salt"))
      val d = t(s, dir, "region")
        .select((col("r_regionkey") * 2).as("hot"), col("r_name").as("tag"))
        .withColumn("salt", explode(expr(s"sequence(0, ${salts - 1})")))
      f.join(d, Seq("hot", "salt"))
        .groupBy("hot")
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"),
          min(col("tag")).as("tag"))
        .orderBy("hot")
    },

    // Null-safe equality join (Hive `<=>`, GenericUDFOPEqualNS).
    q("q_join_nullsafe",
      """WITH a AS (SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
        |           FROM customer),
        |     b AS (SELECT DISTINCT NULLIF(c_mktsegment, 'BUILDING') AS seg
        |           FROM customer)
        |SELECT b.seg, COUNT(*) AS cnt
        |FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg
        |GROUP BY b.seg ORDER BY b.seg NULLS FIRST""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val a = c.select(col("c_custkey"),
        nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"))
      val b = c.select(nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"))
        .distinct()
      a.join(b, a("seg") <=> b("seg"))
        .groupBy(b("seg")).agg(count(lit(1)).as("cnt"))
        .orderBy(b("seg").asc_nulls_first)
    },

    // AS-OF join (temporal "most recent match"): each error joins the
    // latest click at-or-before it, per user. Spark lacks ASOF JOIN
    // (DuckDB's oracle is the native one) — the SCALABLE rewrite is
    // union-tag + prefix window: one shuffle+sort per user, no range
    // probe, no self-join blowup; at 100 TB this is a single sort-based
    // pass however long the history is. Clicks sort before errors at
    // equal ordinal so ASOF's >= semantics hold exactly.
    q("q_join_asof",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ord, event_type FROM events),
        |err AS (SELECT user_id, ord FROM e WHERE event_type = 'error'),
        |clk AS (SELECT user_id, ord AS c_ord FROM e WHERE event_type = 'click')
        |SELECT err.user_id AS user_id, COUNT(*) AS n_err,
        |  COUNT(c_ord) AS n_matched,
        |  CAST(SUM(err.ord - c_ord) AS BIGINT) AS gap_sum
        |FROM err ASOF LEFT JOIN clk
        |  ON err.user_id = clk.user_id AND err.ord >= clk.c_ord
        |GROUP BY err.user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events")
        .filter(col("event_type").isin("click", "error"))
        .select(col("user_id"), expr("ts_ns div 1000").as("ord"),
          col("event_type"))
      val tagged = e
        .withColumn("tag", when(col("event_type") === "click", 0).otherwise(1))
        .withColumn("click_ord", when(col("tag") === 0, col("ord")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ord"), col("tag"))
        .rowsBetween(Long.MinValue, 0)
      tagged
        .withColumn("c_ord", last(col("click_ord"), ignoreNulls = true).over(w))
        .filter(col("tag") === 1)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_err"),
          count(col("c_ord")).as("n_matched"),
          sum(col("ord") - col("c_ord")).cast("long").as("gap_sum"))
        .orderBy("user_id")
    },

    // RANGE join, binned: count clicks falling inside any error's
    // trailing 60-second window, across all users. The naive plan is an
    // O(errors × clicks) theta join (that IS the DuckDB oracle — fine
    // at oracle SF, fatal at 100 TB). The scale plan bins time into
    // interval-sized buckets: each interval explodes to ≤2 bucket rows,
    // each point to exactly 1, the join becomes EQUI on bucket (hash
    // join, shuffle bounded by data size), and the exact range predicate
    // re-checks after. A point matches an interval in at most one common
    // bucket, so no dedup step is needed.
    q("q_join_range_binned",
      """WITH e AS (SELECT event_id, epoch_us(ts) AS ord, event_type FROM events),
        |err AS (SELECT ord AS hi, ord - 60000000 AS lo
        |        FROM e WHERE event_type = 'error'),
        |clk AS (SELECT event_id AS clk_id, ord FROM e WHERE event_type = 'click')
        |SELECT COUNT(*) AS n_pairs, COUNT(DISTINCT clk_id) AS n_clicks,
        |  CAST(SUM(hi - ord) AS BIGINT) AS gap_sum
        |FROM err JOIN clk ON ord > lo AND ord <= hi""".stripMargin) { (s, dir) =>
      val bucket = 60000000L // µs — bucket width = interval length
      val e = t(s, dir, "events")
        .select(col("event_id"), expr("ts_ns div 1000").as("ord"),
          col("event_type"))
      val bursts = e.filter(col("event_type") === "error")
        .select(col("ord").as("hi"), (col("ord") - bucket).as("lo"))
        .withColumn("bkt",
          explode(expr(s"sequence(lo div $bucket, hi div $bucket)")))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("clk_id"), col("ord"))
        .withColumn("bkt", expr(s"ord div $bucket"))
      bursts.join(clicks, "bkt")
        .filter(col("ord") > col("lo") && col("ord") <= col("hi"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("clk_id")).as("n_clicks"),
          sum(col("hi") - col("ord")).cast("long").as("gap_sum"))
    },

    // Referential-integrity AUDIT over the star schema: orphan counts
    // for every foreign key via left-anti probes — the data-quality
    // check a pipeline runs after every load. Scale: each anti join
    // keys on the FK; the dimension sides (customer/part/supplier)
    // broadcast, the orders-side probe of lineitem is an ordinary
    // shuffle anti join; all four probes share the lineitem scan via
    // one cached-free plan (each probes different columns, so column
    // pruning keeps the scans narrow).
    q("q_audit_orphans",
      """SELECT
        |  CAST((SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |    AS BIGINT) AS orphan_orders,
        |  CAST((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |    AS BIGINT) AS orphan_lineitem_order,
        |  CAST((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        |    AS BIGINT) AS orphan_lineitem_part,
        |  CAST((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
        |    AS BIGINT) AS orphan_lineitem_supp""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val orphanOrders = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("orphan_orders"))
      val orphanLiOrd = li
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("orphan_lineitem_order"))
      val orphanLiPart = li
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"), "left_anti")
        .agg(count(lit(1)).as("orphan_lineitem_part"))
      val orphanLiSupp = li
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .agg(count(lit(1)).as("orphan_lineitem_supp"))
      orphanOrders.crossJoin(orphanLiOrd).crossJoin(orphanLiPart)
        .crossJoin(orphanLiSupp)
    })
}
