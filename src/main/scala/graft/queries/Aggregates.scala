package graft.queries

import graft._
import graft.T._
import graft.operators.Artifact
import org.apache.spark.sql.functions._

/** GroupByOperator surface (SURVEY.md §2.4): hash aggregation with
  * partial/final split, DISTINCT aggregates, CUBE/ROLLUP/GROUPING SETS,
  * statistical and percentile UDAFs, collect_list/set, ngrams.
  *
  * Scale notes (100 TB): every query here is a declarative groupBy →
  * Catalyst plans HashAggregate(partial) → shuffle on the group keys →
  * HashAggregate(final); map-side combine bounds shuffle volume by group
  * cardinality, not row count. DISTINCT aggs plan the standard two-shuffle
  * expand; low-cardinality keys here (flags/status) make the final shuffle
  * tiny at any scale.
  */
object Aggregates extends QueryPack {

  /** Day-partitioned exact-distinct bitmap rollup over `events`:
    * (event_type, day=partition, bucket, bm) where bm is the bitmap
    * blob of user_ids in that bucket — built once per events-content
    * fingerprint (the scheduled-job artifact q_agg_bitmap_rollup
    * queries).
    */
  private[graft] def ensureBitmapRollup(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Artifact.derive(s, "bmroll", dir, "events") { out =>
      rollupOf(s, dir, "true").write.partitionBy("day").parquet(out)
    }

  /** One day-grouped bitmap pass over the events slice matching
    * `pred` (a SQL predicate over the raw columns) — the single
    * aggregation both rollup builders share. `day` is in the group
    * key, so building a day slice produces byte-identical blobs to
    * building everything and filtering (the delta-append equality).
    */
  private def rollupOf(s: org.apache.spark.sql.SparkSession, dir: String,
      pred: String): org.apache.spark.sql.DataFrame = {
    scoped(s, "events" -> t(s, dir, "events")) { v =>
      s.sql(
        s"""SELECT event_type, to_date(ts) AS day,
           |  bitmap_bucket_number(user_id) AS bucket,
           |  bitmap_construct_agg(bitmap_bit_position(user_id)) AS bm
           |FROM ${v("events")} WHERE $pred
           |GROUP BY event_type, to_date(ts),
           |  bitmap_bucket_number(user_id)""".stripMargin)
    }
  }

  /** Incrementally-maintained twin of ensureBitmapRollup (round 14 —
    * the delta-append directive): the base build aggregates every day
    * BEFORE the newest one, then the newest day's events — ONLY that
    * day's slice, the size of a daily batch — are rolled up and
    * APPENDED as a new day= partition directory. Because `day` is in
    * the rollup's group key and bitmap_construct_agg is
    * input-order-insensitive, base ∪ delta is byte-identical to a
    * from-scratch rebuild (Round14OpsSpec proves blob-level equality),
    * and range queries keep pruning day directories exactly as
    * before. This is the Druid-slice segment-append pattern applied
    * to the exact-bitmap artifact. 100 TB: the daily append scans one
    * day of raw events, never the history — the property that makes a
    * persisted rollup operable as a scheduled job.
    */
  private[graft] def ensureBitmapRollupIncremental(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    Artifact.derive(s, "bmrollinc", dir, "events") { out =>
      // the "today" boundary: newest day in the feed (1-row collect)
      val maxDay = t(s, dir, "events")
        .agg(max(to_date(col("ts")))).collect()(0).getDate(0)
      rollupOf(s, dir, s"to_date(ts) < DATE '$maxDay'")
        .write.partitionBy("day").parquet(out)
      rollupOf(s, dir, s"to_date(ts) = DATE '$maxDay'")
        .write.mode("append").partitionBy("day").parquet(out)
    }

  def defs: Seq[QueryDef] = Seq(

    // Flagship: TPC-H Q1 shape — scan → filter → project → hash agg → sort.
    // Money math in exact decimal so Spark and the oracle agree
    // bit-for-bit (see T.dec).
    q("q1_pricing_summary",
      s"""SELECT l_returnflag, l_linestatus,
         |  ${oSum("l_quantity")} AS sum_qty,
         |  ${oSum("l_extendedprice")} AS sum_base_price,
         |  CAST(SUM(CAST(${oDec("l_extendedprice")} * (1 - ${oDec("l_discount")}) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
         |  CAST(ROUND(SUM(CAST(${oDec("l_extendedprice")} * (1 - ${oDec("l_discount")}) AS DECIMAL(18,4)) * (1 + ${oDec("l_tax")})), 2) AS DOUBLE) AS sum_charge,
         |  ${oAvg("l_quantity")} AS avg_qty,
         |  ${oAvg("l_extendedprice")} AS avg_price,
         |  ${oAvg("l_discount")} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      val l = t(s, dir, "lineitem")
      val discPrice = (dec(l("l_extendedprice")) * (lit(1) - dec(l("l_discount"))))
        .cast("decimal(18,4)")
      l.filter(l("l_shipdate") <= lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(l("l_quantity")).as("sum_qty"),
          dsum(l("l_extendedprice")).as("sum_base_price"),
          sum(discPrice).cast("double").as("sum_disc_price"),
          // NB scale-8 sums: rescale to 2 decimals (Spark cast = HALF_UP ≡
          // DuckDB ROUND half-away for the oracle; DuckDB CAST would
          // truncate) before the double cast — above scale 4 the scaled
          // integer exceeds 2^53 and decimal→double rounding paths differ
          // between engines by 1 ulp.
          sum(discPrice * (lit(1) + dec(l("l_tax"))))
            .cast("decimal(38,2)").cast("double").as("sum_charge"),
          davg(l("l_quantity")).as("avg_qty"),
          davg(l("l_extendedprice")).as("avg_price"),
          davg(l("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // DISTINCT aggregates + min/max over numbers, strings, timestamps.
    q("q_agg_distinct",
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_suppkey) AS supp_cnt,
        |  COUNT(DISTINCT l_partkey) AS part_cnt,
        |  CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_dist_qty,
        |  MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
        |  MIN(l_linestatus) AS min_status, MAX(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val l = t(s, dir, "lineitem")
      // THREE distinct aggregates over DIFFERENT columns make Catalyst
      // plan an Expand (3 rows per input row, all columns carried) —
      // measured 5.16 s forced at sf0.1, the suite's worst
      // materialized entry. Split form: one column-pruned
      // distinct+agg pass PER distinct column (each a deduplicating
      // 2-column shuffle — strictly less volume than Expand's 3× wide
      // rows), one plain pass for the non-distinct aggregates, then a
      // 3-row broadcast join chain on the grouping key. Measured
      // 5.16 → 0.86 s forced (5-iter sf0.1 medians); identical
      // results (same oracle hash).
      // At 100 TB the Expand form shuffles 3× the corpus width; this
      // form shuffles three deduped (flag, key) pair sets.
      // distinct runs over the EXPRESSION (matters for the decimal
      // cast: SUM(DISTINCT CAST(..)) dedups after casting).
      def distPass(e: org.apache.spark.sql.Column,
          agg: org.apache.spark.sql.Column, alias: String) =
        l.select(col("l_returnflag"), e.as("dv")).distinct()
          .groupBy("l_returnflag").agg(agg.as(alias))
      val base = l.groupBy("l_returnflag")
        .agg(min("l_shipdate").as("min_ship"),
          max("l_shipdate").as("max_ship"),
          min("l_linestatus").as("min_status"),
          max("l_quantity").as("max_qty"))
      base
        .join(distPass(col("l_suppkey"), count("dv"), "supp_cnt"),
          "l_returnflag")
        .join(distPass(col("l_partkey"), count("dv"), "part_cnt"),
          "l_returnflag")
        .join(distPass(dec(col("l_quantity")),
          sum(col("dv")).cast("double"), "sum_dist_qty"),
          "l_returnflag")
        .select(col("l_returnflag"), col("supp_cnt"), col("part_cnt"),
          col("sum_dist_qty"), col("min_ship"), col("max_ship"),
          col("min_status"), col("max_qty"))
        .orderBy("l_returnflag")
    },

    // CUBE with grouping_id — Hive grouping-sets expansion
    // (GroupByDesc grouping sets + GenericUDFGrouping, SURVEY.md §2.4).
    q("q_agg_cube",
      """SELECT o_orderstatus, o_orderpriority,
        |  GROUPING(o_orderstatus, o_orderpriority) AS gid,
        |  COUNT(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val o = t(s, dir, "orders")
        o.cube("o_orderstatus", "o_orderpriority")
          .agg(
            grouping_id().as("gid"),
            count(lit(1)).as("cnt"),
            dsum(o("o_totalprice")).as("sum_price"))
          .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first)
    },

    q("q_agg_rollup",
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag, l_linestatus) AS gid,
        |  COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val l = t(s, dir, "lineitem")
        l.rollup("l_returnflag", "l_linestatus")
          .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"))
          .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first)
    },

    q("q_agg_grouping_sets",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        |  GROUPING(l_returnflag, l_linestatus) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
      (s, dir) =>
        scoped(s, "lineitem" -> t(s, dir, "lineitem")) { v =>
          s.sql(
            s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
               |  GROUPING_ID(l_returnflag, l_linestatus) AS gid
               |FROM ${v("lineitem")}
               |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
               |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
        }
    },

    // Statistical UDAF family (GenericUDAFVariance/Std/Correlation/
    // Covariance — SURVEY.md §2.4). Merge formulas differ between engines
    // in low-order bits → round(3) on both sides.
    q("q_agg_stats",
      """SELECT l_returnflag,
        |  ROUND(VAR_POP(l_quantity), 3) AS vpop,
        |  ROUND(VAR_SAMP(l_quantity), 3) AS vsamp,
        |  ROUND(STDDEV_POP(l_quantity), 3) AS spop,
        |  ROUND(STDDEV_SAMP(l_quantity), 3) AS ssamp,
        |  ROUND(CORR(l_quantity, l_extendedprice), 3) + 0.0 AS corr_qp,
        |  ROUND(COVAR_POP(l_quantity, l_extendedprice), 3) AS cvpop,
        |  ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 3) AS cvsamp
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
        val l = t(s, dir, "lineitem")
        l.groupBy("l_returnflag")
          .agg(
            round(var_pop(l("l_quantity")), 3).as("vpop"),
            round(var_samp(l("l_quantity")), 3).as("vsamp"),
            round(stddev_pop(l("l_quantity")), 3).as("spop"),
            round(stddev_samp(l("l_quantity")), 3).as("ssamp"),
            // +0.0 normalizes IEEE -0.0 (a tiny negative corr rounds to
            // -0.0 in one engine and 0.0 in the other).
            (round(corr(l("l_quantity"), l("l_extendedprice")), 3) + lit(0.0)).as("corr_qp"),
            round(covar_pop(l("l_quantity"), l("l_extendedprice")), 3).as("cvpop"),
            round(covar_samp(l("l_quantity"), l("l_extendedprice")), 3).as("cvsamp"))
          .orderBy("l_returnflag")
    },

    // regr_* family (GenericUDAFBinarySetFunctions, 9 fns — SURVEY.md §2.4).
    q("q_agg_regr",
      """SELECT l_returnflag,
        |  CAST(REGR_COUNT(l_extendedprice, l_quantity) AS BIGINT) AS r_cnt,
        |  ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 3) AS r_slope,
        |  ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 3) AS r_icept,
        |  ROUND(REGR_R2(l_extendedprice, l_quantity), 6) AS r_r2,
        |  ROUND(REGR_AVGX(l_extendedprice, l_quantity), 3) AS r_avgx,
        |  ROUND(REGR_AVGY(l_extendedprice, l_quantity), 3) AS r_avgy
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
        val l = t(s, dir, "lineitem")
        l.groupBy("l_returnflag")
          .agg(
            regr_count(l("l_extendedprice"), l("l_quantity")).as("r_cnt"),
            round(regr_slope(l("l_extendedprice"), l("l_quantity")), 3).as("r_slope"),
            round(regr_intercept(l("l_extendedprice"), l("l_quantity")), 3).as("r_icept"),
            round(regr_r2(l("l_extendedprice"), l("l_quantity")), 6).as("r_r2"),
            round(regr_avgx(l("l_extendedprice"), l("l_quantity")), 3).as("r_avgx"),
            round(regr_avgy(l("l_extendedprice"), l("l_quantity")), 3).as("r_avgy"))
          .orderBy("l_returnflag")
    },

    // collect_list / collect_set (GenericUDAFCollectList/CollectSet).
    // Arrays sorted for determinism (SURVEY.md §7.5.5), then serialized to
    // a CSV string — the driver's comparator can't sort array cells.
    q("q_agg_collect",
      """SELECT lang,
        |  array_to_string(list_sort(list(DISTINCT source)), ',') AS sources,
        |  COUNT(*) AS cnt
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents")
      d.groupBy("lang")
        .agg(
          concat_ws(",", sort_array(collect_set(d("source")))).as("sources"),
          count(lit(1)).as("cnt"))
        .orderBy("lang")
    },

    // percentile_approx (GenericUDAFPercentileApprox): the GK sketch's
    // rank error is bounded by N_group/accuracy, so with accuracy well
    // above the oracle-scale group size (~20k rows/group at sf0.01,
    // ~200k at the sf0.1 bench) the error is a fraction of one rank and
    // the sketch returns the EXACT data value — DuckDB's quantile_disc
    // twin. Accuracy is a MEMORY parameter, not just a precision one:
    // each partial buffer retains O(accuracy) samples, and the original
    // 1e6 setting OOM'd a 24 GB driver at sf30 (32 concurrent partials
    // × 2 aggregates × ~1M retained doubles — the round-14 sweep's
    // shape-bug find, instance #6 of "sizing parameters must be
    // functions of the data"). 1e5 keeps oracle-scale exactness
    // (rank error ≤ 0.2 << the 1-rank gap) with 10× less memory; at
    // real scale lower it further — the sketch is mergeable, so
    // partial aggregation still applies and answers degrade gracefully
    // to ±N/accuracy ranks instead of degrading to an OOM.
    q("q_agg_percentile_approx",
      """SELECT l_returnflag,
        |  quantile_disc(l_extendedprice, 0.5) AS ap50,
        |  quantile_disc(l_extendedprice, 0.9) AS ap90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
        val l = t(s, dir, "lineitem")
        l.groupBy("l_returnflag")
          .agg(
            percentile_approx(l("l_extendedprice"), lit(0.5), lit(100000))
              .as("ap50"),
            percentile_approx(l("l_extendedprice"), lit(0.9), lit(100000))
              .as("ap90"))
          .orderBy("l_returnflag")
    },

    // Histogram (GenericUDAFHistogramNumeric's use case): 8 equal-width
    // bins over [min, max], oracle-checked — bin = least(floor((v - mn)
    // / w), 7) is pure IEEE double math both engines evaluate
    // identically, x is the bin center. (Hive's ADAPTIVE bin placement —
    // histogram_numeric itself — has no SQL twin; RegistrySpec exercises
    // the UDAF directly and asserts its bin-mass invariant.) The min/max
    // pre-pass is one cheap scan + broadcast; at 100 TB the same shape
    // holds — two scans, no shuffle of the big side beyond the 8-key agg.
    q("q_agg_histogram",
      """WITH b AS (SELECT MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
        |           FROM lineitem),
        |d AS (SELECT CAST(LEAST(FLOOR((l_extendedprice - mn) / ((mx - mn) / 8)), 7) AS INT)
        |        AS bin, mn, mx
        |      FROM lineitem, b)
        |SELECT bin, ROUND(MIN(mn) + (bin + 0.5) * ((MIN(mx) - MIN(mn)) / 8), 2) AS x,
        |  COUNT(*) AS y
        |FROM d GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
      val l = t(s, dir, "lineitem")
      val mm = l.agg(min(col("l_extendedprice")).as("mn"),
        max(col("l_extendedprice")).as("mx"))
      l.crossJoin(broadcast(mm))
        .withColumn("bin",
          least(floor((col("l_extendedprice") - col("mn"))
            / ((col("mx") - col("mn")) / 8)), lit(7L)).cast("int"))
        .groupBy("bin")
        .agg(round(min(col("mn")) + (col("bin") + lit(0.5))
            * ((min(col("mx")) - min(col("mn"))) / 8), 2).as("x"),
          count(lit(1)).as("y"))
        .orderBy("bin")
    },

    // Robust statistics: MEDIAN + MAD (median absolute deviation) per
    // group — the outlier-detection pair that survives heavy tails where
    // mean/stddev (q_agg_stats) break. Two passes by construction
    // (MAD needs the median first): pass 1 is a per-group aggregate
    // whose tiny result BROADCASTS back onto the scan for pass 2 — no
    // corpus reshuffle, same shape at 100 TB. round(4) guards the last
    // bit of both engines' identical even-count interpolation.
    q("q_agg_median_mad",
      """WITH med AS (
        |  SELECT l_returnflag, MEDIAN(l_extendedprice) AS med
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag,
        |  ROUND(MIN(m.med), 4) AS median_price,
        |  ROUND(MEDIAN(ABS(l.l_extendedprice - m.med)), 4) AS mad_price,
        |  COUNT(*) AS n
        |FROM lineitem l JOIN med m USING (l_returnflag)
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin) {
      (s, dir) =>
        // Below RankSelect's cutover both medians are the exact
        // percentile aggregates the oracle checks (median ≡ percentile
        // 0.5, the same Percentile arithmetic). ABOVE it (r16, VERDICT
        // r15 #4 — guide §2 "shuffle the corpus once"): the naive
        // composition ran the distributed rank protocol TWICE — range-
        // shuffle the corpus by (g, v) for the median, broadcast-join
        // the median back on, range-shuffle the corpus AGAIN by
        // (g, |v−med|) for the MAD. RankSelect.groupedMedianMad fuses
        // both onto ONE range shuffle via the k-closest-window identity
        // (the k smallest |v−med| are a contiguous window of the
        // value-sorted order) — bit-identical arithmetic, proven by
        // Round18OpsSpec against this very composition. A wrong-side
        // cutover changes the plan, never the result.
        val l = t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_extendedprice"))
        import s.implicits._
        val estBytes = l.queryExecution.optimizedPlan.stats.sizeInBytes
        val fused = estBytes > operators.RankSelect.aggregateSafeBytes
        val triples: Seq[(String, Double, Double, Long)] = if (fused) {
          operators.RankSelect.groupedMedianMad(
            l, "l_returnflag", "l_extendedprice")
            .toSeq.map { case (g, (n, gm, gd)) => (g, gm, gd, n) }
        } else {
          val med = operators.RankSelect.groupedQuantiles(
            l, "l_returnflag", "l_extendedprice", Seq(0.5))
          val medDf = med.toSeq.map { case (g, (_, vs)) => (g, vs(0)) }
            .toDF("l_returnflag", "med")
          val dev = l.join(broadcast(medDf), Seq("l_returnflag"))
            .select(col("l_returnflag"),
              abs(col("l_extendedprice") - col("med")).as("ad"))
          val mad = operators.RankSelect.groupedQuantiles(
            dev, "l_returnflag", "ad", Seq(0.5))
          med.toSeq.map { case (g, (_, vs)) =>
            (g, vs(0), mad(g)._2(0), mad(g)._1)
          }
        }
        triples.toDF("l_returnflag", "medr", "madr", "n")
          .select(col("l_returnflag"),
            round(col("medr"), 4).as("median_price"),
            round(col("madr"), 4).as("mad_price"), col("n"))
          .orderBy("l_returnflag")
    },

    // EQUI-DEPTH histogram (Hive's NumDistinctValueEstimator /
    // equi-height column stats shape): 8 bins with ~equal row counts,
    // bin id from pure integer math — (rn-1)*8 div N over a tie-broken
    // total order — so Spark and DuckDB agree bit-for-bit with no float
    // boundary to drift. This exact variant is fully DISTRIBUTED since
    // round 9 (range-partition + within-partition sort + boundary-rank
    // emission — see the implementation notes below; the old
    // single-task global window is gone). The mergeable KLL sketch
    // (q_sketch_quantiles) remains the approximate alternative when
    // sketch error is acceptable; the two agree up to that error.
    q("q_agg_equidepth",
      """WITH r AS (
        |  SELECT l_extendedprice AS price,
        |    ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM lineitem)
        |SELECT CAST((rn - 1) * 8 // n AS INT) AS bin,
        |  COUNT(*) AS n_rows,
        |  MIN(price) AS lo, MAX(price) AS hi
        |FROM r GROUP BY 1 ORDER BY bin""".stripMargin) { (s, dir) =>
      // DISTRIBUTED exact equi-depth (round 9; was a single-task global
      // row_number window — the suite's one allowlisted un-partitioned
      // Window and its worst scaling entry at 10.45×/decade). The
      // observation that distributes it: the answer is a pure function
      // of n and the prices at 16 exact GLOBAL ranks — bin k covers
      // ranks [ceil(k·n/8)+1, ceil((k+1)·n/8)] (the integer solution of
      // (rn-1)·8 div n = k), its n_rows is that width, lo/hi are the
      // prices AT the boundary ranks (prices are rank-sorted). So:
      // range-partition + sort WITHIN partitions (fully parallel, the
      // same bytes any exact global sort moves), collect the P
      // per-partition counts (P scales with the input's size estimate
      // at ~64 MiB/partition, floored at defaultParallelism — the same
      // RankSelect.rangeParts rule; a constant P put one decade's whole
      // sort into 32 tasks), convert to exclusive offsets, and have
      // each partition emit only the ≤16 boundary-rank prices it owns.
      // CHECKPOINT-FREE two-pass protocol (same as RankSelect): the
      // range shuffle's sampled boundaries are fixed once on one RDD
      // instance and pass 2 reuses pass 1's map outputs (skipped
      // stage) — identical partitioning with full lineage, no
      // corpus-sized materialization. The SORT belongs only to pass 2
      // (counting is order-free; pass 2 wraps the same RDD in a
      // no-exchange local sort), so the corpus is shuffled once and
      // sorted once, full stop. The oracle is UNCHANGED — ranks are
      // partitioning-independent because (price, orderkey, linenumber)
      // is a unique total order. The KLL sketch twin
      // (q_sketch_quantiles) remains the recommended approximate path
      // at 100 TB; this removes the single-task bottleneck from the
      // exact baseline.
      val sortKey = Seq(col("l_extendedprice"), col("l_orderkey"),
        col("l_linenumber"))
      val src = t(s, dir, "lineitem")
        .select(col("l_extendedprice"), col("l_orderkey"),
          col("l_linenumber"))
      val p = operators.RankSelect.rangeParts(s,
        src.queryExecution.optimizedPlan.stats.sizeInBytes)
      val shuffled = src.repartitionByRange(p, sortKey: _*)
      val shuffledRdd = shuffled.rdd
      val counts = shuffledRdd
        .mapPartitionsWithIndex((i, it) => Iterator((i, it.size.toLong)))
        .collect().sortBy(_._1).map(_._2)
      val n = counts.sum
      val offsets = counts.scanLeft(0L)(_ + _) // exclusive prefix sums
      // ceil division: first/last global rank of each bin.
      val bins = (0 until 8)
        .map(k => (k, (k.toLong * n + 7) / 8 + 1, ((k + 1).toLong * n + 7) / 8))
        .filter { case (_, lo, hi) => hi >= lo } // empty bins only when n < 8
      val targets = bins.flatMap { case (_, lo, hi) => Seq(lo, hi) }
        .distinct.sorted.toArray
      val rankPrice: Map[Long, Double] = s
        .createDataFrame(shuffledRdd, shuffled.schema)
        .sortWithinPartitions(sortKey: _*)
        .select(col("l_extendedprice").as("price"))
        .rdd
        .mapPartitionsWithIndex { (i, it) =>
          val off = offsets(i)
          val wanted = targets.filter(r => r > off && r <= off + counts(i))
          if (wanted.isEmpty) Iterator.empty
          else {
            val out = Array.newBuilder[(Long, Double)]
            var idx = 0L
            var w = 0
            while (it.hasNext && w < wanted.length) {
              val row = it.next(); idx += 1
              if (off + idx == wanted(w)) {
                out += ((wanted(w), row.getDouble(0))); w += 1
              }
            }
            out.result().iterator
          }
        }.collect().toMap // ≤16 (rank, price) pairs
      import s.implicits._
      bins.map { case (k, lo, hi) =>
        (k, hi - lo + 1, rankPrice(lo), rankPrice(hi))
      }.toDF("bin", "n_rows", "lo", "hi").orderBy("bin")
    },

    // Exact percentile family (UDAFPercentile / GenericUDAFPercentileApprox).
    // Linear interpolation on sorted exact values — deterministic in both
    // engines; round(4) guards the last bit of the interpolation divide.
    q("q_agg_percentile",
      """SELECT l_returnflag,
        |  ROUND(QUANTILE_CONT(l_extendedprice, 0.25), 4) AS p25,
        |  ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4) AS p50,
        |  ROUND(QUANTILE_CONT(l_extendedprice, 0.75), 4) AS p75,
        |  ROUND(QUANTILE_CONT(l_extendedprice, 0.95), 4) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
        // Routed through RankSelect.groupedQuantiles: below the 1 GiB
        // size estimate this runs Spark's exact percentile aggregates
        // (what local SFs and the oracle check); above it the
        // distributed exact-rank path takes over with bit-identical
        // interpolation (Round9OpsSpec), removing the one-task
        // value-buffer hazard at 100 TB. The tiny per-group result is
        // rebuilt as a local relation and rounded with the SAME Spark
        // round expression the aggregate formulation used.
        val l = t(s, dir, "lineitem")
        val qs = Seq(0.25, 0.5, 0.75, 0.95)
        val byG = operators.RankSelect.groupedQuantiles(
          l, "l_returnflag", "l_extendedprice", qs)
        import s.implicits._
        byG.toSeq.map { case (g, (_, vs)) => (g, vs(0), vs(1), vs(2), vs(3)) }
          .toDF("l_returnflag", "r25", "r50", "r75", "r95")
          .select(col("l_returnflag"),
            round(col("r25"), 4).as("p25"), round(col("r50"), 4).as("p50"),
            round(col("r75"), 4).as("p75"), round(col("r95"), 4).as("p95"))
          .orderBy("l_returnflag")
    },

    // Corpus-wide top-k bigrams, RELATIONAL plan (Hive `ngrams` semantics):
    // explode bigrams → groupBy → top-k. This is the 100 TB path — map-side
    // partial agg bounds shuffle volume by distinct-bigram count, and the
    // final top-k is TakeOrderedAndProject; no single-task global buffer.
    q("q_ngrams_top",
      """WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
        |b AS (
        |  SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS ngram
        |  FROM ws)
        |SELECT ngram, COUNT(*) AS freq FROM b
        |GROUP BY ngram ORDER BY freq DESC, ngram LIMIT 20""".stripMargin) {
      (s, dir) =>
        t(s, dir, "documents")
          .select(split(col("text"), " ").as("w"))
          .select(explode(expr(
            "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1)," +
              " (a, b) -> concat(a, ' ', b))")).as("ngram"))
          .groupBy("ngram").agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("ngram")).limit(20)
    },

    // Hive `ngrams` UDAF (NGramsAgg Aggregator) over BOUNDED groups: one
    // aggregation buffer per lang, sized by that lang's distinct-bigram
    // vocabulary — the per-group pattern the Aggregator is safe for at
    // scale (vs. the corpus-wide query above, which stays relational).
    q("q_ngrams_lang",
      """WITH ws AS (SELECT lang, string_split(text, ' ') AS w FROM documents),
        |b AS (
        |  SELECT lang, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS ngram
        |  FROM ws),
        |c AS (SELECT lang, ngram, COUNT(*) AS freq FROM b GROUP BY lang, ngram),
        |r AS (SELECT lang, ngram, freq,
        |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY freq DESC, ngram) AS rn
        |      FROM c)
        |SELECT lang, ngram, freq FROM r WHERE rn <= 20
        |ORDER BY lang, freq DESC, ngram""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), split(col("text"), " ").as("words"))
        .groupBy("lang").agg(expr("ngrams_top(words)").as("tops"))
        .select(col("lang"), explode(col("tops")).as("t"))
        .select(col("lang"), col("t.ngram").as("ngram"), col("t.freq").as("freq"))
        .orderBy(col("lang"), col("freq").desc, col("ngram"))
    },

    // Hive `context_ngrams` UDAF (ContextNGramsAgg): count words following
    // "spark", per lang. The context filter bounds the buffer to the
    // matched-context vocabulary — inherently small.
    q("q_context_ngrams",
      """WITH ws AS (SELECT lang, string_split(text, ' ') AS w FROM documents),
        |b AS (
        |  SELECT lang, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS ngram
        |  FROM ws),
        |c AS (SELECT lang, ngram, COUNT(*) AS freq FROM b
        |      WHERE ngram LIKE 'spark %' GROUP BY lang, ngram),
        |r AS (SELECT lang, ngram, freq,
        |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY freq DESC, ngram) AS rn
        |      FROM c)
        |SELECT lang, ngram, freq FROM r WHERE rn <= 20
        |ORDER BY lang, freq DESC, ngram""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), split(col("text"), " ").as("words"))
        .groupBy("lang").agg(expr("context_ngrams_after(words)").as("tops"))
        .select(col("lang"), explode(col("tops")).as("t"))
        .select(col("lang"), col("t.ngram").as("ngram"), col("t.freq").as("freq"))
        .orderBy(col("lang"), col("freq").desc, col("ngram"))
    },

    // Mergeable HLL distinct-count sketches (DataSketches HLL, lgK=14) —
    // the SCALABLE form of COUNT(DISTINCT): per-shard sketches built
    // map-side, then kilobyte-sized sketch BLOBS (never the raw ids)
    // shuffle to the final union+estimate. This is the two-phase shape a
    // 100 TB rollup uses — sketches can also be PERSISTED per partition/
    // day and re-unioned for any ad-hoc slice without rescanning. At the
    // test cardinalities (<= 1500 users/type) the sketch is still in
    // exact (coupon) mode, so the estimate hash-matches DuckDB's exact
    // COUNT(DISTINCT); at true 100 TB cardinalities the estimate carries
    // ~0.8% RSE and the oracle becomes a tolerance check (SketchSpec
    // asserts the merge-vs-direct identity that makes this legal).
    q("q_sketch_hll",
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
      t(s, dir, "events")
        .withColumn("shard", pmod(col("user_id"), lit(16)))
        .groupBy("event_type", "shard")
        .agg(hll_sketch_agg(col("user_id"), 14).as("sk"))
        .groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_users"))
        .orderBy("event_type")
    },

    // Theta sketch SET ALGEBRA (functions/ThetaSketch.scala, a native
    // TypedImperativeAggregate): distinct-user overlap between two
    // behavioral cohorts from ONE scan — both sketches build map-side
    // via conditional aggregation (null input rows are skipped), and
    // intersection / union / difference are then computed from two kB
    // blobs. The relational twin (DISTINCT + INTERSECT/EXCEPT) shuffles
    // both full id sets; the sketch form ships bytes. Exact below 4096
    // entries per sketch (theta=1), hence hash-matches the exact oracle
    // at test scale; ThetaSketchSpec pins the inclusion-exclusion and
    // shard-merge identities that hold at any scale.
    q("q_sketch_theta",
      """WITH a AS (SELECT DISTINCT user_id FROM events
        |           WHERE event_type = 'click' AND value >= 200),
        |     b AS (SELECT DISTINCT user_id FROM events
        |           WHERE event_type = 'purchase' AND value >= 200)
        |SELECT
        |  CAST((SELECT COUNT(*) FROM (SELECT * FROM a INTERSECT
        |        SELECT * FROM b)) AS BIGINT) AS n_both,
        |  CAST((SELECT COUNT(*) FROM (SELECT * FROM a UNION
        |        SELECT * FROM b)) AS BIGINT) AS n_either,
        |  CAST((SELECT COUNT(*) FROM (SELECT * FROM a EXCEPT
        |        SELECT * FROM b)) AS BIGINT) AS n_click_only,
        |  CAST((SELECT COUNT(*) FROM (SELECT * FROM b EXCEPT
        |        SELECT * FROM a)) AS BIGINT) AS n_purchase_only"""
        .stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .agg(
          expr("theta_sketch_agg(CASE WHEN event_type = 'click' " +
            "AND value >= 200 THEN user_id END)").as("ska"),
          expr("theta_sketch_agg(CASE WHEN event_type = 'purchase' " +
            "AND value >= 200 THEN user_id END)").as("skb"))
        .select(
          expr("theta_intersect_estimate(ska, skb)").as("n_both"),
          expr("theta_union_estimate(ska, skb)").as("n_either"),
          expr("theta_anotb_estimate(ska, skb)").as("n_click_only"),
          expr("theta_anotb_estimate(skb, ska)").as("n_purchase_only"))
    },

    // KLL quantile sketches (functions/KllSketch.scala, native
    // TypedImperativeAggregate) — the mergeable form of per-group
    // percentiles: per-shard sketches build map-side, kilobyte blobs
    // (never the raw values) shuffle to the final union, and quantiles
    // read off the merged sketch. Per-slice blobs can be persisted and
    // re-unioned for any later rollup without rescanning (kll_union_agg;
    // KllSketchSpec pins the parquet round-trip). Exact while no
    // compaction occurs (n per merged group ≤ k: 8192 here vs ~3k
    // orders/priority at sf0.01), so INCLUSIVE quantiles are literal
    // order statistics at ceil(q·n) — which is what the oracle computes
    // relationally; at 100 TB cardinalities the rank error is bounded at
    // ~1.65/√k and the merge law still holds (KllSketchSpec).
    q("q_sketch_quantiles",
      """WITH r AS (
        |  SELECT o_orderpriority AS pri, o_totalprice AS v,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders)
        |SELECT pri, MAX(n) AS n,
        |  MAX(CASE WHEN rn = CAST(ceil(0.25*n) AS BIGINT) THEN v END) AS p25,
        |  MAX(CASE WHEN rn = CAST(ceil(0.50*n) AS BIGINT) THEN v END) AS p50,
        |  MAX(CASE WHEN rn = CAST(ceil(0.75*n) AS BIGINT) THEN v END) AS p75,
        |  MAX(CASE WHEN rn = CAST(ceil(0.95*n) AS BIGINT) THEN v END) AS p95
        |FROM r GROUP BY pri ORDER BY pri""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .withColumn("shard", pmod(col("o_orderkey"), lit(16)))
        .groupBy(col("o_orderpriority").as("pri"), col("shard"))
        .agg(expr("kll_sketch_agg(o_totalprice, 8192)").as("sk"))
        .groupBy("pri")
        .agg(expr("kll_union_agg(sk)").as("sk"))
        .select(col("pri"),
          expr("kll_n(sk)").as("n"),
          expr("kll_quantile(sk, 0.25d)").as("p25"),
          expr("kll_quantile(sk, 0.50d)").as("p50"),
          expr("kll_quantile(sk, 0.75d)").as("p75"),
          expr("kll_quantile(sk, 0.95d)").as("p95"))
        .orderBy("pri")
    },

    // PIVOT: event counts as a (event_type × day-of-week) matrix — the
    // wide-format rollup Hive users write as N CASE-WHEN aggregates and
    // Spark plans identically from `.pivot` with EXPLICIT values (never
    // the value-discovering overload, which adds a distinct-scan job and
    // makes the schema data-dependent — a 100 TB anti-pattern). Day
    // ordinal from integer µs math; epoch day 0 is a Thursday, so
    // (day + 4) % 7 gives 0=Sunday.
    q("q_pivot_dow_matrix",
      """SELECT event_type,
        |  CAST(SUM(CASE WHEN dow = 0 THEN 1 ELSE 0 END) AS BIGINT) AS dow_0,
        |  CAST(SUM(CASE WHEN dow = 1 THEN 1 ELSE 0 END) AS BIGINT) AS dow_1,
        |  CAST(SUM(CASE WHEN dow = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dow_2,
        |  CAST(SUM(CASE WHEN dow = 3 THEN 1 ELSE 0 END) AS BIGINT) AS dow_3,
        |  CAST(SUM(CASE WHEN dow = 4 THEN 1 ELSE 0 END) AS BIGINT) AS dow_4,
        |  CAST(SUM(CASE WHEN dow = 5 THEN 1 ELSE 0 END) AS BIGINT) AS dow_5,
        |  CAST(SUM(CASE WHEN dow = 6 THEN 1 ELSE 0 END) AS BIGINT) AS dow_6
        |FROM (SELECT event_type,
        |        (epoch_us(ts) // 86400000000 + 4) % 7 AS dow FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          expr("(ts_ns div 1000 div 86400000000 + 4) % 7").as("dow"))
        .groupBy("event_type")
        .pivot("dow", Seq(0, 1, 2, 3, 4, 5, 6))
        .agg(count(lit(1)))
        .select(col("event_type") +: (0 to 6).map(d =>
          coalesce(col(d.toString), lit(0L)).as(s"dow_$d")): _*)
        .orderBy("event_type")
    },

    // UNPIVOT (melt): the inverse reshape — long-format (source, metric,
    // value) from a wide per-source aggregate, via Dataset.unpivot
    // (plans as a single Expand, one pass, no join of N metric slices).
    // Oracle is the UNION ALL twin. The wide input is itself a tiny
    // aggregate, so the reshape is metadata-cheap at any corpus size.
    q("q_unpivot_melt",
      """WITH wide AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |    CAST(MAX(n_chars) AS BIGINT) AS max_chars
        |  FROM documents GROUP BY source)
        |SELECT source, metric, value FROM (
        |  SELECT source, 'n_docs' AS metric, n_docs AS value FROM wide
        |  UNION ALL
        |  SELECT source, 'sum_chars', sum_chars FROM wide
        |  UNION ALL
        |  SELECT source, 'max_chars', max_chars FROM wide)
        |ORDER BY source, metric""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          max(col("n_chars")).cast("long").as("max_chars"))
        .unpivot(Array(col("source")),
          Array(col("n_docs"), col("sum_chars"), col("max_chars")),
          "metric", "value")
        .orderBy("source", "metric")
    },

    // Frequent-items sketch (functions/FreqSketch.scala): corpus top-10
    // terms via a mergeable heavy-hitters sketch — partials reduce each
    // partition to a bounded map, only kB blobs shuffle; the relational
    // twin (groupBy term + top-k) shuffles the whole distinct vocabulary.
    // Exact here (31-term vocab << maxMapSize), hence the hash-matching
    // exact oracle; FreqSketchSpec pins merge identity and the
    // no-false-negatives guarantee that holds at any scale.
    q("q_sketch_freq_topk",
      """SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
        |FROM (SELECT unnest(string_split(text, ' ')) AS term
        |      FROM documents)
        |GROUP BY term ORDER BY freq DESC, term LIMIT 10""".stripMargin) {
      (s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .agg(expr("freq_sketch_topk(term, 10)").as("tops"))
        .select(explode(col("tops")).as("t"))
        .select(col("t.term").as("term"), col("t.freq").as("freq"))
        .orderBy(col("freq").desc, col("term"))
    },

    // IQR OUTLIER audit (Tukey fences): per event_type, count values
    // outside [q1 - 1.5*IQR, q3 + 1.5*IQR] — the distribution-shift /
    // bad-batch detector a pipeline runs per load. Two passes sharing
    // one scan subtree: exact quartiles per group (tiny result,
    // broadcast back), then a codegen'd per-row fence check. Quartiles
    // in the output are rounded; the fence comparison itself uses the
    // raw doubles (both engines interpolate quantiles with the same
    // (n-1)*p rule, and no value in this data sits within float-eps of
    // a fence).
    q("q_agg_outliers_iqr",
      """WITH q AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.25) AS q1,
        |    quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, COUNT(*) AS n_events,
        |  ROUND(MIN(q.q1), 6) + 0.0 AS q1,
        |  ROUND(MIN(q.q3), 6) + 0.0 AS q3,
        |  CAST(SUM(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)
        |    OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM events e JOIN q ON q.event_type = e.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin) {
      (s, dir) =>
      val ev = t(s, dir, "events")
      val quart = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.25)").as("q1"),
          expr("percentile(value, 0.75)").as("q3"))
      ev.join(broadcast(quart), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          round(min(col("q1")), 6).as("q1"),
          round(min(col("q3")), 6).as("q3"),
          sum(when(
            col("value") < col("q1") - lit(1.5) * (col("q3") - col("q1"))
              || col("value") >
                col("q3") + lit(1.5) * (col("q3") - col("q1")),
            1).otherwise(0)).cast("long").as("n_outliers"))
        .orderBy("event_type")
    },

    // Per-GROUP frequency sketch: top-5 terms per language — the
    // grouped form of q_sketch_freq_topk (one live sketch per group key
    // in the hash-aggregate buffer). At 100 TB this is "top queries per
    // tenant" / "top tokens per language shard": group count × sketch
    // size bounds state, never group count × vocabulary.
    q("q_sketch_freq_by_lang",
      """WITH c AS (
        |  SELECT lang, term, COUNT(*) AS freq
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |r AS (SELECT lang, term, freq,
        |        ROW_NUMBER() OVER (PARTITION BY lang
        |          ORDER BY freq DESC, term) AS rn
        |      FROM c)
        |SELECT lang, term, CAST(freq AS BIGINT) AS freq
        |FROM r WHERE rn <= 5
        |ORDER BY lang, freq DESC, term""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
        .groupBy("lang")
        .agg(expr("freq_sketch_topk(term, 5)").as("tops"))
        .select(col("lang"), explode(col("tops")).as("t"))
        .select(col("lang"), col("t.term").as("term"),
          col("t.freq").as("freq"))
        .orderBy(col("lang"), col("freq").desc, col("term"))
    },

    // Bitwise aggregates (bit_and/bit_or/bit_xor — Hive 3 UDAFs): used
    // for permission-mask folds and presence bitmaps. Fully mergeable
    // (associative+commutative), so partial/final aggregation holds at
    // any partitioning — the xor in particular is the same trick the
    // connected-components fixpoint checksum uses.
    q("q_agg_bitwise",
      """SELECT l_returnflag,
        |  CAST(bit_and(l_orderkey) AS BIGINT) AS mask_and,
        |  CAST(bit_or(l_orderkey) AS BIGINT) AS mask_or,
        |  CAST(bit_xor(l_orderkey) AS BIGINT) AS mask_xor,
        |  CAST(bit_or(1 << (CAST(l_linenumber AS INT) % 7)) AS BIGINT)
        |    AS line_bitmap
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(bit_and(col("l_orderkey")).cast("long").as("mask_and"),
          bit_or(col("l_orderkey")).cast("long").as("mask_or"),
          bit_xor(col("l_orderkey")).cast("long").as("mask_xor"),
          expr("bit_or(shiftleft(1L, cast(l_linenumber % 7 as int)))")
            .cast("long").as("line_bitmap"))
        .orderBy("l_returnflag")
    },

    // DETERMINISTIC MODE (most-frequent value per group, min-value
    // tie-break). Built-in `mode()` is tie-nondeterministic in BOTH
    // engines — useless for a verified pipeline — so the argmax is
    // explicit: count per (group, value), then max(struct(cnt, -value))
    // picks highest count, lowest value on ties. Two partial/final
    // aggs, both map-side combining; the second input is
    // |group × distinct values|, already reduced.
    q("q_agg_mode",
      """WITH c AS (
        |  SELECT l_returnflag, l_quantity AS v, COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT l_returnflag, v, cnt,
        |        row_number() OVER (PARTITION BY l_returnflag
        |                           ORDER BY cnt DESC, v) AS rn
        |      FROM c)
        |SELECT l_returnflag,
        |  CAST(MAX(CASE WHEN rn = 1 THEN v END) AS DOUBLE) AS mode_qty,
        |  CAST(MAX(CASE WHEN rn = 1 THEN cnt END) AS BIGINT) AS mode_cnt,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity").as("v"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("l_returnflag")
        .agg(max(struct(col("cnt"), (-col("v")).as("nv"))).as("best"),
          count(lit(1)).cast("long").as("n_distinct"))
        .select(col("l_returnflag"),
          (-col("best.nv")).cast("double").as("mode_qty"),
          col("best.cnt").cast("long").as("mode_cnt"),
          col("n_distinct"))
        .orderBy("l_returnflag")
    },

    // ORDERED-SET aggregates (ANSI WITHIN GROUP — Spark 4 surface;
    // Hive's closest forms are collect_list+concat_ws and the
    // percentile UDAFs): listagg with DISTINCT + explicit ordering,
    // and percentile_cont / percentile_disc. Quantile fractions are
    // reciprocals of integers (0.25, 0.5) ON PURPOSE: for q = 1/k the
    // two engines' disc conventions (Spark: smallest value with
    // cume_dist ≥ q = ceil(nq); DuckDB: value at floor((n-1)q)+1)
    // provably pick the SAME element (an integer strictly between
    // (n-1)/k and n/k cannot exist), and cont interpolates on the
    // shared (n-1)q convention — rounded to 4 to absorb the last-ulp
    // interpolation order. 100 TB: listagg groups here are bounded
    // (≤5 distinct priorities); unbounded listagg at scale is the
    // same discipline as collect_list — bound the group first.
    q("q_agg_ordered_set",
      """SELECT o_orderstatus,
        |  string_agg(DISTINCT o_orderpriority, ','
        |             ORDER BY o_orderpriority) AS prios,
        |  ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50_cont,
        |  ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25_cont,
        |  quantile_disc(o_totalprice, 0.5) AS p50_disc,
        |  COUNT(*) AS n
        |FROM orders WHERE o_orderkey < 2000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) {
      (s, dir) =>
      scoped(s, "orders" -> t(s, dir, "orders").filter(col("o_orderkey") < 2000)) { v =>
        s.sql(
          s"""SELECT o_orderstatus,
             |  listagg(DISTINCT o_orderpriority, ',')
             |    WITHIN GROUP (ORDER BY o_orderpriority) AS prios,
             |  ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice),
             |        4) AS p50_cont,
             |  ROUND(percentile_cont(0.25) WITHIN GROUP (ORDER BY o_totalprice),
             |        4) AS p25_cont,
             |  percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)
             |    AS p50_disc,
             |  COUNT(*) AS n
             |FROM ${v("orders")}
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
      }
    },

    // PERSISTED exact-distinct bitmap ROLLUP (round 13): the
    // production pattern behind q_agg_bitmap_distinct's mergeable
    // blobs — a scheduled job materializes per-(event_type, DAY,
    // bucket) bitmap blobs into a day-partitioned parquet artifact
    // (ensureBitmapRollup below), and any date-range distinct-user
    // question is then answered ENTIRELY from the rollup: partition
    // pruning selects the day directories, bitmap_or_agg unions the
    // daily blobs, bitmap_count + SUM yields the EXACT distinct — raw
    // events are never re-scanned. This is the Druid-slice segment
    // pattern (day pruning + rollup answering) with exact bitmaps in
    // place of approximate sketches, and the exact counterpart of the
    // theta-sketch rollup's persisted-blob round trip. Oracle: plain
    // COUNT(DISTINCT) over the raw range. 100 TB: rollup size is
    // days × groups × buckets blobs (≤4 KB each) independent of event
    // count; the range query reads only pruned partitions.
    q("q_agg_bitmap_rollup",
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE CAST(ts AS DATE) >= DATE '2024-01-08'
        |  AND CAST(ts AS DATE) < DATE '2024-01-15'
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val store = ensureBitmapRollup(s, dir)
      scoped(s, "rollup" -> Artifact.read(s, store)
          .filter(col("day") >= lit("2024-01-08").cast("date") &&
            col("day") < lit("2024-01-15").cast("date"))) { v =>
        s.sql(
          s"""SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_users
             |FROM (
             |  SELECT event_type, bucket,
             |    bitmap_count(bitmap_or_agg(bm)) AS cnt
             |  FROM ${v("rollup")} GROUP BY event_type, bucket)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)
      }
    },

    // The INCREMENTALLY-MAINTAINED bitmap rollup (round 14): same
    // question shape as q_agg_bitmap_rollup but answered from the
    // artifact whose newest day partition was DELTA-APPENDED by
    // ensureBitmapRollupIncremental rather than rebuilt — and the
    // range deliberately includes that newest day, so a missing or
    // malformed appended partition flips the hash. The oracle is
    // plain COUNT(DISTINCT) over the raw range: maintenance mode must
    // be semantically invisible. 100 TB: the append scanned one day;
    // this query reads only pruned day directories of ≤4 KB blobs.
    q("q_agg_bitmap_rollup_delta",
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE CAST(ts AS DATE) >= DATE '2024-01-08'
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val store = ensureBitmapRollupIncremental(s, dir)
      scoped(s, "rollup" -> Artifact.read(s, store)
          .filter(col("day") >= lit("2024-01-08").cast("date"))) { v =>
        s.sql(
          s"""SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_users
             |FROM (
             |  SELECT event_type, bucket,
             |    bitmap_count(bitmap_or_agg(bm)) AS cnt
             |  FROM ${v("rollup")} GROUP BY event_type, bucket)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)
      }
    },

    // EXACT distinct counting via MERGEABLE roaring-style bitmaps
    // (round 13 — Spark 3.5's bitmap_* aggregate family, the engine
    // surface behind bitmap-index distinct counts; the EXACT
    // counterpart of the HLL sketch rollup, same blob-union shape as
    // Hive's ewah_bitmap UDAFs, [jar]
    // ql/udf/generic/GenericUDAFEwahBitmap.class): keys map to
    // (bucket = key div 32768, bit = key mod 32768); per
    // (group, bucket, SHARD) a bitmap_construct_agg builds a partial
    // bitmap, bitmap_or_agg UNIONS the shard partials (the mergeable
    // step a pre-aggregated rollup table relies on — deliberately
    // forced by the synthetic l_suppkey%4 shard key), and
    // bitmap_count + SUM over buckets yields the exact distinct. The
    // oracle is plain COUNT(DISTINCT) — the whole bitmap pipeline must
    // be semantically invisible. 100 TB: bitmap blobs are <=4 KB per
    // (group, bucket) regardless of row count; the or-merge is
    // associative, so partial aggregation bounds shuffle volume by
    // group×bucket cardinality, not rows — the same argument as the
    // sketch family but with EXACT answers.
    q("q_agg_bitmap_distinct",
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_distinct
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      scoped(s, "lineitem" -> t(s, dir, "lineitem")) { v =>
        s.sql(
          s"""SELECT l_returnflag, CAST(SUM(cnt) AS BIGINT) AS n_distinct
             |FROM (
             |  SELECT l_returnflag, bucket,
             |    bitmap_count(bitmap_or_agg(bm)) AS cnt
             |  FROM (
             |    SELECT l_returnflag,
             |      bitmap_bucket_number(l_partkey) AS bucket,
             |      bitmap_construct_agg(bitmap_bit_position(l_partkey)) AS bm
             |    FROM ${v("lineitem")}
             |    GROUP BY l_returnflag, bitmap_bucket_number(l_partkey),
             |      l_suppkey % 4)
             |  GROUP BY l_returnflag, bucket)
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      }
    })
}
