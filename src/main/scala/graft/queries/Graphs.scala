package graft.queries

import graft._
import graft.T._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph / record-linkage operators over relational data: weighted
  * PageRank on an aggregated transition graph, and blocked fuzzy
  * matching (the classic entity-resolution join).
  *
  * Scale notes (100 TB):
  *  - PageRank here follows the shape a real pipeline uses: the RAW
  *    edge log (events, corpus-sized) is reduced ONCE by a key shuffle
  *    into an aggregated weighted graph that is orders of magnitude
  *    smaller (distinct transition pairs, not transitions), and the
  *    iterative part runs on that aggregate with the rank vector
  *    BROADCAST into every join — no corpus-sized data ever moves
  *    after the first aggregation. For a graph whose aggregate is
  *    itself huge (web graph), the same loop holds with the broadcast
  *    replaced by a shuffle join on node id plus localCheckpoint
  *    lineage cuts, exactly as operators/ConnectedComponents does.
  *  - Fuzzy linkage NEVER goes all-pairs: candidate generation is an
  *    equi-join on a blocking key (here the (lang, source) stratum;
  *    for a 100 TB corpus a cheap canopy like soundex/prefix/LSH
  *    bucket), so the quadratic edit-distance work is confined inside
  *    blocks while the join itself is an ordinary shuffle join the
  *    optimizer can plan. The levenshtein kernel is a codegen'd
  *    built-in on a fixed-width prefix, bounding per-pair cost.
  */
object Graphs extends QueryPack {

  def defs: Seq[QueryDef] = Seq(

    // Weighted PageRank (damping 0.85, 3 iterations, uniform init) over
    // the event-type transition graph: an edge src->dst for each pair of
    // consecutive events of one user (ordered by exact nano timestamp,
    // event_id tie-break), weighted by transition count. Dangling nodes
    // (none in this data: every type transitions onward) would simply
    // leak their mass — the same non-normalized variant both engines
    // compute. Results rounded to 6dp; the per-node incoming sum has
    // <= |nodes| double terms so cross-engine addition-order drift is
    // ~1e-16, far below the rounding grain.
    q("q_graph_pagerank",
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY epoch_us(ts), event_id) AS src
        |  FROM events),
        |e AS (SELECT src, event_type AS dst, CAST(COUNT(*) AS DOUBLE) AS w
        |      FROM seq WHERE src IS NOT NULL GROUP BY 1, 2),
        |nodes AS (SELECT DISTINCT v
        |          FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        |ew AS (SELECT e.src, e.dst, e.w / o.ow AS frac
        |       FROM e JOIN (SELECT src, SUM(w) AS ow FROM e GROUP BY 1) o
        |         USING (src)),
        |p0 AS (SELECT v, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
        |p1 AS (SELECT nd.v,
        |         0.15 / (SELECT n FROM nn) + 0.85 * COALESCE(s.m, 0) AS pr
        |       FROM nodes nd LEFT JOIN (
        |         SELECT ew.dst AS v, SUM(p.pr * ew.frac) AS m
        |         FROM ew JOIN p0 p ON p.v = ew.src GROUP BY 1) s USING (v)),
        |p2 AS (SELECT nd.v,
        |         0.15 / (SELECT n FROM nn) + 0.85 * COALESCE(s.m, 0) AS pr
        |       FROM nodes nd LEFT JOIN (
        |         SELECT ew.dst AS v, SUM(p.pr * ew.frac) AS m
        |         FROM ew JOIN p1 p ON p.v = ew.src GROUP BY 1) s USING (v)),
        |p3 AS (SELECT nd.v,
        |         0.15 / (SELECT n FROM nn) + 0.85 * COALESCE(s.m, 0) AS pr
        |       FROM nodes nd LEFT JOIN (
        |         SELECT ew.dst AS v, SUM(p.pr * ew.frac) AS m
        |         FROM ew JOIN p2 p ON p.v = ew.src GROUP BY 1) s USING (v))
        |SELECT v AS node, ROUND(pr, 6) + 0.0 AS pagerank
        |FROM p3 ORDER BY node""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          // µs ordinal, not raw nanos: DuckDB's parquet read truncates
          // ts to µs, so µs is the finest ordering both engines share.
          expr("ts_ns div 1000").as("ts_us"), col("event_id"))
      val wspec = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      // ONE corpus-sized shuffle (by user_id, for the lag) + one reduce
      // (by edge) — everything after runs on the aggregated graph.
      val edges = ev.withColumn("src", lag(col("event_type"), 1).over(wspec))
        .filter(col("src").isNotNull)
        .groupBy(col("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).cast("double").as("w"))
      val nodes = edges.select(col("src").as("v"))
        .union(edges.select(col("dst"))).distinct()
      val nDf = nodes.agg(count(lit(1)).cast("double").as("nn"))
      val outw = edges.groupBy("src").agg(sum(col("w")).as("ow"))
      val ew = edges.join(outw, "src")
        .select(col("src"), col("dst"), (col("w") / col("ow")).as("frac"))
      var pr = nodes.crossJoin(broadcast(nDf))
        .select(col("v"), (lit(1.0) / col("nn")).as("pr"))
      for (_ <- 1 to 3) {
        val rv = pr.select(col("v").as("pv"), col("pr"))
        val contrib = ew.join(broadcast(rv), col("src") === col("pv"))
          .groupBy(col("dst")).agg(sum(col("pr") * col("frac")).as("m"))
        pr = nodes.crossJoin(broadcast(nDf))
          .join(broadcast(contrib), col("v") === col("dst"), "left")
          .select(col("v"),
            (lit(0.15) / col("nn") + lit(0.85) * coalesce(col("m"), lit(0.0)))
              .as("pr"))
      }
      pr.select(col("v").as("node"), round(col("pr"), 6).as("pagerank"))
        .orderBy("node")
    },

    // Blocked fuzzy linkage: candidate pairs ONLY within a (lang, source)
    // block (equi-join, no cartesian), matched when the 30-char text
    // prefixes are within levenshtein distance 8. Per-block accounting
    // with a pair checksum proving WHICH pairs linked. The distance is
    // computed once (projected before the threshold filter) via the
    // THRESHOLDED levenshtein built-in, whose banded DP costs O(k*n)
    // per pair and early-exits (returns -1) past the threshold.
    //
    // SCALE SHAPE (caught by the r9 sf10 hunt — 300.9 s at 100×, 47× per
    // 10×): (lang, source) is a FIXED ~100-block key, so block size grows
    // linearly with the corpus and in-block pairs quadratically — the
    // "blocking key frozen while data grew" bug. No SOUND sub-blocking
    // exists at τ=8 over 30-char prefixes (the q-gram count filter bound
    // L-q+1-τ·q = 27-32 is vacuous; PassJoin's τ+1=9 segments are 3
    // chars on a ~12-word vocabulary — selectivity ≈ 1), so the honest
    // production bound — what Splink/Dedupe document for oversized
    // blocks — is a deterministic per-block candidate cap: a HASH SAMPLE
    // of ~1000 docs per oversized block (kept iff h60(doc_id) % n_blk <
    // 1000 — exact integer math the oracle replays; unbiased, unlike a
    // first-K-by-id cut). Never binds at the oracle-checked SFs (max
    // block 112 at sf0.1). Implementation note: a row_number window cap
    // was tried first and measured 5× SLOWER than no cap at sf1 — the
    // window's 100-key hash exchange re-partitioned the JOIN PROBE side
    // into 32 straggler-prone tasks, while this filter form keeps the
    // probe scan-shaped (file-split parallelism) and folds the tiny
    // per-block count in as a broadcast. Full-coverage linkage at scale
    // = refine the blocking key (the knob this operator exposes), not
    // an unbounded quadratic.
    q("q_link_fuzzy_blocked",
      """WITH d AS (
        |  SELECT lang, source, doc_id, p FROM (
        |    SELECT lang, source, doc_id, substr(text, 1, 30) AS p,
        |      COUNT(*) OVER (PARTITION BY lang, source) AS n_blk
        |    FROM documents)
        |  WHERE n_blk <= 1000
        |     OR ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
        |          % n_blk < 1000),
        |pairs AS (
        |  SELECT a.lang, a.source, a.doc_id AS a_id, b.doc_id AS b_id,
        |         levenshtein(a.p, b.p) AS dist
        |  FROM d a JOIN d b
        |    ON a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id < b.doc_id
        |  WHERE levenshtein(a.p, b.p) <= 8)
        |SELECT lang, source, COUNT(*) AS n_links,
        |  CAST(MIN(dist) AS BIGINT) AS min_dist,
        |  CAST(SUM(a_id * 100000 + b_id) AS BIGINT) AS pair_checksum
        |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      // ~100-row per-block counts (lang × source is a fixed categorical
      // domain), broadcast back so the corpus side stays a filtered scan.
      val counts = docs.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_blk"))
      val d = docs
        .select(col("lang"), col("source"), col("doc_id"),
          substring(col("text"), 1, 30).as("p"))
        .join(broadcast(counts), Seq("lang", "source"))
        .filter(col("n_blk") <= 1000 ||
          h60(col("doc_id").cast("string")) % col("n_blk") < 1000)
        .drop("n_blk")
      val a = d.toDF("lang", "source", "a_id", "pa")
      val b = d.toDF("lang", "source", "b_id", "pb")
      a.join(b, Seq("lang", "source"))
        .filter(col("a_id") < col("b_id"))
        .withColumn("dist",
          levenshtein(col("pa"), col("pb"), 8).cast("long"))
        .filter(col("dist") >= 0)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_links"),
          min(col("dist")).as("min_dist"),
          sum(col("a_id") * 100000 + col("b_id")).cast("long")
            .as("pair_checksum"))
        .orderBy("lang", "source")
    },

    // Event FUNNEL (view -> click -> purchase, strictly ordered, 24h
    // completion window): each stage is "earliest qualifying event after
    // the previous stage's timestamp" — three chained conditional
    // window-mins over the SAME partition spec (user_id), so the whole
    // funnel costs ONE corpus scan and ONE shuffle (the naive
    // stage-join formulation re-scans events for every stage — measured
    // 6 scans/3 shuffles at 3 stages); the per-user stage flags then
    // collapse via a groupBy on the same key, which reuses the window's
    // partitioning without a new exchange (PlanSpec-style assertion in
    // GraphsSketchSpec). All time math is integer µs, so no float drift
    // can flip a stage.
    q("q_funnel_stages",
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |            FROM events),
        |v AS (SELECT user_id, MIN(us) AS v_us FROM ev
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.us) AS c_us, MIN(v.v_us) AS v_us
        |      FROM ev e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.us > v.v_us
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.us) AS p_us, MIN(c.v_us) AS v_us
        |      FROM ev e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.us > c.c_us
        |      GROUP BY e.user_id)
        |SELECT
        |  CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
        |  CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click_after,
        |  CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase_after,
        |  CAST((SELECT COUNT(*) FROM p
        |        WHERE p_us - v_us <= 86400000000) AS BIGINT)
        |    AS n_completed_24h""".stripMargin) { (s, dir) =>
      val wu = Window.partitionBy("user_id")
      val staged = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts_ns div 1000").as("us"))
        .withColumn("v_us",
          min(when(col("event_type") === "view", col("us"))).over(wu))
        .withColumn("c_us",
          min(when(col("event_type") === "click" &&
            col("us") > col("v_us"), col("us"))).over(wu))
        .withColumn("p_us",
          min(when(col("event_type") === "purchase" &&
            col("us") > col("c_us"), col("us"))).over(wu))
      // Stage flags are constant per user; the groupBy key matches the
      // window partitioning, so no second exchange is planned.
      staged.groupBy("user_id")
        .agg(min(col("v_us")).as("v_us"), min(col("c_us")).as("c_us"),
          min(col("p_us")).as("p_us"))
        .agg(
          count(col("v_us")).cast("long").as("n_view"),
          count(col("c_us")).cast("long").as("n_click_after"),
          count(col("p_us")).cast("long").as("n_purchase_after"),
          sum(when(col("p_us") - col("v_us") <= 86400000000L, 1)
            .otherwise(0)).cast("long").as("n_completed_24h"))
    },

    // Weekly COHORT RETENTION: users bucketed by the week of their first
    // event (relative to the corpus's first event), activity counted as
    // distinct users per (cohort_week, week_offset). The corpus origin
    // rides a broadcast 1-row aggregate; per-user first-touch is one
    // groupBy; all week math is integer µs division. Scale: the
    // (cohort, offset) matrix is tiny; the only corpus-sized moves are
    // the first-touch agg and the activity join — one user_id exchange
    // each (the join can't reuse the agg's exchange: its input is the
    // raw stream, not the aggregate) plus the matrix rollup.
    // Pre-bucketing events by user_id would eliminate both.
    q("q_cohort_retention",
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |u AS (SELECT user_id, MIN(us) AS first_us FROM ev GROUP BY user_id),
        |g AS (SELECT MIN(first_us) AS g0 FROM u),
        |coh AS (SELECT user_id, first_us,
        |          (first_us - (SELECT g0 FROM g)) // 604800000000
        |            AS cohort_week
        |        FROM u)
        |SELECT c.cohort_week,
        |  (e.us - c.first_us) // 604800000000 AS week_offset,
        |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM ev e JOIN coh c ON e.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val wk = 604800000000L
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr("ts_ns div 1000").as("us"))
      val u = ev.groupBy("user_id").agg(min(col("us")).as("first_us"))
      val g = u.agg(min(col("first_us")).as("g0"))
      val coh = u.crossJoin(broadcast(g))
        .select(col("user_id"), col("first_us"),
          expr(s"(first_us - g0) div $wk").as("cohort_week"))
      ev.join(coh, "user_id")
        .select(col("cohort_week"),
          expr(s"(us - first_us) div $wk").as("week_offset"),
          col("user_id"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct(col("user_id")).cast("long").as("n_users"))
        .orderBy("cohort_week", "week_offset")
    },

    // TRIANGLE COUNTING over the part co-purchase graph (parts sharing
    // an order, p_size >= 47 bounds the projection) — the classic
    // graph-metric shuffle workload. Spark side uses DEGREE-ORDERED
    // ORIENTATION (Suri & Vassilvitskii, WWW'11): each undirected edge
    // points low-degree → high-degree, wedges are enumerated only at
    // their lowest-degree apex, and each triangle is counted exactly
    // once. At 100 TB this is THE difference between feasible and not:
    // wedge volume drops from Σdeg² (quadratic in the hub degree — a
    // celebrity node alone can emit 10^12 wedges) to Σ out-deg², with
    // out-degree bounded by O(√m) under this orientation. The oracle
    // enumerates by id order instead — same triangle set, any order.
    q("q_graph_triangles",
      """WITH items AS (
        |  SELECT DISTINCT l.l_orderkey AS okey, l.l_partkey AS pk
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE p.p_size >= 47),
        |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
        |      FROM items a JOIN items b
        |        ON a.okey = b.okey AND a.pk < b.pk),
        |deg AS (SELECT n, COUNT(*) AS dg FROM (
        |          SELECT u AS n FROM e UNION ALL SELECT v FROM e)
        |        GROUP BY n),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |        FROM e e1 JOIN e e2 ON e2.u = e1.v
        |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
        |  CAST((SELECT SUM(dg * (dg - 1)) // 2 FROM deg) AS BIGINT)
        |    AS n_wedges,
        |  CAST(COUNT(*) AS BIGINT) AS n_triangles,
        |  CAST(COALESCE(SUM(a + b + c), 0) AS BIGINT) AS vertex_checksum,
        |  ROUND(3.0 * COUNT(*) /
        |    (SELECT SUM(dg * (dg - 1)) // 2 FROM deg), 6)
        |    AS clustering_coeff
        |FROM tri""".stripMargin) { (s, dir) =>
      val items = t(s, dir, "lineitem")
        .join(t(s, dir, "part").filter(col("p_size") >= 47),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk"))
        .distinct()
      // NB: the self-join below reads `items` twice but plans ONE
      // exchange — ReuseExchange covers identical subtrees; a
      // localCheckpoint here measured SLOWER (materialize + two fresh
      // exchanges vs one reused).
      val e = items.as("a").join(items.as("b"),
          col("a.okey") === col("b.okey") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v"))
        .distinct()
        .transform(T.scratch) // 3 consumers: degrees, wedges, closing probe
      val deg = e.select(explode(array(col("u"), col("v"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("dg"))
      // Orient low-degree → high-degree (id tie-break): hub nodes get
      // near-zero out-degree, so the wedge self-join below never
      // explodes at a hub.
      // No broadcast hint on deg: the degree table is |V| rows — it
      // grows with the graph. AQE broadcasts it while small,
      // shuffle-joins at scale.
      val ed = e
        .join(deg.withColumnRenamed("n", "u")
          .withColumnRenamed("dg", "du"), "u")
        .join(deg.withColumnRenamed("n", "v")
          .withColumnRenamed("dg", "dv"), "v")
        .select(when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
            struct(col("u").as("x"), col("v").as("y")))
          .otherwise(struct(col("v").as("x"), col("u").as("y"))).as("o"))
        .select(col("o.x").as("x"), col("o.y").as("y"))
      val wedges = ed.as("e1").join(ed.as("e2"),
          col("e1.x") === col("e2.x") && col("e1.y") < col("e2.y"))
        .select(col("e1.x").as("apex"),
          col("e1.y").as("y1"), col("e2.y").as("y2"))
      val tri = wedges.join(e,
        least(col("y1"), col("y2")) === col("u") &&
          greatest(col("y1"), col("y2")) === col("v"))
      val nE = e.agg(count(lit(1)).cast("long").as("n_edges"))
      val nW = deg.agg(sum(expr("dg * (dg - 1) div 2")).cast("long")
        .as("n_wedges"))
      val tAgg = tri.agg(count(lit(1)).cast("long").as("n_triangles"),
        coalesce(sum(col("apex") + col("y1") + col("y2")), lit(0L))
          .cast("long").as("vertex_checksum"))
      nE.crossJoin(nW).crossJoin(tAgg)
        .withColumn("clustering_coeff",
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6))
    },

    // DEGREE-DISTRIBUTION audit of the same co-purchase graph: node
    // counts per power-of-two degree bucket — the power-law check that
    // decides whether a graph workload needs hub-aware treatment
    // (degree-ordered orientation, hub salting) before any join is
    // planned. Bucket = floor(log2(deg)) computed INTEGER-EXACTLY as
    // length(bin(deg)) - 1: both engines agree on the binary string,
    // while floor(log2(x)) in doubles can disagree by 1 ulp exactly at
    // the bucket boundaries. Two shuffles total (edge dedup, degree
    // count); the bucket rollup is |buckets|-sized.
    q("q_graph_degree_hist",
      """WITH items AS (
        |  SELECT DISTINCT l.l_orderkey AS okey, l.l_partkey AS pk
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE p.p_size >= 47),
        |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
        |      FROM items a JOIN items b
        |        ON a.okey = b.okey AND a.pk < b.pk),
        |deg AS (SELECT n, COUNT(*) AS dg FROM (
        |          SELECT u AS n FROM e UNION ALL SELECT v FROM e)
        |        GROUP BY n)
        |SELECT CAST(length(bin(dg)) - 1 AS INT) AS log2_degree,
        |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  CAST(MIN(dg) AS BIGINT) AS min_degree,
        |  CAST(MAX(dg) AS BIGINT) AS max_degree,
        |  CAST(SUM(dg) AS BIGINT) AS degree_mass
        |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val items = t(s, dir, "lineitem")
        .join(t(s, dir, "part").filter(col("p_size") >= 47),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk"))
        .distinct()
      // NB: the self-join below reads `items` twice but plans ONE
      // exchange — ReuseExchange covers identical subtrees; a
      // localCheckpoint here measured SLOWER (materialize + two fresh
      // exchanges vs one reused).
      val e = items.as("a").join(items.as("b"),
          col("a.okey") === col("b.okey") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v"))
        .distinct()
      e.select(explode(array(col("u"), col("v"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("dg"))
        .groupBy((length(bin(col("dg"))) - 1).cast("int")
          .as("log2_degree"))
        .agg(count(lit(1)).cast("long").as("n_nodes"),
          min(col("dg")).cast("long").as("min_degree"),
          max(col("dg")).cast("long").as("max_degree"),
          sum(col("dg")).cast("long").as("degree_mass"))
        .orderBy("log2_degree")
    },

    // SESSION ASSEMBLY — turn a per-user event log into ordered training
    // EPISODES (the chat-log -> training-sequence step of an interaction
    // pipeline): sessionize by 30-minute inactivity gap (gaps-and-islands,
    // not fixed windows), then concatenate each session's event types in
    // exact event order into one episode string, truncated to the first
    // 12 steps. Ordering is µs ordinals + event_id tie-break, identical
    // in both engines (ns would disagree: DuckDB's parquet read already
    // truncated to µs).
    // Scale: ONE shuffle total - the lag window hashes by user_id, and
    // every later step (island sum, per-session row_number, the session
    // agg) reuses that partitioning (user_id is a subset of each key
    // set, so Catalyst plans no further exchange). The episode agg
    // buffer is BOUNDED: rows beyond step 12 enter as NULL (collect_list
    // drops them), so a runaway bot session costs nothing - n_events
    // still counts every row map-side.
    q("q_sessions_assemble",
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, event_type, us,
        |    CASE WHEN LAG(us) OVER w IS NULL
        |              OR us - LAG(us) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |t AS (
        |  SELECT *, CAST(SUM(is_new) OVER (
        |      PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM s),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY user_id, session_id ORDER BY us, event_id) AS rn
        |  FROM t)
        |SELECT user_id, session_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  MIN(us) AS start_us, MAX(us) - MIN(us) AS dur_us,
        |  array_to_string(
        |    list(event_type ORDER BY us, event_id) FILTER (WHERE rn <= 12),
        |    '>') AS episode
        |FROM r GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts_ns div 1000").as("us"))
      val sess = ev
        .withColumn("is_new",
          when(lag(col("us"), 1).over(byUser).isNull ||
            col("us") - lag(col("us"), 1).over(byUser) > 1800000000L, 1)
            .otherwise(0))
        .withColumn("session_id",
          sum(col("is_new")).over(byUser.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)).cast("long"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id", "session_id")
            .orderBy(col("us"), col("event_id"))))
      sess.groupBy("user_id", "session_id")
        .agg(count(lit(1)).cast("long").as("n_events"),
          min(col("us")).as("start_us"),
          (max(col("us")) - min(col("us"))).as("dur_us"),
          // collect_list skips the NULLs the rn-cap injects, so the
          // buffer holds <= 12 structs per session; array_sort restores
          // event order (collect order is partition-nondeterministic).
          concat_ws(">", expr(
            "transform(array_sort(collect_list(" +
              "CASE WHEN rn <= 12 THEN struct(us, event_id, event_type) " +
              "END)), x -> x.event_type)")).as("episode"))
        .orderBy("user_id", "session_id")
    })
}
