package graft.queries

import graft._
import graft.T._
import graft.operators.Artifact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a large-scale training-data pipeline
  * (north star, SURVEY.md §7 stage G): exact dedup, deterministic
  * keep-first dedup, MinHash-LSH near-dup with exact Jaccard re-scoring,
  * SimHash near-dup, and exact n-gram Jaccard pair similarity.
  *
  * Scale notes (100 TB):
  * - Exact dedup is a hash groupBy on a 128-bit fingerprint (never on the
  *   full text — shuffle keys stay 16 bytes regardless of document size).
  * - Near-dup NEVER does all-pairs: MinHash signatures (24 hashes) are
  *   banded (12 bands × 2 rows) and candidates come from a groupBy-band
  *   bucket join; the quadratic step is confined to within-bucket pairs.
  *   A per-bucket cap guards against a degenerate bucket (mass-duplicated
  *   boilerplate) blowing up one task — the standard skew guard.
  * - Exact Jaccard re-scoring joins candidate pairs back to the shingle
  *   sets (shuffle join on doc_id, materialized once) and compares with
  *   INTEGER math (10*|∩| >= 8*|∪| ⇔ J >= 0.8) — no float drift between
  *   engines, no rounding at the decision boundary.
  */
object Dedup extends QueryPack {

  /** doc_id, shingles: distinct 3-gram word shingles per document. */
  private def shingleDf(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), expr(
        "array_distinct(transform(sequence(1, size(w) - 2)," +
          " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)," +
          " ' ', element_at(w, i + 2))))").as("shingles"))

  /** Session-scoped memo for the shared dedup artifacts (pair graph,
    * component labels). A real pipeline materializes the LSH pair graph
    * ONCE and feeds every downstream consumer — pair audit, clustering,
    * survivor selection, keep-best — from the same artifact; recomputing
    * the candidate join per consumer is the single biggest waste at
    * 100 TB (on a cluster this is a persisted table; in one JVM it's a
    * [[T.keep]] checkpoint; the build's own checkpoints are scratch).
    * Keyed per (session, artifact, dir), WeakHashMap on the session so
    * a closed session's entries are collectable. An entry is valid for
    * one [[T.contentTag]] of documents: a rewritten table rebuilds it
    * and hands the superseded checkpoint to the rebuilding statement.
    * Contents are deterministic, so first-compute vs reuse is
    * result-invariant.
    */
  private val memo = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.Map[(String, String), (String, DataFrame)]]

  private def materialized(s: SparkSession, artifact: String, dir: String)(
      build: => DataFrame): DataFrame = memo.synchronized {
    val m = memo.computeIfAbsent(s, _ => scala.collection.mutable.Map.empty)
    val tag = T.contentTag(dir, "documents")
    m.get((artifact, dir)) match {
      case Some((`tag`, df)) => df
      case _ =>
        val df = T.keep(build)
        m.put((artifact, dir), (tag, df)).foreach { case (_, old) => T.own(old) }
        df
    }
  }

  /** MinHash-LSH near-dup pairs: 24 minhash sigs → 12 bands × 2 →
    * capped bucket join → exact Jaccard >= 0.8 rescore (integer math).
    * Shared by q_dedup_minhash (emits the pairs) and the component/
    * survivor family (clusters them). Columns: a_id, b_id, n_inter,
    * n_union; unsorted. Materialized once per (session, dir, content).
    */
  private def minhashPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    materialized(s, "pairs", dir) { minhashPairsBuild(s, dir) }

  /** Component labels over the pair graph — the second shared artifact
    * (three consumers: components, survivors, keep-best).
    */
  private[queries] def pairComponents(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    materialized(s, "comp", dir) {
      ConnectedComponents.label(
        minhashPairs(s, dir).select("a_id", "b_id"), "a_id", "b_id")
    }

  private def minhashPairsBuild(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    // Three consumers (signature pass + both rescore sides): shingle
    // the corpus once, not three times.
    val sh = shingleDf(s, dir).transform(T.scratch)
    // 24 minhash signatures — ONE shingle-array pass via the native
    // minhash_sigs kernel (functions/MinHashSigs.scala); bit-identical
    // to min-over-xxhash64(k, v) per k, minus 23 array traversals and
    // all the intermediate hash arrays.
    val sig = sh.select(col("doc_id"),
      expr("minhash_sigs(shingles, 24)").as("sigs"))
    // 12 bands × 2 rows: band hash = hash of the band's signature pair
    // (element_at is 1-based).
    val bandCols = (0 until 12).map(b =>
      struct(lit(b).as("band"),
        expr(s"xxhash64(element_at(sigs, ${2 * b + 1}), " +
          s"element_at(sigs, ${2 * b + 2}))").as("h")))
    val banded = sig.select(col("doc_id"),
      explode(array(bandCols: _*)).as("bh"))
      .select(col("doc_id"), col("bh.band").as("band"), col("bh.h").as("h"))
    // Skew guard: cap candidate buckets (degenerate boilerplate bucket
    // would otherwise make one task quadratic). Keep the FIRST 1000
    // members by doc_id rather than dropping the whole bucket — an
    // oversized bucket degrades (its first 1000 docs still pair up)
    // instead of silently losing every candidate inside it, and the
    // choice is deterministic so verified-green stays green.
    // (r15 note: a collect_topk aggregate form of this cap measured
    // 1.1-2× SLOWER at sf0.1 and loses at any scale — band hashes are
    // near-unique, so per-(band,h) groups hold ~1 row and partial
    // aggregation reduces nothing while paying boxed typed-imperative
    // buffers per group; the window's codegen sort over the same
    // skinny rows spills gracefully and IS the right shape here.)
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "h").orderBy("doc_id")
    val capped = banded.withColumn("rnk", row_number().over(wb))
      .filter(col("rnk") <= 1000).drop("rnk")
    // Identical subtree on both sides of the bucket self-join →
    // ReuseExchange shares the one shuffle; checkpointing here measured
    // slower (forces a materialize plus two fresh exchanges).
    val l = capped.as("l")
    val r = capped.as("r")
    val cand = l.join(r,
        col("l.band") === col("r.band") && col("l.h") === col("r.h") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"))
      .distinct()
    // Exact re-score on the shingle sets; integer-math threshold. The
    // kernel is the native one-pass JaccardParts expression (codegen'd
    // — halves per-pair allocation vs array_intersect+array_union).
    val sa = sh.select(col("doc_id").as("a_id"), col("shingles").as("sa"))
    val sb = sh.select(col("doc_id").as("b_id"), col("shingles").as("sb"))
    cand.join(sa, "a_id").join(sb, "b_id")
      .withColumn("jp", expr("jaccard_parts(sa, sb)"))
      .withColumn("n_inter", expr("shiftright(jp, 32)").cast("int"))
      .withColumn("n_union", (col("jp").bitwiseAND(0xFFFFFFFFL)).cast("int"))
      .filter(col("n_inter") * 10 >= col("n_union") * 8)
      .select("a_id", "b_id", "n_inter", "n_union")
  }

  /** 12×2-banded signature rows (id, band, h) for an LSH probe/build:
    * 24 minhash sigs per doc (one native-kernel array pass), band hash
    * = xxhash64 of the band's signature pair. Shared by the in-session
    * pair pipeline and the persisted-index build/probe below.
    */
  private def bandedSigs(df: org.apache.spark.sql.DataFrame,
      idAlias: String): org.apache.spark.sql.DataFrame = {
    val sig = df.select(col("doc_id"),
      expr("minhash_sigs(shingles, 24)").as("sigs"))
    val bandCols = (0 until 12).map(b =>
      struct(lit(b).as("band"),
        expr(s"xxhash64(element_at(sigs, ${2 * b + 1}), " +
          s"element_at(sigs, ${2 * b + 2}))").as("h")))
    sig.select(col("doc_id").as(idAlias),
        explode(array(bandCols: _*)).as("bh"))
      .select(col(idAlias), col("bh.band").as("band"), col("bh.h").as("h"))
  }

  /** Persisted LSH postings index over the standing corpus (doc_id %
    * 10 != 7 — "everything ingested before today"): (band, h, c_id)
    * rows, bucket-capped at 1000 members (deterministic by id — the
    * same skew guard as the in-session pair join). This is the
    * production artifact shape for CONTINUOUS near-dup dedup: the
    * index is built once by a scheduled job (and extended by appending
    * each accepted batch's postings); daily batches only PROBE it.
    * One artifact per documents content.
    */
  private[graft] def ensureLshIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Artifact.derive(s, "lshidx", dir, "documents") { out =>
      val corpus = shingleDf(s, dir)
        .filter(pmod(col("doc_id"), lit(10)) =!= 7)
      val banded = bandedSigs(corpus, "c_id")
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy("band", "h").orderBy("c_id")
      // Two consumers (cap audit + the write) RECOMPUTE this plan
      // rather than sharing a checkpoint: the banded postings frame is
      // corpus-sized (12 rows/doc pre-cap), and pinning it in block
      // storage is exactly what broke the sf30 one-box build. Same
      // rule as q_dedup_containment's r8 rework — corpus-sized
      // intermediates are recomputed, never materialized; only
      // model-sized artifacts may checkpoint.
      val ranked = banded.withColumn("rnk", row_number().over(wb))
      // No-silent-caps: postings past the 1000/bucket skew guard are
      // DROPPED (a probe can miss a true J>=0.8 pair whose only shared
      // bucket was capped — beyond the documented (1-s^2)^12 LSH miss
      // bound), so the build RECORDS what it truncated: a sidecar
      // written before the postings plus a stdout line.
      val capped = ranked.filter(col("rnk") > 1000)
        .agg(countDistinct(struct(col("band"), col("h"))).as("buckets"),
          count(lit(1)).as("postings"))
        .collect()(0)
      val (cb, cp) = (capped.getLong(0), capped.getLong(1))
      // sidecar under its own prefix (graft_lshcap_) so directory scans
      // over graft_lshidx_* keep seeing only the index directory
      val meta = new java.io.PrintWriter(
        Artifact.path("lshcap", dir, "documents") + ".json", "UTF-8")
      try meta.print(s"""{"cap": 1000, "capped_buckets": $cb, """ +
        s""""dropped_postings": $cp}""")
      finally meta.close()
      println(s"[graft] lsh index build: $cb buckets hit the 1000-cap" +
        s" ($cp postings dropped)")
      ranked.filter(col("rnk") <= 1000).drop("rnk").write.parquet(out)
    }

  def defs: Seq[QueryDef] = Seq(

    // Exact dedup accounting: rows vs distinct texts per source. The
    // fingerprint (md5) is what shuffles, not the text.
    q("q_dedup_exact",
      """SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT md5(text)) AS n_distinct,
        |  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dups
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_distinct"),
          (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dups"))
        .orderBy("source")
    },

    // Deterministic keep-first dedup: keeper = lowest doc_id per distinct
    // text (row_number over the fingerprint) — dropDuplicates semantics
    // made deterministic. Checksum columns prove WHICH rows survived.
    q("q_dedup_keepfirst",
      """SELECT lang, COUNT(*) AS kept, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        |FROM (SELECT * FROM documents
        |      QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text)
        |                                 ORDER BY doc_id) = 1)
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      // Keeper = min(struct(doc_id, lang)) per fingerprint (r15: was a
      // row_number window over the FULL documents table — every column
      // incl. text rode the partition sort; the aggregate shuffles only
      // (md5, doc_id, lang) with map-side combine and no sort at all).
      // doc_id is unique, so min-struct IS the rank-1 row of the old
      // window; the keeper's lang rides the struct.
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(struct(col("doc_id"), col("lang"))).as("keep"))
        .groupBy(col("keep.lang").as("lang"))
        .agg(count(lit(1)).as("kept"),
          sum(col("keep.doc_id")).as("id_checksum"))
        .orderBy("lang")
    },

    // MinHash-LSH near-dup: shingle → 24 minhash sigs → 12 bands × 2 →
    // bucket join → candidate pairs → exact Jaccard >= 0.8 (integer
    // compare). Oracle = exact all-pairs Jaccard (feasible at oracle SF;
    // the LSH path finds the same pairs with band-miss probability
    // (1-s²)^12 < 1e-5 at s=0.8, and it's deterministic — verified green
    // means always green).
    q("q_dedup_minhash",
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
        |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  len(list_intersect(a.s, b.s)) AS n_inter,
        |  len(list_distinct(a.s || b.s)) AS n_union
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE 10 * len(list_intersect(a.s, b.s))
        |      >= 8 * len(list_distinct(a.s || b.s))
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      minhashPairs(s, dir).orderBy("a_id", "b_id")
    },

    // Near-dup CLUSTERING: the stage after pair-finding in a real dedup
    // pipeline — near-dup pairs form a graph, the unit of dedup is its
    // connected component (transitive closure: if A~B and B~C, one of
    // {A,B,C} survives even though A~C may be below threshold). Spark
    // side: relational large-star/small-star rounds over the LSH
    // pair graph; oracle: exact all-pairs Jaccard + a recursive CTE.
    // Scale (100 TB): the pair graph is SPARSE (LSH output, not
    // all-pairs), and the components operator runs alternating
    // large-star/small-star rounds (O(log n) even on degenerate
    // chains — see operators/ConnectedComponents.scala), each round
    // ordinary node-id shuffles with lineage cut by localCheckpoint.
    q("q_dedup_components",
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
        |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE 10 * len(list_intersect(a.s, b.s))
        |        >= 8 * len(list_distinct(a.s || b.s))),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(node, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r),
        |comp AS (SELECT node, MIN(r) AS comp_id FROM reach GROUP BY node)
        |SELECT comp_id, COUNT(*) AS n_members,
        |  CAST(SUM(node) AS BIGINT) AS id_checksum,
        |  string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members
        |FROM comp GROUP BY comp_id ORDER BY comp_id""".stripMargin) { (s, dir) =>
      // Pair graph → min-id components (see
      // operators/ConnectedComponents.scala for the star rounds and
      // their fixpoint/scale story).
      val comp = pairComponents(s, dir)
      comp.groupBy("comp_id")
        .agg(count(lit(1)).as("n_members"),
          sum(col("node")).cast("long").as("id_checksum"),
          expr("concat_ws(',', transform(sort_array(collect_list(node))," +
            " x -> cast(x as string)))").as("members"))
        .orderBy("comp_id")
    },

    // Near-dup SURVIVOR SELECTION — the dedup capstone: pairs →
    // components → ONE survivor per component (the min doc_id, i.e. the
    // component label itself) → per-source accounting of the kept
    // corpus. This is the query a real pipeline actually materializes:
    // everything upstream exists to decide WHICH rows to drop here.
    // Scale (100 TB): `dropped` is tiny relative to the corpus (only
    // non-survivor members of near-dup components), so the final join
    // is a broadcast semi-style probe over the corpus scan — the
    // full documents table is never shuffled. dropped_checksum proves
    // WHICH rows were dropped, not just how many.
    q("q_dedup_survivors",
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
        |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE 10 * len(list_intersect(a.s, b.s))
        |        >= 8 * len(list_distinct(a.s || b.s))),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(node, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r),
        |comp AS (SELECT node, MIN(r) AS comp_id FROM reach GROUP BY node),
        |dropped AS (SELECT node FROM comp WHERE node <> comp_id)
        |SELECT d.source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN dr.node IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(SUM(COALESCE(dr.node, 0)) AS BIGINT) AS dropped_checksum
        |FROM documents d LEFT JOIN dropped dr ON dr.node = d.doc_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
      val dropped = pairComponents(s, dir)
        .filter(col("node") =!= col("comp_id"))
        .select("node")
      // No broadcast hint on dropped: at a constant dup RATE the
      // non-survivor set grows linearly with the corpus — AQE
      // broadcasts it while small, shuffle-joins at scale.
      t(s, dir, "documents")
        .join(dropped, col("doc_id") === col("node"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("node").isNull, 1).otherwise(0)).cast("long")
            .as("n_kept"),
          sum(coalesce(col("node"), lit(0L))).cast("long")
            .as("dropped_checksum"))
        .orderBy("source")
    },

    // CONTAINMENT dedup — the asymmetric case Jaccard MISSES: a short
    // doc embedded verbatim in a long one has high containment
    // |A∩B|/min(|A|,|B|) but low Jaccard (the union is dominated by the
    // long doc). Integer-math threshold (10*inter >= 9*min) on the
    // one-pass JaccardParts kernel; n_asymmetric counts the pairs ONLY
    // this operator catches (containment-pass, Jaccard-fail).
    // CANDIDATES are ANCHOR-BLOCKED, never all-pairs: each doc's anchor
    // = its min-portable-hash shingle, and a pair is a candidate when
    // one side's anchor appears in the other's shingle index (equi-join
    // on (lang, shingle-hash), postings capped at 1000 per key — the
    // same hot-bucket guard as the MinHash bands). A containment pair
    // shares >= 90% of the smaller set, so its anchor is shared with
    // >= ~90% probability — the residual tail is what q_dedup_spans's
    // fingerprint pass exists for. At 100 TB this replaces the
    // O(n²/langs) pair join (33 s at sf0.1, quadratically worse beyond)
    // with one explode + two equi-shuffles.
    q("q_dedup_containment",
      """WITH sh AS (
        |  SELECT lang, doc_id,
        |    list_distinct(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM (SELECT lang, doc_id, string_split(text, ' ') AS w
        |        FROM documents)
        |  WHERE len(w) >= 3),
        |hx AS (SELECT lang, doc_id,
        |         ('0x' || substr(md5(unnest(s)), 1, 15))::BIGINT AS h
        |       FROM sh),
        |hxc AS (SELECT lang, doc_id, h FROM (
        |          SELECT lang, doc_id, h,
        |            row_number() OVER (PARTITION BY lang, h
        |                               ORDER BY doc_id) AS rn
        |          FROM hx) WHERE rn <= 1000),
        |anch AS (SELECT lang, doc_id, MIN(h) AS ah FROM hx GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.lang,
        |    LEAST(a.doc_id, p.doc_id) AS a_id,
        |    GREATEST(a.doc_id, p.doc_id) AS b_id
        |  FROM anch a JOIN hxc p
        |    ON p.lang = a.lang AND p.h = a.ah AND p.doc_id <> a.doc_id),
        |p AS (
        |  SELECT c.lang, c.a_id, c.b_id,
        |    len(list_intersect(x.s, y.s)) AS ni,
        |    len(list_distinct(x.s || y.s)) AS nu,
        |    LEAST(len(x.s), len(y.s)) AS mn
        |  FROM cand c JOIN sh x ON x.doc_id = c.a_id
        |              JOIN sh y ON y.doc_id = c.b_id)
        |SELECT lang, COUNT(*) AS n_pairs,
        |  CAST(SUM(CASE WHEN 10 * ni < 8 * nu THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_asymmetric,
        |  CAST(SUM(a_id * 100000 + b_id) AS BIGINT) AS pair_checksum
        |FROM p WHERE 10 * ni >= 9 * mn
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      // RECOMPUTED per consumer, never materialized (SCALE.md round-8
      // rule): an earlier version localCheckpointed the corpus with its
      // shingle-string AND hash arrays — several × corpus size in block
      // storage, which the 100× scale point measured as the dominant
      // cost. The index stream explodes POSITIONS and hashes each
      // shingle as a SCALAR expression AFTER the explode — a
      // `transform(..., g -> md5(g))` array lambda runs interpreted
      // (higher-order functions have no codegen), measured ~12 µs per
      // md5 vs ~1 µs for the identical scalar post-explode; this is
      // also exactly the shape the DuckDB oracle replays (unnest, then
      // hash per row). Per-doc shingle DISTINCTNESS (the oracle's
      // list_distinct) becomes a relational dropDuplicates on
      // (lang, doc_id, h) — a skinny 8-byte-hash shuffle with map-side
      // combine, the same thing any distributed inverted-index build
      // does. Only the two rescore sides build the string-array form.
      val grams = t(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 3)
        .select(col("lang"), col("doc_id"), col("w"),
          explode(expr("sequence(1, size(w) - 2)")).as("i"))
        .select(col("lang"), col("doc_id"),
          concat(element_at(col("w"), col("i")), lit(" "),
            element_at(col("w"), col("i") + 1), lit(" "),
            element_at(col("w"), col("i") + 2)).as("g"))
        .select(col("lang"), col("doc_id"),
          expr("CAST(conv(substr(md5(g), 1, 15), 16, 10) AS BIGINT)")
            .as("h"))
      val hx = grams.dropDuplicates("lang", "doc_id", "h")
      // (r15: collect_topk here measured 6.8× slower at sf0.1 — shingle
      // hashes are near-unique so groups hold ~1 row; see the
      // minhashPairsBuild cap note. The rank window stays.)
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy("lang", "h").orderBy("doc_id")
      val hxc = hx.withColumn("rn", row_number().over(wb))
        .filter(col("rn") <= 1000).drop("rn")
      // Anchor = min shingle hash per doc; min is duplicate-blind, so
      // it aggregates the raw gram stream with map-side combine (no
      // dependence on the dedup shuffle).
      val anch = grams.groupBy("lang", "doc_id")
        .agg(min(col("h")).as("ah"))
      def shingles = t(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 3)
        .select(col("lang"), col("doc_id"), expr(
          "array_distinct(transform(sequence(1, size(w) - 2)," +
            " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)," +
            " ' ', element_at(w, i + 2))))").as("s"))
      val postings = hxc.select(col("lang").as("p_lang"),
        col("doc_id").as("p_id"), col("h").as("p_h"))
      val cand = anch.join(postings,
          col("p_lang") === col("lang") && col("p_h") === col("ah") &&
            col("p_id") =!= col("doc_id"))
        .select(col("lang"),
          least(col("doc_id"), col("p_id")).as("a_id"),
          greatest(col("doc_id"), col("p_id")).as("b_id"))
        .distinct()
      val x = shingles.select(col("doc_id").as("a_id"), col("s").as("sa"))
      val y = shingles.select(col("doc_id").as("b_id"), col("s").as("sb"))
      cand.join(x, "a_id").join(y, "b_id")
        .withColumn("jp", expr("jaccard_parts(sa, sb)"))
        .withColumn("ni", expr("shiftright(jp, 32)").cast("int"))
        .withColumn("nu", col("jp").bitwiseAND(0xFFFFFFFFL).cast("int"))
        .withColumn("mn", least(size(col("sa")), size(col("sb"))))
        .filter(col("ni") * 10 >= col("mn") * 9)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("ni") * 10 < col("nu") * 8, 1).otherwise(0))
            .cast("long").as("n_asymmetric"),
          sum(col("a_id") * 100000 + col("b_id")).cast("long")
            .as("pair_checksum"))
        .orderBy("lang")
    },

    // KEEP-BEST survivor selection (the RefinedWeb refinement of
    // q_dedup_survivors): within each near-dup component keep the
    // HIGHEST-QUALITY member — longest doc, doc_id as the deterministic
    // tie-break — not the arbitrary min-id. Spark side: argmax as
    // max(struct(quality, -doc_id)) — one partial/final agg over the
    // tiny component relation joined to per-doc stats; no window, no
    // second pass. The full corpus never shuffles: component labels are
    // LSH-sparse and ride a broadcast.
    q("q_dedup_keep_best",
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
        |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE 10 * len(list_intersect(a.s, b.s))
        |        >= 8 * len(list_distinct(a.s || b.s))),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(node, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r),
        |comp AS (SELECT node, MIN(r) AS comp_id FROM reach GROUP BY node),
        |ranked AS (
        |  SELECT c.comp_id, c.node, d.n_chars,
        |    row_number() OVER (PARTITION BY c.comp_id
        |      ORDER BY d.n_chars DESC, c.node) AS rn
        |  FROM comp c JOIN documents d ON d.doc_id = c.node)
        |SELECT comp_id, CAST(COUNT(*) AS BIGINT) AS n_members,
        |  CAST(MAX(CASE WHEN rn = 1 THEN node END) AS BIGINT)
        |    AS best_id,
        |  CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
        |    AS best_chars
        |FROM ranked GROUP BY comp_id ORDER BY comp_id""".stripMargin) {
      (s, dir) =>
      val comp = pairComponents(s, dir)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      comp.join(docs, col("node") === col("doc_id"))
        .groupBy("comp_id")
        .agg(count(lit(1)).cast("long").as("n_members"),
          max(struct(col("n_chars"), (-col("doc_id")).as("neg_id")))
            .as("best"))
        .select(col("comp_id"), col("n_members"),
          (-col("best.neg_id")).cast("long").as("best_id"),
          col("best.n_chars").cast("long").as("best_chars"))
        .orderBy("comp_id")
    },

    // INCREMENTAL ingest dedup: a new batch (a deterministic 10% slice
    // standing in for "today's crawl") is checked against the existing
    // corpus's fingerprint set — the batch-vs-corpus variant of exact
    // dedup that every continuously-fed pipeline runs. Scale (100 TB):
    // the corpus side reduces to DISTINCT 16-byte fingerprints (a
    // pre-computed, bucketed table in practice); the daily batch is
    // orders of magnitude smaller and the join keys are fingerprints,
    // never text — with the fingerprint table bucketed on fp the probe
    // is shuffle-free on the corpus side.
    q("q_dedup_incremental",
      """WITH batch AS (
        |  SELECT doc_id, lang, md5(text) AS fp
        |  FROM documents WHERE doc_id % 10 = 7),
        |corpus AS (
        |  SELECT DISTINCT md5(text) AS fp
        |  FROM documents WHERE doc_id % 10 <> 7)
        |SELECT b.lang, COUNT(*) AS n_batch,
        |  CAST(SUM(CASE WHEN c.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new,
        |  CAST(SUM(CASE WHEN c.fp IS NULL THEN b.doc_id ELSE 0 END) AS BIGINT)
        |    AS new_checksum
        |FROM batch b LEFT JOIN corpus c ON b.fp = c.fp
        |GROUP BY b.lang ORDER BY b.lang""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
        .select(col("doc_id"), col("lang"), md5(col("text")).as("fp"))
      val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
        .select(md5(col("text")).as("cfp")).distinct()
      batch.join(corpus, col("fp") === col("cfp"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_batch"),
          sum(when(col("cfp").isNull, 1).otherwise(0)).cast("long")
            .as("n_new"),
          sum(when(col("cfp").isNull, col("doc_id")).otherwise(0L))
            .cast("long").as("new_checksum"))
        .orderBy("lang")
    },

    // INCREMENTAL NEAR-dup ingest (the MinHash twin of
    // q_dedup_incremental's exact check, round 13): the standing
    // corpus's banded MinHash postings are a PERSISTED parquet index
    // (ensureLshIndex — built once by a scheduled job, appended as
    // batches are accepted); today's batch computes its own 24
    // signatures, probes the index by (band, h) equi-join, and exact
    // Jaccard >= 0.8 rescores the candidates through the codegen'd
    // jaccard_parts kernel against the corpus docs fetched BY ID.
    // Universe = shingle-able docs (>= 3 words), both engines. Oracle =
    // exact all-pairs batch × corpus Jaccard (feasible at oracle SF;
    // the banded probe misses a J >= 0.8 pair with prob (1-s²)^12
    // < 5e-6 and is deterministic — verified green stays green, same
    // argument as q_dedup_minhash). 100 TB: the corpus NEVER
    // re-shuffles at probe time — its postings are pre-banded on disk
    // and its shingles join by candidate id only; what moves is the
    // (small) daily batch plus candidate rows. This is the shape that
    // makes continuous dedup affordable: cost scales with the batch,
    // not the corpus.
    q("q_dedup_incremental_neardup",
      """WITH sh AS (
        |  SELECT doc_id, lang, doc_id % 10 = 7 AS is_batch,
        |    list_distinct(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w
        |        FROM documents)
        |  WHERE len(w) >= 3),
        |b AS (SELECT * FROM sh WHERE is_batch),
        |c AS (SELECT * FROM sh WHERE NOT is_batch),
        |dup AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM b JOIN c ON 10 * len(list_intersect(b.s, c.s))
        |                >= 8 * len(list_distinct(b.s || c.s)))
        |SELECT b.lang, COUNT(*) AS n_batch,
        |  CAST(SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dup,
        |  CAST(SUM(CASE WHEN d.doc_id IS NOT NULL THEN b.doc_id ELSE 0 END)
        |    AS BIGINT) AS dup_checksum
        |FROM b LEFT JOIN dup d ON b.doc_id = d.doc_id
        |GROUP BY b.lang ORDER BY b.lang""".stripMargin) { (s, dir) =>
      val idx = ensureLshIndex(s, dir)
      val sh = shingleDf(s, dir)
      val batch = sh.filter(pmod(col("doc_id"), lit(10)) === 7)
      val probe = bandedSigs(batch, "b_id")
      val cand = probe.join(Artifact.read(s, idx), Seq("band", "h"))
        .select("b_id", "c_id").distinct()
      val sa = batch.select(col("doc_id").as("b_id"),
        col("shingles").as("sa"))
      val sb = sh.filter(pmod(col("doc_id"), lit(10)) =!= 7)
        .select(col("doc_id").as("c_id"), col("shingles").as("sb"))
      val dup = cand.join(sa, "b_id").join(sb, "c_id")
        .withColumn("jp", expr("jaccard_parts(sa, sb)"))
        .withColumn("n_inter", expr("shiftright(jp, 32)").cast("int"))
        .withColumn("n_union",
          (col("jp").bitwiseAND(0xFFFFFFFFL)).cast("int"))
        .filter(col("n_inter") * 10 >= col("n_union") * 8)
        .select(col("b_id")).distinct()
        .withColumn("is_dup", lit(1))
      val lang = t(s, dir, "documents")
        .select(col("doc_id").as("b_id"), col("lang"))
      batch.select(col("doc_id").as("b_id")).join(lang, "b_id")
        .join(dup, Seq("b_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_batch"),
          sum(when(col("is_dup").isNotNull, 1).otherwise(0)).cast("long")
            .as("n_dup"),
          sum(when(col("is_dup").isNotNull, col("b_id")).otherwise(0L))
            .cast("long").as("dup_checksum"))
        .orderBy("lang")
    },

    // CROSS-SOURCE near-dup matrix: which sources duplicate each
    // other — the curation question behind source weighting (a crawl
    // source that mostly re-hosts another should be downweighted, not
    // double-counted). Same LSH pair pipeline, aggregated to an
    // unordered source-pair matrix; oracle reuses the exact all-pairs
    // Jaccard formulation.
    q("q_dedup_cross_source",
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
        |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE 10 * len(list_intersect(a.s, b.s))
        |        >= 8 * len(list_distinct(a.s || b.s)))
        |SELECT least(da.source, db.source) AS source_a,
        |  greatest(da.source, db.source) AS source_b,
        |  COUNT(*) AS n_pairs
        |FROM pairs JOIN documents da ON da.doc_id = pairs.a_id
        |           JOIN documents db ON db.doc_id = pairs.b_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val pairs = minhashPairs(s, dir).select("a_id", "b_id")
      val da = t(s, dir, "documents").select(col("doc_id").as("a_id"),
        col("source").as("sa"))
      val db = t(s, dir, "documents").select(col("doc_id").as("b_id"),
        col("source").as("sb"))
      pairs.join(da, "a_id").join(db, "b_id")
        .groupBy(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    },

    // SimHash near-dup — fully oracle-checked since round 7: the
    // signature runs on the PORTABLE 60-bit kernel (simhash60,
    // functions/SimHash60.scala — token hash = first 15 md5 hex digits,
    // the same h60 value DuckDB parses), so the oracle replays the
    // entire pipeline: per token-hash bit j, +1 if set else -1 per
    // OCCURRENCE; signature bit j = sign of the sum (tie → 0);
    // candidates blocked on 4 × 15-bit bands (hamming <= 3 guarantees
    // one identical band by pigeonhole; we filter hamming <= 8
    // within-bucket). The signature itself stays a SHUFFLE-FREE per-row
    // codegen'd projection — the relational form (explode →
    // token-count → 60-column agg) multiplies the corpus by ~tokens/doc
    // and shuffles it twice for the same bits; the oracle pays that
    // price (bits CTE), the engine never does.
    q("q_dedup_simhash",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |th AS (
        |  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
        |  FROM tok),
        |bits AS (
        |  SELECT doc_id, r.j,
        |    SUM(CASE WHEN (h >> CAST(r.j AS INT)) & 1 = 1
        |        THEN 1 ELSE -1 END) AS sb
        |  FROM th CROSS JOIN range(0, 60) r(j) GROUP BY 1, 2),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN sb > 0 THEN (1::BIGINT << CAST(j AS INT))
        |             ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY 1),
        |banded AS (
        |  SELECT doc_id, simhash, CAST(b.b AS INT) AS band,
        |    (simhash >> CAST(15 * b.b AS INT)) & 32767 AS bv
        |  FROM sig CROSS JOIN range(0, 4) b(b)),
        |capped AS (
        |  SELECT doc_id, simhash, band, bv FROM (
        |    SELECT doc_id, simhash, band, bv,
        |      ROW_NUMBER() OVER (PARTITION BY band, bv ORDER BY doc_id)
        |        AS rnk
        |    FROM banded) WHERE rnk <= 1000),
        |pairs AS (
        |  SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id,
        |    CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
        |  FROM capped l JOIN capped r
        |    ON l.band = r.band AND l.bv = r.bv AND l.doc_id < r.doc_id)
        |SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 8
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      HiveCompatFunctions.ensure(s)
      val sigs = t(s, dir, "documents")
        .select(col("doc_id"),
          expr("simhash60(split(text, ' '))").as("simhash"))
      // 4 × 15-bit band blocking.
      val bands = (0 until 4).map(b =>
        struct(lit(b).as("band"),
          expr(s"(simhash >> ${15 * b}) & 32767").as("bv")))
      val banded = sigs.select(col("doc_id"), col("simhash"),
        explode(array(bands: _*)).as("bh"))
        .select(col("doc_id"), col("simhash"),
          col("bh.band").as("band"), col("bh.bv").as("bv"))
      // Same skew guard as the MinHash path: a boilerplate-heavy corpus
      // collapses a 16-bit band value into one huge bucket; keep the
      // first 1000 members per (band, value) deterministically so the
      // worst case degrades instead of going quadratic in one task.
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy("band", "bv").orderBy("doc_id")
      val capped = banded.withColumn("rnk", row_number().over(wb))
        .filter(col("rnk") <= 1000).drop("rnk")
      val l = capped.as("l")
      val r = capped.as("r")
      l.join(r, col("l.band") === col("r.band") && col("l.bv") === col("r.bv")
          && col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"),
          bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= 8)
        .orderBy("a_id", "b_id")
    },

    // Exact bigram-Jaccard similarity, top-10 most-similar pairs on a
    // bounded subset — the exact-pairwise baseline the LSH path
    // approximates. Similarity ordered by exact double division (both
    // engines: IEEE int/int division, bit-identical).
    q("q_sim_jaccard_pairs",
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w)),
        |           i -> w[i] || ' ' || w[i+1])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |        WHERE doc_id < 100) WHERE len(w) >= 2)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  len(list_intersect(a.s, b.s)) AS n_inter,
        |  len(list_distinct(a.s || b.s)) AS n_union
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |ORDER BY CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |           / len(list_distinct(a.s || b.s)) DESC, a_id, b_id
        |LIMIT 10""".stripMargin) { (s, dir) =>
      val sh = t(s, dir, "documents").filter(col("doc_id") < 100)
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), expr(
          "array_distinct(zip_with(slice(w, 1, size(w) - 1)," +
            " slice(w, 2, size(w) - 1), (a, b) -> concat(a, ' ', b)))")
          .as("s"))
      val a = sh.select(col("doc_id").as("a_id"), col("s").as("sa"))
      val b = sh.select(col("doc_id").as("b_id"), col("s").as("sb"))
      a.join(b, col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          size(array_intersect(col("sa"), col("sb"))).as("n_inter"),
          size(array_union(col("sa"), col("sb"))).as("n_union"))
        .orderBy((col("n_inter").cast("double") / col("n_union")).desc,
          col("a_id"), col("b_id"))
        .limit(10)
    },

    // PARAGRAPH-LEVEL dedup with document reassembly (C4 / CCNet line
    // dedup — the granularity production pipelines actually dedup at:
    // remove each duplicated paragraph corpus-wide, keep the first
    // occurrence, and write back the reassembled documents). The test
    // corpus has no newlines, so "paragraph" = non-overlapping 15-token
    // chunk (last chunk = remainder) — a deterministic segmentation both
    // engines replay exactly; with a real corpus the split() delimiter
    // becomes '\n' and nothing else changes. First occurrence = lowest
    // (doc_id, paragraph index), encoded as the integer doc_id*2^20+p so
    // the window MIN is engine-portable (bound: docs under 2^20
    // paragraphs ≈ 15 M tokens — far above any real document).
    //
    // Scale shape (100 TB): ownership is min() OVER (PARTITION BY
    // paragraph-hash) — ONE shuffle of the paragraph stream on a 60-bit
    // hash, never all-pairs, no corpus-wide window (suite-linted);
    // reassembly is the second, unavoidable shuffle (groupBy doc_id of
    // the KEPT paragraphs — the deduped corpus has to be assembled
    // somewhere), with sort-within-group done per-doc on bounded arrays
    // (array_sort of (p, para) structs), not a corpus sort. Output
    // carries md5(new_text), not the text, to keep the checked result
    // small; a production sink would write new_text itself. Reassembly
    // is verified end-to-end: for docs with nothing dropped, new_md5
    // equals md5(original text) by construction (chunks partition the
    // token list and rejoin with the same separator).
    q("q_dedup_paragraph",
      """WITH d AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents WHERE len(string_split(text, ' ')) >= 1),
        |px AS (
        |  SELECT doc_id, source, w,
        |    unnest(range(1, (len(w) + 14) // 15 + 1)) AS p
        |  FROM d),
        |para AS (
        |  SELECT doc_id, source, p,
        |    array_to_string(w[(p-1)*15+1 : p*15], ' ') AS para
        |  FROM px),
        |k AS (
        |  SELECT doc_id, source, p, para,
        |    doc_id * 1048576 + p AS ok,
        |    MIN(doc_id * 1048576 + p) OVER (
        |      PARTITION BY ('0x' || substr(md5(para), 1, 15))::BIGINT)
        |      AS owner
        |  FROM para)
        |SELECT doc_id, source,
        |  COUNT(*) AS n_paras,
        |  CAST(SUM(CASE WHEN ok = owner THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(SUM(CASE WHEN ok = owner THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_dropped,
        |  md5(COALESCE(string_agg(CASE WHEN ok = owner THEN para END,
        |    ' ' ORDER BY p), '')) AS new_md5,
        |  CAST(len(COALESCE(string_agg(CASE WHEN ok = owner THEN para END,
        |    ' ' ORDER BY p), '')) AS BIGINT) AS new_len
        |FROM k GROUP BY doc_id, source ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
      val paras = t(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 1)
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(1),
            expr("(size(w) + 14) div 15").cast("int"))).as("p"),
          col("w"))
        .select(col("doc_id"), col("source"), col("p"),
          concat_ws(" ", expr("slice(w, (p - 1) * 15 + 1, 15)")).as("para"))
      val wOwn = org.apache.spark.sql.expressions.Window
        .partitionBy(h60(col("para")))
      paras
        .withColumn("ok", col("doc_id") * 1048576L + col("p"))
        .withColumn("owner", min(col("ok")).over(wOwn))
        .withColumn("kept", col("ok") === col("owner"))
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_paras"),
          sum(when(col("kept"), 1L).otherwise(0L)).cast("long").as("n_kept"),
          sum(when(col("kept"), 0L).otherwise(1L)).cast("long")
            .as("n_dropped"),
          array_sort(collect_list(when(col("kept"),
            struct(col("p"), col("para"))))).as("ps"))
        .select(col("doc_id"), col("source"), col("n_paras"),
          col("n_kept"), col("n_dropped"),
          md5(concat_ws(" ", expr("transform(ps, x -> x.para)")))
            .as("new_md5"),
          length(concat_ws(" ", expr("transform(ps, x -> x.para)")))
            .cast("long").as("new_len"))
        .orderBy("doc_id")
    },

    // BOILERPLATE paragraph removal (CCNet-style frequency filter): a
    // paragraph occurring 2+ times corpus-wide is boilerplate (nav
    // chrome, license headers, templated text) and EVERY occurrence is
    // dropped — the frequency-threshold complement of
    // q_dedup_paragraph's keep-first ownership (which keeps one copy).
    // Same deterministic 15-token chunking, same single-shuffle shape:
    // COUNT() OVER (PARTITION BY paragraph-hash) — the paragraph stream
    // shuffles ONCE on a 60-bit hash, never all-pairs, no corpus-wide
    // window (suite-linted) — then per-doc reassembly of the surviving
    // paragraphs exactly as in q_dedup_paragraph (bounded per-doc
    // array_sort, md5(new_text) out, untouched docs provably hash to
    // md5(original)). At a real 100 TB run the threshold is per-domain
    // and calibrated (CCNet drops lines seen in >0.5% of a shard's
    // docs); the 2+ corpus-wide rule keeps the oracle exact while
    // exercising the identical plan.
    q("q_dedup_boilerplate",
      """WITH d AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents WHERE len(string_split(text, ' ')) >= 1),
        |px AS (
        |  SELECT doc_id, source, w,
        |    unnest(range(1, (len(w) + 14) // 15 + 1)) AS p
        |  FROM d),
        |para AS (
        |  SELECT doc_id, source, p,
        |    array_to_string(w[(p-1)*15+1 : p*15], ' ') AS para
        |  FROM px),
        |k AS (
        |  SELECT doc_id, source, p, para,
        |    COUNT(*) OVER (
        |      PARTITION BY ('0x' || substr(md5(para), 1, 15))::BIGINT)
        |      AS occ
        |  FROM para)
        |SELECT doc_id, source,
        |  COUNT(*) AS n_paras,
        |  CAST(SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(SUM(CASE WHEN occ = 1 THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_dropped,
        |  md5(COALESCE(string_agg(CASE WHEN occ = 1 THEN para END,
        |    ' ' ORDER BY p), '')) AS new_md5,
        |  CAST(len(COALESCE(string_agg(CASE WHEN occ = 1 THEN para END,
        |    ' ' ORDER BY p), '')) AS BIGINT) AS new_len
        |FROM k GROUP BY doc_id, source ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
      val paras = t(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 1)
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(1),
            expr("(size(w) + 14) div 15").cast("int"))).as("p"),
          col("w"))
        .select(col("doc_id"), col("source"), col("p"),
          concat_ws(" ", expr("slice(w, (p - 1) * 15 + 1, 15)")).as("para"))
      val wOcc = org.apache.spark.sql.expressions.Window
        .partitionBy(h60(col("para")))
      paras
        .withColumn("occ", count(lit(1)).over(wOcc))
        .withColumn("kept", col("occ") === 1L)
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_paras"),
          sum(when(col("kept"), 1L).otherwise(0L)).cast("long").as("n_kept"),
          sum(when(col("kept"), 0L).otherwise(1L)).cast("long")
            .as("n_dropped"),
          array_sort(collect_list(when(col("kept"),
            struct(col("p"), col("para"))))).as("ps"))
        .select(col("doc_id"), col("source"), col("n_paras"),
          col("n_kept"), col("n_dropped"),
          md5(concat_ws(" ", expr("transform(ps, x -> x.para)")))
            .as("new_md5"),
          length(concat_ws(" ", expr("transform(ps, x -> x.para)")))
            .cast("long").as("new_len"))
        .orderBy("doc_id")
    })
}
