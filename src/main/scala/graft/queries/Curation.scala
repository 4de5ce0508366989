package graft.queries

import graft._
import graft.T._
import org.apache.spark.sql.functions._

/** Training-data CURATION operators (north star, SURVEY.md §7 stage G):
  * the selection stage that sits between raw-corpus analysis
  * (TextAnalysis) and dedup (Dedup) in a real LLM data pipeline —
  * benchmark decontamination, quality-rule filtering, and deterministic
  * stratified sampling.
  *
  * Scale notes (100 TB):
  *  - Decontamination joins on 60-bit md5-prefix gram hashes, never the
  *    gram strings, and the eval-set side (tiny by construction: a
  *    benchmark is KBs–MBs against a 100 TB corpus) is broadcast — the
  *    train-side gram stream is scan → explode → map-side semi probe,
  *    no shuffle of corpus-sized data at all.
  *  - Quality rules are pure per-row integer arithmetic (codegen'd
  *    built-ins, thresholds in integer cross-multiplied form so no
  *    float boundary can drift) + a low-cardinality groupBy.
  *  - The stratified sample is a per-row hash filter — zero shuffles,
  *    deterministic (md5 of the id, not rand()), so a re-run or a
  *    failed-task retry selects the SAME rows; the md5-prefix bucket is
  *    uniform enough that each stratum keeps ~rate% without coordination.
  */
object Curation extends QueryPack {

  /** Portable 60-bit doc/gram hash: identical in Spark
    * (`conv(substr(md5(x),1,15),16,10)`) and DuckDB
    * (`('0x' || substr(md5(x),1,15))::BIGINT`) — 15 hex digits keep it
    * positive and inside BIGINT.
    */
  private def h60(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  def defs: Seq[QueryDef] = Seq(

    // Benchmark DECONTAMINATION: docs 0-49 stand in for an eval
    // benchmark; a training doc (id >= 50) is contaminated if it shares
    // ANY word 5-gram with the eval set. Per-source accounting with an
    // id-checksum proving WHICH docs were flagged. 5-grams (not 3) so
    // random vocabulary collisions stay out and only true near-dup overlap
    // triggers — the standard n-gram-overlap decontamination scheme.
    q("q_decontam_ngram",
      """WITH g AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh
        |  FROM (
        |    SELECT doc_id, unnest(list_distinct(list_transform(
        |             range(1, len(w) - 3),
        |             i -> list_aggregate(w[i:i+4], 'string_agg', ' ')))) AS gram
        |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |    WHERE len(w) >= 5)),
        |contam AS (
        |  SELECT DISTINCT t.doc_id FROM g t
        |  WHERE t.doc_id >= 50
        |    AND EXISTS (SELECT 1 FROM g e WHERE e.doc_id < 50 AND e.gh = t.gh))
        |SELECT d.source, COUNT(*) AS n_train,
        |  CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_contam,
        |  CAST(COALESCE(SUM(CASE WHEN c.doc_id IS NOT NULL THEN d.doc_id END), 0)
        |    AS BIGINT) AS contam_checksum
        |FROM documents d LEFT JOIN contam c ON d.doc_id = c.doc_id
        |WHERE d.doc_id >= 50
        |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val grams = docs
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 5)
        .select(col("doc_id"), explode(expr(
          "array_distinct(transform(sequence(1, size(w) - 4)," +
            " i -> concat_ws(' ', slice(w, i, 5))))")).as("gram"))
        .select(col("doc_id"), h60(col("gram")).as("gh"))
      // Eval-set gram hashes: tiny — broadcast; the train stream is
      // probed map-side (LEFT SEMI), no corpus-sized shuffle.
      val evalGrams = grams.filter(col("doc_id") < 50)
        .select("gh").distinct()
      val contam = grams.filter(col("doc_id") >= 50)
        .join(broadcast(evalGrams), Seq("gh"), "left_semi")
        .select("doc_id").distinct()
        .withColumn("is_c", lit(1))
      docs.filter(col("doc_id") >= 50)
        .join(contam, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_train"),
          sum(when(col("is_c") === 1, 1).otherwise(0)).cast("long")
            .as("n_contam"),
          coalesce(sum(when(col("is_c") === 1, col("doc_id"))), lit(0))
            .cast("long").as("contam_checksum"))
        .orderBy("source")
    },

    // Gopher-style QUALITY RULES: word-count window, mean-word-length
    // window, minimum stopword evidence, short-token ratio cap — each
    // rule a per-row integer predicate (cross-multiplied thresholds: no
    // float boundaries), aggregated per lang with an id-checksum of the
    // all-rules survivors.
    q("q_text_gopher_rules",
      """WITH f AS (
        |  SELECT doc_id, lang,
        |    len(string_split(text, ' ')) AS n_tok,
        |    len(replace(text, ' ', '')) AS sum_len,
        |    len(list_filter(string_split(text, ' '),
        |        w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop,
        |    len(list_filter(string_split(text, ' '),
        |        w -> len(w) <= 2)) AS n_short
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN n_tok BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS r_wc,
        |    CASE WHEN sum_len >= 3 * n_tok AND sum_len <= 10 * n_tok
        |         THEN 1 ELSE 0 END AS r_mwl,
        |    CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stop,
        |    CASE WHEN 10 * n_short <= n_tok THEN 1 ELSE 0 END AS r_short
        |  FROM f)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(r_wc) AS BIGINT) AS pass_wordcount,
        |  CAST(SUM(r_mwl) AS BIGINT) AS pass_meanwordlen,
        |  CAST(SUM(r_stop) AS BIGINT) AS pass_stopwords,
        |  CAST(SUM(r_short) AS BIGINT) AS pass_shortratio,
        |  CAST(SUM(r_wc * r_mwl * r_stop * r_short) AS BIGINT) AS pass_all,
        |  CAST(COALESCE(SUM(CASE WHEN r_wc * r_mwl * r_stop * r_short = 1
        |                    THEN doc_id END), 0) AS BIGINT) AS keep_checksum
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val f = t(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tok", size(col("toks")))
        .withColumn("sum_len", length(regexp_replace(col("text"), " ", "")))
        .withColumn("n_stop", size(expr(
          "filter(toks, w -> w IN ('the', 'a', 'of', 'and', 'to'))")))
        .withColumn("n_short",
          size(expr("filter(toks, w -> length(w) <= 2)")))
      val r = f.select(col("doc_id"), col("lang"),
        when(col("n_tok").between(20, 100000), 1).otherwise(0).as("r_wc"),
        when(col("sum_len") >= col("n_tok") * 3 &&
          col("sum_len") <= col("n_tok") * 10, 1).otherwise(0).as("r_mwl"),
        when(col("n_stop") >= 2, 1).otherwise(0).as("r_stop"),
        when(col("n_short") * 10 <= col("n_tok"), 1).otherwise(0)
          .as("r_short"))
      r.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("r_wc").cast("long").as("pass_wordcount"),
          sum("r_mwl").cast("long").as("pass_meanwordlen"),
          sum("r_stop").cast("long").as("pass_stopwords"),
          sum("r_short").cast("long").as("pass_shortratio"),
          sum(col("r_wc") * col("r_mwl") * col("r_stop") * col("r_short"))
            .cast("long").as("pass_all"),
          coalesce(sum(when(col("r_wc") * col("r_mwl") * col("r_stop") *
            col("r_short") === 1, col("doc_id"))), lit(0))
            .cast("long").as("keep_checksum"))
        .orderBy("lang")
    },

    // SEQUENCE PACKING: assign documents to fixed-token-budget training
    // sequences by contiguous fill — running token total per shard,
    // sequence id = cumulative-before-me div budget. Sharded by
    // (source, doc_id % 8): real pipelines pack per shard precisely so
    // the running-sum window parallelizes — one unsharded global pack
    // would serialize the corpus through a single window task at 100 TB
    // (raise the shard count with the corpus; packing quality is
    // per-shard-local either way). Integer division on both sides (div
    // / //) — no float boundaries.
    q("q_pack_sequences",
      """WITH d AS (
        |  SELECT source, doc_id % 8 AS shard, doc_id,
        |    len(string_split(text, ' ')) AS n_tok
        |  FROM documents),
        |p AS (
        |  SELECT source, shard, doc_id, n_tok,
        |    CAST((SUM(n_tok) OVER (PARTITION BY source, shard
        |                           ORDER BY doc_id)
        |           - n_tok) // 2048 AS BIGINT) AS seq_id
        |  FROM d)
        |SELECT source, shard, seq_id, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS seq_tokens,
        |  CAST(MIN(doc_id) AS BIGINT) AS first_doc
        |FROM p GROUP BY source, shard, seq_id
        |ORDER BY source, shard, seq_id""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source", "shard").orderBy("doc_id")
      t(s, dir, "documents")
        .select(col("source"), (col("doc_id") % 8).as("shard"),
          col("doc_id"), size(split(col("text"), " ")).as("n_tok"))
        .withColumn("cum_tok", sum(col("n_tok")).over(w))
        .withColumn("seq_id", expr("(cum_tok - n_tok) div 2048"))
        .groupBy("source", "shard", "seq_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("seq_tokens"),
          min(col("doc_id")).cast("long").as("first_doc"))
        .orderBy("source", "shard", "seq_id")
    },

    // Deterministic CORPUS SHUFFLE: the global "shuffle before
    // training" pass, made reproducible — order by a hash of the id
    // instead of rand(). Top-N via TakeOrderedAndProject (no global
    // sort materialization for the bounded inspection window; the full
    // writeout at scale is a sort-partitioned write on the same key).
    q("q_shuffle_order",
      """SELECT doc_id, lang FROM documents
        |ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT,
        |         doc_id
        |LIMIT 30""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .orderBy(h60(col("doc_id").cast("string")), col("doc_id"))
        .select("doc_id", "lang")
        .limit(30)
    },

    // ADAPTIVE-threshold filter: the cut point comes from the corpus
    // itself (P25 of token count) instead of a fixed constant — the
    // pattern behind percentile-based quality cuts. The threshold is a
    // 1-row aggregate broadcast-joined onto the corpus: NO driver
    // round-trip, the plan stays one job. q=0.25 over integers is
    // exactly representable in binary, so Spark percentile and DuckDB
    // quantile_cont are bit-identical and the boundary cannot drift.
    // (At 100 TB compute the percentile on a sample — the threshold
    // moves by noise, the plan shape is unchanged.)
    q("q_filter_adaptive",
      """WITH d AS (
        |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok
        |  FROM documents),
        |thr AS (SELECT quantile_cont(n_tok, 0.25) AS p25 FROM d)
        |SELECT lang, COUNT(*) AS n_kept,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        |FROM d, thr WHERE d.n_tok >= thr.p25
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).as("n_tok"))
      val thr = d.agg(expr("percentile(n_tok, 0.25)").as("p25"))
      d.crossJoin(broadcast(thr))
        .filter(col("n_tok") >= col("p25"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).cast("long").as("id_checksum"))
        .orderBy("lang")
    },

    // Weighted SOURCE MIXING: per-source sampling rates (the "data
    // mixture" step of corpus assembly — upsample curated sources,
    // downsample the crawl). Same deterministic md5 bucket as the
    // stratified sample, with the rate looked up per row — still a
    // pure filter, zero shuffles before the accounting agg.
    q("q_sample_mixture",
      """SELECT source, COUNT(*) AS n_sampled,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        |FROM documents
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100
        |      < (CASE WHEN source = 'src0' THEN 50
        |              WHEN source = 'src1' THEN 25
        |              ELSE 10 END)
        |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .filter(h60(col("doc_id").cast("string")) % 100 <
          when(col("source") === "src0", 50)
            .when(col("source") === "src1", 25)
            .otherwise(10))
        .groupBy("source")
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("doc_id")).cast("long").as("id_checksum"))
        .orderBy("source")
    },

    // DoReMi-style DOMAIN REWEIGHTING (Xie et al., "DoReMi: Optimizing
    // Data Mixtures Speeds Up Language Model Pretraining", NeurIPS
    // 2023): one exponentiated-gradient update of the source-mixture
    // weights from per-domain EXCESS LOSS, then the DoReMi smoothing
    // (1-c)·w + c·uniform with c = 1/100. The loss proxy here is
    // bytes-per-token (an engine-computable compressibility stand-in;
    // a real run plugs proxy/reference model loss columns into the
    // same aggregate) and the reference is the corpus-wide rate, so
    // domains harder than average get upweighted. All post-aggregation
    // math is micro-unit INTEGER (quantize once at 1e-6, integer div
    // after) so both engines agree bit-for-bit; the one libm call
    // (exp) takes a 6-dp-quantized input and is immediately
    // re-quantized — a last-ulp engine divergence would have to land
    // within 1e-10 of a rounding boundary, and the hash gate fails
    // loudly if it ever does.
    //
    // Scale shape (100 TB): ONE corpus scan into a k-row partial/final
    // aggregate (k = |sources|, a fixed categorical domain — bounded by
    // construction); the EG update runs on the COLLECTED k-row model
    // (the DSIR/BM25 pinned-local rule: deriving the corpus total and
    // the exp-normalizer as DataFrame branches would re-execute the
    // corpus subplan once per branch).
    q("q_sample_doremi",
      """WITH dom AS MATERIALIZED (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(text)) AS BIGINT) AS slen,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS stok
        |  FROM documents GROUP BY source),
        |ref AS MATERIALIZED (
        |  SELECT CAST(SUM(slen) AS BIGINT) AS tlen,
        |    CAST(SUM(stok) AS BIGINT) AS ttok, COUNT(*) AS k FROM dom),
        |ex AS MATERIALIZED (
        |  SELECT source, n_docs, k,
        |    CAST(ROUND(1e6 * (slen / CAST(stok AS DOUBLE))) AS BIGINT)
        |      AS bpt_e6,
        |    GREATEST(0, CAST(ROUND(1e6 * (slen / CAST(stok AS DOUBLE)
        |      - tlen / CAST(ttok AS DOUBLE))) AS BIGINT)) AS excess_e6
        |  FROM dom CROSS JOIN ref),
        |e AS MATERIALIZED (
        |  SELECT source, n_docs, k, bpt_e6, excess_e6,
        |    CAST(ROUND(1e6 * exp(excess_e6 / 1000000.0)) AS BIGINT)
        |      AS e_e6
        |  FROM ex),
        |tot AS (SELECT CAST(SUM(e_e6) AS BIGINT) AS se FROM e)
        |SELECT source, n_docs, bpt_e6, excess_e6, e_e6,
        |  (1000000 * e_e6) // se AS w_ppm,
        |  (99 * ((1000000 * e_e6) // se) + 1000000 // k) // 100
        |    AS w_final_ppm
        |FROM e CROSS JOIN tot ORDER BY source""".stripMargin) { (s, dir) =>
      import s.implicits._
      val dom = t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("slen"),
          sum(size(split(col("text"), " ")).cast("long")).as("stok"))
        .collect() // k = |sources| rows, fixed categorical domain
      val tlen = dom.map(_.getLong(2)).sum
      val ttok = dom.map(_.getLong(3)).sum
      val k = dom.length.toLong
      val bptRef = tlen.toDouble / ttok
      val ex = dom.map { r =>
        val bpt = r.getLong(2).toDouble / r.getLong(3)
        val excessE6 = Math.max(0L, Math.round(1e6 * (bpt - bptRef)))
        (r.getString(0), r.getLong(1), Math.round(1e6 * bpt), excessE6,
          Math.round(1e6 * Math.exp(excessE6 / 1000000.0)))
      }
      val se = ex.map(_._5).sum
      ex.toSeq.sortBy(_._1).map { case (src, n, bptE6, excessE6, eE6) =>
        val wPpm = 1000000L * eE6 / se
        (src, n, bptE6, excessE6, eE6, wPpm,
          (99L * wPpm + 1000000L / k) / 100L)
      }.toDF("source", "n_docs", "bpt_e6", "excess_e6", "e_e6",
        "w_ppm", "w_final_ppm")
    },

    // DATA-CONSTRAINED EPOCH EXPANSION (Muennighoff et al., "Scaling
    // Data-Constrained Language Models", NeurIPS 2023: repeating data
    // up to ~4 epochs is nearly as good as fresh data): given a token
    // budget B = 3× the corpus and a UNIFORM per-source target mixture
    // (each source owes B/k tokens), each source's repeat factor is
    // r = (B/k)/tokens_s, capped at 3 epochs (the data-constrained
    // ceiling — the cap BINDS for the smaller half of the sources at
    // every SF, so the capped branch is oracle-exercised). The
    // expansion is MATERIALIZED: every doc emits floor(r) copies plus
    // one more iff h60(doc_id) mod 1e6 < frac(r)·1e6 — the same
    // deterministic hash-fraction rule as the stratified sampler, so
    // the realized per-source token count converges to the target
    // without rand() (reproducible across runs, retries, engines).
    //
    // Scale shape (100 TB): the mixture model is a k-row fixed
    // categorical domain (the DSIR/DoReMi pinned-local rule — one
    // corpus pass to k rows, collected, re-broadcast as a literal
    // relation so no corpus subplan re-executes); the expansion itself
    // is a broadcast equi-join + per-row sequence explode — join-free
    // fan-out of the big side, no window, no second corpus shuffle;
    // the accounting agg is map-side combined on the k-key domain.
    // All math is integer ppm (micro-epochs), bit-identical in both
    // engines.
    q("q_sample_epochs",
      """WITH dom AS MATERIALIZED (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS stok
        |  FROM documents GROUP BY source),
        |ref AS MATERIALIZED (
        |  SELECT CAST(SUM(stok) AS BIGINT) AS ttok, COUNT(*) AS k
        |  FROM dom),
        |r AS MATERIALIZED (
        |  SELECT source, n_docs,
        |    LEAST(3000000, (3 * ttok * 1000000) // (k * stok)) AS r_ppm
        |  FROM dom CROSS JOIN ref),
        |docs AS (
        |  SELECT d.doc_id, d.source, r.r_ppm, r.n_docs,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS tok,
        |    r.r_ppm // 1000000 +
        |      CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
        |                 1, 15))::BIGINT % 1000000 < r.r_ppm % 1000000
        |           THEN 1 ELSE 0 END AS copies
        |  FROM documents d JOIN r ON d.source = r.source),
        |ex AS (
        |  SELECT doc_id, source, r_ppm, n_docs, tok,
        |    unnest(range(1, copies + 1)) AS epoch
        |  FROM docs WHERE copies >= 1)
        |SELECT source, MAX(r_ppm) AS r_ppm, MAX(n_docs) AS n_docs,
        |  COUNT(*) AS n_copies,
        |  CAST(SUM(tok) AS BIGINT) AS token_copies,
        |  CAST(SUM((doc_id * 31 + epoch) % 1000003) AS BIGINT)
        |    AS copies_checksum
        |FROM ex GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
      import s.implicits._
      val dom = t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("stok"))
        .collect() // k = |sources| rows, fixed categorical domain
      val ttok = dom.map(_.getLong(2)).sum
      val k = dom.length.toLong
      val model = dom.map { r =>
        val rppm =
          Math.min(3000000L, 3L * ttok * 1000000L / (k * r.getLong(2)))
        (r.getString(0), r.getLong(1), rppm)
      }.toSeq.toDF("m_source", "m_docs", "r_ppm")
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("tok"))
        .join(broadcast(model), col("source") === col("m_source"))
        .withColumn("copies", expr("r_ppm div 1000000") +
          when(h60(col("doc_id").cast("string")) % 1000000L <
            col("r_ppm") % 1000000L, 1L).otherwise(0L))
        .filter(col("copies") >= 1L)
        .select(col("doc_id"), col("source"), col("r_ppm"),
          col("m_docs"), col("tok"),
          explode(sequence(lit(1L), col("copies"))).as("epoch"))
        .groupBy("source")
        .agg(max(col("r_ppm")).as("r_ppm"),
          max(col("m_docs")).as("n_docs"),
          count(lit(1)).as("n_copies"),
          sum(col("tok")).cast("long").as("token_copies"),
          sum((col("doc_id") * 31 + col("epoch")) % 1000003)
            .cast("long").as("copies_checksum"))
        .orderBy("source")
    },

    // Deterministic STRATIFIED SAMPLE: keep ~10% per stratum by md5
    // hash-bucket of the id (bucket < 10 of 100) — reproducible across
    // runs/retries (unlike rand()-based sampling) and embarrassingly
    // parallel (a pure filter; the only shuffle is the tiny accounting
    // groupBy). The id-checksum pins exactly WHICH rows were kept.
    q("q_sample_stratified",
      """SELECT lang, COUNT(*) AS n_sampled,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        |FROM documents
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 10
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .filter(h60(col("doc_id").cast("string")) % 100 < 10)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("doc_id")).cast("long").as("id_checksum"))
        .orderBy("lang")
    },

    // Sliding-window CHUNKING: split each document into fixed-size token
    // windows (32 tokens, stride 24 → 8-token overlap) — the sequence-
    // construction step before packing/tokenization in a training
    // pipeline. Chunk count is closed-form ((n-W)/S ceil + 1), so the
    // fan-out is a per-row sequence+explode — embarrassingly parallel,
    // no shuffle until the final demo sort. Chunk bodies travel as md5
    // fingerprints, not strings, mirroring the 100 TB rule that shuffled
    // keys stay 16 bytes. Short docs (n <= W) yield exactly one chunk.
    q("q_chunk_stride",
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents WHERE doc_id < 40),
        |k AS (
        |  SELECT doc_id, w, n,
        |    CASE WHEN n <= 32 THEN 1
        |         ELSE (n - 32 + 23) // 24 + 1 END AS k
        |  FROM d),
        |e AS (SELECT doc_id, w, n,
        |        unnest(generate_series(0, k - 1)) AS chunk_idx FROM k),
        |c AS (SELECT doc_id, n, chunk_idx,
        |        w[CAST(chunk_idx * 24 + 1 AS BIGINT):
        |          CAST(chunk_idx * 24 + 32 AS BIGINT)] AS ch
        |      FROM e)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  n AS n_tok_doc, CAST(len(ch) AS BIGINT) AS n_tok,
        |  ch[1] AS first_tok, ch[-1] AS last_tok,
        |  md5(array_to_string(ch, ' ')) AS chunk_fp
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      val W = 32; val S = 24
      t(s, dir, "documents").filter(col("doc_id") < 40)
        .withColumn("w", split(col("text"), " "))
        .withColumn("n", size(col("w")).cast("long"))
        .withColumn("k", when(col("n") <= W, lit(1L))
          .otherwise(expr(s"(n - $W + ${S - 1}) div $S + 1")))
        .select(col("doc_id"), col("w"), col("n"),
          explode(expr("sequence(0L, k - 1)")).as("chunk_idx"))
        .withColumn("ch",
          expr(s"slice(w, CAST(chunk_idx * $S + 1 AS INT), $W)"))
        .select(col("doc_id"), col("chunk_idx"), col("n").as("n_tok_doc"),
          size(col("ch")).cast("long").as("n_tok"),
          element_at(col("ch"), 1).as("first_tok"),
          element_at(col("ch"), -1).as("last_tok"),
          md5(concat_ws(" ", col("ch"))).as("chunk_fp"))
        .orderBy("doc_id", "chunk_idx")
    },

    // Exact-SUBSTRING decontamination (the strict sibling of
    // q_decontam_ngram): docs 0-19 donate a 60-char snippet (an "eval
    // question"); any corpus doc containing that exact snippet is
    // contaminated. The snippet set is tiny by construction → broadcast
    // nested-loop with a codegen'd instr(), the only correct plan for a
    // contains-join; the corpus side streams with NO shuffle. At 100 TB
    // the same shape holds (a benchmark is KBs against the corpus) —
    // with thousands of snippets the per-partition probe upgrades to an
    // Aho-Corasick automaton built once per task, same topology.
    q("q_decontam_substring",
      """WITH sn AS (
        |  SELECT doc_id AS sid, substr(text, 21, 60) AS snip
        |  FROM documents WHERE doc_id < 20),
        |hits AS (
        |  SELECT sn.sid, c.doc_id FROM sn JOIN documents c
        |    ON c.doc_id < 200 AND instr(c.text, sn.snip) > 0)
        |SELECT sid, COUNT(*) AS n_hits,
        |  CAST(SUM(doc_id) AS BIGINT) AS hit_checksum
        |FROM hits GROUP BY sid ORDER BY sid""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val snips = docs.filter(col("doc_id") < 20)
        .select(col("doc_id").as("sid"),
          substring(col("text"), 21, 60).as("snip"))
      docs.filter(col("doc_id") < 200).select("doc_id", "text")
        .crossJoin(broadcast(snips))
        .filter(instr(col("text"), col("snip")) > 0)
        .groupBy("sid")
        .agg(count(lit(1)).as("n_hits"),
          sum(col("doc_id")).cast("long").as("hit_checksum"))
        .orderBy("sid")
    },

    // PII REDACTION: detect and scrub emails / IPv4s / phone numbers.
    // The corpus is synthetic and PII-free, so each doc gets one of each
    // injected DETERMINISTICALLY from its id (identical expression both
    // engines) — the point is the regex machinery, counted before and
    // after the scrub (residual must be 0). All regexes are shared
    // Java/RE2 syntax; DuckDB's regexp_replace needs the explicit 'g'
    // flag to match Spark's replace-all. Scale: pure per-row codegen'd
    // projections — zero shuffle beyond the demo sort; redacted bodies
    // leave as md5 fingerprints.
    q("q_pii_redact",
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com ip 10.0.'
        |      || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
        |      || ' tel 555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS txt
        |  FROM documents WHERE doc_id < 30),
        |r AS (
        |  SELECT doc_id, txt,
        |    regexp_replace(regexp_replace(regexp_replace(txt,
        |      '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |      '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
        |      '555-\d{4}', '<PHONE>', 'g') AS red
        |  FROM d)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(txt,
        |    '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(txt,
        |    '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(txt, '555-\d{4}')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(red,
        |    '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}'))
        |    + len(regexp_extract_all(red,
        |        '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}'))
        |    + len(regexp_extract_all(red, '555-\d{4}')) AS BIGINT)
        |    AS n_residual,
        |  md5(red) AS red_fp
        |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val emailRe = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val ipRe = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
      val phoneRe = "555-\\d{4}"
      def nMatches(c: org.apache.spark.sql.Column, re: String) =
        size(regexp_extract_all(c, lit(re), lit(0))).cast("long")
      t(s, dir, "documents").filter(col("doc_id") < 30)
        .withColumn("txt", concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com ip 10.0."),
          col("doc_id") % 256, lit("."), (col("doc_id") * 7) % 256,
          lit(" tel 555-"), lpad(col("doc_id").cast("string"), 4, "0")))
        .withColumn("red",
          regexp_replace(regexp_replace(regexp_replace(col("txt"),
            emailRe, "<EMAIL>"), ipRe, "<IP>"), phoneRe, "<PHONE>"))
        .select(col("doc_id"),
          nMatches(col("txt"), emailRe).as("n_email"),
          nMatches(col("txt"), ipRe).as("n_ip"),
          nMatches(col("txt"), phoneRe).as("n_phone"),
          (nMatches(col("red"), emailRe) + nMatches(col("red"), ipRe) +
            nMatches(col("red"), phoneRe)).as("n_residual"),
          md5(col("red")).as("red_fp"))
        .orderBy("doc_id")
    },

    // CURRICULUM length-binning: quartile documents by token count and
    // report per-bin composition — the difficulty-stratification step of
    // curriculum schedules. The cut points come from ONE tiny sketch agg
    // (percentile_approx at exact accuracy ≡ DuckDB quantile_disc, the
    // q_agg_percentile_approx equivalence) broadcast back as a 1-row
    // cross join; binning is then a per-row CASE — no global-ORDER
    // window (ntile over an unpartitioned window is the single-task
    // anti-pattern this formulation replaces at 100 TB; the sketch stays
    // mergeable at lower accuracy). Ties land in ONE bin (<=-cut
    // semantics), so bins are value-deterministic, not row-order-lucky.
    q("q_curriculum_bins",
      """WITH s AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT quantile_disc(n_tok, [0.25, 0.5, 0.75]) AS q FROM s)
        |SELECT CAST(CASE WHEN n_tok <= q[1] THEN 1
        |                 WHEN n_tok <= q[2] THEN 2
        |                 WHEN n_tok <= q[3] THEN 3
        |                 ELSE 4 END AS BIGINT) AS bin,
        |  COUNT(*) AS n_docs,
        |  CAST(MIN(n_tok) AS BIGINT) AS min_tok,
        |  CAST(MAX(n_tok) AS BIGINT) AS max_tok,
        |  CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        |FROM s CROSS JOIN c
        |GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      val cuts = docs.agg(expr(
        "percentile_approx(n_tok, array(0.25D, 0.5D, 0.75D), 1000000)")
        .as("q"))
      docs.crossJoin(broadcast(cuts))
        .withColumn("bin",
          when(col("n_tok") <= expr("q[0]"), 1L)
            .when(col("n_tok") <= expr("q[1]"), 2L)
            .when(col("n_tok") <= expr("q[2]"), 3L)
            .otherwise(4L))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_tok")).as("min_tok"),
          max(col("n_tok")).as("max_tok"),
          sum(col("n_tok")).cast("long").as("sum_tok"),
          sum(col("doc_id")).cast("long").as("id_checksum"))
        .orderBy("bin")
    },

    // Corpus-level DUPLICATED-SPAN accounting (C4 / RefinedWeb span
    // dedup): a 5-token span in doc d is "duplicated" if ANY earlier doc
    // (min doc_id owner) also contains it; report, per source, how many
    // span occurrences a span-level dedup pass would drop and which docs
    // it touches. Scale shape: spans leave their scan partition as
    // 60-bit hashes only (never the text); ownership is min(doc_id)
    // OVER (PARTITION BY gh) — a single shuffle on gh over ONE pass of
    // the shingle stream (the agg+self-join form would tokenize and
    // hash the corpus twice and shuffle twice). At 100 TB this is the
    // standard fingerprint-shuffle suffix-dedup topology — payload
    // bytes never move.
    q("q_dedup_spans",
      """WITH sp AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh
        |  FROM (
        |    SELECT doc_id, source, unnest(list_distinct(list_transform(
        |             range(1, len(w) - 3),
        |             i -> list_aggregate(w[i:i+4], 'string_agg', ' ')))) AS gram
        |    FROM (SELECT doc_id, source, string_split(text, ' ') AS w
        |          FROM documents)
        |    WHERE len(w) >= 5)),
        |own AS (SELECT gh, MIN(doc_id) AS owner FROM sp GROUP BY gh)
        |SELECT source,
        |  COUNT(*) AS n_spans,
        |  CAST(SUM(CASE WHEN sp.doc_id > own.owner THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dup_spans,
        |  CAST(COUNT(DISTINCT CASE WHEN sp.doc_id > own.owner
        |    THEN sp.doc_id END) AS BIGINT) AS n_docs_hit,
        |  CAST(COALESCE(SUM(CASE WHEN sp.doc_id > own.owner
        |    THEN sp.doc_id END), 0) AS BIGINT) AS dup_checksum
        |FROM sp JOIN own ON sp.gh = own.gh
        |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val spans = t(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 5)
        .select(col("doc_id"), col("source"), explode(expr(
          "array_distinct(transform(sequence(1, size(w) - 4)," +
            " i -> concat_ws(' ', slice(w, i, 5))))")).as("gram"))
        .select(col("doc_id"), col("source"), h60(col("gram")).as("gh"))
      val wOwn = org.apache.spark.sql.expressions.Window.partitionBy("gh")
      spans.withColumn("owner", min(col("doc_id")).over(wOwn))
        .groupBy("source")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("doc_id") > col("owner"), 1L).otherwise(0L))
            .cast("long").as("n_dup_spans"),
          countDistinct(when(col("doc_id") > col("owner"), col("doc_id")))
            .cast("long").as("n_docs_hit"),
          coalesce(sum(when(col("doc_id") > col("owner"), col("doc_id"))),
            lit(0L)).cast("long").as("dup_checksum"))
        .orderBy("source")
    },

    // TEMPERATURE resampling (alpha = 0.5): per-source keep-rates derived
    // FROM the corpus itself — kept_s ~ (total/2) * sqrt(n_s) / sum_s
    // sqrt(n_s) — so big sources are flattened toward small ones (the T5 /
    // multilingual mixture-balancing scheme), vs q_sample_mixture's fixed
    // hand-set rates. All math after sqrt is INTEGER (w = floor(sqrt(n) *
    // 1000) then exact integer sums/div), so the per-row threshold is
    // bit-identical in both engines — no float-sum order dependence. The
    // rate table is a tiny per-source agg broadcast back; selection stays
    // a deterministic per-row md5 filter (retry-safe, shuffle-free).
    q("q_sample_temperature",
      """WITH c AS (
        |  SELECT lang, COUNT(*) AS n,
        |    CAST(floor(sqrt(COUNT(*)) * 1000) AS BIGINT) AS w
        |  FROM documents GROUP BY lang),
        |g AS (SELECT SUM(w) AS sw, SUM(n) AS total FROM c),
        |r AS (
        |  SELECT lang, n,
        |    LEAST((50000 * total * w) // (sw * n), 100000) AS thr
        |  FROM c CROSS JOIN g)
        |SELECT d.lang, MIN(r.n) AS n_orig, COUNT(*) AS n_kept,
        |  CAST(MIN(r.thr) AS BIGINT) AS thr_e5,
        |  CAST(SUM(d.doc_id) AS BIGINT) AS id_checksum
        |FROM documents d JOIN r ON d.lang = r.lang
        |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT % 100000
        |      < r.thr
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val c = docs.groupBy("lang")
        .agg(count(lit(1)).as("n"),
          floor(sqrt(count(lit(1))) * 1000).cast("long").as("w"))
      val g = c.agg(sum("w").as("sw"), sum("n").as("total"))
      val rates = c.crossJoin(g)
        .select(col("lang"), col("n"),
          least(expr("(50000L * total * w) div (sw * n)"), lit(100000L))
            .as("thr"))
      docs.join(broadcast(rates), Seq("lang"))
        .filter(h60(col("doc_id").cast("string")) % 100000 < col("thr"))
        .groupBy("lang")
        .agg(min(col("n")).as("n_orig"), count(lit(1)).as("n_kept"),
          min(col("thr")).cast("long").as("thr_e5"),
          sum(col("doc_id")).cast("long").as("id_checksum"))
        .orderBy("lang")
    },

    // WEIGHTED sampling WITHOUT replacement (Efraimidis–Spirakis
    // priority sampling, IPL 2006): each doc draws a deterministic
    // uniform u from the portable md5 hash and takes priority
    // ln(u)/w — monotone-equivalent to the classic u^(1/w) key — with
    // weight w = token count, so long documents are proportionally
    // more likely to be kept. The global top-k by priority IS the
    // weighted sample-without-replacement. Priorities are quantized to
    // integer micro-nats (the DSIR trick) so ordering is bit-identical
    // across engines. Plan: pure per-row projection + distributed
    // top-k (TakeOrderedAndProject) — no shuffle of the corpus, no
    // replacement bookkeeping, retry-stable (hash, not rand()); at
    // 100 TB this is scan + a k-row heap per partition.
    q("q_sample_weighted",
      """WITH f AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |    (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
        |       % 1000000 + 1) / 1000001.0 AS u
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, source, w,
        |    CAST(ROUND(1000000 * ln(u) / w) AS BIGINT) AS pri_u
        |  FROM f)
        |SELECT doc_id, source, w, pri_u
        |FROM p ORDER BY pri_u DESC, doc_id LIMIT 200""".stripMargin) {
      (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("w"),
          ((h60(col("doc_id").cast("string")) % 1000000 + 1)
            / lit(1000001.0)).as("u"))
        .select(col("doc_id"), col("source"), col("w"),
          round(lit(1000000) * log(col("u")) / col("w")).cast("long")
            .as("pri_u"))
        .orderBy(col("pri_u").desc, col("doc_id"))
        .limit(200)
    },

    // Model-based quality FILTER: a fixed-weight logistic regression over
    // cheap per-row features (log token count, stopword ratio, mean word
    // length) — the plumbing of a fastText-style quality classifier with
    // the learned weights frozen as literals. Pure per-row codegen'd
    // projection (no join, no UDF) + a low-cardinality rollup; at 100 TB
    // this runs at scan speed. The keep decision uses the raw logit
    // (z >= 0 <=> score >= 0.5) so no sigmoid rounding can flip it.
    q("q_quality_logistic",
      """WITH f AS (
        |  SELECT source,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
        |    CAST(length(replace(text, ' ', '')) AS DOUBLE) AS n_alpha,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> list_contains(
        |        ['the','of','and','a','to','in','is','it'], x)))
        |      AS DOUBLE) AS n_stop
        |  FROM documents),
        |z AS (SELECT source,
        |        -2.0 + 0.45 * ln(n_tok) + 4.0 * n_stop / n_tok
        |          - 0.15 * n_alpha / n_tok AS z
        |      FROM f)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN z >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  ROUND(AVG(1.0 / (1.0 + exp(-z))), 6) + 0.0 AS avg_score
        |FROM z GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .withColumn("n_tok", size(col("w")).cast("double"))
        .withColumn("n_alpha",
          length(regexp_replace(col("text"), " ", "")).cast("double"))
        .withColumn("n_stop", expr(
          "size(filter(w, x -> array_contains(" +
            "array('the','of','and','a','to','in','is','it'), x)))")
          .cast("double"))
        .withColumn("z",
          lit(-2.0) + lit(0.45) * log(col("n_tok")) +
            lit(4.0) * col("n_stop") / col("n_tok") -
            lit(0.15) * col("n_alpha") / col("n_tok"))
      d.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("z") >= 0, 1).otherwise(0)).cast("long").as("n_keep"),
          round(avg(lit(1.0) / (lit(1.0) + exp(-col("z")))), 6)
            .as("avg_score"))
        .orderBy("source")
    },

    // QUALITY-CLASSIFIER TRAINING (the missing half of
    // q_quality_logistic, which only SCORES with fixed weights): batch
    // gradient descent on a logistic model, the shape of every
    // wiki-vs-crawl quality filter (fastText-style) and of DSIR's
    // discriminator. Target domain = the English slice (y = lang='en');
    // features = bias, ln(1+tokens), stopword ratio, chars/token — each
    // ROUNDED to 6 decimals so both engines start from identical
    // numbers. Three unrolled steps (the IVF-Lloyd pattern): per step,
    // z and sigma(z) carry the same 6-decimal guard as every
    // transcendental in this repo, per-row gradient contributions are
    // quantized to integer MICRO-units BEFORE the sum (order-independent
    // and bit-exact in any aggregation order), and the weight update
    // w - ROUND(0.05*g/n) is computed from exact integers — so the weight
    // table is bit-identical across engines AND across partitionings.
    // Scale shape: the corpus is scanned once per step with a broadcast
    // 1-row weight relation (no driver-side model state), the gradient
    // is one map-side-combined aggregation; 100 TB = 3 scans, 3
    // one-row shuffles. Oracle: all three steps unrolled as CTEs.
    q("q_quality_train", {
      val featSql =
        """f AS (
          |  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
          |    ROUND(ln(1 + len(string_split(text, ' '))), 6) AS x1,
          |    ROUND(CAST(len(list_filter(string_split(text, ' '),
          |        t -> list_contains(
          |          ['the','of','and','a','to','in','is','it'], t)))
          |        AS DOUBLE) / len(string_split(text, ' ')), 6) AS x2,
          |    ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
          |        / len(string_split(text, ' ')), 6) AS x3
          |  FROM documents)""".stripMargin
      def gradSql(g: String, w: String) =
        s"""$g AS (
           |  SELECT t.step + 1 AS step,
           |    CAST(SUM(CAST(ROUND(1000000 * (s - y)) AS BIGINT))
           |      AS BIGINT) AS g0,
           |    CAST(SUM(CAST(ROUND(1000000 * x1 * (s - y)) AS BIGINT))
           |      AS BIGINT) AS g1,
           |    CAST(SUM(CAST(ROUND(1000000 * x2 * (s - y)) AS BIGINT))
           |      AS BIGINT) AS g2,
           |    CAST(SUM(CAST(ROUND(1000000 * x3 * (s - y)) AS BIGINT))
           |      AS BIGINT) AS g3,
           |    COUNT(*) AS n, MIN(t.w0) AS pw0, MIN(t.w1) AS pw1,
           |    MIN(t.w2) AS pw2, MIN(t.w3) AS pw3
           |  FROM (
           |    SELECT f.y, f.x1, f.x2, f.x3, w.step, w.w0, w.w1, w.w2, w.w3,
           |      ROUND(1.0 / (1.0 + exp(-ROUND(
           |        (w.w0 + f.x1 * w.w1 + f.x2 * w.w2 + f.x3 * w.w3)
           |          / 1000000.0, 6))), 6) AS s
           |    FROM f CROSS JOIN $w w) t
           |  GROUP BY t.step)""".stripMargin
      def stepSql(wNew: String, g: String) =
        s"""$wNew AS (
           |  SELECT step,
           |    pw0 - CAST(ROUND(0.05 * g0 / n) AS BIGINT) AS w0,
           |    pw1 - CAST(ROUND(0.05 * g1 / n) AS BIGINT) AS w1,
           |    pw2 - CAST(ROUND(0.05 * g2 / n) AS BIGINT) AS w2,
           |    pw3 - CAST(ROUND(0.05 * g3 / n) AS BIGINT) AS w3
           |  FROM $g)""".stripMargin
      s"""WITH $featSql,
         |w0t AS (SELECT 0 AS step, CAST(0 AS BIGINT) AS w0,
         |  CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2,
         |  CAST(0 AS BIGINT) AS w3),
         |${gradSql("gr1", "w0t")}, ${stepSql("w1t", "gr1")},
         |${gradSql("gr2", "w1t")}, ${stepSql("w2t", "gr2")},
         |${gradSql("gr3", "w2t")}, ${stepSql("w3t", "gr3")}
         |SELECT step, w0 AS w_bias_u, w1 AS w_logtok_u, w2 AS w_stop_u,
         |  w3 AS w_chars_u
         |FROM (SELECT * FROM w1t UNION ALL SELECT * FROM w2t
         |      UNION ALL SELECT * FROM w3t) ORDER BY step""".stripMargin
    }) { (s, dir) =>
      val d = t(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .withColumn("n_tok", size(col("w")))
        .select(
          when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
          round(log(lit(1) + col("n_tok")), 6).as("x1"),
          round(expr("size(filter(w, t -> array_contains(" +
              "array('the','of','and','a','to','in','is','it'), t)))")
            .cast("double") / col("n_tok"), 6).as("x2"),
          round(length(regexp_replace(col("text"), " ", "")).cast("double")
            / col("n_tok"), 6).as("x3"))
        .transform(T.scratch)
      var w = s.range(1).select(lit(0).as("step"),
        lit(0L).as("w0"), lit(0L).as("w1"), lit(0L).as("w2"),
        lit(0L).as("w3"))
      val steps = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.DataFrame]
      for (_ <- 1 to 3) {
        val g = d.crossJoin(broadcast(w))
          .withColumn("z", round(
            (col("w0") + col("x1") * col("w1") + col("x2") * col("w2")
              + col("x3") * col("w3")) / 1000000.0, 6))
          .withColumn("s", round(
            lit(1.0) / (lit(1.0) + exp(lit(0) - col("z"))), 6))
          .groupBy(col("step"))
          .agg(
            sum(round(lit(1000000) * (col("s") - col("y"))).cast("long"))
              .as("g0"),
            sum(round(lit(1000000) * col("x1") * (col("s") - col("y")))
              .cast("long")).as("g1"),
            sum(round(lit(1000000) * col("x2") * (col("s") - col("y")))
              .cast("long")).as("g2"),
            sum(round(lit(1000000) * col("x3") * (col("s") - col("y")))
              .cast("long")).as("g3"),
            count(lit(1)).as("n"),
            first(col("w0")).as("pw0"), first(col("w1")).as("pw1"),
            first(col("w2")).as("pw2"), first(col("w3")).as("pw3"))
        w = g.select((col("step") + 1).as("step"),
            (col("pw0") - round(lit(0.05) * col("g0") / col("n"))
              .cast("long")).as("w0"),
            (col("pw1") - round(lit(0.05) * col("g1") / col("n"))
              .cast("long")).as("w1"),
            (col("pw2") - round(lit(0.05) * col("g2") / col("n"))
              .cast("long")).as("w2"),
            (col("pw3") - round(lit(0.05) * col("g3") / col("n"))
              .cast("long")).as("w3"))
          .transform(T.scratch)
        steps += w
      }
      steps.reduce(_ unionAll _)
        .select(col("step"), col("w0").as("w_bias_u"),
          col("w1").as("w_logtok_u"), col("w2").as("w_stop_u"),
          col("w3").as("w_chars_u"))
        .orderBy("step")
    },

    // Deterministic per-key CAP: keep at most 30 docs per source, chosen
    // by md5(doc_id) order — a seeded shuffle, so retries/re-runs keep
    // the SAME rows (rand() would not survive a task retry). One shuffle
    // on the cap key; per-key ordering is a within-partition sort. At
    // 100 TB a pathologically hot key would make one reducer sort its
    // whole stratum — the fix is the two-phase trick (pre-filter per
    // map partition to its local top-30 by the same hash order, then
    // the global window over the survivors), same answer by
    // commutativity of "first 30 by total order".
    q("q_sample_cap_per_key",
      """WITH r AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN rn <= 30 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(SUM(CASE WHEN rn <= 30 THEN doc_id END) AS BIGINT)
        |    AS kept_checksum
        |FROM r GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      // r15: cap-per-key via the bounded top-k aggregate (TopKAgg) in
      // the SAME pass as the total count — the former rank window
      // sorted the whole corpus per source (with the text column
      // riding along) before the groupBy; now one skinny
      // shuffle-and-aggregate does both, map-side combined. Keep-set
      // = smallest-30 by (md5(doc_id), doc_id) — identical to the old
      // rn<=30 (TopKSpec).
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          md5(col("doc_id").cast("string")).as("hk"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          expr("collect_topk(struct(hk, doc_id), 30, true)").as("keep"))
        .select(col("source"), col("n_total"),
          size(col("keep")).cast("long").as("n_kept"),
          expr("aggregate(keep, 0L, (a, x) -> a + x.doc_id)")
            .cast("long").as("kept_checksum"))
        .orderBy("source")
    },

    // END-TO-END curation pipeline — the capstone composition proving
    // the stages CHAIN: quality rules -> exact dedup (keep-first by
    // content fingerprint, among quality survivors only) -> 70%
    // deterministic hash sample -> per-source accounting with monotone
    // stage counts and a kept-id checksum. One corpus scan feeds the
    // quality flags; dedup ownership is a window-min on the 60-bit
    // content hash (fingerprints shuffle, text never does); the sample
    // is a per-row md5 filter. This is the query shape a real ingest
    // job materializes nightly: everything else in this pack exists to
    // make one of these stages trustworthy in isolation.
    q("q_pipeline_curate",
      """WITH f AS (
        |  SELECT doc_id, source, text,
        |    len(string_split(text, ' ')) AS n_tok,
        |    len(replace(text, ' ', '')) AS sum_len,
        |    len(list_filter(string_split(text, ' '),
        |        w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS th
        |  FROM f
        |  WHERE n_tok >= 20 AND sum_len >= 3 * n_tok
        |    AND sum_len <= 10 * n_tok AND n_stop >= 2),
        |d AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY th)
        |         THEN 1 ELSE 0 END AS uniq
        |  FROM q),
        |sm AS (
        |  SELECT doc_id, source, uniq,
        |    CASE WHEN uniq = 1 AND
        |      ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10 < 7
        |         THEN 1 ELSE 0 END AS kept
        |  FROM d),
        |tot AS (SELECT source, COUNT(*) AS n_docs FROM documents
        |        GROUP BY source)
        |SELECT tot.source, tot.n_docs,
        |  CAST(COUNT(sm.doc_id) AS BIGINT) AS n_quality,
        |  CAST(COALESCE(SUM(sm.uniq), 0) AS BIGINT) AS n_unique,
        |  CAST(COALESCE(SUM(sm.kept), 0) AS BIGINT) AS n_sampled,
        |  CAST(COALESCE(SUM(CASE WHEN sm.kept = 1 THEN sm.doc_id END), 0)
        |    AS BIGINT) AS kept_checksum
        |FROM tot LEFT JOIN sm ON sm.source = tot.source
        |GROUP BY tot.source, tot.n_docs ORDER BY tot.source""".stripMargin) {
      (s, dir) =>
      val docs = t(s, dir, "documents")
      val f = docs
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tok", size(col("toks")))
        .withColumn("sum_len", length(regexp_replace(col("text"), " ", "")))
        .withColumn("n_stop", expr(
          "size(filter(toks, w -> array_contains(" +
            "array('the','a','of','and','to'), w)))"))
      val q = f.filter(col("n_tok") >= 20 &&
          col("sum_len") >= lit(3) * col("n_tok") &&
          col("sum_len") <= lit(10) * col("n_tok") && col("n_stop") >= 2)
        .select(col("doc_id"), col("source"), h60(col("text")).as("th"))
      val wOwn = org.apache.spark.sql.expressions.Window.partitionBy("th")
      val sm = q
        .withColumn("uniq",
          when(col("doc_id") === min(col("doc_id")).over(wOwn), 1)
            .otherwise(0))
        .withColumn("kept",
          when(col("uniq") === 1 &&
            h60(col("doc_id").cast("string")) % 10 < 7, 1).otherwise(0))
      val tot = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      tot.join(sm, Seq("source"), "left")
        .groupBy("source", "n_docs")
        .agg(count(col("doc_id")).cast("long").as("n_quality"),
          coalesce(sum(col("uniq")), lit(0)).cast("long").as("n_unique"),
          coalesce(sum(col("kept")), lit(0)).cast("long").as("n_sampled"),
          coalesce(sum(when(col("kept") === 1, col("doc_id"))), lit(0))
            .cast("long").as("kept_checksum"))
        .orderBy("source")
    },

    // KEY-SKEW AUDIT — the diagnostic you run BEFORE choosing a join /
    // partition strategy at 100 TB: per join-key count distribution
    // (max, discrete p50/p95/p99 via cume_dist — identical tie handling
    // in both engines, unlike interpolated percentile), the hottest key,
    // and skew_ratio = max/mean (ratio ≈ 1 ⇒ plain shuffle join is
    // fine; ≫ 1 ⇒ salt that key or let AQE split it). Exact integer
    // counts end-to-end; the only double is the final ratio. One
    // row per audited key column; per key: one count shuffle + a
    // key-count-sized window (key cardinality, not row count).
    // DISTRIBUTION-DRIFT AUDIT: pairwise Jensen–Shannon divergence
    // between the per-SOURCE hashed-bigram distributions (the same
    // 1024-bucket feature space DSIR scores against) — the corpus-mix
    // monitor a pipeline runs when a new crawl lands or a snapshot
    // refreshes ("did source X's content shift?"). JS rather than KL:
    // symmetric and FINITE with empty buckets (0·ln0 = 0 by
    // convention, handled explicitly), so no smoothing constant to
    // tune. Per-bucket contributions quantize to integer micro-nats
    // before the order-independent BIGINT sum; all ratios are
    // exact-int/exact-int doubles, so both engines run identical IEEE
    // arithmetic. Scale: one corpus pass builds the (source, bucket)
    // counts (map-side combined, ≤ sources×1024 rows out), the dense
    // bucket frame and pairing are broadcast-sized; nothing
    // corpus-sized is ever joined or shuffled twice.
    q("q_audit_drift",
      """WITH f AS (
        |  SELECT source,
        |    ('0x' || substr(md5(w[i] || ' ' || w[i + 1]), 1, 15))::BIGINT
        |      % 1024 AS b
        |  FROM (SELECT source, w, unnest(range(1, len(w))) AS i
        |        FROM (SELECT source, string_split(text, ' ') AS w
        |              FROM documents)
        |        WHERE len(w) >= 2)),
        |c AS (SELECT source, b, COUNT(*) AS cnt FROM f GROUP BY 1, 2),
        |n AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n FROM c
        |      GROUP BY 1),
        |dense AS (
        |  SELECT n.source, r.b, n.n, COALESCE(c.cnt, 0) AS cnt
        |  FROM n CROSS JOIN range(0, 1024) r(b)
        |  LEFT JOIN c ON c.source = n.source AND c.b = r.b),
        |pair AS (
        |  SELECT a.source AS source_a, bb.source AS source_b, a.b,
        |    CAST(a.cnt AS DOUBLE) / a.n AS p,
        |    CAST(bb.cnt AS DOUBLE) / bb.n AS q,
        |    a.n AS n_a, bb.n AS n_b
        |  FROM dense a JOIN dense bb
        |    ON a.b = bb.b AND a.source < bb.source),
        |terms AS (
        |  SELECT source_a, source_b, n_a, n_b,
        |    CAST(ROUND(1000000 * (
        |      (CASE WHEN p > 0 THEN 0.5 * p * ln(2 * p / (p + q))
        |            ELSE 0 END) +
        |      (CASE WHEN q > 0 THEN 0.5 * q * ln(2 * q / (p + q))
        |            ELSE 0 END))) AS BIGINT) AS js_u
        |  FROM pair)
        |SELECT source_a, source_b,
        |  CAST(SUM(js_u) AS BIGINT) AS js_unats,
        |  MIN(n_a) AS n_bigrams_a, MIN(n_b) AS n_bigrams_b
        |FROM terms GROUP BY 1, 2
        |ORDER BY source_a, source_b""".stripMargin) { (s, dir) =>
      val f = t(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 2)
        .select(col("source"), explode(expr(
          "transform(sequence(1, size(w) - 1)," +
            " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
          .as("bg"))
        .select(col("source"), (h60(col("bg")) % 1024).as("b"))
      val c = f.groupBy("source", "b").agg(count(lit(1)).as("cnt"))
        .transform(T.scratch)
      val n = c.groupBy("source").agg(sum(col("cnt")).cast("long").as("n"))
      val dense = broadcast(n)
        .crossJoin(broadcast(
          s.range(0, 1024).select(col("id").as("b"))))
        .join(c, Seq("source", "b"), "left")
        .select(col("source"), col("b"), col("n"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
      val a = dense.select(col("source").as("source_a"), col("b"),
        (col("cnt").cast("double") / col("n")).as("p"), col("n").as("n_a"))
      val bb = dense.select(col("source").as("source_b"),
        col("b").as("b2"),
        (col("cnt").cast("double") / col("n")).as("q"), col("n").as("n_b"))
      a.join(bb, col("b") === col("b2") &&
          col("source_a") < col("source_b"))
        .withColumn("js_u", round(lit(1000000) * (
          when(col("p") > 0,
            lit(0.5) * col("p") * log(lit(2) * col("p")
              / (col("p") + col("q")))).otherwise(0.0) +
          when(col("q") > 0,
            lit(0.5) * col("q") * log(lit(2) * col("q")
              / (col("p") + col("q")))).otherwise(0.0)))
          .cast("long"))
        .groupBy("source_a", "source_b")
        .agg(sum(col("js_u")).cast("long").as("js_unats"),
          min(col("n_a")).as("n_bigrams_a"),
          min(col("n_b")).as("n_bigrams_b"))
        .orderBy("source_a", "source_b")
    },

    // KEY-SKEW AUDIT — per join-key column: key cardinality, hottest key,
    // count percentiles and a skew ratio (max/mean multiplicity). Scale
    // shape (the r7 verdict's one flagged plan): the per-key count
    // relation is billions of rows on a 100 TB fact table, so the old
    // `cume_dist() OVER (ORDER BY cnt)` + `MAX(cnt) OVER ()` single-task
    // global window is exactly the pattern SCALE.md bans. Rewritten as
    // ONE partial/final aggregate over the counts: percentiles via
    // percentile_approx (exact below its 1e6 accuracy at test SF; the
    // mergeable-sketch path at 100 TB — bounded rank error, same pairing
    // vs DuckDB quantile_disc that q_curriculum_bins pins). ACCURACY
    // BOUNDARY (advice r8): once a key column's distinct-key count
    // exceeds the 1e6 accuracy parameter, percentile_approx silently
    // becomes approximate while the DuckDB quantile_disc oracle stays
    // exact — at that point the CORRECTNESS gate itself flags the
    // divergence (hash mismatch), which is the desired loud failure;
    // the fix then is to scale the accuracy with n_keys or swap in the
    // KLL twin (q_sketch_quantiles) with a rank-tolerant oracle. The
    // largest oracle-checked key domain (sf0.1 l_partkey, 20k keys) is
    // 50× under the boundary. Hottest key
    // via max_by with a (cnt, -key) struct (deterministic min-key
    // tie-break). No window anywhere in the Spark plan; the oracle keeps
    // a window for hot_key because DuckDB-side shape is scale-irrelevant.
    q("q_audit_skew", {
      val one = (tag: String, tbl: String, kc: String) =>
        s"""SELECT '$tag' AS keycol,
           |  CAST(COUNT(*) AS BIGINT) AS n_keys,
           |  CAST(MAX(cnt) AS BIGINT) AS max_cnt,
           |  CAST(quantile_disc(cnt, 0.5) AS BIGINT) AS p50_cnt,
           |  CAST(quantile_disc(cnt, 0.95) AS BIGINT) AS p95_cnt,
           |  CAST(quantile_disc(cnt, 0.99) AS BIGINT) AS p99_cnt,
           |  CAST(MIN(CASE WHEN cnt = mx THEN key END) AS BIGINT) AS hot_key,
           |  ROUND(CAST(MAX(cnt) AS DOUBLE) * COUNT(*) / SUM(cnt), 4)
           |    AS skew_ratio
           |FROM (SELECT key, cnt, MAX(cnt) OVER () AS mx
           |      FROM (SELECT $kc AS key, COUNT(*) AS cnt
           |            FROM $tbl GROUP BY 1))""".stripMargin
      s"""SELECT * FROM (
         |${one("lineitem.l_partkey", "lineitem", "l_partkey")}
         |UNION ALL
         |${one("lineitem.l_suppkey", "lineitem", "l_suppkey")}
         |UNION ALL
         |${one("orders.o_custkey", "orders", "o_custkey")})
         |ORDER BY keycol""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.DataFrame
      def one(tag: String, df: DataFrame, kc: String): DataFrame = {
        val counts = df.groupBy(col(kc).as("key"))
          .agg(count(lit(1)).as("cnt"))
        counts
          .agg(count(lit(1)).cast("long").as("n_keys"),
            max(col("cnt")).cast("long").as("max_cnt"),
            expr("percentile_approx(cnt, array(0.5D, 0.95D, 0.99D), 1000000)")
              .as("qs"),
            expr("max_by(key, struct(cnt, -key))").cast("long").as("hot_key"),
            round(max(col("cnt")).cast("double") * count(lit(1))
              / sum(col("cnt")), 4).as("skew_ratio"))
          .select(lit(tag).as("keycol"), col("n_keys"), col("max_cnt"),
            expr("qs[0]").cast("long").as("p50_cnt"),
            expr("qs[1]").cast("long").as("p95_cnt"),
            expr("qs[2]").cast("long").as("p99_cnt"),
            col("hot_key"), col("skew_ratio"))
      }
      one("lineitem.l_partkey", t(s, dir, "lineitem"), "l_partkey")
        .unionAll(one("lineitem.l_suppkey", t(s, dir, "lineitem"),
          "l_suppkey"))
        .unionAll(one("orders.o_custkey", t(s, dir, "orders"), "o_custkey"))
        .orderBy("keycol")
    },

    // TRAIN/VAL/TEST SPLIT — the canonical last step before training:
    // a deterministic, EXHAUSTIVE, disjoint 3-way partition by document
    // hash (80/10/10). Hash-keyed (not rand()): any executor, retry, or
    // re-run assigns every doc to the same split, and adding documents
    // never moves existing ones between splits (per-doc decision, no
    // global count dependence — unlike ntile-style splitting, which
    // reshuffles everything when the corpus grows). Pure per-row
    // projection then a |splits × sources| accounting agg.
    q("q_sample_split",
      """WITH s AS (
        |  SELECT source, doc_id,
        |    CASE WHEN h % 10 < 8 THEN 'train'
        |         WHEN h % 10 = 8 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT source, doc_id,
        |          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |            ::BIGINT AS h
        |        FROM documents))
        |SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        |FROM s GROUP BY split, source ORDER BY split, source""".stripMargin) {
      (s, dir) =>
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          (h60(col("doc_id").cast("string")) % 10).as("b"))
        .withColumn("split",
          when(col("b") < 8, "train").when(col("b") === 8, "val")
            .otherwise("test"))
        .groupBy("split", "source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("doc_id")).cast("long").as("id_checksum"))
        .orderBy("split", "source")
    },

    // DSIR-style IMPORTANCE RESAMPLING (Xie et al., "Data Selection for
    // Language Models via Importance Resampling", NeurIPS 2023): select
    // raw-corpus documents whose hashed-bigram distribution looks like a
    // small TARGET domain (here: the English slice). Per-doc importance
    // weight = sum over bigram tokens of log p_target(f) - log p_raw(f)
    // with add-one smoothing over 1024 hashed feature buckets. All logs
    // are quantized to integer MICRO-NATS per feature BEFORE summing, so
    // the per-doc score is a sum of BIGINTs - order-independent and
    // bit-exact across engines (float sums would drift with partial-agg
    // order). The smoothing normalizer ln(R+B)-ln(T+B) is constant per
    // token, so it joins the score as n_tokens * norm_u rather than
    // being folded into every bucket.
    // Scale: both model tables are <=1024 rows (one per feature bucket)
    // - built with map-side partial aggs and BROADCAST back; the corpus
    // stream is scan -> explode -> map-side hash probe, then ONE shuffle
    // (per-doc agg) and a distributed top-k (TakeOrderedAndProject), so
    // nothing corpus-sized is ever shuffled and the driver never holds
    // more than 100 result rows. Deterministic: ties break on doc_id.
    q("q_sample_dsir",
      """WITH d AS (
        |  SELECT doc_id, lang, source, string_split(text, ' ') AS w
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |f AS (
        |  SELECT doc_id, lang, source,
        |    ('0x' || substr(md5(w[i] || ' ' || w[i + 1]), 1, 15))::BIGINT
        |      % 1024 AS b
        |  FROM (SELECT doc_id, lang, source, w,
        |          unnest(range(1, len(w))) AS i FROM d)),
        |cr AS (SELECT b, COUNT(*) AS cr FROM f GROUP BY 1),
        |ct AS (SELECT b, COUNT(*) AS ct FROM f WHERE lang = 'en'
        |       GROUP BY 1),
        |tab AS (
        |  SELECT cr.b,
        |    CAST(ROUND(1000000 * (ln(COALESCE(ct.ct, 0) + 1)
        |                          - ln(cr.cr + 1))) AS BIGINT) AS lr_u
        |  FROM cr LEFT JOIN ct ON cr.b = ct.b),
        |nrm AS (
        |  SELECT CAST(ROUND(1000000 * (
        |    ln((SELECT COUNT(*) FROM f) + 1024.0)
        |    - ln((SELECT COUNT(*) FROM f WHERE lang = 'en') + 1024.0)))
        |    AS BIGINT) AS norm_u),
        |sc AS (
        |  SELECT f.doc_id, MIN(f.lang) AS lang, MIN(f.source) AS source,
        |    CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(tab.lr_u) + COUNT(*) * MIN(nrm.norm_u) AS BIGINT)
        |      AS score_unats
        |  FROM f JOIN tab ON f.b = tab.b CROSS JOIN nrm
        |  GROUP BY f.doc_id)
        |SELECT doc_id, lang, source, n_bigrams, score_unats,
        |  CAST(ROW_NUMBER() OVER (ORDER BY score_unats DESC, doc_id)
        |    AS BIGINT) AS rank
        |FROM sc ORDER BY score_unats DESC, doc_id LIMIT 100""".stripMargin) {
      (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      // The exploded bigram stream is RECOMPUTED per pass, never
      // materialized: DSIR is the textbook two-pass shape (pass 1 learns
      // the 1024-bucket model, pass 2 scores the corpus against the
      // broadcast model), and both passes are scan → explode → map-side
      // agg. An earlier version localCheckpointed this stream to share
      // it — corpus × bigram rows with lang/source strings in block
      // storage, which the 100× scale run exposed as the dominant cost
      // (a 100 TB corpus can always afford two scans; it can never
      // afford materializing its own explode).
      def feats(cols: org.apache.spark.sql.Column*) = docs
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 2)
        .select(cols :+ explode(expr(
          "transform(sequence(1, size(w) - 1)," +
            " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
          .as("bg"): _*)
        .withColumn("b", h60(col("bg")) % 1024).drop("bg")
      // Raw and target bucket counts share ONE aggregation pass (ct is
      // the conditional count of the en slice — identical to the
      // oracle's separate CTE since COALESCE(ct,0) == the when-sum).
      val bucket = feats(col("lang")).groupBy("b")
        .agg(count(lit(1)).as("cr"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
      // The learned model is a BOUNDED artifact — ≤1024 rows regardless
      // of corpus size — so pass 1 runs exactly once and the rows are
      // pinned on the driver (the BPE merge-table precedent). Without
      // this, every broadcast() deriving from `bucket` (tab AND nrm)
      // re-executed the whole explode+agg subplan inside its broadcast
      // build — measured 3 corpus passes where 1 suffices at the 100×
      // point. tab/nrm are then derived from the LOCAL relation with
      // the same Spark expressions, so every float op stays bit-
      // identical to the distributed form the oracle replays.
      val bucketLocal = s.createDataFrame(
        java.util.Arrays.asList(bucket.collect(): _*), bucket.schema)
      // Per-bucket log-ratio in integer micro-nats: quantize BEFORE the
      // per-doc sum so aggregation order can never move a bit.
      val tab = bucketLocal
        .select(col("b"),
          round(lit(1000000) * (log(col("ct") + 1)
            - log(col("cr") + 1))).cast("long").as("lr_u"))
      // The smoothing normalizer needs only the two corpus totals —
      // derived from the 1024-row bucket model, not a corpus pass.
      val nrm = bucketLocal.agg(
        round(lit(1000000) * (log(sum(col("cr")) + 1024.0)
          - log(sum(col("ct")) + 1024.0)))
          .cast("long").as("norm_u"))
      // Scoring pass shuffles ONLY (doc_id, lr_u) — lang/source ride
      // along for zero scoring purpose, so they are re-joined AFTER the
      // top-100 limit instead (a broadcast of 100 rows against a
      // column-pruned documents scan), keeping the per-doc shuffle at
      // 16 bytes/bigram no matter how wide the document metadata gets.
      val sc = feats(col("doc_id"))
        .join(broadcast(tab), Seq("b"))
        .crossJoin(broadcast(nrm))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_bigrams"),
          (sum(col("lr_u")) + count(lit(1)) * min(col("norm_u")))
            .cast("long").as("score_unats"))
      // Distributed top-k (TakeOrderedAndProject); the rank window runs
      // over the 100 surviving rows only, never the corpus.
      val top = sc.orderBy(col("score_unats").desc, col("doc_id")).limit(100)
        .withColumn("rank",
          row_number().over(
            Window.orderBy(col("score_unats").desc, col("doc_id")))
            .cast("long"))
      broadcast(top).join(docs.select("doc_id", "lang", "source"), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_bigrams"), col("score_unats"), col("rank"))
        .orderBy(col("rank"))
    },

    // TABLE CHECKSUM: the engine-migration parity audit — the first
    // thing a team switching engines runs on both sides. Per table:
    // row count, an order-independent XOR signature, and a modular sum
    // of portable 60-bit row hashes over the discrete columns (ints +
    // strings only: float/timestamp→string rendering is engine-specific,
    // so discrete columns carry identity and the money columns are
    // validated by the decimal-sum queries elsewhere). XOR and mod-sum
    // are commutative+associative, so partial aggregation combines in
    // any order — one scan, map-side combine, a 1-row-per-table shuffle;
    // at 100 TB this is bandwidth-bound and embarrassingly parallel.
    // Mod 1e9+7 keeps the sum of ~1e9-bounded terms inside BIGINT for
    // any row count up to ~9e9 rows per table.
    q("q_table_checksum",
      """WITH o AS (
        |  SELECT ('0x' || substr(md5(o_orderkey::VARCHAR || '|' ||
        |    o_custkey::VARCHAR || '|' || o_orderstatus || '|' ||
        |    o_orderpriority), 1, 15))::BIGINT AS h
        |  FROM orders),
        |c AS (
        |  SELECT ('0x' || substr(md5(c_custkey::VARCHAR || '|' ||
        |    c_nationkey::VARCHAR || '|' || c_name || '|' ||
        |    c_mktsegment), 1, 15))::BIGINT AS h
        |  FROM customer)
        |SELECT 'orders' AS tbl, COUNT(*) AS n_rows,
        |  BIT_XOR(h) AS xor_sig, CAST(SUM(h % 1000000007) AS BIGINT) AS mod_sum FROM o
        |UNION ALL
        |SELECT 'customer' AS tbl, COUNT(*) AS n_rows,
        |  BIT_XOR(h) AS xor_sig, CAST(SUM(h % 1000000007) AS BIGINT) AS mod_sum FROM c
        |ORDER BY tbl""".stripMargin) { (s, dir) =>
      def sig(df: org.apache.spark.sql.DataFrame, tbl: String,
          cols: org.apache.spark.sql.Column*) =
        df.select(h60(concat_ws("|", cols: _*)).as("h"))
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(h)").as("xor_sig"),
            sum(col("h") % 1000000007L).as("mod_sum"))
          .select(lit(tbl).as("tbl"), col("n_rows"), col("xor_sig"),
            col("mod_sum"))
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      sig(o, "orders", col("o_orderkey").cast("string"),
          col("o_custkey").cast("string"), col("o_orderstatus"),
          col("o_orderpriority"))
        .unionAll(sig(c, "customer", col("c_custkey").cast("string"),
          col("c_nationkey").cast("string"), col("c_name"),
          col("c_mktsegment")))
        .orderBy("tbl")
    })
}
