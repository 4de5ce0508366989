package graft.queries

import graft._
import graft.T._
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline (north star,
  * SURVEY.md §7 stage G): language-ID heuristic, quality scoring, token
  * counting (whitespace + regex-token), and document fingerprinting.
  *
  * Scale notes (100 TB): every query is a per-row projection (codegen'd
  * string/regex built-ins — no UDFs) followed by a low-cardinality
  * groupBy; shuffle volume is bounded by group count, not corpus size.
  * Fingerprints are md5 (128-bit) so downstream dedup/joins shuffle
  * 16-byte keys, never document bodies.
  */
object TextAnalysis extends QueryPack {

  /** Corpus (word, freq) vocabulary — shared by BPE training/encoding. */
  private def bpeVocab(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Trained merge table per data dir — train once, apply many (the
    * q_ddl_ctas_analyze setup-once precedent): training is pure in the
    * dir's file content, and q_bpe_encode's own cost is the APPLY pass.
    * q_bpe_merges itself never reads this memo — the training query
    * keeps exercising the trainer end to end. Keyed by dir path PLUS
    * T.contentTag of documents.parquet, so regenerating the dir's data
    * in-process retrains instead of silently encoding with stale merges.
    */
  private val trainedMerges =
    new scala.collection.concurrent.TrieMap[String, Seq[(String, String)]]()
  /** Bounded in principle, not just in practice: each entry is ~8 small
    * rows, but a long-lived session cycling through many data dirs (or
    * regenerating one dir repeatedly — each regen mints a new contentTag
    * key) would otherwise grow the memo without limit. 64 models ≈ a few
    * KB; evicting ALL on overflow (not LRU) keeps the memo allocation-free
    * on the hot path and retraining is cheap relative to the encode pass.
    */
  private val trainedMergesCap = 64
  private def memoMerges(key: String, train: => Seq[(String, String)]) = {
    // Evict only on a MISS at capacity: clearing on a hit would turn a
    // session holding exactly `cap` live models into a retrain on every
    // lookup (guaranteed miss after each clear).
    if (!trainedMerges.contains(key) &&
      trainedMerges.size >= trainedMergesCap) trainedMerges.clear()
    trainedMerges.getOrElseUpdate(key, train)
  }

  /** DuckDB replay of k BPE merge rounds (see q_bpe_merges for the
    * sentinel-string greedy-merge argument): emits the words/s0 CTEs
    * plus (p_i pair counts, b_i argmax, s_i merged state) per round.
    * MATERIALIZED throughout — plain CTE inlining is exponential in
    * round count (each round references the previous ~3×).
    * `withFinalMerge` controls whether the LAST round's s_k is emitted
    * (training only needs b_k; encoding needs the merged state).
    */
  private def bpeTrainCtes(k: Int, withFinalMerge: Boolean): String = {
    def pairs(p: String, prev: String) =
      s"""$p AS MATERIALIZED (
         |  SELECT u.p.l AS l, u.p.r AS r,
         |    CAST(SUM(u.freq) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT unnest(list_transform(range(1, len(sy)),
         |      i -> {'l': sy[i], 'r': sy[i + 1]})) AS p, freq
         |    FROM (SELECT string_split(substr(s, 2, length(s) - 2),
         |            chr(2) || chr(1)) AS sy, freq FROM $prev))
         |    u
         |  GROUP BY 1, 2)""".stripMargin
    def best(b: String, p: String) =
      s"$b AS MATERIALIZED (SELECT l, r, cnt FROM $p" +
        " ORDER BY cnt DESC, l, r LIMIT 1)"
    // One line on purpose: this SQL nests inside an outer stripMargin,
    // which would eat the first pipe of a line-leading `||`.
    def merge(sNew: String, prev: String, b: String) =
      s"$sNew AS MATERIALIZED (SELECT replace(s, " +
        s"chr(1) || (SELECT l FROM $b) || chr(2) || " +
        s"chr(1) || (SELECT r FROM $b) || chr(2), " +
        s"chr(1) || (SELECT l FROM $b) || (SELECT r FROM $b) || chr(2)" +
        s") AS s, freq FROM $prev)"
    val rounds = (1 to k).map { i =>
      Seq(pairs(s"p$i", s"s${i - 1}"), best(s"b$i", s"p$i")) ++
        (if (i < k || withFinalMerge)
          Seq(merge(s"s$i", s"s${i - 1}", s"b$i"))
        else Nil)
    }.flatten.mkString(",\n")
    s"""words AS (
       |  SELECT w AS word, COUNT(*) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY w),
       |s0 AS MATERIALIZED (
       |  SELECT chr(1) || array_to_string(
       |      list_append(string_split(word, ''), '</w>'),
       |      chr(2) || chr(1)) || chr(2) AS s, freq
       |  FROM words),
       |$rounds""".stripMargin
  }

  /** UNION ALL of the k argmax rows as the merge table. */
  private def bpeMergeRows(k: Int): String =
    (1 to k).map(i =>
      s"SELECT $i AS rank, l AS \"left\", r AS \"right\"," +
        s" l || r AS merged, cnt AS pair_count FROM b$i")
      .mkString("\nUNION ALL ")

  def defs: Seq[QueryDef] = Seq(

    // Language-ID via marker-token heuristic (an n-gram language model
    // reduced to its deterministic skeleton) — confusion matrix of
    // labeled lang vs guess.
    q("q_text_langid",
      """SELECT lang, guess, COUNT(*) AS cnt FROM (
        |  SELECT lang,
        |    CASE WHEN text LIKE '%the %' THEN 'en'
        |         WHEN text LIKE '%data %' THEN 'de'
        |         WHEN text LIKE '%query %' THEN 'fr'
        |         ELSE 'und' END AS guess
        |  FROM documents)
        |GROUP BY lang, guess ORDER BY lang, guess""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"),
          when(col("text").like("%the %"), "en")
            .when(col("text").like("%data %"), "de")
            .when(col("text").like("%query %"), "fr")
            .otherwise("und").as("guess"))
        .groupBy("lang", "guess").agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "guess")
    },

    // Quality scoring: token count, mean token length, stopword ratio,
    // and a composite score — the filter signals a pretraining pipeline
    // computes per document. Ratios are int/int double divisions
    // (bit-identical across engines).
    // REPETITION-ratio quality signal (the Gopher repetition filters'
    // deterministic core): distinct-token ratio and most-frequent-token
    // share, with keep thresholds in integer cross-multiplied form. The
    // top-share scan is an in-array lambda (O(d·n) per row, codegen'd)
    // — no explode, no shuffle beyond the final sort.
    q("q_text_repetition",
      """SELECT doc_id, n_tok, n_distinct, top_tok_n,
        |  CASE WHEN 10 * n_distinct >= 6 * n_tok
        |        AND 10 * top_tok_n <= 2 * n_tok THEN 1 ELSE 0 END AS keep_flag
        |FROM (
        |  SELECT doc_id, len(w) AS n_tok,
        |    len(list_distinct(w)) AS n_distinct,
        |    list_max(list_transform(list_distinct(w),
        |      d -> len(list_filter(w, x -> x = d)))) AS top_tok_n
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |        WHERE doc_id < 50))
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 50)
        .withColumn("w", split(col("text"), " "))
        .withColumn("n_tok", size(col("w")))
        .withColumn("n_distinct", size(array_distinct(col("w"))))
        .withColumn("top_tok_n", expr(
          "array_max(transform(array_distinct(w)," +
            " d -> size(filter(w, x -> x = d))))"))
        .select(col("doc_id"), col("n_tok"), col("n_distinct"),
          col("top_tok_n"),
          when(col("n_distinct") * 10 >= col("n_tok") * 6 &&
            col("top_tok_n") * 10 <= col("n_tok") * 2, 1).otherwise(0)
            .as("keep_flag"))
        .orderBy("doc_id")
    },

    q("q_text_quality",
      """SELECT doc_id, n_tokens,
        |  ROUND(CAST(n_chars AS DOUBLE) / n_tokens, 6) AS mean_tok_len,
        |  ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
        |  CASE WHEN n_tokens >= 20 AND n_stop * 5 >= n_tokens THEN 1
        |       ELSE 0 END AS keep_flag
        |FROM (
        |  SELECT doc_id, n_chars,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    len(list_filter(string_split(text, ' '),
        |        w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop
        |  FROM documents WHERE doc_id < 50)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 50)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("n_stop", size(expr(
          "filter(toks, w -> w IN ('the', 'a', 'of', 'and', 'to'))")))
        .select(col("doc_id"), col("n_tokens"),
          round(col("n_chars").cast("double") / col("n_tokens"), 6)
            .as("mean_tok_len"),
          round(col("n_stop").cast("double") / col("n_tokens"), 6)
            .as("stop_ratio"),
          when(col("n_tokens") >= 20 &&
            col("n_stop") * 5 >= col("n_tokens"), 1).otherwise(0)
            .as("keep_flag"))
        .orderBy("doc_id")
    },

    // QUALITY-SCORE NORMALIZATION: percent_rank of the raw score WITHIN
    // each language, bucketed into deciles — the step that makes one
    // global keep-threshold meaningful across languages whose raw score
    // distributions differ (a fixed token-count cut keeps 90% of English
    // and 40% of Thai; a per-lang rank cut keeps the same fraction of
    // each). Fully tie-broken (score, doc_id), so percent_rank is the
    // same exact rational in both engines and the decile floor cannot
    // drift. Scale note: the exact window is one shuffle PARTITIONED BY
    // LANG — fine until one language dominates the corpus (a single
    // 60 TB 'en' partition). Above RankSelect.aggregateSafeBytes this
    // query therefore switches to TextAnalysis.pctRankDeciles'
    // distributed branch: exact decile-boundary TUPLES via
    // RankSelect.groupedKeysAtRanks (no per-lang total sort), broadcast
    // back, and every row bucketed by comparison — bit-identical output
    // (Round10OpsSpec forces the branch and diffs against the window).
    q("q_quality_pct_rank",
      """WITH sc AS (
        |  SELECT doc_id, lang, len(string_split(text, ' ')) AS score
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, score,
        |    PERCENT_RANK() OVER (PARTITION BY lang ORDER BY score, doc_id)
        |      AS pr
        |  FROM sc)
        |SELECT lang, CAST(LEAST(FLOOR(pr * 10), 9) AS INT) AS decile,
        |  COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        |FROM r GROUP BY lang, decile
        |ORDER BY lang, decile""".stripMargin) { (s, dir) =>
      val sc = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).as("score"))
      TextAnalysis.pctRankDeciles(sc)
    },

    // Token counting per source: whitespace tokens vs regex word-tokens
    // (the BPE-pretokenizer skeleton: runs of letters / digits).
    q("q_text_tokens",
      """SELECT source,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+', 0))) AS BIGINT) AS re_tokens,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .groupBy("source")
        .agg(sum(size(split(col("text"), " "))).as("ws_tokens"),
          sum(size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))))
            .as("re_tokens"),
          count(lit(1)).as("n_docs"))
        .orderBy("source")
    },

    // TF-IDF top terms per document: term frequency × inverse document
    // frequency — the classic two-level text aggregation (per-(doc,term)
    // tf, per-term df, corpus N broadcast as a scalar, join, window
    // top-k). Exact int counts; the only float is the final ln(N/df)
    // product, rounded identically in both engines before ranking.
    q("q_text_tfidf",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |       GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok
        |       GROUP BY term),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, rn, term, tfidf FROM (
        |  SELECT doc_id, term, tfidf,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |                       ORDER BY tfidf DESC, term) AS rn
        |  FROM scored)
        |WHERE rn <= 3 AND doc_id < 10 ORDER BY doc_id, rn""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      def tok(d: org.apache.spark.sql.DataFrame) =
        d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      // The doc_id < 10 output filter commutes below the rank window
      // (it partitions by doc_id) and below the tf aggregation, so tf
      // only ever needs the TARGET docs — the optimizer pushes that
      // itself. What it cannot see (r16, guide §3.2): `df` counts
      // distinct docs over the WHOLE corpus, but only terms occurring
      // in the target docs survive the tf⋈df join — and the target-doc
      // term set is CONSTANT-sized at any corpus scale (10 docs). A
      // broadcast semi-join on that set prunes the corpus token stream
      // before the count-distinct's (term, doc_id) pair shuffle, which
      // otherwise grows linearly with the corpus. df values for
      // surviving terms are computed over the full corpus either way —
      // identical rows out (oracle + Round18OpsSpec's unpruned
      // reference).
      // The broadcast() hint on that set is deliberate: the set is
      // bounded by the literal doc_id < 10 filter, so it is listed in
      // PlanLintSpec.boundedFactBroadcasts. Without it, a corpus whose
      // static size estimate exceeds the broadcast threshold plans a
      // sort-merge semi-join, and AQE demotes it to a broadcast only
      // after the unpruned corpus token stream has been shuffled.
      val target = tok(docs.filter(col("doc_id") < 10))
      val tf = target.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tok(docs)
        .join(broadcast(target.select("term").distinct()), Seq("term"),
          "left_semi")
        .groupBy("term")
        .agg(countDistinct(col("doc_id")).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
      tf.join(df, "term").crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log(col("n").cast("double") / col("df")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3 && col("doc_id") < 10)
        .select("doc_id", "rn", "term", "tfidf")
        .orderBy("doc_id", "rn")
    },

    // Rolling-hash document fingerprint: a polynomial hash folded over
    // per-token codes — the incremental-fingerprint primitive (vs the
    // cryptographic md5 below), computed as a codegen'd higher-order
    // fold on both engines, no UDF.
    q("q_text_rolling_hash",
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(7 AS BIGINT),
        |    list_transform(string_split(text, ' '),
        |      t -> len(t) * 131 + ascii(t))),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS rhash
        |FROM documents WHERE doc_id < 25 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 25)
        .select(col("doc_id"), expr(
          "aggregate(transform(split(text, ' ')," +
            " t -> length(t) * 131 + ascii(t)), CAST(7 AS BIGINT)," +
            " (h, c) -> (h * 31 + c) % 1000000007)").as("rhash"))
        .orderBy("doc_id")
    },

    // Hive `sentences` (GenericUDFSentences §2.8): locale-aware sentence/
    // word tokenization. The corpus is punctuation-free lowercase words,
    // where sentences() degenerates to one sentence of split words — the
    // DuckDB twin is string_split (documented equivalence on this data).
    q("q_text_sentences",
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_words,
        |  array_to_string(string_split(text, ' ')[1:5], ',') AS first5
        |FROM documents WHERE doc_id < 15 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 15)
        .withColumn("sent", expr("sentences(text)"))
        .select(col("doc_id"),
          size(col("sent").getItem(0)).as("n_words"),
          array_join(slice(col("sent").getItem(0), 1, 5), ",").as("first5"))
        .orderBy("doc_id")
    },

    // Document fingerprinting: md5 over normalized text (lowercase,
    // collapsed whitespace). 128-bit keys are what a 100 TB dedup
    // shuffles; min(fp) is a deterministic per-group sample.
    q("q_text_fingerprint",
      """SELECT lang, COUNT(DISTINCT fp) AS n_fp, MIN(fp) AS min_fp
        |FROM (SELECT lang,
        |        md5(lower(regexp_replace(text, ' +', ' '))) AS fp
        |      FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"),
          md5(lower(regexp_replace(col("text"), " +", " "))).as("fp"))
        .groupBy("lang")
        .agg(countDistinct(col("fp")).as("n_fp"), min(col("fp")).as("min_fp"))
        .orderBy("lang")
    },

    // Unigram-LM SURPRISAL (the deterministic skeleton of a perplexity
    // quality filter): fit a unigram model on the FULL corpus (term
    // counts + total), score each document by its mean per-token
    // surprisal -ln p(term). High mean surprisal = rare/garbled text,
    // low = boilerplate — the classic LM-based quality axis.
    // Cross-engine determinism: the only float is ln(total/cnt), rounded
    // to 6 decimals per TOKEN, then summed as an exact scale-6 decimal
    // (associative — partial aggregation safe) and divided once.
    // Scale (100 TB): the vocab is Zipf-bounded (≪ corpus), broadcast to
    // the token stream — scan → explode → map-side hash join → per-doc
    // agg; no corpus-sized shuffle. At a trillion tokens the exact vocab
    // count is itself a bounded two-level agg.
    q("q_text_surprisal",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |vocab AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
        |tot AS (SELECT COUNT(*) AS total FROM tok)
        |SELECT doc_id, COUNT(*) AS n_tok,
        |  ROUND(CAST(SUM(CAST(ROUND(ln(CAST(total AS DOUBLE) / cnt), 6)
        |                      AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
        |    AS mean_surprisal
        |FROM tok JOIN vocab USING (term) CROSS JOIN tot
        |WHERE doc_id < 30
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val vocab = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
      val total = tok.agg(count(lit(1)).as("total"))
      tok.filter(col("doc_id") < 30)
        .join(broadcast(vocab), "term")
        .crossJoin(broadcast(total))
        .withColumn("surp",
          round(log(col("total").cast("double") / col("cnt")), 6))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          round(sum(col("surp").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("mean_surprisal"))
        .orderBy("doc_id")
    },

    // Bigram PMI collocation mining: pointwise mutual information
    // ln(p(ab) / (p(a)p(b))) over adjacent token pairs — the corpus-
    // statistics op behind tokenizer-merge candidates and collocation
    // lists. All counts exact ints; the single float expression is
    // written with an IDENTICAL operation order in both engines
    // (left-assoc double multiply then one divide then ln, rounded to 6)
    // so the top-k cut is bit-stable. min-count 5 keeps noise grams out.
    // Scale (100 TB): two bounded aggregations (bigram and unigram
    // vocab), both Zipf-shaped; the unigram side is broadcast into the
    // bigram stream, and totals ride a broadcast 1-row cross join.
    q("q_text_pmi",
      """WITH d AS (
        |  SELECT string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |big AS (
        |  SELECT g, COUNT(*) AS cb FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(w) - 1),
        |             i -> w[i] || ' ' || w[i + 1])) AS g
        |    FROM d)
        |  GROUP BY g),
        |tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |uni AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
        |tot AS (SELECT (SELECT COUNT(*) FROM tok) AS t,
        |               (SELECT CAST(SUM(cb) AS BIGINT) FROM big) AS tb)
        |SELECT g, cb,
        |  ROUND(ln(CAST(cb AS DOUBLE) * t * t /
        |           (CAST(tb AS DOUBLE) * ua.cnt * ub.cnt)), 6) + 0.0 AS pmi
        |FROM big JOIN uni ua ON ua.term = string_split(g, ' ')[1]
        |         JOIN uni ub ON ub.term = string_split(g, ' ')[2]
        |         CROSS JOIN tot
        |WHERE cb >= 5
        |ORDER BY pmi DESC, g LIMIT 20""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val withW = docs.withColumn("w", split(col("text"), " "))
      val big = withW
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(w) - 1)," +
            " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
          .as("g"))
        .groupBy("g").agg(count(lit(1)).as("cb"))
      val uni = withW.select(explode(col("w")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      // Corpus totals NEVER re-run the explode subtrees: every doc has
      // size >= 1 token, so total bigrams = sum(size-1) = t - ndocs —
      // one scan-level agg replaces a second pass over tok AND big.
      val tot = withW.agg(
        sum(size(col("w"))).cast("long").as("t"),
        (sum(size(col("w"))) - count(lit(1))).cast("long").as("tb"))
      big.filter(col("cb") >= 5)
        .withColumn("a", expr("split(g, ' ')[0]"))
        .withColumn("b", expr("split(g, ' ')[1]"))
        .join(broadcast(uni.withColumnRenamed("term", "a")
          .withColumnRenamed("cnt", "ca")), "a")
        .join(broadcast(uni.withColumnRenamed("term", "b")
          .withColumnRenamed("cnt", "cbn")), "b")
        .crossJoin(broadcast(tot))
        .withColumn("pmi",
          round(log(col("cb").cast("double") * col("t") * col("t") /
            (col("tb").cast("double") * col("ca") * col("cbn"))), 6) +
            lit(0.0))
        .select("g", "cb", "pmi")
        .orderBy(col("pmi").desc, col("g")).limit(20)
    },

    // Column profiler: nulls / distinct / min / max / avg-repr-length
    // per column, ONE scan. All per-column metrics land in a single agg
    // (the multi-countDistinct Expand is 5 rows per input row — the
    // planned shape, not a per-column rescan), then stack() unpivots the
    // 1×25 row to column-per-row. At 100 TB the exact countDistincts
    // flip to approx_count_distinct (HLL merges map-side, no Expand
    // blowup on high-NDV columns) — exact here so the oracle can check
    // the machinery bit-for-bit. min/max compare on the NATIVE type,
    // then cast to string for an engine-neutral single result schema.
    q("q_profile_columns",
      Seq("doc_id", "lang", "n_chars", "source", "text").map(c =>
        s"""SELECT '$c' AS col_name,
           |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_null,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_val,
           |  CAST(MAX($c) AS VARCHAR) AS max_val,
           |  CAST(SUM(length(CAST($c AS VARCHAR))) AS DOUBLE) / COUNT($c)
           |    AS avg_len
           |FROM documents""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")) { (s, dir) =>
      val cols = Seq("doc_id", "lang", "n_chars", "source", "text")
      val aggs = cols.flatMap(c => Seq(
        (count(lit(1)) - count(col(c))).as(s"${c}__nnull"),
        countDistinct(col(c)).as(s"${c}__ndv"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"),
        (sum(length(col(c).cast("string"))).cast("double") /
          count(col(c))).as(s"${c}__avglen")))
      val one = t(s, dir, "documents").agg(aggs.head, aggs.tail: _*)
      val stackArgs = cols.map(c =>
        s"'$c', ${c}__nnull, ${c}__ndv, ${c}__min, ${c}__max, ${c}__avglen")
        .mkString(", ")
      one.select(expr(s"stack(${cols.length}, $stackArgs) AS " +
          "(col_name, n_null, n_distinct, min_val, max_val, avg_len)"))
        .orderBy("col_name")
    },

    // BPE round-1 pair statistics — the distributed kernel of tokenizer
    // training, oracle-checked end to end: corpus → (word, freq)
    // vocabulary (the ONE corpus-wide shuffle; Zipf bounds the vocab at
    // ~1e8 rows against 1e12+ tokens) → per-word adjacent symbol pairs
    // weighted by freq (a zip_with lambda, no join, no corpus rescan) →
    // top-20 pairs. The iterative training loop that consumes these
    // counts is q_bpe_merges below / operators/BpeTrain.scala.
    q("q_bpe_pair_counts",
      """WITH words AS (
        |  SELECT w AS word, COUNT(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) > 0 GROUP BY w),
        |syms AS (
        |  SELECT list_append(string_split(word, ''), '</w>') AS s, freq
        |  FROM words),
        |pairs AS (
        |  SELECT unnest(list_transform(range(1, len(s)),
        |    i -> {'l': s[i], 'r': s[i + 1]})) AS p, freq
        |  FROM syms)
        |SELECT p.l AS l, p.r AS r, CAST(SUM(freq) AS BIGINT) AS pair_count
        |FROM pairs GROUP BY p.l, p.r
        |ORDER BY pair_count DESC, l, r LIMIT 20""".stripMargin) { (s, dir) =>
      val words = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("freq"))
      words
        .withColumn("syms",
          concat(split(col("word"), ""), array(lit("</w>"))))
        .select(explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"), col("freq"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").cast("long").as("pair_count"))
        .orderBy(col("pair_count").desc, col("l"), col("r"))
        .limit(20)
    },

    // Full BPE vocabulary training (operators/BpeTrain.scala): 8 merge
    // rounds over the (word, freq) vocabulary — per round, ONE scalar
    // (the argmax pair) reaches the driver and the symbol relation is
    // re-folded and checkpointed. Fully oracle-checked since round 7:
    // the 8 data-dependent rounds UNROLL as CTEs (the IVF-Lloyd
    // pattern), and the greedy non-overlapping left-to-right merge —
    // the step no SQL fold can express over arrays — is replayed as a
    // STRING replace: symbols are wrapped chr(1)·sym·chr(2) and
    // concatenated, so the pair pattern chr(1)l chr(2)chr(1)r chr(2)
    // never shares a boundary character with an adjacent match, and
    // SQL replace()'s left-to-right non-overlapping scan IS the greedy
    // fold (proved equal on [a,a,a] → [aa,a] etc. by BpeSpec's
    // independent reference trainer). The sentinels are safe because
    // the corpus is printable text; a corpus containing \\x01/\\x02
    // would need different sentinels.
    q("q_bpe_merges",
      s"""WITH ${bpeTrainCtes(8, withFinalMerge = false)}
         |SELECT * FROM (${bpeMergeRows(8)}) ORDER BY rank""".stripMargin) {
      (s, dir) =>
      graft.operators.BpeTrain.train(bpeVocab(s, dir), 8)
        .orderBy("rank")
    },

    // BPE tokenizer APPLICATION at corpus scale — the consumption half
    // of q_bpe_merges: re-train the 8 merges, ENCODE every vocabulary
    // word by replaying them in rank order (operators/BpeTrain
    // .encodeWord — k chained per-row folds, zero shuffle; the corpus
    // cost is ONE vocab pass regardless of corpus size because
    // encoding distributes over the (word, freq) vocabulary, never the
    // raw corpus), and report the tokens-per-word histogram weighted
    // by word frequency — the fertility distribution a tokenizer team
    // reads before shipping a vocab. The oracle replays training AND
    // encoding with the same sentinel-string chain: the final merged
    // string state IS the encoded vocabulary.
    q("q_bpe_encode",
      s"""WITH ${bpeTrainCtes(8, withFinalMerge = true)},
         |enc AS (
         |  SELECT len(string_split(substr(s, 2, length(s) - 2),
         |           chr(2) || chr(1))) AS n_tokens, freq
         |  FROM s8)
         |SELECT n_tokens, COUNT(*) AS n_vocab_words,
         |  CAST(SUM(freq) AS BIGINT) AS word_occurrences
         |FROM enc GROUP BY n_tokens ORDER BY n_tokens""".stripMargin) {
      (s, dir) =>
      val vocab = bpeVocab(s, dir)
        .transform(T.scratch)
      // The trained merge table is the MODEL — 8 rows to the driver,
      // the same artifact a tokenizer ships; encoding then runs as
      // per-row folds over the distributed vocabulary.
      val merges = memoMerges(
        dir + "#" + T.contentTag(dir, "documents"),
        graft.operators.BpeTrain.train(vocab, 8)
          .orderBy("rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq)
      vocab.withColumn("n_tokens",
          size(graft.operators.BpeTrain.encodeWord(col("word"), merges)))
        .groupBy("n_tokens")
        .agg(count(lit(1)).as("n_vocab_words"),
          sum(col("freq")).cast("long").as("word_occurrences"))
        .orderBy("n_tokens")
    },

    // Per-document token ENTROPY (nats): H = ln(n) - sum(c*ln(c))/n over
    // the doc's term counts — the standard repetitiveness/diversity
    // quality signal (low entropy = boilerplate or stuck-token spam).
    // Two key shuffles, both on doc-local keys ((doc_id, term) then
    // doc_id) with map-side partial aggregation; per-lang rollup rides
    // the second. The identity form avoids materializing p=c/n per term.
    q("q_text_entropy",
      """WITH tc AS (
        |  SELECT lang, doc_id, term, CAST(COUNT(*) AS DOUBLE) AS c
        |  FROM (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY 1, 2, 3),
        |h AS (SELECT lang, doc_id,
        |        ln(SUM(c)) - SUM(c * ln(c)) / SUM(c) AS h
        |      FROM tc GROUP BY 1, 2)
        |SELECT lang, COUNT(*) AS n_docs,
        |  ROUND(AVG(h), 6) + 0.0 AS avg_entropy,
        |  ROUND(MAX(h), 6) + 0.0 AS max_entropy
        |FROM h GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val tc = t(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        .groupBy("lang", "doc_id", "term")
        .agg(count(lit(1)).cast("double").as("c"))
      val h = tc.groupBy("lang", "doc_id")
        .agg((log(sum(col("c"))) -
          sum(col("c") * log(col("c"))) / sum(col("c"))).as("h"))
      h.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("h")), 6).as("avg_entropy"),
          round(max(col("h")), 6).as("max_entropy"))
        .orderBy("lang")
    },

    // Bigram language-model scoring (the step up from q_text_surprisal's
    // unigram model): per-doc mean negative log-likelihood under the
    // corpus bigram model with add-one smoothing, P(w2|w1) =
    // (c(w1,w2)+1)/(c(w1)+V) — the classic cheap perplexity-proxy
    // quality filter. Scale (100 TB): the model tables are Zipf-shaped
    // (bigram/unigram counts), broadcast here; a web-scale vocabulary
    // splits into a broadcast head + shuffle-join tail, and the doc
    // stream still moves only (doc_id, w1, w2) — never text. The
    // corpus-total V rides a broadcast 1-row aggregate.
    q("q_text_bigram_lm",
      """WITH d AS (SELECT lang, doc_id, string_split(text, ' ') AS w
        |           FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT lang, doc_id, w[i] AS w1, w[i + 1] AS w2
        |       FROM (SELECT lang, doc_id, w,
        |               unnest(range(1, len(w))) AS i FROM d)),
        |cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
        |tok AS (SELECT unnest(string_split(text, ' ')) AS term
        |        FROM documents),
        |cu AS (SELECT term, COUNT(*) AS cu FROM tok GROUP BY 1),
        |v AS (SELECT CAST(COUNT(DISTINCT term) AS DOUBLE) AS v FROM tok),
        |nll AS (
        |  SELECT b.lang, b.doc_id,
        |    AVG(-ln((cb.cb + 1) / (cu.cu + (SELECT v FROM v)))) AS nll
        |  FROM bg b JOIN cb ON cb.w1 = b.w1 AND cb.w2 = b.w2
        |            JOIN cu ON cu.term = b.w1
        |  GROUP BY 1, 2)
        |SELECT lang, COUNT(*) AS n_docs,
        |  ROUND(AVG(nll), 6) + 0.0 AS avg_nll,
        |  ROUND(MIN(nll), 6) + 0.0 AS min_nll,
        |  ROUND(MAX(nll), 6) + 0.0 AS max_nll
        |FROM nll GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val bg = docs.withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 2)
        .select(col("lang"), col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 1)," +
            " i -> struct(element_at(w, i) as w1," +
            " element_at(w, i + 1) as w2))")).as("b"))
        .select(col("lang"), col("doc_id"),
          col("b.w1").as("w1"), col("b.w2").as("w2"))
      val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      val tok = docs.select(explode(split(col("text"), " ")).as("term"))
      val cu = tok.groupBy("term").agg(count(lit(1)).as("cu"))
      val v = tok.agg(countDistinct(col("term")).cast("double").as("v"))
      val nll = bg
        .join(broadcast(cb), Seq("w1", "w2"))
        .join(broadcast(cu.withColumnRenamed("term", "w1")), Seq("w1"))
        .crossJoin(broadcast(v))
        .groupBy("lang", "doc_id")
        .agg(avg(-log((col("cb") + 1) / (col("cu") + col("v"))))
          .as("nll"))
      nll.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("nll")), 6).as("avg_nll"),
          round(min(col("nll")), 6).as("min_nll"),
          round(max(col("nll")), 6).as("max_nll"))
        .orderBy("lang")
    },

    // POSITIONAL INVERTED INDEX — the retrieval-side artifact of a
    // corpus pipeline: token → (document, position) postings with df/tf
    // stats and a bounded postings head (full lists stay distributed;
    // only the 8-entry preview is stringified). Plan shape: ONE shuffle
    // on token — the row_number window partitions by token and the
    // groupBy reuses that partitioning (no second exchange). The per-
    // token cap is the standard hot-token guard: a stopword's postings
    // preview stays 8 entries no matter how many billions of positions
    // it has (its full df/tf still aggregate map-side).
    q("q_text_inverted_index",
      """WITH tok AS (
        |  SELECT doc_id, unnest(w) AS token,
        |    unnest(range(0, len(w))) AS pos
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w
        |        FROM documents)),
        |p AS (SELECT token, doc_id, pos,
        |        row_number() OVER (PARTITION BY token
        |                           ORDER BY doc_id, pos) AS rn
        |      FROM tok)
        |SELECT token, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf,
        |  CAST(SUM(doc_id * 1000 + pos) AS BIGINT) AS postings_checksum,
        |  string_agg(CASE WHEN rn <= 8
        |      THEN doc_id || ':' || pos END, ',' ORDER BY rn)
        |    AS head_postings
        |FROM p GROUP BY token ORDER BY token""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("token").orderBy("doc_id", "pos")
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .toDF("doc_id", "pos", "token")
        .withColumn("rn", row_number().over(w))
        .groupBy("token")
        .agg(countDistinct(col("doc_id")).as("df"),
          count(lit(1)).as("tf"),
          sum(col("doc_id") * 1000 + col("pos")).cast("long")
            .as("postings_checksum"),
          concat_ws(",", expr(
            "transform(sort_array(collect_list(if(rn <= 8," +
              " struct(rn, concat(cast(doc_id as string), ':'," +
              " cast(pos as string)) as entry), null)))," +
              " x -> x.entry)")).as("head_postings"))
        .orderBy("token")
    },

    // BM25 RANKED RETRIEVAL — the search primitive the TF-IDF /
    // inverted-index pair stops short of: score a fixed 3-term query
    // against every document with Okapi BM25 (k1=1.2, b=0.75) and
    // return the top 20. Determinism discipline: every double
    // expression takes only EXACT INTEGERS (tf, df, dl, N, Σdl) as
    // inputs so both engines evaluate identical IEEE arithmetic; the
    // per-term IDF is quantized to integer micro-nats BEFORE the
    // per-doc combination (the DSIR trick), and the final score is an
    // order-independent BIGINT sum. Scale shape: terms filter BEFORE
    // the tf aggregation (only query-term postings ever shuffle — at
    // 100 TB that is |q| * df rows, not the corpus); doc length rides
    // the explode projection (no corpus self-join); df/N/avgdl are
    // 1-to-3-row broadcasts; top-k is TakeOrderedAndProject.
    q("q_text_bm25",
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |dl AS (SELECT doc_id, len(w) AS dl FROM d),
        |corp AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS sdl
        |         FROM dl),
        |tf AS (
        |  SELECT doc_id, term, dl, COUNT(*) AS tf FROM (
        |    SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM d)
        |  WHERE term IN ('hash', 'join', 'stream')
        |  GROUP BY 1, 2, 3),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |idf AS (
        |  SELECT term,
        |    CAST(ROUND(1000000 * ln(
        |      (((SELECT n FROM corp) - df + 0.5) / (df + 0.5)) + 1))
        |      AS BIGINT) AS idf_u
        |  FROM df),
        |sc AS (
        |  SELECT tf.doc_id,
        |    COUNT(*) AS n_terms_matched,
        |    CAST(SUM(CAST(ROUND(
        |      idf.idf_u * (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 *
        |        tf.dl * (SELECT n FROM corp) / CAST((SELECT sdl FROM corp)
        |          AS DOUBLE))))) AS BIGINT)) AS BIGINT) AS score_u
        |  FROM tf JOIN idf ON tf.term = idf.term
        |  GROUP BY 1)
        |SELECT doc_id, n_terms_matched, score_u
        |FROM sc ORDER BY score_u DESC, doc_id LIMIT 20""".stripMargin) {
      (s, dir) =>
      val terms = Seq("hash", "join", "stream")
      val d = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      val dl = d.select(col("doc_id"), size(col("w")).as("dl"))
      val corp = dl.agg(count(lit(1)).as("n"),
        sum(col("dl")).cast("long").as("sdl"))
      val tf = d.select(col("doc_id"), size(col("w")).as("dl"),
          explode(col("w")).as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy("doc_id", "term", "dl").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      // The model side is BOUNDED (corp: 1 row; df: ≤|q| rows), so it
      // is computed once and pinned as local relations — broadcast() of
      // the derived frames directly would re-execute the corpus subplan
      // inside EACH broadcast build (corp twice, the postings pass once
      // more for idf): 4 corpus passes where 2 suffice. Deriving idf
      // from the local rows with the same Spark expressions keeps every
      // float op bit-identical to the oracle's replay.
      val corpLocal = s.createDataFrame(
        java.util.Arrays.asList(corp.collect(): _*), corp.schema)
      val dfLocal = s.createDataFrame(
        java.util.Arrays.asList(df.collect(): _*), df.schema)
      val idf = dfLocal.crossJoin(broadcast(corpLocal))
        .select(col("term"),
          round(lit(1000000) * log(
            ((col("n") - col("df") + 0.5) / (col("df") + 0.5)) + 1))
            .cast("long").as("idf_u"))
      tf.join(broadcast(idf), "term")
        .crossJoin(broadcast(corpLocal))
        .withColumn("part_u", round(
          col("idf_u") * (col("tf") * 2.2 / (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") * col("n")
              / col("sdl").cast("double"))))).cast("long"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms_matched"),
          sum(col("part_u")).cast("long").as("score_u"))
        .orderBy(col("score_u").desc, col("doc_id"))
        .limit(20)
    })

  /** Exact per-language percent_rank deciles of (score, doc_id), size-
    * adaptive like RankSelect.groupedQuantiles:
    *
    *  - below the cutover: the literal window —
    *    `percent_rank() OVER (PARTITION BY lang ORDER BY score, doc_id)`
    *    then `least(floor(pr*10), 9)` — which is also what the DuckDB
    *    oracle computes;
    *  - above it (or when forced): NO per-lang total sort. The decile of
    *    a row is a pure function of its exact rank r and n_lang:
    *    d(r) = min(floor((r-1)/(n-1)·10), 9), monotone in r — so the
    *    corpus only needs the 9 boundary TUPLES per language (the first
    *    (score, doc_id) of each decile, found by binary search on d(r)
    *    evaluated with the SAME IEEE double ops percent_rank uses, then
    *    fetched at exact ranks by RankSelect.groupedKeysAtRanks).
    *    Broadcast those ≤9·|langs| tuples back and each row's decile is
    *    `count of boundaries ≤ (score, doc_id)` — duplicate boundary
    *    tuples (empty deciles, n < 10) count with multiplicity, which
    *    makes the count land on the right decile exactly as the rank
    *    formula does. One shuffle total (the final groupBy), per-split
    *    parallel sort instead of a per-language one.
    *
    * Both branches produce bit-identical rows (Round10OpsSpec forces
    * the distributed branch and diffs against the window).
    */
  private[graft] def pctRankDeciles(
      sc: org.apache.spark.sql.DataFrame,
      forceDistributed: Boolean = false): org.apache.spark.sql.DataFrame = {
    val s = sc.sparkSession
    val est = sc.queryExecution.optimizedPlan.stats.sizeInBytes
    if (!forceDistributed && est <= operators.RankSelect.aggregateSafeBytes) {
      import org.apache.spark.sql.expressions.Window
      return sc.withColumn("pr", percent_rank().over(
          Window.partitionBy("lang").orderBy(col("score"), col("doc_id"))))
        .withColumn("decile",
          least(floor(col("pr") * 10), lit(9L)).cast("int"))
        .groupBy("lang", "decile")
        .agg(count(lit(1)).as("n"),
          sum(col("doc_id")).cast("long").as("id_checksum"))
        .orderBy("lang", "decile")
    }
    // Same IEEE ops as Spark's PercentRank ((r-1)/(n-1) in double) and
    // the query's floor(pr*10): divide, multiply by 10.0, floor.
    def decileOf(r: Long, n: Long): Long =
      if (n <= 1L) 0L
      else math.min(math.floor(
        (r - 1).toDouble / (n - 1).toDouble * 10.0).toLong, 9L)
    // Minimal rank whose decile reaches d, for d = 1..9 (present only
    // if any rank reaches d; for n ≥ 2 rank n always has decile 9).
    def boundaryRanks(n: Long): Array[(Long, Long)] =
      (1L to 9L).flatMap { d =>
        if (decileOf(n, n) < d) None
        else {
          var lo = 1L; var hi = n
          while (lo < hi) {
            val mid = lo + (hi - lo) / 2
            if (decileOf(mid, n) >= d) hi = mid else lo = mid + 1
          }
          Some(d -> lo)
        }
      }.toArray
    val keyed = sc.select(col("lang"), col("score").cast("long"),
      col("doc_id").cast("long"))
    val bounds = operators.RankSelect.groupedKeysAtRanks(
      keyed, n => boundaryRanks(n).map(_._2))
    // Boundary tuples per lang WITH multiplicity (an empty decile's
    // start rank equals the next decile's — both must count).
    val rows = bounds.toSeq.map { case (lang, (n, atRank)) =>
      val bs = boundaryRanks(n).map { case (_, r) => atRank(r) }
      org.apache.spark.sql.Row(lang,
        bs.map { case (k1, k2) => org.apache.spark.sql.Row(k1, k2) }.toSeq)
    }
    val bSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("bs",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("s",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("i",
              org.apache.spark.sql.types.LongType)))))))
    val bDf = s.createDataFrame(
      java.util.Arrays.asList(rows: _*), bSchema)
    // ≤ 9 struct comparisons per row (array HOF is interpreted, but the
    // array is 9 elements — constant work, no codegen hot loop lost).
    sc.join(broadcast(bDf), Seq("lang"))
      .withColumn("decile", size(filter(col("bs"),
        b => (col("score").cast("long") > b.getField("s")) ||
          (col("score").cast("long") === b.getField("s") &&
            col("doc_id").cast("long") >= b.getField("i")))).cast("int"))
      .groupBy("lang", "decile")
      .agg(count(lit(1)).as("n"),
        sum(col("doc_id")).cast("long").as("id_checksum"))
      .orderBy("lang", "decile")
  }
}
