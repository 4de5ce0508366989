package graft.operators

import graft.T
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding vocabulary training (Sennrich et al.,
  * ACL 2016 — the tokenizer-training step of an LLM data pipeline;
  * reference surface: Hive ships the counting half as the `ngrams`
  * UDAF, SURVEY.md §2 stage G extends it to tokenizer training).
  *
  * Relational formulation: the corpus is first collapsed to a
  * (word, freq) VOCABULARY relation — at 100 TB that is the one
  * corpus-wide aggregation (md5-fingerprint-sized shuffle keys,
  * map-side combine bounds volume by distinct-word count, Zipf keeps
  * that ~1e8 rows against 1e12+ tokens). Every training round then
  * touches only the vocabulary:
  *
  *   1. pair counts: per word, explode adjacent symbol pairs weighted
  *      by freq (zip_with over the symbol array — a per-row lambda, no
  *      join), partial/final aggregate on (left, right).
  *   2. argmax: ONE (left, right, count) row reaches the driver per
  *      round — a scalar like a fixpoint checksum, not a data collect.
  *      Ties break lexicographically so training is deterministic.
  *   3. merge: fold each word's symbol array left-to-right, replacing
  *      adjacent (left, right) with the merged symbol — greedy
  *      non-overlapping, exactly the reference algorithm's scan. A
  *      per-row aggregate() lambda; zero shuffle.
  *
  * Each round localCheckpoints the symbol relation: k rounds are k
  * bounded passes over the vocabulary, never a re-execution of history
  * and never a second pass over the corpus itself.
  */
object BpeTrain {

  /** End-of-word marker appended to every symbol sequence (standard
    * BPE: lets merges distinguish word-final from word-internal pairs).
    */
  val EndMark = "</w>"

  /** Adjacent-pair relation of a symbol array: [(s1,s2), (s2,s3), ...].
    * Empty for single-symbol words (slice of length 0 → empty zip).
    */
  private def adjacentPairs(syms: Column): Column =
    zip_with(
      slice(syms, lit(1), size(syms) - 1),
      slice(syms, lit(2), size(syms) - 1),
      (a, b) => struct(a.as("l"), b.as("r")))

  /** One greedy left-to-right merge pass: every non-overlapping
    * adjacent (l, r) in the symbol array becomes the concatenated
    * symbol. `get()` (0-based, null out of bounds) keeps the fold
    * ANSI-safe on the empty accumulator — a null comparison falls
    * through to the append branch, no short-circuit assumption.
    */
  def mergePair(syms: Column, l: String, r: String): Column =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, x) =>
        when(get(acc, size(acc) - 1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x))))

  /** Train `k` merges over a (word, freq) vocabulary relation. Returns
    * the merge table — (rank, left, right, merged, pair_count) — the
    * artifact a tokenizer ships. Stops early if no pair remains.
    */
  def train(vocab: DataFrame, k: Int): DataFrame = {
    val spark = vocab.sparkSession
    import spark.implicits._
    var syms = vocab.select(
      concat(split(col("word"), ""), array(lit(EndMark))).as("syms"),
      col("freq").cast("long").as("freq"))
      .transform(T.scratch)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= k && !exhausted) {
      val best = syms
        .select(explode(adjacentPairs(col("syms"))).as("p"), col("freq"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((round, l, r, l + r, cnt))
        syms = syms
          .select(mergePair(col("syms"), l, r).as("syms"), col("freq"))
          .transform(T.scratch)
        round += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** Apply a trained merge table to a raw text column: split to
    * characters (+ end marks per word) and replay the merges in rank
    * order — k chained per-row folds, no shuffle. Input is one WORD
    * per row here (apply after whitespace tokenization; a full-text
    * variant folds over each word of the split).
    */
  def encodeWord(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(concat(split(word, ""), array(lit(EndMark)))) {
      case (c, (l, r)) => mergePair(c, l, r)
    }
}
