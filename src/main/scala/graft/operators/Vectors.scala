package graft.operators

import graft.{T, TopKAgg}
import graft.TopKAgg.{Asc, Desc}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The vector operators the ANN statements (queries/Similarity.scala)
  * and the persisted IVF-PQ index (sources/IvfPqIndex.scala) are
  * composed from — one definition each of the dot product, the
  * integer quantizer, PQ subspace slicing, codebook encode, the
  * per-query lookup table (LUT) and its asymmetric-distance (ADC) scan,
  * the IVF coarse assignment, and the routed two-level IVF search.
  *
  * Integer exactness. `quantize` maps each component to
  * round(x·1000) as a bigint; the embeddings are unit-scale, so
  * |q_i| ≤ ~4000 (residuals ≤ 8000, LUT terms q − c − cv ≤ 16000).
  * Every product (≤ 2.6e8), 8-dim subspace sum (≤ 2.1e9) and 64-dim
  * dot or squared distance (≤ 1.7e10) is then far below 2^53, so each
  * is an exact integer in a double. `dot` over the double casts
  * therefore equals the integer fold, and the expansion
  * |a|² + |b|² − 2·a·b cast to long (`sqL2`) equals the DuckDB
  * oracle's Σ(x−y)² bit for bit — the codegen'd dot kernel at ~6× the
  * speed of an interpreted aggregate(zip_with(...)) lambda, with no
  * rounding gate needed on any integer distance.
  *
  * Column conventions. A quantized frame carries `q` (bigint[64]),
  * `qd` (its double twin) and `en` = |q|². A slice frame carries the
  * subspace index `s`, the sub-vector `v` and `vn` = |v|². A codebook
  * carries (cid, s, cv, cvn). IVF cells carry (cell_id, cd, cn) and
  * queries (q_id, qv, qn).
  */
object Vectors {

  /** Sum of elementwise products in DOUBLE, left to right — the
    * native codegen'd `dot_f` kernel (functions/DotProduct.scala), the
    * same association order DuckDB's list_sum uses, so both engines
    * agree bit for bit before any final rounding.
    */
  def dot(a: String, b: String): Column = expr(s"dot_f($a, $b)")

  /** round(x·1000) as bigint per component of array column `v`. */
  def quantize(v: String): Column = expr(
    s"transform($v, x -> cast(round(cast(x as double) * 1000) as bigint))")

  /** The quantized `embedding` of `df`: (carry…, q, qd, en). */
  def quantized(df: DataFrame, carry: String*): DataFrame =
    df.select(carry.map(col) :+ quantize("embedding").as("q"): _*)
      .withColumn("qd", col("q").cast("array<double>"))
      .withColumn("en", dot("qd", "qd"))

  /** Exact squared L2 distance of quantized `a` and `b` given their
    * squared norms `na`, `nb` (see the integer-exactness note). */
  def sqL2(a: String, na: String, b: String, nb: String): Column =
    (col(na) + col(nb) - lit(2) * dot(a, b)).cast("long")

  /** Cosine of `a` and `b` given their norms, rounded to 6 decimals —
    * every cross-engine cosine comparison ranks on this value, so the
    * oracle cannot flip a decision on a last-ulp difference. */
  def cos6(a: String, na: String, b: String, nb: String): Column =
    round(dot(a, b) / (col(na) * col(nb)), 6)

  /** Argmax of `value` by rounded cosine `cos`, ties to the lower `id`
    * (the oracle's ORDER BY cos DESC, id) — a map-side-combining
    * max_by, never a sort window. */
  def maxByCos(value: Column, cos: String, id: String): Column =
    max_by(value, struct(col(cos), (lit(0L) - col(id)).as("inv")))

  /** IVF tier size: the smallest power of two p < 2^maxBits with
    * p·p ≥ n, else 2^maxBits — nlist ≈ √n by pure integer shifts that
    * the oracle replays at any n. */
  def sqrtTier(n: Long, maxBits: Int): Long =
    (0 until maxBits).map(1L << _).find(p => p * p >= n)
      .getOrElse(1L << maxBits)

  // ---- product quantization: 8 subspaces of 8 dims -------------------

  /** 8-dim subspace slices of array column `vcol`, carrying `carry`:
    * (carry…, s, v, vn). Concatenating `v` in `s` order gives back the
    * vector. */
  def slices(df: DataFrame, vcol: String, carry: String*): DataFrame = df
    .select(carry.map(col) :+ posexplode(expr(
      s"transform(sequence(0, 7), s -> slice($vcol, s*8 + 1, 8))")): _*)
    .select(carry.map(col) :+ col("pos").as("s") :+ col("col").as("v"): _*)
    .withColumn("vn", dot("v", "v"))

  /** Broadcast codebook sliced from the `seeds` vectors' `vcol`:
    * (cid = vec_id − firstId, s, cv, cvn) — the external-codebook
    * IndexPQ shape, deterministic by seed id. */
  def codebook(seeds: DataFrame, vcol: String, firstId: Long): DataFrame =
    broadcast(slices(seeds, vcol, "vec_id")
      .select((col("vec_id") - firstId).cast("int").as("cid"), col("s"),
        col("v").as("cv"), col("vn").as("cvn")))

  /** PQ encode of slices `sub` (vec_id, carry…, s, v, vn) under codebook
    * `cb`: (vec_id, carry…, codes int[8]). Each code is the argmin of
    * the squared subspace distance, ties to the lowest cid — a
    * broadcast join and a map-side min(struct), no sort window; the
    * carried columns ride through as first(). */
  def encode(sub: DataFrame, cb: DataFrame, carry: String*): DataFrame = {
    val firsts = carry.map(c => first(col(c)).as(c))
    val codes = firsts :+ expr(
      "transform(sort_array(collect_list(struct(s, best.cid as code)))," +
        " x -> x.code)").as("codes")
    sub.join(cb, "s")
      .withColumn("d", sqL2("v", "vn", "cv", "cvn"))
      .groupBy("vec_id", "s")
      .agg(min(struct(col("d"), col("cid"))).as("best"), firsts: _*)
      .groupBy("vec_id")
      .agg(codes.head, codes.tail: _*)
  }

  /** Broadcast per-query LUTs over query slices `sub` (by…, s, v, vn):
    * one row per `by` group whose `lut` holds the squared distance of
    * each subspace to each of the `width` codebook entries, at
    * 0-based position s·width + cid. */
  def lut(sub: DataFrame, cb: DataFrame, width: Int, by: String*): DataFrame =
    broadcast(sub.join(cb, "s")
      .withColumn("ld", sqL2("v", "vn", "cv", "cvn"))
      .withColumn("k", col("s") * width + col("cid"))
      .groupBy(by.map(col): _*)
      .agg(expr(
        "transform(sort_array(collect_list(struct(k, ld))), x -> x.ld)")
        .as("lut")))

  /** Asymmetric distance of a row's `codes` under its `lut`:
    * Σ_s lut[s·width + code_s] — pure table lookups, no float touched. */
  def adc(width: Int): Column = expr(
    "aggregate(zip_with(codes, sequence(0, 7)," +
      s" (c, s) -> element_at(lut, cast(s*$width + c + 1 as int)))," +
      " cast(0 as bigint), (a, x) -> a + x)")

  /** `top`'s (q_id, cand_id, …) rows with the exact squared distance
    * `exact_dist` of each pair, from the quantized corpus `corp`
    * (vec_id, qd, en) joined back by id and the broadcast queries `qs`
    * (q_id, qv, qn) — the rerank step, the only one that touches the
    * vectors again. */
  def withExactDist(top: DataFrame, corp: DataFrame,
      qs: DataFrame): DataFrame =
    top.join(corp.select(col("vec_id").as("cand_id"), col("qd").as("cv2"),
        col("en").as("cvn2")), "cand_id")
      .join(broadcast(qs), "q_id")
      .withColumn("exact_dist", sqL2("qv", "qn", "cv2", "cvn2"))

  // ---- IVF ------------------------------------------------------------

  /** Coarse assignment + residual of a quantized corpus (vec_id, qd,
    * en) under broadcast cells (cell_id, cd, cn): (vec_id, cell_id, rd).
    * min(struct) carries the winning centroid so the residual needs no
    * re-join (cell_id is unique, so the trailing cd never takes part in
    * the ordering). */
  def assignResidual(corp: DataFrame, cells: DataFrame): DataFrame =
    corp.crossJoin(cells)
      .withColumn("d", sqL2("qd", "en", "cd", "cn"))
      .groupBy("vec_id")
      .agg(min(struct(col("d"), col("cell_id"), col("cd"))).as("best"),
        first(col("qd")).as("qd"))
      .select(col("vec_id"), col("best.cell_id").as("cell_id"),
        expr("zip_with(qd, best.cd, (a, b) -> a - b)").as("rd"))

  /** Each query's `nprobe` nearest cells (ties to the lower cell_id)
    * with its per-cell residual: (q_id, cell_id, qr). */
  def probeResiduals(qs: DataFrame, cells: DataFrame,
      nprobe: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("d"), col("cell_id"))
    qs.crossJoin(cells)
      .withColumn("d", sqL2("qv", "qn", "cd", "cn"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("cell_id"),
        expr("zip_with(qv, cd, (a, b) -> a - b)").as("qr"))
  }

  /** Routed two-level IVF top-1 search of every vector of `e` (vec_id,
    * embedding, nrm) against the rest of the corpus, on the rounded
    * cosine: (q_id, cand_id, cos_sim) ordered by q_id.
    *
    *  1. Each fine centroid of `fine` (cent_id, cent, cent_nrm) joins
    *     its nearest coarse cell of `coarse` (co_id, co, co_nrm) —
    *     model × model, a broadcast max_by.
    *  2. Each vector ranks the coarse cells and keeps its `wc` nearest;
    *     then it ranks only the fine centroids under those and keeps
    *     its `nprobe` nearest — O(n·(ncoarse + wc·nlist/ncoarse))
    *     instead of O(n·nlist), the IMI/IVF-HNSW shape. Both rank
    *     stages run on skinny (vec_id, id, cos) rows through
    *     `TopKAgg.perGroup`, whose arm `TopKAgg.engage(e)` picks once:
    *     the rank window below the cutover, the bounded top-k
    *     aggregate above it (sorting these expansions inside the
    *     partial WindowGroupLimit was the measured sf100 scratch
    *     ENOSPC). Embeddings re-attach by vec_id only for the
    *     ≤ nprobe·n survivors.
    *  3. Inverted file: every vector lives in its nearest fine cell,
    *     capped at `cellCap` members by vec_id. Each vector then probes
    *     its `nprobe` cells; a candidate sits in one cell, so a
    *     (q, cand) pair matches at most once. The top-1 rescore is a
    *     map-side max_by over (cos, −cand_id), not a window: the scored
    *     relation is queries × nprobe × cell size and a window would
    *     shuffle all of it.
    */
  def routedIvf(e: DataFrame, fine: DataFrame, coarse: DataFrame,
      wc: Int, nprobe: Int, cellCap: Int): DataFrame = {
    val routed = fine.crossJoin(broadcast(coarse))
      .withColumn("ccos", cos6("cent", "cent_nrm", "co", "co_nrm"))
      .groupBy("cent_id")
      .agg(maxByCos(col("co_id"), "ccos", "co_id").as("co_id"),
        first(col("cent")).as("cent"), first(col("cent_nrm")).as("cent_nrm"))
    val useAgg = TopKAgg.engage(e)
    val vcD = e.crossJoin(broadcast(coarse))
      .select(col("vec_id"), col("co_id"),
        cos6("embedding", "nrm", "co", "co_nrm").as("vcos"))
    val vc = TopKAgg.perGroup(vcD, Seq("vec_id"),
      Seq("vcos" -> Desc, "co_id" -> Asc), wc, agg = useAgg)
      .select("vec_id", "co_id")
    val rankedD = vc.join(e, "vec_id")
      .join(broadcast(routed), "co_id")
      .select(col("vec_id"), col("cent_id"),
        cos6("embedding", "nrm", "cent", "cent_nrm").as("fcos"))
    val ranked = TopKAgg.perGroup(rankedD, Seq("vec_id"),
      Seq("fcos" -> Desc, "cent_id" -> Asc), nprobe,
      rank = Some("arn"), agg = useAgg)
      .select("vec_id", "arn", "cent_id")
      .transform(T.scratch)
      .join(e, "vec_id") // re-attach embedding+nrm to the survivors
    val wCell = Window.partitionBy("cell").orderBy("cand_id")
    val index = ranked.filter(col("arn") === 1)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("nrm").as("cn"), col("cent_id").as("cell"))
      .withColumn("crnk", row_number().over(wCell))
      .filter(col("crnk") <= cellCap).drop("crnk")
    val probes = ranked
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("cent_id").as("ccell"))
    probes.join(index, col("ccell") === col("cell") &&
        col("q_id") =!= col("cand_id"))
      .withColumn("cos_sim", cos6("qe", "qn", "ce", "cn"))
      .groupBy("q_id")
      .agg(maxByCos(struct(col("cand_id"), col("cos_sim")), "cos_sim",
        "cand_id").as("best"))
      .select(col("q_id"), col("best.cand_id").as("cand_id"),
        col("best.cos_sim").as("cos_sim"))
      .orderBy("q_id")
  }
}
