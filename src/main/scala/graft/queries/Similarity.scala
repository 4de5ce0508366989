package graft.queries

import graft._
import graft.T._
import graft.TopKAgg.{Asc, Desc}
import graft.operators.{Artifact, Vectors}
import graft.operators.Vectors.{cos6, dot, sqL2}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (north star, SURVEY.md
  * §7 stage G): brute-force cosine top-k as the exactness baseline, a
  * random-hyperplane LSH-bucketed variant as the 100 TB path, embedding
  * column statistics, and the multimodal binary-column slice.
  *
  * Scale notes (100 TB):
  * - Brute-force top-k broadcasts the (small) QUERY set and streams the
  *   candidate corpus — one scan, no shuffle of the big side; per-query
  *   top-k is a row_number window partitioned by query id.
  * - The LSH variant buckets vectors by sign-bit signatures against 16
  *   fixed hyperplanes: candidates come from a bucket equi-join (shuffle
  *   on bucket id), so the quadratic step never touches the full corpus.
  *   Hyperplanes are derived from xxhash64 — deterministic, no driver
  *   state, no collect.
  * - The vector operators (dot product, quantize, PQ slice / encode /
  *   LUT / ADC, IVF assignment and routed search) come from
  *   operators/Vectors.scala; statements here compose them. All dot
  *   products run through the native codegen'd `dot_f` Expression
  *   (functions/DotProduct.scala) — a tight generated loop over the
  *   float slots, no UDFs, no intermediate product array.
  */
object Similarity extends QueryPack {

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(dot("embedding", "embedding")))

  /** Bounded-degradation constants of the worst-tier ANN plans, hoisted
    * so Round18OpsSpec can pin them (VERDICT r15 #5 — a silent
    * re-constanting must fail the build, because every SCALE.md scale
    * claim for these queries is priced against these exact values).
    * They cap CANDIDATES — an oversized bucket/cell degrades to its
    * first cap members (recall loss on degenerate keys), keeping work
    * linear; they are NOT divisors of corpus-sized work, which must
    * instead scale with n (rangeParts, seedMod, lshBits).
    */
  private[graft] val lshBucketCap: Int = 1000
  private[graft] val ivfCellCap: Int = 2000
  private[graft] val ivfNprobe: Int = 2

  /** LSH signature width: smallest b with n/2^b ≤ 32, floored at 6 —
    * expected bucket occupancy stays ~constant so the bucket self-join
    * scales ~linearly with the corpus (see q_ann_lsh_bucketed's sizing
    * note). Pure integer shifts so the DuckDB oracle replays the same
    * boundary at any n. Pinned by Round18OpsSpec.
    */
  private[graft] def lshBits(n: Long): Int =
    math.max(6, (0 until 40).count(k => (32L << k) < n))

  /** SemDeDup cell ASSIGNMENT (the routed two-level stage of
    * q_dedup_semantic, factored out so Round16OpsSpec can compare the
    * multi-coarse routing — k > 64, several coarse cells, wc=2 probing
    * — against an independent driver-side replay of the oracle's CTE
    * chain; at bench SF the k-formula degenerates to 4 → one coarse
    * cell and the oracle hash already pins it). Returns one row per
    * vector: (vec_id, label, q, cid, nn), localCheckpointed because the
    * query consumes it three times (both pair sides + accounting).
    *
    * Shape (100 TB): k from ONE metadata-served count — the sole driver
    * scalar; the seed/coarse relations stay model-sized broadcasts
    * (k ≤ n/1250). Each vector probes its wc=2 nearest coarse cells via
    * skinny (vec_id, co_id, d) rows through a WindowGroupLimit rank
    * window (embeddings do NOT ride that shuffle), then re-attaches by
    * vec_id — ONE linear shuffle — and candidates expand map-side from
    * the broadcast fine table: ≤ 2·64 candidate dots per vector
    * instead of k.
    */
  private[graft] def semDedupCells(s: SparkSession, dir: String): DataFrame = {
    // Integer-exact distances (Vectors.sqL2): bit-equal to the oracle.
    val emb = Vectors.quantized(t(s, dir, "embeddings"), "vec_id", "label")
    val k = math.max(4L, t(s, dir, "embeddings").count() / 1250L)
    val cent = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("qd").as("cd"),
        col("en").as("cn"))
    val coarse = cent.filter(col("cid") % 64 === 0)
      .select(col("cid").as("co_id"), col("cd").as("co"),
        col("cn").as("con"))
    // fine → owning coarse: model × model (k × k/64), broadcast side
    val f2c = cent.crossJoin(broadcast(coarse))
      .withColumn("d", sqL2("cd", "cn", "co", "con"))
      .groupBy("cid")
      .agg(min(struct(col("d"), col("co_id"))).as("best"))
      .select(col("cid"), col("best.co_id").as("co_id"))
    val fineCo = cent.join(broadcast(f2c), "cid")
      .select(col("cid"), col("cd"), col("cn"), col("co_id"))
    // wc=2 nearest coarse cells. SIZE-ADAPTIVE (TopKAgg.engage, r15):
    // below the cutover the rank<=2 window (codegen sort — measured
    // faster at bench SFs, plan unchanged vs the frozen golden); above
    // it the bounded top-k aggregate, which folds the n×ncoarse
    // expansion to 2-element buffers MAP-SIDE instead of sorting it
    // inside the partial WindowGroupLimit — the sf100 scratch fix.
    // Identical rows either way (TopKSpec).
    val probeD = emb.crossJoin(broadcast(coarse))
      .withColumn("d", sqL2("qd", "en", "co", "con"))
      .select(col("vec_id"), col("co_id"), col("d"))
    val probes = TopKAgg.perGroup(probeD, Seq("vec_id"),
      Seq("d" -> Asc, "co_id" -> Asc), 2, agg = TopKAgg.engage(emb))
      .select("vec_id", "co_id")
    emb.join(probes, "vec_id")
      .join(broadcast(fineCo), "co_id")
      .withColumn("d", sqL2("qd", "en", "cd", "cn"))
      // argmin via min(struct) with q riding as first() — hashing a
      // 512-byte array KEY per candidate row measured slower (the
      // q_cluster_kmeans note), and there are ≤128 candidates/vector
      .groupBy("vec_id")
      .agg(min(struct(col("d"), col("cid"))).as("best"),
        first(col("label")).as("label"), first(col("q")).as("q"))
      .select(col("vec_id"), col("label"), col("q"),
        col("best.cid").as("cid"))
      .withColumn("qd", col("q").cast("array<double>"))
      .withColumn("nn", dot("qd", "qd").cast("long"))
      .drop("qd") // only q rides the checkpoint; qd re-derived per consumer
      .transform(T.scratch) // consumed by both pair sides + accounting
  }

  /** q_dedup_semantic oracle (see the query's comment block for the
    * design notes): the routed two-level assignment replayed as CTEs —
    * params (corpus-scaled k), c0 (fine seeds), co (coarse = every 64th
    * seed), f2c (fine → owning coarse argmin), vprobe (wc=2 probe),
    * cells (argmin over probed candidates), then within-cell pairs and
    * keep-first pruning in exact HUGEINT math.
    */
  private val semDedupOracleSql: String =
    """WITH params AS (
      |  SELECT GREATEST(4, CAST(COUNT(*) AS BIGINT) // 1250) AS k
      |  FROM embeddings),
      |emb AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding,
      |      x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |c0 AS (SELECT vec_id AS cid, q AS c FROM emb
      |       WHERE vec_id < (SELECT k FROM params)),
      |co AS (SELECT cid AS co_id, c AS cc FROM c0 WHERE cid % 64 = 0),
      |f2c AS (SELECT cid, co_id FROM (
      |  SELECT f.cid, c.co_id,
      |    row_number() OVER (PARTITION BY f.cid ORDER BY
      |      list_sum(list_transform(range(1, 65),
      |        i -> (f.c[i] - c.cc[i]) * (f.c[i] - c.cc[i]))),
      |      c.co_id) AS rn
      |  FROM c0 f CROSS JOIN co c) WHERE rn = 1),
      |vprobe AS (SELECT vec_id, co_id FROM (
      |  SELECT e.vec_id, c.co_id,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_sum(list_transform(range(1, 65),
      |        i -> (e.q[i] - c.cc[i]) * (e.q[i] - c.cc[i]))),
      |      c.co_id) AS rn
      |  FROM emb e CROSS JOIN co c) WHERE rn <= 2),
      |cells AS (SELECT vec_id, label, q, cid FROM (
      |  SELECT e.vec_id, e.label, e.q, f.cid,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_sum(list_transform(range(1, 65),
      |        i -> (e.q[i] - f.c[i]) * (e.q[i] - f.c[i]))),
      |      f.cid) AS rn
      |  FROM emb e JOIN vprobe p ON p.vec_id = e.vec_id
      |       JOIN f2c m ON m.co_id = p.co_id
      |       JOIN c0 f ON f.cid = m.cid) WHERE rn = 1),
      |n2 AS (SELECT vec_id, label, q, cid,
      |         list_sum(list_transform(q, x -> x * x)) AS nn
      |       FROM cells),
      |pairs AS (
      |  SELECT b.vec_id AS b_id,
      |    list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS dt,
      |    a.nn AS na, b.nn AS nb
      |  FROM n2 a JOIN n2 b ON a.cid = b.cid AND a.vec_id < b.vec_id),
      |dropped AS (
      |  SELECT DISTINCT b_id AS vec_id FROM pairs
      |  WHERE dt > 0
      |    AND 25 * CAST(dt AS HUGEINT) * dt >= 4 * CAST(na AS HUGEINT) * nb)
      |SELECT n2.label, COUNT(*) AS n_vecs,
      |  CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  CAST(SUM(COALESCE(d.vec_id, 0)) AS BIGINT) AS dropped_checksum
      |FROM n2 LEFT JOIN dropped d ON d.vec_id = n2.vec_id
      |GROUP BY n2.label ORDER BY n2.label""".stripMargin

  /** ±1 JL sign matrix entry — the portable md5 parity (same definition
    * as T.h60 % 2), so the DuckDB oracle can re-derive the identical
    * matrix in SQL.
    */
  private def jlSgn(i: Int, j: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${i}_${j}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1L else -1L
  }

  /** Projected coordinates p0..p(m-1) over an integer-quantized `qv`
    * array column: one codegen'd dot_f per target dim against the ±1
    * matrix row as a plan-literal double array (driver computes the
    * signs once). Quantized components are ≤ ~1000 in magnitude, so
    * every product and partial sum is integer-exact in a double and
    * the BIGINT cast reproduces the former integer fold bit-for-bit —
    * minus the per-row interpreted zip_with/aggregate lambdas.
    */
  private def jlProjCols(m: Int): Seq[org.apache.spark.sql.Column] =
    (0 until m).map { j =>
      val signs = (1 to 64)
        .map(i => if (jlSgn(i, j) > 0) "1.0D" else "-1.0D").mkString(",")
      expr(s"CAST(dot_f(CAST(qv AS ARRAY<DOUBLE>), array($signs))" +
        " AS BIGINT)").as(s"p$j")
    }

  /** DuckDB twin of jlProjCols: p0..p(m-1) from the same md5-derived
    * matrix, exact BIGINT math. `qexpr` is the quantized component as a
    * SQL fragment over lambda variable `i` (must match the Spark `qv`).
    */
  private def jlOracleDims(m: Int, qexpr: String): String =
    (0 until m).map { j =>
      s"CAST(list_sum(list_transform(range(1, 65), i -> $qexpr * " +
        "(CASE WHEN ('0x' || substr(md5(CAST(i AS VARCHAR) || " +
        s"'_$j'), 1, 15))::BIGINT % 2 = 0 THEN 1 ELSE -1 END))) " +
        s"AS BIGINT) AS p$j"
    }.mkString(",\n        ")

  /** CROSS-MODAL shared space (round 14): both modality towers land in
    * one 16-dim joint space through the SAME frozen ±1 projection —
    * the md5-parity JL matrix jlSgn already used for q_ann_jl_rerank,
    * applied as 16 plan-literal sign rows (codegen'd dot_f per target
    * dim). Image tower input: the 64-dim centered patch-luma feature
    * decoded from the real BMP bytes (MediaBlobs.imageFeatOne, values
    * ≤ 48000); text tower input: the micro-unit quantized embedding
    * (values ≤ ~4000). Every projected coordinate is ≤ 64·48000 ≈
    * 3.1e6 and every 16-dim dot ≤ 1.3e13 — integer-exact in doubles,
    * so the oracle's BIGINT replay is bit-identical. The frozen
    * deterministic matrix is the house stand-in for trained CLIP
    * weights (same convention as the unrolled k-means/BPE training):
    * the RETRIEVAL machinery — two encoders, one space, cosine top-k,
    * IVF probe routing — is the real, scale-shaped artifact.
    */
  private def sharedProj(vcol: String): org.apache.spark.sql.Column = {
    val cols = (0 until 16).map { j =>
      val signs = (1 to 64)
        .map(i => if (jlSgn(i, j) > 0) "1.0D" else "-1.0D").mkString(",")
      expr(s"CAST(dot_f(CAST($vcol AS ARRAY<DOUBLE>), array($signs))" +
        " AS BIGINT)")
    }
    array(cols: _*)
  }

  /** DuckDB twin of sharedProj over array-SQL fragment `vcol` (1-based
    * 64 elements): the same md5-parity matrix, exact BIGINT math.
    */
  private def sharedProjSql(vcol: String): String =
    s"list_transform(range(0, 16), j -> CAST(list_sum(" +
      s"list_transform(range(1, 65), i -> $vcol[i] * " +
      "(CASE WHEN ('0x' || substr(md5(CAST(i AS VARCHAR) || '_' || " +
      "CAST(j AS VARCHAR)), 1, 15))::BIGINT % 2 = 0 " +
      "THEN 1 ELSE -1 END))) AS BIGINT))"

  /** Shared oracle CTE block for the q_crossmodal_* family: image
    * tower replayed from the generator pixel contract (the Spark side
    * decodes the REAL bytes — MediaBlobsSpec/Round14OpsSpec prove the
    * two agree), text tower from the embeddings table, both projected
    * into the joint space with norms.
    */
  private val crossmodalTowersSql =
    s"""idocs AS (
        |  SELECT doc_id, doc_id % 41 AS g FROM documents
        |  WHERE (doc_id % 41) % 2 = 0),
        |idim AS (SELECT doc_id, g, 200 + (g * 13) % 800 AS w,
        |                2 + g % 5 AS h FROM idocs),
        |igray AS (
        |  SELECT doc_id, list_transform(range(0, 64), k ->
        |      ((k % 8) * w // 8 + 7 * ((k // 8) * h // 8) + g) % 251
        |    + ((k % 8) * w // 8 + 7 * ((k // 8) * h // 8) + 11 + g) % 251
        |    + ((k % 8) * w // 8 + 7 * ((k // 8) * h // 8) + 22 + g) % 251)
        |    AS gr
        |  FROM idim),
        |ifeat AS (
        |  SELECT doc_id, list_transform(gr, x -> 64 * x - list_sum(gr))
        |    AS f
        |  FROM igray),
        |inorm AS (
        |  SELECT doc_id, p,
        |    sqrt(list_sum(list_transform(p, x -> x::DOUBLE * x::DOUBLE)))
        |      AS nrm
        |  FROM (SELECT doc_id, ${sharedProjSql("f")} AS p FROM ifeat)),
        |qt AS (
        |  SELECT vec_id AS q_id, list_transform(embedding,
        |    x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |  FROM embeddings WHERE vec_id < 6),
        |qnorm AS (
        |  SELECT q_id, p,
        |    sqrt(list_sum(list_transform(p, x -> x::DOUBLE * x::DOUBLE)))
        |      AS nrm
        |  FROM (SELECT q_id, ${sharedProjSql("qv")} AS p FROM qt))""".stripMargin

  /** The query vectors of every PQ statement (vec_id 4..8, as the
    * oracles' `qs` CTE) from a quantized frame: (q_id, qv, qn). */
  private def pqQueries(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") >= 4 && col("vec_id") < 9)
      .select(col("vec_id").as("q_id"), col("qd").as("qv"), col("en").as("qn"))

  /** Shared by q_ann_ivfpq and q_ann_ivfpq_index: identical
    * semantics, so one oracle replays both (from-scratch vs
    * from-persisted-index answers must agree exactly).
    */
  private val ivfpqOracleSql =
    """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |cells AS (SELECT vec_id AS cell_id, q AS c FROM emb
        |          WHERE vec_id < 4),
        |qs AS (SELECT vec_id AS q_id, q AS qq FROM emb
        |       WHERE vec_id >= 4 AND vec_id < 9),
        |corp AS (SELECT vec_id, q FROM emb WHERE vec_id >= 9),
        |asg AS (
        |  SELECT vec_id, q, cell_id, c FROM (
        |    SELECT corp.vec_id, corp.q, cells.cell_id, cells.c,
        |      row_number() OVER (PARTITION BY corp.vec_id ORDER BY
        |        list_sum(list_transform(range(1, 65),
        |          i -> (corp.q[i] - cells.c[i]) * (corp.q[i] - cells.c[i]))),
        |        cells.cell_id) AS rn
        |    FROM corp CROSS JOIN cells) WHERE rn = 1),
        |res AS (SELECT vec_id, cell_id,
        |          list_transform(range(1, 65), i -> q[i] - c[i]) AS r
        |        FROM asg),
        |cb AS (
        |  SELECT vec_id - 9 AS cid, s,
        |    list_transform(range(1, 9), i -> r[s*8 + i]) AS cv
        |  FROM res, range(0, 8) t(s) WHERE vec_id >= 9 AND vec_id < 13),
        |enc AS (
        |  SELECT vec_id, cell_id, s, cid AS code FROM (
        |    SELECT sub.vec_id, sub.cell_id, sub.s, cb.cid,
        |      row_number() OVER (PARTITION BY sub.vec_id, sub.s ORDER BY
        |        list_sum(list_transform(range(1, 9),
        |          i -> (sub.v[i] - cb.cv[i]) * (sub.v[i] - cb.cv[i]))),
        |        cb.cid) AS rn
        |    FROM (SELECT vec_id, cell_id, s,
        |            list_transform(range(1, 9), i -> r[s*8 + i]) AS v
        |          FROM res, range(0, 8) t(s)) sub
        |    JOIN cb ON cb.s = sub.s) WHERE rn = 1),
        |probe AS (
        |  SELECT q_id, cell_id, c FROM (
        |    SELECT q.q_id, cells.cell_id, cells.c,
        |      row_number() OVER (PARTITION BY q.q_id ORDER BY
        |        list_sum(list_transform(range(1, 65),
        |          i -> (q.qq[i] - cells.c[i]) * (q.qq[i] - cells.c[i]))),
        |        cells.cell_id) AS rn
        |    FROM qs q CROSS JOIN cells) WHERE rn <= 2),
        |lut AS (
        |  SELECT p.q_id, p.cell_id, cb.s, cb.cid,
        |    list_sum(list_transform(range(1, 9),
        |      i -> (q.qq[cb.s*8 + i] - p.c[cb.s*8 + i] - cb.cv[i])
        |         * (q.qq[cb.s*8 + i] - p.c[cb.s*8 + i] - cb.cv[i]))) AS ld
        |  FROM probe p JOIN qs q ON q.q_id = p.q_id CROSS JOIN cb),
        |adc AS (
        |  SELECT l.q_id, e.vec_id, e.cell_id,
        |    CAST(SUM(l.ld) AS BIGINT) AS adc_dist
        |  FROM enc e JOIN lut l ON l.cell_id = e.cell_id AND l.s = e.s
        |    AND l.cid = e.code
        |  GROUP BY l.q_id, e.vec_id, e.cell_id),
        |top AS (
        |  SELECT q_id, vec_id, cell_id, adc_dist,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY adc_dist, vec_id) AS rn
        |  FROM adc)
        |SELECT t.q_id, CAST(t.rn AS INT) AS rn, t.vec_id AS cand_id,
        |  t.cell_id, t.adc_dist,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    i -> (qs.qq[i] - corp.q[i]) * (qs.qq[i] - corp.q[i])))
        |    AS BIGINT) AS exact_dist
        |FROM top t
        |JOIN qs ON qs.q_id = t.q_id
        |JOIN corp ON corp.vec_id = t.vec_id
        |WHERE t.rn <= 5
        |ORDER BY t.q_id, t.rn""".stripMargin

  /** The q_ann_ivfpq_index search plan against an arbitrary persisted
    * index root — shared verbatim by the full-build and the
    * incrementally-appended index queries (one oracle gates both, and
    * the probe plan must be identical whatever the maintenance mode).
    */
  private def ivfpqIndexSearch(s: SparkSession, dir: String,
      idx: String): DataFrame = {
      val emb = Vectors.quantized(t(s, dir, "embeddings"), "vec_id")
      val qs = pqQueries(emb)
      val (cells, cb) = graft.sources.IvfPqIndex.readModelFrames(s, idx)
      val probe = Vectors.probeResiduals(qs, cells, 2)
        .transform(T.scratch) // probed twice below (routing + LUTs)
      // Driver-side probe routing: ≤ nlist(4) cell ids — model-sized
      // by construction (this is the collect an ANN service does to
      // schedule probes; never corpus data).
      val probedCells = probe.select("cell_id").distinct()
        .collect().map(_.getLong(0))
      val lut = Vectors.lut(Vectors.slices(probe, "qr", "q_id", "cell_id"),
        cb, 4, "q_id", "cell_id")
      // Pruned code scan: only the probed cells' partitions are read.
      val codes = graft.sources.IvfPqIndex.readCodes(s, idx)
        .filter(col("cell_id").isin(probedCells.map(Long.box): _*))
        .withColumn("cell_id", col("cell_id").cast("long"))
      // Final rank — SIZE-ADAPTIVE (TopKAgg.engage, r16, VERDICT r15
      // #6; q_ann_pq_adc's note). Gated on the quantized-corpus
      // estimate so the index and delta variants cut over at the same
      // scale as q_ann_ivfpq (identical search plan contract).
      val adcScored = codes.join(lut, "cell_id")
        .withColumn("adc_dist", Vectors.adc(4))
      val top = TopKAgg.perGroup(adcScored, Seq("q_id"),
        Seq("adc_dist" -> Asc, "vec_id" -> Asc), 5, carry = Seq("cell_id"),
        rank = Some("rn"), agg = TopKAgg.engage(emb))
        .select(col("q_id"), col("rn").cast("int").as("rn"),
          col("vec_id").as("cand_id"), col("cell_id"), col("adc_dist"))
      Vectors.withExactDist(top, emb.filter(col("vec_id") >= 9), qs)
        .select("q_id", "rn", "cand_id", "cell_id", "adc_dist",
          "exact_dist")
        .orderBy("q_id", "rn")
  }

  def defs: Seq[QueryDef] = Seq(

    // Brute-force cosine top-3 per query vector (queries = vec_id < 5).
    // Exactness baseline for the LSH path below. Cosine rounded to 6
    // decimals BEFORE ranking so both engines rank identically.
    q("q_ann_cosine_topk",
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
        |      AS nrm
        |  FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
        |    ROUND(list_sum(list_transform(range(1, len(q.embedding) + 1),
        |            i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
        |          / (q.nrm * c.nrm), 6) AS cos_sim
        |  FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |SELECT q_id, rn, cand_id, cos_sim FROM (
        |  SELECT q_id, cand_id, cos_sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id
        |                       ORDER BY cos_sim DESC, cand_id) AS rn
        |  FROM p)
        |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin) { (s, dir) =>
      val e = withNorm(t(s, dir, "embeddings"))
      val qs = broadcast(e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("nrm").as("qn")))
      val cands = e.select(col("vec_id").as("cand_id"),
        col("embedding").as("ce"), col("nrm").as("cn"))
      // (r15: a collect_topk form of this rank measured 1.27× at sf0.1
      // — WindowGroupLimit already forwards ≤3/query/split to the
      // 5-key exchange, and its codegen sort beats the boxed
      // typed-imperative buffers at in-memory sizes. Window stays.)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("cos_sim").desc, col("cand_id"))
      qs.join(cands, col("cand_id") =!= col("q_id"))
        .withColumn("cos_sim", round(dot("qe", "ce") / (col("qn") * col("cn")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("q_id", "rn", "cand_id", "cos_sim")
        .orderBy("q_id", "rn")
    },

    // HARD-NEGATIVE MINING for contrastive training (the DPR/SimCSE
    // data-prep step): for each anchor vector, the top-3 most-similar
    // candidates with a DIFFERENT label — near the anchor in embedding
    // space but semantically wrong, the negatives that actually teach
    // a contrastive model. Same scale shape as q_ann_cosine_topk: the
    // anchor set (vec_id < 8, a fixed training batch however large the
    // corpus) broadcasts, the corpus streams through ONE scan, and the
    // rn <= 3 filter triggers Spark's WindowGroupLimit pushdown
    // (verified plan shape in the tier-4 scaling note) so each map
    // split forwards only its top-3 per anchor — the 8-key exchange
    // carries ≤24 rows per split, never the corpus. The label
    // inequality is a join predicate, pushed into the broadcast probe.
    q("q_mine_hard_negatives",
      """WITH e AS (
        |  SELECT vec_id, label, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> x::DOUBLE * x::DOUBLE))) AS nrm
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
        |    c.vec_id AS cand_id, c.label AS cand_label,
        |    ROUND(list_sum(list_transform(range(1, len(a.embedding) + 1),
        |            i -> a.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
        |          / (a.nrm * c.nrm), 6) AS cos_sim
        |  FROM e a JOIN e c
        |    ON a.vec_id < 8 AND c.vec_id >= 8 AND c.label <> a.label)
        |SELECT anchor_id, anchor_label, rn, cand_id, cand_label, cos_sim
        |FROM (
        |  SELECT anchor_id, anchor_label, cand_id, cand_label, cos_sim,
        |    ROW_NUMBER() OVER (PARTITION BY anchor_id
        |                       ORDER BY cos_sim DESC, cand_id) AS rn
        |  FROM p)
        |WHERE rn <= 3 ORDER BY anchor_id, rn""".stripMargin) { (s, dir) =>
      val e = withNorm(t(s, dir, "embeddings"))
      val anchors = broadcast(e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
          col("embedding").as("ae"), col("nrm").as("an")))
      val cands = e.filter(col("vec_id") >= 8)
        .select(col("vec_id").as("cand_id"), col("label").as("cand_label"),
          col("embedding").as("ce"), col("nrm").as("cn"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("anchor_id").orderBy(col("cos_sim").desc, col("cand_id"))
      anchors.join(cands, col("cand_label") =!= col("anchor_label"))
        .withColumn("cos_sim", cos6("ae", "an", "ce", "cn"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("anchor_id", "anchor_label", "rn", "cand_id", "cand_label",
          "cos_sim")
        .orderBy("anchor_id", "rn")
    },

    // Two-stage quantized retrieval — the memory-bandwidth play of a
    // production ANN index (FAISS's SQ8 pattern): stage 1 scans INT8
    // vectors (4× less data than float32) and ranks candidates by the
    // integer dot product rescaled with the per-vector quantization
    // scales; stage 2 re-scores ONLY the top-10 coarse survivors with
    // the exact float cosine and emits top-3. At 100 TB the coarse scan
    // is the only corpus-wide pass and it reads a quarter of the bytes;
    // the exact embeddings are fetched for ~10 rows per query. Every
    // arithmetic step (int dot, scale multiply, rounded cosine) is
    // bit-identical in both engines, so the full two-stage result is
    // oracle-checked — including WHICH candidates survive the coarse
    // cut. Ranking key = int_dot × cand_scale / cand_norm (the
    // query-side factors are constant per query, so the order equals
    // the approx-cosine order with fewer float ops to drift).
    q("q_ann_quant_rerank",
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
        |      AS nrm,
        |    list_max(list_transform(embedding, y -> abs(y::DOUBLE))) / 127
        |      AS scl
        |  FROM embeddings),
        |qt AS (
        |  SELECT vec_id, embedding, nrm, scl,
        |    list_transform(embedding, x -> CAST(round(x::DOUBLE / scl)
        |      AS INTEGER)) AS qv
        |  FROM e),
        |coarse AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
        |    q.embedding AS qe, c.embedding AS ce, q.nrm AS qn, c.nrm AS cn,
        |    (CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
        |         i -> CAST(q.qv[i] AS BIGINT) * c.qv[i])) AS DOUBLE)
        |       * c.scl) / c.nrm AS ckey
        |  FROM qt q JOIN qt c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
        |cand AS (
        |  SELECT * FROM (
        |    SELECT coarse.*, ROW_NUMBER() OVER (PARTITION BY q_id
        |        ORDER BY ckey DESC, cand_id) AS rc
        |    FROM coarse) WHERE rc <= 10)
        |SELECT q_id, rn, cand_id, cos_sim FROM (
        |  SELECT q_id, cand_id, cos_sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id
        |                       ORDER BY cos_sim DESC, cand_id) AS rn
        |  FROM (SELECT q_id, cand_id,
        |      ROUND(list_sum(list_transform(range(1, len(qe) + 1),
        |          i -> qe[i]::DOUBLE * ce[i]::DOUBLE)) / (qn * cn), 6)
        |        AS cos_sim
        |    FROM cand))
        |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin) { (s, dir) =>
      val e = withNorm(t(s, dir, "embeddings"))
        .withColumn("scl", expr(
          "array_max(transform(embedding, y -> abs(cast(y as double)))) / 127"))
        .withColumn("qv", expr(
          "transform(embedding, x -> cast(round(cast(x as double) / scl)" +
            " as int))"))
      val qs = broadcast(e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("qv").as("qqv"),
          col("embedding").as("qe"), col("nrm").as("qn")))
      val cands = e.select(col("vec_id").as("cand_id"), col("qv").as("cqv"),
        col("embedding").as("ce"), col("nrm").as("cn"), col("scl").as("cs"))
      val wCoarse = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("ckey").desc, col("cand_id"))
      val wExact = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("cos_sim").desc, col("cand_id"))
      qs.join(cands, col("cand_id") =!= col("q_id"))
        // int8 dot ≤ 64·127² ≈ 1e6 — integer-exact in a double, so the
        // codegen'd dot_f + BIGINT cast equals the former integer fold.
        .withColumn("idot", expr(
          "CAST(dot_f(CAST(qqv AS ARRAY<DOUBLE>)," +
            " CAST(cqv AS ARRAY<DOUBLE>)) AS BIGINT)"))
        .withColumn("ckey",
          (col("idot").cast("double") * col("cs")) / col("cn"))
        .withColumn("rc", row_number().over(wCoarse))
        .filter(col("rc") <= 10)
        .withColumn("cos_sim", cos6("qe", "qn", "ce", "cn"))
        .withColumn("rn", row_number().over(wExact))
        .filter(col("rn") <= 3)
        .select("q_id", "rn", "cand_id", "cos_sim")
        .orderBy("q_id", "rn")
    },

    // LSH-bucketed ANN — the 100 TB path. Multi-table random-hyperplane
    // LSH: 10 tables × b sign bits, b = max(6, ceil(log2(corpus/32)))
    // ADAPTIVE to corpus size (see the sizing note at the Spark side);
    // a vector lands in one b-bit bucket PER TABLE and candidates are
    // the union of its buckets. For a true
    // neighbor at angle θ, P(same bit) = 1-θ/π ≈ 0.6 at the cosines in
    // this corpus, so per-table co-bucket ≈ 0.6^6 and union recall
    // ≈ 1-(1-0.6^6)^10 ≈ 0.4 — tune (bits, tables) so bucket size
    // ≈ corpus/2^bits and recall meets target (multi-probe cuts tables).
    // Sizing rule: bits ≈ log2(corpus / targetBucketSize); expected
    // occupancy is corpus/2^bits per (table, bucket), and bucketCap
    // bounds the worst case — a degenerate bucket (mass-duplicated
    // embeddings, or a cluster the hyperplanes can't split) otherwise
    // makes ONE task quadratic while every other task idles.
    // Fully oracle-checked: hyperplanes derive from the cross-engine
    // md5/h60 hash (not Spark-only xxhash64), the sign test compares
    // the ROUNDED projection, and every downstream step (bucket sum,
    // cap, band self-join, exact rescore) is plain SQL — so DuckDB
    // replays the complete bucket+rescore pipeline bit-for-bit.
    q("q_ann_lsh_bucketed",
      """WITH params AS (
        |  SELECT GREATEST(6, (SELECT CAST(COUNT(*) AS INT) FROM range(40) t(k)
        |                      WHERE (32::BIGINT << CAST(k AS INT)) <
        |                        (SELECT COUNT(*) FROM embeddings))) AS bits),
        |hp AS (
        |  SELECT k, list_transform(range(0, 64), d ->
        |      ('0x' || substr(md5(k::VARCHAR || ':' || d::VARCHAR), 1, 15))::BIGINT
        |        % 2000001 / 1000000.0 - 1.0) AS hpv
        |  FROM range(400) t(k)
        |  WHERE k < 10 * (SELECT bits FROM params)),
        |e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
        |      AS nrm
        |  FROM embeddings),
        |bits AS (
        |  SELECT e.vec_id, k // (SELECT bits FROM params) AS tbl,
        |    CASE WHEN ROUND(list_sum(list_transform(range(1, 65),
        |          i -> e.embedding[i]::DOUBLE * hp.hpv[i])), 6) > 0
        |      THEN (1::BIGINT << CAST(k % (SELECT bits FROM params) AS INT))
        |      ELSE 0 END AS bit
        |  FROM e CROSS JOIN hp),
        |buckets AS (
        |  SELECT vec_id, tbl, CAST(SUM(bit) AS BIGINT) AS bucket
        |  FROM bits GROUP BY 1, 2),
        |capped AS (
        |  SELECT vec_id, tbl, bucket FROM (
        |    SELECT vec_id, tbl, bucket,
        |      ROW_NUMBER() OVER (PARTITION BY tbl, bucket ORDER BY vec_id)
        |        AS rnk
        |    FROM buckets) WHERE rnk <= 1000),
        |cand AS (
        |  SELECT DISTINCT l.vec_id AS q_id, r.vec_id AS cand_id
        |  FROM capped l JOIN capped r
        |    ON l.tbl = r.tbl AND l.bucket = r.bucket
        |    AND l.vec_id <> r.vec_id),
        |scored AS (
        |  SELECT c.q_id, c.cand_id,
        |    ROUND(list_sum(list_transform(range(1, 65),
        |        i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |      / (a.nrm * b.nrm), 6) AS cos_sim
        |  FROM cand c
        |  JOIN e a ON a.vec_id = c.q_id
        |  JOIN e b ON b.vec_id = c.cand_id)
        |SELECT q_id, cand_id, cos_sim FROM (
        |  SELECT q_id, cand_id, cos_sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id
        |                       ORDER BY cos_sim DESC, cand_id) AS rn
        |  FROM scored) WHERE rn = 1 ORDER BY q_id""".stripMargin) { (s, dir) =>
      val dim = 64
      val tables = 10
      // ADAPTIVE bits = the sizing rule above made executable: smallest
      // b with corpus/2^b <= 32 (floor 6), via pure integer shifts so
      // the oracle's replay can't drift on a log2 boundary ulp. With
      // fixed bits, 10× corpus = 10× occupancy = 100× candidate pairs —
      // measured 1.3 s -> 139.6 s at sf0.1 -> sf1 before this; growing
      // bits with log2(n) holds expected occupancy ~constant, so
      // candidate volume scales ~linearly (recall per table drops as
      // buckets shrink — the standard trade, bought back with tables /
      // multi-probe, NOT with bigger buckets). The count() is one
      // parquet-footer metadata read, O(files) at any scale.
      val nVecs = t(s, dir, "embeddings").count()
      val bits = lshBits(nVecs)
      val bucketCap = lshBucketCap // max members per (table, bucket)
      // Hyperplane k, component d = centered pseudo-random double from
      // the portable h60 hash of "k:d" — deterministic, generated
      // distributed (spark.range keeps it a relation, not a collect),
      // and reproducible by the DuckDB oracle (md5 exists in both;
      // xxhash64 does not).
      val hp = s.range(tables * bits).select(col("id").cast("int").as("k"),
        expr(s"transform(sequence(0, ${dim - 1}), d -> CAST(CAST(conv(substring(md5(concat(CAST(id AS STRING), ':', CAST(d AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2000001 AS DOUBLE) / 1000000.0 - 1.0)")
          .as("hpv"))
      val e = withNorm(t(s, dir, "embeddings"))
      // One row per (vector, hyperplane) → per-table 6-bit bucket via a
      // groupBy — the embedding array is never duplicated 60×.
      val buckets = e.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(hp))
        .select(col("vec_id"), expr(s"k div $bits").as("tbl"),
          // Sign of the ROUNDED projection — the same 6-decimal guard
          // every oracle-compared float in this repo uses, so the
          // DuckDB replay can't flip a bucket bit on a last-ulp delta.
          when(round(dot("embedding", "hpv"), 6) > 0,
            expr(s"shiftleft(CAST(1 AS BIGINT), k % $bits)"))
            .otherwise(0L).as("bit"))
        .groupBy("vec_id", "tbl")
        .agg(sum(col("bit")).cast("long").as("bucket"))
      // Skew guard (mirrors the MinHash band cap): keep at most bucketCap
      // members per (table, bucket), deterministically by vec_id — an
      // oversized bucket degrades to its first bucketCap members instead
      // of one quadratic straggler task. Candidates lost here can still
      // surface via the other 9 tables.
      // Skew cap — WINDOW-ALWAYS (r16 revert of the r15 size-adaptive
      // collect_topk cutover, from measurement, guide §1.1 "measure,
      // don't guess"): this group domain is (tbl, bucket) at ~32-member
      // EXPECTED occupancy (the lshBits sizing above holds it there by
      // construction), so a partial top-k aggregate reduces almost
      // nothing — the cap only trims degenerate buckets — while paying
      // a k=1000-element serialized typed-imperative buffer per group
      // through the ObjectHashAggregate sort-based fallback. Measured
      // at sf30 (dedicated-JVM protocol, plans/r16/scale_logs/): the
      // engaged agg arm hit ENOSPC on BOTH runs at 60.2 GB peak
      // shuffle scratch — an order of magnitude MORE scratch than the
      // window arm's skinny-row sort, which completed in 37.6 s. The
      // query's real sf100 limiter is the bucket self-join's shuffle,
      // which this cap never touched (SCALE.md disk accounting).
      val wbk = org.apache.spark.sql.expressions.Window
        .partitionBy("tbl", "bucket").orderBy("vec_id")
      val capped = buckets.withColumn("rnk", row_number().over(wbk))
        .filter(col("rnk") <= bucketCap).drop("rnk")
      // Identical subtree on both self-join sides → ReuseExchange
      // already shares the shuffle; a checkpoint measured slower here.
      val l = capped.select(col("vec_id").as("q_id"), col("tbl"),
        col("bucket"))
      val r = capped.select(col("vec_id").as("cand_id"),
        col("tbl").as("ctbl"), col("bucket").as("cbucket"))
      val cand = l.join(r, col("tbl") === col("ctbl") &&
          col("bucket") === col("cbucket") && col("q_id") =!= col("cand_id"))
        .select("q_id", "cand_id").distinct()
      // Exact re-score of the candidate union, top-1 per query.
      val qv = e.select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("nrm").as("qn"))
      val cv = e.select(col("vec_id").as("cand_id"),
        col("embedding").as("ce"), col("nrm").as("cn"))
      // Top-1 per query via max_by (map-side combine before the
      // exchange) instead of a full-shuffle row_number window; ties
      // break as the oracle orders (cos DESC, cand_id ASC).
      cand.join(qv, "q_id").join(cv, "cand_id")
        .withColumn("cos_sim", cos6("qe", "qn", "ce", "cn"))
        .groupBy("q_id")
        .agg(Vectors.maxByCos(struct(col("cand_id"), col("cos_sim")),
          "cos_sim", "cand_id").as("best"))
        .select(col("q_id"), col("best.cand_id").as("cand_id"),
          col("best.cos_sim").as("cos_sim"))
        .orderBy("q_id")
    },

    // Embedding-cosine closest pairs (the "embedding near-dup" operator;
    // this corpus's max pairwise cosine is ~0.51, so a 0.99 threshold
    // would be vacuous — top-k closest pairs exercises the same shape):
    // exact over a bounded subset; the LSH/IVF queries are the scale
    // path for the same computation. Ranking on the ROUNDED cosine with
    // id tie-breaks keeps both engines' order identical.
    q("q_sim_cosine_pairs",
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
        |      AS nrm
        |  FROM embeddings WHERE vec_id < 300)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  ROUND(list_sum(list_transform(range(1, len(a.embedding) + 1),
        |          i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |        / (a.nrm * b.nrm), 6) AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |ORDER BY cos_sim DESC, a_id, b_id LIMIT 10""".stripMargin) { (s, dir) =>
      val e = withNorm(t(s, dir, "embeddings").filter(col("vec_id") < 300))
      val a = e.select(col("vec_id").as("a_id"), col("embedding").as("qe"),
        col("nrm").as("qn"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("ce"),
        col("nrm").as("cn"))
      a.join(b, col("a_id") < col("b_id"))
        .withColumn("cos_sim", cos6("qe", "qn", "ce", "cn"))
        .select("a_id", "b_id", "cos_sim")
        .orderBy(col("cos_sim").desc, col("a_id"), col("b_id"))
        .limit(10)
    },

    // Embedding-cosine near-dup DEDUP, end to end: cosine >= 0.4 pairs
    // (the meaningful "near" band in this corpus — max pairwise cosine
    // ~0.51) → connected components → survivor accounting per
    // component. This is the semantic-dedup capstone: the same
    // pairs→components→survivors pipeline as q_dedup_components, with
    // the pair relation coming from the embedding space instead of the
    // shingle space. Exact all-pairs over a bounded subset (the
    // exactness baseline — at 100 TB the pair source swaps to the LSH
    // bucket join / IVF cells above, everything downstream unchanged).
    // Threshold compares the ROUNDED cosine (bit-identical both
    // engines) so the boundary can't drift.
    q("q_dedup_embed",
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
        |      AS nrm
        |  FROM embeddings WHERE vec_id < 1000),
        |pairs AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE ROUND(list_sum(list_transform(range(1, len(a.embedding) + 1),
        |          i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |        / (a.nrm * b.nrm), 6) >= 0.4),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(node, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT reach.node, e2.b FROM reach JOIN edges e2 ON e2.a = reach.r),
        |comp AS (SELECT node, MIN(r) AS comp_id FROM reach GROUP BY node)
        |SELECT comp_id, COUNT(*) AS n_members,
        |  CAST(SUM(node) AS BIGINT) AS id_checksum,
        |  string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members
        |FROM comp GROUP BY comp_id ORDER BY comp_id""".stripMargin) {
      (s, dir) =>
      val e = withNorm(t(s, dir, "embeddings").filter(col("vec_id") < 1000))
      val a = e.select(col("vec_id").as("a_id"), col("embedding").as("qe"),
        col("nrm").as("qn"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("ce"),
        col("nrm").as("cn"))
      val pairs = a.join(b, col("a_id") < col("b_id"))
        .filter(cos6("qe", "qn", "ce", "cn") >= 0.4)
        .select("a_id", "b_id")
      val comp = ConnectedComponents.label(pairs, "a_id", "b_id")
      comp.groupBy("comp_id")
        .agg(count(lit(1)).as("n_members"),
          sum(col("node")).cast("long").as("id_checksum"),
          expr("concat_ws(',', transform(sort_array(collect_list(node))," +
            " x -> cast(x as string)))").as("members"))
        .orderBy("comp_id")
    },

    // IVF-cell ANN — the clustered alternative to hyperplane LSH: 16
    // deterministic seed vectors are refined by `iters` relational
    // Lloyd (k-means) iterations — assign to nearest centroid, recompute
    // each centroid as the per-dimension mean of its cell — then every
    // vector is indexed under its nearest trained centroid (an inverted
    // file) and each query probes its nprobe=2 nearest cells (at scale:
    // raise ncells with corpus so cell size stays ~constant, tune
    // nprobe/iters for the recall target). Means are decimal-stabilized
    // so centroids — and therefore cells — are bit-deterministic across
    // runs and partitionings. cellCap bounds the per-cell candidate
    // list — a hot cell degrades to its first cellCap members instead
    // of an N²/ncells straggler task. Fully oracle-checked: training is
    // bounded (iters=2), so the DuckDB twin UNROLLS both Lloyd rounds
    // as CTEs; every cross-engine float comparison (assignment argmax,
    // cell ranking) happens on the 6-decimal ROUNDED cosine, and the
    // per-dimension mean is the proven davg shape — exact decimal sum,
    // cast double, THEN divide by count — so cells match bit-for-bit.
    q("q_ann_ivf_cells",
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
        |      AS nrm
        |  FROM embeddings),
        |params AS (
        |  SELECT seedmod, GREATEST(5::BIGINT, seedmod // 64) AS trainmod
        |  FROM (SELECT (SELECT MIN(1::BIGINT << CAST(k AS INT)) FROM range(31) t(k)
        |          WHERE (1::BIGINT << CAST(k AS INT))
        |              * (1::BIGINT << CAST(k AS INT)) >=
        |            (SELECT COUNT(*) FROM e)) AS seedmod)),
        |c0 AS (
        |  SELECT vec_id AS cent_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS cent, nrm AS cnrm
        |  FROM e WHERE vec_id % (SELECT seedmod FROM params) = 0),
        |tr AS (SELECT vec_id, embedding, nrm FROM e
        |       WHERE vec_id % (SELECT trainmod FROM params) = 0),
        |a1 AS (
        |  SELECT vec_id, cent_id AS cell FROM (
        |    SELECT t.vec_id, c.cent_id,
        |      ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY
        |        ROUND(list_sum(list_transform(range(1, 65),
        |            i -> t.embedding[i]::DOUBLE * c.cent[i]))
        |          / (t.nrm * c.cnrm), 6) DESC, c.cent_id) AS rn
        |    FROM tr t CROSS JOIN c0 c) WHERE rn = 1),
        |m1 AS (
        |  SELECT a1.cell, r.i AS pos,
        |    CAST(SUM(CAST(t.embedding[CAST(r.i AS INT)]::DOUBLE
        |        AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m
        |  FROM a1 JOIN tr t USING (vec_id) CROSS JOIN range(1, 65) r(i)
        |  GROUP BY 1, 2),
        |c1 AS (
        |  SELECT cent_id, cent,
        |    sqrt(list_sum(list_transform(cent, x -> x * x))) AS cnrm
        |  FROM (SELECT cell AS cent_id, list(m ORDER BY pos) AS cent
        |        FROM m1 GROUP BY cell)),
        |a2 AS (
        |  SELECT vec_id, cent_id AS cell FROM (
        |    SELECT t.vec_id, c.cent_id,
        |      ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY
        |        ROUND(list_sum(list_transform(range(1, 65),
        |            i -> t.embedding[i]::DOUBLE * c.cent[i]))
        |          / (t.nrm * c.cnrm), 6) DESC, c.cent_id) AS rn
        |    FROM tr t CROSS JOIN c1 c) WHERE rn = 1),
        |m2 AS (
        |  SELECT a2.cell, r.i AS pos,
        |    CAST(SUM(CAST(t.embedding[CAST(r.i AS INT)]::DOUBLE
        |        AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m
        |  FROM a2 JOIN tr t USING (vec_id) CROSS JOIN range(1, 65) r(i)
        |  GROUP BY 1, 2),
        |c2 AS (
        |  SELECT cent_id, cent,
        |    sqrt(list_sum(list_transform(cent, x -> x * x))) AS cnrm
        |  FROM (SELECT cell AS cent_id, list(m ORDER BY pos) AS cent
        |        FROM m2 GROUP BY cell)),
        |params2 AS (
        |  -- COALESCE mirrors the Spark-side .getOrElse(1L << 16): when no
        |  -- j in 0..15 satisfies (2^j)^2 >= seedmod (astronomical corpora),
        |  -- both engines fall back to 2^16 rather than NULL-ing the tier
        |  SELECT COALESCE(
        |    (SELECT MIN(1::BIGINT << CAST(j AS INT)) FROM range(16) t(j)
        |      WHERE (1::BIGINT << CAST(j AS INT))
        |          * (1::BIGINT << CAST(j AS INT)) >=
        |        (SELECT seedmod FROM params)), 1::BIGINT << 16) AS cm),
        |cc AS (
        |  SELECT cent_id AS co_id, cent AS co, cnrm AS conrm FROM c2
        |  WHERE cent_id % ((SELECT seedmod FROM params)
        |                   * (SELECT cm FROM params2)) = 0),
        |cf AS (
        |  SELECT cent_id, cent, cnrm, co_id FROM (
        |    SELECT f.cent_id, f.cent, f.cnrm, c.co_id,
        |      ROW_NUMBER() OVER (PARTITION BY f.cent_id ORDER BY
        |        ROUND(list_sum(list_transform(range(1, 65),
        |            i -> f.cent[i] * c.co[i])) / (f.cnrm * c.conrm), 6)
        |          DESC, c.co_id) AS rn
        |    FROM c2 f CROSS JOIN cc c) WHERE rn = 1),
        |vc AS (
        |  SELECT vec_id, co_id FROM (
        |    SELECT v.vec_id, c.co_id,
        |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
        |        ROUND(list_sum(list_transform(range(1, 65),
        |            i -> v.embedding[i]::DOUBLE * c.co[i]))
        |          / (v.nrm * c.conrm), 6) DESC, c.co_id) AS rn
        |    FROM e v CROSS JOIN cc c) WHERE rn <= 2),
        |rk AS (
        |  SELECT vec_id, cent_id, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY ccos DESC, cent_id) AS arn FROM (
        |    SELECT v.vec_id, f.cent_id,
        |      ROUND(list_sum(list_transform(range(1, 65),
        |          i -> ve.embedding[i]::DOUBLE * f.cent[i]))
        |        / (ve.nrm * f.cnrm), 6) AS ccos
        |    FROM vc v JOIN cf f ON f.co_id = v.co_id
        |    JOIN e ve ON ve.vec_id = v.vec_id)),
        |icap AS (
        |  SELECT cand_id, cell FROM (
        |    SELECT vec_id AS cand_id, cent_id AS cell,
        |      ROW_NUMBER() OVER (PARTITION BY cent_id ORDER BY vec_id)
        |        AS crnk
        |    FROM rk WHERE arn = 1) WHERE crnk <= 2000),
        |pr AS (SELECT vec_id AS q_id, cent_id AS ccell FROM rk
        |       WHERE arn <= 2),
        |scored AS (
        |  SELECT p.q_id, i.cand_id,
        |    ROUND(list_sum(list_transform(range(1, 65),
        |        i2 -> qa.embedding[i2]::DOUBLE * ca.embedding[i2]::DOUBLE))
        |      / (qa.nrm * ca.nrm), 6) AS cos_sim
        |  FROM pr p
        |  JOIN icap i ON i.cell = p.ccell AND i.cand_id <> p.q_id
        |  JOIN e qa ON qa.vec_id = p.q_id
        |  JOIN e ca ON ca.vec_id = i.cand_id)
        |SELECT q_id, cand_id, cos_sim FROM (
        |  SELECT q_id, cand_id, cos_sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id
        |                       ORDER BY cos_sim DESC, cand_id) AS rn
        |  FROM scored) WHERE rn = 1 ORDER BY q_id""".stripMargin) {
      (s, dir) =>
      val iters = 2
      val e = withNorm(t(s, dir, "embeddings"))
      // ADAPTIVE cell count ~ sqrt(n) — the standard IVF sizing (FAISS's
      // nlist ≈ sqrt(N)). Seeds are vec_id % p == 0 with p the smallest
      // power of two whose square covers the corpus, so |cells| lands in
      // (sqrt(n)/2, sqrt(n)] via pure integer shifts both engines
      // replay identically. The old fixed `% 31` grew the CELL COUNT
      // linearly with the corpus, making assignment/ranking n²/31 —
      // measured 1.35 s -> 108.7 s at sf0.1 -> sf1; with c ~ sqrt(n)
      // both the n×c assignment and the n×nprobe×(n/c) probe rescore
      // are O(n^1.5), IVF's textbook scaling. The count() is one
      // parquet-footer metadata read.
      val nVecs = t(s, dir, "embeddings").count()
      val seedMod = Vectors.sqrtTier(nVecs, 31)
      var cents = e.filter(col("vec_id") % seedMod === 0)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent"),
          col("nrm").as("cent_nrm"))
      // Centroids train on a deterministic BOUNDED sample — the FAISS
      // practice (~30-256 points per centroid, not a corpus fraction):
      // a frozen "% 5" made Lloyd cost grow linearly with the corpus,
      // the exact class of parameter-scaling bug the r8 sweeps caught.
      // trainMod = max(5, seedMod/64) keeps ≤ 64·nlist training points
      // (seedMod and trainMod both powers of 2, so the modulus math is
      // the same pure-integer form the oracle replays): identical to
      // the old 20% sample at every local SF through sf1 (trainMod=5),
      // engaging at sf10 (trainMod=8) and asymptoting training cost to
      // O(nlist) per pass. The final full-corpus assignment (n·nlist)
      // remains the documented dominant term — IVF's textbook bound.
      // Materialized once: every Lloyd round consumes it, and without
      // the checkpoint each round re-runs the scan + norm projection.
      val trainMod = math.max(5L, seedMod / 64)
      val trainSet = e.filter(pmod(col("vec_id"), lit(trainMod)) === 0)
        .transform(T.scratch)
      for (_ <- 1 to iters) {
        // Assignment argmax via map-side-combining max_by (not a sort
        // window — the training pass never sorts the corpus). The
        // embedding rides THROUGH the argmax groupBy as first() — every
        // row of a vec_id group carries the same embedding, so this is
        // exact and saves the join-back by id (measured: one shuffle
        // chain per Lloyd round instead of two).
        // The argmax compares the ROUNDED cosine (tie → lower cent_id)
        // so the oracle's replay can't flip a cell on a last-ulp delta.
        val assigned = trainSet.crossJoin(broadcast(cents))
          .withColumn("cent_cos", cos6("embedding", "nrm", "cent", "cent_nrm"))
          .groupBy("vec_id")
          .agg(Vectors.maxByCos(col("cent_id"), "cent_cos", "cent_id")
            .as("cell"),
            first(col("embedding")).as("embedding"))
        // New centroid = per-dimension mean of the cell: explode to
        // (cell, dim, value), exact decimal sum cast to double then
        // divided by count (the davg shape — deterministic in any
        // aggregation order AND bit-identical to the oracle's decimal
        // replay), reassemble the array in dim order. Empty cells
        // simply drop out (standard Lloyd). localCheckpoint truncates
        // lineage so iteration i+1 (and the final index pass) never
        // re-executes iteration i's plan.
        cents = assigned
          .select(col("cell"), posexplode(col("embedding")))
          .groupBy("cell", "pos")
          .agg((sum(col("col").cast("decimal(27,10)")).cast("double")
            / count(lit(1))).as("m"))
          .groupBy("cell")
          .agg(expr("transform(sort_array(collect_list(struct(pos, m))), x -> x.m)")
            .as("cent"))
          .select(col("cell").as("cent_id"), col("cent"),
            sqrt(dot("cent", "cent")).as("cent_nrm"))
          .transform(T.scratch)
      }
      // FINAL assignment through a COARSE LAYER OVER THE TRAINED
      // CENTROIDS (round 14 — the de-fang of this query's one flagged
      // asymptote): the old e × cents ranking paid O(n·nlist) =
      // O(n·sqrt(n)) — measured 20.1× on the second data decade, the
      // suite's worst honest scaler, with the fix already proven in
      // q_ann_ivf_hier. Here the hierarchical route is applied AFTER
      // Lloyd: ncoarse ≈ sqrt(nlist) of the trained centroids (every
      // coarseMult-th seed id — pure integer modulus both engines
      // replay; empty-dropped cells just thin the coarse tier) form a
      // coarse quantizer, each trained centroid is assigned to its
      // nearest coarse cell (model × model), and a vector ranks only
      // the fine centroids inside its wc=2 nearest coarse cells:
      // O(n·(ncoarse + wc·nlist/ncoarse)) = O(n·n^(1/4)). The pruning
      // is the standard IMI approximation and the oracle replays it
      // CTE-for-CTE, so it is hash-gated, not waved through. Training
      // itself (the two unrolled Lloyd rounds above) already runs on
      // the bounded trainMod sample and stays exactly as it was.
      // The routed search (fine → coarse routing, both rank stages,
      // inverted file, probes, top-1 rescore) is Vectors.routedIvf,
      // the operator q_ann_ivf_hier runs over untrained seeds.
      val coarseMult = Vectors.sqrtTier(seedMod, 16)
      val coarse = cents.filter(col("cent_id") % (seedMod * coarseMult) === 0)
        .select(col("cent_id").as("co_id"), col("cent").as("co"),
          col("cent_nrm").as("co_nrm"))
      Vectors.routedIvf(e, cents, coarse, wc = 2, ivfNprobe, ivfCellCap)
    },

    // HIERARCHICAL (two-level) IVF — the bounded-assignment fix for
    // flat IVF's one remaining asymptote (round 11; VERDICT r10 #2).
    // Flat IVF with nlist ~ sqrt(n) pays O(n·sqrt(n)) in the final
    // full-corpus assignment (measured 17.6× on the second data decade
    // at sf10 — the suite's worst honest scaler). The FAISS-style fix
    // is a coarse quantizer OVER THE CENTROIDS: ncoarse ~ sqrt(nlist)
    // coarse cells, each fine centroid assigned to its nearest coarse
    // cell (nlist×ncoarse — model-sized), and a vector's assignment
    // then probes wc coarse cells and compares only against the
    // ~nlist/ncoarse fine centroids inside them:
    //   O(n·(ncoarse + wc·nlist/ncoarse)) = O(n·sqrt(nlist)) = O(n·n^(1/4))
    // per vector instead of O(n·sqrt(n)) — the IMI/IVF-HNSW shape.
    // The pruned fine search is the standard approximation (a vector
    // may miss its true nearest fine cell if that cell's coarse parent
    // ranks below wc); index, probe and exact-rescore semantics are
    // IDENTICAL to q_ann_ivf_cells. Centroids here are the same
    // deterministic power-of-two id-modulus seeds both engines derive
    // from COUNT(*) (p² ≥ n for fine, q² ≥ p for coarse — so the
    // corpus, fine and coarse tiers are each ~√ of the previous);
    // Lloyd refinement is deliberately omitted — q_ann_ivf_cells
    // already proves relational training, this query proves the
    // hierarchical ASSIGNMENT asymptotics, and the two compose.
    // Every cross-engine comparison (both argmaxes, cell ranking)
    // happens on the 6-decimal ROUNDED cosine with id tie-breaks, so
    // cells match bit-for-bit. 100 TB: coarse + fine centroid tables
    // are model-sized broadcasts; the corpus is scanned map-side and
    // shuffles only skinny (vec_id, cent_id, cos) rank rows through
    // WindowGroupLimit-capped windows; cellCap bounds hot cells.
    q("q_ann_ivf_hier",
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
        |      AS nrm
        |  FROM embeddings),
        |params AS (
        |  SELECT p, (SELECT MIN(1::BIGINT << CAST(j AS INT)) FROM range(16) t(j)
        |        WHERE (1::BIGINT << CAST(j AS INT))
        |            * (1::BIGINT << CAST(j AS INT)) >= p) AS q
        |  FROM (SELECT (SELECT MIN(1::BIGINT << CAST(k AS INT)) FROM range(31) t(k)
        |          WHERE (1::BIGINT << CAST(k AS INT))
        |              * (1::BIGINT << CAST(k AS INT)) >=
        |            (SELECT COUNT(*) FROM e)) AS p)),
        |cf0 AS (
        |  SELECT vec_id AS cent_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS cent, nrm AS cnrm
        |  FROM e WHERE vec_id % (SELECT p FROM params) = 0),
        |cc AS (
        |  SELECT vec_id AS co_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS co, nrm AS conrm
        |  FROM e WHERE vec_id %
        |    ((SELECT p FROM params) * (SELECT q FROM params)) = 0),
        |cf AS (
        |  SELECT cent_id, cent, cnrm, co_id FROM (
        |    SELECT f.cent_id, f.cent, f.cnrm, c.co_id,
        |      ROW_NUMBER() OVER (PARTITION BY f.cent_id ORDER BY
        |        ROUND(list_sum(list_transform(range(1, 65),
        |            i -> f.cent[i] * c.co[i])) / (f.cnrm * c.conrm), 6)
        |          DESC, c.co_id) AS rn
        |    FROM cf0 f CROSS JOIN cc c) WHERE rn = 1),
        |vc AS (
        |  SELECT vec_id, co_id FROM (
        |    SELECT v.vec_id, c.co_id,
        |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
        |        ROUND(list_sum(list_transform(range(1, 65),
        |            i -> v.embedding[i]::DOUBLE * c.co[i]))
        |          / (v.nrm * c.conrm), 6) DESC, c.co_id) AS rn
        |    FROM e v CROSS JOIN cc c) WHERE rn <= 2),
        |rk AS (
        |  SELECT vec_id, cent_id, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY fcos DESC, cent_id) AS arn FROM (
        |    SELECT v.vec_id, f.cent_id,
        |      ROUND(list_sum(list_transform(range(1, 65),
        |          i -> ve.embedding[i]::DOUBLE * f.cent[i]))
        |        / (ve.nrm * f.cnrm), 6) AS fcos
        |    FROM vc v JOIN cf f ON f.co_id = v.co_id
        |    JOIN e ve ON ve.vec_id = v.vec_id)),
        |icap AS (
        |  SELECT cand_id, cell FROM (
        |    SELECT vec_id AS cand_id, cent_id AS cell,
        |      ROW_NUMBER() OVER (PARTITION BY cent_id ORDER BY vec_id)
        |        AS crnk
        |    FROM rk WHERE arn = 1) WHERE crnk <= 2000),
        |pr AS (SELECT vec_id AS q_id, cent_id AS ccell FROM rk
        |       WHERE arn <= 2),
        |scored AS (
        |  SELECT p.q_id, i.cand_id,
        |    ROUND(list_sum(list_transform(range(1, 65),
        |        i2 -> qa.embedding[i2]::DOUBLE * ca.embedding[i2]::DOUBLE))
        |      / (qa.nrm * ca.nrm), 6) AS cos_sim
        |  FROM pr p
        |  JOIN icap i ON i.cell = p.ccell AND i.cand_id <> p.q_id
        |  JOIN e qa ON qa.vec_id = p.q_id
        |  JOIN e ca ON ca.vec_id = i.cand_id)
        |SELECT q_id, cand_id, cos_sim FROM (
        |  SELECT q_id, cand_id, cos_sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id
        |                       ORDER BY cos_sim DESC, cand_id) AS rn
        |  FROM scored) WHERE rn = 1 ORDER BY q_id""".stripMargin) {
      (s, dir) =>
      val e = withNorm(t(s, dir, "embeddings"))
      val nVecs = t(s, dir, "embeddings").count()
      // Tier sizing by pure integer shifts both engines replay: fine
      // nlist ≈ sqrt(n) (p² ≥ n, the flat-IVF seeding), coarse
      // ncoarse ≈ sqrt(nlist) (q² ≥ p).
      val fineMod = Vectors.sqrtTier(nVecs, 31)
      val coarseMult = Vectors.sqrtTier(fineMod, 16)
      val fine0 = e.filter(col("vec_id") % fineMod === 0)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent"),
          col("nrm").as("cent_nrm"))
      val coarse = e.filter(col("vec_id") % (fineMod * coarseMult) === 0)
        .select(col("vec_id").as("co_id"), col("embedding").as("co"),
          col("nrm").as("co_nrm"))
      // Routing, both rank stages, inverted file, probes and the top-1
      // rescore: the operator q_ann_ivf_cells uses over its trained
      // centroids. wc = 2 coarse cells probed during assignment.
      Vectors.routedIvf(e, fine0, coarse, wc = 2, ivfNprobe, ivfCellCap)
    },

    // Embedding column statistics per label: count + decimal-stabilized
    // mean of the (rounded) L2 norm. Rounding the per-row norm to 6
    // decimals absorbs any last-ulp association difference; the mean is
    // then an exact decimal sum / count.
    // Symmetric INT8 QUANTIZATION — the storage-compression step of an
    // embedding pipeline (4× smaller vectors for the ANN index): per
    // vector scale = max|x| / 127, q_i = round(x_i / scale); per-label
    // accounting in INTEGERS (abs-sum, saturation count, max cell) so
    // the oracle can't drift on float low bits. Per-row lambda over the
    // array — no shuffle beyond the accounting groupBy; the double
    // division and HALF-UP round are bit-identical in both engines.
    q("q_embed_quantize",
      """WITH q AS (
        |  SELECT label,
        |    list_transform(embedding, x -> CAST(round(
        |      x::DOUBLE / (list_max(list_transform(embedding,
        |                     y -> abs(y::DOUBLE))) / 127)) AS INTEGER)) AS qv
        |  FROM embeddings)
        |SELECT label, COUNT(*) AS n_vecs,
        |  CAST(SUM(list_sum(list_transform(qv, x -> abs(x)))) AS BIGINT)
        |    AS q_abs_sum,
        |  CAST(SUM(len(list_filter(qv, x -> abs(x) = 127))) AS BIGINT)
        |    AS n_saturated,
        |  MAX(list_max(qv)) AS max_q
        |FROM q GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
      t(s, dir, "embeddings")
        .withColumn("scale", expr(
          "array_max(transform(embedding, y -> abs(cast(y as double)))) / 127"))
        .withColumn("qv", expr(
          "transform(embedding, x -> cast(round(cast(x as double) / scale)" +
            " as int))"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(expr("aggregate(qv, 0L, (a, x) -> a + abs(x))")).cast("long")
            .as("q_abs_sum"),
          sum(size(expr("filter(qv, x -> abs(x) = 127)"))).cast("long")
            .as("n_saturated"),
          max(expr("array_max(qv)")).as("max_q"))
        .orderBy("label")
    },

    q("q_embed_stats",
      """SELECT label, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(ROUND(sqrt(list_sum(list_transform(embedding,
        |         x -> x::DOUBLE * x::DOUBLE))), 6) AS DECIMAL(18,6)))
        |       AS DOUBLE) / COUNT(*) AS avg_norm
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
      withNorm(t(s, dir, "embeddings"))
        .groupBy("label")
        .agg(count(lit(1)).as("cnt"),
          (sum(round(col("nrm"), 6).cast("decimal(18,6)")).cast("double")
            / count(lit(1))).as("avg_norm"))
        .orderBy("label")
    },

    // Johnson-Lindenstrauss RANDOM PROJECTION: 64-dim embeddings down to
    // 8 signed-sum coordinates — the standard pre-step before ANN /
    // clustering at 100 TB (pairwise distances preserved to ~1/√m;
    // every downstream pass reads 8× less). The ±1 sign matrix derives
    // from the portable md5 hash (same definition as T.h60), computed
    // ONCE driver-side and embedded as plan literals: per-row work is a
    // zip_with multiply + integer fold per target dim inside whole-stage
    // codegen — no per-row hashing, no shuffle, nothing driver-side at
    // run time. The oracle re-derives the identical matrix from md5 in
    // SQL, so matrix determinism is itself oracle-proven. Components
    // quantize to integer millesimals first: all sums are exact BIGINT
    // math, bit-identical across engines (SimilaritySpec asserts the
    // distance-preservation law and partitioning invariance).
    q("q_embed_project",
      s"""SELECT vec_id,
        |        ${jlOracleDims(8,
             "CAST(round(embedding[i]::DOUBLE * 1000) AS BIGINT)")}
        |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, dir) =>
      t(s, dir, "embeddings")
        .withColumn("qv",
          expr("transform(embedding, x -> cast(round(x * 1000d) as bigint))"))
        .select(col("vec_id") +: jlProjCols(8): _*)
        .orderBy("vec_id")
    },

    // Two-stage JL ANN: coarse top-50 by PROJECTED integer L2² (the
    // corpus scan touches only vec_id + 16 BIGINTs — the 64-float
    // embedding never rides the coarse stage, unlike the int8 variant
    // above), then the tiny survivor set re-joins `embeddings` BY ID
    // for the exact cosine rerank. That deferred re-join is the 100 TB
    // shape: coarse bandwidth drops 4×, and the exact pass reads ~80
    // vectors per query instead of the corpus. Vectors are NORMALIZED
    // before quantization so projected L2² is monotone with cosine
    // (unnormalized JL preserves raw L2, the wrong order for a cosine
    // rerank). Both stages are exact deterministic arithmetic over the
    // md5-derived matrix, so — unlike the hyperplane-LSH / IVF variants
    // (xxhash64, rows-only) — the ENTIRE two-stage pipeline is
    // oracle-checked, coarse cut included. Measured recall vs the exact
    // top-3: 0.73 at sf0.01 (SimilaritySpec floors it at 0.5 on the
    // smaller sf0.001 corpus): this synthetic corpus is near-isotropic,
    // so true neighbors sit closer than JL's 1/√m noise floor —
    // clustered real embeddings separate far better; raise m toward
    // 32-48 (still <d) when recall must be tighter.
    q("q_ann_jl_rerank", {
      val pdSql = (0 until 16)
        .map(j => s"(q.p$j-c.p$j)*(q.p$j-c.p$j)")
        .grouped(2).map(_.mkString(" + ")).mkString(" +\n    ")
      s"""WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
        |      AS nrm
        |  FROM embeddings),
        |proj AS (
        |  SELECT vec_id,
        |        ${jlOracleDims(16,
               "CAST(round(embedding[i]::DOUBLE / nrm * 1000) AS BIGINT)")}
        |  FROM e),
        |coarse AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
        |    $pdSql AS pd2
        |  FROM proj q JOIN proj c
        |    ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
        |cand AS (
        |  SELECT q_id, cand_id FROM (
        |    SELECT q_id, cand_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |        ORDER BY pd2, cand_id) AS rc
        |    FROM coarse) WHERE rc <= 80)
        |SELECT q_id, rn, cand_id, cos_sim FROM (
        |  SELECT q_id, cand_id, cos_sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id
        |                       ORDER BY cos_sim DESC, cand_id) AS rn
        |  FROM (SELECT t.q_id, t.cand_id,
        |      ROUND(list_sum(list_transform(range(1, len(qe.embedding) + 1),
        |          i -> qe.embedding[i]::DOUBLE * ce.embedding[i]::DOUBLE))
        |        / (qe.nrm * ce.nrm), 6) AS cos_sim
        |    FROM cand t JOIN e qe ON qe.vec_id = t.q_id
        |                 JOIN e ce ON ce.vec_id = t.cand_id))
        |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin
    }) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val proj = withNorm(e)
        .withColumn("qv",
          expr("transform(embedding," +
            " x -> cast(round(x / nrm * 1000d) as bigint))"))
        .select(col("vec_id") +: jlProjCols(16): _*)
      val qs = broadcast(proj.filter(col("vec_id") < 5).select(
        col("vec_id").as("q_id") +:
          (0 until 16).map(j => col(s"p$j").as(s"qp$j")): _*))
      val pd2 = (0 until 16).map { j =>
        val d = col(s"qp$j") - col(s"p$j")
        d * d
      }.reduce(_ + _)
      val wCoarse = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("pd2"), col("cand_id"))
      val cand = qs
        .join(proj.withColumnRenamed("vec_id", "cand_id"),
          col("cand_id") =!= col("q_id"))
        .withColumn("pd2", pd2)
        .withColumn("rc", row_number().over(wCoarse))
        .filter(col("rc") <= 80)
        .select("q_id", "cand_id")
      val en = withNorm(e)
      val qe = broadcast(en.filter(col("vec_id") < 5).select(
        col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("nrm").as("qn")))
      val ce = en.select(col("vec_id").as("cand_id"),
        col("embedding").as("ce"), col("nrm").as("cn"))
      val wExact = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("cos_sim").desc, col("cand_id"))
      cand.join(ce, "cand_id").join(qe, "q_id")
        .withColumn("cos_sim", cos6("qe", "qn", "ce", "cn"))
        .withColumn("rn", row_number().over(wExact))
        .filter(col("rn") <= 3)
        .select("q_id", "rn", "cand_id", "cos_sim")
        .orderBy("q_id", "rn")
    },

    // K-MEANS CLUSTERING (Lloyd's), oracle-checked — the twin of the
    // IVF trainer above with one twist that makes it bit-verifiable
    // across engines: embeddings are QUANTIZED to integer millesimals
    // (round(x*1000)) and every distance / centroid update runs in
    // exact integer math (centroid dims = floor(sum/n)), so assignment
    // decisions can never drift on float low bits. Init = the k lowest
    // vec_ids (deterministic, no RNG); 3 assign→update rounds + a final
    // assignment. Scale (100 TB): the k×d centroid relation rides a
    // broadcast into every assignment pass (the corpus never shuffles
    // for assignment); the update is one posexplode + (cid, dim)
    // groupBy whose cardinality is k×d, not corpus-sized; per-round
    // lineage is cut by localCheckpoint. Quantized training is itself
    // the scale move (4-8× less memory bandwidth than f32).
    q("q_cluster_kmeans", {
      val dist = (e: String, c: String) =>
        s"list_sum(list_transform(range(1, 65), i -> ($e.q[i] - $c.c[i]) * ($e.q[i] - $c.c[i])))"
      val assignSql = (a: String, prev: String) =>
        s"""$a AS (SELECT vec_id, q, cid, d FROM (
           |  SELECT vec_id, q, cid, d,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
           |  FROM (SELECT e.vec_id, e.q, c.cid, ${dist("e", "c")} AS d
           |        FROM emb e CROSS JOIN $prev c)) WHERE rn = 1)""".stripMargin
      val updateSql = (c: String, a: String) =>
        s"""$c AS (SELECT cid, list(cv ORDER BY i) AS c FROM (
           |  SELECT cid, i,
           |    CAST(floor(CAST(SUM(q[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
           |  FROM $a, range(1, 65) t(i) GROUP BY cid, i) GROUP BY cid)""".stripMargin
      s"""WITH emb AS (
         |  SELECT vec_id,
         |    list_transform(embedding,
         |      x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
         |  FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, q AS c FROM emb WHERE vec_id < 4),
         |${assignSql("a1", "c0")},
         |${updateSql("c1", "a1")},
         |${assignSql("a2", "c1")},
         |${updateSql("c2", "a2")},
         |${assignSql("a3", "c2")},
         |${updateSql("c3", "a3")},
         |${assignSql("a4", "c3")}
         |SELECT cid AS cluster_id, COUNT(*) AS n_members,
         |  CAST(SUM(vec_id) AS BIGINT) AS id_checksum,
         |  CAST(SUM(d) AS BIGINT) AS inertia
         |FROM a4 GROUP BY cid ORDER BY cid""".stripMargin
    }) { (s, dir) =>
      // Assignment distance: the integer-exact Vectors.sqL2, bit-equal
      // to the oracle's Σ(x−y)².
      val emb = Vectors.quantized(t(s, dir, "embeddings"), "vec_id")
        .transform(T.scratch) // scanned by 4 assignment passes
      def assign(cent: org.apache.spark.sql.DataFrame) =
        emb.crossJoin(broadcast(cent))
          .withColumn("d", sqL2("qd", "en", "cd", "cn"))
          // argmin via min(struct): map-side combining, no sort window.
          // The 64-long q array rides through as first() instead of
          // being part of the grouping key (hashing a 512-byte array
          // key per row measured slower than carrying it as a value).
          .groupBy("vec_id")
          .agg(min(struct(col("d"), col("cid"))).as("best"),
            first(col("q")).as("q"))
          .select(col("vec_id"), col("q"),
            col("best.cid").as("cid"), col("best.d").as("d"))
      def withCd(c: org.apache.spark.sql.DataFrame) = c
        .withColumn("cd", col("c").cast("array<double>"))
        .withColumn("cn", dot("cd", "cd"))
      var cent = withCd(emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("q").as("c")))
      for (_ <- 1 to 3) {
        cent = withCd(assign(cent)
          .select(col("cid"), posexplode(col("q")))
          .groupBy("cid", "pos")
          .agg(sum("col").as("sv"), count(lit(1)).as("n"))
          .withColumn("cv",
            expr("cast(floor(cast(sv as double) / n) as bigint)"))
          .groupBy("cid")
          .agg(expr(
            "transform(sort_array(collect_list(struct(pos, cv))), x -> x.cv)")
            .as("c"))
          .transform(T.scratch)) // k rows; flattens the next round's plan
      }
      assign(cent)
        .groupBy(col("cid").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("vec_id")).cast("long").as("id_checksum"),
          sum(col("d")).cast("long").as("inertia"))
        .orderBy("cluster_id")
    },

    // SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023): coarse-cluster the
    // embedding space, then prune near-duplicates ONLY within each
    // cluster — the quadratic step is confined to cells, never the
    // corpus. Same integer-exact quantized math as q_cluster_kmeans;
    // the cosine threshold τ=0.4 (calibrated: max pairwise cosine in
    // this corpus is ~0.51) compares as 25·dot² ≥ 4·|a|²·|b|² in
    // DECIMAL(38,0) — exact, no float boundary. Drop rule: a vector is
    // dropped when a LOWER-id vector in its cell clears τ
    // (deterministic keep-first; the greedy sequential variant would
    // keep slightly more — see scaladoc note). Output: per-label
    // survivor accounting.
    //
    // CELL COUNT SCALES WITH THE CORPUS — the round-15 shape fix. The
    // original k=4 CONSTANT cells meant cell size n/4 and pair count
    // n²/8: fine at bench SF (5k vectors → 3M pairs), 5.6e11 pairs at
    // sf30 (1.5M vectors) — the measured cause of the round-12 sf30
    // chunk-budget blowout (26 min in a DEDICATED JVM before being
    // killed). Now k = max(4, n div 1250): cell size stays ~1250, pair
    // work is ~625·n — LINEAR. Assignment to k centroids is routed
    // through ceil(k/64) COARSE centroids (every 64th seed), wc=2
    // probed — the same IMI-style tier as q_ann_ivf_hier, all integer
    // distances so no rounding gate is needed. At bench SF the formula
    // gives k=4 → ONE coarse cell → every fine centroid is a
    // candidate → the assignment is EXACTLY the old argmin (results
    // and oracle hashes at sf0.01/sf0.1 unchanged by construction).
    q("q_dedup_semantic", semDedupOracleSql) { (s, dir) =>
      val cells = semDedupCells(s, dir)
      def withQd(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("qd", col("q").cast("array<double>"))
      val a = withQd(cells).select(col("cid"), col("vec_id").as("a_id"),
        col("qd").as("qa"), col("nn").as("na"))
      val b = withQd(cells).select(col("cid"), col("vec_id").as("b_id"),
        col("qd").as("qb"), col("nn").as("nb"))
      // Within-cell pairs only: the join key is the cell id, so the
      // shuffle moves each vector once per side; with k ~ n/1250 the
      // per-cell blow-up is a CONSTANT ~1250²/2, total pair work ~625·n.
      val dropped = a.join(b, "cid").filter(col("a_id") < col("b_id"))
        .withColumn("dt", dot("qa", "qb").cast("long"))
        .filter(col("dt") > 0 &&
          lit(25) * col("dt").cast("decimal(38,0)") * col("dt") >=
            lit(4) * col("na").cast("decimal(38,0)") * col("nb"))
        .select(col("b_id").as("dv")).distinct()
      cells.join(broadcast(dropped), col("vec_id") === col("dv"), "left")
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("dv").isNull, 1).otherwise(0)).cast("long")
            .as("n_kept"),
          sum(coalesce(col("dv"), lit(0L))).cast("long")
            .as("dropped_checksum"))
        .orderBy("label")
    },

    // SEMANTIC DECONTAMINATION (embedding-space): flag every corpus
    // vector whose cosine against ANY eval-benchmark vector reaches
    // 0.3 — the embedding-side complement of the n-gram
    // (q_decontam_ngram) and exact-substring (q_decontam_substring)
    // decontaminations: paraphrased eval leakage that shares no
    // surface n-grams still lands nearby in embedding space. The eval
    // set is a literal-id filter (vec_id < 16 — a benchmark is a
    // fixed, KB-sized artifact however large the corpus grows), so it
    // broadcasts; the corpus streams through ONE scan, the per-
    // (vector, eval) cosine tests fold into a per-vector max by a
    // map-side-combined aggregate (16 rows collapse to 1 before the
    // shuffle, which carries ~16 bytes/vector), and the output is
    // |labels| rows. Same exact integer math as q_dedup_semantic:
    // quantize once to 1e-3 units, compare 100·dt² >= 9·|a|²·|b|²
    // (cos >= 3/10) in wide-integer space (decimal(38,0) here,
    // HUGEINT in the oracle) — no float threshold to drift between
    // engines.
    q("q_decontam_semantic",
      """WITH e AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding,
        |      x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |n AS (SELECT vec_id, label, q,
        |        list_sum(list_transform(q, x -> x * x)) AS nn FROM e),
        |ev AS (SELECT q AS eq, nn AS en FROM n WHERE vec_id < 16),
        |corp AS (SELECT vec_id, label, q, nn FROM n WHERE vec_id >= 16),
        |p AS (
        |  SELECT c.vec_id, c.label, c.nn, e.en,
        |    list_sum(list_transform(range(1, 65),
        |      i -> c.q[i] * e.eq[i])) AS dt
        |  FROM corp c CROSS JOIN ev e),
        |fl AS (
        |  SELECT vec_id, label,
        |    MAX(CASE WHEN dt > 0 AND
        |          100 * CAST(dt AS HUGEINT) * dt >=
        |            9 * CAST(nn AS HUGEINT) * en
        |        THEN 1 ELSE 0 END) AS f
        |  FROM p GROUP BY vec_id, label)
        |SELECT label, COUNT(*) AS n_vecs,
        |  CAST(SUM(f) AS BIGINT) AS n_flagged,
        |  CAST(SUM(CASE WHEN f = 1 THEN vec_id ELSE 0 END) AS BIGINT)
        |    AS flagged_checksum
        |FROM fl GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
      // |q|² is integer-exact in a double (Vectors) — safe as a long.
      val emb = Vectors.quantized(t(s, dir, "embeddings"), "vec_id", "label")
        .withColumn("nn", col("en").cast("long"))
      val ev = broadcast(emb.filter(col("vec_id") < 16)
        .select(col("qd").as("ed"), col("nn").as("en")))
      emb.filter(col("vec_id") >= 16)
        .select(col("vec_id"), col("label"), col("qd"), col("nn"))
        .crossJoin(ev)
        .withColumn("dt", dot("qd", "ed").cast("long"))
        .withColumn("hit", col("dt") > 0 &&
          lit(100) * col("dt").cast("decimal(38,0)") * col("dt") >=
            lit(9) * col("nn").cast("decimal(38,0)") * col("en"))
        .groupBy("vec_id", "label")
        .agg(max(when(col("hit"), 1).otherwise(0)).as("f"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("f")).cast("long").as("n_flagged"),
          sum(when(col("f") === 1, col("vec_id")).otherwise(0L))
            .cast("long").as("flagged_checksum"))
        .orderBy("label")
    },

    // Multimodal frame fan-out: each media item explodes into its
    // sampled frames (sequence 1..n_frames) with deterministic per-frame
    // metadata — the media→frame partitioning pattern of a video
    // pipeline (frame rows, not media blobs, are what shuffles; a real
    // decoder would emit frame tensors from the same mapPartitions batch
    // shape as the stub below).
    q("q_multimodal_frames",
      """SELECT doc_id, CAST(frame AS INT) AS frame,
        |  CAST((doc_id * 131 + frame * 17) % 1000 AS BIGINT) AS frame_sig,
        |  CAST(frame * 40 AS BIGINT) AS ts_ms
        |FROM (SELECT doc_id, unnest(range(1, 1 + n_chars % 10 + 1)) AS frame
        |      FROM documents WHERE doc_id < 15)
        |ORDER BY doc_id, frame""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 15)
        .select(col("doc_id"),
          explode(expr("sequence(1, CAST(1 + n_chars % 10 AS INT))"))
            .as("frame"))
        .select(col("doc_id"), col("frame"),
          ((col("doc_id") * 131 + col("frame") * 17) % 1000).as("frame_sig"),
          (col("frame") * 40).cast("long").as("ts_ms"))
        .orderBy("doc_id", "frame")
    },

    // REAL multimodal header decode (round 11; replaces the round-4
    // q_multimodal_stub that synthesized dims from doc_id arithmetic).
    // sources.MediaBlobs writes a deterministic blob table of REAL BMP
    // and PNG files derived from `documents` (valid headers, zlib
    // IDAT, chunk CRCs — see the generator contract in
    // sources/MediaBlobs.scala); this query then extracts format /
    // width / height / bit-depth / channels FROM THE PAYLOAD BYTES
    // with codegen'd built-ins (hex + substring + conv), handling
    // BMP's little-endian fields and PNG's big-endian IHDR, plus the
    // exact BMP byte accounting (54-byte header + 4-byte-padded BGR
    // rows). The oracle replays the generator's dimension formulas —
    // the check closes the loop decode(generate(dims)) == dims, so a
    // wrong offset, endianness or padding rule on EITHER side fails
    // the hash. MediaBlobsSpec additionally proves this expression
    // path bit-identical to the per-partition ByteBuffer decoder
    // (decodeDims — the one-codec-context-per-partition shape a real
    // library decode uses) which also verifies IHDR CRCs.
    // 100 TB: a scan-local per-row projection over the binary column —
    // no shuffle, no UDF, stays inside whole-stage codegen.
    q("q_multimodal_decode",
      """WITH d AS (SELECT doc_id, doc_id % 41 AS g FROM documents
        |           WHERE doc_id < 64),
        |m AS (
        |  SELECT doc_id,
        |    CASE WHEN g % 2 = 0 THEN 'bmp' ELSE 'png' END AS fmt,
        |    200 + (g * 13) % 800 AS w, 2 + g % 5 AS h,
        |    CASE WHEN g % 2 = 1 AND g % 4 = 1 THEN 1 ELSE 3 END AS ch
        |  FROM d)
        |SELECT doc_id, fmt, CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height, 8 AS bit_depth,
        |  CAST(ch AS INT) AS channels,
        |  CASE WHEN fmt = 'bmp'
        |       THEN CAST(54 + ((3 * w + 3) // 4) * 4 * h AS BIGINT)
        |  END AS bmp_bytes
        |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val store = graft.sources.MediaBlobs.ensureStore(s, dir)
      val blobs = Artifact.read(s, store).filter(col("doc_id") < 64)
      graft.sources.MediaBlobs.withDecoded(blobs)
        .select(col("doc_id"), col("fmt"), col("width"), col("height"),
          col("bit_depth").cast("int").as("bit_depth"), col("channels"),
          when(col("fmt") === "bmp", length(col("payload")).cast("long"))
            .as("bmp_bytes"))
        .orderBy("doc_id")
    },

    // Media-hash exact dedup over the blob table: the binary twin of
    // q_dedup_exact — group the FULL corpus by md5(payload) (one hash
    // shuffle; payloads never compare pairwise), keep min doc_id as
    // canonical, count copies, and carry the decoded dims of the
    // canonical blob. The generator makes payloads byte-identical iff
    // the content seed g = doc_id % 41 matches, so the oracle replays
    // the grouping by seed — if md5-grouping split or merged ANY group
    // differently than byte-equality (wrong hash input, a dims/pixel
    // formula drift between generator and contract), counts and
    // canonicals would diverge. min/max dims double as an
    // all-members-agree check (equal payloads must decode equally).
    q("q_media_dedup",
      """WITH d AS (SELECT doc_id, doc_id % 41 AS g FROM documents),
        |grp AS (
        |  SELECT g, MIN(doc_id) AS canonical_doc, COUNT(*) AS n_copies
        |  FROM d GROUP BY g)
        |SELECT canonical_doc, CAST(n_copies AS BIGINT) AS n_copies,
        |  CASE WHEN g % 2 = 0 THEN 'bmp' ELSE 'png' END AS fmt,
        |  CAST(200 + (g * 13) % 800 AS BIGINT) AS width,
        |  CAST(2 + g % 5 AS BIGINT) AS height
        |FROM grp ORDER BY canonical_doc""".stripMargin) { (s, dir) =>
      val store = graft.sources.MediaBlobs.ensureStore(s, dir)
      val blobs = graft.sources.MediaBlobs.withDecoded(
        Artifact.read(s, store))
      blobs
        .groupBy(md5(col("payload")).as("media_hash"))
        .agg(min(col("doc_id")).as("canonical_doc"),
          count(lit(1)).as("n_copies"),
          min(col("fmt")).as("fmt_min"), max(col("fmt")).as("fmt_max"),
          min(col("width")).as("w_min"), max(col("width")).as("w_max"),
          min(col("height")).as("h_min"), max(col("height")).as("h_max"))
        // identical payloads must decode identically — surface the
        // min (== max) of each decoded field; a disagreement would
        // produce w_min != w_max and hash-mismatch the oracle.
        .select(col("canonical_doc"), col("n_copies"),
          when(col("fmt_min") === col("fmt_max"), col("fmt_min")).as("fmt"),
          when(col("w_min") === col("w_max"), col("w_min")).as("width"),
          when(col("h_min") === col("h_max"), col("h_min")).as("height"))
        .orderBy("canonical_doc")
    },

    // AUDIO modality (round 11, alongside the image decode): a blob
    // table of REAL PCM WAV files (RIFF/fmt/data, LE fields —
    // javax.sound's AudioSystem accepts the bytes, MediaBlobsSpec) is
    // header-decoded with the same codegen'd hex/substring/conv
    // machinery: channels, sample rate, bit depth, data size → exact
    // frame count and integer-microsecond duration (integer `div` end
    // to end; the oracle replays the generator contract in
    // sources/MediaBlobs.wavFor). byte accounting (44 + frames ×
    // block-align) is oracle-checked against the actual payload
    // length. 100 TB: scan-local per-row projection, no shuffle.
    q("q_multimodal_audio",
      """WITH d AS (SELECT doc_id, doc_id % 41 AS g FROM documents
        |           WHERE doc_id < 64),
        |m AS (
        |  SELECT doc_id,
        |    CASE g % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |               WHEN 2 THEN 22050 ELSE 44100 END AS rate,
        |    1 + g % 2 AS ch, 50 + (g * 7) % 200 AS nf
        |  FROM d)
        |SELECT doc_id, 'wav' AS fmt, CAST(ch AS INT) AS channels,
        |  CAST(rate AS BIGINT) AS sample_rate, 16 AS bits,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST((nf * 1000000) // rate AS BIGINT) AS duration_us,
        |  CAST(44 + nf * ch * 2 AS BIGINT) AS wav_bytes
        |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val store = graft.sources.MediaBlobs.ensureAudioStore(s, dir)
      val blobs = Artifact.read(s, store).filter(col("doc_id") < 64)
      graft.sources.MediaBlobs.withAudioDecoded(blobs)
        .select(col("doc_id"), col("fmt"), col("channels"),
          col("sample_rate"), col("bits"), col("n_frames"),
          col("duration_us"),
          length(col("payload")).cast("long").as("wav_bytes"))
        .orderBy("doc_id")
    },

    // PCM frame-sample / feature extraction (the media pipeline's
    // decode-to-features step, with the samples REALLY decoded from
    // the payload bytes): each WAV splits into non-overlapping
    // 25-frame windows and each window reports its integer energy —
    // the sum of |s16 sample| over frames × channels, read from the
    // data chunk by the per-partition ByteBuffer decoder
    // (sources/MediaBlobs.audioFrameEnergy — the
    // one-codec-context-per-partition shape of a real librosa/ffmpeg
    // batch decode). Exact integer energies let the DuckDB oracle
    // replay every sample from the generator contract (nested
    // range/list_transform over frame × channel indices) — a single
    // wrong byte offset, endianness flip or channel interleave error
    // changes some window's energy and hash-mismatches. 100 TB: blobs
    // stay in the scan; only (doc_id, win, energy) rows shuffle.
    q("q_audio_frames",
      """WITH d AS (SELECT doc_id, doc_id % 41 AS g FROM documents
        |           WHERE doc_id < 12),
        |m AS (SELECT doc_id, g, 1 + g % 2 AS ch, 50 + (g * 7) % 200 AS nf
        |      FROM d),
        |w AS (SELECT doc_id, g, ch,
        |        unnest(range(0, nf // 25)) AS win
        |      FROM m)
        |SELECT doc_id, CAST(win AS INT) AS win,
        |  CAST(25 * ch AS BIGINT) AS n_samples,
        |  CAST(list_sum(list_transform(range(win * 25, win * 25 + 25),
        |    i -> list_sum(list_transform(range(0, ch),
        |      c -> abs((i * 13 + c * 7 + g * 31) % 65536 - 32768)))))
        |    AS BIGINT) AS energy
        |FROM w ORDER BY doc_id, win""".stripMargin) { (s, dir) =>
      val store = graft.sources.MediaBlobs.ensureAudioStore(s, dir)
      graft.sources.MediaBlobs.audioFrameEnergy(
          Artifact.read(s, store).filter(col("doc_id") < 12), 25)
        .select(col("doc_id"), col("win").cast("int").as("win"),
          col("n_samples"), col("energy"))
        .orderBy("doc_id", "win")
    },

    // PRODUCT-QUANTIZATION ANN with an ADC scan (round 12 — completes
    // the FAISS family next to the hierarchical IVF / LSH / JL
    // variants; Jégou et al. 2011 "Product Quantization for Nearest
    // Neighbor Search"): 64-dim vectors split into m=8 subspaces of 8
    // dims; each subspace has a k=4 codebook (the seed vectors
    // vec_id < 4, sliced — deterministic, the external-codebook
    // IndexPQ shape); every corpus vector is ENCODED to 8 one-byte
    // codes (argmin subspace L2, ties to the lowest centroid id).
    // Queries (vec_id 4..8) precompute a 32-entry LUT of
    // query-subvector→centroid distances, and the scan computes each
    // candidate's asymmetric distance as Σ_s LUT[s, code_s] — a pure
    // table lookup per subspace, never touching the original floats.
    // Top-5 per query by (adc, id) is then reranked with the exact
    // 64-dim distance (both columns surfaced; all math integer-exact
    // in quantized millesimals, so DuckDB replays encode, LUT, ADC and
    // rerank bit-for-bit).
    // 100 TB shape: THE memory-compression scale move — 8 bytes/vector
    // instead of 256 (32×), so a 100 TB float corpus scans as ~3 TB of
    // codes; the codebook (32 rows) and per-query LUTs (5×32 longs)
    // ride a broadcast, the corpus is scanned once (zip_with/aggregate
    // over a plan-literal-sized LUT array, no shuffle for the scan),
    // and only top-k candidate ids hit the exact-rerank join.
    q("q_ann_pq_adc",
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |cb AS (
        |  SELECT vec_id AS cid, s,
        |    list_transform(range(1, 9), i -> q[s*8 + i]) AS c
        |  FROM emb, range(0, 8) t(s) WHERE vec_id < 4),
        |qs AS (SELECT vec_id AS q_id, q AS qq FROM emb
        |       WHERE vec_id >= 4 AND vec_id < 9),
        |corp AS (SELECT vec_id, q FROM emb WHERE vec_id >= 9),
        |sub AS (
        |  SELECT vec_id, s,
        |    list_transform(range(1, 9), i -> q[s*8 + i]) AS v
        |  FROM corp, range(0, 8) t(s)),
        |enc AS (
        |  SELECT vec_id, s, cid AS code FROM (
        |    SELECT sub.vec_id, sub.s, cb.cid,
        |      row_number() OVER (PARTITION BY sub.vec_id, sub.s
        |        ORDER BY list_sum(list_transform(range(1, 9),
        |          i -> (sub.v[i] - cb.c[i]) * (sub.v[i] - cb.c[i]))),
        |          cb.cid) AS rn
        |    FROM sub JOIN cb ON cb.s = sub.s) WHERE rn = 1),
        |lut AS (
        |  SELECT q.q_id, cb.s, cb.cid,
        |    list_sum(list_transform(range(1, 9),
        |      i -> (q.qq[cb.s*8 + i] - cb.c[i])
        |         * (q.qq[cb.s*8 + i] - cb.c[i]))) AS ld
        |  FROM qs q CROSS JOIN cb),
        |adc AS (
        |  SELECT l.q_id, e.vec_id, CAST(SUM(l.ld) AS BIGINT) AS adc_dist
        |  FROM enc e JOIN lut l ON l.s = e.s AND l.cid = e.code
        |  GROUP BY l.q_id, e.vec_id),
        |top AS (
        |  SELECT q_id, vec_id, adc_dist,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY adc_dist, vec_id) AS rn
        |  FROM adc)
        |SELECT t.q_id, CAST(t.rn AS INT) AS rn, t.vec_id AS cand_id,
        |  t.adc_dist,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    i -> (qs.qq[i] - corp.q[i]) * (qs.qq[i] - corp.q[i])))
        |    AS BIGINT) AS exact_dist
        |FROM top t
        |JOIN qs ON qs.q_id = t.q_id
        |JOIN corp ON corp.vec_id = t.vec_id
        |WHERE t.rn <= 5
        |ORDER BY t.q_id, t.rn""".stripMargin) { (s, dir) =>
      // Integer-exact throughout (Vectors): the encode, LUT and rerank
      // distances are bit-equal to the oracle's Σ(x−y)² folds.
      val emb = Vectors.quantized(t(s, dir, "embeddings"), "vec_id")
      val cb = Vectors.codebook(emb.filter(col("vec_id") < 4), "qd", 0)
      val corp = emb.filter(col("vec_id") >= 9)
      // ENCODE: argmin over the 4 centroids per (vector, subspace), the
      // 8 codes folded to one array<int> per vector.
      val codes = Vectors.encode(Vectors.slices(corp, "qd", "vec_id"), cb)
      // Per-query LUT: 32 longs ordered by s*4+cid, one row per query.
      val qs = pqQueries(emb)
      val lut = Vectors.lut(Vectors.slices(qs, "qv", "q_id"), cb, 4, "q_id")
      // ADC scan: one pass over the code table, LUT lookups only.
      // Final rank — SIZE-ADAPTIVE (TopKAgg.engage, r16 extension of
      // the r15 cutover, VERDICT r15 #6): the scored relation is
      // corpus×queries, and the rank window locally sorts it inside
      // the partial WindowGroupLimit before the q_id exchange — the
      // sort-scratch term the IVF sites measured into sf100 ENOSPC.
      // Above the cutover the bounded top-k aggregate folds it to
      // 5-element buffers map-side; identical rows either way
      // (TopKSpec laws, Round18OpsSpec forced row-set parity).
      val adcScored = codes.crossJoin(lut)
        .withColumn("adc_dist", Vectors.adc(4))
      val top = TopKAgg.perGroup(adcScored, Seq("q_id"),
        Seq("adc_dist" -> Asc, "vec_id" -> Asc), 5, rank = Some("rn"),
        agg = TopKAgg.engage(emb))
        .select(col("q_id"), col("rn").cast("int").as("rn"),
          col("vec_id").as("cand_id"), col("adc_dist"))
      // Exact rerank of the 25 winners: join the original vectors back
      // in by id (top side broadcasts; the corpus never re-shuffles).
      Vectors.withExactDist(top, corp, qs)
        .select("q_id", "rn", "cand_id", "adc_dist", "exact_dist")
        .orderBy("q_id", "rn")
    },

    // PQ with ADC SHORTLIST + EXACT RERANK (round 12 — the production
    // retrieval shape; q_ann_pq_adc above isolates pure ADC
    // semantics): 8-byte codes are a lossy sketch, so ranking by ADC
    // alone is recall-poor on unstructured embeddings (measured 0.20
    // recall@5 here); real systems retrieve a WIDE ADC shortlist and
    // rerank it exactly. This query uses a 16-entry codebook per
    // subspace (vectors 9..24 sliced), takes the ADC top-50 per query,
    // reranks those 50 with the true 64-dim distance, and returns the
    // exact top-5 — measured recall@5 = 0.56 vs brute force on this
    // corpus (spec-floored at 0.4 in Round12OpsSpec), vs 0.20 without
    // the rerank. Production sizing note: FAISS defaults to k=256
    // codes/subspace trained by per-subspace k-means — here k=16
    // untrained keeps the oracle's argmin replay compact; the
    // shortlist/rerank STRUCTURE is what carries to 100 TB (the ADC
    // scan touches 8-byte codes; only shortlist·queries rows ever see
    // floats again).
    q("q_ann_pq_rerank",
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |cb AS (
        |  SELECT vec_id - 9 AS cid, s,
        |    list_transform(range(1, 9), i -> q[s*8 + i]) AS cv
        |  FROM emb, range(0, 8) t(s) WHERE vec_id >= 9 AND vec_id < 25),
        |qs AS (SELECT vec_id AS q_id, q AS qq FROM emb
        |       WHERE vec_id >= 4 AND vec_id < 9),
        |corp AS (SELECT vec_id, q FROM emb WHERE vec_id >= 9),
        |sub AS (
        |  SELECT vec_id, s,
        |    list_transform(range(1, 9), i -> q[s*8 + i]) AS v
        |  FROM corp, range(0, 8) t(s)),
        |enc AS (
        |  SELECT vec_id, s, cid AS code FROM (
        |    SELECT sub.vec_id, sub.s, cb.cid,
        |      row_number() OVER (PARTITION BY sub.vec_id, sub.s
        |        ORDER BY list_sum(list_transform(range(1, 9),
        |          i -> (sub.v[i] - cb.cv[i]) * (sub.v[i] - cb.cv[i]))),
        |          cb.cid) AS rn
        |    FROM sub JOIN cb ON cb.s = sub.s) WHERE rn = 1),
        |lut AS (
        |  SELECT q.q_id, cb.s, cb.cid,
        |    list_sum(list_transform(range(1, 9),
        |      i -> (q.qq[cb.s*8 + i] - cb.cv[i])
        |         * (q.qq[cb.s*8 + i] - cb.cv[i]))) AS ld
        |  FROM qs q CROSS JOIN cb),
        |adc AS (
        |  SELECT l.q_id, e.vec_id, CAST(SUM(l.ld) AS BIGINT) AS adc_dist
        |  FROM enc e JOIN lut l ON l.s = e.s AND l.cid = e.code
        |  GROUP BY l.q_id, e.vec_id),
        |short AS (
        |  SELECT q_id, vec_id, adc_dist FROM (
        |    SELECT q_id, vec_id, adc_dist,
        |      row_number() OVER (PARTITION BY q_id
        |        ORDER BY adc_dist, vec_id) AS rn
        |    FROM adc) WHERE rn <= 50),
        |rer AS (
        |  SELECT sh.q_id, sh.vec_id, sh.adc_dist,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (qs.qq[i] - c.q[i]) * (qs.qq[i] - c.q[i])))
        |      AS BIGINT) AS exact_dist
        |  FROM short sh
        |  JOIN qs ON qs.q_id = sh.q_id
        |  JOIN corp c ON c.vec_id = sh.vec_id)
        |SELECT q_id, CAST(rn AS INT) AS rn, vec_id AS cand_id,
        |  adc_dist, exact_dist
        |FROM (
        |  SELECT q_id, vec_id, adc_dist, exact_dist,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY exact_dist, vec_id) AS rn
        |  FROM rer) WHERE rn <= 5
        |ORDER BY q_id, rn""".stripMargin) { (s, dir) =>
      val emb = Vectors.quantized(t(s, dir, "embeddings"), "vec_id")
      val cb = Vectors.codebook(
        emb.filter(col("vec_id") >= 9 && col("vec_id") < 25), "qd", 9)
      val corp = emb.filter(col("vec_id") >= 9)
      val codes = Vectors.encode(Vectors.slices(corp, "qd", "vec_id"), cb)
      val qs = pqQueries(emb)
      val lut = Vectors.lut(Vectors.slices(qs, "qv", "q_id"), cb, 16, "q_id")
      // ADC shortlist rank — SIZE-ADAPTIVE (TopKAgg.engage, r16,
      // VERDICT r15 #6; see q_ann_pq_adc's note — same corpus×queries
      // expansion, k=50). The exact-rerank window below stays a
      // window: its input is shortlist·queries rows (250 here, 50·|q|
      // at any scale) — model-sized by construction.
      val shortScored = codes.crossJoin(lut)
        .withColumn("adc_dist", Vectors.adc(16))
      val short = TopKAgg.perGroup(shortScored, Seq("q_id"),
        Seq("adc_dist" -> Asc, "vec_id" -> Asc), 50,
        agg = TopKAgg.engage(emb))
        .select(col("q_id"), col("vec_id").as("cand_id"), col("adc_dist"))
      // Exact rerank of the 250 shortlist rows; the corpus side joins
      // by id (shortlist broadcasts), floats touched only here.
      val wExact = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("exact_dist"), col("cand_id"))
      Vectors.withExactDist(short, corp, qs)
        .withColumn("rn", row_number().over(wExact).cast("int"))
        .filter(col("rn") <= 5)
        .select("q_id", "rn", "cand_id", "adc_dist", "exact_dist")
        .orderBy("q_id", "rn")
    },

    // IVF-PQ (round 12 — the FAISS workhorse index, composing the
    // coarse-cell IVF idea with the PQ codes above; Jégou et al. 2011
    // §IV): corpus vectors are assigned to their nearest coarse cell
    // (4 cells = the seed vectors), the RESIDUAL vector (v − cell
    // centroid) is what gets PQ-encoded (residuals are smaller than
    // raw vectors, so the same code budget quantizes finer — the whole
    // point of the combination), against a codebook shared across
    // cells (the residuals of vectors 9..12 — the external-codebook
    // stance of q_ann_pq_adc). A query probes its nprobe=2 nearest
    // cells and builds ONE LUT PER PROBED CELL over its per-cell
    // residual (q − cell centroid), so the ADC lookup inside a cell is
    // exactly the PQ scan; candidates outside probed cells are never
    // touched. Top-5 by (adc, id) + exact rerank, all integer-exact
    // and bit-replayed by the oracle.
    // 100 TB shape: the index IS the scale story — 8 bytes/vector of
    // codes partitioned BY CELL, so a query reads nprobe/nlist of the
    // corpus (cell-partition pruning) and scans codes with broadcast
    // LUTs (an equi-join on cell_id, no BNLJ on the corpus side);
    // cells, codebook and LUTs are all model-sized broadcasts.
    q("q_ann_ivfpq", ivfpqOracleSql) { (s, dir) =>
      // Integer-exact throughout (Vectors; residuals ≤ 8000, LUT terms
      // ≤ 16000): every distance is bit-equal to the oracle's Σ(x−y)².
      // The codebook is sliced from the corpus residuals here, so this
      // statement composes the operators itself rather than reading
      // IvfPqIndex's model frames (whose codebook filter sits lower).
      val emb = Vectors.quantized(t(s, dir, "embeddings"), "vec_id")
      val cellsB = broadcast(emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cell_id"), col("qd").as("cd"),
          col("en").as("cn")))
      val corp = emb.filter(col("vec_id") >= 9)
      val res = Vectors.assignResidual(corp, cellsB)
      // Shared residual codebook: residuals of vectors 9..12, sliced.
      val cb = Vectors.codebook(
        res.filter(col("vec_id") >= 9 && col("vec_id") < 13), "rd", 9)
      val codes = Vectors.encode(
        Vectors.slices(res, "rd", "vec_id", "cell_id"), cb, "cell_id")
      // nprobe=2 cells per query, then one LUT per (query, cell) over
      // the query's per-cell residual.
      val qs = pqQueries(emb)
      val probe = Vectors.probeResiduals(qs, cellsB, 2)
      val lut = Vectors.lut(Vectors.slices(probe, "qr", "q_id", "cell_id"),
        cb, 4, "q_id", "cell_id")
      // ADC scan: equi-join the code table to the probed-cell LUTs on
      // cell_id — the cell-partition pruning shape — then pure lookups.
      // Final rank — SIZE-ADAPTIVE (TopKAgg.engage, r16, VERDICT r15
      // #6; q_ann_pq_adc's note): nprobe/nlist of corpus × queries.
      // cell_id is carried, never ordered — vec_id is unique per group.
      val adcScored = codes.join(lut, "cell_id")
        .withColumn("adc_dist", Vectors.adc(4))
      val top = TopKAgg.perGroup(adcScored, Seq("q_id"),
        Seq("adc_dist" -> Asc, "vec_id" -> Asc), 5, carry = Seq("cell_id"),
        rank = Some("rn"), agg = TopKAgg.engage(emb))
        .select(col("q_id"), col("rn").cast("int").as("rn"),
          col("vec_id").as("cand_id"), col("cell_id"), col("adc_dist"))
      Vectors.withExactDist(top, corp, qs)
        .select("q_id", "rn", "cand_id", "cell_id", "adc_dist",
          "exact_dist")
        .orderBy("q_id", "rn")
    },

    // IVF-PQ from a PERSISTED index (round 12): the production "build
    // once, query many" shape — sources/IvfPqIndex materializes the
    // expensive steps (coarse assignment + residual encode) as parquet
    // tables, with the code table PARTITIONED BY cell_id; the search
    // then (1) probes the 2 nearest cells from the 4-row cells table,
    // (2) routes driver-side (≤4 cell ids — model-sized, the ANN
    // service's probe scheduler), (3) reads ONLY the probed cells'
    // partitions of the code table (PartitionFilters in the plan,
    // asserted in Round12OpsSpec), (4) scans codes with broadcast
    // LUTs and reranks the top-5 exactly. Answers are identical to
    // q_ann_ivfpq — one oracle replays both, so the artifact
    // round-trip (build → parquet → read → search) is hash-gated.
    // Retrieval-quality note: q_ann_ivfpq and this index rank by raw
    // ADC (the k=4 codebooks keep the oracle compact but quantize
    // coarsely — recall@5 ≈ 0 on this corpus); production retrieval
    // composes the index with the ADC-shortlist + exact-rerank of
    // q_ann_pq_rerank (recall@5 0.56 measured there, spec-floored).
    // 100 TB: a query touches nprobe/nlist of a BYTES table instead
    // of the float corpus — partition pruning × 32× compression.
    q("q_ann_ivfpq_index", ivfpqOracleSql) { (s, dir) =>
      ivfpqIndexSearch(s, dir, graft.sources.IvfPqIndex.ensure(s, dir))
    },

    // IVF-PQ search over the INCREMENTALLY-MAINTAINED index (round 14
    // — the delta-append directive): sources/IvfPqIndex
    // .ensureIncremental builds the base code table from the standing
    // corpus (vec_id % 10 != 7, the ensureLshIndex split), then
    // APPENDS the batch's codes — encoded under the FROZEN on-disk
    // model tables, never recomputing them — as new files inside the
    // existing cell_id partitions. Because residual-PQ encoding is
    // per-row deterministic given a frozen model, base ∪ delta is
    // row-identical to a from-scratch rebuild (Round14OpsSpec proves
    // set equality against `ensure`'s table), so the SAME oracle
    // hash-gates all three ivfpq variants; the search plan is the
    // q_ann_ivfpq_index plan verbatim — probe cost is untouched by
    // maintenance mode (still reads only probed cell partitions).
    // 100 TB: a daily append costs one pass over the BATCH (not the
    // corpus) — the amortization that makes a persisted ANN index
    // operable, completing the posture q_dedup_incremental_neardup
    // established for the LSH index.
    q("q_ann_ivfpq_delta", ivfpqOracleSql) { (s, dir) =>
      ivfpqIndexSearch(s, dir,
        graft.sources.IvfPqIndex.ensureIncremental(s, dir))
    },


    // Image RESIZE over the real BMP pixel bytes (round 12 — the brief's
    // decode / feature-extract / RESIZE / frame-sample quartet had
    // everything but this step): nearest-neighbor 8×2 thumbnails are
    // materialized from the bottom-up 4-byte-padded BGR rows
    // (sources/MediaBlobs.resizeBmpThumb), then summarized as exact
    // per-channel sums plus a position-weighted checksum that any
    // BGR/RGB swap, row-order or padding slip would change. The oracle
    // replays the NN source-index mapping (sx = xd*w div 8,
    // sy = yd*h div 2) against the generator pixel contract — so the
    // check closes the loop resize(decode(generate)) == formula.
    // 100 TB: per-row map over the blob column, no shuffle; only the
    // 48-byte thumbnails are new bytes.
    q("q_image_resize",
      """WITH d AS (SELECT doc_id, doc_id % 41 AS g FROM documents
        |           WHERE doc_id < 64 AND (doc_id % 41) % 2 = 0),
        |m AS (SELECT doc_id, g, 200 + (g * 13) % 800 AS w, 2 + g % 5 AS h
        |      FROM d),
        |px AS (SELECT doc_id, g, w, h, unnest(range(0, 16)) AS idx FROM m),
        |v AS (SELECT doc_id, idx, g,
        |        ((idx % 8) * w) // 8 AS sx, ((idx // 8) * h) // 2 AS sy
        |      FROM px)
        |SELECT doc_id, CAST(8 AS INT) AS out_w, CAST(2 AS INT) AS out_h,
        |  CAST(SUM((sx + 7*sy + g) % 251) AS BIGINT) AS sum_r,
        |  CAST(SUM((sx + 7*sy + 11 + g) % 251) AS BIGINT) AS sum_g,
        |  CAST(SUM((sx + 7*sy + 22 + g) % 251) AS BIGINT) AS sum_b,
        |  CAST(SUM(
        |    ((sx + 7*sy + g) % 251) * (idx*3 + 1) +
        |    ((sx + 7*sy + 11 + g) % 251) * (idx*3 + 2) +
        |    ((sx + 7*sy + 22 + g) % 251) * (idx*3 + 3)) AS BIGINT)
        |    AS checksum
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val store = graft.sources.MediaBlobs.ensureStore(s, dir)
      graft.sources.MediaBlobs.resizeBmpThumb(
          Artifact.read(s, store).filter(col("doc_id") < 64), 8, 2)
        .orderBy("doc_id")
    },

    // VIDEO modality (round 12 — completes the image/audio/video triple
    // of the north-star brief): a blob table of REAL YUV4MPEG2 streams
    // (the mjpegtools Y4M container: ASCII stream header, "FRAME\n"
    // markers, raw Cmono luma planes — ffmpeg/mpv accept the bytes) is
    // header-decoded with codegen'd built-ins. Y4M's header is TEXT, so
    // the parse is the third decode family after BMP/PNG's binary
    // endian fields and WAV's RIFF chunks: US-ASCII-decode a bounded
    // prefix, cut at the first newline, regexp the W/H/F/C tagged
    // fields out. Frame count is recovered from container byte
    // accounting ((total − header) / (6 + w*h)), duration from exact
    // integer division, and the oracle replays the generator contract
    // in sources/MediaBlobs.y4mFor INCLUDING the variable header length
    // (32 + the decimal digit counts of w/h/fps) — a wrong field
    // regexp, marker size, or plane-size formula on either side breaks
    // the hash. 100 TB: scan-local per-row projection, no shuffle.
    q("q_multimodal_video",
      """WITH d AS (SELECT doc_id, doc_id % 41 AS g FROM documents
        |           WHERE doc_id < 64),
        |m AS (
        |  SELECT doc_id, 16 + (g * 5) % 48 AS w, 8 + g % 8 AS h,
        |    CASE g % 4 WHEN 0 THEN 24 WHEN 1 THEN 25
        |               WHEN 2 THEN 30 ELSE 60 END AS fps,
        |    4 + (g * 3) % 12 AS nf
        |  FROM d)
        |SELECT doc_id, 'y4m' AS fmt, CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height, CAST(fps AS INT) AS fps,
        |  'mono' AS colorspace, CAST(nf AS BIGINT) AS n_frames,
        |  CAST((nf * 1000) // fps AS BIGINT) AS duration_ms,
        |  CAST(32 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
        |       + length(CAST(fps AS VARCHAR)) + nf * (6 + w * h)
        |    AS BIGINT) AS y4m_bytes
        |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val store = graft.sources.MediaBlobs.ensureVideoStore(s, dir)
      val blobs = Artifact.read(s, store).filter(col("doc_id") < 64)
      graft.sources.MediaBlobs.withVideoDecoded(blobs)
        .select(col("doc_id"), col("fmt"), col("width"), col("height"),
          col("fps"), col("colorspace"), col("n_frames"),
          col("duration_ms"),
          length(col("payload")).cast("long").as("y4m_bytes"))
        .orderBy("doc_id")
    },

    // Video frame-sample + per-frame feature extraction, with the luma
    // planes REALLY decoded from the payload bytes: every 2nd frame of
    // each Y4M stream emits its integer luma sum, plus the total
    // absolute luma delta vs the previous SAMPLED frame — the
    // frame-differencing signal a scene-cut detector thresholds (null
    // for the first sample, exactly like the oracle's CASE). The
    // per-partition ByteBuffer decoder (sources/MediaBlobs
    // .videoFrameFeatures) addresses frame t at header_len +
    // t*(6 + w*h) + 6, so a single wrong marker size, row-major
    // ordering or stride slip changes some frame's sum and
    // hash-mismatches the oracle's per-pixel replay (nested
    // range/list_transform over x × y from the generator contract).
    // 100 TB: blobs stay in the scan; only (doc_id, frame, luma_sum,
    // delta_prev) rows shuffle — the media→frame fan-out pattern of a
    // real video pipeline with the decode step genuine.
    q("q_video_frames",
      """WITH d AS (SELECT doc_id, doc_id % 41 AS g FROM documents
        |           WHERE doc_id < 12),
        |m AS (SELECT doc_id, g, 16 + (g * 5) % 48 AS w, 8 + g % 8 AS h,
        |        4 + (g * 3) % 12 AS nf
        |      FROM d),
        |f AS (SELECT doc_id, g, w, h, unnest(range(0, nf, 2)) AS t
        |      FROM m)
        |SELECT doc_id, CAST(t AS INT) AS frame,
        |  CAST(list_sum(list_transform(range(0, h), y ->
        |    list_sum(list_transform(range(0, w), x ->
        |      (x + 3*y + 5*t + g) % 251)))) AS BIGINT) AS luma_sum,
        |  CASE WHEN t >= 2 THEN
        |    CAST(list_sum(list_transform(range(0, h), y ->
        |      list_sum(list_transform(range(0, w), x ->
        |        abs((x + 3*y + 5*t + g) % 251
        |          - (x + 3*y + 5*(t-2) + g) % 251))))) AS BIGINT)
        |  END AS delta_prev
        |FROM f ORDER BY doc_id, frame""".stripMargin) { (s, dir) =>
      val store = graft.sources.MediaBlobs.ensureVideoStore(s, dir)
      graft.sources.MediaBlobs.videoFrameFeatures(
          Artifact.read(s, store).filter(col("doc_id") < 12), 2)
        .select(col("doc_id"), col("frame"), col("luma_sum"),
          col("delta_prev"))
        .orderBy("doc_id", "frame")
    },

    // MMR-DIVERSIFIED retrieval (round 13): maximal marginal relevance
    // over the ANN shortlist — the standard diversification step of a
    // retrieval/curation pipeline (pick results RELEVANT to the query
    // but not redundant with each other; the greedy
    // argmax λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s) of Carbonell &
    // Goldstein 1998). Everything is bit-exact integer math: embeddings
    // quantize to round(x*1000) BIGINTs (the IVF-PQ convention), sims
    // are integer inner products through the codegen'd dot_f kernel,
    // and λ=0.7 scales to score = 7·dq − 3·maxSel (×10) — no float
    // drift at selection boundaries, ties broken by cand_id. k=4
    // selections unroll as explicit rounds (the k-means/BPE unrolled-
    // iteration oracle pattern); the oracle replays shortlist, pairwise
    // dots and every greedy round as CTEs. 100 TB: the corpus pays ONE
    // broadcast-probe scan feeding WindowGroupLimit top-8 per query;
    // the greedy runs on shortlist-sized frames (8 rows/query), so
    // diversification cost is O(queries·k·shortlist) — independent of
    // corpus size.
    q("q_ann_mmr_rerank",
      """WITH e AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |qs AS (SELECT vec_id AS q_id, q AS qv FROM e WHERE vec_id < 3),
        |c AS (SELECT vec_id AS cand_id, q AS cv FROM e WHERE vec_id >= 9),
        |scored AS (SELECT q_id, cand_id,
        |    CAST(list_sum(list_transform(range(1, len(qv) + 1),
        |      i -> qv[i] * cv[i])) AS BIGINT) AS dq, cv
        |  FROM qs, c),
        |sl AS (SELECT q_id, cand_id, dq, cv FROM (
        |    SELECT q_id, cand_id, dq, cv, ROW_NUMBER() OVER (
        |      PARTITION BY q_id ORDER BY dq DESC, cand_id) AS rn
        |    FROM scored) WHERE rn <= 8),
        |pd AS (SELECT a.q_id, a.cand_id AS a_id, b.cand_id AS b_id,
        |    CAST(list_sum(list_transform(range(1, len(a.cv) + 1),
        |      i -> a.cv[i] * b.cv[i])) AS BIGINT) AS dab
        |  FROM sl a JOIN sl b
        |    ON a.q_id = b.q_id AND a.cand_id <> b.cand_id),
        |s1 AS (SELECT q_id, cand_id AS v1, 7 * dq AS score1 FROM (
        |    SELECT q_id, cand_id, dq, ROW_NUMBER() OVER (
        |      PARTITION BY q_id ORDER BY dq DESC, cand_id) AS rn
        |    FROM sl) WHERE rn = 1),
        |r2 AS (SELECT sl.q_id, sl.cand_id,
        |    7 * sl.dq - 3 * pd.dab AS score
        |  FROM sl JOIN s1 ON sl.q_id = s1.q_id AND sl.cand_id <> s1.v1
        |  JOIN pd ON pd.q_id = sl.q_id AND pd.a_id = sl.cand_id
        |         AND pd.b_id = s1.v1),
        |s2 AS (SELECT q_id, cand_id AS v2, score AS score2 FROM (
        |    SELECT q_id, cand_id, score, ROW_NUMBER() OVER (
        |      PARTITION BY q_id ORDER BY score DESC, cand_id) AS rn
        |    FROM r2) WHERE rn = 1),
        |r3 AS (SELECT sl.q_id, sl.cand_id,
        |    7 * sl.dq - 3 * MAX(pd.dab) AS score
        |  FROM sl JOIN s1 ON sl.q_id = s1.q_id
        |  JOIN s2 ON sl.q_id = s2.q_id
        |  JOIN pd ON pd.q_id = sl.q_id AND pd.a_id = sl.cand_id
        |         AND pd.b_id IN (s1.v1, s2.v2)
        |  WHERE sl.cand_id NOT IN (s1.v1, s2.v2)
        |  GROUP BY sl.q_id, sl.cand_id, sl.dq),
        |s3 AS (SELECT q_id, cand_id AS v3, score AS score3 FROM (
        |    SELECT q_id, cand_id, score, ROW_NUMBER() OVER (
        |      PARTITION BY q_id ORDER BY score DESC, cand_id) AS rn
        |    FROM r3) WHERE rn = 1),
        |r4 AS (SELECT sl.q_id, sl.cand_id,
        |    7 * sl.dq - 3 * MAX(pd.dab) AS score
        |  FROM sl JOIN s1 ON sl.q_id = s1.q_id
        |  JOIN s2 ON sl.q_id = s2.q_id
        |  JOIN s3 ON sl.q_id = s3.q_id
        |  JOIN pd ON pd.q_id = sl.q_id AND pd.a_id = sl.cand_id
        |         AND pd.b_id IN (s1.v1, s2.v2, s3.v3)
        |  WHERE sl.cand_id NOT IN (s1.v1, s2.v2, s3.v3)
        |  GROUP BY sl.q_id, sl.cand_id, sl.dq),
        |s4 AS (SELECT q_id, cand_id AS v4, score AS score4 FROM (
        |    SELECT q_id, cand_id, score, ROW_NUMBER() OVER (
        |      PARTITION BY q_id ORDER BY score DESC, cand_id) AS rn
        |    FROM r4) WHERE rn = 1)
        |SELECT q_id, 1 AS rank, v1 AS vec_id, score1 AS mmr_score FROM s1
        |UNION ALL
        |SELECT q_id, 2 AS rank, v2 AS vec_id, score2 AS mmr_score FROM s2
        |UNION ALL
        |SELECT q_id, 3 AS rank, v3 AS vec_id, score3 AS mmr_score FROM s3
        |UNION ALL
        |SELECT q_id, 4 AS rank, v4 AS vec_id, score4 AS mmr_score FROM s4
        |ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings").select(col("vec_id"),
        Vectors.quantize("embedding").cast("array<double>").as("v"))
      val qs = broadcast(emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("v").as("qv")))
      val corpus = emb.filter(col("vec_id") >= 9)
        .select(col("vec_id").as("cand_id"), col("v").as("cv"))
      val wTop = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("dq").desc, col("cand_id"))
      // The ONE corpus-sized stage: broadcast probe + WindowGroupLimit
      // top-8. The greedy itself then runs as a SINGLE higher-order
      // projection over each query's collected shortlist row — a pure
      // per-row function (rung (a) of the extension ladder). The
      // relational alternative (4 unrolled pick/rescore rounds) was
      // measured at 2.4-7.4 s on 24 rows: ~16 stages of fixed
      // scheduling overhead for zero data. Here the whole query is 3
      // stages; the interpreted-lambda cost is O(k·shortlist²·dims)
      // on 3 rows — noise, and no hash calls (the lambda lint's trap).
      val sl = qs.join(corpus)
        .withColumn("dq", dot("qv", "cv").cast("long"))
        .withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 8)
        .groupBy("q_id")
        .agg(collect_list(struct(col("cand_id"), col("dq"), col("cv")))
          .as("items"))
      // aggregate(1..4) threads the selected set through the rounds;
      // each round scores remaining items (7·dq − 3·max-sim-to-selected,
      // input-order-independent because ties break on cand_id), argmax
      // via a comparator sort on the scored structs, and appends the
      // winner (rank = round). Integer products of round(x*1000) values
      // stay exact in double before the bigint cast.
      val mmr = expr(
        """aggregate(sequence(1, 4),
          |  cast(array() as
          |    array<struct<rank:int,cand_id:bigint,score:bigint,
          |                 cv:array<double>>>),
          |  (sel, r) -> concat(sel, transform(
          |    slice(array_sort(
          |      transform(
          |        filter(items,
          |          it -> NOT exists(sel, s -> s.cand_id = it.cand_id)),
          |        it -> named_struct('cand_id', it.cand_id, 'cv', it.cv,
          |          'score', 7 * it.dq - (CASE WHEN size(sel) = 0 THEN 0L
          |            ELSE 3 * aggregate(sel, -9223372036854775807L,
          |              (m, s2) -> greatest(m, cast(aggregate(
          |                zip_with(it.cv, s2.cv, (x, y) -> x * y),
          |                cast(0.0 as double), (acc, v) -> acc + v)
          |                as bigint))) END))),
          |      (a, b) -> CASE WHEN a.score > b.score THEN -1
          |                     WHEN a.score < b.score THEN 1
          |                     WHEN a.cand_id < b.cand_id THEN -1
          |                     WHEN a.cand_id > b.cand_id THEN 1
          |                     ELSE 0 END),
          |      1, 1),
          |    b -> named_struct('rank', r, 'cand_id', b.cand_id,
          |      'score', b.score, 'cv', b.cv))))""".stripMargin)
      sl.select(col("q_id"), explode(mmr).as("p"))
        .select(col("q_id"), col("p.rank").as("rank"),
          col("p.cand_id").as("vec_id"), col("p.score").as("mmr_score"))
        .orderBy("q_id", "rank")
    },

    // PERCEPTUAL image hash (dHash, round 13): the fingerprint step of
    // an image near-dup pipeline, computed FROM THE REAL BMP BYTES — a
    // 9×8 nearest-neighbor grayscale downsample of the bottom-up padded
    // BGR rows, then one bit per horizontal gradient (64 bits total,
    // packed as two non-negative 32-bit halves so both engines stay
    // inside signed-BIGINT shifts — the hash contract lives in
    // sources/MediaBlobs.dhashBmp). The oracle replays grid indexing
    // (sx = xd*w div 9, sy = yd*h div 8), the R+G+B integer luma proxy
    // and the bit packing from the generator pixel contract — a wrong
    // pixel offset, grid rounding, comparison direction or packing
    // order flips bits and hash-mismatches. MediaBlobsSpec additionally
    // proves the perceptual property that motivates dHash: a +10
    // brightness-shifted copy (different md5) keeps the identical
    // dHash. 100 TB: per-row map over the blob column, no shuffle.
    q("q_image_dhash",
      """WITH d AS (SELECT doc_id, doc_id % 41 AS g FROM documents
        |           WHERE doc_id < 64 AND (doc_id % 41) % 2 = 0),
        |m AS (SELECT doc_id, g, 200 + (g * 13) % 800 AS w, 2 + g % 5 AS h
        |      FROM d),
        |b AS (SELECT doc_id, g, w, h, unnest(range(0, 64)) AS i FROM m),
        |v AS (SELECT doc_id, i,
        |        ((i % 8) * w) // 9 AS xa, (((i % 8) + 1) * w) // 9 AS xb,
        |        ((i // 8) * h) // 8 AS sy, g
        |      FROM b),
        |bits AS (SELECT doc_id, i,
        |    CASE WHEN (xb + 7*sy + g) % 251 + (xb + 7*sy + 11 + g) % 251
        |              + (xb + 7*sy + 22 + g) % 251
        |            > (xa + 7*sy + g) % 251 + (xa + 7*sy + 11 + g) % 251
        |              + (xa + 7*sy + 22 + g) % 251
        |    THEN 1 ELSE 0 END AS bit
        |  FROM v)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN i >= 32
        |    THEN CAST(bit AS BIGINT) << (i - 32) ELSE 0 END) AS BIGINT)
        |    AS dh_hi,
        |  CAST(SUM(CASE WHEN i < 32
        |    THEN CAST(bit AS BIGINT) << i ELSE 0 END) AS BIGINT) AS dh_lo
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val store = graft.sources.MediaBlobs.ensureStore(s, dir)
      graft.sources.MediaBlobs.dhashBmp(
          Artifact.read(s, store).filter(col("doc_id") < 64))
        .orderBy("doc_id")
    },

    // Perceptual NEAR-dup image grouping: exact-dup collapse first
    // (md5 groups, the q_media_dedup step — a pipeline never pays
    // pairwise costs for byte-identical copies), then banded Hamming
    // matching over the distinct dHashes: 8 bands × 8 bits, candidates
    // = band-equal pairs (capped per bucket like the MinHash path),
    // verdicts = Hamming <= 6 via bit_count(xor) over the halves. The
    // banding is EXACT here, not probabilistic — by pigeonhole any
    // pair within Hamming 7 shares at least one of 8 bands, so the
    // oracle can be the straight all-pairs Hamming join over the seed
    // domain and both sides provably emit the same pairs (the MinHash
    // analogue only gets (1-s^2)^12 whp). Finds the cross-seed
    // byte-DIFFERENT pairs md5 dedup cannot (e.g. seeds 0 and 2 decode
    // to the same gradient structure). 100 TB: distinct hashes are
    // corpus-sized but the join is band-blocked + bucket-capped —
    // never all-pairs; hashes (16 B) shuffle, blobs never do.
    q("q_image_neardup",
      """WITH d AS (SELECT doc_id, doc_id % 41 AS g FROM documents
        |           WHERE (doc_id % 41) % 2 = 0),
        |grp AS (SELECT g, MIN(doc_id) AS canonical, COUNT(*) AS n_copies
        |        FROM d GROUP BY g),
        |m AS (SELECT g, canonical, n_copies,
        |        200 + (g * 13) % 800 AS w, 2 + g % 5 AS h FROM grp),
        |b AS (SELECT g, canonical, n_copies, w, h,
        |        unnest(range(0, 64)) AS i FROM m),
        |v AS (SELECT g, canonical, n_copies, i,
        |        ((i % 8) * w) // 9 AS xa, (((i % 8) + 1) * w) // 9 AS xb,
        |        ((i // 8) * h) // 8 AS sy
        |      FROM b),
        |bits AS (SELECT g, canonical, n_copies, i,
        |    CASE WHEN (xb + 7*sy + g) % 251 + (xb + 7*sy + 11 + g) % 251
        |              + (xb + 7*sy + 22 + g) % 251
        |            > (xa + 7*sy + g) % 251 + (xa + 7*sy + 11 + g) % 251
        |              + (xa + 7*sy + 22 + g) % 251
        |    THEN 1 ELSE 0 END AS bit
        |  FROM v),
        |hs AS (SELECT canonical, n_copies,
        |    SUM(CASE WHEN i >= 32
        |      THEN CAST(bit AS BIGINT) << (i - 32) ELSE 0 END) AS hi,
        |    SUM(CASE WHEN i < 32
        |      THEN CAST(bit AS BIGINT) << i ELSE 0 END) AS lo
        |  FROM bits GROUP BY 1, 2)
        |SELECT a.canonical AS canonical_a, b.canonical AS canonical_b,
        |  CAST(bit_count(xor(a.hi, b.hi))
        |     + bit_count(xor(a.lo, b.lo)) AS INT) AS hamming,
        |  CAST(a.n_copies AS BIGINT) AS copies_a,
        |  CAST(b.n_copies AS BIGINT) AS copies_b
        |FROM hs a JOIN hs b ON a.canonical < b.canonical
        |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 6
        |ORDER BY canonical_a, canonical_b""".stripMargin) { (s, dir) =>
      val store = graft.sources.MediaBlobs.ensureStore(s, dir)
      // exact-dup collapse: md5 groups (byte identity), carrying the
      // dHash computed in the SAME decoder pass (identical payloads
      // hash identically — the min==max agreement is proven by
      // q_media_dedup's dims check). Single scan of the blob store: a
      // join-back formulation re-read 7 GB of payloads at sf30 and
      // failed building a broadcast side.
      val dh = graft.sources.MediaBlobs.dhashBmpWithMeta(
          Artifact.read(s, store))
        .groupBy("media_hash")
        .agg(min(col("doc_id")).as("canonical"),
          count(lit(1)).as("n_copies"),
          min(col("dh_hi")).as("hi"), min(col("dh_lo")).as("lo"))
        .drop("media_hash")
      // 8 bands x 8 bits; pigeonhole makes <=7 candidates exact
      val bandCols = (0 until 8).map { bnd =>
        val src = if (bnd < 4) col("lo") else col("hi")
        struct(lit(bnd).as("band"),
          shiftright(src, 8 * (bnd % 4)).bitwiseAND(lit(255L)).as("bv"))
      }
      val banded = dh.select(col("canonical"), col("n_copies"),
          col("hi"), col("lo"), explode(array(bandCols: _*)).as("b"))
        .select(col("canonical"), col("n_copies"), col("hi"), col("lo"),
          col("b.band").as("band"), col("b.bv").as("bv"))
      // skew cap, same discipline as the MinHash bucket join (a flat
      // band value like 0 would otherwise make one bucket quadratic)
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy("band", "bv").orderBy("canonical")
      val capped = banded.withColumn("rnk", row_number().over(wb))
        .filter(col("rnk") <= 1000).drop("rnk")
      val l = capped.as("l")
      val r = capped.as("r")
      val ham = expr("bit_count(l.hi ^ r.hi) + bit_count(l.lo ^ r.lo)")
      l.join(r, col("l.band") === col("r.band") &&
          col("l.bv") === col("r.bv") &&
          col("l.canonical") < col("r.canonical"))
        .select(col("l.canonical").as("canonical_a"),
          col("r.canonical").as("canonical_b"),
          ham.cast("int").as("hamming"),
          col("l.n_copies").as("copies_a"),
          col("r.n_copies").as("copies_b"))
        .filter(col("hamming") <= 6)
        .distinct()
        .orderBy("canonical_a", "canonical_b")
    },

    // Image near-dup SURVIVOR SELECTION (round 13 — the dedup capstone
    // for the image modality, mirroring q_dedup_survivors for text):
    // dHash Hamming<=6 pairs over the exact-dup canonical groups form
    // a graph; its connected components (large-star/small-star rounds,
    // operators/ConnectedComponents.scala) are the dedup unit; ONE doc
    // survives per component — the HIGHEST-RESOLUTION variant (max
    // pixel area from the decoded header dims, ties to the lowest id),
    // the keep-best rule an image pipeline actually wants (keep the
    // original, drop the downscaled re-encodes). The oracle replays
    // hashes and pairs from the generator contract and closes the
    // transitive closure with a recursive CTE, survivor via the rn=1
    // window-argmax twin. 100 TB: the pair graph is band-blocked and
    // sparse; components run O(log n) node-id shuffle rounds; the
    // per-component argmax is an ordinary partial/final aggregate.
    q("q_image_dedup_survivors",
      """WITH RECURSIVE d AS (SELECT doc_id, doc_id % 41 AS g
        |  FROM documents WHERE (doc_id % 41) % 2 = 0),
        |grp AS (SELECT g, MIN(doc_id) AS canonical, COUNT(*) AS n_copies
        |        FROM d GROUP BY g),
        |m AS (SELECT g, canonical, n_copies,
        |        200 + (g * 13) % 800 AS w, 2 + g % 5 AS h FROM grp),
        |b AS (SELECT g, canonical, n_copies, w, h,
        |        unnest(range(0, 64)) AS i FROM m),
        |v AS (SELECT g, canonical, n_copies, w, h, i,
        |        ((i % 8) * w) // 9 AS xa, (((i % 8) + 1) * w) // 9 AS xb,
        |        ((i // 8) * h) // 8 AS sy
        |      FROM b),
        |bits AS (SELECT g, canonical, n_copies, w, h, i,
        |    CASE WHEN (xb + 7*sy + g) % 251 + (xb + 7*sy + 11 + g) % 251
        |              + (xb + 7*sy + 22 + g) % 251
        |            > (xa + 7*sy + g) % 251 + (xa + 7*sy + 11 + g) % 251
        |              + (xa + 7*sy + 22 + g) % 251
        |    THEN 1 ELSE 0 END AS bit
        |  FROM v),
        |hs AS (SELECT canonical, n_copies, MIN(w * h) AS area,
        |    SUM(CASE WHEN i >= 32
        |      THEN CAST(bit AS BIGINT) << (i - 32) ELSE 0 END) AS hi,
        |    SUM(CASE WHEN i < 32
        |      THEN CAST(bit AS BIGINT) << i ELSE 0 END) AS lo
        |  FROM bits GROUP BY 1, 2),
        |pairs AS (SELECT a.canonical AS a, b.canonical AS b
        |  FROM hs a JOIN hs b ON a.canonical < b.canonical
        |  WHERE bit_count(xor(a.hi, b.hi))
        |      + bit_count(xor(a.lo, b.lo)) <= 6),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(node, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r),
        |comp AS (SELECT node, MIN(r) AS comp_id FROM reach GROUP BY node),
        |mem AS (SELECT comp_id, hs.canonical, hs.n_copies, hs.area,
        |    ROW_NUMBER() OVER (PARTITION BY comp_id
        |      ORDER BY hs.area DESC, hs.canonical) AS rn
        |  FROM comp JOIN hs ON hs.canonical = comp.node)
        |SELECT comp_id, COUNT(*) AS n_groups,
        |  CAST(SUM(n_copies) AS BIGINT) AS n_docs,
        |  CAST(MAX(CASE WHEN rn = 1 THEN canonical END) AS BIGINT)
        |    AS survivor_doc,
        |  CAST(MAX(CASE WHEN rn = 1 THEN area END) AS BIGINT)
        |    AS survivor_area,
        |  CAST(SUM(n_copies) - 1 AS BIGINT) AS n_dropped
        |FROM mem GROUP BY comp_id ORDER BY comp_id""".stripMargin) { (s, dir) =>
      val store = graft.sources.MediaBlobs.ensureStore(s, dir)
      // single decoder pass carries hash + dims + dHash (see
      // q_image_neardup's scale note)
      val groups = graft.sources.MediaBlobs.dhashBmpWithMeta(
          Artifact.read(s, store))
        .groupBy("media_hash")
        .agg(min(col("doc_id")).as("canonical"),
          count(lit(1)).as("n_copies"),
          min(col("dh_hi")).as("hi"), min(col("dh_lo")).as("lo"),
          min(col("area")).cast("long").as("area"))
        .drop("media_hash")
      val bandCols = (0 until 8).map { bnd =>
        val src = if (bnd < 4) col("lo") else col("hi")
        struct(lit(bnd).as("band"),
          shiftright(src, 8 * (bnd % 4)).bitwiseAND(lit(255L)).as("bv"))
      }
      val banded = groups.select(col("canonical"), col("hi"), col("lo"),
          explode(array(bandCols: _*)).as("b"))
        .select(col("canonical"), col("hi"), col("lo"),
          col("b.band").as("band"), col("b.bv").as("bv"))
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy("band", "bv").orderBy("canonical")
      val capped = banded.withColumn("rnk", row_number().over(wb))
        .filter(col("rnk") <= 1000).drop("rnk")
      val l = capped.as("l")
      val r = capped.as("r")
      val pairs = l.join(r, col("l.band") === col("r.band") &&
          col("l.bv") === col("r.bv") &&
          col("l.canonical") < col("r.canonical"))
        .filter(expr("bit_count(l.hi ^ r.hi) + bit_count(l.lo ^ r.lo)")
          <= 6)
        .select(col("l.canonical").as("a"), col("r.canonical").as("b"))
        .distinct()
      val comp = graft.ConnectedComponents.label(pairs, "a", "b")
      comp.join(groups, col("node") === col("canonical"))
        .groupBy("comp_id")
        .agg(count(lit(1)).as("n_groups"),
          sum(col("n_copies")).cast("long").as("n_docs"),
          max(struct(col("area"), (-col("canonical")).as("neg_id")))
            .as("best"))
        .select(col("comp_id"), col("n_groups"), col("n_docs"),
          (-col("best.neg_id")).cast("long").as("survivor_doc"),
          col("best.area").cast("long").as("survivor_area"),
          (col("n_docs") - 1).cast("long").as("n_dropped"))
        .orderBy("comp_id")
    },

    // Cross-modal SAMPLE ASSEMBLY manifest (round 13): the step that
    // turns per-modality stores into one training-sample row — join
    // the text row to its image / audio / video blobs (by id, the
    // layout every multimodal trainer keys on) plus its embedding,
    // surfacing per-modality byte accounting and the embedding width.
    // The oracle replays the deterministic container sizes from the
    // generator contracts (BMP exact; PNG deflate-dependent, surfaced
    // as NULL — a manifest records what it can verify); embeddings
    // LEFT-join (not every doc has a vector — exactly the sparsity a
    // real manifest must represent). 100 TB: all four stores join on
    // the same id — with id-bucketed layout these are co-partitioned
    // joins with zero corpus shuffle; the filter pushes into every
    // scan via join-constraint propagation.
    q("q_media_manifest",
      """WITH d AS (SELECT doc_id, lang, n_chars, doc_id % 41 AS g
        |  FROM documents WHERE doc_id < 200),
        |m AS (SELECT doc_id, lang, n_chars, g,
        |    200 + (g * 13) % 800 AS w, 2 + g % 5 AS h,
        |    1 + g % 2 AS ch, 50 + (g * 7) % 200 AS anf,
        |    16 + (g * 5) % 48 AS vw, 8 + g % 8 AS vh,
        |    4 + (g * 3) % 12 AS vnf,
        |    CASE g % 4 WHEN 0 THEN 24 WHEN 1 THEN 25
        |               WHEN 2 THEN 30 ELSE 60 END AS fps
        |  FROM d)
        |SELECT m.doc_id, lang, CAST(n_chars AS BIGINT) AS text_chars,
        |  CASE WHEN g % 2 = 0 THEN 'bmp' ELSE 'png' END AS img_fmt,
        |  CASE WHEN g % 2 = 0
        |       THEN CAST(54 + ((3 * w + 3) // 4) * 4 * h AS BIGINT)
        |  END AS img_bytes,
        |  CAST(44 + anf * ch * 2 AS BIGINT) AS wav_bytes,
        |  CAST(32 + length(CAST(vw AS VARCHAR))
        |     + length(CAST(vh AS VARCHAR))
        |     + length(CAST(fps AS VARCHAR))
        |     + vnf * (6 + vw * vh) AS BIGINT) AS y4m_bytes,
        |  CAST(e.e_dim AS INT) AS embed_dim
        |FROM m LEFT JOIN (SELECT vec_id, len(embedding) AS e_dim
        |                  FROM embeddings) e ON e.vec_id = m.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val img = graft.sources.MediaBlobs.withDecoded(Artifact.read(s,
          graft.sources.MediaBlobs.ensureStore(s, dir)))
        .select(col("doc_id"), col("fmt").as("img_fmt"),
          when(col("fmt") === "bmp", length(col("payload")).cast("long"))
            .as("img_bytes"))
      val wav = Artifact.read(s,
          graft.sources.MediaBlobs.ensureAudioStore(s, dir))
        .select(col("doc_id"),
          length(col("payload")).cast("long").as("wav_bytes"))
      val vid = Artifact.read(s,
          graft.sources.MediaBlobs.ensureVideoStore(s, dir))
        .select(col("doc_id"),
          length(col("payload")).cast("long").as("y4m_bytes"))
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"),
          size(col("embedding")).as("embed_dim"))
      docs.join(img, "doc_id").join(wav, "doc_id").join(vid, "doc_id")
        .join(emb, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("text_chars"),
          col("img_fmt"), col("img_bytes"), col("wav_bytes"),
          col("y4m_bytes"), col("embed_dim"))
        .orderBy("doc_id")
    },

    // AUDIO perceptual fingerprint dedup (round 13 — the audio leg of
    // the perceptual family: image=dHash, audio=this, video=next): a
    // Shazam-style energy-gradient fingerprint computed from the REAL
    // PCM bytes — each WAV's 25-frame window energies (decoded sample
    // by sample, sources/MediaBlobs.audioFrameEnergy) reduce to one
    // bit per window transition (energy rose vs fell — the gradient
    // signature that survives amplitude scaling the way dHash survives
    // brightness), packed little-endian into a BIGINT alongside the
    // window count. Dedup = GROUP BY (fingerprint, n_windows): exact
    // integer energies make the bits reproducible, so the oracle
    // replays every sample, window, lag comparison and the packing
    // from the generator contract. 100 TB: blobs stay in the scan;
    // per-doc (win, energy) rows take one doc-partitioned window pass;
    // the dedup shuffle moves 24-byte fingerprint rows, never audio.
    q("q_audio_fingerprint",
      """WITH s AS (SELECT DISTINCT doc_id % 41 AS g FROM documents),
        |w AS (SELECT g, 1 + g % 2 AS ch,
        |        unnest(range(0, (50 + (g * 7) % 200) // 25)) AS win
        |      FROM s),
        |e AS (SELECT g, win,
        |    CAST(list_sum(list_transform(range(win * 25, win * 25 + 25),
        |      i -> list_sum(list_transform(range(0, ch),
        |        c -> abs((i * 13 + c * 7 + g * 31) % 65536 - 32768)))))
        |      AS BIGINT) AS energy
        |  FROM w),
        |fp AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS nwin,
        |    CAST(SUM(CASE WHEN lag_e IS NOT NULL AND energy > lag_e
        |      THEN 1::BIGINT << (win - 1) ELSE 0 END) AS BIGINT) AS fp
        |  FROM (SELECT g, win, energy,
        |          LAG(energy) OVER (PARTITION BY g ORDER BY win) AS lag_e
        |        FROM e)
        |  GROUP BY g),
        |d AS (SELECT doc_id, doc_id % 41 AS g FROM documents)
        |SELECT MIN(doc_id) AS canonical_doc,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies, fp, nwin
        |FROM d JOIN fp USING (g)
        |GROUP BY fp, nwin ORDER BY canonical_doc""".stripMargin) { (s, dir) =>
      val store = graft.sources.MediaBlobs.ensureAudioStore(s, dir)
      val feats = graft.sources.MediaBlobs.audioFrameEnergy(
        Artifact.read(s, store), 25)
      val wl = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("win")
      feats.withColumn("lag_e", lag(col("energy"), 1).over(wl))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nwin"),
          sum(when(col("lag_e").isNotNull && col("energy") > col("lag_e"),
            expr("shiftleft(cast(1 as bigint), cast(win - 1 as int))"))
            .otherwise(0L)).as("fp"))
        .groupBy("fp", "nwin")
        .agg(min(col("doc_id")).as("canonical_doc"),
          count(lit(1)).as("n_copies"))
        .select("canonical_doc", "n_copies", "fp", "nwin")
        .orderBy("canonical_doc")
    },

    // VIDEO perceptual fingerprint dedup (round 13 — the video leg):
    // per-frame luma sums decoded from the REAL Y4M planes
    // (sources/MediaBlobs.videoFrameFeatures at stride 1) reduce to a
    // rose/fell bit per frame transition — the temporal-gradient
    // signature of the clip, robust to uniform luma shifts like dHash
    // to brightness. Same (fingerprint, n_frames) grouping and the
    // same full-replay oracle (every pixel, lag and packed bit from
    // the generator contract). 100 TB: identical shape to the audio
    // leg — decode stays in the scan, only fingerprints shuffle.
    q("q_video_fingerprint",
      """WITH s AS (SELECT DISTINCT doc_id % 41 AS g FROM documents),
        |f AS (SELECT g, 16 + (g * 5) % 48 AS w, 8 + g % 8 AS h,
        |        unnest(range(0, 4 + (g * 3) % 12)) AS t
        |      FROM s),
        |e AS (SELECT g, t,
        |    CAST(list_sum(list_transform(range(0, h), y ->
        |      list_sum(list_transform(range(0, w), x ->
        |        (x + 3 * y + 5 * t + g) % 251)))) AS BIGINT) AS luma
        |  FROM f),
        |fp AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_frames,
        |    CAST(SUM(CASE WHEN lag_l IS NOT NULL AND luma > lag_l
        |      THEN 1::BIGINT << (t - 1) ELSE 0 END) AS BIGINT) AS fp
        |  FROM (SELECT g, t, luma,
        |          LAG(luma) OVER (PARTITION BY g ORDER BY t) AS lag_l
        |        FROM e)
        |  GROUP BY g),
        |d AS (SELECT doc_id, doc_id % 41 AS g FROM documents)
        |SELECT MIN(doc_id) AS canonical_doc,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies, fp, n_frames
        |FROM d JOIN fp USING (g)
        |GROUP BY fp, n_frames ORDER BY canonical_doc""".stripMargin) { (s, dir) =>
      val store = graft.sources.MediaBlobs.ensureVideoStore(s, dir)
      val feats = graft.sources.MediaBlobs.videoFrameFeatures(
        Artifact.read(s, store), 1)
      val wl = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("frame")
      feats.withColumn("lag_l", lag(col("luma_sum"), 1).over(wl))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("lag_l").isNotNull &&
              col("luma_sum") > col("lag_l"),
            expr("shiftleft(cast(1 as bigint), cast(frame - 1 as int))"))
            .otherwise(0L)).as("fp"))
        .groupBy("fp", "n_frames")
        .agg(min(col("doc_id")).as("canonical_doc"),
          count(lit(1)).as("n_copies"))
        .select("canonical_doc", "n_copies", "fp", "n_frames")
        .orderBy("canonical_doc")
    },

    // REAL-codec modality (JPEG + GIF, round 13): the BMP/PNG/WAV/Y4M
    // stores are hand-assembled containers; this one is written by the
    // JDK's OWN encoders (javax.imageio), so the payloads carry genuine
    // Huffman-coded DCT scan data / LZW palette streams and the parse
    // must walk REAL variable-length structure: JPEG = SOI then
    // length-prefixed marker segments skipped until the first frame
    // header (SOF0..15 minus DHT/JPG/DAC) yields precision / height /
    // width / component count, exactly the jpeg_read_header walk; GIF =
    // signature + version + LE logical-screen dims + global-color-table
    // bits from the packed flags byte (sources/MediaBlobs
    // .decodeCodecDims). JPEG is lossy and GIF re-palettizes, so the
    // oracle replays HEADER truth from the generator contract (fmt and
    // version by seed parity, the shared dims formula, 3 YCbCr
    // components vs 1 gray plane, 8-bit precision both ways); the
    // pixel-exact loop stays with the BMP/PNG contract. 100 TB:
    // scan-local per-row decode, no shuffle, blobs never move.
    q("q_multimodal_codecs",
      """WITH d AS (SELECT doc_id, doc_id % 41 AS g FROM documents
        |           WHERE doc_id < 64),
        |m AS (SELECT doc_id, g, 200 + (g * 13) % 800 AS w, 2 + g % 5 AS h
        |      FROM d)
        |SELECT doc_id,
        |  CASE WHEN g % 2 = 0 THEN 'jpeg' ELSE 'gif' END AS fmt,
        |  CASE WHEN g % 2 = 0 THEN 'jfif' ELSE '89a' END AS version,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(CASE WHEN g % 2 = 0 THEN 3 ELSE 1 END AS INT)
        |    AS n_components,
        |  CAST(8 AS INT) AS bit_depth
        |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val store = graft.sources.MediaBlobs.ensureCodecStore(s, dir)
      graft.sources.MediaBlobs.decodeCodecDims(
          Artifact.read(s, store).filter(col("doc_id") < 64))
        .orderBy("doc_id")
    },

    // CROSS-MODAL joint-embedding retrieval (round 14 — the round-13
    // manifest assembled modalities BY ID; this searches ACROSS them):
    // text-embedding queries retrieve IMAGE doc_ids through the shared
    // 16-dim space (see sharedProj — one frozen ±1 projection applied
    // to both towers, CLIP-shaped with a deterministic stand-in for
    // the trained weights). The image side answers from the PERSISTED
    // image-embedding store (MediaBlobs.ensureImageEmbStore — the blob
    // bytes are decoded once at build time and never touched again);
    // the text side is 6 query vectors. Brute-force cosine top-2 is
    // the exactness baseline of the family (the IVF-routed variant
    // below is the scale path, same space). Oracle: DuckDB replays the
    // image tower from the generator pixel contract while Spark
    // decodes the real bytes — the hash gate closes the
    // generate→decode→embed→project→score loop end to end. 100 TB:
    // one feature-store scan, 6-row broadcast query side, map-side
    // rounded-cosine + WindowGroupLimit top-2; only skinny
    // (q_id, doc_id, cos) rows shuffle. The symmetric image→text
    // direction is this plan transposed (corpus and query towers
    // swap); nothing in the space is direction-specific.
    q("q_crossmodal_topk",
      s"""WITH $crossmodalTowersSql,
        |scored AS (
        |  SELECT q.q_id, i.doc_id,
        |    ROUND(list_sum(list_transform(range(1, 17),
        |        d -> q.p[d]::DOUBLE * i.p[d]::DOUBLE))
        |      / (q.nrm * i.nrm), 6) AS cos_sim
        |  FROM qnorm q CROSS JOIN inorm i)
        |SELECT q_id, CAST(rn AS INT) AS rn, doc_id, cos_sim FROM (
        |  SELECT q_id, doc_id, cos_sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id
        |                       ORDER BY cos_sim DESC, doc_id) AS rn
        |  FROM scored) WHERE rn <= 2 ORDER BY q_id, rn""".stripMargin) {
      (s, dir) =>
      val store = graft.sources.MediaBlobs.ensureImageEmbStore(s, dir)
      val img = Artifact.read(s, store)
        .withColumn("pd", sharedProj("f").cast("array<double>"))
        .withColumn("inrm", sqrt(dot("pd", "pd")))
        .select(col("doc_id"), col("pd"), col("inrm"))
      val qs = broadcast(t(s, dir, "embeddings")
        .filter(col("vec_id") < 6)
        .select(col("vec_id").as("q_id"),
          Vectors.quantize("embedding").as("qv"))
        .withColumn("qpd", sharedProj("qv").cast("array<double>"))
        .withColumn("qnrm", sqrt(dot("qpd", "qpd")))
        .select(col("q_id"), col("qpd"), col("qnrm")))
      // Top-2 rank — SIZE-ADAPTIVE (TopKAgg.engage, r16, VERDICT r15
      // #6): the scored relation is feature-store corpus × 6 queries —
      // the same expansion shape as the IVF assignment stages whose
      // window sort-scratch measured into sf100 ENOSPC; forced-parity
      // tested in Round18OpsSpec.
      val scored = img.crossJoin(qs)
        .withColumn("cos_sim", cos6("qpd", "qnrm", "pd", "inrm"))
      TopKAgg.perGroup(scored, Seq("q_id"),
        Seq("cos_sim" -> Desc, "doc_id" -> Asc), 2, rank = Some("rn"),
        agg = TopKAgg.engage(img))
        .select(col("q_id"), col("rn").cast("int").as("rn"),
          col("doc_id"), col("cos_sim"))
        .orderBy("q_id", "rn")
    },

    // Cross-modal retrieval through IVF PROBE ROUTING (round 14): the
    // scale path of q_crossmodal_topk — 4 coarse cells seeded by the
    // shared-space image vectors of doc_ids {0,2,4,6} (literal ids —
    // provably bounded broadcast), every image vector indexed under
    // its nearest cell (rounded-cosine argmax, deterministic 2000-cap
    // per cell), text queries probe their nprobe=2 nearest cells and
    // rescore ONLY those cells' members — the q_ann_ivf_cells probe
    // shape pointed across modalities. The oracle replays cells,
    // assignment, cap, probes and rescoring exactly, so the pruning
    // is hash-gated, not approximated away. 100 TB: cells and probes
    // are model-sized broadcasts; the corpus-side work is one
    // feature-store scan for assignment (map-side argmax) and a
    // broadcast-join rescore over nprobe/nlist of the index.
    q("q_crossmodal_ivf",
      s"""WITH $crossmodalTowersSql,
        |cells AS (SELECT doc_id AS cell_id, p, nrm FROM inorm
        |          WHERE doc_id IN (0, 2, 4, 6)),
        |asg AS (
        |  SELECT doc_id, cell FROM (
        |    SELECT i.doc_id, c.cell_id AS cell,
        |      ROW_NUMBER() OVER (PARTITION BY i.doc_id ORDER BY
        |        ROUND(list_sum(list_transform(range(1, 17),
        |            d -> i.p[d]::DOUBLE * c.p[d]::DOUBLE))
        |          / (i.nrm * c.nrm), 6) DESC, c.cell_id) AS rn
        |    FROM inorm i CROSS JOIN cells c) WHERE rn = 1),
        |idx AS (
        |  SELECT doc_id, cell FROM (
        |    SELECT doc_id, cell,
        |      ROW_NUMBER() OVER (PARTITION BY cell ORDER BY doc_id)
        |        AS crnk
        |    FROM asg) WHERE crnk <= 2000),
        |pr AS (
        |  SELECT q_id, cell_id FROM (
        |    SELECT q.q_id, c.cell_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
        |        ROUND(list_sum(list_transform(range(1, 17),
        |            d -> q.p[d]::DOUBLE * c.p[d]::DOUBLE))
        |          / (q.nrm * c.nrm), 6) DESC, c.cell_id) AS rn
        |    FROM qnorm q CROSS JOIN cells c) WHERE rn <= 2),
        |scored AS (
        |  SELECT p.q_id, x.doc_id AS cand_id, x.cell AS cell_id,
        |    ROUND(list_sum(list_transform(range(1, 17),
        |        d -> q.p[d]::DOUBLE * i.p[d]::DOUBLE))
        |      / (q.nrm * i.nrm), 6) AS cos_sim
        |  FROM pr p JOIN idx x ON x.cell = p.cell_id
        |  JOIN qnorm q ON q.q_id = p.q_id
        |  JOIN inorm i ON i.doc_id = x.doc_id)
        |SELECT q_id, cand_id, cell_id, cos_sim FROM (
        |  SELECT q_id, cand_id, cell_id, cos_sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id
        |                       ORDER BY cos_sim DESC, cand_id) AS rn
        |  FROM scored) WHERE rn = 1 ORDER BY q_id""".stripMargin) {
      (s, dir) =>
      val nprobe = ivfNprobe
      val cellCap = ivfCellCap
      val store = graft.sources.MediaBlobs.ensureImageEmbStore(s, dir)
      val img = Artifact.read(s, store)
        .withColumn("pd", sharedProj("f").cast("array<double>"))
        .withColumn("inrm", sqrt(dot("pd", "pd")))
        .select(col("doc_id"), col("pd"), col("inrm"))
      val cells = broadcast(img
        .filter(col("doc_id").isin(0L, 2L, 4L, 6L))
        .select(col("doc_id").as("cell_id"), col("pd").as("cd"),
          col("inrm").as("cn")))
      // index: one cell per image vector — map-side max_by argmax on
      // the rounded cosine (tie → lower cell_id), then the
      // deterministic per-cell cap
      val assigned = img.crossJoin(cells)
        .withColumn("ccos", cos6("pd", "inrm", "cd", "cn"))
        .groupBy("doc_id")
        .agg(Vectors.maxByCos(col("cell_id"), "ccos", "cell_id").as("cell"),
          first(col("pd")).as("pd"), first(col("inrm")).as("inrm"))
      // Per-cell cap — SIZE-ADAPTIVE (TopKAgg.engage, r16, VERDICT r15
      // #6). Unlike the LSH bucket cap (bounded ~32-member occupancy —
      // agg reverted there by the sf30 measurement), this group domain
      // is FOUR cells at n/4 expected occupancy: the window form
      // shuffles the whole corpus into ≤4 tasks (the guide-§2 skew
      // shape), while the aggregate folds each map task to ≤4·cellCap
      // rows before the exchange. doc_id is unique, so the carried
      // embedding/norm fields are never compared.
      val index = TopKAgg.perGroup(assigned, Seq("cell"),
        Seq("doc_id" -> Asc), cellCap, carry = Seq("pd", "inrm"),
        agg = TopKAgg.engage(img))
      val qs = t(s, dir, "embeddings")
        .filter(col("vec_id") < 6)
        .select(col("vec_id").as("q_id"),
          Vectors.quantize("embedding").as("qv"))
        .withColumn("qpd", sharedProj("qv").cast("array<double>"))
        .withColumn("qnrm", sqrt(dot("qpd", "qpd")))
        .select(col("q_id"), col("qpd"), col("qnrm"))
      val wProbe = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("pcos").desc, col("cell_id"))
      val probes = qs.crossJoin(cells)
        .withColumn("pcos", cos6("qpd", "qnrm", "cd", "cn"))
        .withColumn("rn", row_number().over(wProbe))
        .filter(col("rn") <= nprobe)
        .select(col("q_id"), col("qpd"), col("qnrm"),
          col("cell_id").as("pcell"))
      index.join(broadcast(probes), col("pcell") === col("cell"))
        .withColumn("cos_sim", cos6("qpd", "qnrm", "pd", "inrm"))
        .groupBy("q_id")
        .agg(Vectors.maxByCos(
          struct(col("doc_id").as("cand_id"), col("cell").as("cell_id"),
            col("cos_sim")), "cos_sim", "doc_id").as("best"))
        .select(col("q_id"), col("best.cand_id").as("cand_id"),
          col("best.cell_id").as("cell_id"),
          col("best.cos_sim").as("cos_sim"))
        .orderBy("q_id")
    })
}
