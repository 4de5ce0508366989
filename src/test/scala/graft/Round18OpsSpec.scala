package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-18 (optimization round 16) pins.
  *
  * 1. ADAPTIVE TOP-K PARITY, extension sites: the PQ/ADC and
  *    cross-modal rank stages converted this round (VERDICT r15 #6)
  *    run BOTH branches on the same data and must emit identical
  *    row-sets — the Round17OpsSpec template.
  *
  * 2. CONSTANT PINS (VERDICT r15 #5, the SCALE.md constant-audit
  *    conversion): the bounded-degradation literals of the worst-tier
  *    ANN plans — cellCap 2000, bucketCap 1000, nprobe 2, and the LSH
  *    `bits` growth formula — are pinned so a silent re-constanting
  *    fails the build. The audit's distinction: these cap CANDIDATES
  *    (recall degrades on degenerate keys, work stays linear); a
  *    constant dividing corpus-sized work must instead SCALE with n
  *    (rangeParts, seedMod — pinned in Round16OpsSpec).
  *
  * 3. FUSED MEDIAN+MAD PARITY: RankSelect.groupedMedianMad (the r16
  *    single-shuffle protocol) must agree BIT-FOR-BIT with the
  *    two-pass exact-percentile arithmetic on every shape that
  *    stresses the k-closest-window selection: odd/even n, heavy
  *    ties, single-element and all-equal groups, and a ladder forced
  *    tiny so the bracket-refinement pass (pass 3) actually runs.
  */
class Round18OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.sfDir

  private def runBoth(name: String): (Seq[String], Seq[String]) = {
    val d = SparkEntry.all.find(_.name == name).get
    def rows(): Seq[String] = {
      val df = d.run(spark, dir)
      val out = df.collect().map(_.toString).toSeq.sorted
      T.releaseScratch(spark)
      out
    }
    val window = TopKAgg.forcing(agg = false)(rows())
    val agg = TopKAgg.forcing(agg = true)(rows())
    (window, agg)
  }

  for (q <- Seq("q_ann_pq_adc", "q_ann_pq_rerank", "q_ann_ivfpq",
    "q_ann_ivfpq_index", "q_ann_ivfpq_delta", "q_crossmodal_topk",
    "q_crossmodal_ivf")) {
    test(s"$q: window form == forced collect_topk form (row-set parity)") {
      val (w, a) = runBoth(q)
      assert(w.nonEmpty, s"$q returned no rows")
      assert(w == a, s"$q: adaptive top-k branches disagree")
    }
  }

  test("q_text_tfidf: semi-join df prune == unfiltered df (row-set parity)") {
    // Reference without the prune: df counts distinct docs per term
    // over the whole corpus token stream, as the statement's definition
    // says; only the pruned form lives in the program.
    val docs = T.t(spark, dir, "documents")
    val tokens = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = tokens.filter(col("doc_id") < 10)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tokens.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.count()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    val full = tf.join(df, "term")
      .withColumn("tfidf",
        round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("doc_id", "rn", "term", "tfidf")
      .collect().map(_.toString).toSeq.sorted
    val pruned = SparkEntry.all.find(_.name == "q_text_tfidf").get
      .run(spark, dir).collect().map(_.toString).toSeq.sorted
    T.releaseScratch(spark)
    assert(pruned.nonEmpty, "q_text_tfidf returned no rows")
    assert(pruned == full, "q_text_tfidf: pruned df disagrees with the" +
      " whole-corpus reference")
  }

  test("q_text_tfidf: hinted df semi-join broadcasts the target terms" +
    " and never shuffles the corpus token stream") {
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    // Walks into AQE query stages, which are leaves to plain collect.
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.finalPhysicalPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes)
    })
    // As at scale: the corpus file's static estimate exceeds the
    // threshold, so without the hint the planner sort-merges the
    // semi-join and AQE can demote it only after both sides shuffled.
    val docsBytes = T.t(spark, dir, "documents")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, (docsBytes / 16).toString)
    val plan = try {
      val df = SparkEntry.all.find(_.name == "q_text_tfidf").get
        .run(spark, dir)
      assert(df.collect().nonEmpty, "q_text_tfidf returned no rows")
      T.releaseScratch(spark)
      df.queryExecution.executedPlan
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val semis = nodes(plan).collect {
      case j: BaseJoinExec if j.joinType == LeftSemi => j
    }
    assert(semis.size == 1, s"expected one LeftSemi join:\n$plan")
    semis.head match {
      case b: BroadcastHashJoinExec =>
        val streamed = if (b.buildSide == BuildRight) b.left else b.right
        val shuffles = nodes(streamed).collect {
          case s @ (_: ShuffleQueryStageExec | _: ShuffleExchangeExec |
              _: AQEShuffleReadExec) => s.nodeName
        }
        assert(shuffles.isEmpty,
          s"corpus side of the df semi-join shuffled ($shuffles):\n$plan")
      case j =>
        fail(s"df semi-join planned as ${j.nodeName}, not a broadcast:\n$plan")
    }
  }

  test("bounded-degradation constants: candidate caps and probe widths") {
    assert(queries.Similarity.lshBucketCap == 1000,
      "LSH bucket cap: oversized buckets degrade to their first 1000" +
        " members (recall, not work) — changing this re-prices every" +
        " LSH scale claim in SCALE.md")
    assert(queries.Similarity.ivfCellCap == 2000,
      "IVF cell cap: hot cells degrade to their first 2000 members")
    assert(queries.Similarity.ivfNprobe == 2,
      "IVF probe width: 2 cells per query — recall/cost trade pinned" +
        " with the SCALE.md recall floors")
  }

  test("LSH bits formula: ~log2(n/32), floored at 6 — bucket count" +
    " scales with the corpus") {
    // Expected occupancy n / 2^bits stays ~constant (≤ 32): the
    // n-scaled divisor of the bucket-join work (NOT a candidate cap).
    assert(queries.Similarity.lshBits(0L) == 6)
    assert(queries.Similarity.lshBits(2048L) == 6)
    assert(queries.Similarity.lshBits(1L << 20) == 15)
    assert(queries.Similarity.lshBits(1L << 30) == 25)
    // Monotone, and occupancy bounded once past the floor.
    val pts = Seq(1L << 11, 1L << 15, 1L << 20, 1L << 25, 1L << 30)
    val bs = pts.map(queries.Similarity.lshBits)
    assert(bs == bs.sorted, "bits must not shrink with n")
    pts.zip(bs).filter(_._2 > 6).foreach { case (n, b) =>
      assert(n.toDouble / (1L << b) <= 32.0 + 1e-9,
        s"expected occupancy blew past 32 at n=$n (bits=$b)")
    }
  }

  // --- groupedMedianMad: bit-parity against the two-pass arithmetic ---

  private def refMedian(vs: Seq[Double]): Double = {
    val s = vs.sorted; val n = s.length
    val pos = (n - 1).toDouble * 0.5
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    if (lo == hi) s(lo) else (hi - pos) * s(lo) + (pos - lo) * s(hi)
  }

  private def checkMedianMad(data: Map[String, Seq[Double]],
      ladder: Int): Unit = {
    import spark.implicits._
    val df = data.toSeq.flatMap { case (g, vs) => vs.map(g -> _) }
      .toDF("g", "v")
    val got = operators.RankSelect.groupedMedianMad(df, "g", "v",
      ladderSize = ladder)
    data.foreach { case (g, vs) =>
      val med = refMedian(vs)
      val mad = refMedian(vs.map(v => math.abs(v - med)))
      val (n, gm, gd) = got(g)
      assert(n == vs.length, s"group $g: n")
      assert(gm == med, s"group $g: median (ladder=$ladder)")
      assert(gd == mad, s"group $g: MAD (ladder=$ladder)")
    }
    T.releaseScratch(spark)
  }

  private val madShapes: Map[String, Seq[Double]] = Map(
    "odd" -> Seq(5.0, 1.0, 9.0, 3.0, 7.0),
    "even" -> Seq(1.0, 2.0, 3.0, 10.0),
    "ties" -> Seq(2.0, 2.0, 2.0, 7.0, 7.0, 11.0),
    "one" -> Seq(42.0),
    "const" -> Seq(3.0, 3.0, 3.0, 3.0),
    "skewed" -> (1 to 257).map(i => (i * i).toDouble),
    "negs" -> Seq(-5.0, -1.0, 0.0, 2.5, 2.5, 8.0, -1.0))

  test("groupedMedianMad == two-pass percentile arithmetic" +
    " (exhaustive ladder)") {
    checkMedianMad(madShapes, ladder = 1 << 16)
  }

  test("groupedMedianMad == two-pass percentile arithmetic" +
    " (ladder=4 forces the bracket-refinement pass)") {
    checkMedianMad(madShapes, ladder = 4)
  }

  test("groupedMedianMad matches the q_agg_median_mad aggregate branch" +
    " on real data") {
    val l = T.t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"))
    val fused = operators.RankSelect.groupedMedianMad(
      l, "l_returnflag", "l_extendedprice", ladderSize = 1 << 10)
    val med = operators.RankSelect.groupedQuantiles(
      l, "l_returnflag", "l_extendedprice", Seq(0.5))
    import spark.implicits._
    val medDf = med.toSeq.map { case (g, (_, vs)) => (g, vs(0)) }
      .toDF("l_returnflag", "med")
    val dev = l.join(broadcast(medDf), Seq("l_returnflag"))
      .select(col("l_returnflag"),
        abs(col("l_extendedprice") - col("med")).as("ad"))
    val mad = operators.RankSelect.groupedQuantiles(
      dev, "l_returnflag", "ad", Seq(0.5))
    med.foreach { case (g, (_, vs)) =>
      val (n, gm, gd) = fused(g)
      assert(n == mad(g)._1, s"$g: n")
      assert(gm == vs(0), s"$g: median")
      assert(gd == mad(g)._2(0), s"$g: MAD")
    }
    T.releaseScratch(spark)
  }
}
