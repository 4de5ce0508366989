package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-17 (optimization round 15) pins.
  *
  * 1. ADAPTIVE TOP-K PARITY: the four scale-flagged queries
  *    (q_ann_ivf_cells, q_ann_ivf_hier, q_ann_lsh_bucketed,
  *    q_dedup_semantic) pick between the rank-window form (below
  *    TopKAgg.engageBytes — every local SF) and the bounded top-k
  *    aggregate (corpus scale, or forced through the thread-scoped
  *    TopKAgg.forcing override). A wrong-side decision must
  *    change only the plan, never the result — proven here by running
  *    each query BOTH ways on the same data and comparing full
  *    row-sets. This is the Round9OpsSpec forced-bit-equivalence
  *    template applied to the r15 rewrite.
  *
  * 2. CUTOVER DIRECTION: engage() is false at test SF (so the frozen
  *    window plans stay the bench reality) and true once the estimate
  *    crosses engageBytes — pinned so a future "simplification" to a
  *    constant branch fails the build (the rangeParts lesson).
  */
class Round17OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.sfDir

  private def runBoth(name: String,
      dir: String = dir): (Seq[String], Seq[String]) = {
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

  // NOTE (r16): q_ann_lsh_bucketed's skew-cap site was reverted to
  // window-always (the sf30 A/B measured the agg form ENOSPC at 60 GB
  // scratch — bounded-occupancy group domain; see the site comment in
  // Similarity.scala), so the override no longer changes its plan and
  // its entry here degenerates to a re-run determinism check. Kept
  // rather than removed: it still pins the row-set across both arms.
  for (q <- Seq("q_ann_ivf_cells", "q_ann_ivf_hier", "q_ann_lsh_bucketed",
    "q_dedup_semantic")) {
    test(s"$q: window form == forced collect_topk form (row-set parity)") {
      val (w, a) = runBoth(q)
      assert(w.nonEmpty, s"$q returned no rows")
      assert(w == a, s"$q: adaptive top-k branches disagree")
    }
  }

  // On sf0.001 no vector ties on the rounded cosine at the k-th cell, so
  // the parity tests above cannot tell a right tie-break from a wrong
  // one in the routed-IVF rank stages. Here 500 unit vectors sit in
  // blocks: vec_ids 32j..32j+31 lie on axis j, so the 16 seeds
  // (vec_id % 32 == 0, both statements at n = 500) are e_0..e_15 and
  // every vector has cosine 1 with its own seed and exactly 0 with the
  // 15 others — nprobe = 2 keeps one of 15 cells tied at the boundary.
  // Block 5 holds only its seed (vec_ids 161..191 lie on axis 6), so
  // vector 160 finds its answer in that tied second cell: the lowest
  // cell id (0) by the statements' (cos DESC, id) order.
  test("routed IVF: both arms agree when the k-th cell ties on the rounded cosine") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val tied = SparkTestBase.tmpDir("graft-ivf-ties").toString
    (0L until 500L).toDF("vec_id")
      .withColumn("axis", when(col("vec_id") > 160 && col("vec_id") < 192, 6L)
        .otherwise(col("vec_id").divide(32).cast("long")))
      .select(col("vec_id"), expr("transform(sequence(0, 63)," +
        " i -> cast(if(i = axis, 1, 0) as float))").as("embedding"),
        lit(0).as("label"))
      .write.parquet(s"$tied/embeddings.parquet")
    val split = Seq("q_ann_ivf_cells", "q_ann_ivf_hier").flatMap { q =>
      val (w, a) = runBoth(q, tied)
      assert(w.length == 500, s"$q: one answer per vector")
      assert(w.contains("[160,0,0.0]"),
        s"$q: vector 160 must take the lowest tied cell's first member")
      if (w == a) None
      else Some(s"$q: window-only ${w.diff(a)}, collect_topk-only ${a.diff(w)}")
    }
    assert(split.isEmpty, "the arms break the k-th cell tie differently")
  }

  test("TopKAgg.engage gates on the size estimate, not a constant") {
    import spark.implicits._
    val tiny = (1 to 100).map(i => (i.toLong, i % 5)).toDF("id", "g")
    assert(!TopKAgg.engage(tiny),
      "tiny frame must take the window path (bench plans frozen)")
    // The thread-scoped override wins (what the parity tests above
    // rely on), and only for the thread that set it.
    TopKAgg.forcing(agg = true) {
      assert(TopKAgg.engage(tiny))
      var other = true
      val t = new Thread(() => other = TopKAgg.engage(tiny))
      t.start()
      t.join()
      assert(!other, "a statement built on another thread saw the override")
    }
    // The threshold is the RankSelect-style bytes estimate: a frame the
    // optimizer prices above engageBytes engages. spark.range is priced
    // at 8 bytes/row, so 2^27 rows ≈ 1 GiB > the 512 MiB threshold
    // (re-fitted r16 from the sf30/sf100 dedicated-JVM A/B — the r15
    // 128 MiB line engaged a decade early; see TopKAgg.engageBytes).
    val big = spark.range(1L << 27).toDF("id")
    assert(TopKAgg.engage(big),
      "corpus-scale estimate must engage the bounded top-k aggregate")
    TopKAgg.forcing(agg = false) {
      assert(!TopKAgg.engage(big),
        "the window override must hold at any estimate")
    }
    // And the line itself is pinned: a silent re-constanting of the
    // measured cutover fails here (Round18-style constant pin).
    assert(TopKAgg.engageBytes == (1L << 29),
      "engageBytes re-fitted constant drifted from the measured 512 MiB")
  }
}
