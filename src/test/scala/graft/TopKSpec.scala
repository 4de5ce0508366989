package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Law spec for the bounded top-k aggregate (`collect_topk`, Spark's
  * CollectTopK registered in HiveCompatFunctions): BIT-PARITY with the
  * rank-window form it replaces in the ANN candidate expansions —
  *
  *   row_number().over(Window.partitionBy(g).orderBy(key DESC)) <= k
  *     ≡  posexplode(collect_topk(struct(key fields...), k, false))
  *        with rank = pos + 1
  *
  * The window form is the semantic reference (and what the DuckDB
  * oracles replay as ROW_NUMBER CTEs); the aggregate form is the
  * scale-safe plan (map-side k-element buffers instead of a full sort
  * of the expansion before the rank exchange). If this equivalence
  * ever breaks — ordering drift, tie handling, buffer eviction bug —
  * the oracle hashes of every converted query break with it; this spec
  * localizes the failure to the kernel.
  */
class TopKSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // Deterministic synthetic relation with heavy ties in v (the tricky
  // case: rank order must fall back to the id tie-break) and groups of
  // size below, at, and above k.
  private def synth(n: Int) = {
    val rows = (0 until n).map { i =>
      val g = i % 7
      val id = i.toLong
      val v = math.round(math.sin(i * 2.39996) * 50.0) / 10.0 // many ties
      (g, id, v)
    }
    rows.toDF("g", "id", "v")
  }

  test("collect_topk(k largest, desc) == row_number window, ties broken by id") {
    val df = synth(500)
    for (k <- Seq(1, 2, 3, 10)) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("v").desc, col("id"))
      val windowForm = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select("g", "rn", "id", "v")
      // Struct ordering (v, -id): largest v first, then smallest id —
      // identical to the window's (v DESC, id ASC).
      val aggForm = df
        .groupBy("g")
        .agg(expr(s"collect_topk(struct(v, -id AS inv, id, v AS vv), $k, false)")
          .as("top"))
        .select(col("g"), posexplode(col("top")))
        .select(col("g"), (col("pos") + 1).as("rn"),
          col("col.id").as("id"), col("col.vv").as("v"))
      val a = windowForm.orderBy("g", "rn").collect().toSeq
      val b = aggForm.orderBy("g", "rn").collect().toSeq
      assert(a == b, s"k=$k: window and collect_topk disagree")
    }
  }

  test("collect_topk(k smallest, asc, reverse=true) == ascending window") {
    val df = synth(300)
    for (k <- Seq(1, 4)) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("id"))
      val windowForm = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k).select("g", "rn", "id")
      val aggForm = df
        .groupBy("g")
        .agg(expr(s"collect_topk(id, $k, true)").as("top"))
        .select(col("g"), posexplode(col("top")))
        .select(col("g"), (col("pos") + 1).as("rn"), col("col").as("id"))
      val a = windowForm.orderBy("g", "rn").collect().toSeq
      val b = aggForm.orderBy("g", "rn").collect().toSeq
      assert(a == b, s"k=$k: ascending window and collect_topk disagree")
    }
  }

  test("groups smaller than k emit exactly their size, in rank order") {
    val df = Seq((1, 10L, 1.0), (1, 11L, 2.0)).toDF("g", "id", "v")
    val out = df.groupBy("g")
      .agg(expr("collect_topk(struct(v, -id AS inv, id), 5, false)").as("t"))
      .select(posexplode(col("t")))
      .select(col("pos"), col("col.id").as("id")).collect()
    assert(out.map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((0, 11L), (1, 10L)))
  }

  test("partial/merge path (repartitioned input) matches single-partition") {
    val df = synth(400)
    def run(d: org.apache.spark.sql.DataFrame) = d
      .groupBy("g")
      .agg(expr("collect_topk(struct(v, -id AS inv, id), 3, false)").as("t"))
      .select(col("g"), col("t.id").as("ids"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(run(df.repartition(13)) == run(df.coalesce(1)))
  }

  test("perGroup law: window and collect_topk arms emit the same rows") {
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.rng.Seed
    import TopKAgg.{Asc, Desc}
    // Few groups and few distinct v/w values, so groups straddle k and
    // the rows at the k-th place tie on every key but the unique id.
    val row = for {
      g <- Gen.choose(0, 3)
      v <- Gen.choose(-3, 3)
      w <- Gen.choose(0, 2)
      p <- Gen.alphaLowerStr.map(_.take(3))
    } yield (g, v / 2.0, w.toLong, p)
    val frames = Gen.choose(1, 40).flatMap(Gen.listOfN(_, row))
      .map(_.zipWithIndex.map { case ((g, v, w, p), i) =>
        (g, v, w, i.toLong, p)
      })
    val orders = Seq(
      Seq("v" -> Asc, "id" -> Asc),
      Seq("v" -> Desc, "id" -> Desc),
      Seq("v" -> Desc, "id" -> Asc),
      Seq("v" -> Asc, "w" -> Desc, "id" -> Asc))
    val shapes = Seq((None, Nil), (Some("rn"), Seq("p")),
      (Some("rank"), Nil), (None, Seq("p", "w")))
    for (order <- orders; (rank, carry) <- shapes) {
      val carried = carry.filterNot(order.map(_._1).contains)
      val prop = Prop.forAllNoShrink(frames, Gen.choose(1, 4)) { (rows, k) =>
        val df = rows.toDF("g", "v", "w", "id", "p")
        def arm(agg: Boolean) =
          TopKAgg.perGroup(df, Seq("g"), order, k, carried, rank, agg)
            .collect().map(_.toString).toSeq.sorted
        val win = arm(agg = false)
        win.nonEmpty && win == arm(agg = true)
      }
      val res = Test.check(Test.Parameters.default
        .withMinSuccessfulTests(3).withInitialSeed(Seed(7L)), prop)
      assert(res.passed, s"order=$order rank=$rank carry=$carried: $res")
    }
  }
}
