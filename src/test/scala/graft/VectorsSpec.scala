package graft

import graft.operators.Vectors
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Laws of the product-quantization operators in operators/Vectors.scala,
  * each checked against a plain Scala replay over generated integer
  * vectors (fixed seed). The ANN statements' oracles pin these operators
  * only at the corpus's own values and at LUT width 4 mostly; here the
  * values span both tie-heavy small ranges and the quantizer's full
  * ±4000, and the codebooks carry deliberate duplicate entries.
  */
class VectorsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private type Vec = Seq[Long]

  private def vec(r: Int): Gen[Vec] =
    Gen.listOfN(64, Gen.choose(-r, r).map(_.toLong))

  private def sub(v: Vec, s: Int): Vec = v.slice(s * 8, s * 8 + 8)

  private def sq(a: Vec, b: Vec): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  /** A codebook of `width` entries whose last entry repeats an earlier
    * one, so every subspace has at least one exact distance tie, plus a
    * corpus and two queries, all with components in [−r, r]. */
  private def setup(width: Int, r: Int) = for {
    head <- Gen.listOfN(width - 1, vec(r))
    dup <- Gen.choose(0, width - 2)
    n <- Gen.choose(1, 10)
    corpus <- Gen.listOfN(n, vec(r))
    queries <- Gen.listOfN(2, vec(r))
  } yield (head :+ head(dup), corpus, queries)

  /** LUT widths 4 and 16, components tie-heavy (±3) and full-range. */
  private val shapes = for (width <- Seq(4, 16); r <- Seq(3, 4000))
    yield (width, r)

  private def check(name: String)(prop: Prop): Unit = {
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(6).withInitialSeed(Seed(7L)), prop)
    assert(res.passed, s"$name: $res")
  }

  private def frame(vs: Seq[Vec], firstId: Long) =
    vs.zipWithIndex.map { case (v, i) => (firstId + i, v.map(_.toDouble)) }
      .toDF("vec_id", "v")

  /** Codebook rows sliced by the operator, cid = position in `cb`. */
  private def codebook(cb: Seq[Vec]) =
    Vectors.codebook(frame(cb, 100), "v", 100)

  private def encoded(cb: Seq[Vec], corpus: Seq[Vec]) =
    Vectors.encode(Vectors.slices(frame(corpus, 0), "v", "vec_id"),
      codebook(cb))

  private def codesOf(cb: Seq[Vec], corpus: Seq[Vec]): Map[Long, Seq[Int]] =
    encoded(cb, corpus).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap

  test("slices: concatenating v in s order gives back the vector") {
    check("slices")(Prop.forAllNoShrink(Gen.choose(1, 8).flatMap(n =>
        Gen.listOfN(n, vec(4000)))) { vs =>
      val got = Vectors.slices(frame(vs, 0), "v", "vec_id")
        .collect().map(r => (r.getLong(0), r.getInt(1),
          r.getSeq[Double](2).map(_.toLong), r.getDouble(3)))
      val byId = got.groupBy(_._1)
      byId.size == vs.size && vs.indices.forall { i =>
        val parts = byId(i.toLong).sortBy(_._2)
        parts.map(_._2).toSeq == (0 until 8) &&
          parts.flatMap(_._3).toSeq == vs(i) &&
          parts.forall(p => p._4 == p._3.map(x => x * x).sum.toDouble)
      }
    })
  }

  test("encode: each code is the argmin of the squared distance, lowest cid on a tie") {
    for ((width, r) <- shapes) {
      val prop = Prop.forAllNoShrink(setup(width, r)) { case (cb, corpus, _) =>
        val codes = codesOf(cb, corpus)
        codes.size == corpus.size && corpus.indices.forall { i =>
          codes(i.toLong) == (0 until 8).map { s =>
            cb.indices.minBy(c => (sq(sub(corpus(i), s), sub(cb(c), s)), c))
          }
        }
      }
      check(s"encode width=$width r=$r")(prop)
    }
  }

  test("ADC over the LUT equals the sum of subspace distances to the coded entries") {
    for ((width, r) <- shapes) {
      val prop = Prop.forAllNoShrink(setup(width, r)) {
        case (cb, corpus, queries) =>
          val codes = codesOf(cb, corpus)
          val qs = frame(queries, 0).select(col("vec_id").as("q_id"),
            col("v").as("qv"))
          val lut = Vectors.lut(Vectors.slices(qs, "qv", "q_id"),
            codebook(cb), width, "q_id")
          val got = encoded(cb, corpus).crossJoin(lut)
            .select(col("q_id"), col("vec_id"), Vectors.adc(width))
            .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
            .toMap
          got.size == queries.size * corpus.size && got.forall {
            case ((q, id), adc) =>
              adc == (0 until 8).map { s =>
                sq(sub(queries(q.toInt), s), sub(cb(codes(id)(s)), s))
              }.sum
          }
      }
      check(s"adc width=$width r=$r")(prop)
    }
  }
}
