package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Hive-surface functions Spark lacks, re-expressed Spark-first.
  *
  * Most "gaps" in the Hive function registry (SURVEY.md §2.8) are pure
  * compositions of codegen'd built-ins, so we expose them as Column
  * combinators (zero UDF overhead, stays inside whole-stage codegen).
  * Only genuinely stateful aggregates (ngrams) need an Aggregator
  * (see [[NGramsAgg]]).
  *
  * Reference surface: Apache Hive FunctionRegistry
  * (ql/exec/FunctionRegistry.class, hive-exec-2.3.10) — see SURVEY.md §2.8.
  */
object HiveCompatFunctions {

  // Keyed on the session OBJECT (SparkSession uses identity equality),
  // not identityHashCode: hash values are not unique across live
  // sessions and are reused after GC, which would silently skip
  // registration — including the load-bearing nanosAsLong conf — for a
  // colliding session. WeakHashMap lets dead sessions be collected.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Idempotent per-session registration of SQL-visible functions and
    * session-wide conf that affects reads (set once here, not per-read —
    * a per-table `conf.set` would be a racy hidden side effect).
    *
    * Registration runs under the map's lock: a second thread calling
    * ensure() for the same session blocks until the first finishes, so
    * no caller can proceed to a query while the load-bearing kernels
    * (minhash_sigs / dot_f / simhash64) or the nanosAsLong conf are
    * only half-registered. Registration is quick and once-per-session;
    * serializing it is free.
    */
  def ensure(spark: SparkSession): Unit = registered.synchronized {
    if (registered.put(spark, java.lang.Boolean.TRUE) == null) {
      // events.ts is parquet INT64 TIMESTAMP(NANOS); Spark 4 only reads it
      // via the legacy nanos-as-long path (see T.t).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.udf.register("ngrams_top",
        org.apache.spark.sql.functions.udaf(new NGramsAgg(2, 20)))
      spark.udf.register("context_ngrams_after",
        org.apache.spark.sql.functions.udaf(
          new ContextNGramsAgg(Seq(Some("spark"), None), 20)))
      // Native codegen'd Expression (not a UDF): see JaccardParts.
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "jaccard_parts",
        exprs => {
          require(exprs.length == 2,
            s"jaccard_parts requires exactly 2 arguments, got ${exprs.length}")
          JaccardParts(exprs(0), exprs(1))
        }, "built-in")
      // Native codegen'd embedding kernel: see DotProduct.
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "dot_f",
        exprs => {
          require(exprs.length == 2,
            s"dot_f requires exactly 2 arguments, got ${exprs.length}")
          DotProduct(exprs(0), exprs(1))
        }, "built-in")
      // Native one-pass MinHash signature kernel: see MinHashSigs.
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "minhash_sigs",
        exprs => {
          require(exprs.length == 2,
            s"minhash_sigs requires exactly 2 arguments, got ${exprs.length}")
          val k = exprs(1) match {
            case lit if lit.foldable =>
              lit.eval() match {
                case i: Int => i
                case other => throw new IllegalArgumentException(
                  s"minhash_sigs count must be an int literal, got $other")
              }
            case _ => throw new IllegalArgumentException(
              "minhash_sigs count must be a literal")
          }
          MinHashSigs(exprs(0), k)
        }, "built-in")
      // Native one-pass SimHash kernel: see SimHash64.
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "simhash64",
        exprs => {
          require(exprs.length == 1,
            s"simhash64 requires exactly 1 argument, got ${exprs.length}")
          SimHash64(exprs(0))
        }, "built-in")
      // Oracle-replayable 60-bit variant on the portable md5 h60 token
      // hash: see SimHash60.
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "simhash60",
        exprs => {
          require(exprs.length == 1,
            s"simhash60 requires exactly 1 argument, got ${exprs.length}")
          SimHash60(exprs(0))
        }, "built-in")
      // Bounded top-k aggregate (see TopKAgg.scala): the map-side
      // replacement for rank-window shapes over candidate expansions.
      // k and reverse must be literals (plan constants).
      // TOTAL-ORDERING REQUIREMENT (ADVICE r15): offer() keeps the
      // incumbent on a comparison tie, so the keep-set is
      // partitioning-INDEPENDENT only when the child's ordering is
      // total over each group — callers must encode a unique trailing
      // tie-break field (every site here passes struct(key, …, id)
      // with a unique id, or a unique scalar). A caller with boundary
      // ties would get a deterministic-per-plan but
      // partitioning-dependent keep-set — not a drop-in row_number
      // replacement. TopKAgg.perGroup: its last order key must be unique.
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "collect_topk",
        exprs => {
          require(exprs.length == 3,
            s"collect_topk requires 3 arguments, got ${exprs.length}")
          val k = exprs(1) match {
            case l if l.foldable => l.eval() match {
              case i: Int => i
              case other => throw new IllegalArgumentException(
                s"collect_topk k must be an int literal, got $other")
            }
            case _ => throw new IllegalArgumentException(
              "collect_topk k must be a literal")
          }
          val rev = exprs(2) match {
            case l if l.foldable => l.eval() match {
              case b: Boolean => b
              case other => throw new IllegalArgumentException(
                s"collect_topk reverse must be a boolean literal, got $other")
            }
            case _ => throw new IllegalArgumentException(
              "collect_topk reverse must be a literal")
          }
          TopKAgg(exprs(0), k, rev)
        }, "built-in")
      // Theta sketch family (see ThetaSketch.scala): mergeable distinct
      // sketches with set algebra (intersection/difference — HLL can't).
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "theta_sketch_agg",
        exprs => {
          require(exprs.length == 1,
            s"theta_sketch_agg requires exactly 1 argument, got ${exprs.length}")
          ThetaSketchAgg(exprs(0))
        }, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "theta_union_agg",
        exprs => {
          require(exprs.length == 1,
            s"theta_union_agg requires 1 argument, got ${exprs.length}")
          ThetaUnionAgg(exprs(0))
        }, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "theta_estimate",
        exprs => {
          require(exprs.length == 1,
            s"theta_estimate requires 1 argument, got ${exprs.length}")
          ThetaEstimate(exprs(0))
        }, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "theta_intersect_estimate",
        exprs => ThetaIntersectEstimate(exprs(0), exprs(1)), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "theta_union_estimate",
        exprs => ThetaUnionEstimate(exprs(0), exprs(1)), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "theta_anotb_estimate",
        exprs => ThetaAnotBEstimate(exprs(0), exprs(1)), "built-in")
      // Frequent-items sketch (see FreqSketch.scala): mergeable heavy
      // hitters; k must be a literal (plan-time constant).
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "freq_sketch_topk",
        exprs => {
          require(exprs.length == 2,
            s"freq_sketch_topk requires 2 arguments, got ${exprs.length}")
          val k = exprs(1) match {
            case l if l.foldable => l.eval() match {
              case i: Int => i
              case other => throw new IllegalArgumentException(
                s"freq_sketch_topk k must be an int literal, got $other")
            }
            case _ => throw new IllegalArgumentException(
              "freq_sketch_topk k must be a literal")
          }
          FreqSketchTopK(exprs(0), k)
        }, "built-in")
      // KLL quantile sketch family (see KllSketch.scala): mergeable
      // rank/quantile sketches; k must be a literal (plan-time constant).
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "kll_sketch_agg",
        exprs => {
          require(exprs.length == 2,
            s"kll_sketch_agg requires 2 arguments, got ${exprs.length}")
          val k = exprs(1) match {
            case l if l.foldable => l.eval() match {
              case i: Int => i
              case other => throw new IllegalArgumentException(
                s"kll_sketch_agg k must be an int literal, got $other")
            }
            case _ => throw new IllegalArgumentException(
              "kll_sketch_agg k must be a literal")
          }
          KllSketchAgg(exprs(0), k)
        }, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "kll_union_agg",
        exprs => {
          require(exprs.length == 1,
            s"kll_union_agg requires 1 argument, got ${exprs.length}")
          KllUnionAgg(exprs(0))
        }, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "kll_quantile",
        exprs => {
          require(exprs.length == 2,
            s"kll_quantile requires 2 arguments, got ${exprs.length}")
          KllQuantile(exprs(0), exprs(1))
        }, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "kll_n",
        exprs => {
          require(exprs.length == 1,
            s"kll_n requires 1 argument, got ${exprs.length}")
          KllN(exprs(0))
        }, "built-in")
    }
  }

  // --- string gaps -------------------------------------------------------

  /** Hive `field(x, v1, v2, ...)`: 1-based index of x in the list, 0 if
    * absent. Pure composition → codegen'd, no UDF.
    */
  def field(x: Column, vs: Column*): Column =
    coalesce(array_position(array(vs: _*), x), lit(0L))

  /** Hive `find_in_set(x, 'a,b,c')`: 1-based index in a comma list. */
  def findInSet(x: Column, set: Column): Column =
    coalesce(array_position(split(set, ","), x), lit(0L))

  /** Hive `sort_array_by(arr_of_struct, 'f')`: sort array of structs by one
    * field, ascending (nulls first, like Hive).
    */
  def sortArrayBy(arr: Column, fld: String): Column =
    array_sort(arr, (a, b) =>
      when(a(fld) < b(fld), -1).when(a(fld) > b(fld), 1).otherwise(0))

  // --- masking (Hive GenericUDFMask* family) -----------------------------

  /** Hive `mask`: upper→X, lower→x, digit→n. */
  def mask(c: Column): Column =
    regexp_replace(
      regexp_replace(regexp_replace(c, "[A-Z]", "X"), "[a-z]", "x"),
      "[0-9]", "n")

  /** mask_first_n: mask only the first n chars. */
  def maskFirstN(c: Column, n: Int): Column =
    concat(mask(c.substr(lit(1), lit(n))), c.substr(lit(n + 1), length(c)))

  /** mask_last_n: mask only the last n chars. */
  def maskLastN(c: Column, n: Int): Column =
    concat(
      c.substr(lit(1), greatest(length(c) - n, lit(0))),
      mask(c.substr(greatest(length(c) - n + 1, lit(1)), lit(n))))

  /** mask_hash: deterministic hash of the value (Hive uses md5/sha256). */
  def maskHash(c: Column): Column = md5(c.cast("string"))

  // --- UNIONTYPE encoding (SURVEY.md §1.2 / §7.5.2) ----------------------
  // Hive UNIONTYPE<T0,T1,...> has no Spark twin; encode as a tagged struct
  // STRUCT<tag: TINYINT, field0: T0, field1: T1, ...> that round-trips
  // through parquet.

  /** create_union(tag, v0, v1, ...): tagged-struct encoding. Fields other
    * than the active tag are NULL.
    */
  def createUnion(tag: Column, vs: Column*): Column = {
    val fields = vs.zipWithIndex.map { case (v, i) =>
      when(tag === i, v).as(s"field$i")
    }
    struct((tag.cast("tinyint").as("tag") +: fields): _*)
  }

  /** extract_union(u): pass-through (the struct IS the exploded view). */
  def extractUnion(u: Column): Column = u
}
