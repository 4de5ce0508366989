package graft

import org.scalatest.funsuite.AnyFunSuite

/** Suite-wide physical-plan lint: EVERY query in the SparkEntry registry
  * must avoid the two plan shapes that are fatal at 100 TB regardless of
  * how correct the results are —
  *
  *  - `CartesianProductExec` (unconditioned all-pairs join of two
  *    distributed relations): banned outright, no exceptions.
  *  - `BroadcastNestedLoopJoin`: legal ONLY where one side is known
  *    bounded (a 1-row aggregate scalar, a literal frame, a <=100-row
  *    query set) — those queries are allowlisted BY NAME so a new
  *    unbounded BNLJ anywhere else fails the suite.
  *
  * This runs over the physical plan of all ~200 registered queries, so
  * any future query joining without an equi-condition is caught the
  * moment it lands, not in a round-N scale review.
  */
class PlanLintSpec extends AnyFunSuite {
  import SparkTestBase._

  /** Queries whose BroadcastNestedLoopJoin sides are provably bounded:
    * scalar aggregates (1 row), literal hyperplane/centroid frames
    * (<=64 rows), or capped query sets (<=100 rows) broadcast against
    * the stream. Each name is a documented, reviewed exception.
    */
  private val boundedBnlj = Set(
    "q_ann_cosine_topk", // <=100-row query set broadcast vs corpus
    "q_mine_hard_negatives", // 8-row anchor set broadcast vs corpus
    "q_ann_quant_rerank", // same query-set pattern, quantized coarse pass
    "q_ann_mmr_rerank", // 3-row query set broadcast; greedy over 8-row shortlists
    "q_ann_jl_rerank", // same pattern in JL space
    "q_ann_lsh_bucketed", // 60-row hyperplane literal frame
    "q_ann_ivf_cells", // centroid scalar frames
    "q_cluster_kmeans", // 1-row centroid scalars per iteration
    "q_dedup_semantic", // 1-row cell-stat scalars
    "q_dedup_embed", // bounded vec_id<1000 all-pairs exactness baseline
    "q_sim_cosine_pairs", // bounded doc_id<100 subset self-join
    "q_sim_jaccard_pairs", // bounded doc_id<100 subset self-join
    "q_embed_project", // 1-row corpus-stats scalar
    "q_sample_dsir", // 1-row smoothing-normalizer scalar
    "q_join_cross_theta", // the cross-join demo itself: 25-row regions
    "q_join_unique", // full-outer composition over 5-row sides
    "q_text_tfidf", // 1-row corpus-N scalar
    "q_text_surprisal", // 1-row vocab-total scalar
    "q_text_pmi", // 1-row corpus-total scalar
    "q_text_bigram_lm", // 1-row vocab-size scalar
    "q_text_entropy", // 1-row corpus scalar
    "q_curriculum_bins", // 1-row percentile-cuts scalar
    "q_agg_outliers_iqr", // 1-row quartile scalar
    "q_sample_temperature", // 1-row corpus-threshold scalar
    "q_graph_pagerank", // 1-row rank-mass scalars in the iteration
    "q_decontam_substring", // <=50-row snippet set broadcast vs corpus
    "q_decontam_semantic", // 16-row eval-embedding set broadcast vs corpus
    "q11_important_stock", // 1-row total-value threshold scalar (TPC-H Q11)
    "q22_sales_opportunity", // 1-row avg-acctbal scalar (TPC-H Q22)
    "q_agg_histogram", // 1-row min/max scalar defining bin width
    "q_audit_orphans", // four 1-row orphan counts zipped into one row
    "q_cohort_retention", // 1-row corpus-origin scalar
    "q_filter_adaptive", // 1-row P25-threshold scalar
    "q_graph_triangles", // three 1-row count scalars zipped into one row
    "q_text_bm25", // 1-row corpus N/avgdl scalar joined to query-term tf
    "q_audit_drift", // sources(≤~20 rows) × 1024-bucket literal frame
    "q_ann_pq_adc", // 5-row query-LUT frame broadcast vs the code table
    "q_ann_ivfpq", // 4-row cell centroid frame vs corpus/query sides
    "q_ann_ivfpq_index", // 4-row persisted cells table vs the query set
    "q_ann_ivfpq_delta", // same search plan over the delta-appended index
    "q_ann_pq_rerank", // 5-row query-LUT frame broadcast vs the code table
    "q_crossmodal_topk", // 6-row text query set broadcast vs the image-embedding store
    "q_crossmodal_ivf" // 4 literal-id cells + <=12-row probe set vs the store
  )

  /** Queries allowed an un-partitioned Window: documented single-task
    * exactness baselines whose distributed twin ships in the same repo.
    * Everything else must partition its windows — `OVER (ORDER BY ...)`
    * with no PARTITION BY sorts the whole relation in ONE task, the
    * quiet scale killer the r7 verdict flagged in q_audit_skew (since
    * rewritten to a partial/final percentile_approx aggregate).
    * EMPTY since round 9: q_agg_equidepth — the last entry — was
    * rewritten to the distributed exact-rank selection (range-partition
    * + in-partition sort + per-partition offsets; Aggregates.scala),
    * so the suite now plans ZERO un-partitioned windows.
    */
  private val globalWindowBaselines = Set.empty[String]

  test("no registered query plans an un-partitioned Window") {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LogicalPlan, Window, WindowGroupLimit}
    // A global window over a LIMIT-bounded subtree is fine (the single
    // task sees <= limit rows — q_sample_dsir ranks its top-100 output);
    // over an unbounded relation it is the single-task sort this lint bans.
    def bounded(p: LogicalPlan): Boolean =
      p.collectFirst { case _: GlobalLimit => () }.isDefined
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, build) =>
        val plan =
          try build(spark, sfDir).queryExecution.optimizedPlan
          catch { case e: Throwable => fail(s"$name failed to plan: $e") }
        val hits = plan.collect {
          case w: Window if w.partitionSpec.isEmpty && !bounded(w.child) =>
            "Window"
          case w: WindowGroupLimit
              if w.partitionSpec.isEmpty && !bounded(w.child) =>
            "WindowGroupLimit"
        }
        if (hits.nonEmpty && !globalWindowBaselines.contains(name))
          Some(s"$name: ${hits.mkString(",")} with empty partitionSpec")
        else None
    }
    assert(offenders.isEmpty,
      s"single-task global windows:\n  ${offenders.mkString("\n  ")}")
  }

  /** Queries allowed an explicit broadcast() HINT on a subtree that
    * scans a fact table: each is bounded by construction in a way the
    * mechanical check below can't see (a literal id filter selecting a
    * fixed query/eval set, never a corpus-growing fraction).
    */
  private val boundedFactBroadcasts = Set(
    // Grouped on a FIXED-DOMAIN categorical key — the broadcast side has
    // at most |domain| rows no matter the corpus size:
    "q_agg_median_mad", // per-l_returnflag medians (3 flags)
    "q_agg_outliers_iqr", // per-event_type quartiles (fixed type vocab)
    "q_link_fuzzy_blocked", // per-(lang,source) block counts (~100 rows)
    // Token-vocabulary model tables: grow with DISTINCT tokens, which
    // is Heaps-law sublinear on natural text — a deliberate, documented
    // scale judgment (SCALE.md), unlike a per-fact-key aggregate whose
    // cardinality tracks the corpus row count:
    "q_text_surprisal", // unigram count table
    "q_text_pmi", // unigram + bigram count tables
    "q_text_bigram_lm", // bigram-LM count tables
    // Literal-id filters selecting a FIXED query/eval set (a constant
    // number of rows however large the corpus grows):
    "q_ann_cosine_topk", // vec_id < 5 query vectors
    "q_ann_mmr_rerank", // vec_id < 3 query vectors (hint recurs per unrolled greedy round)
    "q_mine_hard_negatives", // vec_id < 8 anchor vectors
    "q_ann_quant_rerank", // same bounded query set
    "q_ann_jl_rerank", // same bounded query set + its projection
    "q_decontam_ngram", // doc_id < 50 eval-benchmark gram set
    "q_text_tfidf", // doc_id < 10 target-doc term set (df semi-join prune)
    "q_decontam_substring", // doc_id < 50 eval snippet set
    "q_decontam_semantic", // vec_id < 16 eval-embedding set
    "q_ann_pq_adc", // vec_id < 4 codebook + vec_id in [4,9) query LUTs
    "q_ann_ivfpq", // 4 cells, 4-entry residual codebook, 10 (q,cell) LUTs
    "q_ann_ivfpq_index", // vec_id in [4,9) query set vs the rerank join
    "q_ann_ivfpq_delta", // same bounded query set, delta-appended index
    "q_crossmodal_topk", // vec_id < 6 text query tower (6 rows)
    "q_crossmodal_ivf", // vec_id < 6 queries -> <=12 (q,cell) probe rows
    "q_ann_pq_rerank" // vec_id in [9,25) codebook + [4,9) query LUTs
  )

  /** Round-8 lesson, machine-checked: an explicit broadcast() on a
    * relation DERIVED FROM A FACT TABLE freezes the small-SF plan
    * forever — at the 100× scale point, hinted per-partkey aggregates
    * and high-volume order sets measured 10-20× slower than the same
    * query with the hint removed (AQE runtime-broadcasts them while
    * they are genuinely small and shuffle-joins at scale). A hint is
    * legitimate only when the hinted subtree is bounded by construction:
    * a GlobalLimit, a grouping on a fixed-domain key (≤1024-bucket
    * models), a 0-key scalar aggregate, or a literal id filter
    * (allowlisted by name above). Dim-table broadcasts (nation/region/
    * supplier/customer/part) are excused here — their growth caveats
    * are documented per-query (q8 pattern).
    */
  test("no broadcast hint on an unbounded fact-derived relation") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalRelation, LogicalPlan, ResolvedHint}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val facts = Set("lineitem", "orders", "events", "documents", "embeddings")
    def scansFact(p: LogicalPlan): Boolean = p.collectFirst {
      case l: LogicalRelation if (l.relation match {
        case f: HadoopFsRelation =>
          f.location.rootPaths.exists(rp =>
            facts.exists(t => rp.toString.contains(t + ".parquet")))
        case _ => false
      }) => ()
    }.isDefined
    def boundedSubtree(p: LogicalPlan): Boolean = p.collectFirst {
      case _: GlobalLimit => ()
      case a: Aggregate if a.groupingExpressions.isEmpty => ()
      // Grouping on a modular/bucketed key is a bounded model table
      // (≤ the modulus); detecting the modulus mechanically is out of
      // scope — those queries collect their bounded models to a
      // LocalRelation instead (q_sample_dsir precedent), which never
      // reaches here because the local relation severs the fact scan.
    }.isDefined
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, build) =>
        val plan =
          try build(spark, sfDir).queryExecution.analyzed
          catch { case e: Throwable => fail(s"$name failed to plan: $e") }
        val hits = plan.collect {
          // Only BROADCAST freezes a size assumption into the plan;
          // merge/shuffle-hash hints (q_join_merge_bigbig) pick among
          // scale-safe distributed strategies and are fine on facts.
          case h: ResolvedHint
              if h.hints.strategy.contains(
                org.apache.spark.sql.catalyst.plans.logical.BROADCAST) &&
                scansFact(h.child) && !boundedSubtree(h.child) => h
        }
        if (hits.nonEmpty && !boundedFactBroadcasts.contains(name))
          Some(s"$name: ${hits.size} unbounded fact-derived broadcast hint(s)")
        else None
    }
    assert(offenders.isEmpty,
      s"fact-derived broadcast hints (AQE should decide these):\n  ${offenders.mkString("\n  ")}")
  }

  /** Queries allowed a hash call inside a higher-order-function lambda:
    * each hashes a BOUNDED model-side frame (a fixed number of rows by
    * construction, independent of corpus size), where the interpreted-
    * lambda cost is a constant few thousand calls — noise. Corpus-side
    * lambdas are never excusable here (the 12× trap).
    */
  private val boundedLambdaHashes = Set(
    // Hyperplane generation: range(tables*bits) = 60-120 rows × 64
    // md5 calls building the literal random-projection frame — O(1)
    // in the corpus (the corpus-side projections below it are codegen'd
    // dot products, no lambda hashing).
    "q_ann_lsh_bucketed"
  )

  /** The ~12 µs/call interpreted-HOF hash trap, machine-checked: Spark
    * evaluates `transform`/`filter`/`aggregate` lambdas INTERPRETED (no
    * codegen), so md5/sha/xxhash inside a lambda over a corpus-derived
    * array costs ~12× the same hash as a scalar expression after an
    * explode. Found twice by hand (ngrams r7, containment dedup r8 —
    * measured 12× there); this lint makes a third occurrence impossible
    * to land silently. Fix shape when it fires: explode positions, hash
    * as a post-explode scalar (Dedup.scala:303 pattern).
    */
  test("no hash function inside a higher-order-function lambda") {
    import org.apache.spark.sql.catalyst.expressions.{Crc32, Expression, LambdaFunction, Md5, Murmur3Hash, Sha1, Sha2, XxHash64}
    def hashes(e: Expression): Seq[String] = e.collect {
      case _: Md5 => "md5"
      case _: Sha1 => "sha1"
      case _: Sha2 => "sha2"
      case _: Crc32 => "crc32"
      case _: XxHash64 => "xxhash64"
      case _: Murmur3Hash => "hash"
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, build) =>
        val plan =
          try build(spark, sfDir).queryExecution.optimizedPlan
          catch { case e: Throwable => fail(s"$name failed to plan: $e") }
        val hits = plan.flatMap(_.expressions).flatMap(expr =>
          expr.collect { case lf: LambdaFunction => lf }
            .flatMap(lf => hashes(lf.function)))
        if (hits.nonEmpty && !boundedLambdaHashes.contains(name))
          Some(s"$name: ${hits.distinct.mkString(",")} inside a lambda")
        else None
    }
    assert(offenders.isEmpty,
      s"interpreted-lambda hashing (explode + scalar-hash instead):\n  ${offenders.mkString("\n  ")}")
  }

  test("no registered query plans a cartesian product") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, build) =>
        val plan =
          try build(spark, sfDir).queryExecution.executedPlan.toString
          catch { case e: Throwable => fail(s"$name failed to plan: $e") }
        if (plan.contains("CartesianProduct")) Some(s"$name: CartesianProduct")
        else if (plan.contains("BroadcastNestedLoopJoin") &&
          !boundedBnlj.contains(name)) Some(s"$name: unlisted BNLJ")
        else None
    }
    assert(offenders.isEmpty,
      s"scale-fatal join shapes:\n  ${offenders.mkString("\n  ")}")
  }
}
