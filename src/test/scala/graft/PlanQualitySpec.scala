package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the properties that make these
  * queries scale are asserted, not just benchmarked — a change that
  * un-broadcasts a dim join or drops predicate pushdown fails here
  * before it shows up as a 10× bench regression at 100 TB.
  */
class PlanQualitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q_tpch_q6: all predicates pushed to the parquet scan") {
    val p = plan("q_tpch_q6")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate lower bound not pushed")
    assert(p.contains("LessThanOrEqual(l_discount,0.07)"), "discount bound not pushed")
    assert(p.contains("LessThan(l_quantity,24.0)"), "quantity bound not pushed")
  }

  test("q_tpch_q6: scan is column-pruned to the 4 needed columns") {
    val p = plan("q_tpch_q6")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_quantity") && read.contains("l_discount"))
    assert(!read.contains("l_orderkey") && !read.contains("l_returnflag"),
      s"scan reads more than needed: $read")
  }

  test("q_topk compiles to TakeOrderedAndProject (no global sort)") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
  }

  test("q_dim_join and q_revenue_by_nation broadcast their dims") {
    assert(plan("q_dim_join").contains("BroadcastHashJoin"))
    assert(plan("q_revenue_by_nation").contains("BroadcastHashJoin"))
  }

  test("q_latest_per_key gets the WindowGroupLimit rank pushdown") {
    assert(plan("q_latest_per_key").contains("WindowGroupLimit"))
  }

  test("no accidental nested-loop/cartesian joins in the join queries") {
    Seq("q_revenue_by_nation", "q_dim_join", "q_merge_upsert", "q_lsh_pairs", "q_ngram_jaccard")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      }
  }

  test("round-5 corpus-stats queries: term equi-joins only, no cartesian blowup") {
    // each carries a 1-row broadcast totals frame (plans as
    // BroadcastNestedLoopJoin over one row — constant cost); what must
    // never appear is a CartesianProduct between data-scale frames
    Seq("q_pmi_bigrams", "q_lm_xent", "q_lm_bigram", "q_rouge2",
        "q_source_overlap", "q_cms_words", "q_curation")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      }
  }

  test("q_curation: the source cap still plans as WindowGroupLimit") {
    assert(plan("q_curation").contains("WindowGroupLimit"),
      "curation cap stage lost the rank pushdown")
  }

  test("q_semantic_dedup: cluster equi-join pairs, centroid broadcast only") {
    val p = plan("q_semantic_dedup")
    assert(!p.contains("CartesianProduct"), "semantic dedup has a data-scale cartesian")
    // within-cluster pair generation must be the bucket equi-join
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), "bucket equi-join missing")
  }

  test("q_shingle_cosine: term-partitioned equi-joins only, no cartesian") {
    val p = plan("q_shingle_cosine")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "sparse cosine must stay on shingle-key equi-joins")
  }

  test("round-5b additions: no data-scale cartesian anywhere") {
    // 1-row broadcast anchors (totals/weights frames) plan as
    // BroadcastNestedLoopJoin over one row — constant; what must never
    // appear is CartesianProduct between data-scale frames
    Seq("q_anomaly", "q_ks_drift", "q_moments", "q_salted_join", "q_containment",
        "q_logreg", "q_rrf", "q_target_encode", "q_chi2", "q_retrieval_eval",
        "q_kcore", "q_embed_dims")
      .foreach { q =>
        assert(!plan(q).contains("CartesianProduct"), s"$q has a cartesian product")
      }
  }

  test("q_target_encode: category frame joins as broadcast") {
    assert(plan("q_target_encode").contains("BroadcastHashJoin"),
      "per-category frame must broadcast, not shuffle the feed")
  }

  test("q_ks_drift: local prefix windows are partitioned by bucket (parallel, not one reducer)") {
    val p = plan("q_ks_drift")
    val bucketPartitioned = p.linesIterator.exists(l =>
      l.contains("hashpartitioning(bkt"))
    assert(bucketPartitioned,
      "two-level prefix sum lost its bucket partitioning (ECDF cumsum fell back to one reducer)")
  }

  test("aggregations are partial+final (map-side combine present)") {
    val p = plan("q_conditional_agg")
    // two HashAggregate stages around the exchange
    assert("HashAggregate".r.findAllIn(p).length >= 2)
    assert(p.contains("hashpartitioning("))
  }

  test("q_health_gates scans events exactly 3 times (global + per-type + per-minute)") {
    val p = plan("q_health_gates")
    // formatted explain prints each node in the tree AND the detail list;
    // count the detail headers ("(<id>) Scan parquet") = distinct scan nodes
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans == 3, s"expected 3 events scans, plan has $scans")
  }

  test("q_merge_upsert dedups via hash aggregate, not a window sort") {
    val p = plan("q_merge_upsert")
    assert(!p.contains("Window"), "merge legs regressed to a window sort")
    assert(p.contains("max_by") || p.contains("HashAggregate"))
  }

  test("q_dash_actionable gets the WindowGroupLimit rank pushdown") {
    assert(plan("q_dash_actionable").contains("WindowGroupLimit"))
  }

  test("q_baseline_registry resolution joins broadcast (tiny dim)") {
    assert(plan("q_baseline_registry").contains("BroadcastHashJoin"))
  }

  test("q_dash_dim_fallback broadcasts the customer/nation dims") {
    val p = plan("q_dash_dim_fallback")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_asof_join: union-tag shape — zero join nodes, one window pass") {
    val p = plan("q_asof_join")
    assert(!p.contains("Join"), "asof regressed to a join formulation")
    assert(p.contains("Window"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_simhash64_pairs: banded equi-join, no cartesian") {
    val p = plan("q_simhash64_pairs")
    assert(!p.contains("CartesianProduct"), "64-bit simhash pairing must stay an equi-join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"))
  }

  test("q_decontaminate: eval side broadcast, no cartesian") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "eval shingles must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_dedup_prefix: normalize work bounded — substring applied before the regex") {
    val p = plan("q_dedup_prefix")
    // the bounded head-slice must sit INSIDE regexp_replace's argument:
    // regex cost is then O(prefixLen*5) per row, not O(doc length)
    assert(p.contains("regexp_replace(lower(substring("),
      "prefix normalization regressed to a full-text regex pass")
  }

  test("q_tpch_q5/q10: one fact⋈fact shuffle, every dim broadcast, filters pushed") {
    for (q <- Seq("q_tpch_q5", "q_tpch_q10")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      // lineitem⋈orders is the only shuffle join; all dims broadcast
      assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).length <= 1,
        s"$q shuffles more than the single fact-fact join")
      assert(p.contains("BroadcastHashJoin"), s"$q dims not broadcast")
      assert(p.contains("PushedFilters:"), s"$q filters not pushed")
    }
    // the quarter bound must reach the orders scan, not a post-filter
    assert(plan("q_tpch_q10").contains("GreaterThanOrEqual(o_orderdate"),
      "q10 orderdate bound not pushed to the orders scan")
  }

  test("q_tpch_q14: part side broadcast, single-row aggregate, no shuffle beyond the agg") {
    val p = plan("q_tpch_q14")
    assert(p.contains("BroadcastHashJoin"), "part must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q_source_cap gets the WindowGroupLimit rank pushdown") {
    assert(plan("q_source_cap").contains("WindowGroupLimit"))
  }

  test("q_pii_scrub is a pure projection — no shuffle before the final sort") {
    val p = plan("q_pii_scrub")
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      "redaction must stay a scan+project pipeline")
  }

  test("q_editdist_pairs/q_winnow: variant/fingerprint equi-joins, never cartesian") {
    for (q <- Seq("q_editdist_pairs", "q_winnow")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must pair via the derived-key equi-join, not all-pairs")
      assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(p).nonEmpty,
        s"$q lost its equi-join")
    }
  }

  test("q_weighted_sample compiles to TakeOrderedAndProject (top-k, no full sort)") {
    assert(plan("q_weighted_sample").contains("TakeOrderedAndProject"))
  }

  test("q_bm25: vocabulary and corpus stats broadcast; no shuffle join on the term table") {
    val p = plan("q_bm25")
    assert(p.contains("BroadcastHashJoin"), "df table must broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"), "term join must not shuffle both sides")
  }

  test("q_heavy_hitters: MG sketch aggregates partial+final (map-side counters)") {
    val p = plan("q_heavy_hitters")
    // TypedImperativeAggregate plans as ObjectHashAggregate; partial on
    // the scan side + final after a 1-partition exchange
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      "MG sketch must combine map-side, not ship raw terms")
  }

  test("q_neg_sample: candidate pool broadcast (anchors never shuffle)") {
    val p = plan("q_neg_sample")
    assert(p.contains("BroadcastExchange"), "pool must broadcast")
    assert(!p.contains("CartesianProduct"), "anchors × pool must use the broadcast loop")
  }

  test("q_string_sim/q_inverted_index/q_resample: keyed joins and aggs, never cartesian") {
    for (q <- Seq("q_string_sim", "q_inverted_index", "q_resample")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must stay on keyed equi-joins")
    }
  }

  test("q_group_topk: native heap aggregate combines map-side (partial ObjectHashAggregate)") {
    val p = plan("q_group_topk")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      "bounded-heap top-k must prune before the shuffle")
    assert(!p.contains("Window"), "the native agg path must not fall back to a window sort")
  }

  test("q_winnow reads fingerprints from the cache barrier (md5 chain evaluated once)") {
    // without the leaf below the explode, the optimizer's inferred
    // size()>0 pre-filter inlines the token→md5→window-min chain ~8×
    // into one Filter (measured 82× slower at sf0.1); the barrier must
    // stay in the plan, as a leaf scan
    val p = plan("q_winnow")
    assert(p.contains("Scan ExistingRDD"),
      "winnow fingerprint leaf barrier lost — the explode pre-filter will re-run the md5 chain")
    val chains = "asciitokens".r.findAllIn(p.toLowerCase).length
    assert(chains <= 2, s"tokenizer appears $chains times — expression chain duplicated again")
  }

  test("tpch subquery family: decorrelated to semi/anti equi-joins, never cartesian") {
    // Q2 scalar-min, Q4 EXISTS, Q11 HAVING-scalar, Q20 nested IN,
    // Q21 EXISTS+NOT EXISTS: every subquery must become a keyed join
    for (q <- Seq("q_tpch_q2", "q_tpch_q4", "q_tpch_q11", "q_tpch_q16",
        "q_tpch_q20", "q_tpch_q21")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q subquery fell back to all-pairs")
    }
    assert(plan("q_tpch_q4").contains("LeftSemi"), "q4 EXISTS lost its semi join")
    val q20 = plan("q_tpch_q20")
    assert("LeftSemi".r.findAllIn(q20).length >= 2, "q20 nested INs must both be semi joins")
    val q21 = plan("q_tpch_q21")
    assert(q21.contains("LeftSemi") && q21.contains("LeftAnti"),
      "q21 EXISTS/NOT EXISTS must plan as the semi+anti pair")
  }

  test("q_tpch_q16: NOT IN plans as a NULL-AWARE anti join (typed check)") {
    // a plain anti join would silently give the wrong answer the day
    // the exclusion subquery produces a NULL; string plans don't show
    // the flag, so assert on the physical operator itself
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val root = SparkEntry.queries("q_tpch_q16")(spark, dir).queryExecution.executedPlan
    val phys = root match { case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p }
    val antis = phys.collect {
      case b: BroadcastHashJoinExec if b.joinType.toString == "LeftAnti" => b
    }
    assert(antis.nonEmpty, "q16 NOT IN lost its anti join")
    assert(antis.exists(_.isNullAwareAntiJoin),
      "q16 NOT IN must stay null-aware — a plain anti join has different NULL semantics")
  }

  test("q_tpch_q9/q_tpch_q12: dims broadcast, at most the fact-fact shuffle join") {
    for (q <- Seq("q_tpch_q9", "q_tpch_q12")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q cartesian")
      assert(p.contains("BroadcastHashJoin"), s"$q dims not broadcast")
      assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).length <= 1,
        s"$q shuffles more than the single fact-fact join")
    }
    // Q9's LIKE filter must reach the part scan
    assert(plan("q_tpch_q9").contains("StringContains(p_name,gear)"),
      "q9 part LIKE filter not pushed to the scan")
  }

  test("q_embed_pq/q_embed_ivfpq: code-space equi-joins + map-side heap combine") {
    for (q <- Seq("q_embed_pq", "q_embed_ivfpq")) {
      val p = plan(q)
      // the centroid fan-outs (ivfAssign/ivfProbe) are deliberate tiny
      // broadcast cross joins; the CODE-side scoring must never be
      assert(!p.contains("CartesianProduct"), s"$q has a non-broadcast cartesian")
      // the bounded-heap top-k must combine map-side (partial + final)
      assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
        s"$q top-k lost its map-side heap combine")
      assert(p.contains("BroadcastExchange"), s"$q codebook/dot-table must broadcast")
    }
  }

  test("q_knn_triangles: kNN-graph reads LSH signatures from the cache barrier (chain computed once)") {
    // queries ARE the corpus here: without the shared persisted
    // signature frame, both band legs re-run the plane fan-out +
    // groupBy chain over the full corpus (measured ~0.5s of pure
    // recompute per consumer query at sf0.1). Since round 10 the
    // census result is materialized to a checkpoint LEAF (r10
    // optimization: downstream actions read a flat scan instead of
    // re-analyzing the lineage), so the strongest acceptable plan is
    // a bare ExistingRDD scan — nothing left to recompute at all; a
    // cached InMemoryTableScan (the pre-r10 shape) also satisfies the
    // computed-once property.
    val p = plan("q_knn_triangles")
    assert(p.contains("InMemoryTableScan") ||
      (p.contains("Scan ExistingRDD") && !p.contains("BroadcastNestedLoopJoin")),
      "kNN-graph signature barrier lost — both band legs will recompute the LSH chain")
  }

  test("q_ema_decay/q_paths: one window partitioning, no extra shuffles") {
    for (q <- Seq("q_ema_decay", "q_paths")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q cartesian")
      // both window passes share the user_id partitioning: exactly one
      // hashpartitioning exchange on user_id feeding the window stage
      val shuffles = "hashpartitioning\\(user_id".r.findAllIn(p).length
      assert(shuffles >= 1, s"$q lost its keyed window exchange")
    }
  }

  test("q_dsir: B-row models broadcast into the scoring join, no cartesian") {
    val p = plan("q_dsir")
    assert(!p.contains("CartesianProduct"), "dsir has a non-broadcast cartesian")
    // the log-ratio frame (≤ B rows) must reach the per-feature scoring
    // join as a broadcast — a shuffle join here repartitions the full
    // exploded feature stream by bucket (64 hot keys = skew by design)
    assert(p.contains("BroadcastHashJoin"), "dsir lam model must broadcast-join the feature stream")
  }

  test("q_dsir/q_shingle_cosine: no plan they optimize holds a lambda (HigherOrderFunction)") {
    // `transform` and its kin are CodegenFallback: their lambda bodies
    // run as interpreted expression trees per element. A probe rule in
    // the optimizer sees every plan optimized while the query is built
    // (the leaves it cuts) and planned, not only the final one.
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.catalyst.rules.Rule
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    var plans = 0
    object Probe extends Rule[LogicalPlan] {
      def apply(p: LogicalPlan): LogicalPlan = {
        plans += 1
        p.foreach(_.expressions.foreach(_.foreach {
          case h: HigherOrderFunction => seen += h.prettyName
          case _ =>
        }))
        p
      }
    }
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ Probe
    try Seq("q_dsir", "q_shingle_cosine").foreach { q =>
      plans = 0
      SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
      assert(plans > 0, s"$q: the probe saw no plan")
      assert(seen.isEmpty, s"$q optimizes lambdas: ${seen.distinct.mkString(", ")}")
    } finally spark.experimental.extraOptimizations = before
  }

  test("q_blocking_eval: truth discovery and banding are equi-joins, metrics sides broadcast") {
    val p = plan("q_blocking_eval")
    assert(!p.contains("CartesianProduct"), "blocking audit must never go all-pairs")
    // the shared-shingle truth join and the band join both hash-join
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "truth/banding equi-joins missing")
  }

  test("q_water_fill: windows run over the domain-level frame, after one keyed aggregation") {
    val p = plan("q_water_fill")
    assert(!p.contains("CartesianProduct"), "water-fill cartesian")
    // per-domain totals are a partial+final aggregate on the stratum
    // key before any window touches the data
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "domain totals lost the partial+final aggregation")
    assert(p.contains("Window"), "cap solve must stay declarative (window over domains)")
  }

  test("q_embed_decon: eval side is the broadcast side of the scoring loop") {
    val p = plan("q_embed_decon")
    // the cross-score is INTENDED as a broadcast nested loop (eval set
    // is benchmark-sized); what must never appear is a non-broadcast
    // cartesian between two corpus-scale frames
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "eval set must broadcast into the train-side scan")
    assert(!p.contains("CartesianProduct"), "decon went non-broadcast all-pairs")
  }

  test("q_repeated_spans: window-df via partial+final aggregate, hash equi-join back, no cartesian") {
    val p = plan("q_repeated_spans")
    assert(!p.contains("CartesianProduct"), "repeated-spans went all-pairs")
    // df aggregation must keep the map-side partial (the 100 TB lever on
    // a |tokens|-row explode), and the join back to positions is keyed
    // on the window hash
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "window-df lost the partial+final aggregation")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "repeated-window join must stay an equi-join")
  }

  // q_mmr / q_bpe_merges have no externally-pinnable plan: their
  // results are lineage-truncated per round (the loop contract), so
  // the outer plan is a checkpoint-leaf read. Their scale shapes are
  // pinned behaviorally instead (SelectionSpec: shuffle-free round
  // semantics + determinism; BpeSpec: partitioning-invariant fit).

  test("q_token_drift: per-slice term aggregates keep the map-side partial, term equi-join") {
    val p = plan("q_token_drift")
    assert(!p.contains("CartesianProduct"), "token drift went all-pairs")
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "per-term counts lost the partial+final aggregation")
    assert(p.contains("FullOuter") || p.contains("SortMergeJoin"),
      "union-vocab join must stay a keyed full-outer")
  }

  test("q_raking/q_temp_mix: corpus collapses to the grid in one pass, rounds are broadcast joins") {
    Seq("q_raking", "q_temp_mix").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian between data-scale frames")
      assert(p.contains("BroadcastExchange"),
        s"$q stratum totals must broadcast, not shuffle the grid")
    }
  }

  test("q_linkage: marginal aggregates + pair equi-joins, params broadcast") {
    val p = plan("q_linkage")
    assert(!p.contains("CartesianProduct"), "linkage went all-pairs")
    assert(p.contains("BroadcastExchange"), "m/u parameter row must broadcast")
  }

  test("round-5c additions: keyed shapes only, no data-scale cartesian") {
    // the 1-row broadcast anchors (totals/params frames) plan as
    // BroadcastNestedLoopJoin over one row — constant cost; a
    // CartesianProduct between data-scale frames is the failure mode
    Seq("q_w1_drift", "q_psi_drift", "q_cusum", "q_seasonal", "q_term_mi",
        "q_markov", "q_rfm", "q_benford", "q_bootstrap_ci", "q_kanon",
        "q_fairness", "q_brier", "q_diversity", "q_blocklist", "q_linkage")
      .foreach { q =>
        assert(!plan(q).contains("CartesianProduct"), s"$q has a cartesian product")
      }
  }

  test("q_bootstrap_ci/q_diversity: replicate and gram aggregates keep the map-side partial") {
    Seq("q_bootstrap_ci", "q_diversity").foreach { q =>
      val p = plan(q)
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$q lost the partial+final aggregation")
    }
  }

  test("round-5d additions: keyed shapes only, no data-scale cartesian") {
    // q_silhouette's broadcast-centroid cross plans as
    // BroadcastNestedLoopJoin (constant k rows) — allowed; a
    // CartesianProduct between data-scale frames is the failure mode
    Seq("q_spearman", "q_gini", "q_theil", "q_tcloseness", "q_holt",
        "q_curriculum", "q_sorted_blocking", "q_cramers_v", "q_label_noise",
        "q_rolling_corr", "q_ccf", "q_silhouette", "q_bpe_encode")
      .foreach { q =>
        assert(!plan(q).contains("CartesianProduct"), s"$q has a cartesian product")
      }
  }

  test("q_curriculum head folds to TakeOrderedAndProject (no global sort before the limit)") {
    assert(plan("q_curriculum").contains("TakeOrderedAndProject"))
  }

  test("containment/blocking exact-verify uses the sorted-merge intersect expression") {
    // regression guard for the round-5d hot-loop fix: a fallback to
    // array_intersect (per-pair hash set + result array) would pass
    // correctness and silently double the two slowest bench queries
    val p = plan("q_containment").toLowerCase
    assert(p.contains("sortedintersectcount"),
      "q_containment lost the SortedIntersectCount expression")
    assert(!p.contains("array_intersect"), "q_containment reintroduced array_intersect")
    // blockingQuality cuts its verify leg to a checkpoint leaf (the
    // round-6 double-compute fix), so the expression is invisible in
    // the final realized plan — pin it on the factored-out truth leg
    // directly, same pre-barrier pattern as the q_pca_top test
    val sh = graft.core.Tables(spark, dir, "documents")
      .withColumn("__tokens", graft.functions.TextAnalysis.tokens("text"))
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.TextAnalysis.shingles("__tokens", 3).as("sh"))
    val tp = graft.operators.Dedup.blockingTruthPairs(sh, "doc_id", 0.5)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .toLowerCase
    assert(tp.contains("sortedintersectcount"),
      "blockingTruthPairs lost the SortedIntersectCount expression")
    assert(!tp.contains("array_intersect"), "blockingTruthPairs reintroduced array_intersect")
  }

  test("q_spearman: rank maps attach via equi-joins; no row-level global window") {
    val p = plan("q_spearman")
    // the only windows allowed are over the per-distinct-value frames
    // (two-level prefix sum); the row-scale frame must join, not sort
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), "rank attach join missing")
  }

  test("q_pca_top: per-round state is broadcast; corpus touched by keyed aggregates only") {
    // the fit materializes through persisted frames, so pin the shape on
    // the operator's first round directly rather than the checkpoint leaf
    val exc = graft.core.Tables(spark, dir, "embeddings")
    val p = graft.operators.Pca.powerIteration(exc, "vec_id", "embedding", iters = 1)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), "pca has a data-scale cartesian")
  }

  test("round-6 graph additions: no data-scale cartesian; temporal predicate rides the equi-join") {
    // broadcast 1-row crosses are fine; a CartesianProduct between
    // data-scale frames is the failure mode. For temporalReach the
    // ts >= arr inequality must be a residual on the node equi-join,
    // never the join itself (BNLJ over edges x state would be O(E*V)).
    Seq("q_temporal_reach", "q_betweenness", "q_harmonic", "q_random_walks",
        "q_densest", "q_ktruss").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q degraded to a nested-loop join")
    }
    // q_seq_pairs keeps one sanctioned 1-row broadcast cross (the
    // active-user total); the pair join itself must stay keyed
    assert(!plan("q_seq_pairs").contains("CartesianProduct"),
      "q_seq_pairs has a cartesian product")
  }

  test("q_naive_bayes: no corpus-scale window; scoring is joins + aggregates") {
    // the argmax is max(struct) in an aggregate, NOT a row_number over
    // the corpus (the oracle uses a window; the Spark side must not)
    val p = plan("q_naive_bayes")
    assert(!p.contains("CartesianProduct"), "naive bayes has a data-scale cartesian")
    assert(!p.linesIterator.exists(l => l.trim.startsWith("Window")),
      "naive bayes must not use a window operator")
  }

  test("q_seq_pairs: the log is never self-joined; pair join runs on the per-(user,type) frame") {
    // exactly one scan of the events parquet — the min/max-ts trick
    // reads the raw log once and joins only the aggregated frame
    // the per-(user,type) frame is a checkpoint leaf, so the realized
    // plan reads the leaf (ExistingRDD), never the raw log — the one
    // log scan+aggregate happened exactly once at leaf build
    val p = plan("q_seq_pairs")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 0, s"raw events log leaked into the realized plan ($scans scans)")
    assert(p.contains("ExistingRDD"), "per-(user,type) leaf missing")
  }

  test("round-9 scan-grain queries stay single-scan, shuffle-free up to the output sort") {
    // utf8 audit / url domain / gopher rules are pure projections: the
    // ONLY exchange allowed is the final presentation orderBy's range
    // repartition — a shuffle before it means the scan-grain contract
    // broke (at 100 TB these must run at parquet-scan throughput)
    Seq("q_utf8_audit", "q_url_domain", "q_gopher_rules").foreach { q =>
      val p = plan(q)
      val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
      assert(exchanges <= 1, s"$q: ${exchanges} exchanges — projection gained a shuffle:\n$p")
      // formatted explain prints each node twice (tree + details):
      // count the numbered details headers only
      val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
      assert(scans == 1, s"$q: expected exactly one table scan, got $scans")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    }
  }

  test("q_bitext_mining: candidate scoring is broadcast-driven, no shuffle cross join") {
    val p = plan("q_bitext_mining")
    assert(!p.contains("CartesianProduct"),
      s"bitext mining must broadcast the query side:\n$p")
  }

  test("q_pagerank + q_ppr store one edge-scale purchase leaf beyond the base; " +
    "per-round rank leaves are released") {
    def stored = spark.sparkContext.getRDDStorageInfo.map(i => i.id -> i.memSize).toMap
    // the page RDD of a session leaf; a key that is not memoized runs
    // the throwing builder instead
    def pagesOf(key: String): Int =
      graft.core.SharedFrames.memoize(spark, s"$key:$dir")(sys.error(s"no $key leaf"))
        .queryExecution.analyzed.collectFirst {
          case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.dependencies.head.rdd.id
        }.get
    val before = stored.keySet
    SparkEntry.queries("q_pagerank")(spark, dir).collect()
    SparkEntry.queries("q_ppr")(spark, dir).collect()
    val after = stored
    val Seq(base, symd, nodes) = Seq("purchase_base", "purchase_edges_symd", "purchase_nodes").map(pagesOf)
    for (gone <- Seq("purchase_deg", "purchase_edges_sym"))
      intercept[RuntimeException](pagesOf(gone))
    val beyondV = after.collect { case (id, bytes) if bytes > after(nodes) => id }.toSet -- before
    assert(beyondV.subsetOf(Set(base, symd)), s"leaves stored beyond |V| rows: $beyondV")
    // what else the two queries left stored: each one's final rank leaf
    val left = after.keySet -- before -- Set(base, symd, nodes)
    assert(left.size <= 2, s"per-round rank leaves still stored: $left")
  }
}
