package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Dsir, Sampling, Similarity}

/** Data-selection / mixing / audit operators: DSIR importance weights,
  * water-filling domain caps, LSH blocking-quality audit, embedding
  * decontamination. */
class SelectionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // -- DSIR -----------------------------------------------------------------

  private lazy val dsirDocs = Seq(
    (0L, "alpha beta gamma alpha beta", "t"),
    (1L, "alpha beta alpha beta gamma", "t"),
    (2L, "delta epsilon zeta delta epsilon", "r"),
    (3L, "delta zeta epsilon zeta delta", "r"),
    (4L, "alpha beta gamma beta alpha", "r")
  ).toDF("doc_id", "text", "grp")

  test("dsir: target-like raw docs outscore off-target docs") {
    val w = Dsir.importanceWeights(
        dsirDocs, dsirDocs.filter($"grp" === "t"), "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // doc 4 shares the target's vocabulary; docs 2 and 3 share none
    assert(w(4L) > w(2L) && w(4L) > w(3L),
      s"target-like doc must carry the higher importance weight: $w")
    assert(w(2L) < 0 && w(3L) < 0, s"off-target docs must score negative: $w")
  }

  test("dsir: n_feats counts unigrams + bigrams with multiplicity") {
    val nf = Dsir.importanceWeights(dsirDocs, dsirDocs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    // 5 tokens -> 5 unigrams + 4 bigrams
    assert(nf.values.forall(_ == 9L), s"expected 9 features per 5-token doc: $nf")
  }

  test("dsir: a one-token document has its unigram alone (n_feats 1) and a hand-computed weight") {
    // raw: doc 0 = "alpha" (one token), doc 1 = "alpha beta";
    // target: "beta". Buckets by the oracle's textual hash.
    def bucket(f: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 64
    }
    val rawFeats = Seq(0L -> "alpha", 1L -> "alpha", 1L -> "beta", 1L -> "alpha beta")
    val tgtFeats = Seq("beta")
    val cr = rawFeats.groupBy(f => bucket(f._2)).map { case (b, fs) => b -> fs.size }
    val ct = tgtFeats.groupBy(bucket).map { case (b, fs) => b -> fs.size }
    def lam(b: Long): Double =
      math.log((ct.getOrElse(b, 0) + 1.0) / (tgtFeats.size + 64.0)) -
        math.log((cr(b) + 1.0) / (rawFeats.size + 64.0))
    val raw = Seq((0L, "alpha"), (1L, "alpha beta")).toDF("doc_id", "text")
    val w = Dsir.importanceWeights(raw, Seq("beta").toDF("text"), "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(w(0L)._1 == 1L && w(1L)._1 == 3L, s"n_feats: $w")
    val want0 = lam(bucket("alpha"))
    val want1 = Seq("alpha", "beta", "alpha beta").map(f => lam(bucket(f))).sum
    // log_weight is rounded to 4 decimals at the surface
    assert(math.abs(w(0L)._2 - want0) <= 0.5e-4 + 1e-12, s"doc 0: ${w(0L)._2} vs $want0")
    assert(math.abs(w(1L)._2 - want1) <= 0.5e-4 + 1e-12, s"doc 1: ${w(1L)._2} vs $want1")
  }

  test("dsir: rejects non-positive smoothing") {
    intercept[IllegalArgumentException] {
      Dsir.importanceWeights(dsirDocs, dsirDocs, "doc_id", "text", alpha = 0.0)
    }
  }

  // -- water-filling --------------------------------------------------------

  private lazy val domains = Seq(
    ("a", 10L), ("b", 100L), ("c", 1000L), ("d", 10000L)
  ).flatMap { case (s, t) => Seq((s, t / 2), (s, t - t / 2)) } // 2 rows per domain
    .toDF("source", "n_toks")

  test("waterFillCaps: allocations sum to the budget when clipping occurs") {
    val out = Sampling.waterFillCaps(domains, "source", "n_toks", budget = 1500L)
      .as[(String, Long, Double, Boolean)].collect().sortBy(_._1)
    val byDom = out.map(r => r._1 -> r).toMap
    // a (10) and b (100) fit whole; c and d split the remaining 1390/2 = 695
    assert(!byDom("a")._4 && !byDom("b")._4 && byDom("c")._4 && byDom("d")._4)
    assert(byDom("a")._3 == 10.0 && byDom("b")._3 == 100.0)
    assert(byDom("c")._3 == 695.0 && byDom("d")._3 == 695.0)
    assert(math.abs(out.map(_._3).sum - 1500.0) < 1e-6)
  }

  test("waterFillCaps: budget covering the corpus clips nothing") {
    val out = Sampling.waterFillCaps(domains, "source", "n_toks", budget = 1000000L)
      .as[(String, Long, Double, Boolean)].collect()
    assert(out.forall(r => !r._4 && r._3 == r._2.toDouble),
      s"no domain may be clipped under a covering budget: ${out.mkString(",")}")
  }

  test("waterFillCaps: tiny budget gives every domain budget/n") {
    val out = Sampling.waterFillCaps(domains, "source", "n_toks", budget = 4L)
      .as[(String, Long, Double, Boolean)].collect()
    assert(out.forall(r => r._4 && r._3 == 1.0), s"cap must be 4/4 = 1: ${out.mkString(",")}")
  }

  // -- blocking audit -------------------------------------------------------

  test("blockingQuality: exact dup pair is found by both truth and blocking") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different content with no overlap whatsoever here at all"),
      (3L, "yet another unrelated document that shares nothing with the rest ok")
    ).toDF("doc_id", "text")
    val m = Dedup.blockingQuality(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Option[Double], Option[Double], Double)]
      .collect().head
    val (nDocs, nTotal, nTruth, nCand, nHit) = (m._1, m._2, m._3, m._4, m._5)
    assert(nDocs == 4 && nTotal == 6)
    assert(nTruth == 1, s"exactly the 0-1 dup pair is true: $m")
    assert(nHit == 1, "identical docs share every band — blocking must find them")
    assert(m._6.contains(1.0), s"pair completeness must be 1: $m")
    assert(nCand >= nHit && m._8 >= 0.0 && m._8 <= 1.0)
    docs.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("blockingQuality sampleFraction: f=1 identical to unsampled; nested samples converge monotonically") {
    // 40 docs = 20 planted near-dup pairs with distinct vocabularies, so
    // truth pairs exist across many hash buckets
    val docs = (0 until 20).flatMap { g =>
      val words = (0 until 12).map(i => s"w${g}x$i").mkString(" ")
      Seq((g * 2L, words), (g * 2L + 1, words + s" tail$g"))
    }.toDF("doc_id", "text")
    def audit(f: Double): (Long, Long, Long, Long, Long, Option[Double], Option[Double], Double) =
      Dedup.blockingQuality(docs, "doc_id", "text", sampleFraction = f)
        .as[(Long, Long, Long, Long, Long, Option[Double], Option[Double], Double)].collect().head
    val full = Dedup.blockingQuality(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Option[Double], Option[Double], Double)].collect().head
    assert(audit(1.0) == full, "f=1.0 must be byte-identical to the unsampled audit")
    // md5-bucket samples are NESTED (bucket < cut), so corpus, truth and
    // candidate counts must be monotone non-decreasing in f — the
    // deterministic face of "estimates converge as coverage grows"
    val sweep = Seq(0.25, 0.5, 0.75, 1.0).map(audit)
    assert(sweep.map(_._1).sliding(2).forall(w => w.head <= w.last), s"n_docs monotone: $sweep")
    assert(sweep.map(_._3).sliding(2).forall(w => w.head <= w.last), s"n_truth monotone: $sweep")
    assert(sweep.map(_._4).sliding(2).forall(w => w.head <= w.last), s"n_cand monotone: $sweep")
    // determinism: membership is a pure function of the id
    assert(audit(0.5) == audit(0.5), "sampled audit must be run-stable")
    // the sampled estimator stays internally consistent on its own universe
    val s05 = audit(0.5)
    assert(s05._2 == s05._1 * (s05._1 - 1) / 2, "n_pairs_total = C(n_docs_sampled, 2)")
    assert(s05._1 < full._1, "f=0.5 must actually drop documents on this corpus")
    docs.sparkSession.sharedState.cacheManager.clearCache()
  }

  // -- AUC ------------------------------------------------------------------

  test("auc: perfect separation 1.0, anti-ranker 0.0, ties counted half") {
    import graft.operators.Eval
    val perfect = Seq((0.9, true), (0.8, true), (0.2, false), (0.1, false))
      .toDF("score", "label")
    assert(Eval.auc(perfect, "score", "label")
      .as[(Long, Long, Option[Double])].head() == ((2L, 2L, Some(1.0))))
    val inverted = Seq((0.1, true), (0.9, false)).toDF("score", "label")
    assert(Eval.auc(inverted, "score", "label")
      .as[(Long, Long, Option[Double])].head() == ((1L, 1L, Some(0.0))))
    val tied = Seq((0.9, true), (0.5, true), (0.5, false), (0.1, false))
      .toDF("score", "label")
    assert(Eval.auc(tied, "score", "label")
      .as[(Long, Long, Option[Double])].head()._3.contains(0.875),
      "2 pos x 2 neg: wins 3.5 of 4 -> 0.875")
    val onlyPos = Seq((0.9, true)).toDF("score", "label")
    assert(Eval.auc(onlyPos, "score", "label")
      .as[(Long, Long, Option[Double])].head()._3.isEmpty, "single-class AUC is NULL")
  }

  // -- leakage-safe split ---------------------------------------------------

  test("leakageSafeSplit: connected near-dups share a split, singletons keep their id") {
    val df = (0L to 19L).map(i => (i, s"doc $i")).toDF("id", "payload")
    // two chains: {0,1,2} via (0,1),(1,2) and {7,8}
    val pairs = Seq((0L, 1L), (1L, 2L), (7L, 8L)).toDF("id_a", "id_b")
    val out = Sampling.leakageSafeSplit(df, "id", pairs)
      .select("id", "cluster_id", "split")
      .as[(Long, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.size == 20, "split is a total partition of the input")
    assert(Set(0L, 1L, 2L).map(out(_)) == Set(out(0L)), "chain 0-1-2 must share cluster+split")
    assert(out(7L) == out(8L), "pair 7-8 must share cluster+split")
    assert(out(0L)._1 == 0L && out(7L)._1 == 7L, "cluster label is the min member")
    assert(out(5L)._1 == 5L, "singleton keeps its own id as the cluster")
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  // -- matryoshka truncation recall ----------------------------------------

  test("truncationRecall: signal-bearing prefixes keep recall, noise prefixes lose it") {
    // neighbor structure lives entirely in dims 1-2; dims 3-4 are
    // anti-correlated noise that flips the ranking when included alone
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),   // true top-1 of 0 at any dim ≥ 2
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.9f, 0.1f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.truncationRecall(
        vecs, vecs.filter($"vec_id" === 0), "vec_id", "embedding", k = 1, dims = Seq(2, 4))
      .orderBy("dim").as[(Int, Long, Double)].collect().toSeq
    assert(out.map(_._1) == Seq(2, 4), "every dim appears in the curve")
    assert(out.last == ((4, 1L, 1.0)), s"full dim is the sanity anchor: $out")
    assert(out.head._3 == 1.0, s"signal-bearing 2-dim prefix must retain the neighbor: $out")
    vecs.sparkSession.sharedState.cacheManager.clearCache()
  }

  // -- embedding decontamination -------------------------------------------

  test("crossCorpusLeakage: a vector present in both corpora is flagged at cosine 1") {
    val ev = Seq((0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val tr = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f)),   // verbatim leak of eval 0
      (11L, Array(0.9f, 0.1f, 0.0f)),   // near leak of eval 0
      (12L, Array(0.0f, 0.0f, 1.0f))    // orthogonal to both
    ).toDF("vec_id", "embedding")
    val out = Similarity.crossCorpusLeakage(tr, ev, "vec_id", "embedding", tau = 0.9)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(10L, 11L), s"only the two leaks flag: ${out.mkString(",")}")
    assert(out.head._2 == 0L && math.abs(out.head._3 - 1.0) < 1e-12)
    assert(out(1)._2 == 0L, "best match must be the nearest eval row")
  }

  // -- MMR diversified selection -------------------------------------------

  private lazy val mmrQuery = Seq((0L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
  private lazy val mmrCands = Seq(
    (1L, Array(0.9f, 0.4359f, 0.0f)),    // most relevant (cos ≈ 0.9)
    (2L, Array(0.9f, 0.4359f, 0.001f)),  // near-duplicate of 1 (cos(1,2) ≈ 1)
    (3L, Array(0.85f, 0.0f, 0.5268f))    // less relevant (cos ≈ 0.85) but diverse
  ).toDF("vec_id", "embedding")

  test("mmrSelect: redundant near-dup demoted below the diverse candidate at λ=0.5") {
    val picks = Similarity.mmrSelect(mmrCands, mmrQuery, "vec_id", "embedding",
        k = 3, lambda = 0.5)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    // plain top-k would give (1, 2, 3); MMR's redundancy penalty pushes
    // the near-dup 2 behind the diverse 3
    assert(picks == Seq(1L, 3L, 2L), s"expected diversity-aware order, got $picks")
    spark.sharedState.cacheManager.clearCache()
  }

  test("jlProject: norm roughly preserved, distances roughly preserved, exact determinism") {
    // 20 seeded pseudo-random 64-dim vectors (unit-ish scale)
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(64) { d =>
        (math.sin(i * 64 + d + 1).toFloat) // deterministic, zero-mean-ish
      })
    }.toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.jlProject(vecs, "vec_id", "embedding")
      .orderBy("vec_id")
    val rows = out.as[(Long, Seq[Double], Double)].collect()
    assert(rows.length == 20 && rows.forall(_._2.length == 16))
    // JL norm preservation: E[ratio] = 1; k=16 gives loose concentration
    rows.foreach { case (id, _, ratio) =>
      assert(ratio > 0.25 && ratio < 2.5, s"vec $id norm ratio $ratio outside JL bounds")
    }
    // pairwise distance preservation on a few pairs, same loose bounds
    val m = rows.map(r => r._1 -> r._2).toMap
    val v = vecs.as[(Long, Seq[Float])].collect().toMap
    def d2(a: Seq[Double], b: Seq[Double]) = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    for ((i, j) <- Seq((0L, 1L), (2L, 9L), (5L, 17L))) {
      val orig = d2(v(i).map(_.toDouble), v(j).map(_.toDouble))
      val proj = d2(m(i), m(j))
      assert(proj / orig > 0.25 && proj / orig < 2.5,
        s"pair ($i,$j) distance ratio ${proj / orig} outside JL bounds")
    }
    // determinism: same literals, same bits
    val again = graft.operators.Similarity.jlProject(vecs, "vec_id", "embedding")
      .orderBy("vec_id").as[(Long, Seq[Double], Double)].collect()
    assert(rows.toSeq == again.toSeq, "projection must be bit-deterministic")
  }

  test("jlSignRows: stable shape, balanced signs") {
    val rows = graft.operators.Similarity.jlSignRows(16, 64)
    assert(rows.length == 16 && rows.forall(_.length == 64))
    assert(rows == graft.operators.Similarity.jlSignRows(16, 64), "constants must be stable")
    val plus = rows.flatten.count(_ == 1)
    assert(plus > 400 && plus < 624, s"sign balance off: $plus of 1024 are +1")
  }

  test("mmrSelect: λ=1 disables the diversity term — pure relevance top-k") {
    val out = Similarity.mmrSelect(mmrCands, mmrQuery, "vec_id", "embedding",
        k = 3, lambda = 1.0)
      .orderBy("rank").as[(Int, Long, Double, Double)].collect().toSeq
    assert(out.map(_._2) == Seq(1L, 2L, 3L), s"λ=1 must reduce to top-k, got $out")
    // with λ=1 every round's mmr IS the relevance
    out.foreach { case (_, _, rel, mmr) => assert(math.abs(rel - mmr) < 1e-15) }
    spark.sharedState.cacheManager.clearCache()
  }
}
