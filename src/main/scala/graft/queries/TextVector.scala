package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextAnalysis
import graft.operators.{Curation, Dedup, Multimodal, Similarity, TfIdf}

/** Training-data-pipeline operator surface: text analysis, dedup family
  * (exact / prefix / MinHash+LSH / n-gram Jaccard / SimHash), embedding
  * similarity search (brute force + IVF), multimodal binary columns.
  */
object TextVector {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)
  private def docs(s: SparkSession, dir: String): DataFrame = t(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame = t(s, dir, "embeddings")

  /** Shared LSH candidate-pair frame (minhash k=8, 2 rows/band) — the
    * intermediate five queries derive from (q_lsh_pairs,
    * q_ngram_jaccard, q_dedup_clusters + its q_canonical_pick consumer,
    * q_cc_incremental, q_leak_split). Memoized to one checkpoint leaf
    * per session: first consumer pays the minhash → banding chain, the
    * rest read the leaf (SharedFrames scaladoc has the contract). */
  /** Session-shared deduped 3-shingle frame (Dedup.shingled3 shape) —
    * the corpus pass q_blocking_eval, q_blocking_eval_sampled and
    * q_containment each re-ran; built once per session, the audits
    * start from the leaf. */
  private def docSh3(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.memoize(s, s"doc_sh3:$dir")(
      Dedup.shingled3(docs(s, dir), "doc_id", "text"))

  private[queries] def lshPairsShared(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.memoize(s, s"lsh_pairs_k8_r2:$dir")(
      Dedup.lshCandidatePairs(
        Dedup.minhashSignaturesFromShingles(docSh3(s, dir), "doc_id", "sh"),
        "doc_id", k = 8, rowsPerBand = 2))

  /** Shared LSH 3-NN graph over the embeddings — the edge list seven
    * graph queries consume (q_knn_triangles, q_link_pred,
    * q_triangles_oriented, q_kcore, q_label_prop, q_modularity,
    * q_assortativity). Same memo contract as [[lshPairsShared]]. */
  private def knn3(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.memoize(s, s"knn3:$dir")(
      Similarity.knnGraph(embs(s, dir), "vec_id", "embedding", k = 3))

  /** Canonical deduped (a < b) edge pairs of the 3-NN graph — the
    * shape every undirected graph operator reduces its input to
    * internally; its own leaf so q_modularity / q_label_prop /
    * q_diameter start from the deduped pairs instead of re-deriving
    * them from the raw kNN frame. */
  private def knnCanon(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.memoize(s, s"knn_canon:$dir")(
      knn3(s, dir).select(
          least(col("query_id"), col("neighbor_id")).as("a"),
          greatest(col("query_id"), col("neighbor_id")).as("b"))
        .filter(col("a") =!= col("b")).distinct())

  /** 2-round LPA labels over the kNN graph — q_label_prop summarizes
    * them and q_modularity scores them, so the propagation loop runs
    * ONCE per session instead of once per consumer. LPA symmetrizes +
    * dedups its input internally, and the canonical pairs' symmetrized
    * edge set is identical to the raw kNN frame's, so labels are
    * unchanged for both consumers. */
  private def knnLpaLabels(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.memoize(s, s"knn_lpa2:$dir")(
      graft.operators.Graphs.labelPropagation(knnCanon(s, dir), "a", "b", iters = 2))

  /** Shared DuckDB CTE: tokens + distinct 3-gram shingles per doc. */
  private val shingleCte =
    """toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id, CASE WHEN len(w) >= 3
      |    THEN list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] FOR i IN generate_series(1, len(w)-2)])
      |    ELSE [] END AS sh
      |  FROM toks)""".stripMargin

  /** Mirrors Dedup.minhashSignatures: one md5 per shingle → 60-bit base
    * hash mod P, then affine permutations (A·h+B) mod P. */
  private val sigCte = {
    val p = 2147483647L
    val perms = graft.operators.Dedup.MinhashA.zip(graft.operators.Dedup.MinhashB)
      .zipWithIndex.map { case ((a, b), j) => s"min(($a*h+$b) % $p) AS mh$j" }
      .mkString(",\n      |    ")
    (shingleCte + s""",
      |shx AS (SELECT doc_id, CAST('0x'||substr(md5(unnest(sh)),1,15) AS BIGINT) % $p AS h FROM sh),
      |sig AS (
      |  SELECT doc_id,
      |    $perms
      |  FROM shx GROUP BY 1)""").stripMargin
  }

  private[queries] val lshPairsCte =
    sigCte + """,
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |    ((a.mh0=b.mh0)::INT+(a.mh1=b.mh1)::INT+(a.mh2=b.mh2)::INT+(a.mh3=b.mh3)::INT
      |    +(a.mh4=b.mh4)::INT+(a.mh5=b.mh5)::INT+(a.mh6=b.mh6)::INT+(a.mh7=b.mh7)::INT)/8.0 AS est_jaccard
      |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
      |       (a.mh0=b.mh0 AND a.mh1=b.mh1) OR (a.mh2=b.mh2 AND a.mh3=b.mh3)
      |    OR (a.mh4=b.mh4 AND a.mh5=b.mh5) OR (a.mh6=b.mh6 AND a.mh7=b.mh7)))""".stripMargin

  /** Shared DuckDB CTE chain mirroring the 2-round LogReg.fit
    * (fixed-point gradients, algebraic sigmoid) up to the final weight
    * row `w2`, with the feature frame `f` — factored out so any future
    * consumer of the fitted weights can't drift from q_logreg's. */
  private[queries] val logregW2Cte =
    """f AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS y,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) / 100 AS x_ntok,
      |    CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), t -> t IN ('the', 'a'))) AS DOUBLE)
      |      / CAST(greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1) AS DOUBLE) AS x_stop,
      |    CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
      |      / CAST(greatest(length(text), 1) AS DOUBLE) AS x_punct
      |  FROM documents),
      |g1 AS (
      |  SELECT
      |    CAST(sum(CAST(floor((y - 0.5) * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS g_bias,
      |    CAST(sum(CAST(floor(((y - 0.5) * x_ntok) * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS g_ntok,
      |    CAST(sum(CAST(floor(((y - 0.5) * x_stop) * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS g_stop,
      |    CAST(sum(CAST(floor(((y - 0.5) * x_punct) * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS g_punct,
      |    count(*) AS n
      |  FROM f),
      |w1 AS (
      |  SELECT (CAST(g_bias AS DOUBLE) / 1e12) / n AS w_bias,
      |         (CAST(g_ntok AS DOUBLE) / 1e12) / n AS w_ntok,
      |         (CAST(g_stop AS DOUBLE) / 1e12) / n AS w_stop,
      |         (CAST(g_punct AS DOUBLE) / 1e12) / n AS w_punct
      |  FROM g1),
      |e2 AS (
      |  SELECT y, x_ntok, x_stop, x_punct,
      |    y - (0.5 + 0.5 * (m / (1 + abs(m)))) AS err
      |  FROM (
      |    SELECT f.*, ((w.w_bias + w.w_ntok * f.x_ntok) + w.w_stop * f.x_stop) + w.w_punct * f.x_punct AS m
      |    FROM f CROSS JOIN w1 w)),
      |g2 AS (
      |  SELECT
      |    CAST(sum(CAST(floor(err * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS g_bias,
      |    CAST(sum(CAST(floor((err * x_ntok) * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS g_ntok,
      |    CAST(sum(CAST(floor((err * x_stop) * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS g_stop,
      |    CAST(sum(CAST(floor((err * x_punct) * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS g_punct,
      |    count(*) AS n
      |  FROM e2),
      |w2 AS (
      |  SELECT w1.w_bias + (CAST(g2.g_bias AS DOUBLE) / 1e12) / g2.n AS w_bias,
      |         w1.w_ntok + (CAST(g2.g_ntok AS DOUBLE) / 1e12) / g2.n AS w_ntok,
      |         w1.w_stop + (CAST(g2.g_stop AS DOUBLE) / 1e12) / g2.n AS w_stop,
      |         w1.w_punct + (CAST(g2.g_punct AS DOUBLE) / 1e12) / g2.n AS w_punct
      |  FROM w1 CROSS JOIN g2)""".stripMargin

  /** Brute-force margin-mining oracle — shared verbatim by
    * q_bitext_mining (whose engine path is brute force) and
    * q_bitext_ann (whose engine path is bucketed IVF ANN): a hash
    * match on the latter is the recall gate proving the ANN path
    * reproduces the exact mined pair set. */
  private val bitextBruteOracle =
    """WITH x AS (SELECT vec_id AS x_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 40),
      |y AS (SELECT vec_id AS y_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id >= 40),
      |px AS (
      |  SELECT x_id, y_id,
      |    list_dot_product(x.v, y.v) / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) AS cos
      |  FROM x, y),
      |fwd AS (
      |  SELECT x_id, y_id, CAST(floor(cos*1e9 + 0.5) AS BIGINT) AS c9
      |  FROM (SELECT *, row_number() OVER (PARTITION BY x_id ORDER BY cos DESC, y_id) AS rk FROM px)
      |  WHERE rk <= 4),
      |rev AS (
      |  SELECT y_id, x_id, CAST(floor(cos*1e9 + 0.5) AS BIGINT) AS c9
      |  FROM (SELECT *, row_number() OVER (PARTITION BY y_id ORDER BY cos DESC, x_id) AS rk FROM px)
      |  WHERE rk <= 4),
      |ax AS (SELECT x_id, CAST(sum(c9) AS BIGINT) AS a9, count(*) AS na FROM fwd GROUP BY 1),
      |by_ AS (SELECT y_id, CAST(sum(c9) AS BIGINT) AS b9, count(*) AS nb FROM rev GROUP BY 1),
      |mf AS (
      |  SELECT f.x_id, f.y_id, f.c9,
      |    (2.0 * f.c9 * a.na * b.nb) / (a.a9 * b.nb + b.b9 * a.na) AS margin
      |  FROM fwd f JOIN ax a USING (x_id) JOIN by_ b USING (y_id)),
      |mr AS (
      |  SELECT r.y_id, r.x_id,
      |    (2.0 * r.c9 * a.na * b.nb) / (a.a9 * b.nb + b.b9 * a.na) AS margin
      |  FROM rev r JOIN ax a USING (x_id) JOIN by_ b USING (y_id)),
      |bf AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY x_id ORDER BY margin DESC, y_id) AS rk FROM mf) WHERE rk = 1),
      |br AS (SELECT y_id, x_id AS rx FROM (SELECT *, row_number() OVER (PARTITION BY y_id ORDER BY margin DESC, x_id) AS rk FROM mr) WHERE rk = 1)
      |SELECT bf.x_id, bf.y_id,
      |  floor((CAST(bf.c9 AS DOUBLE)/1e9)*10000 + 0.5)/10000 AS cosine,
      |  floor(margin*1000000 + 0.5)/1000000 AS margin,
      |  coalesce(br.rx = bf.x_id, false) AS mutual,
      |  margin >= 1.2 AS mined
      |FROM bf LEFT JOIN br USING (y_id) ORDER BY x_id""".stripMargin

  /** Shared DuckDB CTE: stride-100 coarse centroids + argmax-cosine
    * cluster assignment — mirrors Similarity.strideCentroids +
    * ivfAssign including the centroid-id tie-break. */
  private val ivfAssignCte =
    """cent AS (
      |  SELECT CAST(vec_id / 100 AS BIGINT) AS centroid_id, CAST(embedding AS DOUBLE[]) AS centroid_vec
      |  FROM embeddings WHERE vec_id % 100 = 0),
      |corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |assign AS (
      |  SELECT vec_id, v, centroid_id AS bucket FROM (
      |    SELECT c.vec_id, c.v, ct.centroid_id,
      |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
      |        list_dot_product(c.v, ct.centroid_vec) /
      |          (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(ct.centroid_vec, ct.centroid_vec))) DESC,
      |        ct.centroid_id) AS rn
      |    FROM corpus c CROSS JOIN cent ct) WHERE rn = 1)""".stripMargin

  // ---- text analysis -------------------------------------------------------

  def textStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("toks", TextAnalysis.tokens("text"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        rd(avg(size(col("toks"))), 4).as("avg_tokens"),
        rd(avg(size(array_distinct(col("toks")))), 4).as("avg_distinct_tokens"),
        rd(avg(length(col("text"))), 4).as("avg_chars"))
      .orderBy("lang")

  /** Token-budget estimation (TextAnalysis.wsTokenCount /
    * bpeishTokenCount): whitespace tokens anchor the crude bound,
    * the GPT-2-style BPE-ish regex tracks real LLM token counts for
    * mixture planning — the oracle runs the VERBATIM pattern. */
  def tokenEstimate(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), length(col("text")).as("__chars"),
        TextAnalysis.wsTokenCount("text").as("ws_tokens"),
        TextAnalysis.bpeishTokenCount("text").as("bpeish_tokens"))
      .select(col("doc_id"), col("ws_tokens"), col("bpeish_tokens"),
        rd(col("__chars").cast("double") / greatest(col("bpeish_tokens"), lit(1)), 4)
          .as("chars_per_token"))
      .orderBy("doc_id")

  def textQuality(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .withColumn("toks", TextAnalysis.tokens("text"))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stopword_ratio", TextAnalysis.stopwordRatio("toks"))
      .withColumn("punct_ratio", TextAnalysis.punctRatio("text"))
      .withColumn("score",
        TextAnalysis.qualityScore(col("n_tokens"), col("stopword_ratio"), col("punct_ratio")))
    d.select(
        col("doc_id"), col("n_tokens"),
        rd(col("stopword_ratio"), 4).as("stopword_ratio"),
        rd(col("punct_ratio"), 4).as("punct_ratio"),
        rd(col("score"), 4).as("score"),
        TextAnalysis.qualityBand(col("score")).as("quality_band"))
      .orderBy("doc_id")
  }

  /** Repetition quality filters (the Gopher-style signals): duplicate-
    * word fraction and most-frequent-bigram share per document. Pure
    * expression + one explode/groupBy — no joins, scales linearly. */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .withColumn("toks", TextAnalysis.tokens("text"))
      .withColumn("n_words", size(col("toks")))
      .withColumn("n_distinct", size(array_distinct(col("toks"))))
      .filter(col("n_words") >= 2)
    val bigrams = expr(
      """transform(sequence(1, size(toks) - 1),
        | i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))""".stripMargin)
    val counts = d.select(col("doc_id"), col("n_words"), col("n_distinct"),
        explode(bigrams).as("g"))
      .groupBy(col("doc_id"), col("n_words"), col("n_distinct"), col("g"))
      .agg(count(lit(1)).as("n"))
    counts.groupBy(col("doc_id"), col("n_words"), col("n_distinct"))
      .agg(sum(col("n")).as("total_bg"), max(col("n")).as("top_bg"))
      .select(col("doc_id"),
        rd(lit(1.0) - col("n_distinct").cast("double") / col("n_words"), 4).as("word_dup_frac"),
        rd(col("top_bg").cast("double") / col("total_bg"), 4).as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Cross-doc repeated spans (Dedup.repeatedSpans): maximal ≥ 6-token
    * runs appearing verbatim in ≥ 2 documents — the exact-substring
    * dedup cut list (Lee et al. 2022), sliding-window form. */
  def repeatedSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.repeatedSpans(docs(s, dir), "doc_id", "text", n = 6, minDocs = 2)
      .orderBy("doc_id", "span_start")

  /** EXACT-substring repeated spans with byte offsets
    * (Dedup.repeatedSpansExact): planted fixture texts built
    * arithmetically over the documents ids — a 9-token block shared by
    * each id%50 group, positioned at doc START / middle / doc END by
    * id%3, wrapped in per-doc-unique preamble/tail tokens. The
    * operator must recover, by raw-byte window hashing + island merge,
    * exactly the planted block's 1-based byte range and md5 in every
    * ≥2-member group; the oracle PREDICTS offsets from the
    * construction arithmetic (duckdb length/md5 string-ops), so an
    * off-by-one in the byte-scan offsets, the window slicing, or the
    * boundary merge breaks the hash. */
  def repeatedSpansExactQ(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val shared = concat(lit("shared block g"), (id % 50),
      lit(" alpha beta gamma delta epsilon zeta"))
    // every preamble/tail token embeds the doc id: a window crossing
    // out of the shared block always contains a doc-unique token, so
    // only the planted block can repeat
    val pre = concat(lit("u"), id, lit(" v"), id, lit(" w"), id)
    val tail = concat(lit("t"), id, lit(" ends"))
    val text = when(id % 3 === 0, concat(shared, lit(" "), tail))
      .when(id % 3 === 1, concat(pre, lit(" "), shared, lit(" "), tail))
      .otherwise(concat(pre, lit(" "), shared))
    val fix = docs(s, dir).select(id, text.as("text"))
    Dedup.repeatedSpansExact(fix, "doc_id", "text", n = 6, minDocs = 2)
      .orderBy("doc_id", "span_start")
  }

  /** Distributed BPE tokenizer fit (Bpe.fitMerges): 3 merge rounds over
    * the corpus vocabulary — the merge ledger plus the corpus token
    * count under the tokenizer-so-far (the compression curve). */
  def bpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.fitMerges(docs(s, dir), "text", rounds = 3)
      .orderBy("round")

  /** BPE ENCODE (Bpe.encode) — the apply half of the tokenizer loop:
    * the 20 most frequent corpus words segmented by replaying the
    * 3-round fitted merges as one `aggregate` fold per word. Oracle
    * reads the fit chain's own final vocab CTE (shared text — can't
    * drift). */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.operators.Bpe.encode(d, "text",
        graft.operators.Bpe.fitMerges(d, "text", rounds = 3))
      .orderBy(col("freq").desc, col("word")).limit(20)
  }

  /** PMI collocation mining (Collocations.pmiBigrams): top-30 adjacent
    * bigrams by the P(x,y)/(P(x)P(y)) ratio, min count 5 — the ratio
    * (not its log2) so the oracle arithmetic is libm-free. */
  def pmiBigrams(s: SparkSession, dir: String): DataFrame =
    graft.operators.Collocations.pmiBigrams(docs(s, dir), "text", minCount = 5, k = 30)

  /** Unigram-LM cross-entropy per doc (Collocations.unigramCrossEntropy):
    * the CCNet-style "LM-likeness" quality signal, Laplace-smoothed,
    * scored against the corpus itself. */
  def lmXent(s: SparkSession, dir: String): DataFrame =
    graft.operators.Collocations.unigramCrossEntropy(docs(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"), rd(col("lm_xent"), 4).as("lm_xent"))
      .orderBy("doc_id")

  /** Bigram stupid-backoff LM scoring (Collocations.bigramBackoffXent):
    * eval slice (doc_id < 25) scored against the train slice
    * (doc_id ≥ 25) — the decontaminate split, so unseen bigrams/terms
    * genuinely occur and the backoff branch is exercised on real data. */
  def lmBigram(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.operators.Collocations.bigramBackoffXent(
        d.filter(col("doc_id") >= 25), d.filter(col("doc_id") < 25), "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"), rd(col("lm2_xent"), 4).as("lm2_xent"))
      .orderBy("doc_id")
  }

  /** Count-min sketch (CountMin.build/estimate, depth 4 × width 512)
    * probed with the 20 most frequent corpus terms; `overcount` =
    * estimate − exact exposes the collision error the ε-guarantee
    * bounds. Hash-exact vs the DuckDB mirror — no tolerance folding.
    * The token frame feeds both the sketch and the exact counts; at
    * corpus scale the caller persists it first (sf-size here, and the
    * tokenizer is a codegen'd byte scan). */
  def cmsWords(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val toks = docs(s, dir).select(explode(TextAnalysis.tokens("text")).as("term"))
    val sketch = CountMin.build(toks, "term", depth = 4, width = 512)
    val top = toks.groupBy("term").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("term")).limit(20)
    CountMin.estimate(sketch, top, "term", depth = 4, width = 512)
      .select(col("term"), col("exact_n"), col("cms_est"),
        (col("cms_est") - col("exact_n")).as("overcount"))
      .orderBy(col("exact_n").desc, col("term"))
  }

  /** ROUGE-2 overlap scoring between a reference slice (doc_id < 5)
    * and a candidate slice (5 ≤ doc_id < 30): distinct-bigram recall /
    * precision / F1 per pair — the n-gram eval metric as a gram
    * equi-join (never a doc×doc cross join; pairs sharing no gram
    * simply don't appear). F1 computed from counts as 2c/(n_ref+n_cand)
    * (the harmonic identity), one division — engine-stable. */
  def rouge2(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .withColumn("toks", TextAnalysis.tokens("text"))
      .withColumn("grams", TextAnalysis.shingles("toks", 2))
    val refs = d.filter(col("doc_id") < 5)
      .select(col("doc_id").as("ref_id"), explode(col("grams")).as("g"))
    val cands = d.filter(col("doc_id") >= 5 && col("doc_id") < 30)
      .select(col("doc_id").as("cand_id"), explode(col("grams")).as("g"))
    val refSizes = refs.groupBy("ref_id").agg(count(lit(1)).as("n_ref"))
    val candSizes = cands.groupBy("cand_id").agg(count(lit(1)).as("n_cand"))
    refs.join(cands, "g")
      .groupBy("ref_id", "cand_id").agg(count(lit(1)).as("n_common"))
      .join(broadcast(refSizes), "ref_id")
      .join(broadcast(candSizes), "cand_id")
      .select(col("ref_id"), col("cand_id"), col("n_common"),
        rd(col("n_common").cast("double") / col("n_ref").cast("double"), 6).as("rouge2_recall"),
        rd(col("n_common").cast("double") / col("n_cand").cast("double"), 6).as("rouge2_precision"),
        rd(lit(2) * col("n_common").cast("double") / (col("n_ref") + col("n_cand")).cast("double"), 6)
          .as("rouge2_f1"))
      .orderBy("ref_id", "cand_id")
  }

  /** Full curation pipeline (Curation.curationPipeline): exact-dedup →
    * quality ≥ 0.7 → LM xent ≤ 3.41 → cap 20/source, with the per-doc
    * evidence columns. Thresholds sit inside the corpus's real score
    * ranges (median quality ≈ 0.76, xent p90 ≈ 3.41 at sf0.01) so every
    * gate removes rows. */
  def curation(s: SparkSession, dir: String): DataFrame =
    Curation.curationPipeline(docs(s, dir), "doc_id", "text", "source",
        minScore = 0.7, maxXent = 3.41, perSourceCap = 20)
      .orderBy("doc_id")

  /** Mean-pooled embeddings per label (the chunk→document pooling step
    * every embedding pipeline runs): element-wise average via
    * posexplode + (key, pos) groupBy — the vector never passes through
    * the driver and the shape is identical at any dimension/corpus
    * size. Oracled on the first 4 dims (pos pruned BEFORE the shuffle). */
  def embedPool(s: SparkSession, dir: String): DataFrame =
    embs(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .filter(col("pos") < 4)
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n_vecs"), rd(avg(col("v").cast("double")), 6).as("pooled"))
      .orderBy("label", "pos")

  /** Source-pair overlap audit: distinct 3-gram shingle containment and
    * Jaccard between every source pair that shares at least one
    * shingle — the cross-source contamination report a corpus data
    * card publishes. Per-shingle distinct source sets: each shingle
    * contributes at most (sources choose 2) pair rows, so the pair
    * frame is bounded by source-count², not corpus size. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    // one groupBy(shingle) builds the distinct source set per shingle
    // (collect_set ≡ the old distinct(); arrays bounded by the SOURCE
    // count, not corpus size), cut to a leaf so the sizes and pair
    // branches don't each re-run the tokenize chain (the old lazy
    // `sh` self-join shape re-tokenized 3×); source pairs unfold as
    // the sorted set's upper triangle in codegen — sort_array's
    // binary string order is the same `<` the join predicate used
    val buckets = graft.core.Lineage.truncate(docs(s, dir)
      .withColumn("toks", TextAnalysis.tokens("text"))
      .select(col("source"), explode(TextAnalysis.shingles("toks", 3)).as("sh"))
      .groupBy(col("sh")).agg(sort_array(collect_set(col("source"))).as("ss"))
      .select(col("ss")))
    val sizes = buckets.select(explode(col("ss")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n_sh"))
    buckets.filter(size(col("ss")) >= 2)
      .select(explode(expr(
        """flatten(transform(ss, (x, i) ->
          |  transform(slice(ss, i + 2, size(ss)), y ->
          |    struct(x AS source_a, y AS source_b))))""".stripMargin)).as("p"))
      .groupBy(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n_sh").as("n_a"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n_sh").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_common"), col("n_a"), col("n_b"),
        rd(col("n_common").cast("double") / col("n_a").cast("double"), 6).as("contain_a"),
        rd(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Language-ID — no SQL oracle (profile tables); driver does the
    * rows-only check. Grouped so the result is small + stable. The
    * synthetic corpus carries no real language signal (see
    * GoldenRowsOnlySpec note) — LangIdSpec proves >0.9 accuracy on the
    * generator's signal-bearing fixture instead. */
  def langId(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("toks", TextAnalysis.tokens("text"))
      .withColumn("lang_guess", TextAnalysis.langGuess("toks", "text"))
      .groupBy(col("lang"), col("lang_guess"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "lang_guess")

  /** Benchmark decontamination: training docs (doc_id >= 25) sharing
    * any 5-gram with the held-out eval slice (doc_id < 25). */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.decontaminate(d.filter(col("doc_id") >= 25), d.filter(col("doc_id") < 25),
        "doc_id", "text", shingleN = 5)
      .orderBy("train_id", "eval_id")
  }

  def textClean(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("clean", TextAnalysis.cleanText("text"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("clean") =!= col("text"), 1)).as("n_changed"),
        sum((length(col("text")) - length(col("clean"))).cast("long")).as("chars_removed"),
        rd(avg(length(col("clean"))), 4).as("avg_clean_chars"))
      .orderBy("lang")

  /** TF-IDF keyword extraction: top-3 scoring terms per doc (DF/IDF
    * computed over the FULL corpus; output restricted to the first 20
    * docs to keep the checked result small). */
  def tfidfTop(s: SparkSession, dir: String): DataFrame =
    TfIdf.topTerms(docs(s, dir), "doc_id", "text", k = 3)
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), col("rank"), col("term"),
        rd(col("tf"), 6).as("tf"), col("df"), rd(col("score"), 6).as("score"))
      .orderBy("doc_id", "rank")

  /** BM25 keyword scoring: top-3 terms per doc under the production
    * retrieval weighting (k1=1.2, b=0.75, ratio IDF — see
    * [[graft.operators.TfIdf.bm25]] for why the score is cross-engine
    * hash-exact). Output restricted like q_tfidf. */
  def bm25Top(s: SparkSession, dir: String): DataFrame =
    TfIdf.bm25TopTerms(docs(s, dir), "doc_id", "text", k = 3)
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), col("rank"), col("term"),
        col("f"), col("df"), rd(col("score"), 6).as("score"))
      .orderBy("doc_id", "rank")

  /** Bounded edit-distance near-dup pairs over the 24-char leading
    * title: SymSpell 1-deletion-neighborhood equi-join + exact
    * levenshtein verify (complete for distance ≤ 1, no all-pairs). */
  def editDistPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.EditDistance.symspellPairs(
      docs(s, dir).select(col("doc_id"), substring(col("text"), 1, 24).as("title")),
      "doc_id", "title")
      .orderBy("id_a", "id_b")

  /** Inverted-index build over the corpus: per term, df / total tf and
    * an md5 of the doc-ordered posting list (rendered doc:tf). */
  def invertedIndex(s: SparkSession, dir: String): DataFrame =
    TfIdf.invertedIndex(docs(s, dir), "doc_id", "text")
      .select(col("term"), col("df"), col("tf_total"),
        md5(concat_ws(",",
          expr("transform(postings, p -> concat(p.doc, ':', p.tf))"))).as("postings_md5"))
      .orderBy("term")

  /** Record-linkage scoring: trigram cosine over 12-char-prefix-blocked
    * pairs of 40-char leading titles. */
  def stringSim(s: SparkSession, dir: String): DataFrame =
    graft.operators.EditDistance.trigramCosinePairs(
        docs(s, dir).select(col("doc_id"), substring(col("text"), 1, 40).as("title")),
        "doc_id", "title", substring(col("title"), 1, 12))
      .select(col("id_a"), col("id_b"), col("dot"), rd(col("cosine"), 4).as("cosine"))
      .orderBy("id_a", "id_b")

  /** Vocabulary coverage curve — the vocab-size decision metric: tokens
    * ranked by corpus frequency (ties by token), with the cumulative
    * fraction of all token occurrences each prefix of the vocabulary
    * covers. Integer cumulative sums; one division at the end. */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val tf = docs(s, dir)
      .withColumn("toks", TextAnalysis.tokens("text"))
      .select(explode(col("toks")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val w = Window.orderBy(col("tf").desc, col("term"))
    val wAll = Window.partitionBy()
    tf.withColumn("rank", row_number().over(w))
      .withColumn("cum_tf", sum(col("tf")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("total", sum(col("tf")).over(wAll))
      .select(col("rank"), col("term"), col("tf"),
        rd(col("cum_tf").cast("double") / col("total"), 6).as("coverage"))
      .orderBy("rank")
  }

  /** Crawl-curation novelty curve: per ingest day (doc_id order stands
    * in for arrival), how many content hashes are first-seen vs repeats
    * — the dedup-rate telemetry a continuous ingestion pipeline tracks.
    * first_seen = min(day) per hash (one shuffle), then a day rollup. */
  def noveltyRate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .withColumn("day", (col("doc_id") % 10).cast("int"))
      .withColumn("h", md5(col("text")))
    val firstSeen = d.groupBy(col("h")).agg(min(col("day")).as("first_day"))
    d.join(firstSeen, "h")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("day") === col("first_day"), 1)).as("n_novel"))
      .withColumn("novelty_rate", rd(col("n_novel").cast("double") / col("n_docs"), 4))
      .orderBy("day")
  }

  /** Winnowing (MOSS) overlap: doc pairs sharing ≥3 selected k-gram
    * fingerprints (k=3, w=4 — guarantee floor: any shared 6-token run
    * is caught). */
  def winnowOverlap(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowOverlap(docs(s, dir), "doc_id", "text", k = 3, w = 4, minShared = 3)
      .orderBy("id_a", "id_b")

  /** Misra–Gries heavy hitters, m=32 counters: exact heavy terms
    * (freq·(m+1) > total, integer arithmetic — the oracle) plus the
    * sketch's two guarantee booleans: every heavy term is retained
    * (no false negatives) with its estimate inside the n/(m+1)
    * undercount bound. Raw estimates are legitimately merge-order
    * dependent, so only the guarantees are emitted (hll pattern). */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.HeavyHitters.mgHeavyHitters
    val terms = docs(s, dir)
      .withColumn("toks", TextAnalysis.tokens("text"))
      .select(explode(col("toks")).as("term"))
    val sketch = terms.agg(mgHeavyHitters(col("term"), 32).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item").as("term"), col("e.est").as("est"))
    // exact term counts as a |vocab|-row leaf; the total derives from
    // it (Σn ≡ count over terms) — the corpus is tokenized twice
    // (sketch + exact), not three times, and the heavy filter + total
    // both read the leaf
    val exact = graft.core.Lineage.truncate(
      terms.groupBy(col("term")).agg(count(lit(1)).as("n")))
    val tot = exact.agg(sum(col("n")).as("total"))
    exact.crossJoin(broadcast(tot))
      .filter(col("n") * 33 > col("total"))
      .join(sketch, Seq("term"), "left")
      .select(col("term"), col("n"),
        col("est").isNotNull.as("sketch_found"),
        (col("est").isNotNull && col("est") <= col("n") &&
          (col("n") - coalesce(col("est"), lit(0L))) * 33 <= col("total")).as("within_err"))
      .orderBy("term")
  }

  /** int8 scalar quantization of the embedding corpus: per-vector code
    * fingerprint + the hard scale/2 reconstruction-error bound as a
    * boolean (operators/Quantize). */
  def quantize(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quantize.scalarQuantize(embs(s, dir), "vec_id", "embedding")
      .select(col("vec_id"),
        md5(concat_ws(",", col("codes"))).as("codes_md5"),
        col("within_bound"))
      .orderBy("vec_id")

  /** Context-window chunking: 64-token windows, 8-token overlap. */
  def chunks(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("toks", TextAnalysis.tokens("text"))
      .withColumn("ch", explode(TextAnalysis.chunks("toks", size = 64, overlap = 8)))
      .select(col("doc_id"), col("ch.start").as("chunk_start"),
        size(col("ch.toks")).as("n_toks"),
        md5(concat_ws(" ", col("ch.toks"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_start")

  def fingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("toks", TextAnalysis.tokens("text"))
      .withColumn("fp", TextAnalysis.fingerprint("toks"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("fp")).as("n_fingerprints"), count(lit(1)).as("n_docs"))
      .orderBy("lang")

  // ---- dedup ---------------------------------------------------------------

  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(docs(s, dir), "doc_id", "text")
      .agg(
        count(lit(1)).as("n_distinct"),
        sum(col("n_copies")).as("n_docs"),
        count(when(col("n_copies") > 1, 1)).as("n_dup_groups"),
        sum(when(col("n_copies") > 1, col("n_copies")).otherwise(0)).as("n_dup_docs"))

  def dedupPrefix(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixGroups(docs(s, dir), "doc_id", "text")
      .select(md5(col("prefix")).as("prefix_hash"), col("canonical_id"), col("max_id"), col("n_docs"))
      .orderBy("prefix_hash")

  def minhashSig(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignaturesFromShingles(docSh3(s, dir), "doc_id", "sh")
      .orderBy("doc_id")

  def lshPairs(s: SparkSession, dir: String): DataFrame =
    lshPairsShared(s, dir)
      .select(col("id_a"), col("id_b"), rd(col("est_jaccard"), 4).as("est_jaccard"))
      .orderBy("id_a", "id_b")

  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = lshPairsShared(s, dir)
    Dedup.ngramJaccard(pairs.select("id_a", "id_b"), d, "doc_id", "text")
      .select(col("id_a"), col("id_b"), col("n_inter"), rd(col("jaccard"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** Session-shared CC labeling of the est_jaccard >= 0.5 LSH near-dup
    * pairs — the pointer-doubling loop four queries consume
    * (q_dedup_clusters, q_canonical_pick, q_cc_incremental's baseline,
    * q_leak_split's cluster key); run once per session. */
  private def lshCcLabels(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.memoize(s, s"lsh_cc05:$dir")(
      Dedup.connectedComponents(
        lshPairsShared(s, dir).filter(col("est_jaccard") >= 0.5)))

  /** Dedup clusters: LSH candidate pairs (est_jaccard >= 0.5) ->
    * connected components -> cluster membership (cluster_id = min doc
    * id in the component). */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    lshCcLabels(s, dir)
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")

  /** Incremental CC maintenance (Dedup.incrementalComponents): the
    * nightly-batch path — four new duplicate edges merged into the
    * existing LSH cluster labeling via the label-quotient graph,
    * WITHOUT re-clustering the corpus. The oracle recomputes CC from
    * scratch over old ∪ new edges, so the row proves
    * incremental ≡ full recompute. */
  def ccIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lshCcLabels(s, dir)
    val newEdges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (100L, 200L)).toDF("id_a", "id_b")
    Dedup.incrementalComponents(base, newEdges)
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")
  }

  /** Canonical selection: per duplicate cluster, KEEP THE BEST document
    * by quality score (ties to the smallest id) — real curation keeps
    * the best copy, not the first-seen one. Argmax folds into one
    * max(struct) aggregate over the CC labels ⋈ quality join. */
  def canonicalPick(s: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(s, dir)
    val d = docs(s, dir)
      .withColumn("toks", TextAnalysis.tokens("text"))
      .withColumn("score", TextAnalysis.qualityScore(size(col("toks")),
        TextAnalysis.stopwordRatio("toks"), TextAnalysis.punctRatio("text")))
      .select(col("doc_id"), col("score"))
    clusters.join(d, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("score").as("s"), (-col("doc_id")).as("nd"))).as("m"))
      .select(col("cluster_id"), col("n_members"),
        (-col("m.nd")).as("canonical_id"), rd(col("m.s"), 4).as("best_score"))
      .orderBy("cluster_id")
  }

  def simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash16(docs(s, dir), "doc_id", "text").orderBy("doc_id")

  def simhash64(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(docs(s, dir), "doc_id", "text", bits = 64).orderBy("doc_id")

  def simhash64Pairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDups(docs(s, dir), "doc_id", "text", maxHamming = 3, bits = 64)
      .orderBy("id_a", "id_b")

  // ---- similarity search ---------------------------------------------------

  def embedTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 8), "vec_id", "embedding", k = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), rd(col("cosine"), 4).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Product-quantization ADC top-k (Similarity.pqTopK): corpus
    * scanned as 4 one-byte codes per vector instead of 64 floats —
    * the memory-side ANN lever next to IVF's compute-side one. The
    * stride codebooks keep the whole chain SQL-expressible, so
    * encode → ADC table → fixed-order score assembly → top-k → exact
    * re-rank is fully hash-checked against DuckDB. */
  // PQ config shared by the query AND its generated oracle text —
  // the constants can't drift apart. 16 subspaces × 64 codes over
  // 64-dim vectors: 4 dims/code, 16x compression; recall@5 0.475 vs
  // brute force on the (unclustered, PQ-hostile) synthetic embeddings
  // (PqSpec pins ≥ 0.35). Donor ids stride-4 < 256 exist at every SF.
  private val PqM = 16
  private val PqCodes = 64
  private val PqStride = 4

  def pqTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.pqTopK(e, e.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5,
        m = PqM, codes = PqCodes, donorStride = PqStride)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        rd(col("adc"), 4).as("adc"), rd(col("cosine"), 4).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** IVF+PQ composition (Similarity.ivfPqTopK) — the faiss-IVFPQ
    * production shape: nprobe=2 coarse buckets cut the candidate set,
    * PQ codes cut the per-candidate cost; same stride determinism so
    * the full two-level chain is hash-checked. */
  def ivfPqTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5,
        centroidStride = 100, nprobe = 2, m = PqM, codes = PqCodes, donorStride = PqStride)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        rd(col("adc"), 4).as("adc"), rd(col("cosine"), 4).as("cosine"))
      .orderBy("query_id", "rank")
  }

  def embedIvf(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.ivfTopK(e, e.filter(col("vec_id") < 8), "vec_id", "embedding", k = 3, stride = 100)
      .select(col("query_id"), col("bucket"), col("rank"), col("neighbor_id"),
        rd(col("cosine"), 4).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Centroid-form silhouette of the stride-100 IVF partition
    * (Similarity.silhouette) — "do these coarse cells actually
    * separate the corpus": per-bucket mean of (b−a)/max(a,b) with a/b
    * the own/nearest-other centroid cosine distances; 1e-9 fixed-point
    * mean, engine-exact. */
  def silhouetteQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.silhouette(e,
        Similarity.strideCentroids(e, "vec_id", "embedding", stride = 100),
        "vec_id", "embedding")
      .orderBy("bucket")
  }

  /** Training-free LSH ANN (difference-plane sign bands + exact
    * re-rank) — candidate generation is a band equi-join, no quantizer
    * fit, no cross join. */
  def embedLsh(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.lshTopK(e, e.filter(col("vec_id") < 8), "vec_id", "embedding", k = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), rd(col("cosine"), 4).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Triangle census of the LSH 3-NN graph: composes
    * Similarity.knnGraph (corpus-as-queries, no broadcast) with
    * Graphs.triangleStats — the clustering-structure probe over the
    * embedding space. */
  def knnTriangles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graphs.triangleStats(knnCanon(s, dir), "a", "b")

  /** Link prediction on the LSH 3-NN graph (Graphs.linkPrediction):
    * top-20 NON-edges by common-neighbor count with the Adamic-Adar
    * tiebreak — "which near-duplicate relation is the index about to
    * discover". Degree is k-bounded, so the wedge join is safe by
    * construction. */
  def linkPred(s: SparkSession, dir: String): DataFrame = {
    graft.operators.Graphs.linkPrediction(knnCanon(s, dir), "a", "b", topK = 20)
      .select(col("id_a"), col("id_b"), col("common_neighbors"),
        rd(col("adamic_adar"), 6).as("adamic_adar"))
  }

  /** The same census through [[Graphs.triangleStatsOriented]] — the
    * degree-oriented, skew-proof variant: identical n_triangles (each
    * triangle counted once at its ≺-smallest corner), n_wedges bounded
    * by orientation instead of Σ deg². */
  def trianglesOriented(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graphs.triangleStatsOriented(knnCanon(s, dir), "a", "b")

  /** k-core peel ledger of the LSH 3-NN graph (k=4, 3 synchronized
    * rounds): the density-structure probe — how fast the graph sheds
    * its low-degree fringe. Same edge derivation as q_knn_triangles. */
  def kcorePeel(s: SparkSession, dir: String): DataFrame = {
    graft.operators.Graphs.kCorePeel(knnCanon(s, dir), "a", "b", k = 4, rounds = 3)
      .orderBy("round")
  }

  /** Hard-negative mining for contrastive training: each anchor's
    * nearest ANN candidates (LSH top-10) that carry a DIFFERENT label,
    * re-ranked — the negatives that actually move a contrastive loss,
    * vs q_neg_sample's uniform pool. Pure composition: lshTopK ⋈
    * labels ⋈ labels → filter → window re-rank. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val cands = Similarity.lshTopK(e, e.filter(col("vec_id") < 8), "vec_id", "embedding", k = 10)
    val labels = e.select(col("vec_id"), col("label"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    cands
      .join(labels.select(col("vec_id").as("query_id"), col("label").as("label_q")), "query_id")
      .join(labels.select(col("vec_id").as("neighbor_id"), col("label").as("label_n")), "neighbor_id")
      .filter(col("label_q") =!= col("label_n"))
      .withColumn("hard_rank", row_number().over(w))
      .filter(col("hard_rank") <= 3)
      .select(col("query_id"), col("hard_rank"), col("neighbor_id"),
        col("label_q"), col("label_n"), rd(col("cosine"), 4).as("cosine"))
      .orderBy("query_id", "hard_rank")
  }

  /** Deterministic label-propagation communities over the same kNN
    * graph (2 synchronized rounds, min-label ties), summarized per
    * surviving label. */
  def labelProp(s: SparkSession, dir: String): DataFrame = {
    knnLpaLabels(s, dir)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"), min(col("id")).as("min_member"))
      .orderBy("label")
  }

  /** Newman modularity of the LPA communities over the same kNN graph
    * (Graphs.modularity): per-community contribution + the corpus Q —
    * "are the clusters real or random wiring?". */
  def modularityQ(s: SparkSession, dir: String): DataFrame = {
    // canonicalize the expensive kNN chain to ONE shared edge-pair
    // leaf; the LPA loop and the modularity joins both read it. LPA's
    // symmetrized distinct edge set is identical over canonical pairs,
    // so labels (and the oracle) are unchanged. Leaves, not caches: the
    // LSH chain's logical plan is huge, and every downstream ACTION
    // re-analyzed the full tree before a cache substituted — a 4k-row
    // frame was costing seconds of planning per job
    val edges = knnCanon(s, dir)
    val labels = knnLpaLabels(s, dir)
    graft.operators.Graphs.modularity(edges, "a", "b", labels)
      .select(col("label"), col("n_nodes"), col("degree_sum"), col("intra_edges"),
        rd(col("contrib"), 8).as("contrib"),
        rd(col("modularity"), 8).as("modularity"), col("m"))
      .orderBy("label")
  }

  /** Term↔label mutual information (TfIdf.termLabelMi): which words
    * carry the is-English signal — the feature-selection ledger for
    * the filter model, exact 2×2 contingency counts per term. */
  def termMi(s: SparkSession, dir: String): DataFrame =
    graft.operators.TfIdf.termLabelMi(
        docs(s, dir).withColumn("is_en", col("lang") === "en"),
        "doc_id", "text", "is_en", minDf = 5L)
      .select(col("term"), col("n11"), col("n01"), col("n10"), col("n00"),
        rd(col("mi"), 8).as("mi"))
      .orderBy("term")

  /** Degree assortativity of the kNN graph (Graphs.degreeAssortativity):
    * hub-to-hub vs hub-and-spoke wiring — the skew early-warning for
    * every downstream per-node join. */
  def assortativity(s: SparkSession, dir: String): DataFrame = {
    // operator's canonical-edge barrier still re-derives knn once; at
    // one consumer no query-side persist is needed
    graft.operators.Graphs.degreeAssortativity(knnCanon(s, dir), "a", "b")
      .select(col("n_nodes"), col("m"),
        rd(col("assortativity"), 8).as("assortativity"))
  }

  /** IVF with the FITTED spherical-k-means quantizer + multi-probe
    * (nprobe=3) — the production ANN path. The Lloyd iteration isn't
    * SQL-expressible, so the detailed ranking can't be oracled; the
    * full per-rank output stays golden-pinned by GoldenRowsOnlySpec. */
  def embedIvfKmeans(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val centroids = Similarity.kMeansFit(e, "vec_id", "embedding", stride = 100, iters = 2)
    Similarity.ivfTopKWith(e, e.filter(col("vec_id") < 8), "vec_id", "embedding", k = 3,
        centroids, nprobe = 3)
      .select(col("query_id"), col("bucket"), col("rank"), col("neighbor_id"),
        rd(col("cosine"), 4).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Driver-facing view of [[embedIvfKmeans]]: per-query result count +
    * a recall gate vs the exact brute-force top-k. The exact side IS
    * SQL-expressible, so the oracle predicts (query_id, n_results,
    * recall_ok=TRUE) — a full rows+schema+hash gate that goes red if
    * the quantizer stops finding true neighbors or buckets go empty,
    * while the centroid-dependent ranking detail stays spec-pinned. */
  def embedIvfKmeansRecall(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val q = e.filter(col("vec_id") < 8)
    val centroids = Similarity.kMeansFit(e, "vec_id", "embedding", stride = 100, iters = 2)
    // probe breadth must scale with the partition count or recall decays
    // as the corpus (and nlist) grows — √nlist is the standard IVF
    // default; floor of 3 keeps the small-corpus behavior. The count is
    // a centroid-table config read (tiny frame), not a data-path collect.
    val nprobe = math.max(3, math.ceil(math.sqrt(centroids.count().toDouble)).toInt)
    val ivf = Similarity.ivfTopKWith(e, q, "vec_id", "embedding", k = 3, centroids, nprobe = nprobe)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3)
    val hits = ivf.join(exact.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    ivf.groupBy(col("query_id")).agg(count(lit(1)).as("n_results"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_results"),
        (coalesce(col("hits"), lit(0L)) >= 1).as("recall_ok"))
      .orderBy("query_id")
  }

  /** JL ±1 random projection 64 → 16 (Similarity.jlProject): first 8
    * projected coordinates for the sample rows plus the per-row norm²
    * distortion ratio — every value a deterministic IEEE fold, so the
    * whole output hash-gates tolerance-free. */
  def jlProject(s: SparkSession, dir: String): DataFrame =
    Similarity.jlProject(embs(s, dir).filter(col("vec_id") < 8), "vec_id", "embedding")
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("pos", "x")), col("norm2_ratio"))
      .filter(col("pos") < 8)
      .select(col("vec_id"), col("pos"), rd(col("x"), 6).as("x"),
        rd(col("norm2_ratio"), 4).as("norm2_ratio"))
      .orderBy("vec_id", "pos")

  /** MMR diversified top-5 (Similarity.mmrSelect): query = vec_id 0,
    * candidates = the rest of the corpus, λ = 0.7 — the
    * redundancy-penalized selection plain top-k can't express. */
  def mmrTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.mmrSelect(e.filter(col("vec_id") > 0), e.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 5, lambda = 0.7)
      .select(col("rank"), col("vec_id"), rd(col("rel"), 4).as("rel"), rd(col("mmr"), 4).as("mmr"))
      .orderBy("rank")
  }

  /** Sparse document cosine over df-pruned shingle-count vectors — the
    * inverted-index all-pairs similarity (integer dots, one division;
    * see TfIdf.shingleCosinePairs for the pruning-lever scale note). */
  def shingleCosine(s: SparkSession, dir: String): DataFrame =
    TfIdf.shingleCosinePairs(docs(s, dir), "doc_id", "text", maxDf = 10, minCosine = 0.3)
      .select(col("id_a"), col("id_b"), col("dot"), rd(col("cosine"), 4).as("cosine"))
      .orderBy("id_a", "id_b")

  /** Quantile (rank) normalization per embedding dimension — the
    * distribution-free feature transform: x → (rank(x)−1)/(n−1) within
    * its coordinate, ties sharing a rank. One explode + one window
    * PARTITIONED BY dim (parallel across dims at any scale — never a
    * global sort). Ranks are integers, the division is exact, so the
    * transform hash-gates. Emitted for a sample (vec_id < 4, dims
    * 0–7); the transform itself runs corpus-wide. */
  def quantileNorm(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("pos")).orderBy(col("x"))
    val wn = Window.partitionBy(col("pos"))
    embs(s, dir)
      .select(col("vec_id"), posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .withColumn("rk", rank().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .filter(col("vec_id") < 4 && col("pos") < 8)
      .select(col("vec_id"), col("pos"),
        rd(col("x"), 6).as("x"),
        rd((col("rk") - 1).cast("double") / (col("n") - 1), 6).as("qnorm"))
      .orderBy("vec_id", "pos")
  }

  /** Length-sorted batch packing efficiency — the dynamic-batching
    * planner's metric: sort docs by token length, cut into fixed-size
    * batches, and report each batch's padded-token waste (every row
    * pads to its batch max). Length-sorting is what makes the waste
    * small; the same query over an UNSORTED order is the baseline a
    * batching deployment compares against. Integer token counts
    * throughout. */
  def paddingWaste(s: SparkSession, dir: String): DataFrame = {
    val batchSize = 8
    val wLen = Window.orderBy(col("n_tokens").desc, col("doc_id"))
    docs(s, dir)
      .withColumn("n_tokens", size(TextAnalysis.tokens("text")))
      .withColumn("batch", floor((row_number().over(wLen) - 1) / batchSize).cast("long"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_tokens")).as("max_len"),
        sum(col("n_tokens")).as("sum_len"))
      .withColumn("padded", col("max_len") * col("n_docs"))
      .select(col("batch"), col("n_docs"), col("max_len"), col("sum_len"),
        (col("padded") - col("sum_len")).as("waste_tokens"),
        rd((col("padded") - col("sum_len")).cast("double") / col("padded"), 6).as("waste_frac"))
      .orderBy("batch")
  }

  /** Token-budget shard packing — the sequence-packing complement to
    * [[paddingWaste]]: sort docs by token count (desc, doc_id tiebreak)
    * and deal them round-robin into 16 bins (the LPT-greedy shape:
    * longest items spread first, so bin totals stay near-equal).
    * Reports per-bin doc/token totals and `balance` = bin_tokens /
    * ideal_share — the even-shard metric a distributed tokenizer job
    * optimizes. Same global-ranking caveat as paddingWaste: the corpus
    * ordering is one row_number over (n_tokens, doc_id); at 100 TB swap
    * the exact sort for range-partitioned bucketing on approx token
    * quantiles (the metric tolerates boundary slop; the exact form
    * keeps the oracle bit-stable at test scale). */
  def packBins(s: SparkSession, dir: String): DataFrame = {
    val nBins = 16
    val w = Window.orderBy(col("n_tokens").desc, col("doc_id"))
    val d = docs(s, dir)
      .withColumn("n_tokens", size(TextAnalysis.tokens("text")))
    val tot = d.agg(sum(col("n_tokens")).cast("long").as("total_tokens"))
    d.withColumn("bin", ((row_number().over(w) - 1) % nBins).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("sum_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("n_docs"), col("sum_tokens"), col("max_tokens"),
        rd(col("sum_tokens").cast("double") * nBins / col("total_tokens"), 6).as("balance"))
      .orderBy("bin")
  }

  /** Charikar densest-subgraph peel (Graphs.densestSubgraphPeel, 2
    * rounds) over the embedding 3-NN graph: how dense is the core the
    * peel converges toward — the "is there a tight near-duplicate
    * clique?" probe that complements q_kcore's fringe-shedding view.
    * Peel predicate is exact integer math (deg·n ≤ 2m), so the oracle
    * unrolls bit-stably. */
  def densestQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graphs.densestSubgraphPeel(knnCanon(s, dir), "a", "b",
        rounds = 2)
      .select(col("round"), col("n_nodes"), col("n_edges"), rd(col("density"), 6).as("density"))
      .orderBy("round")

  /** Multinomial Naive Bayes language classifier, self-classified on
    * the corpus (NaiveBayes.fitPredict: the model is a (term, label,
    * ll) DataFrame, scores are exact integer sums of 1e-9 fixed-point
    * log-likelihoods — an argmax no engine drift can flip), summarized
    * as the lang × predicted confusion matrix. The labeling-baseline
    * complement to q_logreg's trained linear model. */
  /** The NB self-classification frame, session-shared: q_naive_bayes
    * (confusion) and q_kappa (agreement) both consume exactly this
    * (doc_id, label_true, label_pred, correct) frame — |docs|-row,
    * 4-column leaf, same sharing stance as the purchase-graph /
    * LSH-pair leaves, so the fit+score chain runs once per sweep. */
  private def nbPred(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.memoize(s, s"nb_pred:$dir")(
      graft.operators.NaiveBayes.fitPredict(docs(s, dir), "doc_id", "text", "lang"))

  def naiveBayesQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.NaiveBayes.confusion(nbPred(s, dir))
      .orderBy("label_true", "label_pred")

  /** Cohen's kappa (Eval.cohensKappa, integer-cleared form) between
    * the Naive Bayes language prediction and the true lang label —
    * chance-corrected agreement, the honest version of "accuracy" when
    * the label distribution is skewed (raw agreement flatters a
    * majority-class guesser; κ doesn't). */
  def kappaQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Eval.cohensKappa(
        nbPred(s, dir).select(col("label_true").as("a"), col("label_pred").as("b")),
        "a", "b")
      .select(col("n_pairs"), col("d"), rd(col("agreement"), 6).as("agreement"),
        rd(col("kappa"), 8).as("kappa"))

  /** k-truss peel (Graphs.kTruss, k=4, 2 rounds) over the embedding
    * 3-NN graph: edges kept only while ≥2 triangles run through them —
    * the triangle-dense-core trajectory, strictly stronger cohesion
    * than q_kcore's degree peel on the same graph. */
  def ktrussQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graphs.kTruss(knnCanon(s, dir), "a", "b",
        k = 4, rounds = 2)
      .orderBy("round")

  /** Newman categorical assortativity of the embedding 3-NN graph
    * against the embeddings' class labels
    * (Graphs.attributeAssortativity, all-integer cleared form): do
    * same-label vectors neighbor each other — the label-homophily /
    * cluster-purity read on the ANN index that q_assortativity (degree
    * mixing) can't give. */
  def homophilyQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graphs.attributeAssortativity(
        knnCanon(s, dir), "a", "b", embs(s, dir), "vec_id", "label")
      .select(col("m2"), col("t_same"), rd(col("same_frac"), 6).as("same_frac"),
        rd(col("assortativity"), 8).as("assortativity"))

  /** Double-sweep diameter lower bound (Graphs.diameterDoubleSweep,
    * 8-hop budget) of the symmetrized 3-NN graph — how stretched is
    * the embedding manifold's neighbor structure; two BFS sweeps, the
    * argmax travels as a 1-row broadcast (no collect). */
  def diameterQ(s: SparkSession, dir: String): DataFrame = {
    val canon = knnCanon(s, dir)
    val und = canon.select(col("a").as("src"), col("b").as("dst"))
      .union(canon.select(col("b").as("src"), col("a").as("dst")))
    graft.operators.Graphs.diameterDoubleSweep(und, "src", "dst", maxHops = 8)
  }

  /** Seed-label spreading (Graphs.labelSpread, 2 rounds) over the
    * shared 3-NN graph: the first 30 vectors keep their true labels,
    * everything else adopts the majority label of its labeled
    * neighbors — the "label 1% by hand, propagate through the ANN
    * graph" bootstrapping move. Exact integer votes, min-label ties. */
  def labelSpreadQ(s: SparkSession, dir: String): DataFrame = {
    val seeds = embs(s, dir).filter(col("vec_id") < 30)
      .select(col("vec_id"), col("label"))
    graft.operators.Graphs.labelSpread(knnCanon(s, dir), "a", "b",
        seeds, "vec_id", "label", rounds = 2)
      .orderBy("id")
  }

  /** Mutual (reciprocal) kNN pairs over the shared 3-NN graph: (a, b)
    * kept only when each is in the other's top-3 — the
    * high-precision matching filter (bitext/translation mining's
    * reciprocal-best-match rule) that one-directional kNN can't give:
    * a hub vector appears in many top-3 lists while its own list holds
    * only its true peers. One intersect of the edge set with its
    * reverse — a single keyed shuffle on the pair. */
  def mutualKnnQ(s: SparkSession, dir: String): DataFrame = {
    val knn = knn3(s, dir)
    val fwd = knn.select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"))
    val rev = knn.select(col("neighbor_id").as("id_a"), col("query_id").as("id_b"))
    fwd.intersect(rev)
      .filter(col("id_a") < col("id_b"))
      .orderBy("id_a", "id_b")
  }

  /** Chi-square independence gate for lang × source — "is the language
    * mix uniform across crawl sources?" (Drift.chiSquareIndependence:
    * full-grid expected mass, 1e-9 fixed-point term sums). */
  def chiSquare(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.chiSquareIndependence(docs(s, dir), "lang", "source")
      .select(col("n"), col("r_levels"), col("c_levels"), col("dof"),
        rd(col("chi2"), 6).as("chi2"))

  /** Cramér's V effect size on the same lang×source contingency grid
    * as q_chi2 — the magnitude the chi² statistic doesn't give (chi²
    * grows with n even for trivial association; V = sqrt(chi²/(n·min
    * (r−1, c−1))) ∈ [0,1] doesn't). Built from the SAME 1e-9
    * fixed-point chi², so the sqrt input is bit-equal cross-engine. */
  def cramersV(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.chiSquareIndependence(docs(s, dir), "lang", "source")
      .withColumn("v", sqrt(col("chi2") /
        (col("n").cast("double") *
          least(col("r_levels") - 1, col("c_levels") - 1).cast("double"))))
      .select(col("n"), col("dof"), rd(col("chi2"), 6).as("chi2"),
        rd(col("v"), 6).as("cramers_v"))

  /** kNN label-agreement audit (mislabel detection, the Confident-
    * Learning-style neighborhood check): for every vector, the share
    * of its k=3 LSH-graph neighbors carrying the same label; a vector
    * whose neighborhood disagrees (< 2/3) is flagged `suspect`. The
    * flag compares exact integers (n_same·3 < n_neighbors·2) — no
    * tolerance. Reuses Similarity.knnGraph's banded candidate
    * generation; labels attach via two hash joins. */
  def labelNoise(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    // the shared knn3 leaf IS Similarity.knnGraph(embs, k=3) — reusing
    // it drops this query's private LSH kNN rebuild (the most expensive
    // subtree it had) without changing a row
    val knn = knn3(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val lab = e.select(col("vec_id"), col("label"))
    knn
      .join(lab.select(col("vec_id").as("query_id"), col("label")), "query_id")
      .join(lab.select(col("vec_id").as("neighbor_id"), col("label").as("nlabel")), "neighbor_id")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("nlabel") === col("label"), 1L).otherwise(0L)).as("n_same"))
      .withColumn("agree_frac",
        rd(col("n_same").cast("double") / col("n_neighbors"), 6))
      .withColumn("suspect", col("n_same") * 3 < col("n_neighbors") * 2)
      .select(col("query_id").as("vec_id"), col("label"), col("n_neighbors"),
        col("n_same"), col("agree_frac"), col("suspect"))
      .orderBy("vec_id")
  }

  /** ANN retrieval-quality gate: MRR@3 and recall@3 of the LSH index
    * against brute-force ground truth, per query — the eval any ANN
    * deployment runs before trusting the index. rr = 1/first relevant
    * rank (0 if none); all metrics are ratios of small exact integers,
    * so the gate hash-checks with no tolerance. */
  def retrievalEval(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val q = e.filter(col("vec_id") < 8)
    val cand = Similarity.lshTopK(e, q, "vec_id", "embedding", k = 3)
    val truth = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("hit"))
    cand.join(truth, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(
        coalesce(lit(1) / min(when(col("hit"), col("rank"))), lit(0.0)).as("rr"),
        (count(when(col("hit"), 1)) / lit(3)).as("recall_3"),
        count(lit(1)).as("n_returned"))
      .select(col("query_id"), rd(col("rr"), 6).as("rr"),
        rd(col("recall_3"), 6).as("recall_3"), col("n_returned"))
      .orderBy("query_id")
  }

  /** Per-dimension embedding diagnostics — the matrix-health check an
    * embedding pipeline runs before training on a corpus: mean/σ per
    * coordinate (DEAD dimensions have σ ≈ 0 and carry no signal —
    * they waste model capacity and break whitening), plus exact
    * min/max. Scale shape: one posexplode + one groupBy(dim) — dim
    * count rows out. Moments run on 1e-7 fixed-point integers (exact
    * under any row order; coordinate magnitudes ≤ ~1e2 and corpus
    * ≤ ~1e9 rows keep the scaled squares inside int64). */
  def embedDimStats(s: SparkSession, dir: String): DataFrame = {
    val fp = floor(col("x") * lit(1e7) + lit(0.5)).cast("long")
    embs(s, dir)
      .select(col("vec_id"), posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .select(col("pos"), col("x"), fp.as("f"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(col("f")).as("s1"),
        sum(col("f") * col("f")).as("s2"),
        min(col("x")).as("vmin"), max(col("x")).as("vmax"))
      .withColumn("mean", (col("s1").cast("double") / lit(1e7)) / col("n"))
      .withColumn("varp", ((col("s2").cast("double") / lit(1e14)) / col("n"))
        - col("mean") * col("mean"))
      .select(col("pos"), col("n"),
        rd(col("mean"), 6).as("mean"),
        rd(sqrt(col("varp")), 6).as("std"),
        rd(col("vmin"), 6).as("vmin"),
        rd(col("vmax"), 6).as("vmax"),
        (col("varp") < 1e-6).as("is_dead"))
      .orderBy("pos")
  }

  /** Leave-one-out target encoding of `source` against the is-English
    * label (Encoding.targetEncodeLoo, alpha=10) — the self-leakage-free
    * category feature. Exact BIGINT sums under the hood, so every
    * encoded value hash-gates. */
  def targetEncode(s: SparkSession, dir: String): DataFrame =
    graft.operators.Encoding.targetEncodeLoo(
        docs(s, dir).select(col("doc_id"), col("source"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y")),
        "source", "y", alpha = 10.0)
      .select(col("doc_id"), col("source"), col("y"),
        rd(col("te_loo"), 6).as("te_loo"),
        rd(col("te_smooth"), 6).as("te_smooth"),
        rd(col("freq"), 6).as("freq"))
      .orderBy("doc_id")

  /** Hybrid retrieval via reciprocal-rank fusion: a fixed 3-term query
    * ranked by (a) multi-term BM25 and (b) raw term-count dot product,
    * fused with TfIdf.rrfFuse — the RAG-stack merge where lexical and
    * second-signal rankings combine without score calibration. Both
    * per-ranker scores assemble as FIXED-ORDER coalesce sums (pivoted
    * per-term columns, never a grouped float sum), so the whole ranking
    * chain hash-gates. */
  def rrfHybrid(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("query", "join", "filter")
    val d = docs(s, dir)
    def pivotSum(valueCol: String,
                 zero: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      terms.map(t => coalesce(max(when(col("term") === t, col(valueCol))), zero))
        .reduce(_ + _)
    val bmScore = TfIdf.bm25(d, "doc_id", "text")
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(pivotSum("score", lit(0.0)).as("score_a"))
    val wA = Window.orderBy(col("score_a").desc, col("doc_id"))
    val rankA = bmScore.withColumn("rank", row_number().over(wA)).select("doc_id", "rank")
    val cnt = d
      .select(col("doc_id"), explode(TextAnalysis.tokens("text")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("f"))
      .groupBy(col("doc_id"))
      .agg(pivotSum("f", lit(0L)).as("dotc"))
    val wB = Window.orderBy(col("dotc").desc, col("doc_id"))
    val rankB = cnt.withColumn("rank", row_number().over(wB)).select("doc_id", "rank")
    val wF = Window.orderBy(col("rrf").desc, col("doc_id"))
    TfIdf.rrfFuse(Seq("bm25" -> rankA, "count" -> rankB), Seq("doc_id"))
      .withColumn("rank_fused", row_number().over(wF))
      .filter(col("rank_fused") <= 20)
      .select(col("rank_fused"), col("doc_id"), col("rank_bm25"), col("rank_count"),
        rd(col("rrf"), 6).as("rrf"))
      .orderBy("rank_fused")
  }

  /** Near-subset pairs by shingle containment (Dedup.containmentPairs:
    * rare-shingle blocking, exact integer intersection counts). */
  def containment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(docs(s, dir), "doc_id", "text", maxDf = 10, minContainment = 0.8,
      shingled = Some(docSh3(s, dir)))
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"), col("n_b"),
        rd(col("cont_a"), 4).as("cont_a"), rd(col("cont_b"), 4).as("cont_b"))
      .orderBy("id_a", "id_b")

  /** SemDeDup semantic dedup over the stride-quantized embedding
    * space: the dropped-row ledger at tau=0.3 (the permissive
    * semantic-level threshold — far below exact-dup cosine, which is
    * the SemDeDup operating point). Stride quantizer keeps the whole
    * output oracle-expressible; production swaps in kMeansFit
    * centroids on the same operator. */
  def semanticDedupDrops(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val centroids = Similarity.strideCentroids(e, "vec_id", "embedding", stride = 100)
    Dedup.semanticDedup(e, "vec_id", "embedding", centroids, tau = 0.3)
      .select(col("id").as("vec_id"), col("bucket"), col("dup_of"),
        rd(col("cosine"), 4).as("cosine"))
      .orderBy("vec_id")
  }

  /** Feature frame for the linear language classifier: integer-ratio
    * features (exact IEEE divisions of exact integer counts — bit-
    * identical on any engine), label = is-English. */
  private[queries] def logregFeatures(s: SparkSession, dir: String): DataFrame =
    // session-shared NARROW leaf (doc_id, y, 3 doubles): the fit's two
    // gradient passes, the train-metrics scan AND q_fairness's scoring
    // pass each re-tokenized + re-regexed the raw corpus otherwise —
    // 5 full text passes for one 5-column projection (same stance as
    // the NB/scored-docs leaves)
    graft.core.SharedFrames.memoize(s, s"logreg_features:$dir")(
      docs(s, dir)
        .withColumn("__toks", TextAnalysis.tokens("text"))
        .select(col("doc_id"),
          when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
          (size(col("__toks")).cast("double") / lit(100)).as("x_ntok"),
          (expr("size(filter(__toks, t -> t IN ('the', 'a')))").cast("double") /
            greatest(size(col("__toks")), lit(1)).cast("double")).as("x_stop"),
          ((length(col("text")) - length(regexp_replace(lower(col("text")), "[^a-z0-9 ]", "")))
            .cast("double") / greatest(length(col("text")), lit(1)).cast("double")).as("x_punct")))

  private[queries] val LogregFeatures = Seq("x_ntok", "x_stop", "x_punct")

  /** The fitted 2-round weight row, session-shared: q_logreg and
    * q_fairness train the IDENTICAL model (deterministic fixed-point
    * gradients), so the second consumer reads the 1-row leaf instead
    * of re-running 2 full gradient passes. */
  private[queries] def logregWeights(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.memoize(s, s"logreg_weights:$dir")(
      graft.operators.LogReg.fit(
        logregFeatures(s, dir), LogregFeatures, "y", lr = 1.0, iters = 2))

  /** Distributed classifier fit (LogReg.fit: 2 GD rounds, broadcast-ML
    * loop) + full-corpus train metrics, as one 1-row result the oracle
    * unrolls iteration by iteration. */
  def logregFit(s: SparkSession, dir: String): DataFrame = {
    val f = logregFeatures(s, dir)
    val w = logregWeights(s, dir)
    val m = graft.operators.LogReg.score(f, LogregFeatures, w)
      .agg(count(lit(1)).as("n_docs"),
        sum((col("pred") === col("y")).cast("long")).as("n_correct"))
    m.crossJoin(broadcast(w)).select(
      col("n_docs"), col("n_correct"),
      rd(col("n_correct").cast("double") / col("n_docs"), 6).as("accuracy"),
      rd(col("w_bias"), 10).as("w_bias"),
      rd(col("w_x_ntok"), 10).as("w_ntok"),
      rd(col("w_x_stop"), 10).as("w_stop"),
      rd(col("w_x_punct"), 10).as("w_punct"))
  }

  // ---- multimodal ----------------------------------------------------------

  def multimodalAssets(s: SparkSession, dir: String): DataFrame =
    Multimodal.assetsFromDocuments(docs(s, dir))
      .select(
        col("asset_id"), col("kind"),
        length(col("content")).as("n_bytes"),
        md5(col("content")).as("content_md5"),
        col("meta.origin").as("origin"),
        col("meta.declared_chars").as("declared_chars"),
        to_json(col("meta")).as("meta_json"))
      .orderBy("asset_id")

  def multimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    Multimodal.byteFeatures(Multimodal.assetsFromDocuments(docs(s, dir)))
      .toDF()
      .select(col("asset_id"), col("kind"), col("n_bytes"),
        rd(col("mean_byte"), 4).as("mean_byte"),
        rd(element_at(col("features"), 2), 4).as("f1"))
      .orderBy("asset_id")
  }

  /** REAL container-header decode (Multimodal.decodeImageMeta →
    * plans/ImageExpressions): per-doc PNG/JPEG/GIF/BMP fixture bytes
    * are CONSTRUCTED from arithmetic dims (w = id%500+16,
    * h = id%300+16) following the genuine public container layouts —
    * big-endian IHDR uint32s, a JPEG APP0+SOF0 marker walk, GIF/BMP
    * little-endian fields — then parsed BACK by the codegen'd header
    * expressions. The oracle predicts the construction arithmetic, so
    * any parsing defect (endianness, offset, marker-walk, truncation
    * handling) breaks the hash. doc_id%5==4 plants bad bytes:
    * %10==4 a truncated PNG (magic must sniff, dims must be NULL),
    * %10==9 unrecognizable garbage (format NULL). */
  def multimodalDecode(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"),
      (col("doc_id") % 500 + 16).cast("int").as("__w"),
      (col("doc_id") % 300 + 16).cast("int").as("__h"))
    val w4 = lpad(hex(col("__w")), 4, "0"); val h4 = lpad(hex(col("__h")), 4, "0")
    val w8 = lpad(hex(col("__w")), 8, "0"); val h8 = lpad(hex(col("__h")), 8, "0")
    def le16(x: org.apache.spark.sql.Column) = concat(substring(x, 3, 2), substring(x, 1, 2))
    def le32(x: org.apache.spark.sql.Column) = concat(substring(x, 7, 2), substring(x, 5, 2),
      substring(x, 3, 2), substring(x, 1, 2))
    val pngHex = concat(lit("89504E470D0A1A0A0000000D49484452"), w8, h8,
      lit("080600000000000000"))
    val jpegHex = concat(lit("FFD8FFE000104A46494600010100000100010000FFC0001108"),
      h4, w4, lit("03011100021101031101FFD9"))
    val gifHex = concat(lit("474946383961"), le16(w4), le16(h4), lit("F70000"))
    // BM magic, file size, reserved, pixel offset 54, BITMAPINFOHEADER
    // size 40, then LE32 width/height at byte offsets 18/22, then
    // planes/bpp/compression/size/resolution/palette fields
    val bmpHex = concat(lit("424D460000000000000036000000" + "28000000"), le32(w8), le32(h8),
      lit("01001800" + "00000000" + "10000000" + "130B0000" + "130B0000" + "00000000" + "00000000"))
    val hexCol = when(col("doc_id") % 5 === 0, pngHex)
      .when(col("doc_id") % 5 === 1, jpegHex)
      .when(col("doc_id") % 5 === 2, gifHex)
      .when(col("doc_id") % 5 === 3, bmpHex)
      .when(col("doc_id") % 10 === 4, substring(pngHex, 1, 24))
      .otherwise(lit("00112233445566"))
    Multimodal.decodeImageMeta(base.select(col("doc_id").as("asset_id"),
        lit("image").as("kind"), unhex(hexCol).as("content")))
      .select(col("asset_id"), col("format"), col("width"), col("height"), col("valid"))
      .orderBy("asset_id")
  }

  /** REAL audio/video container-header decode
    * (Multimodal.decodeMediaMeta → plans/MediaExpressions): per-doc
    * WAV / MP4(mvhd v0) / MP4(mvhd v1) / OGG fixture bytes are
    * CONSTRUCTED from arithmetic parameters following the genuine
    * public layouts — a RIFF chunk walk with LE fmt/data fields, an
    * ISO-BMFF box walk with BE sizes (the v1 case adds a `free` box
    * before moov to exercise box skipping, and a 64-bit duration) —
    * then parsed BACK by the codegen'd header expressions. The oracle
    * predicts the construction arithmetic, so any endianness, offset,
    * chunk-pad, or box-walk defect breaks the hash. doc_id%10==4
    * plants a truncated WAV (magic sniffs, fields NULL), %10==9
    * unrecognizable garbage. */
  def multimodalMedia(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val base = docs(s, dir).select(id,
      (id % 32000 + 8000).as("__rate"), (id % 2 + 1).as("__ch"),
      (id % 30 + 1).as("__secs"),
      (lit(3) * (id % 10000 + 200)).as("__dur0"),
      (id % 90000 + 1000).as("__dur1"))
    def h8(x: org.apache.spark.sql.Column) = lpad(hex(x), 8, "0")
    def h4(x: org.apache.spark.sql.Column) = lpad(hex(x), 4, "0")
    def le16(x: org.apache.spark.sql.Column) = { val v = h4(x)
      concat(substring(v, 3, 2), substring(v, 1, 2)) }
    def le32(x: org.apache.spark.sql.Column) = { val v = h8(x)
      concat(substring(v, 7, 2), substring(v, 5, 2), substring(v, 3, 2), substring(v, 1, 2)) }
    val byteRate = col("__rate") * col("__ch") * 2
    val dataSize = byteRate * col("__secs")
    // RIFF size WAVE | fmt_ 16 LE | pcm ch rate byteRate blockAlign bits | data size
    val wavHex = concat(lit("52494646"), le32(dataSize + 36), lit("57415645"),
      lit("666D7420"), lit("10000000"), lit("0100"), le16(col("__ch")),
      le32(col("__rate")), le32(byteRate), le16(col("__ch") * 2), lit("1000"),
      lit("64617461"), le32(dataSize))
    // ftyp isom | moov(36) > mvhd(28) v0: ctime mtime timescale=600 duration
    val mp4V0Hex = concat(lit("0000001066747970" + "69736F6D00000000"),
      lit("000000246D6F6F76"), lit("0000001C6D766864"), lit("00000000"),
      lit("0000000000000000"), h8(lit(600)), h8(col("__dur0")))
    // ftyp | free(8) skipped | moov(48) > mvhd(40) v1: 64-bit times,
    // timescale=1000, 64-bit duration
    val mp4V1Hex = concat(lit("0000001066747970" + "69736F6D00000000"),
      lit("0000000866726565"),
      lit("000000306D6F6F76"), lit("000000286D766864"), lit("01000000"),
      lit("0000000000000000" * 2), h8(lit(1000)), lit("00000000"), h8(col("__dur1")))
    val oggHex = lit("4F67675300020000")
    val hexCol = when(id % 5 === 0, wavHex)
      .when(id % 5 === 1, mp4V0Hex)
      .when(id % 5 === 2, mp4V1Hex)
      .when(id % 5 === 3, oggHex)
      .when(id % 10 === 4, substring(wavHex, 1, 24)) // RIFF..WAVE, nothing else
      .otherwise(lit("00112233445566"))
    Multimodal.decodeMediaMeta(base.select(id.as("asset_id"),
        lit("media").as("kind"), unhex(hexCol).as("content")))
      .select(col("asset_id"), col("format"), col("duration_ms"),
        col("sample_rate"), col("channels"), col("valid"))
      .orderBy("asset_id")
  }

  /** URL canonicalization + per-site host key (plans/UrlExpressions):
    * per-doc fixture URLs CONSTRUCTED with known junk — mixed-case
    * scheme/host, default and non-default ports, userinfo, tracking
    * params interleaved with real ones, fragments, a non-http scheme
    * and plain garbage — canonicalized back by the codegen'd
    * expression. The oracle writes the expected canonical form
    * directly from the construction (it knows which parts survive),
    * so any defect in the scheme/host/port/param/fragment handling
    * breaks the hash. The crawl-side dedup key that byte-level dedup
    * can't give. */
  def urlCanonQ(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val g = id % 50
    val raw = when(id % 5 === 0,
        concat(lit("HtTp://WWW.Site"), g, lit(".ExAmple.COM:80/Path/"), id,
          lit("?utm_source=x&id="), id, lit("&utm_campaign=y#frag")))
      .when(id % 5 === 1,
        concat(lit("https://Sub.Domain"), g, lit(".ORG:443/a/b?ref=tw&x=1&y=2")))
      .when(id % 5 === 2,
        concat(lit("http://user:pw@Host"), id, lit(".net:8080/p")))
      .when(id % 5 === 3,
        concat(lit("https://EX"), g, lit(".com/only?utm_source=a&utm_medium=b#x")))
      .when(id % 10 === 4, lit("ftp://files.example.com/x"))
      .otherwise(concat(lit("not a url "), id))
    docs(s, dir).select(id,
        graft.plans.UrlExpressions.urlCanonicalize(raw).as("url_canon"),
        graft.plans.UrlExpressions.urlHost(raw).as("host"))
      .withColumn("valid", col("url_canon").isNotNull)
      .orderBy("doc_id")
  }

  /** HTML boilerplate strip (plans/HtmlExpressions.stripHtml): per-doc
    * fixture markup wraps the document text with a full head (script
    * whose CONTENT contains `<`, `//` and a `</scripty>` fakeout that
    * must NOT end it, a style block, a comment), heading and entity
    * text — the extractor must return exactly the predictable
    * surviving text. %10==9 plants an unclosed tag (swallows to EOF →
    * empty), %10==4 entities with no markup. The oracle writes the
    * expected extraction straight from the construction. */
  def htmlStripQ(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val wrapped = when(id % 10 === 9, concat(lit("<div "), col("text")))
      .when(id % 10 === 4, concat(lit("R&amp;D "), col("text")))
      .otherwise(concat(
        lit("<html><head><title>t</title>" +
          "<script type=\"text/javascript\">var x = 1 < 2; // </scripty> fake</script>" +
          "<style>.a { color: red; }</style></head><body><!-- comment --><h1>Doc "),
        id,
        lit("</h1><p>&quot;intro&quot; &amp; more</p><div>"), col("text"),
        lit("</div><br/></body></html>")))
    docs(s, dir).select(id,
        graft.plans.HtmlExpressions.stripHtml(wrapped).as("clean_text"))
      .withColumn("n_chars", length(col("clean_text")))
      .orderBy("doc_id")
  }

  /** Gopher structural-quality battery (QualityRules.gopherRules):
    * per-doc fixture text CONSTRUCTED with the exact pathologies each
    * rule exists to catch — CRLF line endings with an ellipsis-ended
    * line (the \r?\n split must strip the \r or r_ellipsis silently
    * dies), tab-glued words (the \s+ split must separate them), a
    * bullet-heavy listicle, a repeated nav-bar line, and a NULL
    * document (must land deterministically on the drop side). The
    * oracle recomputes every metric and rule flag from the same
    * construction in DuckDB. */
  def gopherRulesQ(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val fix = when(id % 10 === 7, lit(null).cast("string"))
      .when(id % 5 === 0, concat(col("text"),
        lit("\r\n- bullet point\r\n* second bullet\r\ntrailing thought...\r\n# heading" +
          "\r\nthat said we have to be done with the rest of it")))
      .when(id % 5 === 1, concat(col("text"),
        lit("\tlots\tof\ttabs here… and that is the point of it all to be sure")))
      .when(id % 5 === 2, concat(lit("• item one\n• item two\n• item three\n"),
        substring(col("text"), 1, 60)))
      .when(id % 5 === 3, concat(lit("nav bar\nnav bar\nnav bar\n"), col("text")))
      .otherwise(col("text"))
    graft.operators.QualityRules.gopherRules(
        docs(s, dir).select(id, fix.as("text")), "text", Seq("doc_id"))
      .orderBy("doc_id")
  }

  /** Heaps'-law vocabulary-growth curve (VocabGrowth.heapsCurve,
    * bucketSize=25 → 20 checkpoints over the corpus in doc_id order):
    * per-bucket token mass, first-sighting new-type counts, cumulative
    * curve, and the OLS-fitted β/K (fixed-point sums — bit-stable
    * cross-engine). The corpus-composition diagnostic a tokenizer
    * designer reads before freezing a vocab budget. */
  def vocabGrowthQ(s: SparkSession, dir: String): DataFrame = {
    // the raw corpus has a CLOSED 31-word vocabulary (flat V(n) from
    // bucket 0 — a degenerate fit); mint id-derived rare types at two
    // cadences so every checkpoint sees genuine growth
    val id = col("doc_id")
    val fix = concat(col("text"),
      when(id % 3 === 0, concat(lit(" uniq"), id)).otherwise(lit("")),
      when(id % 7 === 0, concat(lit(" band"), id % 97)).otherwise(lit("")))
    graft.operators.VocabGrowth.heapsCurve(
        docs(s, dir).select(id, fix.as("text")), "doc_id", "text", bucketSize = 25L)
      .orderBy("bucket")
  }

  /** Margin-based bitext mining (Similarity.marginBitext, k=4): the
    * LASER/CCMatrix ratio-margin criterion over two embedding slices
    * standing in for two languages' spaces (vec_id < 40 vs ≥ 40) —
    * per x-side vector its margin-best y candidate, hub-corrected by
    * both neighborhoods' mean cosine, with the mutual-best and
    * threshold flags a mining pipeline keeps. Margins compose in
    * integer arithmetic from 1e-9-quantized cosines (one closing
    * division), so ranking is engine-stable. */
  def bitextMiningQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    graft.operators.Similarity.marginBitext(
        e.filter(col("vec_id") < 40), e.filter(col("vec_id") >= 40),
        "vec_id", "embedding", k = 4, threshold = 1.2)
      .select(col("x_id"), col("y_id"), rd(col("cosine"), 4).as("cosine"),
        rd(col("margin"), 6).as("margin"), col("mutual"), col("mined"))
      .orderBy("x_id")
  }

  /** q_bitext_mining's production path: the same margin mining with
    * the top-k passes swapped to bucketed IVF (stride-100 coarse
    * quantizer, 3-probe) through marginBitext's `topK` parameter —
    * neither corpus side is ever cross-joined. The oracle SIMULATES
    * the identical ANN path (same assignment, probes, tie-breaks,
    * margins), so the hash gate checks the bucketed pipeline
    * end-to-end across engines; brute-force equivalence of the ANN
    * path on cluster-structured data is pinned by LshAnnSpec's
    * planted-pairs case (this corpus is deliberately unclustered, so
    * equality with q_bitext_mining would not hold — recall there is a
    * measured property, not a contract). */
  def bitextAnnQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val centroids = Similarity.strideCentroids(e, "vec_id", "embedding", stride = 100)
    val ann = (c: DataFrame, q: DataFrame, id: String, vec: String, k: Int) =>
      Similarity.ivfTopKWith(c, q, id, vec, k, centroids, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"), col("cosine"))
    graft.operators.Similarity.marginBitext(
        e.filter(col("vec_id") < 40), e.filter(col("vec_id") >= 40),
        "vec_id", "embedding", k = 4, threshold = 1.2, topK = ann)
      .select(col("x_id"), col("y_id"), rd(col("cosine"), 4).as("cosine"),
        rd(col("margin"), 6).as("margin"), col("mutual"), col("mined"))
      .orderBy("x_id")
  }

  /** Paragraph-grain exact dedup (Dedup.paragraphDedup) — the cheap
    * first pass before MinHash: fixture docs share a verbatim header
    * and footer paragraph (planted across two construction branches,
    * one of them CRLF so the normalize matters, plus a whitespace-only
    * pseudo-paragraph that must vanish); the globally first occurrence
    * of each paragraph keeps, every later copy is a cut. */
  def paraDedupQ(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val fix = when(id % 4 === 0, concat(lit("SHARED HEADER PARA\n\nunique "), id,
        lit(" body\n\nSHARED FOOTER")))
      .when(id % 4 === 1, concat(lit("SHARED HEADER PARA\r\n\r\nsecond unique "), id))
      .when(id % 4 === 2, concat(substring(col("text"), 1, 80), lit("\n\n \t \n\nSHARED FOOTER")))
      .otherwise(concat(lit("solo para only "), id))
    Dedup.paragraphDedup(docs(s, dir).select(id, fix.as("text")), "doc_id", "text")
      .orderBy("doc_id", "para_idx")
  }

  /** PSL registrable-domain extraction (plans/UrlExpressions.urlDomain
    * against the embedded Public Suffix List snapshot): fixture URLs
    * CONSTRUCTED to hit every branch of the PSL algorithm — multi-label
    * ccTLD rules (co.uk, com.au), private-section hosting (github.io:
    * each user a separate SITE), flat-TLD default, the wildcard rule
    * (*.ck), the exception rule (!www.ck), a bare public suffix (no
    * registrable domain), an IP literal, and an unlisted TLD (PSL
    * default `*` fallback). The oracle writes the expected key straight
    * from the construction. */
  def urlDomainQ(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val g = id % 50
    val raw = when(id % 10 === 0, concat(lit("https://News.Site"), g, lit(".CO.UK/a")))
      .when(id % 10 === 1,
        concat(lit("http://Shop"), g, lit(".example.COM.AU:80/x?utm_source=t")))
      .when(id % 10 === 2, concat(lit("https://User"), g, lit(".GitHub.IO/repo")))
      .when(id % 10 === 3, concat(lit("http://a.b.site"), g, lit(".de/p")))
      .when(id % 10 === 4, lit("https://www.ck/x"))
      .when(id % 10 === 5, concat(lit("http://shop"), g, lit(".stuff.ck/y")))
      .when(id % 10 === 6, lit("https://co.uk/path"))
      .when(id % 10 === 7, lit("http://192.168.10.1:8080/admin"))
      .when(id % 10 === 8, concat(lit("https://blog"), g, lit(".weird-tld.xyzzy/p")))
      .otherwise(concat(lit("junk "), id))
    docs(s, dir).select(id,
        graft.plans.UrlExpressions.urlHost(raw).as("host"),
        graft.plans.UrlExpressions.urlDomain(raw).as("site_key"))
      .withColumn("has_site", col("site_key").isNotNull)
      .orderBy("doc_id")
  }

  /** Per-language tokenizer fertility (tokens per whitespace word,
    * chars per token, by lang) — the cost signal a multilingual mix
    * designer reads before fixing per-language budgets: a language
    * whose fertility runs high pays more sequence length for the same
    * words, so an unweighted document mix under-trains it. Exact
    * integer sums per language; the two ratios round at the shared
    * grains. */
  def tokenFertility(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("lang"), length(col("text")).cast("long").as("__chars"),
        TextAnalysis.wsTokenCount("text").cast("long").as("__ws"),
        TextAnalysis.bpeishTokenCount("text").cast("long").as("__bp"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("__ws").as("ws_tokens"),
        sum("__bp").as("bpeish_tokens"), sum("__chars").as("n_chars"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpeish_tokens"),
        col("n_chars"),
        rd(col("bpeish_tokens").cast("double") / greatest(col("ws_tokens"), lit(1L)), 6)
          .as("fertility"),
        rd(col("n_chars").cast("double") / greatest(col("bpeish_tokens"), lit(1L)), 4)
          .as("chars_per_token"))
      .orderBy("lang")

  /** Fill-in-the-middle transform (Curation.fimTransform, 50% rate):
    * the FIM pretraining rewrite — hash-selected docs emitted in PSM
    * order with sentinel markers, split points md5-derived per
    * (seed, doc) so dataset versions are reproducible. The oracle
    * replays the exact hash arithmetic and string surgery. */
  def fimQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.fimTransform(
        docs(s, dir).select(col("doc_id"), col("text")), "doc_id", "text",
        ratePct = 50, seed = "fim")
      .select(col("doc_id"), col("fim_applied"), col("n_prefix"), col("n_middle"),
        col("fim_text"))
      .orderBy("doc_id")

  /** Orthogonal-Procrustes embedding alignment (Align.procrustes):
    * Y is CONSTRUCTED as an exact signed permutation of X
    * (y_k = ±x_{(k+5) mod 64} — an orthogonal map), so the recovered
    * rotation W must equal that signed permutation EXACTLY and the
    * after-alignment residual must be 0 — any defect in the
    * cross-covariance accumulation or the driver-side Jacobi SVD
    * breaks the hash. The oracle predicts W from the construction and
    * recomputes Σσ / residuals from the same fixed-point M. */
  def procrustesQ(s: SparkSession, dir: String): DataFrame = {
    val x = col("embedding").cast("array<double>")
    val y = transform(sequence(lit(0), lit(63)),
      k => when(k % 2 === 0, lit(1.0)).otherwise(lit(-1.0)) *
        element_at(x, ((k + 5) % 64) + 1))
    graft.operators.Align.procrustes(
        embs(s, dir).select(x.as("x"), y.as("y")), "x", "y")
      .orderBy("j", "k")
  }

  /** Per-SITE quota keyed by the PSL registrable domain
    * (Curation.capPerKey over UrlExpressions.urlDomain): the
    * anti-domination gate a 100 TB crawl mix runs — `a.blogs.co.uk`
    * and `b.blogs.co.uk` burn ONE site's quota while each github.io
    * user page gets its own. Fixture URLs concentrate 500 docs onto
    * 12 registrable domains (7 co.uk sites via distinct subdomains +
    * 5 github.io users) so the cap of 3 bites; junk URLs (NULL
    * domain) are excluded before capping — a null key must not pool
    * into a pseudo-site. Plans as WindowGroupLimit. */
  def domainCapsQ(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val raw = when(id % 2 === 0,
        concat(lit("https://www.sub"), id, lit(".site"), id % 7, lit(".co.uk/p/"), id))
      .when(id % 10 === 9, concat(lit("junk "), id))
      .otherwise(concat(lit("https://u"), id % 5, lit(".github.io/r/"), id))
    val d = docs(s, dir).select(id, col("n_chars"),
        graft.plans.UrlExpressions.urlDomain(raw).as("site_key"))
      .filter(col("site_key").isNotNull)
    graft.operators.Curation.capPerKey(d, "site_key", col("n_chars").desc, id.asc, 3)
      .orderBy("doc_id")
  }

  /** Zipf's-law spectrum fit (VocabGrowth.zipfFit, top-30 terms):
    * rank-frequency spectrum with the fitted α/C — Heaps' dual, the
    * "is this slice natural language or template/ID flood" diagnostic.
    * Same fixed-point OLS recipe as q_vocab_growth. */
  def zipfFitQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.VocabGrowth.zipfFit(docs(s, dir), "text", topN = 30)
      .orderBy("rank")

  /** UTF-8 encoding audit (plans/Utf8Expressions, ONE packed scan +
    * bit extraction): per-doc fixture byte payloads CONSTRUCTED hex-
    * wise with known pathologies — clean multi-script UTF-8, planted
    * U+FFFD replacement chars (lossy prior transcode), C0 controls +
    * DEL (smuggled binary), U+00C2/U+00C3 mojibake tells (double
    * encoding), and malformed sequences (stray lead/continuation, a
    * truncated 3-byte sequence at EOF — counted once under the
    * maximal-subpart policy). The oracle predicts every count from
    * the construction arithmetic, so any state-machine defect in the
    * RFC 3629 table walk breaks the hash. %10==7 plants NULL payloads
    * (all columns NULL — the quarantine contract). */
  def utf8AuditQ(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val ascii = expr("repeat('41', cast(doc_id % 7 as int) + 1)")
    val hexCol = when(id % 10 === 7, lit(null).cast("string"))
      .when(id % 5 === 0, concat(ascii,
        expr("repeat('C3A9', cast(doc_id % 3 as int) + 1)"), lit("E282ACF09F9880")))
      .when(id % 5 === 1, concat(ascii, expr("repeat('EFBFBD', cast(doc_id % 3 as int) + 1)")))
      .when(id % 5 === 2, concat(ascii, expr("repeat('02', cast(doc_id % 2 as int) + 1)"), lit("7F")))
      .when(id % 5 === 3, concat(ascii, expr("repeat('C382', cast(doc_id % 4 as int) + 1)"), lit("C383")))
      .otherwise(concat(ascii, lit("FFC080E0A0")))
    val packed = graft.plans.Utf8Expressions.utf8AuditPacked(unhex(hexCol))
    import graft.plans.Utf8Expressions._
    docs(s, dir).select(id,
        unpackWellFormed(packed).as("well_formed"),
        unpackInvalid(packed).as("n_invalid"),
        unpackReplacement(packed).as("n_replacement"),
        unpackControl(packed).as("n_control"),
        unpackMojibake(packed).as("n_mojibake"))
      .orderBy("doc_id")
  }

  // ---- selection / mixing / audit -----------------------------------------

  /** DSIR importance weights (Dsir.importanceWeights): every document
    * scored for English-target selection against the whole corpus as
    * the raw distribution. */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.operators.Dsir.importanceWeights(
        d, d.filter(col("lang") === "en"), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Water-filling per-source token caps (Sampling.waterFillCaps):
    * solve the common cap c with Σ min(tokens_src, c) = budget. */
  def waterFill(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.waterFillCaps(
        docs(s, dir).withColumn("n_toks", size(TextAnalysis.tokens("text"))),
        "source", "n_toks", budget = 12000L)
      .orderBy("source")

  /** LSH blocking-quality audit (Dedup.blockingQuality): pair
    * completeness / precision / reduction ratio of the banded MinHash
    * candidate generator against exact Jaccard ≥ 0.5 ground truth.
    * The candidate side is the SESSION-SHARED LSH pair leaf — the
    * audit measures the very frame the dedup queries consume (stronger
    * audit semantics AND no second banding chain; the run then pays
    * only the PPJoin truth leg). */
  def blockingEval(s: SparkSession, dir: String): DataFrame =
    Dedup.blockingQuality(docs(s, dir), "doc_id", "text",
      candidates = Some(lshPairsShared(s, dir)), shingled = Some(docSh3(s, dir)))

  /** The 100 TB form of the blocking audit: same audit, exact-truth
    * leg restricted to the deterministic md5-hash-bucket HALF of the
    * corpus (`sampleFraction = 0.5` — nested-sample contract in the
    * blockingQuality scaladoc; truth cost drops 4x). Candidates stay
    * the session-shared LSH leaf, endpoint-filtered by the same pure
    * hash predicate; the oracle applies the identical predicate. */
  def blockingEvalSampled(s: SparkSession, dir: String): DataFrame =
    Dedup.blockingQuality(docs(s, dir), "doc_id", "text",
      candidates = Some(lshPairsShared(s, dir)), sampleFraction = 0.5,
      shingled = Some(docSh3(s, dir)))

  /** Embedding-space decontamination (Similarity.crossCorpusLeakage):
    * training vectors (vec_id ≥ 25) sitting within cosine 0.2 of any
    * held-out eval vector (vec_id < 25), best eval match reported. */
  def embedDecon(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.crossCorpusLeakage(
        e.filter(col("vec_id") >= 25), e.filter(col("vec_id") < 25),
        "vec_id", "embedding", tau = 0.2)
      .select(col("train_id"), col("eval_id"), rd(col("cosine"), 4).as("cosine"))
      .orderBy("train_id")
  }

  /** Shared projection for the funnel/threshold audits: rounded quality
    * signals per doc (the 4-dp curation convention — gate compares are
    * then exact cross-engine). Session-shared NARROW leaf (7 scalar
    * columns, text/tokens dropped): three queries (q_filter_funnel,
    * q_threshold_impact, q_auc) consume exactly these signals, so the
    * tokenize+score pass runs once per sweep. */
  private def scoredDocs(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.memoize(s, s"scored_docs:$dir")(docs(s, dir)
      .withColumn("toks", TextAnalysis.tokens("text"))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stop_r", rd(TextAnalysis.stopwordRatio("toks"), 4))
      .withColumn("punct_r", rd(TextAnalysis.punctRatio("text"), 4))
      .withColumn("score", rd(TextAnalysis.qualityScore(
        size(col("toks")), TextAnalysis.stopwordRatio("toks"),
        TextAnalysis.punctRatio("text")), 4))
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_tokens"), col("stop_r"), col("punct_r"), col("score")))

  /** First-fail attribution across the four standard quality gates
    * (Curation.funnelAttribution). */
  def filterFunnel(s: SparkSession, dir: String): DataFrame =
    Curation.funnelAttribution(scoredDocs(s, dir), Seq(
        "too_short" -> (col("n_tokens") < 20),
        "too_punct" -> (col("punct_r") > 0.1),
        "low_stop" -> (col("stop_r") < 0.02),
        "low_score" -> (col("score") < 0.5)))
      .orderBy("rule_order")

  /** Disparate-impact audit of the global keep-half quality threshold
    * (Curation.thresholdImpact). */
  def thresholdImpactBySource(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.thresholdImpact(
        scoredDocs(s, dir), "source", "score", keepFraction = 0.5)
      .orderBy("source")

  /** Leakage-safe split (Sampling.leakageSafeSplit over the LSH ≥ 0.5
    * near-dup clusters) summarized per split, with the self-audit
    * column: n_leaky = clusters spanning more than one split (0 by
    * construction — proven independently by the oracle's own CC). */
  def leakSplit(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val d = docs(s, dir)
    val pairs = lshPairsShared(s, dir).filter(col("est_jaccard") >= 0.5)
    // two consumers (per-split stats AND the leaky audit) — a leaf, or
    // the split's join chain runs twice
    val split = graft.core.Lineage.truncate(Sampling.leakageSafeSplit(d, "doc_id", pairs,
      labels = Some(lshCcLabels(s, dir))))
    val leaky = split.groupBy(col("cluster_id"))
      .agg(countDistinct(col("split")).as("ns"))
      .agg(count(when(col("ns") > 1, 1)).as("n_leaky"))
    split.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .crossJoin(broadcast(leaky))
      .orderBy("split")
  }

  /** Incremental dedup probe (Dedup.incrementalCandidatePairs): the
    * doc_id % 10 == 0 slice plays the freshly-ingested batch probing
    * the maintained signature table; emits every candidate pair
    * touching the batch. */
  def incrDedup(s: SparkSession, dir: String): DataFrame = {
    // a leaf: probe AND index read it
    val sigs = graft.core.Lineage.truncate(
      Dedup.minhashSignaturesFromShingles(docSh3(s, dir), "doc_id", "sh", 8))
    Dedup.incrementalCandidatePairs(
        sigs.filter(col("doc_id") % 10 === 0), sigs, "doc_id", k = 8, rowsPerBand = 2)
      .orderBy("id_a", "id_b")
  }

  /** Matryoshka truncation-recall curve (Similarity.truncationRecall):
    * retrieval recall@3 of the 8/16/32-dim embedding prefixes against
    * full-64-dim truth; the dim=64 row is the recall=1 sanity anchor. */
  def matryoshka(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.truncationRecall(e, e.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 3, dims = Seq(8, 16, 32, 64))
      .orderBy("dim")
  }

  /** ROC AUC of the 4-dp quality score as an English-document ranker
    * (Eval.auc — Mann-Whitney over per-score counts, no global sort). */
  def qualityAuc(s: SparkSession, dir: String): DataFrame =
    graft.operators.Eval.auc(
      scoredDocs(s, dir).withColumn("is_en", col("lang") === "en"),
      "score", "is_en")

  /** NDCG@3 retrieval-quality eval (Eval.ndcgBinaryAtK) over the
    * exact-cosine top-3 per query, binary relevance = "neighbor shares
    * the query's label", ideal normalized against the query's TOTAL
    * same-label population (minus itself) — the graded complement of
    * q_retrieval_eval's MRR/recall. DCG/IDCG accumulate the 1e-9
    * fixed-point discount table (Eval.ndcgDiscountsFp — the oracle's
    * CASE literals are generated from the same constants), so the one
    * float op is the final division. */
  /** Shared by q_ndcg / q_map_eval: exact-cosine top-3 per query with
    * binary label relevance + the query's total relevant population. */
  private def relRankedTop3(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val q = e.filter(col("vec_id") < 8)
    val ranked = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3)
    val qLab = q.select(col("vec_id").as("query_id"), col("label").as("q_label"))
    val labCnt = e.groupBy(col("label")).agg(count(lit(1)).as("n_label_total"))
    ranked
      .join(e.select(col("vec_id").as("neighbor_id"), col("label").as("n_label")),
        "neighbor_id")
      .join(broadcast(qLab), "query_id")
      .join(broadcast(labCnt), col("label") === col("q_label"))
      .select(col("query_id"), col("rank"),
        (col("n_label") === col("q_label")).as("rel"),
        (col("n_label_total") - 1).as("total_rel"))
  }

  def ndcgEval(s: SparkSession, dir: String): DataFrame =
    graft.operators.Eval.ndcgBinaryAtK(relRankedTop3(s, dir),
        "query_id", "rank", "rel", "total_rel", k = 3)
      .select(col("query_id"), col("n_hits"), col("total_rel"), col("n_returned"),
        rd(col("ndcg"), 6).as("ndcg"))
      .orderBy("query_id")

  /** MAP@3 (Eval.mapBinaryAtK) over the same relevance frame as
    * q_ndcg — precision-weighted where NDCG is discount-weighted; the
    * lcm-rationalized numerator keeps everything int64 until the one
    * closing division. */
  def mapEval(s: SparkSession, dir: String): DataFrame =
    graft.operators.Eval.mapBinaryAtK(relRankedTop3(s, dir),
        "query_id", "rank", "rel", "total_rel", k = 3)
      .select(col("query_id"), col("n_hits"), col("n_returned"),
        rd(col("ap"), 6).as("ap"))
      .orderBy("query_id")

  /** Exact KNN-Shapley valuation (Eval.knnShapley, K=3) of the
    * vec_id ≥ 8 training corpus against the vec_id < 8 probe set —
    * per-example "does it help the proxy classifier" scores, the
    * principled backbone behind heuristic quality filters. Fixed-point
    * suffix sums make the whole trajectory hash-exact. */
  def knnShapleyQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    graft.operators.Eval.knnShapley(
        e.filter(col("vec_id") >= 8), e.filter(col("vec_id") < 8),
        "vec_id", "embedding", "label", k = 3)
      .select(col("train_id").as("vec_id"), col("n_probes"),
        rd(col("shapley"), 9).as("shapley"))
      .orderBy("vec_id")
  }

  /** Greedy farthest-point k-center seeds (Similarity.kCenterSeeds,
    * k=4): the diverse-anchor pick over the embedding corpus, whole
    * trajectory oracled by 4 unrolled argmax CTEs (cosine distances
    * are fold-exact, tiebreak by id). */
  def kcenterQ(s: SparkSession, dir: String): DataFrame =
    Similarity.kCenterSeeds(embs(s, dir), "vec_id", "embedding", k = 4)
      .select(col("rank"), col("id").as("vec_id"), rd(col("dist"), 6).as("dist"))
      .orderBy("rank")

  /** TextRank keyword extraction: corpus-wide word co-occurrence graph
    * (adjacent-token pairs, symmetrized, weight = co-occurrence count,
    * singleton edges pruned) scored by Graphs.weightedPageRank — rank
    * flows proportionally to co-occurrence strength, so structurally
    * central vocabulary outranks merely frequent vocabulary (the TF-IDF
    * complement that needs no document frequency at all). Top-20 terms
    * by ROUNDED rank (1e-10 — the q_pagerank quantum) with a term
    * tiebreak, so float-sum ulp drift can't reorder the cut. */
  def textrank(s: SparkSession, dir: String): DataFrame = {
    // adjacent-token bigrams straight from the token ARRAY (zip of the
    // array with its own 1-shift): value-identical to the old
    // posexplode + per-doc window lead, but with NO (doc_id, pos)
    // shuffle and NO WindowExec sort — the pairs never leave the row
    // until the symmetric groupBy (guide §2.4: remove shuffles outright)
    val adj = docs(s, dir)
      .select(TextAnalysis.tokens("text").as("toks"))
      .select(explode(zip_with(
        slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
        slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
        (a, b) => struct(a.as("term"), b.as("next")))).as("e"))
      .select(col("e.term").as("term"), col("e.next").as("next"))
      .filter(col("term") =!= col("next"))
    val edges = adj.select(col("term").as("src"), col("next").as("dst"))
      .union(adj.select(col("next").as("src"), col("term").as("dst")))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
    val ranks = graft.operators.Graphs.weightedPageRank(edges, "src", "dst", "w", iters = 2)
    ranks
      .select(col("id").as("term"), rd(col("rank"), 10).as("rank"))
      .orderBy(col("rank").desc, col("term"))
      .limit(20)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ndcg" -> ndcgEval,
    "q_map_eval" -> mapEval,
    "q_kcenter" -> kcenterQ,
    "q_knn_shapley" -> knnShapleyQ,
    "q_textrank" -> textrank,
    "q_auc" -> qualityAuc,
    "q_matryoshka" -> matryoshka,
    "q_incr_dedup" -> incrDedup,
    "q_leak_split" -> leakSplit,
    "q_filter_funnel" -> filterFunnel,
    "q_threshold_impact" -> thresholdImpactBySource,
    "q_dsir" -> dsirWeights,
    "q_water_fill" -> waterFill,
    "q_blocking_eval" -> blockingEval,
    "q_blocking_eval_sampled" -> blockingEvalSampled,
    "q_embed_decon" -> embedDecon,
    "q_text_stats" -> textStats,
    "q_token_estimate" -> tokenEstimate,
    "q_text_quality" -> textQuality,
    "q_lang_id" -> langId,
    "q_fingerprint" -> fingerprint,
    "q_dedup_exact" -> dedupExact,
    "q_dedup_prefix" -> dedupPrefix,
    "q_minhash_sig" -> minhashSig,
    "q_lsh_pairs" -> lshPairs,
    "q_ngram_jaccard" -> ngramJaccard,
    "q_dedup_clusters" -> dedupClusters,
    "q_canonical_pick" -> canonicalPick,
    "q_decontaminate" -> decontaminate,
    "q_text_clean" -> textClean,
    "q_tfidf" -> tfidfTop,
    "q_bm25" -> bm25Top,
    "q_editdist_pairs" -> editDistPairs,
    "q_inverted_index" -> invertedIndex,
    "q_string_sim" -> stringSim,
    "q_winnow" -> winnowOverlap,
    "q_novelty" -> noveltyRate,
    "q_vocab_coverage" -> vocabCoverage,
    "q_heavy_hitters" -> heavyHitters,
    "q_quantize" -> quantize,
    "q_chunks" -> chunks,
    "q_simhash" -> simhash,
    "q_simhash_pairs" -> ((s, d) => Dedup.simhashNearDups(docs(s, d), "doc_id", "text")
      .orderBy("id_a", "id_b")),
    "q_simhash64" -> simhash64,
    "q_simhash64_pairs" -> simhash64Pairs,
    "q_embed_topk" -> embedTopK,
    "q_embed_neardup" -> ((s, d) => Dedup.embeddingNearDups(embs(s, d), "vec_id", "embedding", 0.2)
      .select(col("id_a"), col("id_b"), rd(col("cosine"), 4).as("cosine"))
      .orderBy("id_a", "id_b")),
    "q_embed_ivf" -> embedIvf,
    "q_silhouette" -> silhouetteQ,
    "q_embed_pq" -> pqTopK,
    "q_embed_ivfpq" -> ivfPqTopK,
    "q_embed_lsh" -> embedLsh,
    "q_knn_triangles" -> knnTriangles,
    "q_link_pred" -> linkPred,
    "q_cc_incremental" -> ccIncremental,
    "q_kcore" -> kcorePeel,
    "q_triangles_oriented" -> trianglesOriented,
    "q_label_prop" -> labelProp,
    "q_modularity" -> modularityQ,
    "q_assortativity" -> assortativity,
    "q_term_mi" -> termMi,
    "q_hard_negatives" -> hardNegatives,
    "q_embed_ivf_kmeans" -> embedIvfKmeansRecall,
    "q_semantic_dedup" -> semanticDedupDrops,
    "q_mmr" -> mmrTopK,
    "q_jl_project" -> jlProject,
    "q_shingle_cosine" -> shingleCosine,
    "q_containment" -> containment,
    "q_rrf" -> rrfHybrid,
    "q_target_encode" -> targetEncode,
    "q_embed_dims" -> embedDimStats,
    "q_retrieval_eval" -> retrievalEval,
    "q_chi2" -> chiSquare,
    "q_cramers_v" -> cramersV,
    "q_label_noise" -> labelNoise,
    "q_quantile_norm" -> quantileNorm,
    "q_padding_waste" -> paddingWaste,
    "q_pack_bins" -> packBins,
    "q_densest" -> densestQ,
    "q_naive_bayes" -> naiveBayesQ,
    "q_ktruss" -> ktrussQ,
    "q_homophily" -> homophilyQ,
    "q_diameter" -> diameterQ,
    "q_mutual_knn" -> mutualKnnQ,
    "q_label_spread" -> labelSpreadQ,
    "q_kappa" -> kappaQ,
    "q_logreg" -> logregFit,
    "q_multimodal_assets" -> multimodalAssets,
    "q_multimodal_features" -> multimodalFeatures,
    "q_multimodal_decode" -> multimodalDecode,
    "q_multimodal_media" -> multimodalMedia,
    "q_url_canon" -> urlCanonQ,
    "q_html_strip" -> htmlStripQ,
    "q_gopher_rules" -> gopherRulesQ,
    "q_vocab_growth" -> vocabGrowthQ,
    "q_utf8_audit" -> utf8AuditQ,
    "q_url_domain" -> urlDomainQ,
    "q_para_dedup" -> paraDedupQ,
    "q_bitext_mining" -> bitextMiningQ,
    "q_bitext_ann" -> bitextAnnQ,
    "q_zipf_fit" -> zipfFitQ,
    "q_domain_caps" -> domainCapsQ,
    "q_procrustes" -> procrustesQ,
    "q_fim" -> fimQ,
    "q_token_fertility" -> tokenFertility,
    "q_repetition" -> repetition,
    "q_repeated_spans" -> repeatedSpans,
    "q_repeated_spans_exact" -> repeatedSpansExactQ,
    "q_bpe_merges" -> bpeMerges,
    "q_bpe_encode" -> bpeEncode,
    "q_pmi_bigrams" -> pmiBigrams,
    "q_lm_xent" -> lmXent,
    "q_lm_bigram" -> lmBigram,
    "q_cms_words" -> cmsWords,
    "q_rouge2" -> rouge2,
    "q_curation" -> curation,
    "q_embed_pool" -> embedPool,
    "q_source_overlap" -> sourceOverlap,
    "q_pii_scrub" -> ((s, d) => Curation.piiScrub(docs(s, d), "text")
      .select(col("doc_id"), col("n_emails"), col("n_ipv4"), col("n_phones"),
        md5(col("redacted")).as("fingerprint"))
      .orderBy("doc_id")),
    "q_source_cap" -> ((s, d) =>
      Curation.capPerKey(docs(s, d), "source", col("n_chars").desc, col("doc_id"), n = 5)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .orderBy("source", "doc_id")),
    "q_hash_split" -> ((s, d) => {
      import graft.operators.Sampling
      Sampling.hashSplit(docs(s, d), "doc_id")
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("split", "lang")
    }),
    "q_stratified" -> ((s, d) => {
      import graft.operators.Sampling
      Sampling.stratifiedSample(docs(s, d), "lang", "doc_id", 0.1)
        .select(col("lang"), col("doc_id"))
        .orderBy("lang", "doc_id")
    }),
    "q_seq_pack" -> ((s, d) => {
      import graft.operators.Sampling
      val bins = Sampling.packSequences(docs(s, d), "doc_id", "n_chars", 2000L, buckets = 8)
        .groupBy(col("bin_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("tokens"))
      bins.agg(
        count(lit(1)).as("n_bins"),
        sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("tokens")).cast("long").as("total_tokens"),
        rd(avg(col("tokens") / 2000.0), 6).as("avg_fill"),
        count(when(col("tokens") > 2000, 1)).as("overflow_bins"))
    }),
    "q_token_mix" -> ((s, d) => {
      import graft.operators.Sampling
      Sampling.mixByTokenBudget(docs(s, d), "lang", "doc_id", "n_chars",
          Map("en" -> 0.5, "zh" -> 0.2, "de" -> 0.1, "es" -> 0.1, "fr" -> 0.1), 50000L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("tokens"))
        .orderBy("lang")
    }),
    "q_weighted_sample" -> ((s, d) => {
      import graft.operators.Sampling
      Sampling.weightedSample(docs(s, d), "doc_id", "n_chars", k = 50)
        .select(col("doc_id"), col("n_chars"), rd(col("sample_key"), 6).as("sample_key"))
        .orderBy("doc_id")
    }),
    // 3 negatives per anchor (docs 0-9) from a 40-doc hash-order pool,
    // excluding self and successor as planted positives
    "q_neg_sample" -> ((s, d) => {
      import graft.operators.Sampling
      val dd = docs(s, d)
      val pool = dd
        .select(col("doc_id").as("cand_id"))
        .orderBy(md5(concat_ws(":", lit("pool"), col("cand_id").cast("string"))), col("cand_id"))
        .limit(40)
      val anchors = dd.filter(col("doc_id") < 10).select(col("doc_id").as("anchor_id"))
      val positives = anchors.select(col("anchor_id"), (col("anchor_id") + 1).as("cand_id"))
        .unionByName(anchors.select(col("anchor_id"), col("anchor_id").as("cand_id")))
      Sampling.negativeSample(anchors, "anchor_id", pool, "cand_id", positives, k = 3)
        .select(col("anchor_id"), col("rank"), col("cand_id").as("negative_id"))
        .orderBy("anchor_id", "rank")
    }),
  )

  private val simhashSums = (0 until 16)
    .map(b => s"sum(CASE WHEN (h>>$b)&1=1 THEN 1 ELSE -1 END) AS s$b").mkString(", ")
  private val simhashCombine = (0 until 16)
    .map(b => s"(CASE WHEN s$b>0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")

  /** Mirrors Dedup.simhash(bits=64): per-token 32-bit md5 chunks (hex
    * 1-8 → bits 32-63, hex 9-16 → bits 0-31), ±1 bit votes, then the
    * unsigned fingerprint assembled in HUGEINT (DuckDB overflow-checks
    * BIGINT shifts, so 1<<63 must be a HUGEINT literal) and folded to
    * signed two's-complement BIGINT to match Spark's LongType. */
  private val simhash64Cte = {
    val sums = (0 until 64).map { b =>
      val src = if (b < 32) s"(lo>>$b)&1" else s"(hi>>${b - 32})&1"
      s"sum(CASE WHEN $src=1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(", ")
    val uTerms = (0 until 64).map { b =>
      s"(CASE WHEN s$b>0 THEN ${BigInt(1) << b}::HUGEINT ELSE 0::HUGEINT END)"
    }.mkString(" + ")
    s"""toks64 AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t FROM documents),
       |toksm64 AS (
       |  SELECT doc_id, CAST('0x'||substr(md5(t),1,8) AS BIGINT) AS hi,
       |         CAST('0x'||substr(md5(t),9,8) AS BIGINT) AS lo
       |  FROM toks64),
       |bits64 AS (SELECT doc_id, $sums FROM toksm64 GROUP BY 1),
       |u64 AS (SELECT doc_id, $uTerms AS u FROM bits64),
       |sig64 AS (SELECT doc_id,
       |  CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
       |       THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT) AS simhash64
       |  FROM u64)""".stripMargin
  }

  /** Mirrors TextAnalysis.langGuess: per-language function-word counts
    * + CJK probe, argmax with the sort_array(desc) tiebreak (score desc,
    * then alphabetically-LAST language). Built from LangProfiles so the
    * marker lists can never drift from the Spark side. */
  private val langIdOracle = {
    val scores = graft.functions.TextAnalysis.LangProfiles.map { case (lang, ms) =>
      val set = ms.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(w, t -> t IN ($set))) AS s_$lang"
    }.mkString(",\n      |    ")
    val langsDesc = graft.functions.TextAnalysis.LangProfiles.map(_._1).sorted.reverse
    val allZero = langsDesc.map(l => s"s_$l").mkString("greatest(", ", ", ") = 0")
    // CASE ladder in lang-desc order: each branch requires >= every
    // later (alphabetically-smaller) language — ties resolve to the
    // alphabetically-last lang, exactly sort_array(desc)[0]
    val ladder = langsDesc.init.zipWithIndex.map { case (l, i) =>
      val rest = langsDesc.drop(i + 1).map(r => s"s_$l >= s_$r").mkString(" AND ")
      s"WHEN $rest THEN '$l'"
    }.mkString("\n      |    ")
    s"""WITH d AS (SELECT lang, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
      |s AS (SELECT lang, regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS has_cjk,
      |    $scores
      |  FROM d),
      |g AS (SELECT lang, CASE WHEN has_cjk THEN 'zh'
      |    WHEN $allZero THEN 'und'
      |    $ladder
      |    ELSE '${langsDesc.last}' END AS lang_guess
      |  FROM s)
      |SELECT lang, lang_guess, count(*) AS n FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Mirrors Multimodal.byteFeatures byte statistics: bytes of the UTF-8
    * content recovered from hex(encode(text)) two chars at a time. All
    * sums are integer-valued doubles (exact below 2^53), so the
    * mean/fraction divisions are bit-identical across engines. */
  private val multimodalFeaturesOracle =
    """WITH h AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, n,
      |    [CAST('0x'||substr(hx, 2*i-1, 2) AS INT) FOR i IN generate_series(1, CAST(n AS INT))] AS bs
      |  FROM h),
      |f AS (
      |  SELECT doc_id, n,
      |    CASE WHEN n = 0 THEN 0.0
      |         ELSE list_sum(list_transform(bs, x -> CAST(x AS DOUBLE))) / n END AS mean_byte,
      |    CASE WHEN n = 0 THEN 0.0
      |         ELSE 1.0 * len(list_filter(bs, x -> x // 32 = 1)) / n END AS f1
      |  FROM b)
      |SELECT doc_id AS asset_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
      |  n AS n_bytes,
      |  floor((mean_byte)*10000 + 0.5)/10000 AS mean_byte,
      |  floor((f1)*10000 + 0.5)/10000 AS f1
      |FROM f ORDER BY asset_id""".stripMargin

  /** MMR oracle, GENERATED round by round from the same k/λ the Spark
    * query passes (anti-drift: the unrolled greedy chain can't diverge
    * from the operator's parameters). Each round r picks the argmax of
    * λ·rel − (1−λ)·max cosine to the r−1 already-picked rows; scores
    * compare at full double precision exactly like the Spark side. */
  private def mmrOracleSql(k: Int, lambda: Double): String = {
    def cos(a: String, b: String) =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    val lam = lambda.toString
    val om = (1.0 - lambda).toString
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
              |base AS (SELECT vec_id, v, ${cos("v", "qv")} AS rel FROM e, q WHERE vec_id > 0),
              |s1 AS (SELECT vec_id, v, rel, $lam*rel AS mmr FROM base
              |       ORDER BY $lam*rel DESC, vec_id LIMIT 1)""".stripMargin
    for (r <- 2 to k) {
      val prev = (1 until r).map(i => s"s$i")
      val notIn = prev.map(p => s"b.vec_id <> $p.vec_id").mkString(" AND ")
      val sims = prev.map(p => cos("b.v", s"$p.v")).mkString(", ")
      val maxSim = if (prev.size == 1) sims else s"greatest($sims)"
      sb ++= s""",
                |r$r AS (SELECT b.vec_id, b.v, b.rel, $lam*b.rel - $om*($maxSim) AS mmr
                |        FROM base b, ${prev.mkString(", ")} WHERE $notIn),
                |s$r AS (SELECT vec_id, v, rel, mmr FROM r$r ORDER BY mmr DESC, vec_id LIMIT 1)""".stripMargin
    }
    sb ++= "\n" + (1 to k).map(r =>
        s"SELECT CAST($r AS INTEGER) AS rank, vec_id, " +
          s"floor((rel)*10000 + 0.5)/10000 AS rel, floor((mmr)*10000 + 0.5)/10000 AS mmr FROM s$r")
      .mkString("", "\nUNION ALL\n", "\nORDER BY rank")
    sb.toString
  }

  /** BPE oracle, GENERATED round by round (anti-drift: mirrors
    * Bpe.fitMerges' pair-count → argmax → `replace`-apply loop for the
    * same round count; `replace`'s left-to-right non-overlapping scan
    * is the shared greedy-apply trick on both engines). */
  /** Shared fit-chain CTEs (v0..v`rounds`, b1..b`rounds`, t1..): both
    * the merge-ledger oracle and the encode oracle read from it, so
    * the SQL replay and the Spark fit can't drift apart. */
  private def bpeChainSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH toks AS (
             |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word FROM documents),
             |v0 AS (
             |  SELECT word, count(*) AS freq,
             |    '|' || array_to_string(regexp_extract_all(word, '.'), '|') AS syms
             |  FROM toks GROUP BY 1)""".stripMargin
    for (r <- 1 to rounds) {
      val prev = s"v${r - 1}"
      sb ++= s""",
                |p$r AS (
                |  SELECT l[i] AS a, l[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS pair_count
                |  FROM (SELECT freq, string_split(substr(syms, 2), '|') AS l FROM $prev),
                |       LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i)
                |  GROUP BY 1, 2),
                |b$r AS (SELECT a, b, pair_count FROM p$r
                |        ORDER BY pair_count DESC, a, b LIMIT 1),
                |v$r AS (
                |  SELECT word, freq,
                |    replace(syms, '|' || b$r.a || '|' || b$r.b, '|' || b$r.a || b$r.b) AS syms
                |  FROM $prev, b$r),
                |t$r AS (
                |  SELECT CAST(sum(freq * (length(syms) - length(replace(syms, '|', '')))) AS BIGINT)
                |    AS vocab_symbols
                |  FROM v$r)""".stripMargin
    }
    sb.toString
  }

  private def bpeOracleSql(rounds: Int): String =
    bpeChainSql(rounds) + "\n" + (1 to rounds).map(r =>
        s"SELECT CAST($r AS INTEGER) AS round, a AS merge_a, b AS merge_b, " +
          s"pair_count, vocab_symbols FROM b$r, t$r")
      .mkString("", "\nUNION ALL\n", "\nORDER BY round")

  private def bpeEncodeOracleSql(rounds: Int): String =
    bpeChainSql(rounds) +
      s"""
         |SELECT word, freq,
         |  CAST(length(syms) - length(replace(syms, '|', '')) AS BIGINT) AS n_symbols,
         |  substr(syms, 2) AS encoded
         |FROM v$rounds ORDER BY freq DESC, word LIMIT 20""".stripMargin

  private val cosineCtes =
    """q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |      FROM embeddings WHERE vec_id < 8),
      |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |    list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
      |  FROM q, c WHERE query_id <> neighbor_id)""".stripMargin

  /** Shared q_ndcg / q_map_eval CTE chain through `j`
    * (query_id, rank, rel, total_rel) — the SQL twin of
    * [[relRankedTop3]]. */
  private val relRankedTop3Cte =
    s"""$cosineCtes,
      |r AS (SELECT query_id, neighbor_id,
      |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |      FROM scored),
      |cnd AS (SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 3),
      |lab AS (SELECT vec_id, label FROM embeddings),
      |lc AS (SELECT label, count(*) AS n_label_total FROM lab GROUP BY 1),
      |j AS (
      |  SELECT c.query_id, c.rank, nl.label = ql.label AS rel,
      |    lc.n_label_total - 1 AS total_rel
      |  FROM cnd c
      |  JOIN lab nl ON nl.vec_id = c.neighbor_id
      |  JOIN lab ql ON ql.vec_id = c.query_id
      |  JOIN lc ON lc.label = ql.label)""".stripMargin

  /** Shared LSH CTE chain (through the ranked relation `r`): generated
    * from the SAME Similarity.DefaultPlanePairs constants the Spark
    * side uses (plane pairs, 4-bit bands, dot-difference signs) so the
    * dialects cannot drift. `queryPred` filters the query side of the
    * band join (`q` = the bands relation aliased for queries). */
  private def lshRankedCtes(queryPred: String): String = {
    val pairValues = graft.operators.Similarity.DefaultPlanePairs.zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |pairs(plane_idx, a_id, b_id) AS (VALUES $pairValues),
       |planes AS (
       |  SELECT p.plane_idx, ea.v AS va, eb.v AS vb
       |  FROM pairs p JOIN e ea ON ea.vec_id = p.a_id JOIN e eb ON eb.vec_id = p.b_id),
       |sigs AS (
       |  SELECT e.vec_id,
       |    CAST(sum(CASE WHEN list_dot_product(e.v, pl.va) - list_dot_product(e.v, pl.vb) >= 0
       |      THEN CAST(1 AS BIGINT) << pl.plane_idx ELSE 0 END) AS BIGINT) AS sig
       |  FROM e CROSS JOIN planes pl GROUP BY 1),
       |bands AS (
       |  SELECT vec_id, b AS band_id, (sig >> (4*b)) & 15 AS band_key
       |  FROM sigs, generate_series(0, 2) AS t(b)),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM bands q JOIN bands c ON q.band_id = c.band_id AND q.band_key = c.band_key
       |  WHERE ($queryPred) AND c.vec_id <> q.vec_id),
       |scored AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |    list_dot_product(a.v, b.v) /
       |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
       |  FROM cand cd JOIN e a ON a.vec_id = cd.query_id JOIN e b ON b.vec_id = cd.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |      FROM scored)""".stripMargin
  }

  /** Shared DuckDB CTE: the scoredDocs projection (raw ratios feed the
    * score — exactly the q_text_quality formula — then everything is
    * 4-dp rounded like the Spark side). Ends with relation `r`. */
  private val scoredCte =
    """d AS (
      |  SELECT doc_id, source, lang, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
      |m AS (
      |  SELECT doc_id, source, lang, len(w) AS n_tokens,
      |    1.0 * len(list_filter(w, t -> t IN ('the', 'a'))) / greatest(len(w), 1) AS sr,
      |    1.0 * (length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) / greatest(length(text), 1) AS pr
      |  FROM d),
      |r AS (
      |  SELECT doc_id, source, lang, n_tokens,
      |    floor(sr*10000 + 0.5)/10000 AS stop_r,
      |    floor(pr*10000 + 0.5)/10000 AS punct_r,
      |    floor((0.5 * least(n_tokens / 100.0, 1.0) + 0.3 * (1.0 - sr) + 0.2 * (1.0 - pr))*10000 + 0.5)/10000 AS score
      |  FROM m)""".stripMargin

  /** Shared DuckDB CTE chain: the full fixed-point Naive Bayes fit
    * through the ranked `pred` relation — factored so q_naive_bayes
    * (confusion) and q_kappa (chance-corrected agreement) cannot
    * drift. */
  private val naiveBayesPredCte =
    """tk AS (SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
        |            FROM documents),
        |tok AS (SELECT doc_id, lang, unnest(w) AS term FROM tk WHERE len(w) >= 1),
        |dt AS (SELECT doc_id, lang AS label_true, term, CAST(count(*) AS BIGINT) AS c
        |       FROM tok GROUP BY 1, 2, 3),
        |cls AS (SELECT lang AS label, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_c,
        |        CAST(count(*) AS BIGINT) AS n_tok_c FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |        CAST(count(DISTINCT term) AS BIGINT) AS v FROM tok),
        |tc AS (SELECT term, lang AS label, CAST(count(*) AS BIGINT) AS n_tc
        |       FROM tok GROUP BY 1, 2),
        |mdl AS (SELECT vt.term, c.label,
        |  CAST(floor(ln(CAST(coalesce(tc.n_tc, 0) + 1 AS DOUBLE) / (c.n_tok_c + t.v))
        |    * 1000000000 + 0.5) AS BIGINT) AS ll_fp
        |  FROM (SELECT DISTINCT term FROM tok) vt CROSS JOIN cls c
        |  LEFT JOIN tc ON tc.term = vt.term AND tc.label = c.label, tot t),
        |pri AS (SELECT label,
        |  CAST(floor(ln(CAST(n_docs_c AS DOUBLE) / t.n_docs) * 1000000000 + 0.5) AS BIGINT)
        |    AS prior_fp
        |  FROM cls, tot t),
        |sc AS (SELECT dt.doc_id, dt.label_true, m.label,
        |  CAST(sum(dt.c * m.ll_fp) AS BIGINT) + min(p.prior_fp) AS score
        |  FROM dt JOIN mdl m ON m.term = dt.term JOIN pri p ON p.label = m.label
        |  GROUP BY 1, 2, 3),
        |pred AS (SELECT doc_id, label_true, label AS label_pred,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label DESC) AS rn
        |  FROM sc)""".stripMargin

  val oracles: Map[String, String] = Map(
    // NDCG discount/prefix literals are GENERATED from the same
    // Eval.ndcgDiscountsFp constants the Spark side sums — the 1e-9
    // fixed-point table keeps DCG/IDCG in exact int64 on both engines
    "q_ndcg" -> {
      val disc = graft.operators.Eval.ndcgDiscountsFp(3)
      val prefix = disc.scanLeft(0L)(_ + _)
      s"""WITH $relRankedTop3Cte,
        |g AS (
        |  SELECT query_id,
        |    sum(CASE WHEN rel THEN
        |          CASE rank WHEN 1 THEN ${disc(0)} WHEN 2 THEN ${disc(1)}
        |               WHEN 3 THEN ${disc(2)} ELSE 0 END
        |        ELSE 0 END) AS dcg_fp,
        |    max(CASE WHEN total_rel >= 3 THEN ${prefix(3)}
        |             WHEN total_rel = 2 THEN ${prefix(2)}
        |             WHEN total_rel = 1 THEN ${prefix(1)} ELSE 0 END) AS idcg_fp,
        |    sum(CASE WHEN rel THEN 1 ELSE 0 END) AS n_hits,
        |    max(total_rel) AS total_rel, count(*) AS n_returned
        |  FROM j GROUP BY 1)
        |SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
        |  CAST(total_rel AS BIGINT) AS total_rel, CAST(n_returned AS BIGINT) AS n_returned,
        |  floor((CASE WHEN idcg_fp > 0 THEN CAST(dcg_fp AS DOUBLE) / idcg_fp ELSE 0.0 END)*1000000 + 0.5)/1000000 AS ndcg
        |FROM g ORDER BY query_id""".stripMargin
    },
    // weighted PR unrolled 2 rounds (the q_pagerank recipe with
    // w/Σw contribution splits); contribution op order (rank·w)/Σw
    // mirrors the Spark projection exactly
    // the Jia et al. closed recursion as a fixed-point suffix sum —
    // term arithmetic and window frames mirrored exactly
    "q_knn_shapley" ->
      """WITH p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv,
        |            label AS p_label FROM embeddings WHERE vec_id < 8),
        |t AS (SELECT vec_id AS train_id, CAST(embedding AS DOUBLE[]) AS tv,
        |        label AS t_label FROM embeddings WHERE vec_id >= 8),
        |x AS (
        |  SELECT probe_id, train_id,
        |    1.0 - list_dot_product(tv, pv) /
        |      (sqrt(list_dot_product(tv, tv)) * sqrt(list_dot_product(pv, pv))) AS d,
        |    CASE WHEN t_label = p_label THEN 1 ELSE 0 END AS rel
        |  FROM t CROSS JOIN p),
        |r AS (
        |  SELECT probe_id, train_id, rel,
        |    row_number() OVER w AS rank,
        |    lead(rel, 1) OVER w AS rel_next,
        |    count(*) OVER (PARTITION BY probe_id) AS n
        |  FROM x WINDOW w AS (PARTITION BY probe_id ORDER BY d, train_id)),
        |f AS (
        |  SELECT probe_id, train_id, rank,
        |    CAST(floor((CASE WHEN rel_next IS NULL THEN CAST(rel AS DOUBLE) / n
        |      ELSE CAST(rel - rel_next AS DOUBLE) * CAST(least(3, rank) AS DOUBLE)
        |           / CAST(3 * rank AS DOUBLE) END)*1000000000000 + 0.5) AS BIGINT) AS term_fp
        |  FROM r),
        |sfx AS (
        |  SELECT probe_id, train_id,
        |    sum(term_fp) OVER (PARTITION BY probe_id ORDER BY rank
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS s_fp
        |  FROM f)
        |SELECT train_id AS vec_id, CAST(count(*) AS BIGINT) AS n_probes,
        |  floor(((CAST(sum(s_fp) AS DOUBLE) / count(*)) / 1000000000000)*1000000000 + 0.5)/1000000000 AS shapley
        |FROM sfx GROUP BY 1 ORDER BY 1""".stripMargin,
    // lcm(1..3) = 6 rationalizes every precision@i (multipliers 6/i =
    // 6, 3, 2), so the AP numerator is an exact int64 sum
    "q_map_eval" ->
      s"""WITH $relRankedTop3Cte,
        |h AS (
        |  SELECT query_id, rank, rel, total_rel,
        |    sum(CASE WHEN rel THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY query_id ORDER BY rank) AS hh
        |  FROM j),
        |g AS (
        |  SELECT query_id,
        |    sum(CASE WHEN rel THEN hh * (CASE rank WHEN 1 THEN 6 WHEN 2 THEN 3
        |                                      WHEN 3 THEN 2 ELSE 0 END)
        |        ELSE 0 END) AS ap_num,
        |    max(CASE WHEN total_rel >= 3 THEN 3 ELSE total_rel END) AS ideal_den,
        |    sum(CASE WHEN rel THEN 1 ELSE 0 END) AS n_hits,
        |    count(*) AS n_returned
        |  FROM h GROUP BY 1)
        |SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
        |  CAST(n_returned AS BIGINT) AS n_returned,
        |  floor((CASE WHEN ideal_den > 0 THEN CAST(ap_num AS DOUBLE) / (6 * ideal_den)
        |         ELSE 0.0 END)*1000000 + 0.5)/1000000 AS ap
        |FROM g ORDER BY query_id""".stripMargin,
    // 3 unrolled greedy argmax rounds; candidate min-distances group
    // over the running chosen set, selection mirrors (mind DESC, id)
    "q_kcenter" -> {
      val rounds = (2 to 4).map { i =>
        s"""d$i AS (
          |  SELECT e.id, e.v,
          |    min(1.0 - list_dot_product(e.v, c.v) /
          |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.v, c.v)))) AS mind
          |  FROM e CROSS JOIN c${i - 1} c
          |  WHERE e.id NOT IN (SELECT id FROM c${i - 1})
          |  GROUP BY e.id, e.v),
          |s$i AS (SELECT id, v, mind FROM d$i ORDER BY mind DESC, id LIMIT 1),
          |c$i AS (SELECT id, v FROM c${i - 1} UNION ALL SELECT id, v FROM s$i)""".stripMargin
      }.mkString(",\n")
      val picks = (2 to 4).map { i =>
        s"UNION ALL SELECT CAST($i AS INTEGER), id, floor((mind)*1000000 + 0.5)/1000000 FROM s$i"
      }.mkString("\n")
      s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s1 AS (SELECT id, v FROM e ORDER BY id LIMIT 1),
        |c1 AS (SELECT id, v FROM s1),
        |$rounds
        |SELECT CAST(1 AS INTEGER) AS rank, id AS vec_id, CAST(0.0 AS DOUBLE) AS dist FROM s1
        |$picks
        |ORDER BY rank""".stripMargin
    },
    "q_textrank" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(w) AS term, unnest(range(1, len(w) + 1)) AS pos FROM tk),
        |adj AS (
        |  SELECT doc_id, term,
        |    lead(term, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS next
        |  FROM pos),
        |ap AS (SELECT term, next FROM adj WHERE next IS NOT NULL AND term <> next),
        |sym AS (SELECT term AS src, next AS dst FROM ap
        |        UNION ALL SELECT next AS src, term AS dst FROM ap),
        |e AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM sym
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |cnt AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM n),
        |wd AS (SELECT src, sum(w) AS ow FROM e GROUP BY 1),
        |r0 AS (SELECT id, CAST(1.0 AS DOUBLE)/nn AS rank FROM n, cnt),
        |c1 AS (SELECT e.dst AS id, sum((r.rank * e.w) / wd.ow) AS inflow
        |       FROM e JOIN wd USING (src) JOIN r0 r ON e.src = r.id GROUP BY 1),
        |r1 AS (SELECT n.id, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))/cnt.nn + CAST(0.85 AS DOUBLE)*coalesce(c1.inflow, 0.0) AS rank
        |       FROM n CROSS JOIN cnt LEFT JOIN c1 ON n.id = c1.id),
        |c2 AS (SELECT e.dst AS id, sum((r.rank * e.w) / wd.ow) AS inflow
        |       FROM e JOIN wd USING (src) JOIN r1 r ON e.src = r.id GROUP BY 1),
        |r2 AS (SELECT n.id, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))/cnt.nn + CAST(0.85 AS DOUBLE)*coalesce(c2.inflow, 0.0) AS rank
        |       FROM n CROSS JOIN cnt LEFT JOIN c2 ON n.id = c2.id)
        |SELECT id AS term, floor((rank)*10000000000 + 0.5)/10000000000 AS rank
        |FROM r2 ORDER BY rank DESC, term LIMIT 20""".stripMargin,
    // Mann-Whitney AUC from per-score (pos, neg) counts — the x2-scaled
    // integer numerator keeps the single division as the only IEEE op
    "q_auc" ->
      (s"""WITH $scoredCte,
        |per AS (
        |  SELECT score,
        |    count(*) FILTER (WHERE lang = 'en') AS np,
        |    count(*) FILTER (WHERE lang <> 'en') AS nn
        |  FROM r GROUP BY 1),
        |c AS (
        |  SELECT *, coalesce(sum(nn) OVER (ORDER BY score
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_neg
        |  FROM per)
        |SELECT CAST(sum(np) AS BIGINT) AS n_pos, CAST(sum(nn) AS BIGINT) AS n_neg,
        |  CASE WHEN sum(np) > 0 AND sum(nn) > 0 THEN
        |    floor((CAST(sum(np * (2 * cum_neg + nn)) AS DOUBLE) / (2.0 * sum(np) * sum(nn)))*10000 + 0.5)/10000
        |  END AS auc
        |FROM c""".stripMargin),
    // dimension-prefix top-3 per (query, dim) vs the full-dim truth;
    // 24 = |queries| * k
    "q_matryoshka" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
        |dims(dim) AS (VALUES (8), (16), (32), (64)),
        |sc AS (
        |  SELECT q.query_id, d.dim, c.vec_id AS neighbor_id,
        |    list_dot_product(list_slice(q.qv, 1, d.dim), list_slice(c.v, 1, d.dim)) /
        |      (sqrt(list_dot_product(list_slice(q.qv, 1, d.dim), list_slice(q.qv, 1, d.dim))) *
        |       sqrt(list_dot_product(list_slice(c.v, 1, d.dim), list_slice(c.v, 1, d.dim)))) AS cosine
        |  FROM q CROSS JOIN dims d CROSS JOIN e c WHERE c.vec_id <> q.query_id),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id, dim
        |    ORDER BY cosine DESC, neighbor_id) AS rn
        |  FROM sc),
        |topk AS (SELECT query_id, dim, neighbor_id FROM r WHERE rn <= 3),
        |truth AS (SELECT query_id, neighbor_id FROM topk WHERE dim = 64),
        |hits AS (
        |  SELECT dim, count(*) AS n_hit
        |  FROM topk JOIN truth USING (query_id, neighbor_id) GROUP BY dim)
        |SELECT d.dim, CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
        |  floor((CAST(coalesce(n_hit, 0) AS DOUBLE) / 24)*10000 + 0.5)/10000 AS recall
        |FROM dims d LEFT JOIN hits ON d.dim = hits.dim ORDER BY d.dim""".stripMargin,
    // incremental probe = the lshPairs banding restricted to pairs
    // touching the % 10 == 0 batch
    "q_incr_dedup" ->
      (s"""WITH $sigCte,
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    ((a.mh0=b.mh0)::INT+(a.mh1=b.mh1)::INT+(a.mh2=b.mh2)::INT+(a.mh3=b.mh3)::INT
        |    +(a.mh4=b.mh4)::INT+(a.mh5=b.mh5)::INT+(a.mh6=b.mh6)::INT+(a.mh7=b.mh7)::INT)/8.0 AS est_jaccard
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |    AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0) AND (
        |       (a.mh0=b.mh0 AND a.mh1=b.mh1) OR (a.mh2=b.mh2 AND a.mh3=b.mh3)
        |    OR (a.mh4=b.mh4 AND a.mh5=b.mh5) OR (a.mh6=b.mh6 AND a.mh7=b.mh7)))
        |SELECT id_a, id_b, est_jaccard FROM pairs ORDER BY 1, 2""".stripMargin),
    // leakage-safe split: CC over the same LSH ≥ 0.5 pairs (recursive
    // CTE), singletons keep their id, split = md5 bucket of the
    // CLUSTER id (the q_hash_split ladder), per-split stats + the
    // leaky-cluster audit
    "q_leak_split" ->
      ("WITH RECURSIVE " + lshPairsCte.replace("WITH ", "") + """,
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs WHERE est_jaccard >= 0.5
        |  UNION
        |  SELECT id_b AS src, id_a AS dst FROM pairs WHERE est_jaccard >= 0.5),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |members AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id FROM reach GROUP BY src),
        |cl AS (
        |  SELECT d.doc_id, coalesce(m.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN members m USING (doc_id)),
        |b AS (
        |  SELECT doc_id, cluster_id,
        |    CAST('0x'||substr(md5(CAST(cluster_id AS VARCHAR)),1,8) AS BIGINT) % 100 AS bucket
        |  FROM cl),
        |sp AS (
        |  SELECT doc_id, cluster_id,
        |    CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM b),
        |leaky AS (
        |  SELECT count(*) FILTER (WHERE ns > 1) AS n_leaky
        |  FROM (SELECT cluster_id, count(DISTINCT split) AS ns FROM sp GROUP BY 1))
        |SELECT split, count(*) AS n_docs, count(DISTINCT cluster_id) AS n_clusters,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id, n_leaky
        |FROM sp CROSS JOIN leaky GROUP BY split, n_leaky ORDER BY split""".stripMargin),
    // first-fail CASE ladder over the rounded quality gates; the rule
    // list is the spine so zero-drop rules still appear
    "q_filter_funnel" ->
      (s"""WITH $scoredCte,
        |lab AS (
        |  SELECT CASE WHEN n_tokens < 20 THEN 'too_short'
        |              WHEN punct_r > 0.1 THEN 'too_punct'
        |              WHEN stop_r < 0.02 THEN 'low_stop'
        |              WHEN score < 0.5 THEN 'low_score'
        |              ELSE 'kept' END AS rule
        |  FROM r),
        |rules(rule_order, rule) AS (
        |  VALUES (1, 'too_short'), (2, 'too_punct'), (3, 'low_stop'), (4, 'low_score')),
        |cnt AS (SELECT rule, count(*) AS nd FROM lab GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM lab)
        |SELECT rule_order, rule,
        |  CAST(n - coalesce(sum(nd) OVER (ORDER BY rule_order
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_in,
        |  CAST(coalesce(nd, 0) AS BIGINT) AS n_dropped,
        |  CAST(n - coalesce(sum(nd) OVER (ORDER BY rule_order
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT) AS n_out
        |FROM rules LEFT JOIN cnt USING (rule) CROSS JOIN tot ORDER BY rule_order""".stripMargin),
    // threshold = max score whose descending cumulative count reaches
    // floor(f*N); per-domain kept counts against that one threshold
    "q_threshold_impact" ->
      (s"""WITH $scoredCte,
        |per AS (SELECT score, count(*) AS c FROM r GROUP BY 1),
        |cum AS (
        |  SELECT score, sum(c) OVER (ORDER BY score DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM per),
        |tot AS (SELECT count(*) AS n FROM r),
        |t AS (
        |  SELECT max(score) AS threshold FROM cum CROSS JOIN tot
        |  WHERE cum >= greatest(CAST(floor(0.5 * n) AS BIGINT), 1))
        |SELECT source, count(*) AS n_docs,
        |  count(*) FILTER (WHERE score >= threshold) AS n_kept,
        |  floor((CAST(count(*) FILTER (WHERE score >= threshold) AS DOUBLE) / count(*))*10000 + 0.5)/10000 AS keep_rate,
        |  threshold
        |FROM r CROSS JOIN t GROUP BY source, threshold ORDER BY source""".stripMargin),
    // DSIR: hashed unigram+bigram buckets (md5-prefix % 64 — the
    // minhash base-hash construction), Laplace-smoothed target (lang
    // = 'en') vs raw (all docs) bucket frequencies, per-doc sum of
    // log-ratios
    "q_dsir" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |feats AS (
        |  SELECT doc_id, lang,
        |    unnest(w || CASE WHEN len(w) >= 2
        |      THEN [w[i]||' '||w[i+1] FOR i IN generate_series(1, len(w)-1)] ELSE [] END) AS f
        |  FROM toks WHERE len(w) > 0),
        |fb AS (SELECT doc_id, lang, CAST('0x'||substr(md5(f),1,15) AS BIGINT) % 64 AS b FROM feats),
        |rawc AS (SELECT b, count(*) AS cr FROM fb GROUP BY 1),
        |tgtc AS (SELECT b, count(*) AS ct FROM fb WHERE lang = 'en' GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM fb) AS nr, (SELECT count(*) FROM fb WHERE lang = 'en') AS nt),
        |lam AS (
        |  SELECT rawc.b,
        |    ln((coalesce(ct, 0) + 1.0) / (nt + 64.0)) - ln((cr + 1.0) / (nr + 64.0)) AS lam
        |  FROM rawc LEFT JOIN tgtc USING (b) CROSS JOIN tot)
        |SELECT doc_id, count(*) AS n_feats,
        |  floor((sum(lam))*10000 + 0.5)/10000 AS log_weight
        |FROM fb JOIN lam USING (b) GROUP BY 1 ORDER BY 1""".stripMargin,
    // water-filling: domain i fully satisfiable iff S_i + (n-i)*t_i
    // fits the budget (exact integers); cap = (budget - S_k)/(n-k)
    "q_water_fill" ->
      """WITH toks AS (
        |  SELECT source, len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS nt FROM documents),
        |dom AS (SELECT source, CAST(sum(nt) AS BIGINT) AS tokens_avail FROM toks GROUP BY 1),
        |r AS (
        |  SELECT source, tokens_avail,
        |    sum(tokens_avail) OVER (ORDER BY tokens_avail, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
        |    row_number() OVER (ORDER BY tokens_avail, source) AS i,
        |    count(*) OVER () AS n
        |  FROM dom),
        |f AS (SELECT *, s + (n - i) * tokens_avail <= 12000 AS is_full FROM r),
        |k AS (
        |  SELECT count(*) FILTER (WHERE is_full) AS kk,
        |    coalesce(max(s) FILTER (WHERE is_full), 0) AS sk, max(n) AS nn
        |  FROM f)
        |SELECT source, tokens_avail,
        |  floor((CASE WHEN is_full THEN CAST(tokens_avail AS DOUBLE)
        |    ELSE CAST(12000 - sk AS DOUBLE) / (nn - kk) END)*10000 + 0.5)/10000 AS tokens_alloc,
        |  NOT is_full AS clipped
        |FROM f CROSS JOIN k ORDER BY source""".stripMargin,
    // blocking audit: exact-Jaccard truth brute-forced (oracle side
    // only), candidates = the lshPairsCte banding, metrics as integer
    // counts + three rounded single divisions
    "q_blocking_eval" ->
      (s"""WITH $lshPairsCte,
        |d AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
        |tr AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS ni, len(a.sh) AS na, len(b.sh) AS nb
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id),
        |truth AS (
        |  SELECT id_a, id_b FROM tr
        |  WHERE CAST(ni AS DOUBLE) / (na + nb - ni) >= 0.5),
        |c AS (SELECT id_a, id_b FROM pairs),
        |h AS (SELECT count(*) AS n_hit FROM truth JOIN c USING (id_a, id_b)),
        |m AS (
        |  SELECT (SELECT count(*) FROM d) AS n_docs,
        |    (SELECT count(*) FROM truth) AS n_truth,
        |    (SELECT count(*) FROM c) AS n_cand, (SELECT n_hit FROM h) AS n_hit)
        |SELECT n_docs, CAST(n_docs * (n_docs - 1) / 2 AS BIGINT) AS n_pairs_total,
        |  n_truth, n_cand, n_hit,
        |  CASE WHEN n_truth > 0
        |    THEN floor((CAST(n_hit AS DOUBLE) / n_truth)*10000 + 0.5)/10000 END AS pair_completeness,
        |  CASE WHEN n_cand > 0
        |    THEN floor((CAST(n_hit AS DOUBLE) / n_cand)*10000 + 0.5)/10000 END AS precision,
        |  floor((1.0 - CAST(n_cand AS DOUBLE) / (n_docs * (n_docs - 1) / 2))*10000 + 0.5)/10000
        |    AS reduction_ratio
        |FROM m""".stripMargin),
    // the sampled audit: IDENTICAL pipeline with the deterministic
    // md5-hash-bucket predicate applied to the corpus (d) and to both
    // candidate endpoints — the same pure function of the id the Spark
    // side evaluates (Sampling.hashBucket DuckDB equivalence)
    "q_blocking_eval_sampled" ->
      (s"""WITH $lshPairsCte,
        |d AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0
        |      AND CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 10000 < 5000),
        |tr AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS ni, len(a.sh) AS na, len(b.sh) AS nb
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id),
        |truth AS (
        |  SELECT id_a, id_b FROM tr
        |  WHERE CAST(ni AS DOUBLE) / (na + nb - ni) >= 0.5),
        |c AS (SELECT id_a, id_b FROM pairs
        |      WHERE CAST('0x'||substr(md5(CAST(id_a AS VARCHAR)),1,8) AS BIGINT) % 10000 < 5000
        |        AND CAST('0x'||substr(md5(CAST(id_b AS VARCHAR)),1,8) AS BIGINT) % 10000 < 5000),
        |h AS (SELECT count(*) AS n_hit FROM truth JOIN c USING (id_a, id_b)),
        |m AS (
        |  SELECT (SELECT count(*) FROM d) AS n_docs,
        |    (SELECT count(*) FROM truth) AS n_truth,
        |    (SELECT count(*) FROM c) AS n_cand, (SELECT n_hit FROM h) AS n_hit)
        |SELECT n_docs, CAST(n_docs * (n_docs - 1) / 2 AS BIGINT) AS n_pairs_total,
        |  n_truth, n_cand, n_hit,
        |  CASE WHEN n_truth > 0
        |    THEN floor((CAST(n_hit AS DOUBLE) / n_truth)*10000 + 0.5)/10000 END AS pair_completeness,
        |  CASE WHEN n_cand > 0
        |    THEN floor((CAST(n_hit AS DOUBLE) / n_cand)*10000 + 0.5)/10000 END AS precision,
        |  floor((1.0 - CAST(n_cand AS DOUBLE) / (n_docs * (n_docs - 1) / 2))*10000 + 0.5)/10000
        |    AS reduction_ratio
        |FROM m""".stripMargin),
    // semantic decon: brute-force best eval match per train vector
    // (oracle side; the engine broadcasts the eval set)
    "q_embed_decon" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (
        |  SELECT t.vec_id AS train_id, q.vec_id AS eval_id,
        |    list_dot_product(t.v, q.v) /
        |      (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(q.v, q.v))) AS cosine
        |  FROM e t CROSS JOIN e q WHERE t.vec_id >= 25 AND q.vec_id < 25),
        |r AS (
        |  SELECT train_id, eval_id, cosine,
        |    row_number() OVER (PARTITION BY train_id ORDER BY cosine DESC, eval_id) AS rn
        |  FROM p WHERE cosine >= 0.2)
        |SELECT train_id, eval_id, floor((cosine)*10000 + 0.5)/10000 AS cosine
        |FROM r WHERE rn = 1 ORDER BY train_id""".stripMargin,
    // the BPE-ish pattern is the SAME constant the query compiles —
    // RE2 ∩ Java-regex subset, so both engines execute it verbatim
    // same generated pattern; integer sums per language, two ratios
    "q_token_fertility" -> {
      val pat = TextAnalysis.BpeishPattern.replace("'", "''")
      s"""WITH d AS (
        |  SELECT lang, CAST(length(text) AS BIGINT) AS ch,
        |    CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS BIGINT) AS ws,
        |    CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS bp
        |  FROM documents),
        |g AS (SELECT lang, count(*) AS n_docs, CAST(sum(ws) AS BIGINT) AS ws_tokens,
        |        CAST(sum(bp) AS BIGINT) AS bpeish_tokens, CAST(sum(ch) AS BIGINT) AS n_chars
        |      FROM d GROUP BY 1)
        |SELECT lang, n_docs, ws_tokens, bpeish_tokens, n_chars,
        |  floor((CAST(bpeish_tokens AS DOUBLE) / greatest(ws_tokens, 1))*1000000 + 0.5)/1000000 AS fertility,
        |  floor((CAST(n_chars AS DOUBLE) / greatest(bpeish_tokens, 1))*10000 + 0.5)/10000 AS chars_per_token
        |FROM g ORDER BY lang""".stripMargin
    },
    "q_token_estimate" -> {
      val pat = TextAnalysis.BpeishPattern.replace("'", "''")
      s"""SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS INTEGER)
        |    AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '$pat')) AS INTEGER) AS bpeish_tokens,
        |  floor((CAST(length(text) AS DOUBLE)
        |    / greatest(len(regexp_extract_all(text, '$pat')), 1))*10000 + 0.5)/10000
        |    AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        | floor((avg(len(regexp_extract_all(lower(text), '[a-z0-9]+'))))*10000 + 0.5)/10000 AS avg_tokens,
        | floor((avg(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')))))*10000 + 0.5)/10000 AS avg_distinct_tokens,
        | floor((avg(length(text)))*10000 + 0.5)/10000 AS avg_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_text_quality" ->
      """WITH d AS (
        |  SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |m AS (
        |  SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
        |    1.0 * len(list_filter(w, t -> t IN ('the', 'a'))) / greatest(len(w), 1) AS stopword_ratio,
        |    1.0 * (length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) / greatest(length(text), 1) AS punct_ratio
        |  FROM d),
        |sc AS (
        |  SELECT *, 0.5 * least(n_tokens / 100.0, 1.0) + 0.3 * (1.0 - stopword_ratio) + 0.2 * (1.0 - punct_ratio) AS score
        |  FROM m)
        |SELECT doc_id, n_tokens,
        |  floor((stopword_ratio)*10000 + 0.5)/10000 AS stopword_ratio,
        |  floor((punct_ratio)*10000 + 0.5)/10000 AS punct_ratio,
        |  floor((score)*10000 + 0.5)/10000 AS score,
        |  CASE WHEN score >= 0.7 THEN 'high' WHEN score >= 0.5 THEN 'medium' ELSE 'low' END AS quality_band
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      """WITH fp AS (
        |  SELECT doc_id, lang,
        |    list_min(list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'), t -> md5(t))) AS fp
        |  FROM documents)
        |SELECT lang, count(DISTINCT fp) AS n_fingerprints, count(*) AS n_docs
        |FROM fp GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dedup_exact" ->
      """WITH g AS (
        |  SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id, count(*) AS n_copies
        |  FROM documents GROUP BY 1)
        |SELECT count(*) AS n_distinct, CAST(sum(n_copies) AS BIGINT) AS n_docs,
        |  count(*) FILTER (WHERE n_copies > 1) AS n_dup_groups,
        |  CAST(coalesce(sum(n_copies) FILTER (WHERE n_copies > 1), 0) AS BIGINT) AS n_dup_docs
        |FROM g""".stripMargin,
    "q_dedup_prefix" ->
      """SELECT md5(prefix) AS prefix_hash, canonical_id, max_id, n_docs FROM (
        |  SELECT substr(regexp_replace(lower(substr(text, 1, 200)), '\s+', ' ', 'g'), 1, 40) AS prefix,
        |    min(doc_id) AS canonical_id, max(doc_id) AS max_id, count(*) AS n_docs
        |  FROM documents GROUP BY 1 HAVING count(*) > 1)
        |ORDER BY prefix_hash""".stripMargin,
    "q_minhash_sig" ->
      ("WITH " + sigCte + "\nSELECT * FROM sig ORDER BY doc_id"),
    "q_lsh_pairs" ->
      ("WITH " + lshPairsCte +
        "\nSELECT id_a, id_b, floor((est_jaccard)*10000 + 0.5)/10000 AS est_jaccard FROM pairs ORDER BY id_a, id_b"),
    "q_ngram_jaccard" ->
      ("WITH " + lshPairsCte + """,
        |j AS (
        |  SELECT p.id_a, p.id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS INTEGER) AS n_inter,
        |    1.0 * len(list_intersect(a.sh, b.sh)) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |  FROM pairs p JOIN sh a ON a.doc_id = p.id_a JOIN sh b ON b.doc_id = p.id_b)
        |SELECT id_a, id_b, n_inter, floor((jaccard)*10000 + 0.5)/10000 AS jaccard FROM j ORDER BY id_a, id_b""".stripMargin),
    "q_dedup_clusters" ->
      ("WITH RECURSIVE " + lshPairsCte.replace("WITH ", "") + """,
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs WHERE est_jaccard >= 0.5
        |  UNION
        |  SELECT id_b AS src, id_a AS dst FROM pairs WHERE est_jaccard >= 0.5),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |members AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id FROM reach GROUP BY src)
        |SELECT doc_id, cluster_id FROM members ORDER BY doc_id""".stripMargin),
    // full CC recompute over old ∪ new edges — proving the Spark side's
    // label-quotient incremental merge is exactly equivalent
    "q_cc_incremental" ->
      ("WITH RECURSIVE " + lshPairsCte.replace("WITH ", "") + """,
        |nedges(src, dst) AS (VALUES
        |  (CAST(0 AS BIGINT), CAST(1 AS BIGINT)), (CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), CAST(2 AS BIGINT)), (CAST(2 AS BIGINT), CAST(1 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(3 AS BIGINT)), (CAST(3 AS BIGINT), CAST(2 AS BIGINT)),
        |  (CAST(100 AS BIGINT), CAST(200 AS BIGINT)), (CAST(200 AS BIGINT), CAST(100 AS BIGINT))),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs WHERE est_jaccard >= 0.5
        |  UNION
        |  SELECT id_b AS src, id_a AS dst FROM pairs WHERE est_jaccard >= 0.5
        |  UNION
        |  SELECT src, dst FROM nedges),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |members AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id FROM reach GROUP BY src)
        |SELECT doc_id, cluster_id FROM members ORDER BY doc_id""".stripMargin),
    "q_canonical_pick" ->
      ("WITH RECURSIVE " + lshPairsCte.replace("WITH ", "") + """,
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs WHERE est_jaccard >= 0.5
        |  UNION
        |  SELECT id_b AS src, id_a AS dst FROM pairs WHERE est_jaccard >= 0.5),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |members AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id FROM reach GROUP BY src),
        |dq AS (
        |  SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |mq AS (
        |  SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
        |    1.0 * len(list_filter(w, t -> t IN ('the', 'a'))) / greatest(len(w), 1) AS stopword_ratio,
        |    1.0 * (length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) / greatest(length(text), 1) AS punct_ratio
        |  FROM dq),
        |sq AS (
        |  SELECT doc_id, 0.5 * least(n_tokens / 100.0, 1.0) + 0.3 * (1.0 - stopword_ratio) + 0.2 * (1.0 - punct_ratio) AS score
        |  FROM mq),
        |rk AS (
        |  SELECT m.cluster_id, m.doc_id, s.score,
        |    row_number() OVER (PARTITION BY m.cluster_id ORDER BY s.score DESC, m.doc_id) AS rn,
        |    count(*) OVER (PARTITION BY m.cluster_id) AS n_members
        |  FROM members m JOIN sq s USING (doc_id))
        |SELECT cluster_id, n_members, doc_id AS canonical_id,
        |  floor((score)*10000 + 0.5)/10000 AS best_score
        |FROM rk WHERE rn = 1 ORDER BY cluster_id""".stripMargin),
    "q_simhash" ->
      (s"""WITH toksm AS (
         |  SELECT doc_id, CAST('0x'||substr(md5(unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))),1,4) AS INT) AS h
         |  FROM documents),
         |bits AS (SELECT doc_id, $simhashSums FROM toksm GROUP BY 1)
         |SELECT doc_id, CAST($simhashCombine AS BIGINT) AS simhash16 FROM bits ORDER BY doc_id""".stripMargin),
    "q_simhash_pairs" ->
      (s"""WITH toksm AS (
         |  SELECT doc_id, CAST('0x'||substr(md5(unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))),1,4) AS INT) AS h
         |  FROM documents),
         |bits AS (SELECT doc_id, $simhashSums FROM toksm GROUP BY 1),
         |sig AS (SELECT doc_id, CAST($simhashCombine AS BIGINT) AS simhash16 FROM bits),
         |bands AS (
         |  SELECT doc_id, simhash16, b AS band_id, (simhash16 >> (4*b)) & 15 AS band_val
         |  FROM sig, generate_series(0, 3) AS t(b))
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash16, b.simhash16)) AS INTEGER) AS hamming
         |FROM bands a JOIN bands b
         |  ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash16, b.simhash16)) <= 3
         |ORDER BY id_a, id_b""".stripMargin),
    "q_chunks" ->
      """WITH tkc AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |ch AS (
        |  SELECT doc_id, unnest([ {'start': i, 'toks': list_slice(w, i, i + 63)}
        |    FOR i IN generate_series(1, greatest(len(w) - 8, 1), 56) ]) AS c
        |  FROM tkc WHERE len(w) > 0)
        |SELECT doc_id, CAST(c.start AS INTEGER) AS chunk_start,
        |  CAST(len(c.toks) AS INTEGER) AS n_toks,
        |  md5(array_to_string(c.toks, ' ')) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_start""".stripMargin,
    "q_tfidf" ->
      """WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM tk),
        |dfx AS (
        |  SELECT term, count(*) AS df
        |  FROM (SELECT doc_id, unnest(list_distinct(w)) AS term FROM tk) GROUP BY 1),
        |tfx AS (
        |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) / len AS tf
        |  FROM (SELECT doc_id, len(w) AS len, unnest(w) AS term FROM tk)
        |  GROUP BY doc_id, term, len),
        |sc AS (
        |  SELECT t.doc_id, t.term, t.tf, d.df,
        |    t.tf * ((SELECT n_docs FROM nn) / d.df) AS score
        |  FROM tfx t JOIN dfx d USING (term)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |      FROM sc)
        |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term,
        |  floor((tf)*1000000 + 0.5)/1000000 AS tf, df,
        |  floor((score)*1000000 + 0.5)/1000000 AS score
        |FROM r WHERE rank <= 3 AND doc_id < 20 ORDER BY doc_id, rank""".stripMargin,
    "q_bm25" ->
      """WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |              CAST(sum(len(w)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM tk),
        |dfx AS (
        |  SELECT term, count(*) AS df
        |  FROM (SELECT doc_id, unnest(list_distinct(w)) AS term FROM tk) GROUP BY 1),
        |fx AS (
        |  SELECT doc_id, dl, term, count(*) AS f
        |  FROM (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM tk)
        |  GROUP BY doc_id, dl, term),
        |sc AS (
        |  SELECT x.doc_id, x.term, x.f, d.df,
        |    ((SELECT n_docs FROM st) / d.df) *
        |    ((CAST(x.f AS DOUBLE) * 2.2) /
        |     (CAST(x.f AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(x.dl AS DOUBLE) / (SELECT avgdl FROM st))))) AS score
        |  FROM fx x JOIN dfx d USING (term)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |      FROM sc)
        |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, f, df,
        |  floor((score)*1000000 + 0.5)/1000000 AS score
        |FROM r WHERE rank <= 3 AND doc_id < 20 ORDER BY doc_id, rank""".stripMargin,
    "q_editdist_pairs" ->
      """WITH k AS (SELECT doc_id, substr(text, 1, 24) AS s FROM documents),
        |v AS (SELECT doc_id, s,
        |  unnest(list_distinct(list_append(
        |    [s[1:i-1] || s[i+1:len(s)] FOR i IN generate_series(1, len(s))], s))) AS var
        |  FROM k),
        |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.s AS s_a, b.s AS s_b
        |      FROM v a JOIN v b ON a.var = b.var AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, s_a, s_b FROM p
        |WHERE levenshtein(s_a, s_b) <= 1 ORDER BY id_a, id_b""".stripMargin,
    "q_inverted_index" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents),
        |dt AS (SELECT term, doc_id, count(*) AS tf FROM tk GROUP BY 1, 2)
        |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tf_total,
        |  md5(array_to_string(list(doc_id || ':' || tf ORDER BY doc_id), ',')) AS postings_md5
        |FROM dt GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_string_sim" ->
      """WITH base AS (
        |  SELECT doc_id, substr(text, 1, 40) AS s, substr(text, 1, 12) AS blk FROM documents),
        |grams AS (
        |  SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(s) >= 3
        |      THEN [s[i:i+2] FOR i IN generate_series(1, len(s)-2)] ELSE [] END) AS g
        |    FROM base) GROUP BY 1, 2),
        |norms AS (SELECT doc_id, CAST(sum(c*c) AS BIGINT) AS n2 FROM grams GROUP BY 1),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM base a JOIN base b ON a.blk = b.blk AND a.doc_id < b.doc_id),
        |dots AS (
        |  SELECT p.id_a, p.id_b, CAST(sum(ga.c * gb.c) AS BIGINT) AS dot
        |  FROM pairs p
        |  JOIN grams ga ON ga.doc_id = p.id_a
        |  JOIN grams gb ON gb.doc_id = p.id_b AND gb.g = ga.g
        |  GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b, coalesce(d.dot, 0) AS dot,
        |  floor((coalesce(d.dot, 0) / (sqrt(na.n2) * sqrt(nb.n2)))*10000 + 0.5)/10000 AS cosine
        |FROM pairs p
        |LEFT JOIN dots d ON d.id_a = p.id_a AND d.id_b = p.id_b
        |JOIN norms na ON na.doc_id = p.id_a
        |JOIN norms nb ON nb.doc_id = p.id_b
        |ORDER BY p.id_a, p.id_b""".stripMargin,
    "q_winnow" ->
      """WITH tw AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(tk) >= 3
        |        THEN [tk[i]||' '||tk[i+1]||' '||tk[i+2] FOR i IN generate_series(1, len(tk)-2)]
        |        ELSE [] END AS gs FROM tw),
        |h AS (SELECT doc_id, list_transform(gs, x -> CAST(('0x'||substr(md5(x),1,15)) AS BIGINT)) AS hs FROM g),
        |f AS (SELECT doc_id, CASE WHEN len(hs) >= 4
        |        THEN list_distinct([list_min(hs[j:j+3]) FOR j IN generate_series(1, len(hs)-3)])
        |        WHEN len(hs) > 0 THEN [list_min(hs)] ELSE [] END AS fps FROM h),
        |e AS (SELECT doc_id, unnest(fps) AS fp FROM f)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3 ORDER BY 1, 2""".stripMargin,
    "q_vocab_coverage" ->
      """WITH tf AS (
        |  SELECT term, count(*) AS tf FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents)
        |  GROUP BY 1),
        |r AS (
        |  SELECT term, tf,
        |    row_number() OVER (ORDER BY tf DESC, term) AS rank,
        |    sum(tf) OVER (ORDER BY tf DESC, term ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tf,
        |    sum(tf) OVER () AS total
        |  FROM tf)
        |SELECT CAST(rank AS INTEGER) AS rank, term, tf,
        |  floor((cum_tf * 1.0 / total)*1000000 + 0.5)/1000000 AS coverage
        |FROM r ORDER BY rank""".stripMargin,
    "q_novelty" ->
      """WITH d AS (
        |  SELECT CAST(doc_id % 10 AS INTEGER) AS day, md5(text) AS h FROM documents),
        |fs AS (SELECT h, min(day) AS first_day FROM d GROUP BY 1)
        |SELECT day, count(*) AS n_docs,
        |  count(*) FILTER (WHERE day = first_day) AS n_novel,
        |  floor((count(*) FILTER (WHERE day = first_day) * 1.0 / count(*))*10000 + 0.5)/10000 AS novelty_rate
        |FROM d JOIN fs USING (h)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // guarantee booleans are provable invariants of the MG sketch, so
    // the oracle states them as constants over the exact heavy set
    "q_heavy_hitters" ->
      """WITH tk AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
        |tot AS (SELECT count(*) AS total FROM tk),
        |ex AS (SELECT term, count(*) AS n FROM tk GROUP BY 1)
        |SELECT term, n, TRUE AS sketch_found, TRUE AS within_err
        |FROM ex, tot WHERE n * 33 > total ORDER BY term""".stripMargin,
    "q_quantize" -> {
      // mirror Quantize.scalarQuantize: same grid math, generated once
      val sc = "((CAST(arr[i].mx AS DOUBLE) - CAST(arr[i].mn AS DOUBLE)) / 255.0)"
      val code = "CASE WHEN arr[i].mx > arr[i].mn THEN CAST(least(255.0, " +
        s"floor((CAST(embedding[i] AS DOUBLE) - CAST(arr[i].mn AS DOUBLE)) / $sc + 0.5)) AS BIGINT) " +
        "ELSE CAST(0 AS BIGINT) END"
      val ok = "CASE WHEN arr[i].mx > arr[i].mn THEN " +
        s"abs((CAST(arr[i].mn AS DOUBLE) + ($code) * $sc) - CAST(embedding[i] AS DOUBLE)) <= $sc * 0.5 " +
        "ELSE CAST(embedding[i] AS DOUBLE) = CAST(arr[i].mn AS DOUBLE) END"
      s"""WITH e AS (
         |  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS pos
         |  FROM embeddings),
         |st AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM e GROUP BY 1),
         |sa AS (SELECT list(struct_pack(pos := pos, mn := mn, mx := mx) ORDER BY pos) AS arr FROM st),
         |q AS (
         |  SELECT vec_id,
         |    [$code FOR i IN generate_series(1, len(embedding))] AS codes,
         |    [$ok FOR i IN generate_series(1, len(embedding))] AS oks
         |  FROM embeddings, sa)
         |SELECT vec_id, md5(array_to_string(codes, ',')) AS codes_md5,
         |  list_aggregate(oks, 'bool_and') AS within_bound
         |FROM q ORDER BY vec_id""".stripMargin
    },
    "q_decontaminate" ->
      """WITH toksd AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |sh5 AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 5
        |    THEN list_distinct([w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
        |                        FOR i IN generate_series(1, len(w)-4)])
        |    ELSE [] END AS sh
        |  FROM toksd),
        |t AS (SELECT doc_id AS train_id, unnest(sh) AS g FROM sh5 WHERE doc_id >= 25),
        |e AS (SELECT doc_id AS eval_id, unnest(sh) AS g FROM sh5 WHERE doc_id < 25)
        |SELECT train_id, eval_id, count(*) AS n_shared
        |FROM t JOIN e USING (g) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_text_clean" ->
      """WITH c AS (
        |  SELECT lang, text,
        |    trim(regexp_replace(regexp_replace(regexp_replace(text,
        |      '<[^>]*>', ' ', 'g'), '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')) AS clean
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  count(*) FILTER (WHERE clean <> text) AS n_changed,
        |  CAST(sum(length(text) - length(clean)) AS BIGINT) AS chars_removed,
        |  floor((avg(length(clean)))*10000 + 0.5)/10000 AS avg_clean_chars
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_simhash64" ->
      ("WITH " + simhash64Cte + "\nSELECT doc_id, simhash64 FROM sig64 ORDER BY doc_id"),
    "q_simhash64_pairs" ->
      ("WITH " + simhash64Cte + """,
        |bands64 AS (
        |  SELECT doc_id, simhash64, b AS band_id, (simhash64 >> (16*b)) & 65535 AS band_val
        |  FROM sig64, generate_series(0, 3) AS t(b))
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.simhash64, b.simhash64)) AS INTEGER) AS hamming
        |FROM bands64 a JOIN bands64 b
        |  ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash64, b.simhash64)) <= 3
        |ORDER BY id_a, id_b""".stripMargin),
    "q_mmr" -> mmrOracleSql(k = 5, lambda = 0.7),
    "q_bpe_merges" -> bpeOracleSql(rounds = 3),
    "q_bpe_encode" -> bpeEncodeOracleSql(rounds = 3),
    // sign matrix interpolated from the SAME jlSignRows constants the
    // Spark expression compiles; folds run in identical element order
    // on both engines, so the gate needs no tolerance
    "q_jl_project" -> {
      val rows = graft.operators.Similarity.jlSignRows(16, 64)
        .map(r => s"[${r.map(i => s"$i.0").mkString(",")}]").mkString("[", ",", "]")
      s"""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 8),
        |m AS (SELECT $rows AS signs),
        |p AS (
        |  SELECT vec_id, v,
        |    [list_dot_product(v, signs[j]) * 0.25
        |     FOR j IN generate_series(1, 16)] AS proj
        |  FROM e, m),
        |x AS (
        |  SELECT vec_id, j - 1 AS pos, proj[j] AS x,
        |    list_dot_product(proj, proj) / nullif(list_dot_product(v, v), 0) AS norm2_ratio
        |  FROM p, LATERAL (SELECT unnest(generate_series(1, 8)) AS j))
        |SELECT vec_id, CAST(pos AS INTEGER) AS pos,
        |  floor((x)*1000000 + 0.5)/1000000 AS x,
        |  floor((norm2_ratio)*10000 + 0.5)/10000 AS norm2_ratio
        |FROM x ORDER BY vec_id, pos""".stripMargin
    },
    "q_embed_topk" ->
      ("WITH " + cosineCtes + """,
        |r AS (SELECT query_id, neighbor_id, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |      FROM scored)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, floor((cosine)*10000 + 0.5)/10000 AS cosine
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),
    // bucket fragment is GENERATED from the same seeded WTA pairs the
    // Spark side uses (Dedup.wtaBucketDuckSql) — the dialects cannot
    // drift, and the comparison-based key has no float-order hazard
    "q_embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |b AS (
        |  SELECT vec_id, v,
        |    ${graft.operators.Dedup.wtaBucketDuckSql("v", 8)} AS bucket
        |  FROM e),
        |p AS (
        |  SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
        |    list_dot_product(a.v, bb.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(bb.v, bb.v))) AS cosine
        |  FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id)
        |SELECT id_a, id_b, floor((cosine)*10000 + 0.5)/10000 AS cosine
        |FROM p WHERE cosine >= 0.2 ORDER BY id_a, id_b""".stripMargin,
    // plane pairs interpolated from Similarity.DefaultPlanePairs (the
    // generated-SQL pattern: dialects can't drift); the plane is never
    // materialized — dot(v, a−b) = dot(v,a) − dot(v,b) on both engines
    "q_embed_lsh" ->
      s"""WITH ${lshRankedCtes(queryPred = "q.vec_id < 8")}
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
        |  floor((cosine)*10000 + 0.5)/10000 AS cosine
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    // LSH candidates (same CTE chain) left-joined to brute-force truth;
    // rr = 1/min relevant rank, integer-ratio metrics throughout
    "q_retrieval_eval" ->
      s"""WITH ${lshRankedCtes(queryPred = "q.vec_id < 8")},
        |cnd AS (SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 3),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |  SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY qq.vec_id ORDER BY
        |      list_dot_product(qq.v, cc.v) /
        |        (sqrt(list_dot_product(qq.v, qq.v)) * sqrt(list_dot_product(cc.v, cc.v))) DESC,
        |      cc.vec_id) AS xrank
        |  FROM e qq JOIN e cc ON qq.vec_id < 8 AND cc.vec_id <> qq.vec_id) WHERE xrank <= 3),
        |j AS (SELECT c.query_id, c.rank, ex.neighbor_id IS NOT NULL AS hit
        |      FROM cnd c LEFT JOIN ex ON ex.query_id = c.query_id AND ex.neighbor_id = c.neighbor_id),
        |pq AS (SELECT query_id,
        |         coalesce(1 / min(CASE WHEN hit THEN rank END), 0.0) AS rr,
        |         count(*) FILTER (WHERE hit) / 3 AS recall_3,
        |         count(*) AS n_returned
        |       FROM j GROUP BY 1)
        |SELECT query_id, floor((rr)*1000000 + 0.5)/1000000 AS rr,
        |  floor((recall_3)*1000000 + 0.5)/1000000 AS recall_3, n_returned
        |FROM pq ORDER BY query_id""".stripMargin,
    // kNN graph (all-corpus LSH, k=3) → canonical undirected edges →
    // wedge-closing triangle census; CTE chain shared with q_embed_lsh
    // kCorePeel unrolled: per round, survivors = deg >= k on the
    // CURRENT edge frame, then both-endpoint semi-join — the same
    // parallel-peel semantics, round for round
    "q_kcore" ->
      s"""WITH ${lshRankedCtes(queryPred = "TRUE")},
        |knn AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
        |edges AS (
        |  SELECT DISTINCT least(query_id, neighbor_id) AS u, greatest(query_id, neighbor_id) AS v
        |  FROM knn WHERE query_id <> neighbor_id),
        |und AS (SELECT u AS src, v AS dst FROM edges UNION ALL SELECT v AS src, u AS dst FROM edges),
        |d1 AS (SELECT src, count(*) AS deg FROM und GROUP BY 1),
        |a1 AS (SELECT src AS id FROM d1 WHERE deg >= 4),
        |e1 AS (SELECT src, dst FROM und
        |       WHERE src IN (SELECT id FROM a1) AND dst IN (SELECT id FROM a1)),
        |d2 AS (SELECT src, count(*) AS deg FROM e1 GROUP BY 1),
        |a2 AS (SELECT src AS id FROM d2 WHERE deg >= 4),
        |e2 AS (SELECT src, dst FROM e1
        |       WHERE src IN (SELECT id FROM a2) AND dst IN (SELECT id FROM a2)),
        |d3 AS (SELECT src, count(*) AS deg FROM e2 GROUP BY 1),
        |a3 AS (SELECT src AS id FROM d3 WHERE deg >= 4),
        |e3 AS (SELECT src, dst FROM e2
        |       WHERE src IN (SELECT id FROM a3) AND dst IN (SELECT id FROM a3))
        |SELECT 0 AS round, (SELECT count(DISTINCT src) FROM und) AS n_active,
        |       (SELECT CAST(count(*)/2 AS BIGINT) FROM und) AS n_edges
        |UNION ALL SELECT 1, (SELECT count(*) FROM a1), (SELECT CAST(count(*)/2 AS BIGINT) FROM e1)
        |UNION ALL SELECT 2, (SELECT count(*) FROM a2), (SELECT CAST(count(*)/2 AS BIGINT) FROM e2)
        |UNION ALL SELECT 3, (SELECT count(*) FROM a3), (SELECT CAST(count(*)/2 AS BIGINT) FROM e3)
        |ORDER BY round""".stripMargin,
    "q_knn_triangles" ->
      s"""WITH ${lshRankedCtes(queryPred = "TRUE")},
        |knn AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
        |edges AS (
        |  SELECT DISTINCT least(query_id, neighbor_id) AS u, greatest(query_id, neighbor_id) AS v
        |  FROM knn WHERE query_id <> neighbor_id),
        |nn AS (SELECT count(*) AS n_nodes FROM (SELECT u FROM edges UNION SELECT v FROM edges)),
        |ne AS (SELECT count(*) AS n_edges FROM edges),
        |w AS (SELECT ab.u AS a, ab.v AS b, bc.v AS c
        |      FROM edges ab JOIN edges bc ON ab.v = bc.u),
        |cl AS (SELECT w.a, w.c, e2.u AS closed
        |       FROM w LEFT JOIN edges e2 ON w.a = e2.u AND w.c = e2.v),
        |tri AS (SELECT count(*) AS n_wedges, count(closed) AS n_triangles FROM cl)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles FROM nn, ne, tri""".stripMargin,
    "q_link_pred" ->
      (s"""WITH ${lshRankedCtes(queryPred = "TRUE")},
        |knn AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
        |edges AS (
        |  SELECT DISTINCT least(query_id, neighbor_id) AS u, greatest(query_id, neighbor_id) AS v
        |  FROM knn WHERE query_id <> neighbor_id),
        |und AS (SELECT u AS z, v AS nb FROM edges UNION ALL SELECT v AS z, u AS nb FROM edges),
        |deg AS (SELECT z, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY 1),
        |w AS (SELECT x.z, x.nb AS a, y.nb AS b
        |      FROM und x JOIN und y ON x.z = y.z WHERE x.nb < y.nb),
        |lp_cand AS (
        |  SELECT w.z, w.a, w.b FROM w
        |  LEFT JOIN edges e2 ON e2.u = w.a AND e2.v = w.b WHERE e2.u IS NULL),
        |sc AS (
        |  SELECT a, b, CAST(count(*) AS BIGINT) AS common_neighbors,
        |    CAST(sum(CAST(floor((1.0/ln(CAST(d AS DOUBLE)))*1000000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000000 AS aa
        |  FROM lp_cand JOIN deg USING (z) GROUP BY 1, 2)
        |SELECT a AS id_a, b AS id_b, common_neighbors,
        |  floor((aa)*1000000 + 0.5)/1000000 AS adamic_adar
        |FROM sc ORDER BY common_neighbors DESC, aa DESC, a, b LIMIT 20""".stripMargin),
    // the full PQ chain mirrored, GENERATED from the same PqM/PqCodes/
    // PqStride constants the Spark query uses: stride codebooks →
    // argmin encode (row_number over (dist, code) = Spark's
    // min(struct)) → per-query dot tables → FIXED-ORDER p0+p1+…
    // score assembly (so the double bits match Spark's non-associative
    // addition) → top-5 → exact-cosine re-rank columns
    "q_embed_pq" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sub AS (
        |  SELECT vec_id, s,
        |    v[CAST(s*(len(v)//$PqM)+1 AS BIGINT) : CAST((s+1)*(len(v)//$PqM) AS BIGINT)] AS sv
        |  FROM e, range($PqM) t(s)),
        |cb AS (SELECT CAST(vec_id // $PqStride AS INTEGER) AS code, s, sv AS cv
        |       FROM sub WHERE vec_id % $PqStride = 0 AND vec_id < ${PqStride * PqCodes}),
        |enc AS (
        |  SELECT vec_id AS neighbor_id, s, code FROM (
        |    SELECT x.vec_id, x.s, c.code,
        |      row_number() OVER (PARTITION BY x.vec_id, x.s
        |        ORDER BY -2*list_dot_product(x.sv, c.cv) + list_dot_product(c.cv, c.cv), c.code) AS rn
        |    FROM sub x JOIN cb c USING (s)) WHERE rn = 1),
        |qt AS (SELECT q.vec_id AS query_id, q.s, c.code, list_dot_product(q.sv, c.cv) AS pdot
        |       FROM sub q JOIN cb c USING (s) WHERE q.vec_id < 8),
        |scored AS (
        |  SELECT t.query_id, enc.neighbor_id,
        |    ${(0 until PqM).map(s => s"max(CASE WHEN enc.s = $s THEN pdot END)").mkString("\n    + ")} AS adc
        |  FROM enc JOIN qt t ON t.s = enc.s AND t.code = enc.code
        |  WHERE t.query_id <> enc.neighbor_id
        |  GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, adc,
        |        row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rank
        |      FROM scored)
        |SELECT r.query_id, CAST(rank AS INTEGER) AS rank, r.neighbor_id,
        |  floor(adc*10000 + 0.5)/10000 AS adc,
        |  floor((list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))))*10000 + 0.5)/10000 AS cosine
        |FROM r
        |JOIN e a ON a.vec_id = r.query_id
        |JOIN e b ON b.vec_id = r.neighbor_id
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // IVF+PQ: the q_embed_ivf coarse-assignment CTEs composed with the
    // q_embed_pq code CTEs — candidates must be in a probed bucket AND
    // score via the code tables; same generated constants
    "q_embed_ivfpq" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (SELECT CAST(vec_id / 100 AS BIGINT) AS centroid_id, v AS cvec0
        |         FROM e WHERE vec_id % 100 = 0),
        |assign AS (
        |  SELECT vec_id AS neighbor_id, bucket FROM (
        |    SELECT c.vec_id, ct.centroid_id AS bucket,
        |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |        list_dot_product(c.v, ct.cvec0) /
        |          (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(ct.cvec0, ct.cvec0))) DESC,
        |        ct.centroid_id) AS rn
        |    FROM e c CROSS JOIN cent ct) WHERE rn = 1),
        |probe AS (
        |  SELECT vec_id AS query_id, bucket FROM (
        |    SELECT c.vec_id, ct.centroid_id AS bucket,
        |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |        list_dot_product(c.v, ct.cvec0) /
        |          (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(ct.cvec0, ct.cvec0))) DESC,
        |        ct.centroid_id) AS rn
        |    FROM e c CROSS JOIN cent ct WHERE c.vec_id < 8) WHERE rn <= 2),
        |sub AS (
        |  SELECT vec_id, s,
        |    v[CAST(s*(len(v)//$PqM)+1 AS BIGINT) : CAST((s+1)*(len(v)//$PqM) AS BIGINT)] AS sv
        |  FROM e, range($PqM) t(s)),
        |cb AS (SELECT CAST(vec_id // $PqStride AS INTEGER) AS code, s, sv AS cv
        |       FROM sub WHERE vec_id % $PqStride = 0 AND vec_id < ${PqStride * PqCodes}),
        |enc AS (
        |  SELECT vec_id AS neighbor_id, s, code FROM (
        |    SELECT x.vec_id, x.s, c.code,
        |      row_number() OVER (PARTITION BY x.vec_id, x.s
        |        ORDER BY -2*list_dot_product(x.sv, c.cv) + list_dot_product(c.cv, c.cv), c.code) AS rn
        |    FROM sub x JOIN cb c USING (s)) WHERE rn = 1),
        |qt AS (SELECT q.vec_id AS query_id, q.s, c.code, list_dot_product(q.sv, c.cv) AS pdot
        |       FROM sub q JOIN cb c USING (s) WHERE q.vec_id < 8),
        |scored AS (
        |  SELECT t.query_id, enc.neighbor_id,
        |    ${(0 until PqM).map(s => s"max(CASE WHEN enc.s = $s THEN pdot END)").mkString("\n    + ")} AS adc
        |  FROM enc
        |  JOIN assign a ON a.neighbor_id = enc.neighbor_id
        |  JOIN probe p ON p.bucket = a.bucket
        |  JOIN qt t ON t.query_id = p.query_id AND t.s = enc.s AND t.code = enc.code
        |  WHERE t.query_id <> enc.neighbor_id
        |  GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, adc,
        |        row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rank
        |      FROM scored)
        |SELECT r.query_id, CAST(rank AS INTEGER) AS rank, r.neighbor_id,
        |  floor(adc*10000 + 0.5)/10000 AS adc,
        |  floor((list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))))*10000 + 0.5)/10000 AS cosine
        |FROM r
        |JOIN e a ON a.vec_id = r.query_id
        |JOIN e b ON b.vec_id = r.neighbor_id
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // degree-oriented census: orientation mirrored with row-value
    // comparisons ((deg, id) tuples) — n_triangles must equal
    // q_knn_triangles', n_wedges is the orientation-bounded count
    "q_triangles_oriented" ->
      s"""WITH ${lshRankedCtes(queryPred = "TRUE")},
        |knn AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
        |edges AS (
        |  SELECT DISTINCT least(query_id, neighbor_id) AS u, greatest(query_id, neighbor_id) AS v
        |  FROM knn WHERE query_id <> neighbor_id),
        |nn AS (SELECT count(*) AS n_nodes FROM (SELECT u FROM edges UNION SELECT v FROM edges)),
        |ne AS (SELECT count(*) AS n_edges FROM edges),
        |deg AS (SELECT id, count(*) AS deg
        |        FROM (SELECT u AS id FROM edges UNION ALL SELECT v FROM edges) GROUP BY 1),
        |o AS (
        |  SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS s,
        |         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS d,
        |         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN dv.deg ELSE du.deg END AS dd
        |  FROM edges e JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v),
        |w AS (SELECT x.d AS p, y.d AS q FROM o x JOIN o y ON x.s = y.s
        |      WHERE (x.dd, x.d) < (y.dd, y.d)),
        |cl AS (SELECT w.p, w.q, o2.s AS closed
        |       FROM w LEFT JOIN o o2 ON w.p = o2.s AND w.q = o2.d),
        |tri AS (SELECT count(*) AS n_wedges, count(closed) AS n_triangles FROM cl)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles FROM nn, ne, tri""".stripMargin,
    "q_hard_negatives" ->
      s"""WITH ${lshRankedCtes(queryPred = "q.vec_id < 8")},
        |k10 AS (SELECT query_id, neighbor_id, cosine FROM r WHERE rank <= 10),
        |lab AS (SELECT vec_id, label FROM embeddings),
        |hn AS (
        |  SELECT k.query_id, k.neighbor_id, k.cosine, lq.label AS label_q, ln.label AS label_n,
        |    row_number() OVER (PARTITION BY k.query_id ORDER BY k.cosine DESC, k.neighbor_id) AS hard_rank
        |  FROM k10 k JOIN lab lq ON lq.vec_id = k.query_id
        |             JOIN lab ln ON ln.vec_id = k.neighbor_id
        |  WHERE lq.label <> ln.label)
        |SELECT query_id, CAST(hard_rank AS INTEGER) AS hard_rank, neighbor_id,
        |  label_q, label_n, floor((cosine)*10000 + 0.5)/10000 AS cosine
        |FROM hn WHERE hard_rank <= 3 ORDER BY query_id, hard_rank""".stripMargin,
    // 2 synchronized LPA rounds unrolled; per-node argmax = row_number
    // (count DESC, label ASC) — same deterministic tie as the Spark
    // max(struct(c, -label)) fold
    "q_label_prop" ->
      s"""WITH ${lshRankedCtes(queryPred = "TRUE")},
        |knn AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
        |und AS (
        |  SELECT query_id AS src, neighbor_id AS dst FROM knn WHERE query_id <> neighbor_id
        |  UNION
        |  SELECT neighbor_id, query_id FROM knn WHERE query_id <> neighbor_id),
        |l0 AS (SELECT DISTINCT src AS id, src AS label FROM und),
        |v1 AS (SELECT u.src, l.label, count(*) AS c
        |       FROM und u JOIN l0 l ON u.dst = l.id GROUP BY 1, 2),
        |l1 AS (SELECT src AS id, label FROM (
        |         SELECT src, label, row_number() OVER (PARTITION BY src ORDER BY c DESC, label) AS rn
        |         FROM v1) WHERE rn = 1),
        |v2 AS (SELECT u.src, l.label, count(*) AS c
        |       FROM und u JOIN l1 l ON u.dst = l.id GROUP BY 1, 2),
        |l2 AS (SELECT src AS id, label FROM (
        |         SELECT src, label, row_number() OVER (PARTITION BY src ORDER BY c DESC, label) AS rn
        |         FROM v2) WHERE rn = 1)
        |SELECT label, count(*) AS n_members, min(id) AS min_member
        |FROM l2 GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact 2x2 contingency per term; four ln calls in fixed 11,01,10,00
    // order, zero-count cells contribute 0
    "q_term_mi" ->
      """WITH d AS (
        |  SELECT doc_id, lang = 'en' AS y,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS w
        |  FROM documents),
        |p AS (SELECT doc_id, y, unnest(list_distinct(w)) AS term FROM d),
        |pt AS (
        |  SELECT term,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |    CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS n01
        |  FROM p GROUP BY 1
        |  HAVING sum(CASE WHEN y THEN 1 ELSE 0 END) + sum(CASE WHEN NOT y THEN 1 ELSE 0 END) >= 5),
        |t AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM d),
        |c AS (
        |  SELECT term, n11, n01, pos - n11 AS n10, n - pos - n01 AS n00, n, pos
        |  FROM pt CROSS JOIN t),
        |m AS (
        |  SELECT term, n11, n01, n10, n00,
        |    (CASE WHEN n11 > 0 THEN (CAST(n11 AS DOUBLE)/n) * ln(CAST(n11*n AS DOUBLE)/CAST((n11+n01)*pos AS DOUBLE)) ELSE 0.0 END
        |     + CASE WHEN n01 > 0 THEN (CAST(n01 AS DOUBLE)/n) * ln(CAST(n01*n AS DOUBLE)/CAST((n11+n01)*(n-pos) AS DOUBLE)) ELSE 0.0 END
        |     + CASE WHEN n10 > 0 THEN (CAST(n10 AS DOUBLE)/n) * ln(CAST(n10*n AS DOUBLE)/CAST((n10+n00)*pos AS DOUBLE)) ELSE 0.0 END
        |     + CASE WHEN n00 > 0 THEN (CAST(n00 AS DOUBLE)/n) * ln(CAST(n00*n AS DOUBLE)/CAST((n10+n00)*(n-pos) AS DOUBLE)) ELSE 0.0 END) AS mi
        |  FROM c)
        |SELECT term, n11, n01, n10, n00,
        |  floor((mi)*100000000 + 0.5)/100000000 AS mi
        |FROM m ORDER BY term""".stripMargin,
    // edge-endpoint degree Pearson over the canonical kNN edges — all
    // sums exact integers, the two divisions are the only IEEE ops
    "q_assortativity" ->
      s"""WITH ${lshRankedCtes(queryPred = "TRUE")},
        |knn AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
        |ce AS (SELECT DISTINCT least(query_id, neighbor_id) AS u, greatest(query_id, neighbor_id) AS v
        |       FROM knn WHERE query_id <> neighbor_id),
        |deg AS (SELECT id, count(*) AS d
        |        FROM (SELECT u AS id FROM ce UNION ALL SELECT v FROM ce) GROUP BY 1),
        |el AS (SELECT du.d AS ju, dv.d AS jv
        |       FROM ce JOIN deg du ON ce.u = du.id JOIN deg dv ON ce.v = dv.id),
        |s AS (SELECT count(*) AS m,
        |        CAST(sum(ju * jv) AS BIGINT) AS sjk,
        |        CAST(sum(ju + jv) AS BIGINT) AS ssum,
        |        CAST(sum(ju * ju + jv * jv) AS BIGINT) AS ssq
        |      FROM el),
        |nn AS (SELECT count(*) AS n_nodes FROM deg)
        |SELECT n_nodes, m,
        |  CASE WHEN CAST(ssq AS DOUBLE) / (2 * m)
        |            - (CAST(ssum AS DOUBLE) / (2 * m)) * (CAST(ssum AS DOUBLE) / (2 * m)) <> 0
        |    THEN floor(((CAST(sjk AS DOUBLE) / m
        |            - (CAST(ssum AS DOUBLE) / (2 * m)) * (CAST(ssum AS DOUBLE) / (2 * m)))
        |          / (CAST(ssq AS DOUBLE) / (2 * m)
        |            - (CAST(ssum AS DOUBLE) / (2 * m)) * (CAST(ssum AS DOUBLE) / (2 * m))))*100000000 + 0.5)/100000000
        |  END AS assortativity
        |FROM s CROSS JOIN nn""".stripMargin,
    // same knn + 2-round LPA chain as q_label_prop, then the Newman
    // modularity CTEs: exact integer e_c/d_c/m, fixed-point Q sum
    "q_modularity" ->
      s"""WITH ${lshRankedCtes(queryPred = "TRUE")},
        |knn AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
        |und AS (
        |  SELECT query_id AS src, neighbor_id AS dst FROM knn WHERE query_id <> neighbor_id
        |  UNION
        |  SELECT neighbor_id, query_id FROM knn WHERE query_id <> neighbor_id),
        |l0 AS (SELECT DISTINCT src AS id, src AS label FROM und),
        |v1 AS (SELECT u.src, l.label, count(*) AS c
        |       FROM und u JOIN l0 l ON u.dst = l.id GROUP BY 1, 2),
        |l1 AS (SELECT src AS id, label FROM (
        |         SELECT src, label, row_number() OVER (PARTITION BY src ORDER BY c DESC, label) AS rn
        |         FROM v1) WHERE rn = 1),
        |v2 AS (SELECT u.src, l.label, count(*) AS c
        |       FROM und u JOIN l1 l ON u.dst = l.id GROUP BY 1, 2),
        |l2 AS (SELECT src AS id, label FROM (
        |         SELECT src, label, row_number() OVER (PARTITION BY src ORDER BY c DESC, label) AS rn
        |         FROM v2) WHERE rn = 1),
        |ce AS (SELECT DISTINCT least(query_id, neighbor_id) AS u, greatest(query_id, neighbor_id) AS v
        |       FROM knn WHERE query_id <> neighbor_id),
        |el AS (SELECT ce.u, ce.v, a.label AS lu, b.label AS lv
        |       FROM ce JOIN l2 a ON ce.u = a.id JOIN l2 b ON ce.v = b.id),
        |mm AS (SELECT count(*) AS m FROM el),
        |intra AS (SELECT lu AS label, count(*) AS intra_edges FROM el WHERE lu = lv GROUP BY 1),
        |degc AS (SELECT label, count(*) AS degree_sum
        |         FROM (SELECT lu AS label FROM el UNION ALL SELECT lv FROM el) GROUP BY 1),
        |nodes AS (SELECT label, count(*) AS n_nodes FROM l2 GROUP BY 1),
        |per AS (
        |  SELECT n.label, n.n_nodes,
        |    coalesce(d.degree_sum, 0) AS degree_sum,
        |    coalesce(i.intra_edges, 0) AS intra_edges,
        |    CAST(coalesce(i.intra_edges, 0) AS DOUBLE) / m
        |      - (CAST(coalesce(d.degree_sum, 0) AS DOUBLE) / (2 * m))
        |        * (CAST(coalesce(d.degree_sum, 0) AS DOUBLE) / (2 * m)) AS contrib,
        |    m
        |  FROM nodes n LEFT JOIN degc d USING (label) LEFT JOIN intra i USING (label)
        |  CROSS JOIN mm),
        |qq AS (
        |  SELECT CAST(sum(CAST(floor(contrib * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS q
        |  FROM per)
        |SELECT label, n_nodes, degree_sum, intra_edges,
        |  floor((contrib)*100000000 + 0.5)/100000000 AS contrib,
        |  floor((q)*100000000 + 0.5)/100000000 AS modularity, m
        |FROM per CROSS JOIN qq ORDER BY label""".stripMargin,
    "q_embed_ivf" ->
      ("WITH " + ivfAssignCte + """,
        |q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM assign WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.query_id, q.bucket, a.vec_id AS neighbor_id,
        |    list_dot_product(q.qv, a.v) /
        |      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(a.v, a.v))) AS cosine
        |  FROM q JOIN assign a ON a.bucket = q.bucket AND a.vec_id <> q.query_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |      FROM scored)
        |SELECT query_id, bucket, CAST(rank AS INTEGER) AS rank, neighbor_id, floor((cosine)*10000 + 0.5)/10000 AS cosine
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),
    "q_silhouette" ->
      ("WITH " + ivfAssignCte.replace("assign AS (",
        """sc AS (
          |  SELECT c.vec_id, ct.centroid_id,
          |    list_dot_product(c.v, ct.centroid_vec) /
          |      (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(ct.centroid_vec, ct.centroid_vec))) AS sim
          |  FROM corpus c CROSS JOIN cent ct),
          |r AS (
          |  SELECT vec_id, centroid_id, sim,
          |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
          |  FROM sc),
          |per AS (
          |  SELECT vec_id,
          |    max(CASE WHEN rn = 1 THEN centroid_id END) AS bucket,
          |    1.0 - max(CASE WHEN rn = 1 THEN sim END) AS a,
          |    1.0 - max(CASE WHEN rn = 2 THEN sim END) AS b
          |  FROM r WHERE rn <= 2 GROUP BY vec_id),
          |sil AS (
          |  SELECT bucket,
          |    CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b) ELSE 0.0 END AS s
          |  FROM per),
          |assign AS (""".stripMargin) + """
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(sum(CAST(floor(s*1000000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000000/count(*) AS mean_sil
        |FROM sil GROUP BY bucket ORDER BY bucket""".stripMargin),
    "q_quantile_norm" ->
      """WITH x AS (
        |  SELECT vec_id, pos - 1 AS pos, x
        |  FROM (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |               generate_subscripts(embedding, 1) AS pos
        |        FROM embeddings)),
        |r AS (
        |  SELECT vec_id, pos, x,
        |    rank() OVER (PARTITION BY pos ORDER BY x) AS rk,
        |    count(*) OVER (PARTITION BY pos) AS n
        |  FROM x)
        |SELECT vec_id, CAST(pos AS INT) AS pos,
        |  floor((x)*1000000 + 0.5)/1000000 AS x,
        |  floor((CAST(rk - 1 AS DOUBLE) / (n - 1))*1000000 + 0.5)/1000000 AS qnorm
        |FROM r WHERE vec_id < 4 AND pos < 8 ORDER BY vec_id, pos""".stripMargin,
    "q_padding_waste" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INT) AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(floor((row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1) / 8) AS BIGINT) AS batch
        |  FROM d),
        |a AS (
        |  SELECT batch, count(*) AS n_docs, max(n_tokens) AS max_len,
        |    CAST(sum(n_tokens) AS BIGINT) AS sum_len
        |  FROM b GROUP BY 1)
        |SELECT batch, n_docs, max_len, sum_len,
        |  CAST(max_len * n_docs - sum_len AS BIGINT) AS waste_tokens,
        |  floor((CAST(max_len * n_docs - sum_len AS DOUBLE) / (max_len * n_docs))*1000000 + 0.5)/1000000 AS waste_frac
        |FROM a ORDER BY batch""".stripMargin,
    "q_pack_bins" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INT) AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_tokens,
        |    CAST((row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1) % 16 AS BIGINT) AS bin
        |  FROM d),
        |a AS (
        |  SELECT bin, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |    max(n_tokens) AS max_tokens
        |  FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM d)
        |SELECT bin, n_docs, sum_tokens, max_tokens,
        |  floor((CAST(sum_tokens AS DOUBLE) * 16 / total)*1000000 + 0.5)/1000000 AS balance
        |FROM a, t ORDER BY bin""".stripMargin,
    "q_densest" ->
      s"""WITH ${lshRankedCtes(queryPred = "TRUE")},
        |knn AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
        |e0 AS (
        |  SELECT DISTINCT least(query_id, neighbor_id) AS u, greatest(query_id, neighbor_id) AS v
        |  FROM knn WHERE query_id <> neighbor_id),
        |d0 AS (SELECT id, count(*) AS deg FROM
        |  (SELECT u AS id FROM e0 UNION ALL SELECT v FROM e0) GROUP BY 1),
        |t0 AS (SELECT count(*) AS n_nodes,
        |  CAST(coalesce(sum(deg), 0) / 2 AS BIGINT) AS n_edges FROM d0),
        |k0 AS (SELECT id FROM d0, t0 WHERE deg * n_nodes > 2 * n_edges),
        |e1 AS (SELECT u, v FROM e0
        |  WHERE u IN (SELECT id FROM k0) AND v IN (SELECT id FROM k0)),
        |d1 AS (SELECT id, count(*) AS deg FROM
        |  (SELECT u AS id FROM e1 UNION ALL SELECT v FROM e1) GROUP BY 1),
        |t1 AS (SELECT count(*) AS n_nodes,
        |  CAST(coalesce(sum(deg), 0) / 2 AS BIGINT) AS n_edges FROM d1),
        |k1 AS (SELECT id FROM d1, t1 WHERE deg * n_nodes > 2 * n_edges),
        |e2 AS (SELECT u, v FROM e1
        |  WHERE u IN (SELECT id FROM k1) AND v IN (SELECT id FROM k1)),
        |d2 AS (SELECT id, count(*) AS deg FROM
        |  (SELECT u AS id FROM e2 UNION ALL SELECT v FROM e2) GROUP BY 1),
        |t2 AS (SELECT count(*) AS n_nodes,
        |  CAST(coalesce(sum(deg), 0) / 2 AS BIGINT) AS n_edges FROM d2)
        |SELECT round, n_nodes, n_edges,
        |  floor((CAST(n_edges AS DOUBLE) / nullif(n_nodes, 0))*1000000 + 0.5)/1000000 AS density
        |FROM (
        |  SELECT CAST(0 AS INT) AS round, n_nodes, n_edges FROM t0
        |  UNION ALL SELECT 1, n_nodes, n_edges FROM t1
        |  UNION ALL SELECT 2, n_nodes, n_edges FROM t2)
        |ORDER BY round""".stripMargin,
    // same 1e-9 fixed-point log quantization BEFORE the sum as the
    // Spark side — the argmax compares exact integers on both engines
    "q_naive_bayes" ->
      ("WITH " + naiveBayesPredCte + """
        |SELECT label_true, label_pred, CAST(count(*) AS BIGINT) AS n_docs
        |FROM pred WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // chance-corrected agreement of the NB prediction vs the true lang,
    // integer-cleared form (D·N − Σr·c)/(N² − Σr·c)
    "q_kappa" ->
      ("WITH " + naiveBayesPredCte + """,
        |p1 AS (SELECT label_true AS a, label_pred AS b FROM pred WHERE rn = 1),
        |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM p1 GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(sum(n) AS BIGINT) AS r FROM cells GROUP BY 1),
        |cb AS (SELECT b AS a, CAST(sum(n) AS BIGINT) AS c FROM cells GROUP BY 1),
        |pe AS (SELECT CAST(coalesce(sum(r*c), 0) AS BIGINT) AS sab FROM ra JOIN cb USING (a)),
        |tot2 AS (SELECT CAST(sum(n) AS BIGINT) AS n_pairs,
        |        CAST(sum(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT) AS d FROM cells)
        |SELECT n_pairs, d,
        |  floor((CAST(d AS DOUBLE) / n_pairs)*1000000 + 0.5)/1000000 AS agreement,
        |  CASE WHEN n_pairs*n_pairs <> sab THEN
        |    floor((CAST(d*n_pairs - sab AS DOUBLE) / CAST(n_pairs*n_pairs - sab AS DOUBLE))
        |      *100000000 + 0.5)/100000000
        |  END AS kappa
        |FROM tot2, pe""".stripMargin),
    
    "q_ktruss" ->
      s"""WITH ${lshRankedCtes(queryPred = "TRUE")},
        |knn AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
        |e0 AS (
        |  SELECT DISTINCT least(query_id, neighbor_id) AS u, greatest(query_id, neighbor_id) AS v
        |  FROM knn WHERE query_id <> neighbor_id),
        |u0 AS (SELECT u AS s, v AS d FROM e0 UNION ALL SELECT v, u FROM e0),
        |s0 AS (SELECT e0.u, e0.v, count(*) AS sup
        |       FROM e0 JOIN u0 a ON a.s = e0.u JOIN u0 b ON b.s = e0.v AND b.d = a.d
        |       GROUP BY 1, 2),
        |e1 AS (SELECT u, v FROM s0 WHERE sup >= 2),
        |u1 AS (SELECT u AS s, v AS d FROM e1 UNION ALL SELECT v, u FROM e1),
        |s1 AS (SELECT e1.u, e1.v, count(*) AS sup
        |       FROM e1 JOIN u1 a ON a.s = e1.u JOIN u1 b ON b.s = e1.v AND b.d = a.d
        |       GROUP BY 1, 2),
        |e2 AS (SELECT u, v FROM s1 WHERE sup >= 2)
        |SELECT round, n_edges FROM (
        |  SELECT CAST(0 AS INT) AS round, CAST(count(*) AS BIGINT) AS n_edges FROM e0
        |  UNION ALL SELECT 1, CAST(count(*) AS BIGINT) FROM e1
        |  UNION ALL SELECT 2, CAST(count(*) AS BIGINT) FROM e2)
        |ORDER BY round""".stripMargin,
    // Newman r in the integer-cleared form: (T·2m − Σ ra·rb) /
    // ((2m)² − Σ ra·rb) — exact longs until the one closing division
    "q_homophily" ->
      s"""WITH ${lshRankedCtes(queryPred = "TRUE")},
        |knn AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
        |canon AS (
        |  SELECT DISTINCT least(query_id, neighbor_id) AS u, greatest(query_id, neighbor_id) AS v
        |  FROM knn WHERE query_id <> neighbor_id),
        |und AS (SELECT u AS s, v AS d FROM canon UNION ALL SELECT v, u FROM canon),
        |lab AS (SELECT vec_id AS id, label FROM embeddings),
        |mix AS (SELECT a.label AS lx, b.label AS ly, CAST(count(*) AS BIGINT) AS n
        |        FROM und JOIN lab a ON a.id = und.s JOIN lab b ON b.id = und.d
        |        GROUP BY 1, 2),
        |marg AS (SELECT ra.lx, ra.ra, rb.rb
        |  FROM (SELECT lx, CAST(sum(n) AS BIGINT) AS ra FROM mix GROUP BY 1) ra
        |  JOIN (SELECT ly AS lx, CAST(sum(n) AS BIGINT) AS rb FROM mix GROUP BY 1) rb
        |    USING (lx)),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS m2,
        |  CAST(sum(CASE WHEN lx = ly THEN n ELSE 0 END) AS BIGINT) AS t_same FROM mix),
        |sab AS (SELECT CAST(sum(ra*rb) AS BIGINT) AS sab FROM marg)
        |SELECT m2, t_same,
        |  floor((CAST(t_same AS DOUBLE) / m2)*1000000 + 0.5)/1000000 AS same_frac,
        |  CASE WHEN m2*m2 <> sab THEN
        |    floor((CAST(t_same*m2 - sab AS DOUBLE) / CAST(m2*m2 - sab AS DOUBLE))
        |      *100000000 + 0.5)/100000000
        |  END AS assortativity
        |FROM tot, sab""".stripMargin,
    "q_diameter" ->
      s"""WITH RECURSIVE ${lshRankedCtes(queryPred = "TRUE")},
        |knn AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
        |und AS (SELECT DISTINCT src, dst FROM (
        |  SELECT query_id AS src, neighbor_id AS dst FROM knn
        |  UNION ALL SELECT neighbor_id, query_id FROM knn) WHERE src <> dst),
        |n0 AS (SELECT min(src) AS id FROM und),
        |r1(id, d) AS (
        |  SELECT id, CAST(0 AS BIGINT) AS d FROM n0
        |  UNION
        |  SELECT und.dst, r1.d + 1 FROM r1 JOIN und ON und.src = r1.id WHERE r1.d < 8),
        |b1 AS (SELECT id, CAST(min(d) AS BIGINT) AS dist FROM r1 GROUP BY 1),
        |far AS (SELECT id AS peripheral_id, dist AS ecc_start FROM b1
        |        ORDER BY dist DESC, id LIMIT 1),
        |r2(id, d) AS (
        |  SELECT peripheral_id AS id, CAST(0 AS BIGINT) AS d FROM far
        |  UNION
        |  SELECT und.dst, r2.d + 1 FROM r2 JOIN und ON und.src = r2.id WHERE r2.d < 8),
        |b2 AS (SELECT CAST(max(min_d) AS BIGINT) AS diameter_lb FROM
        |  (SELECT id, min(d) AS min_d FROM r2 GROUP BY 1))
        |SELECT n0.id AS start_id, far.peripheral_id, far.ecc_start, b2.diameter_lb
        |FROM n0, far, b2""".stripMargin,
    "q_mutual_knn" ->
      s"""WITH ${lshRankedCtes(queryPred = "TRUE")},
        |knn AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3)
        |SELECT DISTINCT k1.query_id AS id_a, k1.neighbor_id AS id_b
        |FROM knn k1 JOIN knn k2
        |  ON k2.query_id = k1.neighbor_id AND k2.neighbor_id = k1.query_id
        |WHERE k1.query_id < k1.neighbor_id ORDER BY 1, 2""".stripMargin,
    // 2 unrolled hard-clamp majority rounds; winner = (cnt desc, label)
    "q_label_spread" ->
      s"""WITH ${lshRankedCtes(queryPred = "TRUE")},
        |knn AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
        |canon AS (
        |  SELECT DISTINCT least(query_id, neighbor_id) AS u, greatest(query_id, neighbor_id) AS v
        |  FROM knn WHERE query_id <> neighbor_id),
        |und AS (SELECT u AS src, v AS dst FROM canon UNION ALL SELECT v, u FROM canon),
        |s0 AS (SELECT vec_id AS id, label, CAST(0 AS INT) AS round
        |       FROM embeddings WHERE vec_id < 30),
        |v1 AS (SELECT und.dst AS nid, s0.label, CAST(count(*) AS BIGINT) AS cnt
        |       FROM und JOIN s0 ON und.src = s0.id
        |       WHERE und.dst NOT IN (SELECT id FROM s0) GROUP BY 1, 2),
        |w1 AS (SELECT nid AS id, label, CAST(1 AS INT) AS round FROM (
        |       SELECT nid, label, row_number() OVER (PARTITION BY nid ORDER BY cnt DESC, label) AS rn
        |       FROM v1) WHERE rn = 1),
        |s1 AS (SELECT * FROM s0 UNION ALL SELECT * FROM w1),
        |v2 AS (SELECT und.dst AS nid, s1.label, CAST(count(*) AS BIGINT) AS cnt
        |       FROM und JOIN s1 ON und.src = s1.id
        |       WHERE und.dst NOT IN (SELECT id FROM s1) GROUP BY 1, 2),
        |w2 AS (SELECT nid AS id, label, CAST(2 AS INT) AS round FROM (
        |       SELECT nid, label, row_number() OVER (PARTITION BY nid ORDER BY cnt DESC, label) AS rn
        |       FROM v2) WHERE rn = 1)
        |SELECT id, label, round FROM (SELECT * FROM s1 UNION ALL SELECT * FROM w2)
        |ORDER BY id""".stripMargin,
    "q_chi2" ->
      """WITH cells AS (SELECT lang AS a, source AS b, count(*) AS o FROM documents GROUP BY 1, 2),
        |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
        |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
        |tt AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |grid AS (
        |  SELECT rt.a, ct.b, rt.ra, ct.cb, coalesce(cells.o, 0) AS obs, tt.n
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN cells ON cells.a = rt.a AND cells.b = ct.b
        |  CROSS JOIN tt),
        |tm AS (
        |  SELECT n, a, b,
        |    CAST(floor((((CAST(obs AS DOUBLE) - CAST(ra * cb AS DOUBLE) / n)
        |      * (CAST(obs AS DOUBLE) - CAST(ra * cb AS DOUBLE) / n))
        |      / (CAST(ra * cb AS DOUBLE) / n)) * 1e9 + 0.5) AS BIGINT) AS fx
        |  FROM grid),
        |ag AS (
        |  SELECT n, count(DISTINCT a) AS r_levels, count(DISTINCT b) AS c_levels,
        |    CAST(sum(fx) AS BIGINT) AS s
        |  FROM tm GROUP BY 1)
        |SELECT n, r_levels, c_levels,
        |  (r_levels - 1) * (c_levels - 1) AS dof,
        |  floor((CAST(s AS DOUBLE) / 1e9)*1000000 + 0.5)/1000000 AS chi2
        |FROM ag""".stripMargin,
    "q_cramers_v" ->
      """WITH cells AS (SELECT lang AS a, source AS b, count(*) AS o FROM documents GROUP BY 1, 2),
        |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
        |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
        |tt AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |grid AS (
        |  SELECT rt.a, ct.b, rt.ra, ct.cb, coalesce(cells.o, 0) AS obs, tt.n
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN cells ON cells.a = rt.a AND cells.b = ct.b
        |  CROSS JOIN tt),
        |tm AS (
        |  SELECT n, a, b,
        |    CAST(floor((((CAST(obs AS DOUBLE) - CAST(ra * cb AS DOUBLE) / n)
        |      * (CAST(obs AS DOUBLE) - CAST(ra * cb AS DOUBLE) / n))
        |      / (CAST(ra * cb AS DOUBLE) / n)) * 1e9 + 0.5) AS BIGINT) AS fx
        |  FROM grid),
        |ag AS (
        |  SELECT n, count(DISTINCT a) AS r_levels, count(DISTINCT b) AS c_levels,
        |    CAST(sum(fx) AS BIGINT) AS s
        |  FROM tm GROUP BY 1)
        |SELECT n, (r_levels - 1) * (c_levels - 1) AS dof,
        |  floor((CAST(s AS DOUBLE) / 1e9)*1000000 + 0.5)/1000000 AS chi2,
        |  floor((sqrt((CAST(s AS DOUBLE) / 1e9) /
        |    (CAST(n AS DOUBLE) * least(r_levels - 1, c_levels - 1))))*1000000 + 0.5)/1000000 AS cramers_v
        |FROM ag""".stripMargin,
    "q_label_noise" ->
      (s"""WITH ${lshRankedCtes(queryPred = "TRUE")},
        |knn AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
        |lab AS (SELECT vec_id, label FROM embeddings),
        |j AS (
        |  SELECT k.query_id, ql.label, nl.label AS nlabel
        |  FROM knn k JOIN lab ql ON ql.vec_id = k.query_id
        |             JOIN lab nl ON nl.vec_id = k.neighbor_id)
        |SELECT query_id AS vec_id, label,
        |  CAST(count(*) AS BIGINT) AS n_neighbors,
        |  CAST(sum(CASE WHEN nlabel = label THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
        |  floor((CAST(sum(CASE WHEN nlabel = label THEN 1 ELSE 0 END) AS DOUBLE)/count(*))*1000000 + 0.5)/1000000 AS agree_frac,
        |  sum(CASE WHEN nlabel = label THEN 1 ELSE 0 END)*3 < count(*)*2 AS suspect
        |FROM j GROUP BY 1, 2 ORDER BY vec_id""".stripMargin),
    "q_embed_dims" ->
      """WITH x AS (
        |  SELECT pos - 1 AS pos, x, CAST(floor(x * 1e7 + 0.5) AS BIGINT) AS f
        |  FROM (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
        |               generate_subscripts(embedding, 1) AS pos
        |        FROM embeddings)),
        |a AS (
        |  SELECT pos, count(*) AS n,
        |    CAST(sum(f) AS BIGINT) AS s1, CAST(sum(f*f) AS BIGINT) AS s2,
        |    min(x) AS vmin, max(x) AS vmax
        |  FROM x GROUP BY 1),
        |d AS (
        |  SELECT pos, n, vmin, vmax,
        |    (CAST(s1 AS DOUBLE) / 1e7) / n AS mean,
        |    ((CAST(s2 AS DOUBLE) / 1e14) / n) - ((CAST(s1 AS DOUBLE) / 1e7) / n) * ((CAST(s1 AS DOUBLE) / 1e7) / n) AS varp
        |  FROM a)
        |SELECT CAST(pos AS INT) AS pos, n,
        |  floor((mean)*1000000 + 0.5)/1000000 AS mean,
        |  floor((sqrt(varp))*1000000 + 0.5)/1000000 AS std,
        |  floor((vmin)*1000000 + 0.5)/1000000 AS vmin,
        |  floor((vmax)*1000000 + 0.5)/1000000 AS vmax,
        |  varp < 0.000001 AS is_dead
        |FROM d ORDER BY pos""".stripMargin,
    "q_target_encode" ->
      """WITH f AS (
        |  SELECT doc_id, source, CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
        |  FROM documents),
        |pc AS (SELECT source, CAST(sum(y) AS BIGINT) AS s, count(*) AS n FROM f GROUP BY 1),
        |g AS (SELECT CAST(sum(y) AS DOUBLE) / count(*) AS prior, count(*) AS total FROM f),
        |e AS (
        |  SELECT f.doc_id, f.source, f.y,
        |    CASE WHEN pc.n > 1 THEN CAST(pc.s - f.y AS DOUBLE) / (pc.n - 1) END AS te_loo,
        |    (CAST(pc.s - f.y AS DOUBLE) + 10.0 * g.prior) / (CAST(pc.n - 1 AS DOUBLE) + 10.0) AS te_smooth,
        |    CAST(pc.n AS DOUBLE) / g.total AS freq
        |  FROM f JOIN pc USING (source) CROSS JOIN g)
        |SELECT doc_id, source, y,
        |  floor((te_loo)*1000000 + 0.5)/1000000 AS te_loo,
        |  floor((te_smooth)*1000000 + 0.5)/1000000 AS te_smooth,
        |  floor((freq)*1000000 + 0.5)/1000000 AS freq
        |FROM e ORDER BY doc_id""".stripMargin,
    // rrfFuse mirrored: the same BM25 CTE family as q_bm25, per-term
    // pivot + FIXED-ORDER coalesce additions (query, join, filter), the
    // two row_number rankings, the full-outer fuse with 1/(60+rank)
    // contributions — integer-division doubles, so bit-stable
    "q_rrf" ->
      """WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |              CAST(sum(len(w)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM tk),
        |dfx AS (
        |  SELECT term, count(*) AS df
        |  FROM (SELECT doc_id, unnest(list_distinct(w)) AS term FROM tk) GROUP BY 1),
        |fx AS (
        |  SELECT doc_id, dl, term, count(*) AS f
        |  FROM (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM tk)
        |  GROUP BY doc_id, dl, term),
        |sc AS (
        |  SELECT x.doc_id, x.term,
        |    ((SELECT n_docs FROM st) / d.df) *
        |    ((CAST(x.f AS DOUBLE) * 2.2) /
        |     (CAST(x.f AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(x.dl AS DOUBLE) / (SELECT avgdl FROM st))))) AS score
        |  FROM fx x JOIN dfx d USING (term)
        |  WHERE x.term IN ('query', 'join', 'filter')),
        |bmp AS (
        |  SELECT doc_id,
        |    (coalesce(max(CASE WHEN term = 'query' THEN score END), 0.0)
        |     + coalesce(max(CASE WHEN term = 'join' THEN score END), 0.0))
        |     + coalesce(max(CASE WHEN term = 'filter' THEN score END), 0.0) AS score_a
        |  FROM sc GROUP BY 1),
        |ra AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score_a DESC, doc_id) AS INTEGER) AS rank_bm25 FROM bmp),
        |cp AS (
        |  SELECT doc_id,
        |    (coalesce(max(CASE WHEN term = 'query' THEN f END), 0)
        |     + coalesce(max(CASE WHEN term = 'join' THEN f END), 0))
        |     + coalesce(max(CASE WHEN term = 'filter' THEN f END), 0) AS dotc
        |  FROM fx WHERE term IN ('query', 'join', 'filter') GROUP BY 1),
        |rb AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY dotc DESC, doc_id) AS INTEGER) AS rank_count FROM cp),
        |fu AS (
        |  SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id, ra.rank_bm25, rb.rank_count,
        |    coalesce(1/(60 + ra.rank_bm25), 0.0) + coalesce(1/(60 + rb.rank_count), 0.0) AS rrf_raw
        |  FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id),
        |rf AS (SELECT *, CAST(row_number() OVER (ORDER BY rrf_raw DESC, doc_id) AS INTEGER) AS rank_fused
        |       FROM fu)
        |SELECT rank_fused, doc_id, rank_bm25, rank_count,
        |  floor((rrf_raw)*1000000 + 0.5)/1000000 AS rrf
        |FROM rf WHERE rank_fused <= 20 ORDER BY rank_fused""".stripMargin,
    "q_containment" ->
      ("WITH " + shingleCte + """,
        |ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
        |sz AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
        |df AS (SELECT g, count(*) AS df FROM ex GROUP BY 1),
        |rare AS (SELECT doc_id, g FROM ex JOIN df USING (g) WHERE df <= 10),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id),
        |inter AS (
        |  SELECT c.id_a, c.id_b, count(*) AS n_inter
        |  FROM cand c JOIN ex ea ON ea.doc_id = c.id_a
        |              JOIN ex eb ON eb.doc_id = c.id_b AND eb.g = ea.g
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT i.id_a, i.id_b, i.n_inter, sa.n AS n_a, sb.n AS n_b,
        |    CAST(i.n_inter AS DOUBLE) / sa.n AS cont_a,
        |    CAST(i.n_inter AS DOUBLE) / sb.n AS cont_b
        |  FROM inter i JOIN sz sa ON sa.doc_id = i.id_a JOIN sz sb ON sb.doc_id = i.id_b),
        |flt AS (SELECT * FROM sc WHERE greatest(cont_a, cont_b) >= 0.8)
        |SELECT id_a, id_b, n_inter, n_a, n_b,
        |  floor((cont_a)*10000 + 0.5)/10000 AS cont_a,
        |  floor((cont_b)*10000 + 0.5)/10000 AS cont_b
        |FROM flt ORDER BY id_a, id_b""".stripMargin),
    "q_shingle_cosine" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |shm AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |          THEN [w[i]||' '||w[i+1]||' '||w[i+2] FOR i IN generate_series(1, len(w)-2)]
        |          ELSE [] END) AS g FROM toks),
        |c AS (SELECT doc_id, g, count(*) AS c FROM shm GROUP BY 1, 2),
        |v AS (SELECT g FROM c GROUP BY g HAVING count(*) <= 10),
        |k AS (SELECT c.* FROM c JOIN v USING (g)),
        |n AS (SELECT doc_id, CAST(sum(c*c) AS BIGINT) AS n2 FROM k GROUP BY 1),
        |d AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(sum(a.c*b.c) AS BIGINT) AS dot
        |      FROM k a JOIN k b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |s AS (SELECT d.id_a, d.id_b, d.dot, d.dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
        |      FROM d JOIN n na ON na.doc_id = d.id_a JOIN n nb ON nb.doc_id = d.id_b)
        |SELECT id_a, id_b, dot, floor((cosine)*10000 + 0.5)/10000 AS cosine
        |FROM s WHERE cosine >= 0.3 ORDER BY id_a, id_b""".stripMargin,
    // LogReg.fit unrolled: iteration 1 has w=0 so p is exactly 0.5
    // (algebraic sigmoid of 0 — exact in IEEE, no libm); iteration 2
    // replays the margin fold with the same explicit association as
    // LogReg.margin. Gradient sums are fixed-point BIGINTs — exact
    // under any row order — and every feature is a ratio of integer
    // counts, so the whole fit hash-gates bit-for-bit.
    "q_logreg" ->
      ("WITH " + logregW2Cte + """,
        |sc AS (
        |  SELECT f.y,
        |    ((w.w_bias + w.w_ntok * f.x_ntok) + w.w_stop * f.x_stop) + w.w_punct * f.x_punct AS m
        |  FROM f CROSS JOIN w2 w),
        |mt AS (
        |  SELECT count(*) AS n_docs,
        |    CAST(count(*) FILTER (WHERE CAST(CASE WHEN m >= 0 THEN 1.0 ELSE 0.0 END AS DOUBLE) = y) AS BIGINT)
        |      AS n_correct
        |  FROM sc)
        |SELECT n_docs, n_correct,
        |  floor((CAST(n_correct AS DOUBLE) / n_docs)*1000000 + 0.5)/1000000 AS accuracy,
        |  floor((w_bias)*10000000000 + 0.5)/10000000000 AS w_bias,
        |  floor((w_ntok)*10000000000 + 0.5)/10000000000 AS w_ntok,
        |  floor((w_stop)*10000000000 + 0.5)/10000000000 AS w_stop,
        |  floor((w_punct)*10000000000 + 0.5)/10000000000 AS w_punct
        |FROM mt CROSS JOIN w2""".stripMargin),
    "q_semantic_dedup" ->
      ("WITH " + ivfAssignCte + """,
        |p AS (
        |  SELECT b.vec_id AS id, b.bucket, a.vec_id AS dup_of,
        |    list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
        |  FROM assign a JOIN assign b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |f AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY cosine DESC, dup_of) AS rn
        |      FROM p WHERE cosine >= 0.3)
        |SELECT id AS vec_id, bucket, dup_of, floor((cosine)*10000 + 0.5)/10000 AS cosine
        |FROM f WHERE rn = 1 ORDER BY vec_id""".stripMargin),
    "q_multimodal_assets" ->
      """SELECT doc_id AS asset_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes, md5(text) AS content_md5,
        |  source AS origin, n_chars AS declared_chars,
        |  '{"origin":"' || source || '","declared_chars":' || n_chars || '}' AS meta_json
        |FROM documents ORDER BY asset_id""".stripMargin,
    "q_repetition" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |m AS (SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS n_distinct, w
        |      FROM t WHERE len(w) >= 2),
        |bg AS (SELECT doc_id, n_words, n_distinct,
        |         unnest([w[i]||' '||w[i+1] FOR i IN generate_series(1, len(w)-1)]) AS g
        |       FROM m),
        |c AS (SELECT doc_id, n_words, n_distinct, g, count(*) AS n FROM bg GROUP BY 1, 2, 3, 4),
        |a AS (SELECT doc_id, n_words, n_distinct,
        |        CAST(sum(n) AS BIGINT) AS total_bg, CAST(max(n) AS BIGINT) AS top_bg
        |      FROM c GROUP BY 1, 2, 3)
        |SELECT doc_id,
        |  floor((1.0 - 1.0*n_distinct/n_words)*10000 + 0.5)/10000 AS word_dup_frac,
        |  floor((1.0*top_bg/total_bg)*10000 + 0.5)/10000 AS top_bigram_frac
        |FROM a ORDER BY doc_id""".stripMargin,
    // mirrors Dedup.repeatedSpans: n=6 windows keyed by the joined
    // token text (Spark keys the md5 of the same string — identical
    // grouping), df >= 2 distinct docs, running-max interval merge
    "q_repeated_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |wins AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(w[i:i+5], ' ') AS wh
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 5)) AS i)
        |  WHERE len(w) >= 6),
        |rep AS (
        |  SELECT doc_id, pos FROM wins
        |  WHERE wh IN (SELECT wh FROM wins GROUP BY wh HAVING count(DISTINCT doc_id) >= 2)),
        |isl AS (
        |  SELECT doc_id, pos, pos + 5 AS e,
        |    CASE WHEN pos > coalesce(max(pos + 5) OVER (
        |        PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
        |      THEN 1 ELSE 0 END AS brk
        |  FROM rep),
        |g AS (SELECT doc_id, pos, e,
        |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM isl)
        |SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
        |  CAST(max(e) AS INTEGER) AS span_end,
        |  CAST(max(e) - min(pos) + 1 AS INTEGER) AS span_tokens,
        |  count(*) AS n_windows
        |FROM g GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin,
    // the oracle PREDICTS the planted-fixture construction arithmetic
    // (byte offsets + md5 of the shared block) — the Spark side must
    // RECOVER it by raw-byte window hashing + island merge, so any
    // off-by-one in the offset scan, window slicing, or boundary merge
    // breaks the hash. Every id%50 group has >= 10 members at every SF,
    // so all 4 in-block windows repeat and the merged maximal span is
    // exactly the 9-token block at its placement-dependent byte range.
    "q_repeated_spans_exact" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    'shared block g' || (doc_id % 50) || ' alpha beta gamma delta epsilon zeta' AS sh,
        |    'u' || doc_id || ' v' || doc_id || ' w' || doc_id AS pre
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, sh,
        |    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE length(pre) + 2 END AS s
        |  FROM f)
        |SELECT doc_id, CAST(s AS INTEGER) AS span_start,
        |  CAST(s + length(sh) - 1 AS INTEGER) AS span_end,
        |  CAST(9 AS INTEGER) AS span_tokens,
        |  CAST(4 AS BIGINT) AS n_windows,
        |  md5(sh) AS span_md5
        |FROM g ORDER BY doc_id, span_start""".stripMargin,
    // patterns interpolated from the SAME Curation constants the Spark
    // side compiles (common Java-regex/RE2 subset); DuckDB needs the
    // 'g' flag for replace-all, Spark's regexp_replace is all-match.
    // Counts run on the preceding pass's output (= redactions actually
    // performed), mirroring piiScrub exactly.
    "q_pii_scrub" ->
      s"""WITH s1 AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text, '${Curation.EmailPattern}', '<EMAIL>', 'g') AS t1
        |  FROM documents),
        |s2 AS (
        |  SELECT doc_id, text, t1,
        |    regexp_replace(t1, '${Curation.Ipv4Pattern}', '<IP>', 'g') AS t2
        |  FROM s1)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '${Curation.EmailPattern}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(t1, '${Curation.Ipv4Pattern}')) AS INT) AS n_ipv4,
        |  CAST(len(regexp_extract_all(t2, '${Curation.PhonePattern}')) AS INT) AS n_phones,
        |  md5(regexp_replace(t2, '${Curation.PhonePattern}', '<PHONE>', 'g')) AS fingerprint
        |FROM s2 ORDER BY doc_id""".stripMargin,
    "q_source_cap" ->
      """SELECT source, doc_id, n_chars FROM documents
        |QUALIFY row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) <= 5
        |ORDER BY source, doc_id""".stripMargin,
    "q_hash_split" ->
      """WITH b AS (
        |  SELECT *, CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 100 AS bucket
        |  FROM documents),
        |s AS (
        |  SELECT lang, doc_id,
        |    CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM b)
        |SELECT split, lang, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_stratified" ->
      """WITH r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang, doc_id FROM r WHERE rn <= ceil(n * 0.1)
        |ORDER BY lang, doc_id""".stripMargin,
    "q_seq_pack" ->
      """WITH b AS (
        |  SELECT doc_id, n_chars,
        |    CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 8 AS bucket
        |  FROM documents),
        |c AS (
        |  SELECT bucket, n_chars,
        |    coalesce(sum(n_chars) OVER (PARTITION BY bucket
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM b),
        |binned AS (
        |  SELECT bucket || '-' || CAST(floor(cum_before / 2000) AS BIGINT) AS bin_id, n_chars FROM c),
        |bins AS (
        |  SELECT bin_id, count(*) AS n_docs, sum(n_chars) AS tokens FROM binned GROUP BY 1)
        |SELECT count(*) AS n_bins,
        |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  CAST(sum(tokens) AS BIGINT) AS total_tokens,
        |  floor((avg(tokens / 2000.0))*1000000 + 0.5)/1000000 AS avg_fill,
        |  count(*) FILTER (WHERE tokens > 2000) AS overflow_bins
        |FROM bins""".stripMargin,
    "q_token_mix" ->
      """WITH r AS (
        |  SELECT lang, doc_id, n_chars,
        |    coalesce(sum(n_chars) OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
        |    CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.2 WHEN 'de' THEN 0.1
        |              WHEN 'es' THEN 0.1 WHEN 'fr' THEN 0.1 END AS share
        |  FROM documents WHERE lang IN ('en','zh','de','es','fr'))
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS tokens
        |FROM r WHERE cum_before < share * 50000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_weighted_sample" ->
      """WITH s AS (
        |  SELECT doc_id, n_chars,
        |    pow((CAST(('0x'||substr(md5('aes:'||CAST(doc_id AS VARCHAR)),1,13)) AS BIGINT) + 0.5)
        |          / 4503599627370496.0,
        |        1.0 / CAST(n_chars AS DOUBLE)) AS sample_key
        |  FROM documents),
        |topk AS (SELECT * FROM s ORDER BY sample_key DESC, doc_id LIMIT 50)
        |SELECT doc_id, n_chars,
        |  floor((sample_key)*1000000 + 0.5)/1000000 AS sample_key
        |FROM topk ORDER BY doc_id""".stripMargin,
    "q_neg_sample" ->
      """WITH pool AS (
        |  SELECT doc_id AS cand_id FROM documents
        |  ORDER BY md5('pool:'||CAST(doc_id AS VARCHAR)), doc_id LIMIT 40),
        |anch AS (SELECT doc_id AS anchor_id FROM documents WHERE doc_id < 10),
        |pos AS (SELECT anchor_id, anchor_id + 1 AS cand_id FROM anch
        |        UNION ALL SELECT anchor_id, anchor_id FROM anch),
        |c AS (
        |  SELECT a.anchor_id, p.cand_id,
        |    md5('neg:'||CAST(a.anchor_id AS VARCHAR)||':'||CAST(p.cand_id AS VARCHAR)) AS r
        |  FROM anch a CROSS JOIN pool p
        |  WHERE NOT EXISTS (SELECT 1 FROM pos
        |                    WHERE pos.anchor_id = a.anchor_id AND pos.cand_id = p.cand_id)),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY anchor_id ORDER BY r, cand_id) AS rank
        |       FROM c)
        |SELECT anchor_id, CAST(rank AS INTEGER) AS rank, cand_id AS negative_id
        |FROM rk WHERE rank <= 3 ORDER BY anchor_id, rank""".stripMargin,
    "q_pmi_bigrams" ->
      """WITH tk AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |un AS (SELECT term, count(*) AS n_term
        |       FROM (SELECT unnest(w) AS term FROM tk) GROUP BY 1),
        |bg AS (SELECT unnest([w[i]||' '||w[i+1] FOR i IN generate_series(1, len(w)-1)]) AS g
        |       FROM tk WHERE len(w) >= 2),
        |bn AS (SELECT split_part(g, ' ', 1) AS x, split_part(g, ' ', 2) AS y, count(*) AS n_xy
        |       FROM bg GROUP BY 1, 2),
        |tot AS (SELECT (SELECT sum(n_term) FROM un) AS t1, (SELECT sum(n_xy) FROM bn) AS t2),
        |sc AS (
        |  SELECT b.x, b.y, b.n_xy, ux.n_term AS n_x, uy.n_term AS n_y,
        |    CAST(b.n_xy AS DOUBLE) * CAST(t.t1 AS DOUBLE) * CAST(t.t1 AS DOUBLE) /
        |      (CAST(t.t2 AS DOUBLE) * CAST(ux.n_term AS DOUBLE) * CAST(uy.n_term AS DOUBLE)) AS ratio
        |  FROM bn b JOIN un ux ON ux.term = b.x JOIN un uy ON uy.term = b.y CROSS JOIN tot t
        |  WHERE b.n_xy >= 5)
        |SELECT x, y, n_xy, n_x, n_y,
        |  floor((ratio)*1000000 + 0.5)/1000000 AS pmi_ratio
        |FROM sc ORDER BY pmi_ratio DESC, x, y LIMIT 30""".stripMargin,
    "q_lm_xent" ->
      """WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
        |            FROM documents),
        |toks AS (SELECT doc_id, unnest(w) AS term FROM tk WHERE len(w) >= 1),
        |un AS (SELECT term, count(*) AS n_term FROM toks GROUP BY 1),
        |tot AS (SELECT (SELECT sum(n_term) FROM un) AS t1, (SELECT count(*) FROM un) AS v),
        |sc AS (SELECT t.doc_id,
        |         ln(CAST(u.n_term + 1 AS DOUBLE) / CAST(tt.t1 + tt.v AS DOUBLE)) AS lp
        |       FROM toks t JOIN un u USING (term) CROSS JOIN tot tt)
        |SELECT doc_id, count(*) AS n_tokens,
        |  floor((-(sum(lp)) / count(*))*10000 + 0.5)/10000 AS lm_xent
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_lm_bigram" ->
      """WITH tr AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS w
        |            FROM documents WHERE doc_id >= 25),
        |un AS (SELECT term, count(*) AS n_w
        |       FROM (SELECT unnest(w) AS term FROM tr) GROUP BY 1),
        |trb AS (SELECT unnest([w[i]||' '||w[i+1] FOR i IN generate_series(1, len(w)-1)]) AS g
        |        FROM tr WHERE len(w) >= 2),
        |bi AS (SELECT split_part(g, ' ', 1) AS prev, split_part(g, ' ', 2) AS wt, count(*) AS n_xy
        |       FROM trb GROUP BY 1, 2),
        |tot AS (SELECT (SELECT CAST(sum(n_w) AS BIGINT) FROM un) AS t1,
        |               (SELECT count(*) FROM un) AS v),
        |sc0 AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
        |        FROM documents WHERE doc_id < 25),
        |scp AS (SELECT doc_id, unnest([w[i]||' '||w[i+1] FOR i IN generate_series(1, len(w)-1)]) AS g
        |        FROM sc0 WHERE len(w) >= 2),
        |scx AS (SELECT doc_id, split_part(g, ' ', 1) AS prev, split_part(g, ' ', 2) AS wt FROM scp),
        |lp AS (SELECT s.doc_id,
        |         CASE WHEN b.n_xy IS NOT NULL
        |           THEN ln(CAST(b.n_xy AS DOUBLE) / CAST(up.n_w AS DOUBLE))
        |           ELSE ln(CAST(0.4 AS DOUBLE) * CAST(coalesce(uw.n_w, 0) + 1 AS DOUBLE)
        |                   / CAST(t.t1 + t.v AS DOUBLE)) END AS lp
        |       FROM scx s
        |       LEFT JOIN bi b ON b.prev = s.prev AND b.wt = s.wt
        |       LEFT JOIN un up ON up.term = s.prev
        |       LEFT JOIN un uw ON uw.term = s.wt
        |       CROSS JOIN tot t)
        |SELECT doc_id, count(*) + 1 AS n_tokens,
        |  floor((-(sum(lp)) / count(*))*10000 + 0.5)/10000 AS lm2_xent
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_cms_words" ->
      """WITH tk AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |            FROM documents),
        |js AS (SELECT unnest(generate_series(0, 3)) AS j),
        |sk AS (SELECT j, CAST('0x'||substr(md5(CAST(j AS VARCHAR)||':'||term),1,15) AS BIGINT) % 512 AS bucket,
        |         count(*) AS n
        |       FROM tk CROSS JOIN js GROUP BY 1, 2),
        |ex AS (SELECT term, count(*) AS exact_n FROM tk GROUP BY 1),
        |top AS (SELECT term, exact_n FROM ex ORDER BY exact_n DESC, term LIMIT 20),
        |pr AS (SELECT t.term, t.exact_n, j,
        |         CAST('0x'||substr(md5(CAST(j AS VARCHAR)||':'||t.term),1,15) AS BIGINT) % 512 AS bucket
        |       FROM top t CROSS JOIN js)
        |SELECT p.term, p.exact_n, min(s.n) AS cms_est, min(s.n) - p.exact_n AS overcount
        |FROM pr p JOIN sk s ON s.j = p.j AND s.bucket = p.bucket
        |GROUP BY p.term, p.exact_n ORDER BY exact_n DESC, term""".stripMargin,
    "q_source_overlap" ->
      """WITH tk AS (SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT source, unnest(CASE WHEN len(w) >= 3
        |    THEN list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] FOR i IN generate_series(1, len(w)-2)])
        |    ELSE [] END) AS g
        |  FROM tk),
        |sz AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY 1),
        |cm AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
        |       FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
        |       GROUP BY 1, 2)
        |SELECT c.source_a, c.source_b, c.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
        |  floor((CAST(c.n_common AS DOUBLE) / CAST(sa.n_sh AS DOUBLE))*1000000 + 0.5)/1000000 AS contain_a,
        |  floor((CAST(c.n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - c.n_common AS DOUBLE))*1000000 + 0.5)/1000000 AS jaccard
        |FROM cm c
        |JOIN sz sa ON sa.source = c.source_a
        |JOIN sz sb ON sb.source = c.source_b
        |ORDER BY source_a, source_b""".stripMargin,
    "q_embed_pool" ->
      """SELECT label, CAST(i - 1 AS INTEGER) AS pos, count(*) AS n_vecs,
        |  floor((avg(CAST(embedding[i] AS DOUBLE)))*1000000 + 0.5)/1000000 AS pooled
        |FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS i)
        |GROUP BY 1, 2 ORDER BY label, pos""".stripMargin,
    "q_curation" ->
      """WITH dd AS (
        |  SELECT * FROM (SELECT doc_id, text, source,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM documents)
        |  WHERE rn = 1),
        |xt AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |toks AS (SELECT doc_id, unnest(w) AS term FROM xt WHERE len(w) >= 1),
        |un AS (SELECT term, count(*) AS n_term FROM toks GROUP BY 1),
        |tot AS (SELECT (SELECT sum(n_term) FROM un) AS t1, (SELECT count(*) FROM un) AS v),
        |lm AS (SELECT doc_id,
        |         floor((-(sum(lp)) / count(*))*10000 + 0.5)/10000 AS lm_xent
        |       FROM (SELECT t.doc_id,
        |               ln(CAST(u.n_term + 1 AS DOUBLE) / CAST(tt.t1 + tt.v AS DOUBLE)) AS lp
        |             FROM toks t JOIN un u USING (term) CROSS JOIN tot tt)
        |       GROUP BY doc_id),
        |m AS (
        |  SELECT d.doc_id, d.source, regexp_extract_all(lower(d.text), '[a-z0-9]+') AS w, d.text
        |  FROM dd d),
        |sc AS (
        |  SELECT doc_id, source, CAST(len(w) AS INTEGER) AS n_tokens,
        |    floor((0.5 * least(len(w) / 100.0, 1.0)
        |         + 0.3 * (1.0 - 1.0 * len(list_filter(w, t -> t IN ('the', 'a'))) / greatest(len(w), 1))
        |         + 0.2 * (1.0 - 1.0 * (length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) / greatest(length(text), 1)))*10000 + 0.5)/10000 AS score
        |  FROM m),
        |kept AS (
        |  SELECT s.doc_id, s.source, s.n_tokens, s.score, l.lm_xent
        |  FROM sc s JOIN lm l USING (doc_id)
        |  WHERE s.score >= 0.7 AND l.lm_xent <= 3.41),
        |capped AS (
        |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rn
        |  FROM kept)
        |SELECT doc_id, source, n_tokens, score, lm_xent
        |FROM capped WHERE rn <= 20 ORDER BY doc_id""".stripMargin,
    "q_rouge2" ->
      """WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w) >= 2
        |        THEN list_distinct([w[i]||' '||w[i+1] FOR i IN generate_series(1, len(w)-1)])
        |        ELSE [] END AS gs
        |      FROM tk),
        |r AS (SELECT doc_id AS ref_id, unnest(gs) AS gr FROM g WHERE doc_id < 5),
        |cd AS (SELECT doc_id AS cand_id, unnest(gs) AS gr FROM g WHERE doc_id >= 5 AND doc_id < 30),
        |rs AS (SELECT ref_id, count(*) AS n_ref FROM r GROUP BY 1),
        |cs AS (SELECT cand_id, count(*) AS n_cand FROM cd GROUP BY 1),
        |cm AS (SELECT ref_id, cand_id, count(*) AS n_common
        |       FROM r JOIN cd USING (gr) GROUP BY 1, 2)
        |SELECT m.ref_id, m.cand_id, m.n_common,
        |  floor((CAST(m.n_common AS DOUBLE) / CAST(rs.n_ref AS DOUBLE))*1000000 + 0.5)/1000000 AS rouge2_recall,
        |  floor((CAST(m.n_common AS DOUBLE) / CAST(cs.n_cand AS DOUBLE))*1000000 + 0.5)/1000000 AS rouge2_precision,
        |  floor((2 * CAST(m.n_common AS DOUBLE) / CAST(rs.n_ref + cs.n_cand AS DOUBLE))*1000000 + 0.5)/1000000 AS rouge2_f1
        |FROM cm m JOIN rs USING (ref_id) JOIN cs USING (cand_id)
        |ORDER BY ref_id, cand_id""".stripMargin,
    "q_lang_id" -> langIdOracle,
    "q_multimodal_features" -> multimodalFeaturesOracle,
    // the oracle predicts the CONSTRUCTION arithmetic the fixture bytes
    // were built from — the Spark side must recover it by PARSING the
    // container headers, so the two legs are independent
    "q_multimodal_decode" ->
      """SELECT doc_id AS asset_id,
        |  CASE WHEN doc_id % 5 = 0 THEN 'png'
        |       WHEN doc_id % 5 = 1 THEN 'jpeg'
        |       WHEN doc_id % 5 = 2 THEN 'gif'
        |       WHEN doc_id % 5 = 3 THEN 'bmp'
        |       WHEN doc_id % 10 = 4 THEN 'png' END AS format,
        |  CASE WHEN doc_id % 5 IN (0,1,2,3) THEN CAST(doc_id % 500 + 16 AS INTEGER) END AS width,
        |  CASE WHEN doc_id % 5 IN (0,1,2,3) THEN CAST(doc_id % 300 + 16 AS INTEGER) END AS height,
        |  doc_id % 5 IN (0,1,2,3) AS valid
        |FROM documents ORDER BY asset_id""".stripMargin,
    // same independence argument as q_multimodal_decode: the oracle
    // predicts the WAV/MP4 construction arithmetic (secs*1000;
    // 3x*1000/600 = 5x; the v1 64-bit duration verbatim), the Spark
    // side must recover it by genuinely walking RIFF chunks and
    // ISO-BMFF boxes
    "q_multimodal_media" ->
      """SELECT doc_id AS asset_id,
        |  CASE WHEN doc_id % 5 = 0 THEN 'wav'
        |       WHEN doc_id % 5 IN (1,2) THEN 'mp4'
        |       WHEN doc_id % 5 = 3 THEN 'ogg'
        |       WHEN doc_id % 10 = 4 THEN 'wav' END AS format,
        |  CASE WHEN doc_id % 5 = 0 THEN CAST((doc_id % 30 + 1) * 1000 AS BIGINT)
        |       WHEN doc_id % 5 = 1 THEN CAST(5 * (doc_id % 10000 + 200) AS BIGINT)
        |       WHEN doc_id % 5 = 2 THEN CAST(doc_id % 90000 + 1000 AS BIGINT) END AS duration_ms,
        |  CASE WHEN doc_id % 5 = 0 THEN CAST(doc_id % 32000 + 8000 AS INTEGER) END AS sample_rate,
        |  CASE WHEN doc_id % 5 = 0 THEN CAST(doc_id % 2 + 1 AS INTEGER) END AS channels,
        |  doc_id % 5 IN (0,1,2) AS valid
        |FROM documents ORDER BY asset_id""".stripMargin,
    // the oracle writes the canonical form straight from the
    // construction — it knows which parts the canonicalizer must keep
    "q_url_canon" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id%5=0 THEN 'http://www.site' || (doc_id%50) || '.example.com/Path/'
        |                            || doc_id || '?id=' || doc_id
        |       WHEN doc_id%5=1 THEN 'https://sub.domain' || (doc_id%50) || '.org/a/b?x=1&y=2'
        |       WHEN doc_id%5=2 THEN 'http://host' || doc_id || '.net:8080/p'
        |       WHEN doc_id%5=3 THEN 'https://ex' || (doc_id%50) || '.com/only' END AS url_canon,
        |  CASE WHEN doc_id%5=0 THEN 'site' || (doc_id%50) || '.example.com'
        |       WHEN doc_id%5=1 THEN 'sub.domain' || (doc_id%50) || '.org'
        |       WHEN doc_id%5=2 THEN 'host' || doc_id || '.net'
        |       WHEN doc_id%5=3 THEN 'ex' || (doc_id%50) || '.com' END AS host,
        |  doc_id%5 IN (0,1,2,3) AS valid
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the oracle writes the expected extraction straight from the
    // fixture construction (documents.text verified free of <,>,&,
    // multi-space) — the Spark side must actually strip markup,
    // skip script/style/comment content, and decode entities
    "q_html_strip" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id%10=9 THEN ''
        |         WHEN doc_id%10=4 THEN 'R&D ' || text
        |         ELSE 't Doc ' || doc_id || ' "intro" & more ' || text END AS clean_text
        |  FROM documents)
        |SELECT doc_id, clean_text, CAST(length(clean_text) AS INTEGER) AS n_chars
        |FROM c ORDER BY doc_id""".stripMargin,
    // the oracle RECOMPUTES every Gopher metric and rule flag from the
    // same fixture construction (CRLF-aware line split, \s+ word
    // split, lowercased-alnum stopword tokens, null text -> all-false)
    "q_gopher_rules" ->
      """WITH fx AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 10 = 7 THEN NULL
        |      WHEN doc_id % 5 = 0 THEN text || e'\r\n- bullet point\r\n* second bullet\r\ntrailing thought...\r\n# heading\r\nthat said we have to be done with the rest of it'
        |      WHEN doc_id % 5 = 1 THEN text || e'\tlots\tof\ttabs here… and that is the point of it all to be sure'
        |      WHEN doc_id % 5 = 2 THEN e'• item one\n• item two\n• item three\n' || substr(text, 1, 60)
        |      WHEN doc_id % 5 = 3 THEN e'nav bar\nnav bar\nnav bar\n' || text
        |      ELSE text END AS t
        |  FROM documents),
        |ar AS (SELECT doc_id, t,
        |    list_filter(string_split_regex(t, '\r?\n'), l -> length(l) > 0) AS ls,
        |    list_filter(string_split_regex(t, '\s+'), w -> length(w) > 0) AS ws,
        |    regexp_extract_all(lower(t), '[a-z0-9]+') AS toks FROM fx),
        |m AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(greatest(coalesce(len(ls), 0), 1) AS BIGINT) AS n_lines,
        |    CASE WHEN ws IS NULL THEN NULL ELSE coalesce(list_sum(list_transform(ws, w -> length(w))), 0) END AS total_chars,
        |    CAST(length(t) - length(regexp_replace(t, '#', '', 'g')) AS BIGINT) AS n_hash,
        |    CAST(floor((length(t) - length(regexp_replace(t, '\.\.\.', '', 'g'))) / 3) AS BIGINT) AS n_e3,
        |    CAST(length(t) - length(regexp_replace(t, '…', '', 'g')) AS BIGINT) AS n_e1,
        |    len(list_filter(ls, l -> regexp_matches(l, '^[-*•] '))) AS n_bullet,
        |    len(list_filter(ls, l -> regexp_matches(l, '(\.\.\.|…)$'))) AS n_ell,
        |    len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]'))) AS n_alpha,
        |    len(list_distinct(ls)) AS n_dist,
        |    (CAST(list_contains(toks,'the') AS BIGINT) + CAST(list_contains(toks,'be') AS BIGINT)
        |     + CAST(list_contains(toks,'to') AS BIGINT) + CAST(list_contains(toks,'of') AS BIGINT)
        |     + CAST(list_contains(toks,'and') AS BIGINT) + CAST(list_contains(toks,'that') AS BIGINT)
        |     + CAST(list_contains(toks,'have') AS BIGINT) + CAST(list_contains(toks,'with') AS BIGINT)) AS stop_hits FROM ar),
        |x AS (SELECT doc_id, n_words, n_lines, stop_hits,
        |    floor((CAST(total_chars AS DOUBLE) / greatest(coalesce(n_words,0), 1))*1000000 + 0.5)/1000000 AS mean_word_len,
        |    floor((CAST(n_hash + n_e3 + n_e1 AS DOUBLE) / greatest(coalesce(n_words,0), 1))*1000000 + 0.5)/1000000 AS symbol_ratio,
        |    floor((CAST(n_bullet AS DOUBLE) / n_lines)*1000000 + 0.5)/1000000 AS bullet_frac,
        |    floor((CAST(n_ell AS DOUBLE) / n_lines)*1000000 + 0.5)/1000000 AS ellipsis_frac,
        |    floor((CAST(n_alpha AS DOUBLE) / greatest(coalesce(n_words,0), 1))*1000000 + 0.5)/1000000 AS alpha_frac,
        |    floor((1.0 - CAST(n_dist AS DOUBLE) / n_lines)*1000000 + 0.5)/1000000 AS dup_line_frac FROM m),
        |r AS (SELECT doc_id, n_words, n_lines, mean_word_len, symbol_ratio, bullet_frac,
        |    ellipsis_frac, alpha_frac, dup_line_frac, stop_hits,
        |    coalesce(n_words >= 50 AND n_words <= 100000, false) AS r_wordcount,
        |    coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0, false) AS r_meanlen,
        |    coalesce(symbol_ratio <= 0.1, false) AS r_symbol,
        |    coalesce(bullet_frac <= 0.9, false) AS r_bullet,
        |    coalesce(ellipsis_frac <= 0.3, false) AS r_ellipsis,
        |    coalesce(alpha_frac >= 0.8, false) AS r_alpha,
        |    coalesce(stop_hits >= 2, false) AS r_stop,
        |    coalesce(dup_line_frac <= 0.3, false) AS r_dupline FROM x)
        |SELECT *, r_wordcount AND r_meanlen AND r_symbol AND r_bullet AND r_ellipsis
        |  AND r_alpha AND r_stop AND r_dupline AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    // the oracle RECOMPUTES the whole curve: per-bucket token mass,
    // min-doc-id first sightings, cumulative sums, and the SAME
    // fixed-point OLS accumulation (1e-9 longs) as the engine
    "q_vocab_growth" ->
      """WITH fx AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 3 = 0 THEN ' uniq' || doc_id ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' band' || (doc_id % 97) ELSE '' END AS t
        |  FROM documents),
        |tk AS (SELECT doc_id, regexp_extract_all(lower(t), '[a-z0-9]+') AS w FROM fx),
        |b AS (SELECT doc_id, w, CAST(floor(doc_id / 25) AS BIGINT) AS bucket FROM tk),
        |pb AS (SELECT bucket, count(*) AS n_docs, CAST(sum(len(w)) AS BIGINT) AS bucket_tokens FROM b GROUP BY 1),
        |fs AS (SELECT term, min(doc_id) AS first_id FROM (SELECT doc_id, unnest(w) AS term FROM b) GROUP BY 1),
        |nt AS (SELECT CAST(floor(first_id / 25) AS BIGINT) AS bucket, count(*) AS new_types FROM fs GROUP BY 1),
        |curve AS (
        |  SELECT p.bucket, p.n_docs, p.bucket_tokens, CAST(coalesce(n.new_types, 0) AS BIGINT) AS new_types,
        |    CAST(sum(p.bucket_tokens) OVER (ORDER BY p.bucket) AS BIGINT) AS cum_tokens,
        |    CAST(sum(coalesce(n.new_types, 0)) OVER (ORDER BY p.bucket) AS BIGINT) AS cum_vocab
        |  FROM pb p LEFT JOIN nt n USING (bucket)),
        |pts AS (
        |  SELECT CAST(floor(ln(CAST(cum_tokens AS DOUBLE))*1e9 + 0.5) AS BIGINT)/1e9 AS x9,
        |         CAST(floor(ln(CAST(cum_vocab AS DOUBLE))*1e9 + 0.5) AS BIGINT)/1e9 AS y9
        |  FROM curve WHERE cum_tokens > 0 AND cum_vocab > 0),
        |ols AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(floor(x9*1e9 + 0.5) AS BIGINT)) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(floor(y9*1e9 + 0.5) AS BIGINT)) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(floor(x9*y9*1e9 + 0.5) AS BIGINT)) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(floor(x9*x9*1e9 + 0.5) AS BIGINT)) AS DOUBLE) AS sxx
        |  FROM pts),
        |fit AS (
        |  SELECT CASE WHEN n >= 2 AND (n*sxx*1e9 - sx*sx) <> 0.0
        |              THEN (n*sxy*1e9 - sx*sy) / (n*sxx*1e9 - sx*sx) END AS beta, sx, sy, n FROM ols),
        |fit2 AS (SELECT beta, exp((sy/1e9 - beta*sx/1e9) / n) AS k FROM fit)
        |SELECT bucket, n_docs, bucket_tokens, cum_tokens, new_types, cum_vocab,
        |  floor(beta*1000000 + 0.5)/1000000 AS heaps_beta,
        |  floor(k*1000000 + 0.5)/1000000 AS heaps_k
        |FROM curve CROSS JOIN fit2 ORDER BY bucket""".stripMargin,
    // the oracle replays the md5 split-point arithmetic and the PSM
    // string surgery byte for byte
    "q_fim" ->
      """WITH h AS (
        |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len,
        |    CAST(('0x'||substr(md5('fim:'||doc_id),1,8)) AS BIGINT) % 100 < 50 AS applied,
        |    CAST(('0x'||substr(md5('fim:'||doc_id||':a'),1,8)) AS BIGINT)
        |      % greatest(CAST(length(text) AS BIGINT), 1) AS p1,
        |    CAST(('0x'||substr(md5('fim:'||doc_id||':b'),1,8)) AS BIGINT)
        |      % greatest(CAST(length(text) AS BIGINT), 1) AS p2
        |  FROM documents),
        |s AS (SELECT doc_id, text, applied, least(p1, p2) AS lo, greatest(p1, p2) AS hi FROM h)
        |SELECT doc_id, applied AS fim_applied,
        |  CASE WHEN applied THEN lo END AS n_prefix,
        |  CASE WHEN applied THEN hi - lo END AS n_middle,
        |  CASE WHEN applied THEN
        |    '<PRE>' || substr(text, 1, CAST(lo AS INTEGER))
        |      || '<SUF>' || substr(text, CAST(hi + 1 AS INTEGER))
        |      || '<MID>' || substr(text, CAST(lo + 1 AS INTEGER), CAST(hi - lo AS INTEGER))
        |  ELSE text END AS fim_text
        |FROM s ORDER BY doc_id""".stripMargin,
    // the oracle predicts W from the signed-permutation construction
    // (rotation recovery must be EXACT) and recomputes Σσ + residuals
    // from the same fixed-point cross-covariance
    "q_procrustes" ->
      """WITH xe AS (SELECT CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
        |p AS (SELECT x, list_transform(range(1, 65), k ->
        |        (CASE WHEN (k-1) % 2 = 0 THEN 1.0 ELSE -1.0 END) * x[(((k-1)+5) % 64) + 1]) AS y FROM xe),
        |e1 AS (SELECT x, unnest(y) AS yv, generate_subscripts(y, 1) - 1 AS k FROM p),
        |e2 AS (SELECT k, yv, unnest(x) AS xv, generate_subscripts(x, 1) - 1 AS j FROM e1),
        |m AS (SELECT j, k, CAST(sum(CAST(floor(xv*yv*1e12 + 0.5) AS BIGINT)) AS DOUBLE)/1e12 AS mv
        |      FROM e2 GROUP BY 1, 2),
        |nx AS (SELECT CAST(sum(CAST(floor(xv*xv*1e12 + 0.5) AS BIGINT)) AS DOUBLE)/1e12 AS nx
        |       FROM (SELECT unnest(x) AS xv FROM xe)),
        |ny AS (SELECT CAST(sum(CAST(floor(yv*yv*1e12 + 0.5) AS BIGINT)) AS DOUBLE)/1e12 AS ny
        |       FROM (SELECT unnest(y) AS yv FROM p)),
        |sg AS (SELECT sum(CASE WHEN k % 2 = 0 THEN mv ELSE -mv END) AS ssum
        |       FROM m WHERE j = (k + 5) % 64),
        |tr AS (SELECT sum(mv) AS trm FROM m WHERE j = k)
        |SELECT CAST(j AS INTEGER) AS j, CAST(k AS INTEGER) AS k,
        |  CAST(CASE WHEN j = (k + 5) % 64
        |            THEN (CASE WHEN k % 2 = 0 THEN 1.0 ELSE -1.0 END) ELSE 0.0 END AS DOUBLE) AS w,
        |  floor(ssum*10000 + 0.5)/10000 AS sum_sigma,
        |  floor((nx + ny - 2*trm)*10000 + 0.5)/10000 AS resid_before,
        |  floor((nx + ny - 2*ssum)*10000 + 0.5)/10000 AS resid_after
        |FROM m CROSS JOIN sg CROSS JOIN tr CROSS JOIN nx CROSS JOIN ny
        |ORDER BY j, k""".stripMargin,
    // the oracle derives each URL's registrable domain straight from
    // the construction (subdomains collapse per PSL; github.io users
    // don't) and mirrors the rank-≤-3 cap
    "q_domain_caps" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN doc_id % 2 = 0 THEN 'site' || (doc_id % 7) || '.co.uk'
        |         WHEN doc_id % 10 = 9 THEN NULL
        |         ELSE 'u' || (doc_id % 5) || '.github.io' END AS site_key
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY site_key ORDER BY n_chars DESC, doc_id) AS rn
        |      FROM d WHERE site_key IS NOT NULL)
        |SELECT doc_id, n_chars, site_key FROM r WHERE rn <= 3 ORDER BY doc_id""".stripMargin,
    // the oracle recomputes the spectrum and the fixed-point OLS fit
    "q_zipf_fit" ->
      """WITH tk AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
        |c AS (SELECT term, count(*) AS freq FROM tk GROUP BY 1),
        |r AS (SELECT term, freq, row_number() OVER (ORDER BY freq DESC, term) AS rank FROM c),
        |t AS (SELECT CAST(rank AS BIGINT) AS rank, term, freq FROM r WHERE rank <= 30),
        |pts AS (SELECT CAST(floor(ln(CAST(rank AS DOUBLE))*1e9 + 0.5) AS BIGINT)/1e9 AS x9,
        |               CAST(floor(ln(CAST(freq AS DOUBLE))*1e9 + 0.5) AS BIGINT)/1e9 AS y9 FROM t),
        |ols AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(floor(x9*1e9 + 0.5) AS BIGINT)) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(floor(y9*1e9 + 0.5) AS BIGINT)) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(floor(x9*y9*1e9 + 0.5) AS BIGINT)) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(floor(x9*x9*1e9 + 0.5) AS BIGINT)) AS DOUBLE) AS sxx
        |  FROM pts),
        |fit AS (
        |  SELECT CASE WHEN n >= 2 AND (n*sxx*1e9 - sx*sx) <> 0.0
        |              THEN (n*sxy*1e9 - sx*sy) / (n*sxx*1e9 - sx*sx) END AS slope, sx, sy, n FROM ols),
        |f2 AS (SELECT -slope AS alpha, exp((sy/1e9 - slope*sx/1e9) / n) AS c FROM fit)
        |SELECT rank, term, freq,
        |  floor(alpha*1000000 + 0.5)/1000000 AS zipf_alpha,
        |  floor(c*1000000 + 0.5)/1000000 AS zipf_c
        |FROM t CROSS JOIN f2 ORDER BY rank""".stripMargin,
    // the oracle recomputes both top-k sweeps and the integer-exact
    // ratio margins (2·c9·na·nb / (a9·nb + b9·na)) from scratch
    // q_bitext_ann shares this text verbatim: the ANN path's oracle IS
    // the brute-force mining result (the recall gate — a hash match
    // proves the bucketed path reproduced the exact mined pair set)
    "q_bitext_mining" -> bitextBruteOracle,
    // q_bitext_ann: the oracle SIMULATES the engine's bucketed path —
    // stride-100 coarse centroids, argmax-cosine corpus assignment
    // (nprobe=1), 3-probe query fan-out, bucket-join candidates, top-4
    // per side, then the identical margin pipeline. Every tie-break
    // (centroid_id, neighbor id) mirrors Similarity.ivfProbe /
    // ivfTopKWith, so a hash match proves the whole ANN pipeline
    // cross-engine, not just the margin arithmetic.
    "q_bitext_ann" ->
      """WITH cent AS (
        |  SELECT CAST(vec_id / 100 AS BIGINT) AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id % 100 = 0),
        |x AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 40),
        |y AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id >= 40),
        |xs AS (
        |  SELECT id, v, centroid_id AS bucket, rn FROM (
        |    SELECT x.id, x.v, c.centroid_id,
        |      row_number() OVER (PARTITION BY x.id ORDER BY
        |        list_dot_product(x.v, c.cv) / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |        c.centroid_id) AS rn
        |    FROM x CROSS JOIN cent c)),
        |ys AS (
        |  SELECT id, v, centroid_id AS bucket, rn FROM (
        |    SELECT y.id, y.v, c.centroid_id,
        |      row_number() OVER (PARTITION BY y.id ORDER BY
        |        list_dot_product(y.v, c.cv) / (sqrt(list_dot_product(y.v, y.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |        c.centroid_id) AS rn
        |    FROM y CROSS JOIN cent c)),
        |fwdc AS (
        |  SELECT q.id AS x_id, n.id AS y_id,
        |    list_dot_product(q.v, n.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))) AS cos
        |  FROM (SELECT * FROM xs WHERE rn <= 3) q
        |  JOIN (SELECT * FROM ys WHERE rn = 1) n USING (bucket)
        |  WHERE q.id <> n.id),
        |revc AS (
        |  SELECT q.id AS y_id, n.id AS x_id,
        |    list_dot_product(q.v, n.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))) AS cos
        |  FROM (SELECT * FROM ys WHERE rn <= 3) q
        |  JOIN (SELECT * FROM xs WHERE rn = 1) n USING (bucket)
        |  WHERE q.id <> n.id),
        |fwd AS (
        |  SELECT x_id, y_id, CAST(floor(cos*1e9 + 0.5) AS BIGINT) AS c9
        |  FROM (SELECT *, row_number() OVER (PARTITION BY x_id ORDER BY cos DESC, y_id) AS rk FROM fwdc)
        |  WHERE rk <= 4),
        |rev AS (
        |  SELECT y_id, x_id, CAST(floor(cos*1e9 + 0.5) AS BIGINT) AS c9
        |  FROM (SELECT *, row_number() OVER (PARTITION BY y_id ORDER BY cos DESC, x_id) AS rk FROM revc)
        |  WHERE rk <= 4),
        |ax AS (SELECT x_id, CAST(sum(c9) AS BIGINT) AS a9, count(*) AS na FROM fwd GROUP BY 1),
        |by_ AS (SELECT y_id, CAST(sum(c9) AS BIGINT) AS b9, count(*) AS nb FROM rev GROUP BY 1),
        |mf AS (
        |  SELECT f.x_id, f.y_id, f.c9,
        |    (2.0 * f.c9 * a.na * b.nb) / (a.a9 * b.nb + b.b9 * a.na) AS margin
        |  FROM fwd f JOIN ax a USING (x_id) JOIN by_ b USING (y_id)),
        |mr AS (
        |  SELECT r.y_id, r.x_id,
        |    (2.0 * r.c9 * a.na * b.nb) / (a.a9 * b.nb + b.b9 * a.na) AS margin
        |  FROM rev r JOIN ax a USING (x_id) JOIN by_ b USING (y_id)),
        |bf AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY x_id ORDER BY margin DESC, y_id) AS rk FROM mf) WHERE rk = 1),
        |br AS (SELECT y_id, x_id AS rx FROM (SELECT *, row_number() OVER (PARTITION BY y_id ORDER BY margin DESC, x_id) AS rk FROM mr) WHERE rk = 1)
        |SELECT bf.x_id, bf.y_id,
        |  floor((CAST(bf.c9 AS DOUBLE)/1e9)*10000 + 0.5)/10000 AS cosine,
        |  floor(margin*1000000 + 0.5)/1000000 AS margin,
        |  coalesce(br.rx = bf.x_id, false) AS mutual,
        |  margin >= 1.2 AS mined
        |FROM bf LEFT JOIN br USING (y_id) ORDER BY x_id""".stripMargin,
    // the oracle RECOMPUTES the cut-list: CRLF normalize (replacement
    // must be the e'' literal — DuckDB eats '\n' in replacements),
    // blank-line split, trim/drop, md5, first-occurrence window
    "q_para_dedup" ->
      """WITH fx AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 4 = 0 THEN 'SHARED HEADER PARA' || e'\n\n' || 'unique ' || doc_id || ' body' || e'\n\nSHARED FOOTER'
        |      WHEN doc_id % 4 = 1 THEN 'SHARED HEADER PARA' || e'\r\n\r\n' || 'second unique ' || doc_id
        |      WHEN doc_id % 4 = 2 THEN substr(text, 1, 80) || e'\n\n \t \n\nSHARED FOOTER'
        |      ELSE 'solo para only ' || doc_id END AS t
        |  FROM documents),
        |pr AS (
        |  SELECT doc_id, p, idx FROM (
        |    SELECT doc_id,
        |      list_filter(list_transform(string_split_regex(regexp_replace(t, '\r\n', e'\n', 'g'), '\n[ \t]*\n'), x -> trim(x, e' \t\r\n')), x -> length(x) > 0) AS l
        |    FROM fx), LATERAL (SELECT unnest(l) AS p, generate_subscripts(l, 1) AS idx)),
        |h AS (SELECT doc_id, CAST(idx AS BIGINT) AS para_idx, md5(p) AS para_hash FROM pr)
        |SELECT doc_id, para_idx, para_hash,
        |  CAST(count(*) OVER (PARTITION BY para_hash) AS BIGINT) AS n_copies,
        |  row_number() OVER (PARTITION BY para_hash ORDER BY doc_id, para_idx) = 1 AS keep
        |FROM h ORDER BY doc_id, para_idx""".stripMargin,
    // the oracle writes host + registrable domain straight from the
    // construction: which PSL branch each fixture URL must take
    "q_url_domain" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id%10=0 THEN 'news.site' || (doc_id%50) || '.co.uk'
        |       WHEN doc_id%10=1 THEN 'shop' || (doc_id%50) || '.example.com.au'
        |       WHEN doc_id%10=2 THEN 'user' || (doc_id%50) || '.github.io'
        |       WHEN doc_id%10=3 THEN 'a.b.site' || (doc_id%50) || '.de'
        |       WHEN doc_id%10=4 THEN 'ck'
        |       WHEN doc_id%10=5 THEN 'shop' || (doc_id%50) || '.stuff.ck'
        |       WHEN doc_id%10=6 THEN 'co.uk'
        |       WHEN doc_id%10=7 THEN '192.168.10.1'
        |       WHEN doc_id%10=8 THEN 'blog' || (doc_id%50) || '.weird-tld.xyzzy' END AS host,
        |  CASE WHEN doc_id%10=0 THEN 'site' || (doc_id%50) || '.co.uk'
        |       WHEN doc_id%10=1 THEN 'example.com.au'
        |       WHEN doc_id%10=2 THEN 'user' || (doc_id%50) || '.github.io'
        |       WHEN doc_id%10=3 THEN 'site' || (doc_id%50) || '.de'
        |       WHEN doc_id%10=4 THEN 'www.ck'
        |       WHEN doc_id%10=5 THEN 'shop' || (doc_id%50) || '.stuff.ck'
        |       WHEN doc_id%10=8 THEN 'weird-tld.xyzzy' END AS site_key,
        |  doc_id%10 IN (0,1,2,3,4,5,8) AS has_site
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the oracle predicts every audit count straight from the fixture
    // construction: which branch planted how many bad sequences
    "q_utf8_audit" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 7 THEN NULL ELSE doc_id % 5 <> 4 END AS well_formed,
        |  CAST(CASE WHEN doc_id % 10 = 7 THEN NULL
        |            WHEN doc_id % 5 = 4 THEN 4 ELSE 0 END AS INTEGER) AS n_invalid,
        |  CAST(CASE WHEN doc_id % 10 = 7 THEN NULL
        |            WHEN doc_id % 5 = 1 THEN doc_id % 3 + 1 ELSE 0 END AS INTEGER) AS n_replacement,
        |  CAST(CASE WHEN doc_id % 10 = 7 THEN NULL
        |            WHEN doc_id % 5 = 2 THEN doc_id % 2 + 2 ELSE 0 END AS INTEGER) AS n_control,
        |  CAST(CASE WHEN doc_id % 10 = 7 THEN NULL
        |            WHEN doc_id % 5 = 3 THEN doc_id % 4 + 2 ELSE 0 END AS INTEGER) AS n_mojibake
        |FROM documents ORDER BY doc_id""".stripMargin,
    // The k-means ranking detail isn't SQL-expressible (Lloyd loop);
    // the oracle predicts the exact-side invariants instead: every
    // query returns a full top-3 and recalls >= 1 true neighbor.
    "q_embed_ivf_kmeans" ->
      """SELECT vec_id AS query_id, CAST(3 AS BIGINT) AS n_results, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8 ORDER BY query_id""".stripMargin,
  )
}
