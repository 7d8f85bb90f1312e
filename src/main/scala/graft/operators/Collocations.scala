package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Corpus-statistics operators over token streams: PMI collocation
  * mining and unigram-LM document scoring (the CCNet-style "how
  * LM-like is this document" quality proxy).
  *
  * Both are linear two-pass shapes: one explode + groupBy builds the
  * corpus statistics (vocabulary-bounded output), then an equi-join
  * on `term` redistributes them — no all-pairs step, no driver-side
  * model object, so the same plan runs on a 100 TB corpus where the
  * vocabulary itself is too large to broadcast.
  *
  * Reference baseline: the reference has no corpus-LM surface at all
  * (its text analytics stop at count batteries,
  * realtime-metrics-sql-pack.sql); these are pure training-pipeline
  * additions.
  */
object Collocations {

  /** Adjacent-bigram structs (x, y) over a token-array column.
    * Guarded: Spark's sequence(1, k) runs DESCENDING for k < 1, so an
    * unguarded one-token doc would index element 0. */
  private def bigrams(tokensCol: String): Column =
    expr(
      s"""CASE WHEN size($tokensCol) >= 2
         | THEN transform(sequence(1, size($tokensCol) - 1),
         |        i -> struct(element_at($tokensCol, i) AS x, element_at($tokensCol, i + 1) AS y))
         | ELSE array() END""".stripMargin)

  /** PMI collocation mining: for each adjacent bigram (x, y) seen at
    * least `minCount` times, the pointwise-mutual-information RATIO
    *   P(x,y) / (P(x)·P(y)) = (n_xy / T2) · (T1² / (n_x · n_y))
    * (PMI itself is log2 of this; the ratio is emitted because it is
    * pure rational double arithmetic — monotone in PMI, so ranking is
    * identical, and engine-exact for an external oracle where log2
    * would be libm-dependent).
    *
    * Output: top `k` by (ratio desc, x, y) — the corpus's strongest
    * collocations. Unigram totals T1/T2 ride in via a 1-row broadcast
    * cross join; per-term counts join on `term` (vocabulary-scale
    * equi-join, never broadcast-assumed).
    */
  def pmiBigrams(docs: DataFrame, textCol: String,
                 minCount: Int = 5, k: Int = 30): DataFrame = {
    val toks = docs
      .select(TextAnalysis.tokens(textCol).as("toks"))
    val uni = toks
      .select(explode(col("toks")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n_term"))
    val big = toks
      .select(explode(bigrams("toks")).as("bg"))
      .groupBy(col("bg.x").as("x"), col("bg.y").as("y"))
      .agg(count(lit(1)).as("n_xy"))
    val totals = uni.agg(sum(col("n_term")).as("t1")) // T1 = total tokens
      .crossJoin(big.agg(sum(col("n_xy")).as("t2")))  // T2 = total bigrams
    // (n_xy·T1·T1)/(T2·n_x·n_y), left-assoc double mults/divs — the
    // oracle writes the same tree so both engines produce the same
    // IEEE double before rounding.
    val ratio =
      col("n_xy").cast("double") * col("t1").cast("double") * col("t1").cast("double") /
        (col("t2").cast("double") * col("n_x").cast("double") * col("n_y").cast("double"))
    big.filter(col("n_xy") >= minCount)
      .join(uni.select(col("term").as("x"), col("n_term").as("n_x")), "x")
      .join(uni.select(col("term").as("y"), col("n_term").as("n_y")), "y")
      .crossJoin(broadcast(totals))
      .select(col("x"), col("y"), col("n_xy"), col("n_x"), col("n_y"),
        graft.queries.rd(ratio, 6).as("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("x"), col("y"))
      .limit(k)
  }

  /** Bigram-LM cross-entropy with stupid backoff (Brants et al. 2007 —
    * the standard web-scale choice precisely because it needs no
    * normalization pass), scored against a separate TRAIN corpus:
    *   score(w | prev) = n(prev,w)/n(prev)            bigram seen in train
    *                     0.4 · (n(w)+1)/(T1+V)        otherwise (Laplace
    *                                                  floor covers terms
    *                                                  train never saw)
    *   H(doc) = -(Σ_{i≥2} ln score) / (n_tokens − 1)
    * n(prev) is the train unigram count (the usual large-scale variant;
    * stupid backoff is unnormalized by design so Σp<1 is fine). Docs
    * with < 2 tokens are dropped (no bigram events to score).
    *
    * Same distributed shape as the unigram scorer: corpus tables built
    * by explode+groupBy, scoring is a lag window per doc (one doc-key
    * shuffle) + term equi-joins. The unseen-bigram branch is a LEFT
    * join null, not a lookup miss in a driver map. */
  def bigramBackoffXent(train: DataFrame, score: DataFrame,
                        idCol: String, textCol: String): DataFrame = {
    def prevPairs(df: DataFrame) = {
      val pos = df
        .select(col(idCol), TextAnalysis.tokens(textCol).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col(idCol), posexplode(col("toks")).as(Seq("pos", "w")))
      pos.withColumn("prev", lag(col("w"), 1).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col(idCol)).orderBy(col("pos"))))
        .filter(col("prev").isNotNull)
    }
    val trainTokens = train
      .select(explode(TextAnalysis.tokens(textCol)).as("w"))
    val uni = trainTokens.groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val bi = prevPairs(train).groupBy(col("prev"), col("w")).agg(count(lit(1)).as("n_xy"))
    val prevCounts = uni.select(col("w").as("prev"), col("n_w").as("n_prev"))
    val totals = broadcast(uni.agg(sum(col("n_w")).as("t1"), count(lit(1)).as("v")))
    prevPairs(score)
      .join(bi, Seq("prev", "w"), "left")
      .join(prevCounts, Seq("prev"), "left")
      .join(uni, Seq("w"), "left")
      .crossJoin(totals)
      .withColumn("lp",
        when(col("n_xy").isNotNull,
          log(col("n_xy").cast("double") / col("n_prev").cast("double")))
          .otherwise(log(lit(0.4) * (coalesce(col("n_w"), lit(0L)) + lit(1)).cast("double") /
            (col("t1") + col("v")).cast("double"))))
      .groupBy(col(idCol))
      .agg((count(lit(1)) + lit(1)).as("n_tokens"),
        (negate(sum(col("lp"))) / count(lit(1))).as("lm2_xent"))
  }

  /** Unigram-LM cross-entropy per document (Laplace-smoothed):
    *   H(doc) = -(Σ_tok ln p(tok)) / n_tokens,
    *   p(w) = (n_w + 1) / (T1 + V).
    * Low H ≡ the document looks like the corpus (the CCNet quality
    * signal, with the corpus itself as the LM — swap the `uni` frame
    * for a reference-corpus table to score against external text).
    *
    * The model "object" is a DataFrame (term → count), so scoring is
    * an equi-join — no driver-side vocabulary, works at any V.
    */
  def unigramCrossEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol), TextAnalysis.tokens(textCol).as("toks"))
      .filter(size(col("toks")) >= 1)
    val tokens = toks.select(col(idCol), explode(col("toks")).as("term"))
    val uni = tokens.groupBy("term").agg(count(lit(1)).as("n_term"))
    val totals = uni.agg(
      sum(col("n_term")).as("t1"),
      count(lit(1)).as("v"))
    // every corpus token exists in `uni`, so the inner join is total
    tokens
      .join(uni, "term")
      .crossJoin(broadcast(totals))
      .withColumn("lp",
        log((col("n_term") + lit(1)).cast("double") / (col("t1") + col("v")).cast("double")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        (negate(sum(col("lp"))) / count(lit(1))).as("lm_xent"))
  }
}
