package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import graft.core.Lineage
import graft.functions.TextAnalysis

/** TF-IDF term scoring over a document corpus — the classic retrieval /
  * keyword-extraction weighting as two aggregation passes:
  *
  *   1. document frequencies: explode DISTINCT tokens per doc →
  *      groupBy(term) count (one shuffle on term);
  *   2. term frequencies: explode tokens → groupBy(doc, term) count
  *      (one shuffle on (doc, term)), joined back to the (small) DF
  *      table — broadcast when the vocabulary fits, shuffle otherwise.
  *
  * Weighting note: `idf` here is the log-free ratio N/df. Division is
  * IEEE-754-exact for identical operands on every engine, so the DuckDB
  * oracle hash-matches bit-for-bit; the classic `ln(N/df)` weighting is
  * a monotone transform of it (identical rankings) but `log` is not
  * correctly-rounded-guaranteed across libm implementations and would
  * make a cross-engine hash gate flaky. Swap in `log(...)` for
  * production ranking if the absolute scale matters. */
object TfIdf {

  /** Per-(doc, term) TF-IDF rows: doc id, term, tf (count/doc_len),
    * df (docs containing term), score = tf * (N/df). The corpus size N
    * stays IN the plan (1-row aggregate, broadcast cross join) — no
    * driver-side action. */
  def tfidf(docs: DataFrame, idCol: String, textCol: String,
            broadcastVocab: Boolean = true): DataFrame = {
    // a leaf: N and both aggregation passes read the tokenized corpus,
    // which would otherwise be tokenized once per leg
    val toks = Lineage.truncate(docs
      .withColumn("__tokens", TextAnalysis.tokens(textCol))
      .select(col(idCol), col("__tokens")))

    val n = toks.agg(count(lit(1)).cast("double").as("__n_docs"))
    val df = toks
      .select(explode(array_distinct(col("__tokens"))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val tf = toks
      .select(col(idCol), size(col("__tokens")).as("__len"), explode(col("__tokens")).as("term"))
      .groupBy(col(idCol), col("term"), col("__len"))
      .agg(count(lit(1)).as("__n"))
      .select(col(idCol), col("term"),
        (col("__n").cast("double") / col("__len")).as("tf"))
    val dfSide = if (broadcastVocab) broadcast(df) else df
    tf.join(dfSide, "term")
      .crossJoin(broadcast(n))
      .select(col(idCol), col("term"), col("tf"), col("df"),
        (col("tf") * (col("__n_docs") / col("df"))).as("score"))
  }

  /** Top-k scoring terms per document (rank ties broken by term). */
  def topTerms(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))
    tfidf(docs, idCol, textCol)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("df"), col("score"))
  }

  /** BM25 term weighting — the production retrieval scorer (Robertson/
    * Sparck Jones), same two-pass shape as [[tfidf]] plus the corpus
    * length statistics, which ride the same 1-row broadcast as N:
    *
    *   score = idf(t) · (f·(k1+1)) / (f + k1·(1−b + b·dl/avgdl))
    *
    * with f = raw term count in the doc, dl = doc token length, avgdl =
    * corpus mean length. `avgdl` is computed as exact BIGINT token-count
    * sum ÷ N (single IEEE division), so it is bit-identical on any
    * engine regardless of row order — never a float sum. As in
    * [[tfidf]], idf is the log-free ratio N/df (see the class note:
    * identical ranking, cross-engine-exact); the saturation term is pure
    * rational arithmetic, so the whole score hash-gates exactly.
    * Literal `1−b` is pre-folded by the caller-visible contract below so
    * no engine-side subtraction ordering is involved. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // a leaf, as in tfidf
    val toks = Lineage.truncate(docs
      .withColumn("__tokens", TextAnalysis.tokens(textCol))
      .select(col(idCol), col("__tokens"), size(col("__tokens")).as("dl")))

    // N and avgdl in one 1-row aggregate: broadcast, never collected.
    val stats = toks.agg(
      count(lit(1)).cast("double").as("__n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("__avgdl"))
    val df = toks
      .select(explode(array_distinct(col("__tokens"))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val f = toks
      .select(col(idCol), col("dl"), explode(col("__tokens")).as("term"))
      .groupBy(col(idCol), col("term"), col("dl"))
      .agg(count(lit(1)).as("f"))

    val oneMinusB = 1.0 - b // folded once on the driver; a literal in the plan
    f.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("term"), col("f"), col("dl"), col("df"),
        ((col("__n_docs") / col("df")) *
          ((col("f").cast("double") * lit(k1 + 1.0)) /
            (col("f").cast("double") +
              lit(k1) * (lit(oneMinusB) + lit(b) * (col("dl").cast("double") / col("__avgdl"))))))
          .as("score"))
  }

  /** Inverted index build — the retrieval-side artifact [[bm25]] scores
    * against: one posting list per term, doc-ordered, with df and total
    * tf. One explode + two keyed aggregations (doc-term counts, then
    * term grouping); the term shuffle IS the index partitioning a
    * distributed search deployment wants (terms co-located, posting
    * lists contiguous). `sort_array` on the collected structs keeps the
    * list deterministic under any partitioning. */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("__tokens", TextAnalysis.tokens(textCol))
      .select(col(idCol).as("__doc"), explode(col("__tokens")).as("term"))
      .groupBy(col("term"), col("__doc"))
      .agg(count(lit(1)).as("__tf"))
      .groupBy(col("term"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("__tf")).as("tf_total"),
        sort_array(collect_list(struct(col("__doc").as("doc"), col("__tf").as("tf"))))
          .as("postings"))

  /** All-pairs document cosine similarity over shingle-count vectors in
    * a df-pruned vocabulary — the inverted-index (term-partitioned)
    * sparse dot product: (doc, shingle, count) rows, drop shingles with
    * df > maxDf (high-df features carry no discriminative signal and
    * cost quadratic fanout — the standard all-pairs-similarity
    * pruning lever), per-shingle posting-list upper-triangle unfold,
    * INTEGER dot per pair, one float division at the end. Integer
    * dots are exact under any
    * summation order, so the cross-engine hash gate holds bit-for-bit
    * (same pattern as EditDistance.trigramCosinePairs); cosine is exact
    * in the pruned vector space.
    *
    * 100 TB shape: one shingle-keyed aggregation bounds every posting
    * list at maxDf (≤ maxDf·(maxDf−1)/2 pairs per shingle, unfolded by
    * the plans.PostingPairs kernel — no self-join of the exploded
    * frame); norms are one groupBy(doc). No all-pairs path, no
    * float-sum shuffle.
    * The candidate-count/recall trade is maxDf (raise to catch pairs
    * that only share common shingles). */
  def shingleCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                         maxDf: Int = 10, minCosine: Double = 0.3,
                         shingleN: Int = 3): DataFrame = {
    val counts = docs
      .withColumn("__tokens", TextAnalysis.tokens(textCol))
      .select(col(idCol), explode(TextAnalysis.shinglesMulti("__tokens", shingleN)).as("g"))
      .groupBy(col(idCol), col("g"))
      .agg(count(lit(1)).as("c"))
    // ONE groupBy(shingle) builds the df-pruned posting list per
    // shingle (df > maxDf buckets dropped — the all-pairs-similarity
    // pruning lever); the dot products then unfold as the posting
    // array's UPPER TRIANGLE in one kernel (sort_array orders by id, so
    // id_a < id_b by construction). vs the previous gid self-join
    // shape: one exchange of the (doc, shingle, c) frame instead of
    // three (df agg + two join legs), half the generated pair rows
    // (ordered pairs only, never filtered df² fanout), and no
    // dictionary encode — the shingle string never leaves this agg.
    // df=1 buckets carry no pairs but DO carry norm mass: the pruned
    // vector space is df ≤ maxDf, so norms read the same leaf (its
    // size is ≤ |counts| rows — bounded, model-free state; the leaf
    // also stops the pair and norm branches re-running the tokenize
    // chain).
    val buckets = Lineage.truncate(counts
      .groupBy(col("g"))
      .agg(sort_array(collect_list(struct(col(idCol).as("id"), col("c").as("c")))).as("ps"))
      .filter(size(col("ps")) <= maxDf)
      .select(col("ps")))
    val norms = buckets
      .select(explode(col("ps")).as("e"))
      .groupBy(col("e.id").as(idCol))
      .agg(sum(col("e.c") * col("e.c")).as("n2"))
    buckets
      .filter(size(col("ps")) >= 2)
      .select(explode(graft.plans.TextExpressions.postingPairs(col("ps"))).as("pr"))
      .groupBy(col("pr.id_a").as("id_a"), col("pr.id_b").as("id_b"))
      .agg(sum(col("pr.p")).as("dot"))
      .join(norms.select(col(idCol).as("id_a"), col("n2").as("__na2")), "id_a")
      .join(norms.select(col(idCol).as("id_b"), col("n2").as("__nb2")), "id_b")
      .withColumn("cosine", col("dot").cast("double") /
        (sqrt(col("__na2").cast("double")) * sqrt(col("__nb2").cast("double"))))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("dot"), col("cosine"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher RRF): combine N
    * independent rankings of the same key space into one score,
    * rrf(d) = Σ_r 1/(kRrf + rank_r(d)) — the standard hybrid-retrieval
    * merge (BM25 + dense ANN in a RAG stack) that needs no score
    * calibration between rankers. Keys missing from a ranker simply
    * contribute 0 for it.
    *
    * Built as a fold of full-outer joins (not union+groupBy-sum): the
    * additions happen in DECLARED ranker order as one fixed expression
    * chain, so the double result is bit-stable — a grouped float sum
    * would be partitioning-order-dependent and break cross-engine hash
    * gates. N is the ranker count (small); each join is an equi-join on
    * the key.
    *
    * @param rankers (name, frame) pairs; each frame carries `keys` +
    *                `rankCol` (1-based, dense or row_number ranks).
    *                Output keeps each ranker's rank as `rank_<name>`.
    */
  def rrfFuse(rankers: Seq[(String, DataFrame)], keys: Seq[String],
              rankCol: String = "rank", kRrf: Int = 60): DataFrame = {
    require(rankers.nonEmpty, "need at least one ranker")
    val named = rankers.map { case (nm, df) =>
      df.select((keys.map(col) :+ col(rankCol).as(s"rank_$nm")): _*)
    }
    val joined = named.reduce((a, b) => a.join(b, keys, "full_outer"))
    val score = rankers
      .map { case (nm, _) => coalesce(lit(1.0) / (lit(kRrf) + col(s"rank_$nm")), lit(0.0)) }
      .reduce(_ + _)
    joined.withColumn("rrf", score)
  }

  /** Top-k BM25 terms per document (ties broken by term). */
  def bm25TopTerms(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))
    bm25(docs, idCol, textCol)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("f"), col("df"), col("score"))
  }

  /** Mutual information between term presence and a boolean label —
    * the classic feature-selection score ("which words actually carry
    * the class signal?") for training a text filter model:
    *
    *   MI(t) = Σ_{cells of the 2×2 presence×label table} (n/N)·ln(n·N / (row·col))
    *
    * over the exact contingency counts n11 (labeled docs containing t),
    * n01, n10, n00, with 0·ln(0) cells contributing 0. Natural log, in
    * nats. Terms below `minDf` distinct-doc frequency are dropped
    * (their MI is noise).
    *
    * Exactness: the four cell counts per term come from ONE keyed
    * aggregate over distinct (doc, term) pairs joined to the doc
    * label; every ln argument is a ratio of exact integers, and the
    * ≤ 4 ln calls per term are summed in a fixed evaluation order —
    * the only cross-engine exposure is the libm ulp on ln, absorbed by
    * the caller's output rounding (the lm_xent precedent).
    *
    * Scale shape: one explode → distinct → per-term aggregate (map-
    * side combinable), a broadcast 1-row totals frame, a pure
    * projection for the four-cell formula. No windows, no sort. */
  def termLabelMi(docs: DataFrame, idCol: String, textCol: String,
                  labelCol: String, minDf: Long = 5L): DataFrame = {
    val labeled = docs.select(col(idCol),
      col(labelCol).cast("boolean").as("__y"),
      TextAnalysis.tokens(textCol).as("__toks"))
    val pairs = labeled
      .select(col(idCol), col("__y"), explode(array_distinct(col("__toks"))).as("term"))
    val perTerm = pairs.groupBy(col("term"))
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("n11"),
        sum(when(!col("__y"), 1L).otherwise(0L)).as("n01"))
      .filter(col("n11") + col("n01") >= minDf)
    val totals = labeled.agg(count(lit(1)).as("__n"),
      sum(when(col("__y"), 1L).otherwise(0L)).as("__pos"))
    val cells = perTerm.crossJoin(broadcast(totals))
      .withColumn("n10", col("__pos") - col("n11"))
      .withColumn("n00", col("__n") - col("__pos") - col("n01"))
    // cell term: (n/N)·ln(n·N / (row·col)); rows are presence margins,
    // cols the label margins — evaluated in fixed 11,01,10,00 order
    def cell(n: Column, rowMargin: Column, colMargin: Column): Column =
      when(n > 0, (n.cast("double") / col("__n"))
        * log((n * col("__n")).cast("double") / (rowMargin * colMargin).cast("double")))
        .otherwise(lit(0.0))
    val present = col("n11") + col("n01")
    val absent = col("n10") + col("n00")
    val pos = col("__pos")
    val neg = col("__n") - col("__pos")
    cells
      .withColumn("mi",
        cell(col("n11"), present, pos) + cell(col("n01"), present, neg)
          + cell(col("n10"), absent, pos) + cell(col("n00"), absent, neg))
      .select(col("term"), col("n11"), col("n01"), col("n10"), col("n00"), col("mi"))
  }
}
