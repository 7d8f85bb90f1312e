package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis functions for large-scale training-data pipelines:
  * tokenization, shingling, quality scoring, language-ID heuristic,
  * document fingerprinting. All are Column expressions, no UDFs, but
  * not all are compiled:
  *  - [[tokens]] and [[shingles]]/[[shinglesMulti]] are compiled
  *    kernels of `plans.TextExpressions` (`AsciiTokens`, `TokenNGrams`):
  *    one loop per row in generated code or a plain Scala call;
  *  - [[stopwordRatio]], [[wsTokenCount]], [[langGuess]],
  *    [[fingerprint]] and [[chunks]] are built with lambdas (`filter`,
  *    `transform`). Spark runs every higher-order function as
  *    `CodegenFallback`, so their lambda bodies are evaluated as
  *    expression trees per element, not as generated code;
  *  - the rest are built-in string/regex expressions, compiled.
  *
  * Lambda sites outside this file that stay interpreted, candidates for
  * kernels if they show on a profile: `Collocations.bigrams`, `Bpe`'s
  * pair unfold and merge `aggregate`, `Curation`'s n-gram md5s,
  * `Dedup`'s window hashes, candidate pairs and `xxhash64` transforms,
  * and the repetition bigrams of `queries.TextVector.repetition`.
  *
  * Functions that consume an array column take the column NAME;
  * materialize the array first with `withColumn` — that also lets
  * Catalyst reuse the tokenization across downstream expressions
  * instead of re-tokenizing per use.
  */
object TextAnalysis {

  /** Lowercased alphanumeric word tokens. Semantics =
    * `regexp_extract_all(lower(text), '[a-z0-9]+')`, executed by the
    * codegen'd byte-scan expression (plans.AsciiTokens — equivalence
    * proven for all inputs and property-tested); the regex formulation
    * stays available as [[tokensRegex]] for cross-checks. */
  def tokens(textCol: String): Column =
    graft.plans.TextExpressions.asciiTokens(col(textCol))

  /** Reference regex formulation of [[tokens]] (slow path, spec twin). */
  def tokensRegex(textCol: String): Column =
    expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)")

  /** Distinct word n-gram shingles of a token-array column, in order
    * of first occurrence; fewer than n tokens (or a NULL array) give [].
    * The compiled kernel plans.TokenNGrams. */
  def shingles(tokensCol: String, n: Int = 3): Column =
    graft.plans.TextExpressions.tokenNGrams(col(tokensCol), n, distinct = true)

  /** [[shingles]] WITH multiplicity — for count vectors where a
    * repeated shingle carries weight (e.g. sparse cosine over shingle
    * counts). */
  def shinglesMulti(tokensCol: String, n: Int = 3): Column =
    graft.plans.TextExpressions.tokenNGrams(col(tokensCol), n, distinct = false)

  /** Stopword ratio over tokens (quality signal). */
  def stopwordRatio(tokensCol: String, stopwords: Seq[String] = Seq("the", "a")): Column = {
    val set = stopwords.map(s => s"'$s'").mkString(", ")
    expr(s"size(filter($tokensCol, t -> t IN ($set)))").cast("double") /
      greatest(size(col(tokensCol)), lit(1))
  }

  /** Whitespace-token count: what `wc -w` reports; the crude upper
    * anchor for token-budget estimates. Empty / all-space → 0.
    * Patterns pass through the Column API (NOT expr()) — Spark SQL
    * string literals unescape backslashes, which would corrupt \s. */
  def wsTokenCount(textCol: String): Column =
    size(filter(split(col(textCol), "\\s+"), t => t =!= lit("")))

  /** GPT-2-style pre-tokenizer pattern, reduced to the Java-regex ∩
    * RE2 common subset (no lookahead — RE2 has none; ASCII classes —
    * identical in both engines), so a DuckDB oracle can run the
    * VERBATIM pattern: contraction suffixes, space-prefixed letter
    * runs, digit runs, punctuation runs. */
  val BpeishPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+"

  /** BPE-ish token count: |matches of [[BpeishPattern]]| — the
    * practical LLM-token estimator for mixture/budget planning
    * (tracks real BPE counts within ~±20% on English text; a real
    * tokenizer model swaps in at the same column position). Pure
    * projection, scan throughput. */
  def bpeishTokenCount(textCol: String): Column =
    size(regexp_extract_all(col(textCol), lit(BpeishPattern), lit(0)))

  /** Fraction of characters that are not [a-z0-9 ] after lowercasing. */
  def punctRatio(textCol: String): Column =
    (length(col(textCol)) - length(regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", ""))).cast("double") /
      greatest(length(col(textCol)), lit(1))

  /** Composite quality score in [0,1]: length, stopword balance, cleanliness. */
  def qualityScore(nTokens: Column, stopRatio: Column, punct: Column): Column =
    lit(0.5) * least(nTokens.cast("double") / lit(100.0), lit(1.0)) +
      lit(0.3) * (lit(1.0) - stopRatio) +
      lit(0.2) * (lit(1.0) - punct)

  def qualityBand(score: Column): Column =
    when(score >= 0.7, "high").when(score >= 0.5, "medium").otherwise("low")

  /** Language-ID: function-word occurrence profiles (the standard
    * highest-frequency closed-class words per language — these carry
    * the bulk of per-language token mass, the classic stopword-profile
    * classifier) scored per language over the token array, plus a CJK
    * codepoint probe on the raw text for Chinese (which whitespace
    * tokenization can't profile). Argmax with deterministic tiebreak
    * (highest occurrence count, then alphabetically-last language);
    * rows matching no profile at all return 'und' (undetermined) rather
    * than a fabricated guess. Pure Column expressions, zero shuffle —
    * classification happens at scan throughput. Real deployments swap
    * the profiles for char-n-gram models; the operator shape is what
    * scales. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "den", "auch"),
    "en" -> Seq("the", "and", "was", "that", "with", "have", "this", "from", "they", "which"),
    "es" -> Seq("el", "que", "los", "las", "una", "por", "con", "para", "como", "pero"),
    "fr" -> Seq("le", "les", "des", "une", "dans", "est", "pour", "qui", "pas", "vous"))

  /** Count of CJK-unified-ideograph characters in the raw text. */
  def cjkCount(textCol: String): Column =
    length(col(textCol)) - length(regexp_replace(col(textCol), "[\\x{4e00}-\\x{9fff}]+", ""))

  def langGuess(tokensCol: String, textCol: String): Column = {
    val scored = LangProfiles.map { case (lang, markers) =>
      val set = markers.map(m => s"'$m'").mkString(", ")
      struct(
        expr(s"size(filter($tokensCol, t -> t IN ($set)))").as("score"),
        lit(lang).as("lang"))
    }
    val best = sort_array(array(scored: _*), asc = false).getItem(0)
    when(cjkCount(textCol) > 0, "zh")
      .when(best.getField("score") > 0, best.getField("lang"))
      .otherwise("und")
  }

  /** Document fingerprint: min-wise hash over token md5s (1-permutation
    * MinHash) — a stable content id robust to token order. */
  def fingerprint(tokensCol: String): Column =
    expr(s"array_min(transform($tokensCol, t -> md5(t)))")

  /** Fixed-size overlapping token chunks per document — the standard
    * context-window preprocessing for LLM training (long documents
    * split into `size`-token windows sharing `overlap` tokens so no
    * span is ever cut without context). Pure expression: starts =
    * 1, 1+stride, … up to greatest(n−overlap, 1) with
    * stride = size − overlap, each start sliced to `size` tokens (the
    * tail chunk is shorter). Empty docs yield no chunks. */
  def chunks(tokensCol: String, size: Int, overlap: Int): Column = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    val stride = size - overlap
    expr(
      // IS NULL guard: size(NULL)=NULL slips a `= 0` check and would
      // wrap the null in one spurious chunk (greatest(NULL-ov,1) → 1)
      s"""CASE WHEN $tokensCol IS NULL OR size($tokensCol) = 0 THEN array()
         | ELSE transform(
         |   sequence(1, greatest(size($tokensCol) - $overlap, 1), $stride),
         |   i -> struct(i AS start, slice($tokensCol, i, $size) AS toks))
         | END""".stripMargin)
  }

  /** Text cleaning/normalization (the standard pre-tokenization scrub
    * of a web-crawl pipeline): drop HTML-ish tags, strip ASCII control
    * characters, collapse whitespace runs, trim. Pure regexp_replace
    * chain — codegen'd, linear per row, SQL-mirrorable. */
  def cleanText(textCol: String): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(col(textCol), "<[^>]*>", " "),
        "[\\x00-\\x1f\\x7f]", " "),
      "\\s+", " "))
}
