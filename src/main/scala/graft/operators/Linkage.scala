package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Fellegi-Sunter probabilistic record linkage (Fellegi & Sunter,
  * JASA 1969) over a BLOCKED candidate-pair set — the entity-
  * resolution scoring layer between candidate generation (LSH/prefix
  * blocking) and clustering: per pair, a field-agreement vector γ and
  * the log-likelihood-ratio match weight
  *
  *   score = Σ_k  γ_k·ln(m_k/u_k) + (1−γ_k)·ln((1−m_k)/(1−u_k)),
  *
  * classified match / possible / non_match against fixed thresholds
  * (the "possible" band is the clerical-review queue).
  *
  * Parameter estimation is the unsupervised variant:
  *  - u_k (chance agreement among NON-matches ≈ among random pairs) is
  *    the exact without-replacement collision probability from the
  *    field's value marginals, Σ_v n_v·(n_v−1) / (N·(N−1)) — a ratio
  *    of exact integer counts, no sampling;
  *  - m_k (agreement among matches) is the field's agreement rate on
  *    the caller-flagged pseudo-truth pairs (e.g. MinHash estimate ≥
  *    0.75 — the EM-free bootstrap used when no labels exist), again a
  *    ratio of integer counts, clamped to [0.001, 0.999] so a
  *    perfectly-agreeing field keeps a finite disagreement weight.
  *
  * Exactness: all m/u inputs are integer-count ratios (cross-engine
  * identical); the only libm is `ln` on those few per-FIELD constants
  * (2·|fields| calls total, not per-row), so scores are sums of ≤
  * |fields| shared constants — stable to well below the reporting
  * rounding.
  *
  * Scale shape: u_k needs one hash aggregate per field on the doc
  * frame; m_k one aggregate over the (already-blocked) pair frame; the
  * per-pair scoring is a projection after two broadcast-or-shuffle
  * equi-joins that attach each side's fields. Nothing is all-pairs —
  * the pair set is whatever the blocking emitted.
  */
object Linkage {

  /** Score `pairs` (id_a, id_b, `pseudoCol` boolean) against the
    * attribute frame `docs`. `fields` are doc columns compared by
    * EQUALITY (pre-bucket continuous attributes — e.g.
    * floor(len/200)). Returns one row per pair: agree_<field> flags
    * (int 0/1), score, decision. */
  def fellegiSunter(docs: DataFrame, idCol: String, pairs: DataFrame,
                    fields: Seq[String], pseudoCol: String,
                    upper: Double = 2.0, lower: Double = -2.0): DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    val n = docs.agg(count(lit(1)).as("__n"))
    // u_k: exact random-pair collision probability from value marginals
    val uFrames = fields.map { f =>
      docs.groupBy(col(f)).agg(count(lit(1)).as("__c"))
        .agg(sum(col("__c") * (col("__c") - 1)).as("__coll"))
        .crossJoin(broadcast(n))
        .select((col("__coll").cast("double") /
          (col("__n") * (col("__n") - 1)).cast("double")).as(s"u_$f"))
    }
    val a = docs.select(col(idCol).as("id_a") +: fields.map(f => col(f).as(s"__a_$f")): _*)
    val b = docs.select(col(idCol).as("id_b") +: fields.map(f => col(f).as(s"__b_$f")): _*)
    // a leaf — m-estimation and scoring both consume it
    val withFlags = graft.core.Lineage.truncate(pairs.join(a, "id_a").join(b, "id_b")
      .select(Seq(col("id_a"), col("id_b"), col(pseudoCol).as("__pseudo")) ++
        fields.map(f => (col(s"__a_$f") === col(s"__b_$f")).cast("int").as(s"agree_$f")): _*))
    // m_k: agreement rate among pseudo-truth pairs, clamped away from {0,1}
    val clamp = (c: Column) => least(greatest(c, lit(0.001)), lit(0.999))
    val mExprs = fields.map(f => (sum(col(s"agree_$f")).cast("double") /
      count(lit(1)).cast("double")).as(s"m_$f"))
    val m = withFlags.filter(col("__pseudo")).agg(mExprs.head, mExprs.tail: _*)
    val params = uFrames.reduce(_.crossJoin(_)).crossJoin(broadcast(m))
    val score = fields.map { f =>
      val (mf, uf) = (clamp(col(s"m_$f")), clamp(col(s"u_$f")))
      when(col(s"agree_$f") === 1, log(mf / uf))
        .otherwise(log((lit(1.0) - mf) / (lit(1.0) - uf)))
    }.reduce(_ + _)
    withFlags.crossJoin(broadcast(params))
      .withColumn("score", score)
      .withColumn("decision",
        when(col("score") >= upper, "match")
          .when(col("score") <= lower, "non_match")
          .otherwise("possible"))
      .select(Seq(col("id_a"), col("id_b")) ++
        fields.map(f => col(s"agree_$f")) ++
        Seq(col("score"), col("decision")): _*)
  }

  /** Blocked sorted-neighborhood candidate generation (Hernández &
    * Stolfo 1995) — the third blocking family next to LSH banding
    * (probabilistic) and equality blocking (exact): sort records by a
    * normalized key and pair each record with its `w` successors, so
    * NEAR-equal keys (typo'd prefixes, padded ids) become candidates
    * without any shared exact token.
    *
    * Distributed form: the sort is confined to BLOCKS keyed by the
    * first `blockLen` chars of the key — windows partition by block,
    * so every block sorts independently in parallel (the classic
    * single-machine SNM's global sort is a one-reducer anti-pattern).
    * Pairs whose members straddle a block boundary are out of reach —
    * the standard blocked-SNM tradeoff, tuned by `blockLen` (shorter =
    * bigger blocks = more recall, more skew). Emits (id_a, id_b,
    * key_a, key_b, w_dist ∈ 1..w); candidates only — score with
    * [[fellegiSunter]] or a string-similarity verify downstream. */
  def sortedNeighborhood(df: DataFrame, idCol: String, keyCol: String,
                         w: Int, blockLen: Int = 1): DataFrame = {
    require(w >= 1, s"window w must be >= 1, got $w")
    require(blockLen >= 1, s"blockLen must be >= 1, got $blockLen")
    val blocked = df
      .select(col(idCol).as("id_a"), col(keyCol).as("key_a"))
      .withColumn("__blk", substring(col("key_a"), 1, blockLen))
    val win = Window.partitionBy(col("__blk"))
      .orderBy(col("key_a"), col("id_a"))
    val withLeads = (1 to w).foldLeft(blocked) { (acc, d) =>
      acc.withColumn(s"__id_$d", lead(col("id_a"), d).over(win))
        .withColumn(s"__key_$d", lead(col("key_a"), d).over(win))
    }
    val pairs = expr(
      (1 to w).map(d =>
        s"IF(__id_$d IS NOT NULL, struct(__id_$d AS id_b, __key_$d AS key_b, $d AS w_dist), NULL)")
        .mkString("filter(array(", ", ", "), p -> p IS NOT NULL)"))
    withLeads
      .select(col("id_a"), col("key_a"), explode(pairs).as("p"))
      .select(col("id_a"), col("p.id_b"), col("key_a"), col("p.key_b"),
        col("p.w_dist"))
  }
}
