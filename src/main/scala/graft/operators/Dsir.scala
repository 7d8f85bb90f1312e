package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** DSIR-style data selection: hashed n-gram importance weights
  * (Xie et al. 2023, "Data Selection for Language Models via
  * Importance Resampling", arXiv:2302.03169). Every raw document gets
  * a log importance weight
  *
  *   log w(x) = Σ_b c_x[b] · ( ln p̂_target[b] − ln p̂_raw[b] ),
  *
  * where c_x[b] counts the document's hashed unigram+bigram features
  * landing in bucket b and both distributions are Laplace-smoothed
  * bucket frequencies. Documents resembling the target domain more
  * than the raw corpus score > 0; resampling raw data proportional to
  * w concentrates it on the target distribution.
  *
  * Scale shape: the raw corpus is tokenized/hashed ONCE into a
  * (doc, bucket, count) leaf (≤ |docs|·B rows); both models are B-row
  * count tables (B = `buckets`, constant) re-aggregated from it /
  * from one target pass, broadcast into the scoring join; the per-doc
  * score is one more keyed aggregation over the leaf. No driver-side
  * vocabulary, no all-pairs anything.
  *
  * The feature hash is the md5-prefix bucket (same construction as
  * Dedup.minhashSignatures' base hash) so the DuckDB oracle can mirror
  * it textually: `cast(conv(substr(md5(f),1,15),16,10) as bigint) % B`.
  * The program computes that same value with the compiled kernel
  * plans.UniBigramBuckets: the first 8 digest bytes shifted right by 4
  * are the 15-hex-digit prefix, so no hex string or joined bigram is
  * built. A document of m tokens has m unigrams and max(m − 1, 0)
  * bigrams, as the oracle's `CASE WHEN len(w) >= 2`.
  */
object Dsir {

  /** Importance weights for every `raw` document against a `target`
    * sample. Returns (idCol, n_feats, log_weight) — log_weight rounded
    * to 4 decimals at the surface (sum-of-ln drift is ~1e-11 at any
    * realistic document size; same contract as
    * Collocations.unigramCrossEntropy).
    *
    * `target` rows need only `textCol`; docs with zero tokens carry no
    * evidence either way and are excluded (degenerate for selection).
    */
  def importanceWeights(raw: DataFrame, target: DataFrame, idCol: String, textCol: String,
                        buckets: Int = 64, alpha: Double = 1.0): DataFrame = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    require(alpha > 0, s"alpha must be > 0 (unsmoothed ln(0) diverges), got $alpha")
    def bucketed(df: DataFrame, cols: Seq[String]): DataFrame = df
      .withColumn("__toks", TextAnalysis.tokens(textCol))
      .filter(size(col("__toks")) > 0)
      .select(cols.map(col) :+ explode(
        graft.plans.TextExpressions.uniBigramBuckets(col("__toks"), buckets)).as("b"): _*)
    // per-(doc, bucket) feature counts, cut to a leaf: the raw corpus
    // is tokenized + hashed ONCE (previously the model agg and the
    // scoring join each re-ran the whole explode chain), and every
    // downstream frame is a re-aggregation of these ≤ |docs|·B narrow
    // rows — the coarsest sufficient statistic, 2-3 orders smaller
    // than the exploded feature stream (guide §2.3 aggregate before
    // you shuffle / §5 reuse vs recompute)
    val dcnt = graft.core.Lineage.truncate(bucketed(raw, Seq(idCol))
      .groupBy(col(idCol), col("b")).agg(count(lit(1)).as("c")))
    // ONE B-row model frame: raw counts re-aggregated from dcnt and
    // target counts from one target pass, in one aggregation; the
    // totals nr/nt are window sums over those ≤ B rows, so each count
    // runs once. Buckets only the target has (cr = 0) never meet dcnt
    // in the scoring join; target-absent buckets keep ct = 0, the
    // smoothing floor.
    val model = dcnt.select(col("b"), col("c").as("cr"), lit(0L).as("ct"))
      .unionByName(bucketed(target, Seq.empty).select(col("b"), lit(0L).as("cr"), lit(1L).as("ct")))
      .groupBy(col("b")).agg(sum(col("cr")).as("cr"), sum(col("ct")).as("ct"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    val lam = model
      .select(col("b"),
        (log((col("ct") + lit(alpha)) / (sum(col("ct")).over(all) + lit(alpha * buckets)))
          - log((col("cr") + lit(alpha)) / (sum(col("cr")).over(all) + lit(alpha * buckets)))).as("lam"))
    // Σ_b c·lam ≡ the per-feature Σ lam (the multiplicity fold moves
    // into exact integer c; the only float reordering is within the
    // per-doc sum, ~1e-11 relative — absorbed by the 4-decimal surface
    // rounding, same contract as the scaladoc's drift note)
    dcnt.join(broadcast(lam), "b")
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_feats"),
        graft.queries.rd(sum(col("c") * col("lam")), 4).as("log_weight"))
  }
}
