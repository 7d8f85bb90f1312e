package graft.serving

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RT-vs-batch reconciliation helpers (reference reconciliation-and-slo
  * contract + verify_rt_content_events_aggregator.py:216-232).
  */
object Reconcile {

  /** Derived watermark-drop ratio: max(unique_raw − gold_total, 0) /
    * unique_raw — the portable fallback when StreamingQueryProgress
    * isn't retained (the reference's formula verbatim). Both scalar
    * aggregates run in ONE action (cross join of the 1-row frames), so
    * the check costs a single job regardless of table sizes. */
  def watermarkDropRatio(bronze: DataFrame, gold: DataFrame): Double = {
    val row = bronze.agg(countDistinct(col("event_id")).as("unique_raw"))
      .crossJoin(gold.agg(
        coalesce(sum(coalesce(col("views"), lit(0L)) + coalesce(col("clicks"), lit(0L)) +
          coalesce(col("purchases"), lit(0L)) + coalesce(col("signups"), lit(0L)) +
          coalesce(col("errors"), lit(0L))), lit(0L)).as("gold_total")))
      .collect()(0)
    val uniqueRaw = row.getLong(0)
    if (uniqueRaw == 0L) 0.0
    else math.max(uniqueRaw - row.getLong(1), 0L).toDouble / uniqueRaw
  }

  /** Per-key count reconciliation between an RT aggregate and a batch
    * recompute: the two frames FULL-outer-joined on `keyCols`, plus
    * `count_diff_ratio` = abs(rt−batch)/max(batch, floor), a missing side
    * counting 0 (the reference's formula; its p95 is the gated figure).
    * FULL outer: a key present only on the RT side (RT overcounting a
    * grain batch says shouldn't exist) must inflate the ratio, not
    * vanish. */
  def countDiffRatio(rt: DataFrame, batch: DataFrame, keyCols: Seq[String],
                     rtCount: String, batchCount: String, floor: Long = 100L): DataFrame = {
    val (r, b) = (coalesce(col(rtCount), lit(0L)), coalesce(col(batchCount), lit(0L)))
    batch.join(rt, keyCols, "full_outer")
      .withColumn("count_diff_ratio", abs(r - b).cast("double") / greatest(b, lit(floor)))
  }
}
