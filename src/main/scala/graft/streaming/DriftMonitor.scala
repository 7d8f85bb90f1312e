package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming corpus-drift monitor — the online counterpart of the
  * batch token-JSD gate: every micro-batch of incoming documents is
  * scored against a FIXED baseline corpus
  * (Drift.tokenJsDivergence) and one (batch_id, kl, jsd, …) ledger
  * row is appended. The mix designer alerts on the JSD series
  * trending up — "the crawl changed under us" — without waiting for
  * the nightly batch audit.
  *
  * foreachBatch is the right harness: JSD needs a full-outer join of
  * the batch's term counts against the baseline's, which is a batch
  * join per micro-batch, not a continuously-maintained stateful
  * aggregation — the same reasoning as the MERGE sink (S5/S6). The
  * baseline term-count frame is computed ONCE into a leaf; each
  * micro-batch joins against that ~|vocab|-row frame, so
  * per-batch cost is one tokenize + one hash aggregate + one keyed
  * join regardless of how much history the baseline represents.
  *
  * Exactness/recovery: the ledger row carries the batch id; under
  * checkpointed foreachBatch replay a re-run batch overwrites into a
  * per-batch directory (idempotent), never double-appends. */
object DriftMonitor {

  /** Start the monitor on a streaming `docs` frame (must carry
    * `textCol`). One output parquet dir per batch id under `outDir`. */
  def start(docs: DataFrame, baseline: DataFrame, textCol: String,
            outDir: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = baseline.sparkSession
    // baseline term counts, a leaf computed once for the life of the query
    val baseCounts = graft.core.Lineage.truncate(baseline
      .select(explode(graft.functions.TextAnalysis.tokens(textCol)).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("ca")))
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.operators.Drift
            .tokenJsDivergenceFromCounts(baseCounts, batch, textCol)
            .withColumn("batch_id", lit(batchId))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/batch-$batchId")
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }
}
