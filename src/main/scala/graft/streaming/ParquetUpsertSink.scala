package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.DatasetBridge
import graft.core.JobSettings
import graft.operators.MergeOps

/** foreachBatch MERGE sink (reference T6: micro-batch `MERGE INTO` per
  * batch). Format-aware: when a row-level-operation table format is on
  * the classpath (Delta/Iceberg — the reference's production write path,
  * merge-on-read Iceberg v2), each batch runs a real `MERGE INTO` built
  * by [[MergeInto]]; otherwise the same semantics are emulated over
  * plain parquet with a full-rewrite + atomic directory swap, so the
  * streaming contract is testable without a table format on the
  * classpath. (The parquet fallback is documented non-concurrent: one
  * writer per table path. Real formats get optimistic concurrency from
  * their commit protocol.)
  *
  * Each micro-batch's plan runs ONCE: the batch is cut to a leaf
  * ([[DatasetBridge]]) whose one building job also counts it, an empty
  * batch stops there, the MERGE reads the leaf and the leaf is released
  * after it. Probing with `isEmpty` first instead runs a stateful gold
  * batch twice — once for the probe, once for the MERGE — and its state
  * operator then counts every updated row twice. A leaf, not
  * `persist()`: `count()` on a cached frame is two jobs under AQE, and
  * every plan over a cached frame carries the whole stateful plan in
  * its SQL UI graph, which the session retains.
  *
  * @param tablePath   parquet/Delta: a filesystem path; Iceberg: a
  *                    catalog table identifier
  * @param format      override the classpath probe (`"parquet"`,
  *                    `"delta"`, `"iceberg"`); None = auto-detect
  * @param partitionBy partition transforms for first-batch table
  *                    creation (Iceberg hidden partitioning, e.g.
  *                    `days(window_start), bucket(16, video_id)` — the
  *                    reference's gold/dim layout); ignored on the
  *                    parquet fallback
  */
class ParquetUpsertSink(spark: SparkSession, tablePath: String, keys: Seq[String],
                        orderBy: Seq[String], format: Option[String] = None,
                        partitionBy: Seq[String] = Nil)
    extends Serializable {

  private val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Resolved once: classpath probe unless the caller pinned a format. */
  val tableFormat: String = format.getOrElse(JobSettings.detectTableFormat(spark))

  def exists: Boolean = tableFormat match {
    case "iceberg" => spark.catalog.tableExists(tablePath)
    case _         => fs.exists(new Path(tablePath))
  }

  def read(): DataFrame = tableFormat match {
    case "parquet" => spark.read.parquet(tablePath)
    case "delta"   => spark.read.format("delta").load(tablePath)
    case _         => spark.read.table(tablePath)
  }

  /** SQL-addressable reference to the target table. */
  private def tableRef: String = tableFormat match {
    case "delta" => s"delta.`$tablePath`"
    case _       => tablePath
  }

  /** MERGE one micro-batch: latest-wins on `keys` ordered by `orderBy`
    * DESC — across the STORED snapshot too, so a stale row arriving in a
    * later batch loses against what's already merged (CDC "stale ts must
    * lose" contract). Counter columns are OVERWRITTEN, not incremented —
    * replay-safe under update-mode re-emission (reference T4 contract). */
  def merge(batch: DataFrame, batchId: Long): Unit = {
    val (rows, n) = DatasetBridge.materializeCounted(batch)
    try {
      if (n > 0) tableFormat match {
        case "delta" | "iceberg" => mergeInto(rows, batchId)
        case _                   => mergeParquetSwap(rows, batchId)
      }
    } finally DatasetBridge.release(rows)
  }

  /** Real row-level MERGE: pre-dedup the batch latest-per-key, then one
    * `MERGE INTO` with a strictly-newer MATCHED guard (stale loses at
    * the storage layer — no snapshot rewrite, no union).
    *
    * All catalog work runs on the BATCH's session: in foreachBatch the
    * micro-batch DataFrame belongs to the streaming query's cloned
    * SparkSession, and a temp view registered there is invisible to the
    * constructor session (and vice versa). Using the batch session also
    * keeps the per-sink view name from colliding across sinks sharing a
    * batchId. */
  private def mergeInto(batch: DataFrame, batchId: Long): Unit = {
    val session = batch.sparkSession
    val latest = MergeOps.dedupLatestBy(batch, keys, orderBy.map(col))
    val view = s"__graft_merge_src_${System.identityHashCode(this)}_$batchId"
    latest.createOrReplaceTempView(view)
    try {
      if (!exists) session.sql(MergeInto.createTableSql(tableRef, view, tableFormat, partitionBy))
      else session.sql(MergeInto.mergeSql(tableRef, view, keys, orderBy, latest.columns.toSeq))
    } finally session.catalog.dropTempView(view)
  }

  /** Parquet emulation: union with the stored snapshot, dedup-latest,
    * rewrite, checked two-rename directory swap (core.AtomicSwap — the
    * shared crash-safety implementation). A crash between the renames
    * leaves the snapshot parked in an `__old_<batchId>` dir;
    * recoverParked restores the newest one before the next merge, so
    * under checkpointed foreachBatch replay no merged history is lost. */
  private def mergeParquetSwap(batch: DataFrame, batchId: Long): Unit = {
    val dest = new Path(tablePath)
    graft.core.AtomicSwap.recoverParked(fs, dest, "__old_")
    val ordAsc = orderBy.map(col)
    // the stored snapshot was written from earlier batches of the same
    // schema: read it with that schema (no parquet footer inference
    // job). It is read on the sink's session, not the batch's: the
    // streaming clone runs with AQE off, and the rewrite would then
    // write one small file per shuffle partition.
    val merged =
      if (!exists) MergeOps.dedupLatestBy(batch, keys, ordAsc)
      else MergeOps.dedupLatestBy(
        spark.read.schema(batch.schema).parquet(tablePath).unionByName(batch), keys, ordAsc)
    graft.core.AtomicSwap.swap(fs, dest,
      tmp = new Path(tablePath + s"__tmp_$batchId"),
      old = new Path(tablePath + s"__old_$batchId")) { tmp =>
      merged.write.mode("overwrite").parquet(tmp.toString)
    }
  }

  def foreachBatchFn: (DataFrame, Long) => Unit = (df, id) => merge(df, id)
}

/** Watermark-drop observability (reference T7): collects
  * numRowsDroppedByWatermark across progress events. */
class DropRatioListener extends org.apache.spark.sql.streaming.StreamingQueryListener {
  @volatile var rowsDropped: Long = 0L
  @volatile var inputRows: Long = 0L

  override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
    // only STATEFUL queries can drop by watermark — counting stateless
    // sinks' input (e.g. the bronze/quarantine legs of a 3-sink fan-out)
    // would dilute the denominator ~3x and hide a real drop rate
    if (e.progress.stateOperators.nonEmpty) {
      inputRows += e.progress.numInputRows
      e.progress.stateOperators.foreach(so => rowsDropped += so.numRowsDroppedByWatermark)
    }
  }

  def dropRatio: Double = if (inputRows == 0) 0.0 else rowsDropped.toDouble / inputRows
}
