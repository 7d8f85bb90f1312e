package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.operators.Validation
import graft.plans.OutOfCodegen

/** CDC → Type-1 dim snapshot job (reference rt_video_cdc_upsert.py):
  * Debezium-ish envelope `{op, ts_ms, schema_version, after{...}}` →
  * 6-level validation → per-micro-batch latest-wins dedup
  * (ORDER BY ts_ms DESC, source_offset DESC — the offset tiebreak is
  * the reference's "latest ingest order wins" contract) → MERGE on the
  * entity key. Stale updates lose; unsupported ops quarantine.
  */
object CdcPipeline {

  val CdcSchema: StructType = StructType(Seq(
    StructField("op", StringType),
    StructField("ts_ms", LongType),
    StructField("schema_version", StringType),
    StructField("after", StructType(Seq(
      StructField("video_id", StringType),
      StructField("category", StringType),
      StructField("region", StringType),
      StructField("upload_time", StringType),
      StructField("status", StringType))))))

  def parse(raw: DataFrame): DataFrame =
    raw
      .withColumn("cdc", from_json(col("raw_value"), CdcSchema))
      .withColumn("op", col("cdc.op"))
      .withColumn("ts_ms", col("cdc.ts_ms"))
      .withColumn("schema_version", col("cdc.schema_version"))
      .withColumn("video_id", col("cdc.after.video_id"))
      .withColumn("category", col("cdc.after.category"))
      .withColumn("region", col("cdc.after.region"))
      .withColumn("upload_time", try_to_timestamp(col("cdc.after.upload_time")))
      .withColumn("status", col("cdc.after.status"))
      .withColumn("ingested_at", OutOfCodegen.currentTimestamp)

  /** Error precedence (reference rt_video_cdc_upsert.py:157-165). */
  def validationRules: Seq[Validation.Rule] = Seq(
    Validation.Rule("CDC_PARSE_ERROR",
      col("cdc").isNull ||
        coalesce(col("op"), col("ts_ms").cast("string"), col("schema_version"),
          col("video_id")).isNull && get_json_object(col("raw_value"), "$").isNull),
    Validation.Rule("CDC_MISSING_OP", col("op").isNull),
    Validation.Rule("CDC_UNSUPPORTED_OP", !col("op").isin("c", "u")),
    Validation.Rule("CDC_MISSING_TS_MS", col("ts_ms").isNull),
    Validation.Rule("CDC_MISSING_SCHEMA_VERSION", col("schema_version").isNull),
    Validation.Rule("CDC_MISSING_AFTER_VIDEO_ID", col("video_id").isNull))

  def annotate(parsed: DataFrame): DataFrame = Validation.annotate(parsed, validationRules)

  def quarantine(annotated: DataFrame): DataFrame =
    annotated.filter(col("error_code").isNotNull).select(
      graft.functions.EventCounters.invalidEventId.as("invalid_event_id"),
      col("error_code"), col("raw_value"),
      col("source_topic"), col("source_partition"), col("source_offset"), col("ingested_at"))

  def validRows(annotated: DataFrame): DataFrame =
    annotated.filter(col("error_code").isNull).select(
      col("video_id"), col("category"), col("region"), col("upload_time"),
      col("status"), col("ts_ms"), col("source_offset"),
      OutOfCodegen.currentTimestamp.as("updated_at"))

  /** Start quarantine append + dim MERGE sinks. The dim sink dedups each
    * micro-batch by video_id (ts_ms DESC, source_offset DESC) then
    * upserts; a stale ts_ms in a later batch still loses because the
    * sink's orderBy spans the stored snapshot too. */
  def start(spark: SparkSession, raw: DataFrame, checkpointRoot: String,
            quarantinePath: String, dimPath: String,
            trigger: Trigger = Trigger.ProcessingTime("1 minute")): Seq[StreamingQuery] = {
    val annotated = annotate(parse(raw))

    val quarantineQ = quarantine(annotated).writeStream
      .format("parquet")
      .option("path", quarantinePath)
      .option("checkpointLocation", s"$checkpointRoot/quarantine")
      .trigger(trigger)
      .outputMode("append")
      .start()

    val dimSink = new ParquetUpsertSink(spark, dimPath,
      keys = Seq("video_id"), orderBy = Seq("ts_ms", "source_offset"))
    val dimQ = validRows(annotated).writeStream
      .foreachBatch(dimSink.foreachBatchFn)
      .option("checkpointLocation", s"$checkpointRoot/dim")
      .trigger(trigger)
      .outputMode("append")
      .start()

    Seq(quarantineQ, dimQ)
  }
}
