package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Validation
import graft.plans.OutOfCodegen

/** Structured-Streaming re-expression of the reference's realtime jobs
  * (rt_content_events_aggregator.py): JSON envelope parse → lineage
  * projection → validation split → three sinks (bronze append /
  * quarantine append / gold 1-min windowed MERGE).
  *
  * Source-agnostic: callers pass any streaming DataFrame of
  * (raw_value STRING, source_topic, source_partition, source_offset) —
  * Kafka in production, MemoryStream/file source in tests. Each sink
  * gets its own checkpoint + trigger (reference contract: raw 10 s,
  * gold 1 min), and the gold path applies watermark + event-id dedup
  * BEFORE aggregation while bronze stays un-deduped append-only.
  */
object EventPipeline {

  /** Envelope schema — fixed, declared, never inferred (reference
    * rt_content_events_aggregator.py:133-160). */
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", StringType),
    StructField("event_timestamp", StringType),
    StructField("user_id", StringType),
    StructField("video_id", StringType),
    StructField("event_type", StringType),
    StructField("schema_version", StringType),
    StructField("payload_json", StringType)))

  val AllowedEventTypes: Seq[String] = Seq("click", "view", "purchase", "signup", "error")

  /** Parse + annotate: from_json against the declared schema, nested
    * extraction, timestamp parse (null ⇒ invalid), payload probe. */
  def parse(raw: DataFrame): DataFrame =
    raw
      .withColumn("event", from_json(col("raw_value"), EventSchema))
      .withColumn("event_id", col("event.event_id"))
      // try_to_timestamp, not to_timestamp: under ANSI mode (Spark 4
      // default) the plain cast THROWS on malformed input; the contract
      // is null ⇒ INVALID_EVENT_TIMESTAMP quarantine, never job failure.
      .withColumn("ts", try_to_timestamp(col("event.event_timestamp")))
      .withColumn("user_id", col("event.user_id"))
      .withColumn("video_id", col("event.video_id"))
      .withColumn("event_type", col("event.event_type"))
      .withColumn("schema_version", coalesce(col("event.schema_version"), lit("unknown")))
      .withColumn("payload_json", col("event.payload_json"))
      .withColumn("watch_time_ms",
        get_json_object(col("payload_json"), "$.watch_time_ms").cast("long"))
      .withColumn("ingested_at", OutOfCodegen.currentTimestamp)

  /** Error-code precedence ladder (reference 5-level contract:
    * PARSE > MISSING_FIELD > INVALID_TIMESTAMP > INVALID_TYPE > INVALID_PAYLOAD). */
  def validationRules: Seq[Validation.Rule] = Seq(
    // PERMISSIVE from_json returns an all-null struct (not a null struct)
    // for corrupt records — "every envelope field null" + raw input NOT
    // parseable as JSON ⇒ PARSE_ERROR. The raw-parseability probe keeps
    // valid-but-empty JSON (e.g. only unknown fields set) in
    // MISSING_REQUIRED_FIELD where the precedence ladder wants it.
    Validation.Rule("PARSE_ERROR",
      col("event").isNull ||
        (coalesce(col("event.event_id"), col("event.event_timestamp"), col("event.user_id"),
          col("event.event_type"), col("event.schema_version"), col("event.payload_json")).isNull &&
          get_json_object(col("raw_value"), "$").isNull)),
    // event_type IS required: without it the null-propagating isin in
    // INVALID_EVENT_TYPE would mark the row valid while no counter
    // column counts it
    Validation.Rule("MISSING_REQUIRED_FIELD",
      col("event_id").isNull || col("event.event_timestamp").isNull ||
        col("user_id").isNull || col("event_type").isNull),
    Validation.Rule("INVALID_EVENT_TIMESTAMP", col("ts").isNull),
    Validation.Rule("INVALID_EVENT_TYPE", !col("event_type").isin(AllowedEventTypes: _*)),
    // get_json_object(x, '$') returns null iff x is not valid JSON —
    // the parseability probe (from_json is useless here: PERMISSIVE
    // mode returns an all-null struct for corrupt payloads).
    Validation.Rule("INVALID_PAYLOAD_JSON",
      col("payload_json").isNotNull &&
        get_json_object(col("payload_json"), "$").isNull))

  def annotate(parsed: DataFrame): DataFrame = Validation.annotate(parsed, validationRules)

  /** Bronze projection: lineage + envelope, append-only, NOT deduped
    * (immutable replay log). */
  def bronze(annotated: DataFrame): DataFrame =
    annotated.filter(col("error_code").isNull).select(
      col("event_id"), col("ts"), col("user_id"), col("video_id"), col("event_type"),
      col("schema_version"), col("payload_json"), col("watch_time_ms"),
      col("source_topic"), col("source_partition"), col("source_offset"),
      col("ingested_at"))

  /** Quarantine projection with deterministic invalid id
    * topic:partition:offset (reference S8/P8). */
  def quarantine(annotated: DataFrame): DataFrame =
    annotated.filter(col("error_code").isNotNull).select(
      graft.functions.EventCounters.invalidEventId.as("invalid_event_id"),
      col("error_code"),
      col("raw_value"), col("source_topic"), col("source_partition"),
      col("source_offset"), col("ingested_at"))

  /** Gold: watermark → stateful event-id dedup → 1-minute tumbling
    * window conditional-count aggregation (T1-T4). Update output mode +
    * MERGE sink ⇒ late rows within the watermark re-emit and overwrite.
    *
    * `boundedDedupState = true` uses dropDuplicatesWithinWatermark:
    * dedup state EXPIRES with the watermark instead of growing with
    * every event-id ever seen — the 100 TB deployment choice. Default
    * false = the reference's exact dropDuplicates semantics (a dup
    * arriving arbitrarily late is still dropped, at unbounded state
    * cost). */
  def goldAggregate(annotated: DataFrame, watermark: String = "2 minutes",
                    boundedDedupState: Boolean = false): DataFrame = {
    val watermarked = annotated
      .filter(col("error_code").isNull)
      .withWatermark("ts", watermark)
    val deduped =
      if (boundedDedupState) watermarked.dropDuplicatesWithinWatermark("event_id")
      else watermarked.dropDuplicates("event_id")
    val aggs = graft.functions.EventCounters.typeCounts :+
      sum(coalesce(col("watch_time_ms"), lit(0L))).as("watch_time_sum_ms")
    deduped
      .groupBy(window(col("ts"), "1 minute"), col("user_id"))
      .agg(aggs.head, aggs.tail: _*)
      // processed_at is stamped AFTER aggregation: non-deterministic
      // expressions are illegal inside streaming aggregates.
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("user_id"), col("views"), col("clicks"), col("purchases"),
        col("signups"), col("errors"), col("watch_time_sum_ms"),
        OutOfCodegen.currentTimestamp.as("processed_at"))
  }

  /** Stream→static dim enrichment — the reference's own join shape
    * (its realtime aggregator joins the event stream to a static
    * video-dim snapshot). The dim side is `broadcast()`-pinned: a
    * stream-static join must not shuffle the stream, and the static
    * side re-broadcasts per micro-batch, which is exactly how a
    * slowly-refreshed dim snapshot stays current. LEFT join so events
    * with no dim row pass through with nulls (enrichment never drops
    * data — the miss is observable downstream instead). */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")
}
