package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{DropRatioListener, EventPipeline, ParquetUpsertSink}

/** End-to-end Structured Streaming slice: MemoryStream JSON → parse →
  * validate → watermark+dedup+1-min window → foreachBatch MERGE into
  * parquet — asserting the reference's contracts: error precedence,
  * event-id dedup, late-update convergence (counter overwrite), and
  * beyond-watermark drop observability.
  */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def json(id: String, ts: String, user: String = "u1", typ: String = "view"): String =
    s"""{"event_id":"$id","event_timestamp":"$ts","user_id":"$user","event_type":"$typ","schema_version":"v1","payload_json":"{\\"watch_time_ms\\":100}"}"""

  private def raw(events: MemoryStream[String]) = {
    import spark.implicits._
    events.toDF()
      .select(col("value").as("raw_value"))
      .withColumn("source_topic", lit("test_topic"))
      .withColumn("source_partition", lit(0))
      .withColumn("source_offset", xxhash64(col("raw_value"))) // mono-id is illegal in streaming plans
  }

  test("validation precedence + quarantine ids on a batch") {
    import spark.implicits._
    val rows = Seq(
      json("e1", "2024-01-01T00:00:10Z"),                        // valid
      "not json at all",                                          // PARSE_ERROR
      """{"event_timestamp":"2024-01-01T00:00:11Z","user_id":"u","event_type":"view"}""", // missing event_id
      json("e2", "bad-timestamp"),                                // INVALID_EVENT_TIMESTAMP
      json("e3", "2024-01-01T00:00:12Z", typ = "dance"),          // INVALID_EVENT_TYPE
      s"""{"event_id":"e4","event_timestamp":"2024-01-01T00:00:13Z","user_id":"u1","event_type":"view","schema_version":"v1","payload_json":"{not-json"}""",
      // missing event_type: must be MISSING_REQUIRED_FIELD, not slip
      // through the null-propagating isin as "valid"
      """{"event_id":"e5","event_timestamp":"2024-01-01T00:00:14Z","user_id":"u1","schema_version":"v1","payload_json":"{}"}""")
      .zipWithIndex
    val df = rows.toDF("raw_value", "source_offset")
      .withColumn("source_topic", lit("t")).withColumn("source_partition", lit(0))
    val annotated = EventPipeline.annotate(EventPipeline.parse(df))
    val codes = annotated.select("source_offset", "error_code")
      .as[(Int, Option[String])].collect().toMap
    assert(codes(0).isEmpty)
    assert(codes(1).contains("PARSE_ERROR"))
    assert(codes(2).contains("MISSING_REQUIRED_FIELD"))
    assert(codes(3).contains("INVALID_EVENT_TIMESTAMP"))
    assert(codes(4).contains("INVALID_EVENT_TYPE"))
    assert(codes(5).contains("INVALID_PAYLOAD_JSON"))
    assert(codes(6).contains("MISSING_REQUIRED_FIELD"))
    val q = EventPipeline.quarantine(annotated)
    assert(q.filter(col("invalid_event_id") === "t:0:1").count() == 1)
  }

  test("gold stream: dedup, late-update merge convergence, watermark drops observed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val listener = new DropRatioListener
    spark.streams.addListener(listener)
    val events = MemoryStream[String]
    val dir = Files.createTempDirectory("graft_stream").toString
    val sink = new ParquetUpsertSink(spark, s"$dir/gold",
      keys = Seq("user_id", "window_start"), orderBy = Seq("processed_at"))
    val q = EventPipeline.goldAggregate(
        EventPipeline.annotate(EventPipeline.parse(raw(events))), watermark = "2 minutes")
      .writeStream
      .foreachBatch(sink.foreachBatchFn)
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("update")
      .start()

    // batch 1: 3 events in minute 00, one duplicated event_id
    events.addData(
      json("a1", "2024-01-01T00:00:05Z"),
      json("a1", "2024-01-01T00:00:05Z"), // duplicate id -> dropped by dedup
      json("a2", "2024-01-01T00:00:20Z", typ = "click"),
      json("a3", "2024-01-01T00:10:00Z")) // advances watermark to 00:08
    q.processAllAvailable()

    val after1 = sink.read().filter(col("window_start") === "2024-01-01 00:00:00")
      .select("views", "clicks").as[(Long, Long)].collect()
    assert(after1.toSeq == Seq((1L, 1L)))

    // batch 2: late-but-within-watermark event for minute 00 (watermark
    // floor is 00:08 but state for window 00:00 is kept until watermark
    // passes window end... with 2-min watermark after max 00:10, events
    // >= 00:08 accepted; minute 00 is older -> dropped. So use an event
    // at 00:09 (late vs max-seen 00:10, within watermark) instead.
    events.addData(json("a4", "2024-01-01T00:09:30Z", typ = "click"))
    q.processAllAvailable()
    val after2 = sink.read().filter(col("window_start") === "2024-01-01 00:09:00")
      .select("clicks").as[Long].collect()
    assert(after2.toSeq == Seq(1L))

    // batch 3: event far beyond watermark -> dropped, observed by listener
    events.addData(json("a5", "2024-01-01T00:00:40Z"))
    q.processAllAvailable()
    val minute0 = sink.read().filter(col("window_start") === "2024-01-01 00:00:00")
      .select("views", "clicks").as[(Long, Long)].collect()
    assert(minute0.toSeq == Seq((1L, 1L))) // unchanged: late row dropped
    q.stop()
    spark.streams.removeListener(listener)
    assert(listener.rowsDropped >= 1, s"expected watermark drops, got ${listener.rowsDropped}")
  }

  test("StreamingJob fan-out: bronze append, quarantine append, gold merge from one stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = MemoryStream[String]
    val dir = Files.createTempDirectory("graft_job").toString
    val cfg = graft.streaming.StreamingJobConfig(
      checkpointRoot = s"$dir/ckpt", bronzePath = s"$dir/bronze",
      quarantinePath = s"$dir/quarantine", goldPath = s"$dir/gold",
      bronzeTrigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      goldTrigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val job = graft.streaming.StreamingJob.start(spark, raw(events), cfg)
    events.addData(
      json("j1", "2024-01-01T00:00:05Z"),
      json("j2", "2024-01-01T00:00:06Z", typ = "click"),
      "broken{json")
    job.processAllAvailable()
    job.stopAll()
    assert(spark.read.parquet(s"$dir/bronze").count() == 2)
    val q = spark.read.parquet(s"$dir/quarantine")
    assert(q.count() == 1 && q.select("error_code").as[String].head() == "PARSE_ERROR")
    val gold = spark.read.parquet(s"$dir/gold")
    assert(gold.select("views", "clicks").as[(Long, Long)].collect().toSeq == Seq((1L, 1L)))
  }

  test("file-source streaming: JSONL directory drives the same pipeline (prod S1 shape)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_files")
    val src = dir.resolve("in"); Files.createDirectory(src)
    val lines = (1 to 5).map(i => json(s"f$i", f"2024-01-01T00:00:0$i%dZ")) :+ "broken{"
    Files.write(src.resolve("batch1.jsonl"), String.join("\n", lines: _*).getBytes)
    val raw = spark.readStream.textFile(src.toString).toDF("raw_value")
      .withColumn("source_topic", lit("file"))
      .withColumn("source_partition", lit(0))
      .withColumn("source_offset", xxhash64(col("raw_value")))
    val annotated = graft.streaming.EventPipeline.annotate(graft.streaming.EventPipeline.parse(raw))
    val q = annotated.groupBy("error_code").count()
      .writeStream.format("memory").queryName("file_src_counts").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val counts = spark.table("file_src_counts")
      .as[(Option[String], Long)].collect().toMap
    assert(counts(None) == 5L && counts(Some("PARSE_ERROR")) == 1L)
  }

  test("checkpoint recovery: restart resumes without double-counting") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_recover").toString
    val sink = new ParquetUpsertSink(spark, s"$dir/gold",
      keys = Seq("user_id", "window_start"), orderBy = Seq("processed_at"))

    def startQuery(events: MemoryStream[String]) =
      EventPipeline.goldAggregate(
          EventPipeline.annotate(EventPipeline.parse(raw(events))), watermark = "10 minutes")
        .writeStream
        .foreachBatch(sink.foreachBatchFn)
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("update")
        .start()

    val events1 = MemoryStream[String]
    val q1 = startQuery(events1)
    events1.addData(json("r1", "2024-01-01T00:00:05Z"), json("r2", "2024-01-01T00:00:10Z"))
    q1.processAllAvailable()
    q1.stop()

    // restart from the same checkpoint with a fresh source; prior state
    // (2 views in minute 0) must carry over, new event adds exactly one
    val events2 = MemoryStream[String]
    events2.addData(json("r1", "2024-01-01T00:00:05Z"), json("r2", "2024-01-01T00:00:10Z"))
    val q2 = startQuery(events2)
    events2.addData(json("r3", "2024-01-01T00:00:20Z"))
    q2.processAllAvailable()
    q2.stop()

    val views = sink.read().filter(col("window_start") === "2024-01-01 00:00:00")
      .select("views").as[Long].collect().toSeq
    assert(views == Seq(3L), s"expected 3 views after recovery, got $views")
  }

  test("mid-batch crash replay: injected failure BETWEEN the swap renames, restart from " +
    "checkpoint → gold identical to an uninterrupted run (exactly-once through the swap sink)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.faultfs.impl", classOf[FaultFs].getName)

    // batch 1 carries BOTH a new window and a late update to a batch-0
    // window, so the replayed merge exercises insert AND overwrite
    val batch0 = Seq(json("c1", "2024-01-01T00:00:05Z"),
      json("c2", "2024-01-01T00:00:40Z", user = "u2"))
    val batch1 = Seq(json("c3", "2024-01-01T00:01:10Z"),
      json("c4", "2024-01-01T00:00:50Z"))

    def pipeline(events: MemoryStream[String], sink: ParquetUpsertSink, ckpt: String) =
      EventPipeline.goldAggregate(
          EventPipeline.annotate(EventPipeline.parse(raw(events))), watermark = "10 minutes")
        .writeStream.foreachBatch(sink.foreachBatchFn)
        .option("checkpointLocation", ckpt).outputMode("update").start()

    def gold(sink: ParquetUpsertSink): Seq[(String, String, Long, Long)] =
      sink.read()
        .select(col("user_id"), col("window_start").cast("string"),
          col("views"), col("watch_time_sum_ms"))
        .as[(String, String, Long, Long)].collect().toSeq.sorted

    // ---- truth: the same batches, never interrupted -----------------------
    val dirT = Files.createTempDirectory("graft_crash_truth").toString
    val sinkT = new ParquetUpsertSink(spark, s"$dirT/gold",
      keys = Seq("user_id", "window_start"), orderBy = Seq("processed_at"))
    val evT = MemoryStream[String]
    val qT = pipeline(evT, sinkT, s"$dirT/ckpt")
    evT.addData(batch0: _*); qT.processAllAvailable()
    evT.addData(batch1: _*); qT.processAllAvailable(); qT.stop()
    val truth = gold(sinkT)
    assert(truth.nonEmpty)

    // ---- crashed run: rename 2 of the batch-1 swap throws on the real FS
    // call path inside foreachBatch — the query dies with the table dir
    // missing and the batch-0 snapshot parked (the worst crash point) ----
    val dirC = Files.createTempDirectory("graft_crash_replay").toString
    val goldPath = s"faultfs://$dirC/gold"
    val sinkC = new ParquetUpsertSink(spark, goldPath,
      keys = Seq("user_id", "window_start"), orderBy = Seq("processed_at"))
    val evC1 = MemoryStream[String]
    val qC1 = pipeline(evC1, sinkC, s"$dirC/ckpt")
    evC1.addData(batch0: _*); qC1.processAllAvailable()
    FaultFs.arm("gold")
    try {
      evC1.addData(batch1: _*)
      val ex = intercept[Exception] { qC1.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("injected crash")), s"unexpected failure: $ex")
      qC1.stop()
    } finally FaultFs.disarm()
    val fs = new org.apache.hadoop.fs.Path(goldPath).getFileSystem(hc)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(goldPath)),
      "crash point: table directory must be missing")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"faultfs://$dirC"))
      .exists(_.getPath.getName.startsWith("gold__old_")),
      "crash point: prior snapshot must be parked")

    // ---- restart from the SAME checkpoint: a fresh source re-fed the same
    // data replays batch 1; recoverParked restores the snapshot first ----
    val evC2 = MemoryStream[String]
    evC2.addData(batch0: _*); evC2.addData(batch1: _*)
    val qC2 = pipeline(evC2, sinkC, s"$dirC/ckpt")
    qC2.processAllAvailable(); qC2.stop()
    assert(gold(sinkC) == truth,
      s"replayed gold must equal the uninterrupted run: ${gold(sinkC)} vs $truth")
  }

  test("boundedDedupState: dropDuplicatesWithinWatermark dedups within the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = MemoryStream[String]
    val dir = Files.createTempDirectory("graft_bounded").toString
    val sink = new ParquetUpsertSink(spark, s"$dir/gold",
      keys = Seq("user_id", "window_start"), orderBy = Seq("processed_at"))
    val q = EventPipeline.goldAggregate(
        EventPipeline.annotate(EventPipeline.parse(raw(events))),
        watermark = "10 minutes", boundedDedupState = true)
      .writeStream
      .foreachBatch(sink.foreachBatchFn)
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("update").start()
    events.addData(
      json("d1", "2024-01-01T00:00:05Z"),
      json("d1", "2024-01-01T00:00:05Z"), // in-window duplicate -> dropped
      json("d2", "2024-01-01T00:00:30Z"))
    q.processAllAvailable()
    q.stop()
    val views = sink.read().filter(col("window_start") === "2024-01-01 00:00:00")
      .select("views").as[Long].collect().toSeq
    assert(views == Seq(2L))
  }

  test("watermark-drop ratio: derived formula sees the dropped late event") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = MemoryStream[String]
    val dir = Files.createTempDirectory("graft_ratio").toString
    val sink = new ParquetUpsertSink(spark, s"$dir/gold",
      keys = Seq("user_id", "window_start"), orderBy = Seq("processed_at"))
    val annotated = EventPipeline.annotate(EventPipeline.parse(raw(events)))
    val q = EventPipeline.goldAggregate(annotated, watermark = "2 minutes").writeStream
      .foreachBatch(sink.foreachBatchFn)
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("update").start()
    events.addData(
      json("w1", "2024-01-01T00:00:05Z"),
      json("w2", "2024-01-01T00:20:00Z")) // advances watermark far past minute 0
    q.processAllAvailable()
    events.addData(json("w3", "2024-01-01T00:00:30Z")) // beyond watermark -> dropped
    q.processAllAvailable()
    q.stop()
    // bronze view: all 3 valid events; gold only counted 2
    val bronze = Seq("w1", "w2", "w3").toDF("event_id")
    val ratio = graft.serving.Reconcile.watermarkDropRatio(bronze, sink.read())
    assert(math.abs(ratio - 1.0 / 3.0) < 1e-9, s"ratio $ratio")
  }

  test("gold counters are overwritten (not incremented) on re-emission") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = MemoryStream[String]
    val dir = Files.createTempDirectory("graft_stream2").toString
    val sink = new ParquetUpsertSink(spark, s"$dir/gold",
      keys = Seq("user_id", "window_start"), orderBy = Seq("processed_at"))
    val q = EventPipeline.goldAggregate(
        EventPipeline.annotate(EventPipeline.parse(raw(events))), watermark = "10 minutes")
      .writeStream
      .foreachBatch(sink.foreachBatchFn)
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("update")
      .start()

    events.addData(json("b1", "2024-01-01T00:00:05Z"))
    q.processAllAvailable()
    events.addData(json("b2", "2024-01-01T00:00:06Z")) // same window re-emits with updated counters
    q.processAllAvailable()
    val got = sink.read().filter(col("window_start") === "2024-01-01 00:00:00")
      .select("views").as[Long].collect()
    assert(got.toSeq == Seq(2L)) // overwrite => 2, increment bug would give 3
    q.stop()
  }

  test("MERGE sink runs each gold micro-batch's stateful plan once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = MemoryStream[String]
    val dir = Files.createTempDirectory("graft_stream_once").toString
    val sink = new ParquetUpsertSink(spark, s"$dir/gold",
      keys = Seq("user_id", "window_start"), orderBy = Seq("processed_at"))
    val q = EventPipeline.goldAggregate(
        EventPipeline.annotate(EventPipeline.parse(raw(events))), watermark = "10 minutes")
      .writeStream
      .foreachBatch(sink.foreachBatchFn)
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("update")
      .start()
    // three events in two (user, minute) groups: the batch emits 2 rows
    events.addData(
      json("c1", "2024-01-01T00:00:05Z"),
      json("c2", "2024-01-01T00:00:20Z", typ = "click"),
      json("c3", "2024-01-01T00:01:10Z", user = "u2"))
    q.processAllAvailable()
    val merged = sink.read().count()
    val data = q.recentProgress.filter(_.numInputRows > 0)
    q.stop()
    assert(merged == 2L)
    assert(data.length == 1)
    // a second run of the batch plan (an emptiness probe before the
    // MERGE) updates every group's state again and doubles this count
    val updated = data.head.stateOperators.filter(_.operatorName == "stateStoreSave").map(_.numRowsUpdated)
    assert(updated.toSeq == Seq(merged), s"aggregation updated ${updated.mkString(",")} state rows for $merged merged rows")
  }
}
