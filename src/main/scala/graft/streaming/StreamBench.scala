package graft.streaming

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.time.Instant
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.generator.Generator

/** Streaming-throughput micro-bench: the generator's SLO-shaped event
  * stream (120 ev/s clock slots, 2% late events, invalid bursts —
  * Generator.RunConfig defaults mirroring BASELINE.md's generator run)
  * driven through the FULL 3-sink fan-out (parse → validate → bronze
  * append + quarantine append + windowed gold MERGE), measuring
  * events/s and per-micro-batch latency. The reference publishes
  * streaming SLOs (P95 end-to-end < 3 min at 120 ev/s) rather than
  * batch sec/query; this makes the analog measurable on this engine.
  *
  * Source is a JSONL file directory with `maxFilesPerTrigger=1` (one
  * generated chunk per micro-batch), NOT MemoryStream: a fan-out's
  * three queries each need their own source offsets, and a shared
  * MemoryStream instance tracks a single commit cursor — the faster
  * sink commits chunk N before the slower sink commits chunk 0 and the
  * source throws "offsets committed out of order". File sources give
  * every query an independent source from the same directory (the
  * production S1 shape), and the per-file batching advances the
  * watermark chunk by chunk so late-event drops behave as they would
  * live. */
final case class StreamBenchResult(
    nEvents: Long,
    elapsedSec: Double,
    eventsPerSec: Double,
    nBatches: Int,
    maxBatchSec: Double,
    bronzeRows: Long,
    quarantineRows: Long,
    goldRows: Long,
    dropRatio: Double,
    lateRatioConfigured: Double,
    /** Per stateful micro-batch, in batch order: total state-store
      * rows and bytes summed across the gold query's state operators
      * (dedup + window agg) — the state-GROWTH probe: with watermark
      * eviction these plateau at horizon content; without, they grow
      * with the whole history. */
    stateRowsPerBatch: Seq[Long] = Seq.empty,
    stateMemPerBatch: Seq[Long] = Seq.empty)

object StreamBench {

  /** File names a file-source stream consumed, in batch order, read
    * from its source log (`v1` header, then one JSON entry per file
    * with its `path` and `batchId`; compacted logs repeat entries). */
  private def consumedFiles(sourceLog: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val entry = """"path":"([^"]*)".*"batchId":(\d+)""".r.unanchored
    Files.list(sourceLog).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith(".")) // checksum files
      .flatMap(f => Files.readAllLines(f).asScala)
      .collect { case entry(path, batch) => (batch.toLong, path.split('/').last) }
      .distinct.sortBy(_._1).map(_._2)
  }

  /** Run the fan-out over `totalEvents` generated events split into
    * `chunks` JSONL files (one micro-batch each per sink). */
  def run(spark: SparkSession, totalEvents: Int = 24000, chunks: Int = 8): StreamBenchResult = {
    val cfg = Generator.RunConfig("streambench", seed = 7L, totalEvents = totalEvents,
      startAt = Instant.parse("2024-01-01T00:00:00Z"))
    val out = Generator.run(cfg)
    runRaw(spark, out.events.map(_.json), chunks, totalEvents, cfg.lateEventRatio)
  }

  /** Drive the same 3-sink fan-out over caller-built JSONL event lines
    * — the state-scale probe's entry: the caller controls key
    * cardinality and event-time span directly (the generator's
    * registry fixes one video per scenario, far too few keys to
    * exercise state growth). */
  def runRaw(spark: SparkSession, jsons: Seq[String], chunks: Int,
             totalEvents: Int, lateRatioConfigured: Double): StreamBenchResult = {
    val dir = Files.createTempDirectory("graft_streambench").toString
    val inDir = Paths.get(dir, "in")
    Files.createDirectories(inDir)
    val chunkSize = math.max(1, jsons.size / chunks)
    val files = jsons.grouped(chunkSize).zipWithIndex.map { case (chunk, i) =>
      Files.write(inDir.resolve(f"chunk-$i%04d.jsonl"), chunk.mkString("\n").getBytes("UTF-8"))
    }.toIndexedSeq
    // chunk i gets modification time base + i s: the file source orders
    // new files by modification time alone, and files written in one
    // burst share a millisecond, so chunks would otherwise enter out of
    // name order, tied differently from run to run (and with them the
    // watermark, the watermark drops and the state evictions)
    val base = System.currentTimeMillis() - files.size * 1000L
    files.zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(f, FileTime.fromMillis(base + i * 1000L))
    }

    // streaming state width is a THROUGHPUT parameter, not a cluster
    // parameter: state-store instances = shuffle partitions at first
    // batch, and a micro-batch of a 120 ev/s SLO stream carries only
    // thousands of rows — spreading them over the batch engine's full
    // shuffle width pays per-partition store/commit/task cost for
    // near-empty state partitions every batch (measured at sf defaults:
    // width 32 → 27-37 s, width 8 → 12-18 s, identical gold/drop
    // output). The stream queries therefore run in their OWN session
    // (same SparkContext, batch session untouched) at
    // SPARK_GRAFT_STREAM_WIDTH (default min(batch width, 8) — raise
    // for streams whose per-batch volume actually fills more
    // partitions; state is re-keyed only at fresh checkpoints).
    val streamSpark = {
      val s2 = spark.newSession()
      val w = sys.env.get("SPARK_GRAFT_STREAM_WIDTH").filter(_.nonEmpty).map(_.toInt)
        .getOrElse(math.min(s2.sessionState.conf.numShufflePartitions, 8))
      s2.conf.set("spark.sql.shuffle.partitions", w.toString)
      s2
    }
    val raw = streamSpark.readStream
      .option("maxFilesPerTrigger", 1)
      .text(inDir.toString)
      .select(col("value").as("raw_value"))
      .withColumn("source_topic", lit("bench_topic"))
      .withColumn("source_partition", lit(0))
      .withColumn("source_offset", xxhash64(col("raw_value")))
    val jobCfg = StreamingJobConfig(
      checkpointRoot = s"$dir/ckpt", bronzePath = s"$dir/bronze",
      quarantinePath = s"$dir/quarantine", goldPath = s"$dir/gold",
      bronzeTrigger = Trigger.ProcessingTime(0),
      goldTrigger = Trigger.ProcessingTime(0))

    // metrics come from each query's OWN recentProgress ring (read
    // synchronously after processAllAvailable), not a
    // StreamingQueryListener: listener events are dispatched async on
    // the bus, so a trailing progress event — often the one recording
    // the watermark drops — could be missed at read time. Same
    // stateful-only denominator rule as DropRatioListener.
    val job = StreamingJob.start(streamSpark, raw, jobCfg)
    try {
      val t0 = System.nanoTime()
      job.processAllAvailable()
      val elapsed = (System.nanoTime() - t0) / 1e9
      for (q <- Seq("bronze", "quarantine", "gold")) {
        val order = consumedFiles(Paths.get(dir, "ckpt", q, "sources", "0"))
        require(order == files.map(_.getFileName.toString),
          s"$q consumed the chunks out of name order: ${order.mkString(", ")}")
      }
      val progresses = job.all.flatMap(_.recentProgress.toSeq)
      val batchDurations = progresses
        .filter(_.numInputRows > 0)
        .map(_.durationMs.get("triggerExecution").toDouble / 1e3)
      val stateful = progresses.filter(_.stateOperators.nonEmpty)
      val statefulInput = stateful.map(_.numInputRows).sum
      val dropped = stateful.flatMap(_.stateOperators.toSeq).map(_.numRowsDroppedByWatermark).sum
      val statefulByBatch = stateful.sortBy(_.batchId)

      val bronzeRows = spark.read.parquet(s"$dir/bronze").count()
      val quarantineRows = spark.read.parquet(s"$dir/quarantine").count()
      val goldRows = spark.read.parquet(s"$dir/gold").count()
      StreamBenchResult(
        nEvents = totalEvents.toLong,
        elapsedSec = elapsed,
        eventsPerSec = totalEvents / elapsed,
        nBatches = batchDurations.size,
        maxBatchSec = if (batchDurations.nonEmpty) batchDurations.max else 0.0,
        bronzeRows = bronzeRows,
        quarantineRows = quarantineRows,
        goldRows = goldRows,
        dropRatio = if (statefulInput == 0) 0.0 else dropped.toDouble / statefulInput,
        lateRatioConfigured = lateRatioConfigured,
        stateRowsPerBatch =
          statefulByBatch.map(_.stateOperators.toSeq.map(_.numRowsTotal).sum).toSeq,
        stateMemPerBatch =
          statefulByBatch.map(_.stateOperators.toSeq.map(_.memoryUsedBytes).sum).toSeq)
    } finally {
      // a throw anywhere above must not leak three running streaming
      // queries into the caller's (shared) session
      job.stopAll()
    }
  }
}
