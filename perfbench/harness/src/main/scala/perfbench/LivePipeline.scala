package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.functions.Decisions.Thresholds
import graft.generator.Generator
import graft.serving.Serving
import graft.streaming.{CdcPipeline, StreamingJob, StreamingJobConfig}
import perfbench.Main.Op

/** `live_pipeline`: the paper's path end to end. The generator's event
  * and CDC streams are staged as chunk files; each operation makes one
  * chunk available to the running file-source queries (bronze,
  * quarantine and gold MERGE from `StreamingJob`; CDC quarantine and
  * dim MERGE from `CdcPipeline`), waits for all five to process it,
  * then runs `Serving.rolling30m -> decisionContext -> actionQueueRows`
  * over the gold table and writes that chunk's action queue. A round
  * is one fresh pipeline (new tables and checkpoints) fed every chunk.
  *
  * Layout of round r under `--out`: r<r>/{bronze,quarantine,gold,dim,
  * cdc_quarantine,queue/<k>,gold_snap/<k>} plus the staged inputs in
  * stage/{events,cdc}/chunk-<k>.jsonl and stage/truth.jsonl.
  */
final class LivePipeline(ctx: Ctx) extends Main.Workload {
  import LivePipeline._

  private val out = ctx.args.out
  private val stage = out.resolve("stage")
  private var running: Seq[(String, StreamingQuery)] = Nil
  private var roundDir: Path = _

  def prep(): Unit =
    stageInputs(stage, ctx.tracer.span("generator.generate")(generate(ctx.args.seed)))

  override def openRound(r: Int): Unit = start(out.resolve(s"r$r"), stage)

  def round(r: Int): Seq[Op] = (0 until Chunks).map(k => chunk(r, k))

  override def closeRound(): Unit = {
    running.foreach { case (sink, q) =>
      q.recentProgress.groupBy(_.batchId).values.map(_.last).toSeq.sortBy(_.batchId)
        .foreach(p => ctx.tracer.progress(sink, p))
      ctx.tracer.record("sink", Map("sink" -> sink, "query_id" -> q.id.toString,
        "dir" -> roundDir.getFileName.toString))
      q.stop()
    }
    running = Nil
  }

  override def extra: Map[String, Any] = Map("chunks" -> Chunks)

  /** Fresh tables and checkpoints under `dir`, all five queries running
    * on empty input directories. */
  private def start(dir: Path, from: Path): Unit = {
    roundDir = dir
    for (s <- Seq("events", "cdc")) {
      val pending = Files.createDirectories(dir.resolve("pending").resolve(s))
      Files.createDirectories(dir.resolve("in").resolve(s))
      Files.list(from.resolve(s)).iterator().asScala.foreach(f =>
        Files.copy(f, pending.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
    }
    val spark = ctx.spark
    // streaming threads inherit the driver thread's local properties
    ctx.tracer.beginOp(spark, "")
    def raw(s: String, topic: String): DataFrame = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .text(dir.resolve("in").resolve(s).toString)
      .select(col("value").as("raw_value"))
      .withColumn("source_topic", lit(topic))
      .withColumn("source_partition", lit(0))
      .withColumn("source_offset", xxhash64(col("raw_value")))
    val p = (n: String) => dir.resolve(n).toString
    val job = StreamingJob.start(spark, raw("events", "content_events"), StreamingJobConfig(
      checkpointRoot = p("ckpt"), bronzePath = p("bronze"), quarantinePath = p("quarantine"),
      goldPath = p("gold"), bronzeTrigger = Trigger.ProcessingTime(0),
      goldTrigger = Trigger.ProcessingTime(0)))
    val Seq(cdcQuarantine, dim) = CdcPipeline.start(spark, raw("cdc", "cdc.content.videos"),
      p("cdc_ckpt"), p("cdc_quarantine"), p("dim"), Trigger.ProcessingTime(0))
    running = Seq("bronze" -> job.bronze, "quarantine" -> job.quarantine, "gold" -> job.gold,
      "cdc_quarantine" -> cdcQuarantine, "cdc_dim" -> dim)
  }

  /** One operation: chunk `k` becomes visible, then the action queue
    * for it is written. Timed from the move to the queue write. */
  private def chunk(r: Int, k: Int): Op = {
    val spark = ctx.spark
    val name = f"chunk$k%02d"
    val op = s"r$r/$name"
    ctx.tracer.beginOp(spark, op)
    val t0 = System.nanoTime()
    val outcome = ctx.tracer.span("op") { try {
      ctx.tracer.span("streaming.process") {
        for (s <- Seq("events", "cdc")) {
          val f = roundDir.resolve("pending").resolve(s).resolve(f"chunk-$k%04d.jsonl")
          if (Files.exists(f))
            Files.move(f, roundDir.resolve("in").resolve(s).resolve(f.getFileName),
              StandardCopyOption.ATOMIC_MOVE)
        }
        running.foreach(_._2.processAllAvailable())
      }
      ctx.tracer.span("serving.decide") {
        val gold = spark.read.parquet(roundDir.resolve("gold").toString).select(
          col("user_id"), col("window_start").as("minute"),
          col("views"), col("clicks"), col("purchases"), col("errors"))
        val th = Thresholds()
        Serving.actionQueueRows(Serving.decisionContext(Serving.rolling30m(gold), th), th.ruleVersion)
          .write.mode("overwrite").parquet(roundDir.resolve("queue").resolve(k.toString).toString)
      }
      Right(s"queue/$k")
    } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") } }
    val latency = Main.millisSince(t0)
    ctx.tracer.endOp(spark, op)
    snapshotGold(k)
    outcome match {
      case Right(res) => Op(r, k, name, latency, "", res)
      case Left(err) => Op(r, k, name, latency, err, "")
    }
  }

  /** Hard-link the gold files the queue was computed from, so the
    * checks can recompute that chunk's queue (the MERGE sink replaces
    * the table directory on every batch). */
  private def snapshotGold(k: Int): Unit = {
    val gold = roundDir.resolve("gold")
    if (Files.isDirectory(gold)) {
      val snap = Files.createDirectories(roundDir.resolve("gold_snap").resolve(k.toString))
      Files.list(gold).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(f => Files.createLink(snap.resolve(f.getFileName), f))
    }
  }
}

object LivePipeline {
  /** Chunks per round and events per chunk: 30 s of event time at the
    * reference rate of 120 ev/s over 2000 users. Each chunk adds keys
    * (new users in the current minute, or a new minute), so the gold
    * table keeps growing through the round. */
  val Chunks = 6
  val EventsPerSecond = 120
  val ChunkEvents: Int = 30 * EventsPerSecond
  val Users = 2000
  val Start: Instant = Instant.parse("2024-01-01T00:00:00Z")

  final case class Generated(cfg: Generator.RunConfig, out: Generator.RunOutput)

  def generate(seed: Long): Generated = {
    val cfg = Generator.RunConfig(s"perfbench-$seed", seed, totalEvents = Chunks * ChunkEvents,
      startAt = Start, eventsPerSecond = EventsPerSecond, nUsers = Users)
    Generated(cfg, Generator.run(cfg))
  }

  /** The CDC feed per chunk: bootstrap creates in chunk 0, one update
    * per video and the invalid battery of FIXTURES.md §2 spread over the
    * later chunks, and in the last chunk a stale update (older ts_ms than
    * the update already merged) that must lose. */
  def cdcChunks(g: Generated): Map[Int, Seq[String]] = {
    val msgs = Generator.cdcMessages(g.cfg, g.out.registry)
    val (creates, updates) = msgs.splitAt(g.out.registry.size)
    val t0 = g.cfg.startAt.toEpochMilli
    val v0 = g.out.registry.head
    def after(fields: String) = s""""after":{$fields,"region":"US","upload_time":"${g.cfg.startAt}","status":"active"}"""
    val battery = Seq(
      "not-json-{mic43",
      s"""{"op":"d","ts_ms":$t0,"schema_version":"m1_v1",${after(s""""video_id":"${v0.videoId}","category":"deleted"""")}}""",
      s"""{"ts_ms":$t0,"schema_version":"m1_v1",${after(s""""video_id":"${v0.videoId}","category":"no_op"""")}}""",
      s"""{"op":"u","schema_version":"m1_v1",${after(s""""video_id":"${v0.videoId}","category":"no_ts"""")}}""",
      s"""{"op":"u","ts_ms":$t0,${after(s""""video_id":"${v0.videoId}","category":"no_version"""")}}""",
      s"""{"op":"u","ts_ms":$t0,"schema_version":"m1_v1",${after(""""category":"no_video"""")}}""")
    val stale = s"""{"op":"u","ts_ms":${t0 + 30000},"schema_version":"m1_v1",${after(s""""video_id":"${v0.videoId}","category":"${v0.category}_stale"""")}}"""
    val later = 1 until Chunks
    val spread = (updates ++ battery).zipWithIndex.map { case (m, i) => later(i % later.size) -> Seq(m) }
    val placed = (Seq(0 -> creates) ++ spread) :+ ((Chunks - 1) -> Seq(stale))
    placed.groupMapReduce(_._1)(_._2)(_ ++ _)
  }

  /** Write the chunk files and the generator's ground truth. */
  def stageInputs(dir: Path, g: Generated): Unit = {
    val ev = Files.createDirectories(dir.resolve("events"))
    val cdc = Files.createDirectories(dir.resolve("cdc"))
    g.out.events.grouped(ChunkEvents).zipWithIndex.foreach { case (c, k) =>
      Files.writeString(ev.resolve(f"chunk-$k%04d.jsonl"), c.map(_.json).mkString("", "\n", "\n"))
    }
    cdcChunks(g).foreach { case (k, lines) =>
      Files.writeString(cdc.resolve(f"chunk-$k%04d.jsonl"), lines.mkString("", "\n", "\n"))
    }
    Files.writeString(dir.resolve("truth.jsonl"), g.out.events.map(e =>
      s"""{"event_id":"${e.eventId}","late":${e.late},"valid":${e.valid}}""").mkString("", "\n", "\n"))
  }
}
