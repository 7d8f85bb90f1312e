package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicLongArray
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.DatasetBridge

/** The measurement main: every SparkEntry query at SPARK_GRAFT_SF_DIR
  * on the [[graft.core.ScaleDefaults.localSession]] session (AQE on,
  * timezone UTC, as Verify runs them).
  *
  * Protocol of every timed run: build the DataFrame
  * (`SparkEntry.queries(name)(spark, dir)`), then a noop write of it —
  * a full-result action (count() would let Catalyst prune the final
  * projections, e.g. rounded cosine columns, out of the measured plan)
  * — then `clearCache`, so per-query persists do not leak into the next
  * query's timing. An untimed `q_topk` run first takes session, codegen
  * and file-system start-up out of the numbers. A failing query is
  * reported on stderr, never swallowed: its short time-to-throw would
  * read as a speedup.
  *
  * With no argument it writes the record: two full sweeps in query-name
  * order, then the `stream` leg, one JSON line to stdout, to
  * `bench_out.json` (overwritten) and as a row of `bench_history.jsonl`
  * (appended, stamped `at`). Keys:
  *  - `metric`/`value`/`unit`: "total", the sum of `queries`, "sec";
  *  - `queries`: name → seconds, the min over the successful samples
  *    (the raw min when every sample failed). The two samples of a query
  *    are a whole sweep apart, so one sustained load spike poisons at
  *    most one of them, while a plan regression shows in both;
  *  - `stream`: the StreamBench fan-out (24 000 generated events in 8
  *    chunks). Its seconds are micro-batch orchestration, not plan cost,
  *    so they stay out of `value`;
  *  - `sf`: the scale-factor directory;
  *  - `counters`: name → the counters of sweep 1, which pays the same
  *    shared-leaf builds on every run because it goes in name order:
  *    `build_ms` (building the DataFrame), `build_jobs` (jobs started
  *    while building: leaf and loop cuts), `exec_ms` (the noop write),
  *    then `jobs`, `stages`, `tasks`, `task_run_s`, `task_cpu_s`,
  *    `task_deser_s`, `task_gc_s`, `shuffle_read_mb`, `shuffle_write_mb`,
  *    `spill_mb` and `input_mb` over the whole run (perfbench's
  *    `queries.*` metrics), `leaf_mb` (stored leaf bytes, shared leaves
  *    included, read before `clearCache`) and `ok`;
  *  - `provenance`: git SHA, cpus, sf dir, load average, Spark version
  *    and a hash of the session conf.
  *
  * Arguments make a probe that writes no file:
  *  - `q_a q_b …`: the queries to time (all when none is named), one
  *    JSON line per query per pass with `wall_s` and the counters above;
  *  - `--passes N`: passes of a probe (default 3);
  *  - `--conf k=v`, repeatable: a session setting applied after
  *    ScaleDefaults (e.g. `spark.sql.shuffle.partitions=8` for the
  *    state-store width of the stream leg);
  *  - `--stream`: run only the stream leg, once per pass;
  *  - `--explain`: print `explain("formatted")` of the named queries
  *    (all when none is named) and run none of them.
  * A probe prints the `provenance` line first. SPARK_GRAFT_CPUS sets
  * the core count, as for Verify. */
object Bench {

  /** The command line: query names and the four flags. */
  final case class Opts(names: Seq[String] = Nil, passes: Option[Int] = None,
      conf: Seq[(String, String)] = Nil, stream: Boolean = false, explain: Boolean = false) {
    /** No argument at all: the full-sweep record. */
    def record: Boolean = this == Opts()
  }

  def parse(args: Seq[String]): Opts = args match {
    case Seq() => Opts()
    case "--passes" +: n +: rest => parse(rest).copy(passes = Some(n.toInt))
    case "--conf" +: kv +: rest => kv.split("=", 2) match {
      case Array(k, v) => val o = parse(rest); o.copy(conf = (k -> v) +: o.conf)
      case _ => sys.error(s"--conf wants k=v, got: $kv")
    }
    case "--stream" +: rest => parse(rest).copy(stream = true)
    case "--explain" +: rest => parse(rest).copy(explain = true)
    case flag +: _ if flag.startsWith("--") => sys.error(s"unknown flag: $flag")
    case name +: rest => val o = parse(rest); o.copy(names = name +: o.names)
  }

  private val MB = 1048576.0

  /** Counters over a whole run, with the factor from the listener's raw
    * sum (counts, ms, ns, bytes) to the reported unit. */
  private val Fields: Seq[(String, Double)] = Seq("jobs" -> 1.0, "stages" -> 1.0, "tasks" -> 1.0,
    "task_run_s" -> 1e-3, "task_cpu_s" -> 1e-9, "task_deser_s" -> 1e-3, "task_gc_s" -> 1e-3,
    "shuffle_read_mb" -> 1 / MB, "shuffle_write_mb" -> 1 / MB, "spill_mb" -> 1 / MB,
    "input_mb" -> 1 / MB)

  /** Sums of every job, stage and task of the session's context, from
    * its registration until [[close]]. */
  final class Collector(spark: SparkSession) extends SparkListener {
    private val raw = new AtomicLongArray(Fields.size)
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = raw.incrementAndGet(0)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = raw.incrementAndGet(1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      Seq(1L, m.executorRunTime, m.executorCpuTime, m.executorDeserializeTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.inputMetrics.bytesRead)
        .zipWithIndex.foreach { case (v, i) => raw.addAndGet(i + 2, v) }
    }

    /** The sums so far, once every event posted before the call is in. */
    def snapshot(): Array[Long] = {
      DatasetBridge.drainListeners(spark.sparkContext)
      Array.tabulate(Fields.size)(raw.get)
    }

    def close(): Unit = spark.sparkContext.removeSparkListener(this)
  }

  /** One timed run: build + exec seconds, and its counters in record order. */
  final case class Sample(ok: Boolean, wallS: Double, counters: Seq[(String, Any)])

  def measure(spark: SparkSession, sfDir: String, c: Collector, name: String): Sample = {
    val ns = Array(0L, 0L)
    def phase[T](i: Int)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally ns(i) = System.nanoTime() - t0
    }
    val c0 = c.snapshot()
    var c1 = c0
    val ok = try {
      val df = try phase(0)(SparkEntry.queries(name)(spark, sfDir)) finally c1 = c.snapshot()
      phase(1)(df.write.format("noop").mode("overwrite").save())
      true
    } catch {
      case e: Throwable => System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
    }
    val leafMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / MB
    spark.sharedState.cacheManager.clearCache()
    Sample(ok, (ns(0) + ns(1)) / 1e9,
      Seq("build_ms" -> ns(0) / 1e6, "build_jobs" -> (c1(0) - c0(0)), "exec_ms" -> ns(1) / 1e6) ++
        delta(c0, c.snapshot()) ++ Seq("leaf_mb" -> leafMb, "ok" -> ok))
  }

  /** The counters between two snapshots, in their units. */
  private def delta(c0: Array[Long], c1: Array[Long]): Seq[(String, Any)] =
    Fields.zipWithIndex.map { case ((k, f), i) =>
      val d = c1(i) - c0(i)
      k -> (if (f == 1.0) d: Any else d * f) // counts stay integers
    }

  /** The stream leg's block, or None (reported on stderr) if it failed. */
  private def stream(spark: SparkSession): Option[Seq[(String, Any)]] =
    try {
      val r = graft.streaming.StreamBench.run(spark, totalEvents = 24000, chunks = 8)
      Some(Seq("elapsed_sec" -> r.elapsedSec, "events" -> r.nEvents,
        "events_per_sec" -> r.eventsPerSec.round, "batches" -> r.nBatches,
        "max_batch_sec" -> r.maxBatchSec, "drop_ratio" -> r.dropRatio, "gold_rows" -> r.goldRows))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] stream_fanout FAILED: ${e.getMessage}"); None
    }

  private def provenance(spark: SparkSession, sfDir: String): Seq[(String, Any)] = {
    import scala.sys.process._
    import scala.util.Try
    // names, ids, addresses, times and the checkout's warehouse path
    // differ from run to run without changing a plan
    val perRun = Set("spark.app.id", "spark.app.name", "spark.app.startTime", "spark.app.submitTime",
      "spark.driver.host", "spark.driver.port", "spark.sql.warehouse.dir")
    val conf = spark.conf.getAll.toSeq.sorted.filterNot { case (k, _) => perRun(k) }
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(conf.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    // the commit's SHA, with "-dirty" when the tree has uncommitted changes
    val git = Try(Seq("git", "describe", "--always", "--dirty", "--abbrev=40", "--exclude=*")
      .!!(ProcessLogger(_ => ())).trim)
    Seq("git_sha" -> git.getOrElse("unknown"),
      "cpus" -> spark.sparkContext.defaultParallelism, "sf" -> sfDir,
      "loadavg" -> Try(Files.readString(Paths.get("/proc/loadavg")).trim).getOrElse(""),
      "spark" -> spark.version, "conf_sha256" -> sha)
  }

  /** JSON of a value: an object is a `Seq` of (key, value) pairs, kept in order. */
  private def json(v: Any): String = v match {
    case kvs: Seq[(String, Any)] @unchecked =>
      kvs.map { case (k, x) => json(k) + ":" + json(x) }.mkString("{", ",", "}")
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case x => x.toString
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (opts.names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else opts.names
    names.filterNot(SparkEntry.queries.contains).foreach(n => sys.error(s"unknown query: $n"))
    val spark = graft.core.ScaleDefaults.localSession(opts.conf)
    if (!opts.record) println(json(Seq("provenance" -> provenance(spark, sfDir))))

    if (opts.explain) names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      spark.sharedState.cacheManager.clearCache()
    } else {
      val c = new Collector(spark)
      measure(spark, sfDir, c, "q_topk")
      val passes = opts.passes.getOrElse(3)
      if (opts.stream) (1 to passes).foreach { p =>
        val c0 = c.snapshot()
        val t0 = System.nanoTime()
        val block = stream(spark)
        val wall = (System.nanoTime() - t0) / 1e9
        println(json(Seq("pass" -> p, "ok" -> block.isDefined, "wall_s" -> wall) ++
          block.map("stream" -> _) ++ delta(c0, c.snapshot())))
      } else if (!opts.record) for (p <- 1 to passes; n <- names) {
        val s = measure(spark, sfDir, c, n)
        println(json(Seq("pass" -> p, "query" -> n, "wall_s" -> s.wallS) ++ s.counters))
      } else {
        val sweeps = Seq.fill(2)(names.map(n => n -> measure(spark, sfDir, c, n)).toMap)
        val secs = names.map { n =>
          val samples = sweeps.map(_(n))
          val good = samples.filter(_.ok)
          n -> (if (good.nonEmpty) good else samples).map(_.wallS).min
        }
        val line = json(Seq("metric" -> "total", "value" -> secs.map(_._2).sum, "unit" -> "sec") ++
          stream(spark).map("stream" -> _) ++
          Seq("queries" -> secs, "sf" -> sfDir, "counters" -> names.map(n => n -> sweeps.head(n).counters),
            "provenance" -> provenance(spark, sfDir)))
        println(line)
        // a file as well as stdout, since a driver log can truncate the
        // line; the history keeps every run, which bench_out.json does not
        Files.writeString(Paths.get("bench_out.json"), line + "\n")
        Files.writeString(Paths.get("bench_history.jsonl"),
          s"""{"at":"${java.time.Instant.now()}","line":$line}""" + "\n",
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }
      c.close()
    }
    spark.stop()
  }
}
