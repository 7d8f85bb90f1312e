package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set-up, then whole rounds of the
  * workload's fixed operation list (a closed loop with one client) until
  * `--seconds` have passed, at least one round. Set-up ends with a small
  * engine warm-up and the workload's one preparation, and runs no other
  * program code, so the first operation still pays the program's class
  * loading and JIT compilation, as the first request to a freshly started
  * job does. Writes `result.json` (and `trace.jsonl` when traced) into
  * `--out`; `run.py` turns them into metrics and checks every output.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --out DIR --cores C [--data DIR]
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        out: Path, cores: Int, data: String)

  /** One timed operation. `result` names the output the checks read. */
  final case class Op(round: Int, index: Int, name: String, latencyMs: Double,
                      error: String, result: String)

  /** What each workload provides to the common driver loop. */
  trait Workload {
    /** Input preparation inside the JVM, the last step of set-up. */
    def prep(): Unit
    /** Get round `r` ready; runs inside the timed phase but outside the
      * round's own makespan. */
    def openRound(r: Int): Unit = ()
    /** One round of the operation list. */
    def round(r: Int): Seq[Op]
    /** Release what the round held open, after the heap was measured. */
    def closeRound(): Unit = ()
    /** Extra fields for result.json (output locations for the checks). */
    def extra: Map[String, Any] = Map.empty
  }

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("out")), m("cores").toInt, m.getOrElse("data", ""))
  }

  def session(cores: Int): SparkSession = {
    val s = graft.core.ScaleDefaults(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false"), shufflePartitions = cores.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9

  def heapAfterGcMb(): Double = {
    System.gc(); Thread.sleep(100); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def millisSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Workload-independent engine warm-up: one small job through a
    * parquet write and read, a shuffle aggregation, a join and a window,
    * so Spark's own one-time initialisation is paid in set-up rather
    * than by the first timed operation. No program code runs here. */
  def engineWarmup(spark: SparkSession, dir: Path): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    spark.range(0, 20000, 1, 4)
      .select(col("id"), (col("id") % 97).as("k"), (col("id") * 0.5).as("v"),
        concat(lit("s"), col("id").cast("string")).as("s"))
      .write.mode("overwrite").parquet(dir.toString)
    val df = spark.read.parquet(dir.toString)
    val agg = df.groupBy("k").agg(sum("v").as("sv"), count(lit(1)).as("n"))
    df.join(agg, "k")
      .withColumn("r", row_number().over(Window.partitionBy("k").orderBy("id")))
      .filter(col("r") <= 3).collect()
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.out)
    val ctx = new Ctx(args)
    val readyEpochMs = System.currentTimeMillis()
    val w: Workload = args.workload match {
      case "live_pipeline" => new LivePipeline(ctx)
      case "batch_operators" => new QueryWorkload(ctx, QueryWorkload.Batch, QueryWorkload.BatchTables)
      case other => sys.error(s"unknown workload $other")
    }
    engineWarmup(ctx.spark, args.out.resolve("engine-warmup"))
    w.prep()
    val firstOpEpochMs = System.currentTimeMillis()
    val start = System.nanoTime()
    val ops = mutable.ArrayBuffer[Op]()
    val rounds = mutable.ArrayBuffer[Map[String, Any]]()
    var heap = 0.0
    var r = 0
    var done = false
    while (!done) {
      w.openRound(r)
      val c0 = cpuSeconds()
      val t0 = System.nanoTime()
      ops ++= w.round(r)
      rounds += Map("makespan_s" -> millisSince(t0) / 1e3, "cpu_s" -> (cpuSeconds() - c0))
      done = millisSince(start) / 1e3 >= args.seconds
      // the timed phase ends here: measure before the round lets go of anything
      if (done) heap = heapAfterGcMb()
      w.closeRound()
      r += 1
    }
    ctx.tracer.beginOp(ctx.spark, "")
    val result = Map(
      "ready_epoch_ms" -> readyEpochMs, "first_op_epoch_ms" -> firstOpEpochMs,
      "timed_s" -> millisSince(start) / 1e3,
      "rounds" -> rounds.toSeq, "heap_retained_mb" -> heap,
      "ops" -> ops.toSeq.map(o => Map("round" -> o.round, "index" -> o.index, "name" -> o.name,
        "latency_ms" -> o.latencyMs, "error" -> o.error, "result" -> o.result))) ++ w.extra
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    if (ctx.tracer.enabled)
      Files.writeString(args.out.resolve("trace.jsonl"),
        ctx.tracer.drain(ctx.spark).map(mapper.writeValueAsString).mkString("", "\n", "\n"))
    Files.writeString(args.out.resolve("result.json"),
      mapper.writeValueAsString(result + ("end_epoch_ms" -> System.currentTimeMillis())))
    ctx.spark.stop()
  }
}

/** Shared run state: the arguments, the live session (replaced when a
  * workload needs a fresh one) and the tracer bound to it. */
final class Ctx(val args: Main.Args) {
  val tracer = new Tracer(args.trace)
  private var current: SparkSession = _
  renew()

  def spark: SparkSession = current

  /** Stop the session (if any) and start a fresh SparkContext, so
    * session-scoped memos start empty. Trace records of the old
    * context are kept. */
  def renew(): Unit = {
    if (current != null) {
      tracer.keep(current)
      current.stop()
    }
    current = Main.session(args.cores)
    tracer.install(current)
  }
}
