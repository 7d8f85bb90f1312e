package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Traced-mode recorder. Spans are taken by the harness around its own
  * calls into each program layer (nothing inside the program is
  * instrumented); Spark work is attributed through a [[SparkListener]]
  * keyed by the `perfbench.op` local property (driver-thread jobs) or
  * by the streaming query id and batch id Spark itself stamps on every
  * micro-batch job. Everything is kept in memory and written as JSON
  * lines once the run ends. With tracing off every method is a no-op
  * and no listener is registered. */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val records = mutable.ArrayBuffer[Map[String, Any]]()
  private var stack = List.empty[Int]
  private var nextId = 1
  private var currentOp = ""
  private var generation = 0
  private var listener = new Listener(generation)
  private val executions = new ConcurrentLinkedQueue[Map[String, Any]]()

  /** Attach the listeners to a new session. Job and stage ids restart
    * with every SparkContext, so records carry the context generation. */
  def install(spark: SparkSession): Unit =
    if (enabled) {
      generation += 1
      listener = new Listener(generation)
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
          val ph = qe.tracker.phases
          def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
          executions.add(Map("func" -> funcName, "analysis_ms" -> ms("analysis"),
            "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning")))
        }
        override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
      })
    }

  /** Move the finished context's listener records into the trace. */
  def keep(spark: SparkSession): Unit =
    if (enabled) {
      org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)
      records ++= listener.records.asScala
      listener.records.clear()
    }

  /** Close an operation: wait for the listener bus, then file the
    * Dataset executions reported since the last call under `op`. */
  def endOp(spark: SparkSession, op: String): Unit =
    if (enabled) {
      org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)
      var e = executions.poll()
      while (e != null) {
        record("execution", e + ("op" -> op))
        e = executions.poll()
      }
    }

  /** Tag the Spark jobs the driver thread submits with `op` until the
    * next call. The tag is set in both modes so the two runs submit
    * identical jobs. */
  def beginOp(spark: SparkSession, op: String): Unit = {
    currentOp = op
    spark.sparkContext.setLocalProperty(OpKey, op)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        records += Map("kind" -> "span", "id" -> id, "parent" -> parent, "name" -> name,
          "op" -> currentOp, "start_ns" -> start, "end_ns" -> end)
      }
    }

  def record(kind: String, fields: Map[String, Any]): Unit =
    if (enabled) records += (fields + ("kind" -> kind))

  /** One record per micro-batch progress of a streaming sink. */
  def progress(sink: String, p: StreamingQueryProgress): Unit =
    record("progress", Map(
      "sink" -> sink, "query_id" -> p.id.toString, "batch" -> p.batchId,
      "input_rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state" -> p.stateOperators.toSeq.map(s => Map(
        "operator" -> s.operatorName, "rows_total" -> s.numRowsTotal,
        "rows_updated" -> s.numRowsUpdated, "memory_bytes" -> s.memoryUsedBytes,
        "dropped_by_watermark" -> s.numRowsDroppedByWatermark)),
      "watermark" -> Option(p.eventTime.get("watermark")).getOrElse("")))

  /** Drain the listener bus, then return every record in arrival order. */
  def drain(spark: SparkSession): Seq[Map[String, Any]] = {
    keep(spark)
    records.toSeq
  }

  private final class Listener(gen: Int) extends SparkListener {
    val records = new ConcurrentLinkedQueue[Map[String, Any]]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    private val stageAgg = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).getOrElse(new java.util.Properties)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      records.add(Map("kind" -> "job", "ctx" -> gen, "job" -> e.jobId, "time_ms" -> e.time,
        "op" -> Option(p.getProperty(OpKey)).getOrElse(""),
        "query_id" -> Option(p.getProperty("sql.streaming.queryId")).getOrElse(""),
        "batch" -> Option(p.getProperty("streaming.sql.batchId")).map(_.toLong).getOrElse(-1L)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val i = e.taskInfo
        val gettingResult = if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L
        val delay = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - gettingResult)
        val a = stageAgg.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new Array[Long](StageFields.size))
        a.synchronized {
          val v = Seq(1L, m.executorRunTime, m.executorCpuTime, m.executorDeserializeTime,
            m.jvmGCTime, delay, m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.diskBytesSpilled, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
            m.outputMetrics.recordsWritten)
          v.indices.foreach(k => a(k) += v(k))
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val a = Option(stageAgg.remove((s.stageId, s.attemptNumber()))).getOrElse(new Array[Long](StageFields.size))
      records.add(Map("kind" -> "stage", "ctx" -> gen, "stage" -> s.stageId,
        "job" -> Option(stageJob.get(s.stageId)).getOrElse(-1)) ++ StageFields.zip(a.toSeq))
    }
  }
}

object Tracer {
  val OpKey = "perfbench.op"

  /** Per-stage task sums, in the order the listener accumulates them
    * (times in ms except `cpu_ns`). */
  val StageFields: Seq[String] = Seq("tasks", "run_ms", "cpu_ns", "deser_ms", "gc_ms",
    "sched_delay_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "output_bytes", "output_records")
}
