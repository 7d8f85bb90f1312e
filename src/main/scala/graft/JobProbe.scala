package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev probe: per-query job/stage/task counts, task time/CPU, wall time and
  * stored leaf bytes (3 passes, warm). Usage: runMain graft.JobProbe q_a q_b */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    var b = graft.core.ScaleDefaults(SparkSession.builder()
      .master(s"local[$cpus]").config("spark.ui.enabled", "false"), shufflePartitions = cpus)
    // ad-hoc conf overrides: SPARK_GRAFT_PROBE_CONF="k=v;k2=v2"
    sys.env.get("SPARK_GRAFT_PROBE_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); b = b.config(k, v) })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    val deserMs = new AtomicLong; val runMs = new AtomicLong; val gcMs = new AtomicLong
    val cpuNs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        val i = s.stageInfo
        val m = i.taskMetrics
        val ms = m.executorRunTime
        if (ms > 400) println(f"  STAGE ${i.stageId} tasks=${i.numTasks} runSec=${ms / 1e3}%.1f " +
          f"inRec=${m.inputMetrics.recordsRead} shRdRec=${m.shuffleReadMetrics.recordsRead} " +
          f"shWrRec=${m.shuffleWriteMetrics.recordsWritten} shWrMB=${m.shuffleWriteMetrics.bytesWritten / 1e6}%.1f " +
          f"peakMB=${m.peakExecutionMemory / 1e6}%.0f " + i.name.take(70))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) {
          taskMs.addAndGet(t.taskInfo.duration)
          if (t.taskMetrics != null) {
            deserMs.addAndGet(t.taskMetrics.executorDeserializeTime)
            runMs.addAndGet(t.taskMetrics.executorRunTime)
            gcMs.addAndGet(t.taskMetrics.jvmGCTime)
            cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
          }
        }
    })
    // bytes of every stored leaf after the query, shared ones included
    def run(name: String): Long = {
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val leafBytes = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
      spark.sharedState.cacheManager.clearCache()
      leafBytes
    }
    run("q_topk")
    for (p <- 1 to 3; name <- args.toSeq) {
      Thread.sleep(50)
      val (j0, s0, t0, m0) = (jobs.get, stages.get, tasks.get, taskMs.get)
      val (d0, r0, g0, c0) = (deserMs.get, runMs.get, gcMs.get, cpuNs.get)
      val w0 = System.nanoTime()
      val leafBytes = run(name)
      val w = (System.nanoTime() - w0) / 1e9
      Thread.sleep(100) // let listener drain
      println(f"PROBE pass=$p $name%s wall=${w}%.2f jobs=${jobs.get - j0} " +
        f"stages=${stages.get - s0} tasks=${tasks.get - t0} taskSec=${(taskMs.get - m0) / 1e3}%.2f " +
        f"deserSec=${(deserMs.get - d0) / 1e3}%.2f runSec=${(runMs.get - r0) / 1e3}%.2f " +
        f"cpuSec=${(cpuNs.get - c0) / 1e9}%.2f leafMB=${leafBytes / 1e6}%.1f " +
        f"gcSec=${(gcMs.get - g0) / 1e3}%.2f")
    }
    spark.stop()
  }
}
