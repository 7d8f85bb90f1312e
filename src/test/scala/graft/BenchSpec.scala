package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.scalatest.funsuite.AnyFunSuite

/** graft.Bench's per-query collector and its command line. */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def measured(names: String*): Seq[Bench.Sample] = {
    val c = new Bench.Collector(spark)
    try names.map(Bench.measure(spark, dir, c, _)) finally c.close()
  }

  private def count(s: Bench.Sample, key: String): Long = s.counters.toMap.apply(key).asInstanceOf[Long]

  test("q_pagerank's loop leaves are cut while its DataFrame is built: build_jobs > 0") {
    val Seq(s) = measured("q_pagerank")
    assert(s.ok)
    assert(count(s, "build_jobs") > 0)
    assert(count(s, "build_jobs") <= count(s, "jobs"))
  }

  test("two queries back to back: per-query jobs and tasks sum to a whole-run listener's") {
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    val whole = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) tasks.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(whole)
    val samples = try measured("q_revenue_by_nation", "q_topk") finally {
      DatasetBridge.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(whole)
    }
    assert(samples.forall(_.ok))
    assert(samples.forall(count(_, "jobs") > 0))
    assert(samples.map(count(_, "jobs")).sum == jobs.get)
    assert(samples.map(count(_, "tasks")).sum == tasks.get)
  }

  test("a --conf argument reaches the session, over ScaleDefaults' value") {
    val opts = Bench.parse(Seq("q_topk", "--conf", "spark.sql.shuffle.partitions=3", "--passes", "2"))
    assert(opts == Bench.Opts(names = Seq("q_topk"), passes = Some(2),
      conf = Seq("spark.sql.shuffle.partitions" -> "3")))
    assert(!opts.record && Bench.parse(Nil).record)
    intercept[RuntimeException](Bench.parse(Seq("--conf", "no_value")))
    // a session of its own, so the shared one keeps its settings
    val s = spark.newSession()
    val active = SparkSession.getActiveSession
    SparkSession.setActiveSession(s)
    try {
      assert(graft.core.ScaleDefaults.localSession(opts.conf) eq s)
      assert(s.conf.get("spark.sql.shuffle.partitions") == "3")
    } finally active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
