package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scale-session contract: ScaleDefaults is the single source of
  * the production `--conf` set (Verify and Bench build their sessions
  * through it), and the runtime bloom-filter lever it turns on
  * actually injects on the join shape it exists for. */
class ScaleDefaultsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("ScaleDefaults carries the non-negotiable levers") {
    val m = graft.core.ScaleDefaults.configs("32").toMap
    assert(m("spark.sql.adaptive.enabled") == "true")
    assert(m("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(m("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true")
    assert(m("spark.sql.shuffle.partitions") == "32")
    assert(m("spark.sql.session.timeZone") == "UTC")
    assert(m("spark.hadoop.fs.file.impl") == classOf[graft.core.NoForkLocalFileSystem].getName)
    assert(m("spark.hadoop.fs.AbstractFileSystem.file.impl") == classOf[graft.core.NoForkLocalFs].getName)
    assert(m("spark.sql.codegen.cache.maxEntries") == "1000")
  }

  test("runtime bloom filter injects might_contain on a selective non-broadcast join") {
    // production thresholds assume TB-scale sides; scale them to the
    // test corpus so the MECHANICS are exercised: forbid broadcast,
    // allow any application-side size
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = graft.core.Tables(spark, "/root/testdata/sf0.01", "lineitem")
      val o = graft.core.Tables(spark, "/root/testdata/sf0.01", "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val plan = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority")).count()
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"bloom filter not injected on the fact side:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
