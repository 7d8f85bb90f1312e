package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.SharedFrames

class SharedFramesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("memoize builds once per key and does NOT evaluate the builder on a hit") {
    var builds = 0
    def build = { builds += 1; Seq(1L, 2L, 3L).toDF("x") }
    val a = SharedFrames.memoize(spark, "sfspec:build-once")(build)
    val b = SharedFrames.memoize(spark, "sfspec:build-once")(build)
    assert(builds == 1, s"builder must run exactly once, ran $builds times")
    assert(a.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(b.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("distinct keys build distinct frames") {
    val a = SharedFrames.memoize(spark, "sfspec:k1")(Seq(1L).toDF("x"))
    val b = SharedFrames.memoize(spark, "sfspec:k2")(Seq(2L).toDF("x"))
    assert(a.as[Long].head() == 1L && b.as[Long].head() == 2L)
  }

  test("memoized frame is a checkpoint leaf (survives clearCache)") {
    val a = SharedFrames.memoize(spark, "sfspec:leaf")(Seq(7L, 7L).toDF("x").distinct())
    spark.sharedState.cacheManager.clearCache()
    assert(a.as[Long].collect().toSeq == Seq(7L), "leaf must stay readable after clearCache")
  }

  test("memoize is RE-ENTRANT: a builder may memoize an inner leaf " +
    "(nested shared frames — the 12-query 'Recursive update' regression)") {
    // computeIfAbsent would throw IllegalStateException("Recursive
    // update") here; whether production hits this depends on query
    // iteration order, so it must be pinned as a hard regression test
    var innerBuilds = 0
    val out = SharedFrames.memoize(spark, "reentrant_outer") {
      val inner = SharedFrames.memoize(spark, "reentrant_inner") {
        innerBuilds += 1; Seq(1L, 2L).toDF("x")
      }
      inner.agg(org.apache.spark.sql.functions.sum("x").as("s"))
    }
    assert(out.as[Long].collect().toSeq == Seq(3L))
    assert(innerBuilds == 1)
    // the inner leaf landed in the memo during the outer build: a
    // later direct consumer gets a hit, not a rebuild
    SharedFrames.memoize(spark, "reentrant_inner") {
      innerBuilds += 1; Seq(99L).toDF("x")
    }
    assert(innerBuilds == 1, "inner leaf must be memoized from the nested build")
  }

  test("a racing first consumer's losing leaf is released from storage") {
    def stored = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val before = stored
    var winner: org.apache.spark.sql.DataFrame = null
    val got = SharedFrames.memoize(spark, "sfspec:race") {
      // another first consumer of the key finishes its build first
      // (here re-entrantly), so this build loses the putIfAbsent
      winner = SharedFrames.memoize(spark, "sfspec:race")(Seq(1L, 2L).toDF("x"))
      Seq(1L, 2L).toDF("x")
    }
    assert(got eq winner)
    val winnerPages = winner.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.dependencies.head.rdd.id
    }.get
    assert(stored -- before == Set(winnerPages), "the losing leaf still holds storage")
    assert(got.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }
}
