package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.serving.Reconcile

/** The shared count-diff formula of the RT-vs-batch reconciliation. */
class ReconcileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("countDiffRatio: abs(rt - batch) / max(batch, floor) per key; a key on one side only still counts") {
    val rt = Seq((1, 100L), (2, 50L), (4, 30L)).toDF("k", "rt_n")
    val batch = Seq((1, 100L), (2, 200L), (3, 80L)).toDF("k", "batch_n")
    val got = Reconcile.countDiffRatio(rt, batch, Seq("k"), "rt_n", "batch_n")
      .select("k", "count_diff_ratio").as[(Int, Double)].collect().toMap
    // key 3 is batch-only, key 4 RT-only (RT overcounting must not vanish)
    assert(got == Map(1 -> 0.0, 2 -> 0.75, 3 -> 0.8, 4 -> 0.3))
  }
}
