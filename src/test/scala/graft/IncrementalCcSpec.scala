package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** incrementalComponents ≡ full recompute over old ∪ new edges — the
  * quotient-graph merge contract. */
class IncrementalCcSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select("id", "cluster_id").as[(Long, Long)].collect().toMap

  test("bridging pair merges two existing clusters to the min label; newcomers enter as singletons") {
    val baseEdges = Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val base = Dedup.connectedComponents(baseEdges)
    val newEdges = Seq((2L, 5L), (9L, 10L)).toDF("id_a", "id_b")
    val inc = labelsOf(Dedup.incrementalComponents(base, newEdges))
    // full recompute over the union must agree exactly
    val full = labelsOf(Dedup.connectedComponents(
      baseEdges.union(newEdges)))
    assert(inc == full, s"incremental $inc != full $full")
    assert(inc(6L) == 1L, "bridge must pull cluster {5,6} down to label 1")
    assert(inc(9L) == 9L && inc(10L) == 9L, "newcomer pair forms its own cluster")
  }

  test("new pairs INSIDE one existing cluster change nothing") {
    val baseEdges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val base = Dedup.connectedComponents(baseEdges)
    val inc = labelsOf(Dedup.incrementalComponents(
      base, Seq((1L, 3L)).toDF("id_a", "id_b")))
    assert(inc == labelsOf(base), s"intra-cluster edge must be a no-op, got $inc")
  }

  test("chained bridges merge transitively through the quotient graph") {
    // three clusters {1,2} {5,6} {8,9}; bridges 2-5 and 6-8 chain all three
    val baseEdges = Seq((1L, 2L), (5L, 6L), (8L, 9L)).toDF("id_a", "id_b")
    val base = Dedup.connectedComponents(baseEdges)
    val inc = labelsOf(Dedup.incrementalComponents(
      base, Seq((2L, 5L), (6L, 8L)).toDF("id_a", "id_b")))
    assert(inc.values.toSet == Set(1L), s"all nodes must land in cluster 1: $inc")
  }

  test("lineage barrier: the incoming labeling's plan never leaks into the " +
    "output plan (r5 regression — 822 s planning blowup at sf0.1)") {
    // Plant a distinctive literal in the BASE labeling's lineage (a
    // vacuous filter that analysis keeps; on the labeling itself, since
    // connectedComponents cuts every round to a leaf). The r5 822 s blowup was
    // every downstream action re-ANALYZING the base chain (LSH banding
    // + every CC round), embedded 3x per plan — cache substitution
    // happens only AFTER analysis, so a persisted base doesn't help.
    // With the checkpoint-leaf barrier in incrementalComponents the
    // labeling enters downstream plans as a LogicalRDD leaf, so the
    // probe literal must be UNREACHABLE from the output's analyzed
    // plan; if the truncate is ever dropped, the literal reappears and
    // this fails immediately.
    import org.apache.spark.sql.functions.{length, lit}
    val baseEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val base = Dedup.connectedComponents(baseEdges)
      .filter(length(lit("__cc_lineage_probe__")) > 0)
    assert(base.queryExecution.analyzed.toString.contains("__cc_lineage_probe__"),
      "self-check: the probe literal must survive into the base labeling's plan")
    val out = Dedup.incrementalComponents(
      base, Seq((3L, 10L)).toDF("id_a", "id_b"))
    assert(!out.queryExecution.analyzed.toString.contains("__cc_lineage_probe__"),
      "the base labeling's lineage leaked into incrementalComponents' " +
        "output plan — checkpoint-leaf barrier dropped (r5 822 s blowup class)")
  }
}
