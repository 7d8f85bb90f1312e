package org.apache.spark.sql.graftbridge

import java.nio.file.Files
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{classic, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.core.Lineage

/** `Lineage`'s reliable-checkpoint branch, the one a cluster takes once
  * a checkpoint dir is set (a leaf that survives executor loss): it
  * must give the rows and counts of the packed-leaf branch. Lives in
  * this package because the context's checkpoint dir has no public
  * unset (`SparkContext.checkpointDir` is `private[spark]`), and later
  * suites must cut packed leaves again. */
class LineageCheckpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def frame: DataFrame =
    spark.range(0, 1000, 1, 3).select((col("id") % 7).as("k"), col("id").as("v"))

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** The reliable checkpoint file under a leaf, if it is one. */
  private def checkpointFile(df: DataFrame): Option[String] =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan match {
      case r: LogicalRDD => r.rdd.getCheckpointFile
      case _ => None
    }

  /** `body` with a checkpoint dir set; afterwards the dir is unset and
    * deleted, so `body` returns values, not frames over it. */
  private def checkpointed[T](body: => T): T = {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft_checkpoint").toFile
    sc.setCheckpointDir(dir.toString)
    try body
    finally {
      sc.checkpointDir = None
      FileUtils.deleteDirectory(dir)
    }
  }

  test("truncate: a reliable checkpoint with the packed leaf's rows") {
    val packed = Lineage.truncate(frame)
    assert(checkpointFile(packed).isEmpty)
    val (file, got) = checkpointed {
      val leaf = Lineage.truncate(frame)
      (checkpointFile(leaf), rows(leaf))
    }
    assert(file.isDefined)
    assert(got == rows(packed))
  }

  test("truncateCounted, with and without countWhere: the packed leaf's rows and counts") {
    val where = Some(col("k") === 3)
    val (packed, n) = Lineage.truncateCounted(frame)
    val (packedHit, hits) = Lineage.truncateCounted(frame, where)
    val (ckpt, ckptHit) = checkpointed {
      val (all, m) = Lineage.truncateCounted(frame)
      val (some, h) = Lineage.truncateCounted(frame, where)
      assert(checkpointFile(all).isDefined && checkpointFile(some).isDefined)
      ((rows(all), m), (rows(some), h))
    }
    assert(n == 1000L && hits == 143L)
    assert(ckpt == (rows(packed), n))
    // countWhere counts the matching rows; the leaf keeps every row
    assert(ckptHit == (rows(packedHit), hits))
  }

  test("keyedLeaf: the packed leaf's rows, each key in one partition, sorted within it") {
    def layout(leaf: DataFrame): Seq[Seq[Long]] =
      leaf.rdd.glom().collect().toSeq.map(_.toSeq.map(_.getLong(0)))
    def keyed(parts: Seq[Seq[Long]]): Boolean =
      parts.forall(p => p == p.sorted) &&
        parts.flatMap(_.distinct).size == parts.flatten.distinct.size
    val packed = Lineage.keyedLeaf(frame, col("k"))
    val (file, got, parts) = checkpointed {
      val leaf = Lineage.keyedLeaf(frame, col("k"))
      (checkpointFile(leaf), rows(leaf), layout(leaf))
    }
    assert(file.isDefined)
    assert(got == rows(packed))
    assert(keyed(parts) && keyed(layout(packed)))
  }

  test("the shared context is left with no checkpoint dir: leaves are packed again") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(checkpointFile(Lineage.truncate(frame)).isEmpty)
  }
}
