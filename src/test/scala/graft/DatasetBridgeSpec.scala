package graft

import java.lang.management.ManagementFactory
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import com.sun.management.HotSpotDiagnosticMXBean
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeRow}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Lineage

/** The packed leaf: rows stored as pages of UnsafeRow bytes must read
  * back row-exact, in the same partitions and order, with the right
  * count, at about their row bytes in storage. */
class DatasetBridgeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Rows of every partition, in stored order. */
  private def partitions(df: DataFrame): Seq[Seq[Row]] =
    df.rdd.glom().collect().toSeq.map(_.toSeq)

  /** The persisted page RDD under a leaf. */
  private def pageRddId(leaf: DataFrame): Int =
    leaf.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd.dependencies.head.rdd.id }.get

  private def storedIds: Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("every column type round-trips row-exact, with nulls, partitions and order kept") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("d", DoubleType),
      StructField("dec", DecimalType(38, 6)),
      StructField("s", StringType),
      StructField("b", BinaryType),
      StructField("ts", TimestampType),
      StructField("arr", ArrayType(IntegerType)),
      StructField("m", MapType(StringType, LongType)),
      StructField("st", StructType(Seq(StructField("a", IntegerType), StructField("t", StringType))))))
    val rows = (0 until 200).map { i =>
      if (i % 7 == 0) Row(i.toLong, null, null, null, null, null, null, null, null)
      else Row(i.toLong, i * 1.5, new java.math.BigDecimal(s"12345678901234567890123456789012.${i % 1000000}"),
        "s" * (i % 13), Array.tabulate[Byte](i % 5)(_.toByte),
        new java.sql.Timestamp(1700000000000L + i * 1000L),
        Seq[Any](i, null, -i), Map("k" -> i.toLong, "n" -> null), Row(if (i % 3 == 0) null else i, s"t$i"))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .repartition(3, col("id")).sortWithinPartitions("id")
    val (leaf, n) = DatasetBridge.materializeCounted(df)
    assert(n == 200L)
    val want = partitions(df)
    val got = partitions(leaf)
    assert(got.map(_.size) == want.map(_.size))
    // Row equality compares binary cells by content
    assert(got == want)
  }

  test("rows that are not UnsafeRows are projected before they are packed") {
    val types: Array[DataType] = Array(LongType, StringType)
    val in = Seq(InternalRow(1L, UTF8String.fromString("a")), InternalRow(2L, null))
    val out = DatasetBridge.unpack(DatasetBridge.pack(in.iterator, types), 2)
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getUTF8String(1).toString)).toList
    assert(out == List((1L, "a"), (2L, null)))
  }

  test("a row larger than a page gets a page of its own and round-trips") {
    val big = "x" * (DatasetBridge.PageBytes + 1000)
    val df = Seq((1L, "a"), (2L, big), (3L, "c")).toDF("id", "s").coalesce(1)
    val (leaf, n) = DatasetBridge.materializeCounted(df)
    assert(n == 3L)
    assert(leaf.orderBy("id").as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, big), (3L, "c")))
    // small row, the big row alone, small row: three pages
    val rows = df.queryExecution.toRdd.mapPartitions { it =>
      Iterator(DatasetBridge.pack(it, Array(LongType, StringType)).map(_.length).toList)
    }.collect().head
    assert(rows.size == 3 && rows(1) > DatasetBridge.PageBytes, s"page sizes $rows")
  }

  // a byte[] object is its 16-byte header plus its bytes; G1 makes an
  // object larger than half a region humongous, and its smallest region
  // is 1 MiB
  private val ArrayHeader = 16
  private val HalfSmallestRegion = 512 * 1024

  test("pages stay under G1's humongous size, whatever the row width") {
    val rows = 200000
    // 1 to 4 long columns: entries of 20, 28, 36 and 44 B
    for (width <- 1 to 4) {
      val types: Array[DataType] = Array.fill(width)(LongType)
      val in = Iterator.tabulate(rows)(i => new GenericInternalRow(Array.fill[Any](width)(i.toLong)))
      val pages = DatasetBridge.pack(in, types).toList
      val counts = pages.map(p => Platform.getInt(p, Platform.BYTE_ARRAY_OFFSET))
      assert(counts.sum == rows)
      assert(pages.size > 1, s"$width columns: one page holds all $rows rows")
      pages.zip(counts).foreach { case (page, n) =>
        val oversizedRow = n == 1 && page.length > DatasetBridge.PageBytes
        assert(oversizedRow || ArrayHeader + page.length <= HalfSmallestRegion,
          s"$width columns: a page of ${page.length} B holding $n rows is humongous")
      }
    }
  }

  test("a full page is not humongous in the JVM running this test") {
    val hotspot = ManagementFactory.getPlatformMXBean(classOf[HotSpotDiagnosticMXBean])
    if (hotspot.getVMOption("UseG1GC").getValue != "true")
      cancel("the collector is not G1; humongous objects are a G1 notion")
    val regionBytes = hotspot.getVMOption("G1HeapRegionSize").getValue.toLong
    assert(ArrayHeader + DatasetBridge.PageBytes <= regionBytes / 2,
      s"a full page of ${DatasetBridge.PageBytes} B is humongous in G1 regions of $regionBytes B")
  }

  test("an empty frame and empty partitions count 0 and read back") {
    val (empty, n0) = DatasetBridge.materializeCounted(spark.range(0).toDF("x"))
    assert(n0 == 0L && empty.collect().isEmpty)
    val sparse = spark.sparkContext.parallelize(Seq(1L, 2L), 6).toDF("x")
    val (leaf, n) = DatasetBridge.materializeCounted(sparse)
    assert(n == 2L)
    assert(leaf.queryExecution.toRdd.getNumPartitions == 6)
    assert(partitions(leaf).map(_.map(_.getLong(0))) == partitions(sparse).map(_.map(_.getLong(0))))
  }

  test("the returned count equals df.count(), over many pages per partition") {
    val df = spark.range(0, 200000, 1, 2).select(col("id"), concat(lit("row-"), col("id")).as("s"))
    val (leaf, n) = DatasetBridge.materializeCounted(df)
    assert(n == df.count())
    val agg = leaf.agg(count(lit(1)), sum("id"), countDistinct("s")).head()
    assert(agg.getLong(0) == 200000L && agg.getLong(1) == 199999L * 200000L / 2 && agg.getLong(2) == 200000L)
  }

  test("a leaf stores about its row bytes, not one object per row") {
    val rows = 200000L
    val df = spark.range(0, rows, 1, 2).select(col("id"), lit("0123456789").as("s"))
    val (leaf, _) = DatasetBridge.materializeCounted(df)
    // UnsafeRow of (long, 10-char string): 8 null bits + 8 + 8 offset/size
    // + 16 string bytes = 40 B, plus its 4-byte length
    val rowBytes = rows * 44
    val info = spark.sparkContext.getRDDStorageInfo.find(_.id == pageRddId(leaf)).get
    assert(info.memSize + info.diskSize < rowBytes * 5 / 4,
      s"leaf holds ${info.memSize} B in memory, ${info.diskSize} B on disk for $rowBytes B of rows")
    DatasetBridge.release(leaf)
  }

  test("release drops a leaf's stored pages") {
    val (leaf, _) = DatasetBridge.materializeCounted(spark.range(0, 1000).toDF("x"))
    val id = pageRddId(leaf)
    assert(storedIds.contains(id))
    DatasetBridge.release(leaf)
    assert(!storedIds.contains(id), "released leaf still holds storage")
  }

  test("a leaf hash-partitioned and sorted on its key plans a self-join with no Exchange or Sort") {
    val df = spark.range(0, 5000).select((col("id") % 97).as("k"), col("id").as("v"))
    // an explicit width: AQE keeps it, so the leaf's layout is a plain
    // hash partitioning Spark can co-partition a join with
    val leaf = Lineage.truncate(df.repartition(4, col("k")).sortWithinPartitions("k"))
    val joined = leaf.join(leaf.select(col("k"), col("v").as("v2")).hint("merge"), "k")
    assert(joined.collect().length == df.join(df.select(col("k"), col("v").as("v2")), "k").count())
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange") && !p.contains("Sort ["), s"self-join on the leaf key moved rows:\n$p")
  }

  test("a keyed leaf keeps the final layout and order of its plan") {
    val df = spark.range(0, 5000).select((col("id") % 97).as("k"), col("id").as("v"))
    val leaf = Lineage.keyedLeaf(df, col("k"))
    val rdd = leaf.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r }.get
    val k = rdd.output.head
    assert(rdd.outputPartitioning.numPartitions == leaf.queryExecution.toRdd.getNumPartitions)
    val keys = rdd.outputPartitioning match { case e: Expression => e.references.toSeq; case _ => Nil }
    assert(keys == Seq(k), rdd.outputPartitioning.toString)
    assert(rdd.outputOrdering.map(_.child) == Seq(k))
    // and every partition really is sorted on the key
    partitions(leaf).foreach { rows =>
      val ks = rows.map(_.getLong(0))
      assert(ks == ks.sorted)
    }
  }

  test("two consumers reading one leaf at the same time both get the full rows") {
    val df = spark.range(0, 100000, 1, 4).select(col("id"), (col("id") * 3).as("v"))
    val (leaf, _) = DatasetBridge.materializeCounted(df)
    val want = df.as[(Long, Long)].collect().sorted.toSeq
    val reads = (1 to 2).map(_ => Future(leaf.as[(Long, Long)].collect().sorted.toSeq))
    reads.foreach(f => assert(Await.result(f, 2.minutes) == want))
  }

  test("unpack reuses one row: a consumer keeping rows must copy them") {
    val types: Array[DataType] = Array(LongType)
    val in = Seq(InternalRow(1L), InternalRow(2L))
    val it = DatasetBridge.unpack(DatasetBridge.pack(in.iterator, types), 1)
    val first = it.next()
    val kept = first.asInstanceOf[UnsafeRow].copy()
    val second = it.next()
    assert(first eq second)
    assert(kept.getLong(0) == 1L && second.getLong(0) == 2L)
  }
}
