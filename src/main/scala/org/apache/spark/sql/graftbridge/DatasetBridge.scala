package org.apache.spark.sql.graftbridge

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeSet, BindReferences, Predicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.types.DataType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.Platform

/** Single-job materialize (+ count) for iterative operators and shared
  * frames: the engine's one way to cut a frame into a leaf.
  *
  * A BFS-style loop needs two things at the end of every round:
  * lineage truncation (or round N's plan nests N joins) and a
  * saturation probe (is the frontier empty?). `localCheckpoint()`
  * then `isEmpty` pays TWO job submissions per round; at local-mode
  * driver-loop grain that fixed overhead dominates small-SF graph
  * queries. Here the frame is materialized once into a persisted,
  * locally checkpointed RDD whose materializing job also returns the
  * row count; the returned frame is an RDD-backed leaf, so lineage is
  * truncated exactly as a localCheckpoint would.
  *
  * STORAGE: each partition is stored as a few contiguous `byte[]`
  * PAGES of at most [[PageBytes]], not as one `UnsafeRow` object plus
  * one `byte[]` per row (about 56 B of JVM headers and fields on top of
  * 24-44 B of row data for the typical narrow leaf). A page is
  * `[int rows][int len₁][row₁ bytes][int len₂][row₂ bytes]…`: each row's
  * `UnsafeRow` bytes (`writeToMemory`) behind its 4-byte length. A row
  * too large for a page gets a page of its own; a row that is not an
  * `UnsafeRow` goes through an `UnsafeProjection` first. Pages are
  * exactly sized and persisted MEMORY_AND_DISK, and the GC sees a few
  * large arrays instead of millions of small objects.
  *
  * PAGE SIZE: a page object (16 B array header plus its bytes), like
  * `pack`'s scratch buffer, is at most 512 KiB: half of G1's smallest
  * region (1 MiB), so it is never a HUMONGOUS object at any heap size,
  * and four full pages fill a 2 MiB region. G1 gives an object larger
  * than half a region whole regions of its own: with 2 MiB regions
  * (`-Xmx3g`), 128 `byte[1_048_576]` retain 256.1 MB of heap, while 128
  * `byte[1_048_560]` retain 128.1 MB. Pages of 1 MiB payload were
  * humongous whenever a full page left under 16 B of slack, as it did
  * for every narrow leaf of `q_pagerank` (entries of 20-44 B), so such
  * a leaf took about twice its row bytes of heap. Spark's storage
  * accounting cannot see that waste: `SizeEstimator`, the block manager
  * and `getRDDStorageInfo` count array lengths, not regions, so a
  * footprint change must be checked on the heap itself.
  *
  * ROW REUSE: the leaf reads each page through an iterator that points
  * ONE reused `UnsafeRow` at each stored row in place — the contract a
  * parquet scan gives. `RDDScanExec` projects every row it reads, so
  * no plan over the leaf sees the reused row; code that takes the
  * leaf's RDD directly must copy a row it keeps.
  *
  * PARTITIONING: the leaf carries the executed plan's FINAL output
  * partitioning (unwrapping AdaptiveSparkPlanExec — whose own
  * `outputPartitioning` reports Unknown, which is why even
  * `Dataset.localCheckpoint` under AQE loses the layout). A loop whose
  * round ends hash-partitioned on its join key then re-enters the next
  * round CO-PARTITIONED: the frame is shuffled once, not once per
  * round (optimization-guide §2.4 "remove shuffles outright"). The
  * partitioning is kept only when its expressions are a subset of the
  * leaf's output (else claiming it would be unsound) and LogicalRDD
  * rewrites it consistently on newInstance(), so self-joins stay safe.
  * Packing keeps each partition's row order, so the plan's ordering
  * holds too.
  *
  * Lives in the org.apache.spark.sql namespace because
  * `Dataset.ofRows` / `LogicalRDD` are `private[sql]` (same
  * one-file-shim practice as [[ColumnBridge]]).
  */
object DatasetBridge {

  /** Largest stored page, in bytes (a larger row gets a page of its
    * own): with its 16-byte array header a page object is 512 KiB,
    * half of G1's smallest region, so it is never humongous. */
  val PageBytes: Int = (1 << 19) - 16

  // page header: row count; then per row its length and UnsafeRow bytes
  private val HeaderBytes = 4
  private val LenBytes = 4

  private def rowsIn(page: Array[Byte]): Int = Platform.getInt(page, Platform.BYTE_ARRAY_OFFSET)

  private def put(page: Array[Byte], pos: Int, row: UnsafeRow): Unit = {
    Platform.putInt(page, Platform.BYTE_ARRAY_OFFSET + pos, row.getSizeInBytes)
    row.writeToMemory(page, Platform.BYTE_ARRAY_OFFSET + pos + LenBytes)
  }

  /** Pack one partition's rows (of column types `types`) into pages.
    * The upstream iterator may reuse its row object: each row is
    * written out before the next one is pulled. */
  def pack(rows: Iterator[InternalRow], types: Array[DataType]): Iterator[Array[Byte]] =
    new Iterator[Array[Byte]] {
      private lazy val buf = new Array[Byte](PageBytes)
      private lazy val toUnsafe = UnsafeProjection.create(types)
      // the row that did not fit the page just emitted; still valid,
      // since `rows` has not been advanced past it
      private var pending: UnsafeRow = null

      private def pull(): UnsafeRow = rows.next() match {
        case u: UnsafeRow => u
        case other => toUnsafe(other)
      }

      def hasNext: Boolean = pending != null || rows.hasNext

      def next(): Array[Byte] = {
        if (!hasNext) throw new NoSuchElementException("no page left")
        var pos = HeaderBytes
        var n = 0
        var full = false
        while (!full && hasNext) {
          val row = if (pending != null) pending else pull()
          pending = null
          val need = LenBytes + row.getSizeInBytes
          if (pos + need <= PageBytes) {
            put(buf, pos, row); pos += need; n += 1
          } else if (n == 0) {
            val own = new Array[Byte](HeaderBytes + need)
            put(own, HeaderBytes, row)
            Platform.putInt(own, Platform.BYTE_ARRAY_OFFSET, 1)
            return own
          } else {
            pending = row; full = true
          }
        }
        val page = java.util.Arrays.copyOf(buf, pos)
        Platform.putInt(page, Platform.BYTE_ARRAY_OFFSET, n)
        page
      }
    }

  /** Read pages back as rows: ONE reused `UnsafeRow` of `numFields`
    * fields, pointed at each stored row in place. */
  def unpack(pages: Iterator[Array[Byte]], numFields: Int): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private val row = new UnsafeRow(numFields)
      private var page: Array[Byte] = null
      private var left = 0
      private var pos = 0

      def hasNext: Boolean = {
        while (left == 0 && pages.hasNext) {
          page = pages.next(); left = rowsIn(page); pos = HeaderBytes
        }
        left > 0
      }

      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException("no row left")
        val size = Platform.getInt(page, Platform.BYTE_ARRAY_OFFSET + pos)
        row.pointTo(page, Platform.BYTE_ARRAY_OFFSET + pos + LenBytes, size)
        pos += LenBytes + size
        left -= 1
        row
      }
    }

  @scala.annotation.tailrec
  private def unwrapAqe(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrapAqe(a.executedPlan)
    case other => other
  }

  @scala.annotation.tailrec
  private def firstLeafPartitioning(p: Partitioning): Partitioning = p match {
    case pc: PartitioningCollection => firstLeafPartitioning(pc.partitionings.head)
    case other => other
  }

  /** Materialize `df` into a persisted leaf of packed pages that keeps
    * the executed plan's final partitioning/ordering. One job, whose
    * result is the number of rows for which `countWhere` holds (every
    * row when it is absent): a loop's saturation probe ("did any row
    * change?") rides the job that cuts the round. */
  def materializeCounted(df: DataFrame, countWhere: Option[Column] = None): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    val output = ds.logicalPlan.output
    val types = output.map(_.dataType).toArray
    val numFields = output.size
    // the predicate, resolved against the frame and bound to its
    // output ordinals; evaluated on the stored rows of each page
    val where = countWhere.map { c =>
      val resolved = ds.select(c).queryExecution.analyzed match {
        case Project(Seq(Alias(e, _)), _) => e
        case Project(Seq(e), _) => e
      }
      BindReferences.bindReference(resolved, output)
    }
    // localCheckpoint (not a bare persist): truncates the RDD lineage
    // at materialization — without it every later task referencing the
    // leaf serializes the ENTIRE accumulated upstream RDD DAG into its
    // task binary (measured: 60 s of pure task deserialization on the
    // diameter double sweep once loop leaves chained).
    val pages = ds.queryExecution.toRdd.mapPartitions(rows => pack(rows, types))
    pages.persist(StorageLevel.MEMORY_AND_DISK).localCheckpoint()
    // per partition: (stored rows, rows where the predicate holds)
    val counts = spark.sparkContext.runJob(pages, (it: Iterator[Array[Byte]]) => where match {
      case None =>
        val n = it.map(rowsIn(_).toLong).sum
        (n, n)
      case Some(cond) =>
        val p = Predicate.create(cond)
        p.initialize(TaskContext.getPartitionId())
        var n = 0L
        var hit = 0L
        unpack(it, numFields).foreach { row => n += 1; if (p.eval(row)) hit += 1 }
        (n, hit)
    })
    val n = counts.map(_._1).sum
    // read the FINAL plan only after the materializing job: AQE's
    // executedPlan is not final until the query has run
    val phys = unwrapAqe(ds.queryExecution.executedPlan)
    val outSet = AttributeSet(output)
    val numPartitions = pages.getNumPartitions
    val partitioning = firstLeafPartitioning(phys.outputPartitioning) match {
      case p: org.apache.spark.sql.catalyst.expressions.Expression with Partitioning
        if p.numPartitions == numPartitions && p.references.subsetOf(outSet) => p
      case _ => UnknownPartitioning(numPartitions)
    }
    val ordering =
      if (phys.outputOrdering.forall(_.references.subsetOf(outSet))) phys.outputOrdering
      else Nil
    // EXACT statistics from the materializing count: without them the
    // leaf defaults to spark.sql.defaultSizeInBytes (≈ infinite) and
    // every downstream join of a small leaf degrades broadcast → SMJ
    // (measured 10-20× task-time blowups on the rank loops). Exact
    // rowCount beats even localCheckpoint's carried-over estimate.
    val sizePerRow = org.apache.spark.sql.catalyst.plans.logical.statsEstimation
      .EstimationUtils.getSizePerRow(output)
    val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = (sizePerRow * n).max(1), rowCount = Some(n))
    val rows = pages.mapPartitions(it => unpack(it, numFields), preservesPartitioning = true)
    val leaf = LogicalRDD(output, rows, partitioning, ordering, isStreaming = false)(
      spark, Some(stats), None).newInstance()
    (classic.Dataset.ofRows(spark, leaf), counts.map(_._2).sum)
  }

  /** [[materializeCounted]] without surfacing the count — the
    * partitioning-preserving replacement for `localCheckpoint()` in
    * Lineage.truncate's local path. */
  def materialize(df: DataFrame): DataFrame = materializeCounted(df)._1

  /** Free a leaf built by [[materializeCounted]]: drop its stored
    * pages, waiting until the blocks are gone. `Dataset.unpersist`
    * cannot do this — it only drops CacheManager entries, and a leaf
    * is not one. The leaf is unreadable afterwards; a frame that is
    * not an RDD-backed leaf is left alone. */
  def release(leaf: DataFrame): Unit = leaf.asInstanceOf[classic.Dataset[Row]].logicalPlan match {
    case r: LogicalRDD => r.rdd.dependencies.foreach(_.rdd.unpersist(blocking = true))
    case _ => ()
  }

  /** Block until the listener bus has delivered every event posted so
    * far, so a listener's counts cover all the work submitted before
    * the call (the bus is asynchronous and its drain is
    * `private[spark]`). */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
