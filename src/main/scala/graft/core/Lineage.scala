package graft.core

import org.apache.spark.sql.{Column, DataFrame}

/** Lineage control for iterative operators (connected components,
  * PageRank, label propagation): round N's plan otherwise nests N
  * joins, so plan depth grows without bound and a lost cached
  * partition replays the entire chain.
  */
object Lineage {

  /** Truncate plan lineage between iterative rounds: reliable
    * checkpoint when a checkpoint dir is configured (the cluster
    * setting — survives executor loss), otherwise a local leaf that
    * stores each partition as packed pages of `UnsafeRow` bytes of at
    * most 512 KiB each, under G1's humongous-object size, in
    * MEMORY_AND_DISK (about the frame's row bytes of heap, not one JVM
    * object per row, nor whole G1 regions per page; layout in
    * [[org.apache.spark.sql.graftbridge.DatasetBridge]]). The local
    * leaf is read through one reused row per task, pointed at each
    * stored row in place; its scan projects every row, so plans over
    * it never see the reuse. Both are EAGER: one job per call, so a
    * loop that cuts every round (pageRankOn, connectedComponents) pays
    * one job per round and gets a flat plan with exact leaf statistics
    * for it.
    *
    * Outside `core/` and the bridge this is the only way a frame is cut
    * or shared: no `persist`/`cache`/`checkpoint` (LeafOnlySpec). A leaf
    * that no returned plan reads is freed with
    * [[org.apache.spark.sql.graftbridge.DatasetBridge.release]]. */
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    // partitioning-preserving local leaf (localCheckpoint under AQE
    // reports UnknownPartitioning on the leaf — the bridge reads the
    // final adaptive plan's real layout, so keyed leaves re-enter
    // later rounds/consumers co-partitioned)
    else org.apache.spark.sql.graftbridge.DatasetBridge.materialize(df)

  /** Leaf cut AND laid out for an iterative loop: hash-partitioned AND
    * sorted on the loop's per-round join key. The leaf records both
    * (the DatasetBridge leaf carries the executed plan's partitioning
    * and ordering — localCheckpoint under AQE loses them), so every
    * round's equi-join on the key consumes the frame co-partitioned
    * and pre-sorted: shuffled once here, sorted once here, and not
    * moved or re-sorted again — whether the round's join is planned
    * broadcast (small counterpart) or sort-merge (100 TB counterpart)
    * (guide §2.4 "remove shuffles outright"). That holds only while AQE
    * leaves the leaf's shuffle uncoalesced: a coalesced leaf carries
    * `CoalescedHashPartitioning`, which Spark's `EnsureRequirements`
    * cannot match against another coalesced side, so a sort-merge join
    * on the key (a self-join of the leaf included) shuffles both sides
    * again. Partition COUNT stays
    * AQE's byte-coalesced choice: a width pinned to the shuffle
    * parallelism was measured to double-to-triple total task CPU at
    * sf0.1 (per-task fixed costs on near-empty partitions) with no
    * wall win — fatal on the low-core bench leg. */
  def keyedLeaf(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
    truncate(df.repartition(keys: _*).sortWithinPartitions(keys: _*))

  /** Truncate AND count in ONE job — the saturation probe an iterative
    * loop otherwise pays a second job submission for every round
    * (r8 verdict: per-iteration job overhead dominates the BFS-family
    * queries at sf0.1). The count is of the rows where `countWhere`
    * holds (every row when absent), so "how many labels changed this
    * round" comes from the same job. Local mode materializes into a
    * persisted RDD whose count is the materializing job; with a
    * reliable checkpoint dir configured (the cluster fault-tolerance
    * contract) it keeps checkpoint semantics and pays the count against
    * the already-checkpointed leaf (cheap, and executor-loss-safe). */
  def truncateCounted(df: DataFrame, countWhere: Option[Column] = None): (DataFrame, Long) =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      val t = df.checkpoint(); (t, countWhere.fold(t)(t.filter).count())
    } else org.apache.spark.sql.graftbridge.DatasetBridge.materializeCounted(df, countWhere)
}
