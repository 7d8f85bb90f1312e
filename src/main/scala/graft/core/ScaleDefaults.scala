package graft.core

import org.apache.spark.sql.SparkSession

/** The single source of the engine's scale-oriented session settings —
  * what a 1000-executor deployment submits as `--conf`, applied
  * identically by the local mains (Verify/Bench) so the tested plans
  * are the production plans.
  *
  * Why each one:
  *  - AQE on, with skew-join splitting and partition coalescing: the
  *    runtime re-plan that absorbs the skew/misestimation a 100 TB
  *    input always carries (the salting operators in operators/Skew
  *    cover only the shapes AQE can't split).
  *  - Runtime bloom-filter join pruning: a selective dimension-side
  *    predicate builds a bloom filter that prunes the fact side at the
  *    scan — the biggest single lever on fact⋈fact joins whose join
  *    input Spark cannot broadcast (PlanQualitySpec asserts injection).
  *  - maxPartitionBytes 256m: fewer, fuller input splits — at 100 TB
  *    the default 128m doubles task count for scan-bound stages.
  *  - shuffle partitions from the caller: local[N] wants N, a cluster
  *    wants ~2-3x total cores; there is no one right constant, so it
  *    stays a parameter (AQE coalescing trims the excess at runtime).
  *  - `fs.file.impl` → [[NoForkLocalFileSystem]]: without Hadoop's
  *    native library the stock local file system forks `chmod` for
  *    every permission it sets (916 forks in one `live_pipeline` run:
  *    checkpoint temp files, `mkdirs`, parquet output files, committer
  *    set-up), at about 1.5 ms a fork. Only the `file://` scheme
  *    changes; HDFS and object stores keep their own implementations.
  *  - `fs.AbstractFileSystem.file.impl` → [[NoForkLocalFs]]: the same
  *    for the `FileContext` API, through which Spark's checkpoint file
  *    manager and state store write. Each `FileContext.rename` asks for
  *    link status, which forks `readlink` (2,568 forks in one
  *    `live_pipeline` run). With both entries that run forks 4
  *    processes, none of them `chmod` or `readlink`. Switching
  *    `checkpointFileManagerClass` to the `FileSystem`-based manager
  *    instead would keep every `chmod` (its `create` sets permissions
  *    too) and give up `FileContext`'s atomic overwriting rename.
  *  - `spark.sql.codegen.cache.maxEntries` 1000: the default 100
  *    entries is smaller than one run's working set of generated
  *    sources, so Janino compiles evicted entries again (and the JIT
  *    re-compiles every new class). The set is 171 entries in
  *    `live_pipeline` and 204 in `batch_operators`: the cache keys on the
  *    class loader too, so a source run on the driver and in tasks is
  *    two entries. With the batch time kept out of generated code
  *    ([[graft.plans.OutOfCodegen]]), a `live_pipeline` run went from 385
  *    Janino compilations to 171; the cached classes hold about 1 MB
  *    (`live_pipeline`) to 3 MB (`batch_operators`) more retained heap.
  */
object ScaleDefaults {
  def configs(shufflePartitions: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> shufflePartitions,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // parallelismFirst stays at its default (true): the tuning-guide
    // suggestion of false (coalesce to the advisory byte size) was
    // MEASURED here and rejected — byte-sized coalescing collapses
    // compute-dense stages whose rows are small but expensive (the
    // per-pair array-intersection stage of containmentPairs doubled,
    // 7.2 s → 14.2 s at sf0.1; label propagation and k-core regressed
    // ~20%). Bytes are the wrong proxy for CPU-bound shuffle stages.
    // let AQE re-plan (and coalesce-partition) the plan UNDER a
    // persist(): off by default only for partitioning-stability compat,
    // but every consumer here re-shuffles or broadcasts from exact
    // stats anyway. Without it a cached frame is frozen at the full
    // shuffle width, so iterative operators over small cached state run
    // every loop stage at cluster width doing near-empty tasks
    // (measured sf0.1: q_textrank 458 tasks/21 task-sec → 22 tasks/1.1
    // task-sec, wall −30%). Scale-adaptive by construction: at 100 TB
    // the cached frames exceed the advisory size and stay wide.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "256m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.hadoop.fs.file.impl" -> classOf[NoForkLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NoForkLocalFs].getName,
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  /** Apply to a builder (local mains and tests). */
  def apply(b: SparkSession.Builder, shufflePartitions: String): SparkSession.Builder =
    configs(shufflePartitions).foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}
