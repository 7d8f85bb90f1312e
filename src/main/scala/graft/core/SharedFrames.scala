package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.DatasetBridge

/** Session-scoped memo of shared intermediate frames, each cut to a
  * [[Lineage.truncate]] checkpoint leaf.
  *
  * Several query families derive from one expensive intermediate — the
  * purchase graph's symmetrized edge list feeds six of the Relational
  * graph queries, the embeddings' 3-NN graph feeds seven of the
  * TextVector ones. Rebuilding that intermediate per query is pure
  * constant-factor waste: within one session (a bench sweep, a Verify
  * run, a real multi-query job) the first consumer pays the build and
  * every later consumer reads the checkpoint leaf. On a cluster this is
  * the "materialize the shared CTE once" pattern — here it is an RDD
  * checkpoint instead of a temp table, so the leaf also survives
  * `cacheManager.clearCache()` (which drops Catalyst plan-cache entries
  * but not checkpointed RDD blocks — the property Bench/Verify rely on
  * between queries).
  *
  * A leaf holds its rows as packed pages of `UnsafeRow` bytes, about
  * its row bytes in storage for the whole session, and any number of
  * consumers may read it at once: each task walks the shared read-only
  * pages with its own reused row (see
  * [[org.apache.spark.sql.graftbridge.DatasetBridge]]).
  *
  * Contract: the builder must be DETERMINISTIC (every graft query is —
  * the driver hash-compares against DuckDB), so first-build vs reuse
  * can never change a result. Entries are keyed by the owning
  * SparkContext OBJECT (reference identity — `hashCode()` alone can
  * collide across contexts or be reused after a context dies, which
  * could hand a new session a leaf whose checkpoint dir the dead
  * context already owned) and dropped when that context stops (tests
  * spin up fresh sessions; a leaf from a dead context is unreadable —
  * its checkpoint dir may be gone).
  */
object SharedFrames {

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkContext, String), DataFrame]()

  /** Return the checkpoint leaf for `key`, building it at most once per
    * (SparkContext, key). The builder is by-name and is NOT evaluated
    * on a memo hit — plan construction for the big shared frames walks
    * catalog/scan metadata, which is exactly the per-query constant
    * this memo exists to avoid paying twice.
    *
    * RE-ENTRANCY IS REQUIRED, so this is deliberately NOT
    * `computeIfAbsent`: shared leaves NEST (the canonical kNN leaf is
    * built FROM the kNN leaf; the CC labeling from the LSH pair leaf),
    * and a builder that memoizes an inner leaf inside a
    * `computeIfAbsent` of the same map throws
    * IllegalStateException("Recursive update"). Whether that path is
    * ever taken depends on WHICH consumer runs first — i.e. on query-
    * map iteration order — so the bug surfaced only when adding a
    * query reshuffled the order and 12 graph queries failed at once.
    * Two-phase get/putIfAbsent instead: the build happens OUTSIDE the
    * map lock, nested memoize calls are plain recursion, and if two
    * concurrent first-consumers race, putIfAbsent keeps exactly one
    * leaf (the loser's build is discarded work, never a wrong result —
    * builders are deterministic by contract). */
  def memoize(s: SparkSession, key: String)(df: => DataFrame): DataFrame = {
    // drop entries whose context has stopped (fresh per-suite sessions;
    // their checkpoint leaves are unreadable once the context dies)
    memo.forEach { (k, _) =>
      if (k._1.isStopped) memo.remove(k)
    }
    val k = (s.sparkContext, key)
    val hit = memo.get(k)
    if (hit != null) hit
    else {
      val built = Lineage.truncate(df)
      val prev = memo.putIfAbsent(k, built)
      if (prev != null) {
        // racing first-consumers: the loser's eagerly built leaf is
        // discarded — drop its stored pages (best-effort) so the
        // duplicate build doesn't leak storage for the session lifetime
        // (`Dataset.unpersist` would only touch CacheManager entries)
        try DatasetBridge.release(built) catch { case _: Throwable => () }
        prev
      } else built
    }
  }
}
