package graft.operators

import org.apache.spark.sql.SparkSession

/** Session-level eviction for operator-pinned cache.
  *
  * Several library operators persist intermediate frames the returned
  * plan consumes more than once (LSH signature frames in [[Dedup]], the
  * prefix-filter shingle frame of [[Dedup.containmentPairs]], shared
  * stages in the capstone pipelines). Operators whose persists can be
  * released as soon as the result is consumed expose a `...Managed` /
  * `...WithCleanup` twin returning `(result, cleanup)` —
  * [[Dedup.embeddingIncrementalNearDupsManaged]], [[PageRank.runWithCleanup]],
  * [[graft.operators.Sequences.rfmSegmentsWithCleanup]] — but the plain
  * entry points deliberately keep the frame pinned: the caller may hold
  * the lazy plan and re-trigger it (a second `.count()`, a retry, an
  * incremental append) and an eager unpersist would silently recompute
  * the signature pipeline per job, the exact regression the persists
  * exist to prevent (PERF.md round 2: 92.6 s → 9.6 s).
  *
  * A LONG-LIVED session (the engine's model of the reference's
  * always-on control plane) therefore accretes executor cache across
  * unrelated operator calls. This is the eviction point: call between
  * jobs — e.g. after a pipeline's outputs are written — to drop every
  * block the session's operators have pinned. Everything re-persists on
  * demand, so the only cost of an over-eager call is recomputation.
  *
  * `Dataset.persist` registers with the session's `CacheManager`, so
  * `catalog.clearCache()` reaches every operator persist (the library
  * never persists raw RDDs); OperatorCacheSpec pins that contract by
  * asserting `sc.getPersistentRDDs` drains after a loop over the
  * heaviest persisting gates.
  */
object OperatorCache {

  /** Unpersist every cached plan in the session (operator persists and
    * any user `df.cache()` alike — cache identity is plan-based, so a
    * finer-grained eviction would be fiction anyway). Non-blocking:
    * block cleanup proceeds asynchronously on the executors. */
  def clear(spark: SparkSession): Unit =
    spark.catalog.clearCache()

  /** Number of RDDs currently pinned in the session — the observable
    * the cleanup contract is asserted against. */
  def pinnedCount(spark: SparkSession): Int =
    spark.sparkContext.getPersistentRDDs.size
}
