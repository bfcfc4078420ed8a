package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Deterministic staging-table lifecycle for multi-consumer
  * intermediates — the library's one sanctioned way to materialize a
  * frame that several downstream branches read.
  *
  * Why not a lazy `localCheckpoint`: a lazily-checkpointed frame is
  * materialized by whichever consumer stage computes it first, and when
  * two consumer stages launch CONCURRENTLY (AQE schedules independent
  * query stages in parallel) each recomputes the full staged plan
  * before any blocks are published — the regex/shingle scans these
  * stages exist to run ONCE run 2-4×, and the race gets more likely the
  * busier the machine is (slower stages overlap longer). The r5 driver
  * bench showed exactly that signature: the four heaviest
  * shingle/closure queries 4-7× over their committed times on a loaded
  * host, `Block rdd_N already exists` warnings in the tail, everything
  * else at ambient ~1.3×.
  *
  * Why not an eager `localCheckpoint`: eager kills the race, but its
  * MEMORY_AND_DISK blocks hold the staged rows ON-HEAP for the life of
  * the query, stacking GC pressure under exactly the allocation-heavy
  * kernels that needed staging in the first place, and the blocks are
  * freed only when the GC collects the RDD (ContextCleaner), not when
  * the query is done with them.
  *
  * `stageToDisk` instead persists DISK_ONLY and materializes NOW with
  * one count job: every consumer — concurrent or not — reads stored
  * blocks (compressed columnar batches, zero heap residency between
  * uses, page-cache-fast re-reads), and `release` returns the blocks
  * deterministically the moment the last consumer has materialized. On
  * a real cluster this is the standard staging-table move; DISK_ONLY is
  * also the one storage level whose behavior does not change under
  * memory pressure.
  */
object Staging {

  /** Persist to executor-local disk and materialize immediately.
    * Returns the SAME frame (persist mutates cache registration) so the
    * caller can both consume and later [[release]] it.
    */
  def stageToDisk(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.DISK_ONLY)
    df.count() // one job; all consumers read stored blocks from here on
    df
  }

  /** Persist WITHOUT a materialization job. The right call whenever
    * the caller's own next action reads every partition of the frame:
    * a consumer that is itself staged eagerly, or a driver-side collect
    * over all rows (portableFitAssign's init draw, an order+limit).
    * That action computes this subtree and populates the cache along
    * the way, saving the count job [[stageToDisk]] would run. Use
    * [[stageToDisk]] instead when the first read touches only some
    * partitions or is left to an arbitrary downstream consumer.
    * Safe even if the consumer's plan scans this frame from several
    * branches: cache population goes through the BlockManager's
    * get-or-compute block locking (one task computes a partition,
    * concurrent readers block then read), unlike a lazy localCheckpoint
    * whose racing stages each recompute the whole plan.
    */
  def stageToDiskChained(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.DISK_ONLY)
    df
  }

  /** Unpersist staged frames once their consumers have materialized.
    * Deterministic (CacheManager entry removed synchronously; block
    * deletion async) — nothing outlives the operator that staged it.
    */
  def release(dfs: DataFrame*): Unit =
    dfs.foreach(_.unpersist(blocking = false))
}
