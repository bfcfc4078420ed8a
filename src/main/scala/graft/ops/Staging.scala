package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one way to materialize a frame that several branches of a query
  * read: [[stage]] it. It persists `DISK_ONLY` and runs no job; the
  * first consumer that executes fills the stored blocks, and every later
  * or concurrent consumer reads them. Cache population goes through the
  * BlockManager's get-or-compute block lock (one task computes a
  * partition, concurrent readers wait for it and then read it), so the
  * staged plan runs once however many consumer stages launch together
  * (StagingSpec). Under AQE each scan of a staged frame is its own
  * table-cache query stage with its own (cheap, reading) job, and AQE
  * never reuses an exchange above one: when two branches would share
  * an exchange over a staged frame, stage that shared frame too.
  *
  * Lazy `localCheckpoint`s were seen to race: consumer stages that ran
  * together each recomputed the whole plan (the r5 bench signature: the
  * shingle/closure queries 4-7× slow on a loaded host, `Block rdd_N
  * already exists` in the log). Their blocks also outlive `clearCache`.
  * DISK_ONLY keeps no staged rows on the heap between uses and behaves
  * the same under memory pressure.
  *
  * A staged frame lives until its query ends: [[graft.Runner]], which
  * runs every Bench, Verify and Inspect query, clears the cache after
  * each, and so does the perfbench harness. Do not [[release]] a frame
  * that a lazy consumer has yet to read: that consumer would recompute
  * it, once per join side.
  *
  * `localCheckpoint(eager = true)` is left for three cases only, each
  * commented at its site:
  *  - it cuts lineage in a loop (the contraction rounds of
  *    `componentMinLabels`, semDeDup's level-2 centroids);
  *  - it backs a build that outlives the query (`PairFunnel.shared`,
  *    `Similarity.bruteForceTopKShared`): its blocks survive
  *    `clearCache`;
  *  - it is an operator's output, materialized before the operator
  *    releases its staged intermediates (`minhashNearDupPairs`'
  *    distributed funnel, the one [[release]] site), so nothing it
  *    persisted outlives the call.
  */
object Staging {

  /** Persist to executor-local disk, with no job. Returns the same
    * frame (persist mutates cache registration). */
  def stage(df: DataFrame): DataFrame = df.persist(StorageLevel.DISK_ONLY)

  /** Unpersist staged frames once every consumer has materialized.
    * The CacheManager entry goes synchronously; block deletion is
    * asynchronous. */
  def release(dfs: DataFrame*): Unit =
    dfs.foreach(_.unpersist(blocking = false))
}
