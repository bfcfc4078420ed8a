package graft.ops

import scala.collection.mutable.ArrayBuffer

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
  * already exists` in the log). Their blocks also outlive every
  * unpersist. DISK_ONLY keeps no staged rows on the heap between uses
  * and behaves the same under memory pressure.
  *
  * A frame staged while a [[scoped]] body runs, on its thread or on a
  * thread it starts ([[SharedBuilds.inBackground]]), belongs to the
  * innermost open scope, which unpersists exactly what it owns when the
  * body returns or throws. [[graft.Runner]] runs each query in one, so
  * a stage lives until its query ends and no other query's end drops
  * it: an entry that several open scopes staged (the CacheManager keeps
  * one per equal plan) goes when the last of them closes. A plan cached
  * before any scope staged it stays its caller's. Outside a scope (or
  * on a thread whose scope has closed) [[stage]] is a bare persist.
  *
  * `localCheckpoint(eager = true)` is left for three cases only, each
  * commented at its site:
  *  - it cuts lineage in a loop (the contraction rounds of
  *    `componentMinLabels`, semDeDup's level-2 centroids);
  *  - it backs a build that outlives the query (`PairFunnel.shared`,
  *    `Similarity.bruteForceTopKShared`): its blocks survive the close
  *    of the scope that built it;
  *  - it is an operator's output, materialized before the operator's
  *    own scope releases its staged intermediates (`minhashNearDupPairs`'
  *    distributed funnel), so nothing it persisted outlives the call.
  */
object Staging {

  /** A cache entry that open scopes staged, with their count of holds. */
  private final class Entry(val df: DataFrame) { var holds = 0 }
  private final class Scope(val parent: Scope) {
    val owned = ArrayBuffer.empty[Entry]
    var open = true
  }
  private val current = new InheritableThreadLocal[Scope]
  private val entries = ArrayBuffer.empty[Entry] // guarded by `this`

  /** Persist to executor-local disk, with no job, in the current scope.
    * Returns the same frame (persist mutates cache registration). */
  def stage(df: DataFrame): DataFrame = {
    val scope = current.get
    if (scope == null) df.persist(StorageLevel.DISK_ONLY)
    else synchronized {
      val cached = df.storageLevel != StorageLevel.NONE
      if (!cached || !scope.open) df.persist(StorageLevel.DISK_ONLY)
      // the CacheManager's own match: equal normalized plans
      if (scope.open) entries.find(_.df.queryExecution.normalized.sameResult(
          df.queryExecution.normalized))
        .orElse(Option.when(!cached)(new Entry(df)).map { e => entries += e; e })
        .foreach { e => e.holds += 1; scope.owned += e }
    }
    df
  }

  /** Runs `body` in a new scope, then unpersists what it owns, last
    * staged first; an entry another open scope holds stays. The
    * CacheManager entry goes synchronously, its blocks asynchronously. */
  def scoped[T](body: => T): T = {
    val scope = new Scope(current.get)
    current.set(scope)
    try body
    finally {
      current.set(scope.parent)
      synchronized {
        scope.open = false
        scope.owned.reverseIterator.foreach { e =>
          e.holds -= 1
          if (e.holds == 0) { entries -= e; e.df.unpersist(blocking = false) }
        }
        scope.owned.clear()
      }
    }
  }

  /** `body` with its stages owned by the scope around the current one:
    * an operator's result that outlives the operator's own scope. */
  private[graft] def inEnclosingScope[T](body: => T): T = {
    val scope = current.get
    if (scope == null) body
    else { current.set(scope.parent); try body finally current.set(scope) }
  }
}
