package graft.ops

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}

/** The one build-once memo for session-shared builds: the near-dup
  * funnel, span and contamination passes and the enriched corpus
  * ([[PairFunnel]]), and the ANN fits and exact qrels ([[Similarity]]).
  * Each is deterministic for its inputs and consumed by several queries
  * of a session, so sharing one build changes no result bytes.
  *
  * '''Key:''' session identity (built frames are session-bound), the
  * build's name and params, and per input frame its analyzed plan's
  * `semanticHash` plus the (path, length, mtime) of every file under its
  * `HadoopFsRelation` leaves. The plan hash is exprId-normalized, so two
  * reads of one table match while a filtered variant misses, but it
  * does not change when a parquet file is rewritten in place — the file
  * identities do. They come from the plan's own
  * `PartitioningAwareFileIndex.allFiles()`, so keying lists nothing
  * again; other file indexes are keyed by plan hash only.
  *
  * '''Build-once:''' a per-key monitor serializes the one build, and
  * concurrent sessions (ConcurrentBench) wait for it and share it. The
  * build runs outside the map's bin lock, since a labels build invokes
  * the pairs build (a second key); nesting is strictly labels → pairs,
  * so the lock order is acyclic. A build that throws memoizes nothing.
  * Entries of stopped sessions are swept on every lookup.
  *
  * '''Attribution:''' a build body calls [[Build.record]] when it really
  * builds (a `funnelDir` table read does not), which bumps its family's
  * counter and records its label with [[BuildAttribution]]. The label
  * folds a digest of the key, so two builds of one name (the raw- and
  * filtered-corpus funnels of one tag) stay apart in `shared_builds`.
  *
  * '''Background builds:''' [[inBackground]] runs a warm-up on a daemon
  * thread and keeps any failure for [[drainFailures]] (Bench publishes
  * them as `shared_build_failures`); the consumer then rebuilds.
  */
object SharedBuilds {

  /** Builds executed (not served) since JVM start, per family. */
  final class Family private[SharedBuilds] () {
    private[SharedBuilds] val builds = new AtomicLong(0L)
    def executed: Long = builds.get()
  }
  val Funnel, Fit = new Family

  final class Build private[SharedBuilds] (family: Family, label: String) {
    def record(): Unit = {
      family.builds.incrementAndGet()
      BuildAttribution.recordBuild(label)
    }
  }

  private final case class Input(plan: Int, files: Seq[(String, Long, Long)])
  private final case class Key(session: SparkSession, name: String,
      inputs: Seq[Input], params: Seq[Any])
  private final class Slot(val session: SparkSession) { @volatile var value: AnyRef = _ }

  private val slots = new ConcurrentHashMap[Key, Slot]()
  private val failures = new ConcurrentLinkedQueue[(String, String)]()

  private def input(df: DataFrame): Input = {
    val plan = df.queryExecution.analyzed
    val files = plan.collectWithSubqueries { case l: LogicalRelation => l.relation }
      .flatMap {
        case HadoopFsRelation(idx: PartitioningAwareFileIndex, _, _, _, _, _) => idx.allFiles()
        case _ => Nil
      }
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    Input(plan.semanticHash(), files.sorted)
  }

  /** The memoized result of `build` for (session of `inputs.head`,
    * `name`, `inputs`, `params`), built at most once per key. */
  def getOrBuild[T <: AnyRef](family: Family, name: String,
      inputs: Seq[DataFrame], params: Any*)(build: Build => T): T = {
    slots.values().removeIf(_.session.sparkContext.isStopped)
    val key = Key(inputs.head.sparkSession, name, inputs.map(input), params)
    val b = new Build(family, f"${name}_k${key.hashCode & 0xffffff}%06x")
    once(key, build(b)).asInstanceOf[T]
  }

  @annotation.tailrec
  private def once(key: Key, build: => AnyRef): AnyRef = {
    val slot = slots.computeIfAbsent(key, k => new Slot(k.session))
    val got = Option(slot.value).getOrElse(slot.synchronized {
      // a slot no longer in the map (failed build, invalidate) is dead:
      // its waiters retry on the live slot instead of building here
      if (slot.value == null && (slots.get(key) eq slot)) {
        try slot.value = build
        catch { case t: Throwable => slots.remove(key, slot); throw t }
      }
      slot.value
    })
    if (got != null) got else once(key, build)
  }

  /** Runs `body` on a daemon thread; a throw is recorded, not lost.
    * The thread inherits its creator's local properties; it drops
    * `graft.phase`, so its jobs count as background, not as a phase of
    * the query that started it. */
  def inBackground(name: String)(body: => Unit): Thread = {
    val t = new Thread(() =>
      try {
        SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
          .foreach(_.sparkContext.setLocalProperty(graft.StageCollector.PhaseKey, null))
        body
      } catch { case e: Throwable =>
        failures.add((name, s"${e.getClass.getName}: ${e.getMessage}".take(200))); ()
      }, s"shared-build-$name")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Drain the recorded background failures as (name, error). */
  def drainFailures(): Seq[(String, String)] =
    Iterator.continually(failures.poll()).takeWhile(_ != null).toSeq

  /** Drop every memoized build; [[PairFunnel.invalidateAll]] and
    * [[Similarity.invalidateMemo]] both land here. */
  def invalidate(): Unit = slots.clear()
}
