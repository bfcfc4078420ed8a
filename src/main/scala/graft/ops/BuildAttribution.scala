package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue

/** Best-effort attribution of session-shared builds to the query that
  * paid them (r16 verdict item 9): the [[SharedBuilds]] memo makes
  * later consumers read a first consumer's materialization,
  * so per-query bench seconds are NOT standalone costs — q_provenance's
  * 0.3 s is real only because q_corpus_pipeline paid the enrich+funnel
  * build. [[graft.Runner]] sets the current query name around each
  * run; every shared-build execution records (build name, paying
  * query) and Bench publishes the drained map as an ADDITIVE
  * `shared_builds` field in bench_full.json — the one-line stdout
  * contract does not grow.
  *
  * The query name is per thread, so runs on concurrent sessions each
  * keep their own. A thread inherits its creator's name when it is
  * started, so a [[SharedBuilds.inBackground]] build is paid by the run
  * that started it, even after that run clears its own.
  *
  * Telemetry only: no query logic reads this, and with no context set
  * (library callers, specs) recording is a no-op.
  */
object BuildAttribution {
  private val current = new InheritableThreadLocal[String]
  private val records = new ConcurrentLinkedQueue[(String, String)]()

  /** Mark the query whose timed region is about to run on this thread. */
  def setContext(query: String): Unit = current.set(query)

  def clearContext(): Unit = current.remove()

  /** Called by [[SharedBuilds.Build.record]] when a build actually
    * EXECUTES (memo misses only — hits cost the consumer nothing worth
    * attributing).
    */
  private[ops] def recordBuild(build: String): Unit = {
    val q = current.get()
    if (q != null) { records.add((build, q)); () }
  }

  /** Drain all recorded (build, paidBy) pairs, first-payer order. */
  def drain(): Seq[(String, String)] =
    Iterator.continually(records.poll()).takeWhile(_ != null).toSeq
}
