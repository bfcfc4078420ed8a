package graft

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.functions._

import graft.queries.QueryDef

/** Construct-phase job budget: the Spark jobs a query runs while its
  * DataFrame is built, before any result is computed. Schema inference
  * and staging counts are pure overhead there, so a reintroduced one
  * must fail here. "Warm" = the tables were loaded once before, as in
  * every query of a session after the first; the count is taken on a
  * new session, which must not pay the inference again.
  */
class ConstructJobsSpec extends SparkSpecBase {

  private def constructJobs(q: String): Int = {
    val s = spark.newSession()
    try JobCount(s)(SparkEntry.queries(q)(s, Sf0001))._2
    finally s.catalog.clearCache()
  }

  private val budget = Seq(
    "q_pruned_scan" -> 0,
    "q_change_per_entity" -> 0,
    "q_agg_minmax" -> 0,
    "q_join_enrich" -> 0,
    "q_yoy_change" -> 0,
    "q_kmeans_portable" -> 6,
    // staged frames (Staging.stage) run no job at construct
    "q_token_budget" -> 0,
    "q_bpe_merges" -> 0,
    "q_active_users" -> 0,
    "q_chi_square" -> 0,
    // the near-dup funnel's driver pass over existing ∪ delta: one collect
    "q_dedup_incremental" -> 1)

  test("warm construct jobs per query at sf0.001") {
    budget.foreach { case (q, _) => constructJobs(q) } // warm the loads
    val got = budget.map { case (q, _) => q -> constructJobs(q) }
    assert(got === budget)
  }

  /** The curation pair in one session: the first builds the near-dup
    * funnel and its labels, the second is a memo hit on them. Per query:
    * the construct jobs, then the jobs of its noop write (execute). */
  private def curationJobs(): Seq[(String, Int, Int)] = {
    val s = spark.newSession()
    try Seq("q_component_labels", "q_dedup_keep_best").map { q =>
      val (df, construct) = JobCount(s)(SparkEntry.queries(q)(s, Sf0001))
      val (_, execute) = JobCount(s)(df.write.format("noop").mode("overwrite").save())
      (q, construct, execute)
    } finally s.catalog.clearCache()
  }

  /** Measured once for both tests below, after a pass that warms the loads. */
  private lazy val warmCuration = { curationJobs(); curationJobs() }

  test("warm construct jobs of the curation pair at sf0.001") {
    assert(warmCuration.map(j => j._1 -> j._2) ===
      Seq("q_component_labels" -> 4, "q_dedup_keep_best" -> 0))
  }

  /** A round-robin spread or a broadcast of the weak-label weights
    * that comes back adds execute jobs here. */
  test("warm execute jobs of the curation pair at sf0.001") {
    assert(warmCuration.map(j => j._1 -> j._3) ===
      Seq("q_component_labels" -> 5, "q_dedup_keep_best" -> 3))
  }

  /** The runner splits the phases by the thread's `graft.phase`
    * property, not by a per-call tag, and releases each query's stages:
    * its counts of the same warm pair must be the ones pinned above. */
  test("Runner.run's construct and execute jobs of the curation pair equal JobCount's") {
    val pinned = warmCuration
    val s = spark.newSession()
    val got = Seq("q_component_labels", "q_dedup_keep_best").map { q =>
      val r = Runner.run(s, SparkEntry.defs.find(_.name == q).get, Sf0001, Runner.noop)
      assert(r.err.isEmpty, s"$q failed: ${r.err}")
      (q, r.construct.jobs, r.execute.jobs)
    }
    assert(got === pinned)
  }

  /** Jobs carry the run's own `graft.run` id: a job another thread
    * submits while the run builds is neither construct nor background
    * of it. The other thread is started before the run, so it does not
    * inherit the run's properties. */
  test("Runner.run does not count a job that another thread submits during the run") {
    val s = spark.newSession()
    val go, done = new CountDownLatch(1)
    val other = new Thread(() => {
      go.await()
      s.range(0L, 1000L, 1L, 4).groupBy((col("id") % 7).as("m")).count().collect()
      done.countDown()
    })
    other.start()
    val d = QueryDef("q_overlap_probe", (s2, _) => {
      go.countDown()
      done.await()
      s2.range(0L, 10L).toDF("id")
    }, None)
    val r = Runner.run(s, d, Sf0001, Runner.noop)
    other.join()
    assert(r.err.isEmpty, s"${r.err}")
    val (_, writeJobs) = JobCount(s)(Runner.noop(s.range(0L, 10L).toDF("id")))
    assert((r.construct.jobs, r.execute.jobs, r.background.jobs) === ((0, writeJobs, 0)))
    assert(r.construct.stages.isEmpty && r.background.stages.isEmpty)
  }
}
