package graft

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
    "q_kmeans_portable" -> 6)

  test("warm construct jobs per query at sf0.001") {
    budget.foreach { case (q, _) => constructJobs(q) } // warm the loads
    val got = budget.map { case (q, _) => q -> constructJobs(q) }
    assert(got === budget)
  }

  /** The curation pair in one session: the first builds the near-dup
    * funnel and its labels, the second is a memo hit on them. */
  private def curationJobs(): Seq[(String, Int)] = {
    val s = spark.newSession()
    try Seq("q_component_labels", "q_dedup_keep_best").map(q =>
      q -> JobCount(s)(SparkEntry.queries(q)(s, Sf0001))._2)
    finally s.catalog.clearCache()
  }

  test("warm construct jobs of the curation pair at sf0.001") {
    curationJobs() // warm the loads
    assert(curationJobs() === Seq("q_component_labels" -> 5, "q_dedup_keep_best" -> 0))
  }
}
