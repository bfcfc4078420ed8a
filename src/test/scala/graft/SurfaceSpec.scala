package graft

import org.scalatest.funsuite.AnyFunSuite

/** Consistency of the query surface itself — guards the contract the
  * driver's correctness gate depends on: every query either carries a
  * DuckDB oracle or is on the EXPLICIT no-oracle list (each of those is
  * covered by an exact-reference or bound spec instead), and SURVEY §2
  * never references a query that doesn't exist.
  */
class SurfaceSpec extends AnyFunSuite {

  /** Queries with no cross-engine SQL oracle, each justified in
    * SURVEY §2.
    *
    * r9 history of this list: q_ann_lsh/_recall left first (Rademacher
    * integer signatures), then q_semdedup and the IVF family (portable
    * integer Lloyd / md5 fit draw / rank-select radii), and finally
    * the whole PQ family — q_ann_pq/_recall and
    * q_ann_ivfpq/_recall/_sweep/_grid — when the PQ codebook fit moved
    * to the same portable integer discipline (quantNorm20 unit-sphere
    * integers, md5 draw+order, integer Lloyd — see
    * Similarity.fitPqCodebookQ) and codes/ADC/shortlists became exact
    * int64. Re-publishing the recall curves was part of that change
    * (they IMPROVED: PQ 0.89, IVF+PQ 0.92 at (12,128)).
    *
    * What remains, deliberately: R15's fidelity target is the
    * reference's own Spark-ML KMeans + silhouette
    * (project-co2.py:34-76), whose k-means‖ init and
    * ClusteringEvaluator are not portably replayable; swapping the
    * engine would trade reference fidelity for an oracle.
    * ClusteringSpec pins the reference behavior instead.
    */
  private val noOracleAllowed = Set(
    "q_kmeans_clusters")

  test("every query has an oracle or a documented exemption") {
    val noOracle = SparkEntry.defs.filter(_.oracle.isEmpty).map(_.name).toSet
    assert(noOracle === noOracleAllowed)
  }

  test("the surface declares 198 distinct query names") {
    assert(SparkEntry.defs.map(_.name).distinct.size === 198)
    assert(SparkEntry.defs.size === 198)
  }

  test("SURVEY §2 headline row count matches the table") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val rows = """(?m)^\|\s*([RE])\d+\s*\|""".r.findAllMatchIn(survey).toSeq
    val (r, e) = (rows.count(_.group(1) == "R"), rows.count(_.group(1) == "E"))
    val headline =
      """Counts \(r\d+\): (\d+) rows — (\d+) R \+ (\d+) E""".r
        .findFirstMatchIn(survey)
        .getOrElse(fail("SURVEY.md headline count line not found"))
    assert(headline.group(1).toInt == r + e,
      s"headline says ${headline.group(1)} rows, table has ${r + e}")
    assert(headline.group(2).toInt == r && headline.group(3).toInt == e,
      s"headline R/E split ${headline.group(2)}/${headline.group(3)} vs table $r/$e")
  }

  test("SURVEY §2 references only real queries, and every query is referenced") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val referenced = "q_[a-z0-9_]+".r.findAllIn(survey).toSet
    val q = SparkEntry.queries.keySet
    val ghosts = referenced -- q
    assert(ghosts.isEmpty, s"SURVEY names nonexistent queries: $ghosts")
    val undocumented = q -- referenced
    assert(undocumented.isEmpty, s"queries missing from SURVEY §2: $undocumented")
  }
}
