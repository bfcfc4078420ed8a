package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.sys.process._

import org.apache.spark.sql.graft.CacheBridge

import graft.ops.{PairFunnel, Similarity}

/** The correctness gate in the suite: Verify's dump of every query at
  * sf0.001, then `tools/compare_oracle.py` over it, which hash-matches
  * each result against its DuckDB oracle and rows-checks the
  * oracle-less ones. Any failed dump, FAIL line, never-dumped query or
  * missing PASS fails the suite. The dump runs every query through
  * `Runner`, whose per-query scope must release all that the query
  * staged: no cached plan may be left after it, with no cache clear in
  * between.
  */
class OracleSpec extends SparkSpecBase {

  test("every query dumps and matches its DuckDB oracle at sf0.001") {
    val out = Files.createTempDirectory("graft-oracle")
    try {
      // earlier suites share the session
      spark.catalog.clearCache()
      val failed = Verify.dump(spark, SparkEntry.defs, Sf0001, out.toString)
      assert(CacheBridge.noCachedPlans(spark), "a query left a cached plan behind")
      assert(failed.isEmpty, s"queries that failed to dump: ${failed.mkString(", ")}")
      val lines = Seq.newBuilder[String]
      val exit = Seq("python3", "tools/compare_oracle.py", Sf0001, out.toString)
        .!(ProcessLogger(lines += _, lines += _))
      val log = lines.result()
      val problems = log.filter(l => l.startsWith("FAIL") || l.startsWith("NODUMP"))
      def count(field: String): Int =
        s""""$field": (\\d+)""".r.findFirstMatchIn(log.mkString("\n"))
          .map(_.group(1).toInt).getOrElse(fail(s"no $field in the compare's summary"))
      assert(exit === 0, s"compare_oracle.py exited $exit:\n${problems.mkString("\n")}")
      assert(count("n_fail") === 0, problems.mkString("\n"))
      assert(count("n_pass") === SparkEntry.defs.size)
    } finally {
      Files.walk(out).sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      // later suites count builds and jobs from a clean session
      spark.catalog.clearCache()
      PairFunnel.invalidateAll()
      Similarity.invalidateMemo()
    }
  }
}
