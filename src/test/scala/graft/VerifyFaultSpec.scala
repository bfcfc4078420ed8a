package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.graft.CacheBridge

import graft.ops.Staging
import graft.queries.QueryDef
import graft.sources.Tables

/** A query that throws while it is built must not take the run down:
  * Verify reports it, the queries after it still dump, and nothing the
  * failed build staged outlives it.
  */
class VerifyFaultSpec extends SparkSpecBase {

  test("a construct fault is reported and skipped, with no cached plan left") {
    val real = Seq("q_chi_square", "q_token_budget")
      .map(n => SparkEntry.defs.find(_.name == n).get)
    val fault = QueryDef("q_construct_fault", (s, dir) => {
      Staging.stage(Tables.orders(s, dir))
      throw new IllegalStateException("construct fault")
    }, None)
    val out = Files.createTempDirectory("graft-verify-fault")
    try {
      val failed = Verify.dump(spark, Seq(real(0), fault, real(1)), Sf0001, out.toString)
      assert(failed === Seq("q_construct_fault"))
      for (d <- real)
        assert(Files.exists(out.resolve(s"${d.name}/_SUCCESS")), s"${d.name} did not dump")
      assert(!Files.exists(out.resolve("q_construct_fault")))
      assert(CacheBridge.noCachedPlans(spark))
    } finally
      Files.walk(out).sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
  }
}
