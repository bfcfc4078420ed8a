package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.graft.CacheBridge

import graft.ops.Staging
import graft.queries.QueryDef
import graft.sources.Tables

/** A query that throws while it is built must not take the run down:
  * Verify and Bench report it, the queries after it still run, and
  * nothing the failed build staged outlives it.
  */
class VerifyFaultSpec extends SparkSpecBase {

  private val real = Seq("q_chi_square", "q_token_budget")
    .map(n => SparkEntry.defs.find(_.name == n).get)
  private val fault = QueryDef("q_construct_fault", (s, dir) => {
    Staging.stage(Tables.orders(s, dir))
    throw new IllegalStateException("construct fault")
  }, None)

  test("a construct fault is reported and skipped, with no cached plan left") {
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

  test("Bench's noop path records a construct fault as err and runs the next query") {
    val results = Bench.run(spark, Seq(real(1), fault), Sf0001)
    assert(results.map(r => r.name -> r.err) ===
      Seq("q_construct_fault" -> Some("construct fault"), "q_token_budget" -> None))
    assert(CacheBridge.noCachedPlans(spark))
    val json = new ObjectMapper
    val (stdout, full) = Bench.report(results, Sf0001, None, Bench.hostJson(spark))
    // the stdout line keeps the keys its readers parse
    val line = json.readTree(stdout)
    assert(line.fieldNames.asScala.toSet === Set("metric", "value", "unit", "queries",
      "n_queries", "n_err", "n_retried", "spill_mb_total", "queries_note", "sf"))
    assert(line.get("n_err").asInt === 1 && line.get("n_retried").asInt === 0)
    val q = json.readTree(full).get("queries").get("q_token_budget")
    assert(math.abs(q.get("construct_s").asDouble + q.get("exec_s").asDouble -
      q.get("sec").asDouble) <= 0.0015, q)
    assert(q.get("exec_jobs").asInt > 0, q)
  }
}
