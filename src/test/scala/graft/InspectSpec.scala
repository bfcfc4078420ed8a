package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import graft.tools.Inspect

/** `Inspect`, every mode, on the shared session: a plain scan and a
  * funnel-backed query. */
class InspectSpec extends SparkSpecBase {

  private def inspect(query: String, mode: String): String = {
    val buf = new ByteArrayOutputStream
    val out = new PrintStream(buf, true, "UTF-8")
    Inspect.run(spark, query, mode, Sf0001, out = out)
    out.flush()
    val text = buf.toString("UTF-8")
    assert(!text.contains("\nERROR "), s"$query $mode failed:\n$text")
    text
  }

  // --scans: q_component_labels reads documents only through a staged
  // (persisted) frame, whose scan never re-executes and is not counted
  for ((q, scans) <- Seq("q_pruned_scan" -> "lineitem x1",
      "q_component_labels" -> "no parquet scans")) {
    test(s"$q: --show prints rows") {
      assert(inspect(q, "--show").contains("+---"))
    }

    test(s"$q: --plan is the formatted plan and scans parquet") {
      val plan = inspect(q, "--plan")
      assert(plan.contains("== Physical Plan ==") && plan.contains("Scan parquet"), plan)
    }

    test(s"$q: --final prints the write's executed plan, never an unfinished adaptive one") {
      val plan = inspect(q, "--final")
      assert(plan.contains("OverwriteByExpression"), plan)
      assert(!plan.contains("isFinalPlan=false"), plan)
    }

    test(s"$q: --stages marks execute-phase stages") {
      val text = inspect(q, "--stages")
      assert(text.linesIterator.exists(_.startsWith("execute  ")), text)
      assert(text.contains(s"RUN 1 $q: construct"), text)
    }

    test(s"$q: --scans counts the static plan's parquet scans, AQE left on") {
      val text = inspect(q, "--scans")
      assert(text.contains(scans), text)
      assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    }
  }

  test("--final shows the finalized adaptive plan of a query with an exchange") {
    val plan = inspect("q_component_labels", "--final")
    assert(plan.contains("AdaptiveSparkPlan isFinalPlan=true"), plan)
  }
}
