package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.queries.QueryDef

/** Driver-run correctness dump: each SparkEntry query result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (`tools/compare_oracle.py`).
  * OracleSpec runs the same dump and compare inside the test suite. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.start()
    // SPARK_GRAFT_QUERIES restricts the dump for local iteration — the
    // driver sets nothing and gets the full surface
    dump(spark, SparkEntry.defs.filter(d => Sessions.queries.forall(_.contains(d.name))),
      sfDir, outDir)
    spark.stop()
  }

  /** Writes each def's result to `outDir/<name>` and the full oracle map
    * to `outDir/oracle_sql.json`. A query that throws, while it is built
    * or while it runs, is reported and skipped; the rest still dump.
    * Returns the names that failed. */
  def dump(spark: SparkSession, defs: Seq[QueryDef], sfDir: String,
      outDir: String): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = defs.filterNot { d =>
      // repartition(1), NOT coalesce(1): both give the single-file dump
      // the compare reads, but coalesce FUSES the whole upstream
      // computation into the one write task when no shuffle intervenes
      // — a map-only kernel query then runs on one core (measured: the
      // contamination kernel at a 10× scale-up, 20+ executor-minutes
      // serialized). The explicit exchange keeps compute at full
      // parallelism and ships only RESULT rows to the writer.
      val ok = try {
        d.build(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/${d.name}")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${d.name} failed: ${e.getMessage}")
        false
      }
      // release the query's staged frames (Staging.stage)
      spark.catalog.clearCache()
      ok
    }.map(_.name)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // ALWAYS the full oracle map, even for a subset of defs: a
    // restricted re-dump into an existing full dump dir (the sweep's
    // "refresh one query" move) must not shrink the map, or the compare
    // quietly demotes every other query to a rows-only check.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }
}
