package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.start()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_QUERIES (comma-separated) restricts the dump for local
    // iteration — the driver sets nothing and gets the full surface
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): both give the single-file dump
      // the compare reads, but coalesce FUSES the whole upstream
      // computation into the one write task when no shuffle intervenes
      // — a map-only kernel query then runs on one core (measured: the
      // contamination kernel at a 10× scale-up, 20+ executor-minutes
      // serialized). The explicit exchange keeps compute at full
      // parallelism and ships only RESULT rows to the writer.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release the query's staged frames (Staging.stage)
      spark.catalog.clearCache()
    }
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
    // ALWAYS the full oracle map, even under SPARK_GRAFT_QUERIES: a
    // restricted re-dump into an existing full dump dir (the sweep's
    // "refresh one query" move) must not shrink the map, or the compare
    // quietly demotes every other query to a rows-only check.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
