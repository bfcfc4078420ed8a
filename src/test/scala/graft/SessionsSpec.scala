package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Every graft session is configured in one place, [[Sessions]]. */
class SessionsSpec extends SparkSpecBase {

  /** (file, line) of every non-comment source line matching `pattern`. */
  private def codeSites(pattern: String): Seq[(String, String)] = {
    val re = pattern.r
    Seq("src/main", "src/test").flatMap { root =>
      val files = Files.walk(Paths.get(root))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala
        .filterNot { l => val t = l.trim; t.startsWith("*") || t.startsWith("//") || t.startsWith("/**") }
        .filter(l => re.findFirstIn(l).isDefined)
        .map(l => f.getFileName.toString -> l.trim)
    }
  }

  test("SparkSession builders appear only in the factory and the extensions-route test") {
    // split so this file's own pattern does not match itself
    val sites = codeSites("SparkSession\\s*\\.\\s*" + "builder\\b")
    assert(sites.map(_._1).toSet === Set("Sessions.scala", "SqlFunctionsSpec.scala"), sites)
    assert(sites.size === 2, sites)
  }

  test("SPARK_GRAFT_CPUS is read once, by the factory") {
    val sites = codeSites("\"SPARK_GRAFT_" + "CPUS\"")
    assert(sites.map(_._1) === Seq("Sessions.scala"), sites)
  }

  test("SPARK_GRAFT_QUERIES and SPARK_GRAFT_SF_DIR are read once, beside the cores") {
    for (name <- Seq("QUERIES", "SF_DIR")) {
      val sites = codeSites("\"SPARK_GRAFT_" + name + "\"")
      assert(sites.map(_._1) === Seq("Sessions.scala"), sites)
    }
  }

  test("a factory session carries UTC, nanosAsLong, no UI, and one shuffle partition per core") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get("spark.ui.enabled") === "false")
    assert(spark.sparkContext.master === "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions").toInt === spark.sparkContext.defaultParallelism)
  }

  test("SPARK_GRAFT_CPUS parses its value and falls back to the host's core count when unset") {
    assert(Sessions.cpusFrom(None) === Runtime.getRuntime.availableProcessors)
    assert(Sessions.cpusFrom(Some(" 6 ")) === 6)
  }
}
