package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured. Bench, Verify, every
  * main and the spec session start from [[builder]]; a caller that
  * differs (a scheduler mode, a state-store provider, a retry master)
  * chains its difference onto the builder and hands it to [[start]].
  */
object Sessions {
  /** Cores of a session, and its shuffle partitions. */
  lazy val cpus: Int = cpusFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  /** `SPARK_GRAFT_CPUS`'s value, or the host's core count when unset. */
  def cpusFrom(env: Option[String]): Int =
    env.fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  /** The runners' sf table directory: `SPARK_GRAFT_SF_DIR`, else sf0.1. */
  lazy val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** `SPARK_GRAFT_QUERIES` (comma-separated names), which restricts a
    * Bench or Verify run for local iteration; `None` runs every query. */
  lazy val queries: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").map(_.trim).toSet)

  /** `local[cpus]` with as many shuffle partitions, UTC, no UI. Pass
    * `cpus` only where a result or a pinned count depends on it. */
  def builder(cpus: Int = Sessions.cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events parquet carries TIMESTAMP(NANOS); read as long + convert
      // (see Tables.events) instead of failing the scan.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** `getOrCreate`, then the log levels, which Spark's own logging
    * setup would reset if they were set before the context exists. */
  def start(b: SparkSession.Builder = builder(), logLevel: String = "WARN"): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    // WindowExec warns "No Partition Defined" on EVERY unpartitioned
    // window — including the library's deliberately-bounded bucket/bin
    // offset frames (one row per bucket, documented at each site,
    // bucket counts fixed independent of corpus size). Those hundreds
    // of identical lines drowned the bench tail the harness scrapes;
    // scope that ONE logger to ERROR so real warnings stay visible.
    // (A constant partition key does not silence it — Catalyst's
    // EliminateWindowPartitions strips foldable keys.)
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    spark
  }
}
