package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs (one JVM-wide session — ScalaTest
  * runs suites sequentially in the forked JVM).
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  // lazy val (NOT def): suites `import spark.implicits._`, which needs a
  // stable identifier. Each suite's lazy val resolves at first access
  // during ITS run — suites run sequentially, so a RetrySpec-style
  // session swap between suites is absorbed by the accessor below.
  lazy val spark: SparkSession = SparkSpecBase.session
  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
}

object SparkSpecBase {
  // def + stopped-check (not lazy val): RetrySpec needs its OWN
  // SparkContext (task retries require `local[n, maxFailures]`, a
  // context-construction-time setting), so it stops the shared session
  // and this accessor rebuilds it for whichever suite runs next.
  private var cached: SparkSession = _
  def session: SparkSession = synchronized {
    if (cached == null || cached.sparkContext.isStopped) {
      // 4 cores whatever the host: ConstructJobsSpec pins job counts
      // that depend on the partition count
      cached = Sessions.start(Sessions.builder(cpus = 4)
        .appName("graft-test")
        .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse"),
        logLevel = "ERROR")
    }
    cached
  }
}
