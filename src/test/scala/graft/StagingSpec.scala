package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._

import graft.ops.Staging

/** `Staging.stage` persists with no job, and the frame it stages is
  * computed once however many consumer stages read it, concurrent ones
  * included: the first consumer fills the stored blocks under the
  * BlockManager's per-block lock, the others wait and read them. This
  * is the property that lets `stage` drop the count job that used to
  * materialize a stage before its consumers ran.
  */
class StagingSpec extends SparkSpecBase {

  private val Rows = 20000L

  for (aqe <- Seq(true, false))
    test(s"a staged frame runs its kernel once for two concurrent consumer stages (AQE ${if (aqe) "on" else "off"})") {
      val s = spark.newSession()
      s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      s.catalog.clearCache()
      val kernel = udf { (x: Long) => StagingSpec.calls.incrementAndGet(); x * 7 % 101 }
      val rows = s.range(0L, Rows, 1L, 8).select(col("id"), kernel(col("id")).as("k"))
      val persistedBefore = s.sparkContext.getPersistentRDDs.keySet
      StagingSpec.calls.set(0)
      val (staged, stageJobs) = JobCount(s)(Staging.stage(rows))
      assert(stageJobs === 0, "stage must run no job")
      assert(StagingSpec.calls.get === 0L)

      // two aggregations over the stage, joined: their map stages are
      // independent, so the scheduler runs them concurrently
      val byK = staged.groupBy(col("k")).agg(count(lit(1)).as("n"))
      val byRes = staged.groupBy((col("id") % 101).as("k")).agg(sum(col("k")).as("s"))
      val got = byK.join(byRes, "k").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(StagingSpec.calls.get === Rows,
        "the staged kernel must run exactly once per input row")

      val ids = 0L until Rows
      val want = ids.groupBy(_ * 7 % 101).map { case (k, g) =>
        (k, g.size.toLong, ids.filter(_ % 101 == k).map(_ * 7 % 101).sum)
      }.toSet
      assert(got === want)

      assert((s.sparkContext.getPersistentRDDs.keySet -- persistedBefore).nonEmpty,
        "the consumers must have filled the stage")
      s.catalog.clearCache()
      assert(org.apache.spark.sql.graft.CacheBridge.noCachedPlans(s))
      assert((s.sparkContext.getPersistentRDDs.keySet -- persistedBefore).isEmpty,
        "clearCache must leave no persistent RDD of the stage")
    }
}

object StagingSpec {
  val calls = new AtomicLong
}
