package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.StageCollector.{Construct, Execute, Phase, PhaseKey, Stage}
import graft.ops.BuildAttribution
import graft.queries.QueryDef

/** The one place a query runs: Bench, Verify and `Inspect --stages`
  * call [[run]]. It builds the def's frame with the thread's
  * `graft.phase` property set to `construct`, then hands the frame to
  * the sink with it set to `execute`, so [[StageCollector]] splits the
  * query's jobs and stages exactly, with no bus drain in between.
  *
  * A query that throws, while it is built or while it runs, is
  * returned as `err`. Either way the run ends by releasing what the
  * query staged (`catalog.clearCache()`, see [[graft.ops.Staging]]),
  * so the next query starts from no cached plan. That clear is
  * context-wide: do not call [[run]] from concurrent sessions.
  */
object Runner {

  /** One run. `t0`..`t1` is construct and `t1`..`t2` execute (nanoTime);
    * a build that throws ends construct at `t2`. Stages of jobs with no
    * phase (background builds) that completed during the run are
    * `background`. */
  final case class Run(err: Option[Throwable], t0: Long, t1: Long, t2: Long,
      construct: Phase, execute: Phase, background: Phase) {
    def sec: Double = (t2 - t0) / 1e9
    def constructSec: Double = (t1 - t0) / 1e9
    def executeSec: Double = (t2 - t1) / 1e9
    def stages: Seq[Stage] = construct.stages ++ execute.stages ++ background.stages
  }

  /** Evaluates every row of every column and writes nothing. */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, d: QueryDef, sfDir: String, sink: DataFrame => Unit): Run = {
    val sc = spark.sparkContext
    val collector = StageCollector.attach(sc)
    try {
      BuildAttribution.setContext(d.name)
      var t1 = 0L
      var t2 = 0L
      val t0 = System.nanoTime()
      val err =
        try {
          sc.setLocalProperty(PhaseKey, Construct)
          val df = d.build(spark, sfDir)
          t1 = System.nanoTime()
          sc.setLocalProperty(PhaseKey, Execute)
          sink(df)
          None
        } catch { case e: Throwable => Some(e) }
        finally {
          t2 = System.nanoTime()
          sc.setLocalProperty(PhaseKey, null)
          BuildAttribution.clearContext()
          spark.catalog.clearCache()
        }
      val phases = collector.take()
      Run(err, t0, if (t1 == 0L) t2 else t1, t2, phases(Construct), phases(Execute),
        phases(StageCollector.Background))
    } finally collector.stop()
  }
}
