package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{GraftBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** The one stage listener: Bench sums a query's stages into its
  * cpu/run/spill figures, `Inspect --stages` prints them one per line.
  * It sees every job of the context, background builds' included.
  */
final class StageCollector private (sc: SparkContext) extends SparkListener {
  import StageCollector._

  private val stages = new ConcurrentLinkedQueue[Stage]
  private val jobs = new AtomicInteger

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) {
      val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s)
        .getOrElse(-1L)
      stages.add(Stage(si.stageId, si.name, si.numTasks, wall, m.executorRunTime,
        m.executorCpuTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled))
    }
  }

  /** Drains the listener bus, then takes every job started and stage
    * completed since the previous call. */
  def take(): Phase = {
    GraftBus.drain(sc)
    Phase(jobs.getAndSet(0), Iterator.continually(stages.poll()).takeWhile(_ != null).toSeq)
  }

  def stop(): Unit = sc.removeSparkListener(this)
}

object StageCollector {
  /** One completed stage. `runMs` sums task wall (cache-lock and IO
    * waits included); `cpuNs` sums on-cpu time, the contention-relevant
    * number; `inputB` counts bytes read from files and from stored
    * (persisted or checkpointed) blocks. */
  final case class Stage(id: Int, name: String, tasks: Int, wallMs: Long, runMs: Long,
      cpuNs: Long, inputB: Long, shuffleReadB: Long, shuffleWriteB: Long, spillB: Long) {
    def line: String =
      f"stage=$id%4d wall=$wallMs%6dms run=$runMs%7dms cpu=${cpuNs / 1000000}%7dms " +
        f"in=${inputB / 1024}%8dKB shufR=${shuffleReadB / 1024}%8dKB " +
        f"shufW=${shuffleWriteB / 1024}%8dKB spill=${spillB / 1024}%6dKB " +
        f"tasks=$tasks%3d  ${name.take(60)}"
  }

  final case class Phase(jobs: Int, stages: Seq[Stage]) {
    def cpuNs: Long = stages.map(_.cpuNs).sum
    def runMs: Long = stages.map(_.runMs).sum
    def spillB: Long = stages.map(_.spillB).sum
  }

  def attach(sc: SparkContext): StageCollector = {
    val c = new StageCollector(sc)
    sc.addSparkListener(c)
    c
  }
}
