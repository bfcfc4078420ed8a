package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** The one stage listener, attached by [[Runner]] for one query. Each
  * job is put in the phase named by its `graft.phase` local property,
  * and each of its stages with it: jobs carry the submitting thread's
  * properties, AQE stage jobs and broadcasts included, so the split
  * needs no bus drain between the phases. A job with no phase (a
  * background build's thread clears it) is `background`.
  */
final class StageCollector private (sc: SparkContext) extends SparkListener {
  import StageCollector._

  private val phaseOfStage = new ConcurrentHashMap[Int, String]
  private val jobs = new ConcurrentLinkedQueue[String]
  private val stages = new ConcurrentLinkedQueue[(String, Stage)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
      .getOrElse(Background)
    jobs.add(phase)
    // a shared shuffle stage belongs to the job that submitted it first
    e.stageIds.foreach(phaseOfStage.putIfAbsent(_, phase))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) {
      val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s)
        .getOrElse(-1L)
      stages.add(phaseOfStage.getOrDefault(si.stageId, Background) ->
        Stage(si.stageId, si.name, si.numTasks, wall, m.executorRunTime,
          m.executorCpuTime, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled))
    }
  }

  /** Drains the listener bus, then returns the jobs started and the
    * stages completed since attach, by phase. */
  def take(): Map[String, Phase] = {
    GraftBus.drain(sc)
    val js = jobs.asScala
    val ss = stages.asScala.toSeq
    Seq(Construct, Execute, Background).map { p =>
      p -> Phase(js.count(_ == p), ss.collect { case (`p`, s) => s })
    }.toMap
  }

  def stop(): Unit = sc.removeSparkListener(this)
}

object StageCollector {
  /** The thread-local property that names the phase a job runs in. */
  val PhaseKey = "graft.phase"
  val Construct = "construct"
  val Execute = "execute"
  val Background = "background"

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

  final case class Phase(jobs: Int, stages: Seq[Stage])

  def attach(sc: SparkContext): StageCollector = {
    val c = new StageCollector(sc)
    sc.addSparkListener(c)
    c
  }
}
