package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.ops.{BuildAttribution, PairFunnel, Similarity}

/** One benchmark JVM. It sets up a session and the program's entry
  * point, prints `READY`, runs the passes it is given one query at a
  * time (closed loop, one client), and writes every sample it took to
  * `--out` as JSON. It only records; `run.py` turns the records into
  * metrics and spans.
  *
  * Arguments (all `--key value`):
  *  - `sf`: table directory; `cores`: `local[cores]`; `out`: JSON file;
  *  - `passes`: `K:q1,q2,...` per pass, `;`-separated, where the kind K
  *    is `P` (priming), `U` (untraced) or `T` (traced: the trace
  *    listeners are attached for that pass). Empty: the JVM stops after
  *    `READY`, a set-up sample only;
  *  - `dump` (optional): the first pass writes each query's result to
  *    `<dump>/<query>` as parquet, for the result check, instead of to
  *    the `noop` sink;
  *  - `oracle` (optional): write the oracle SQL of the first pass's
  *    queries to this file instead of running anything.
  *
  * The program is only called through its public entry points:
  * `SparkEntry.queries(name)(spark, dir)` for construct, the `noop` write
  * for plan and execute, and the reset hooks between passes.
  */
object Harness {
  final case class QueryRec(name: String, c0: Double, c1: Double, s1: Double,
      err: Option[String])

  final case class PassRec(index: Int, kind: String, queries: Seq[QueryRec],
      cpuS: Double, gcS: Double, heapPeakMb: Double,
      funnelBuilds: Long, fitBuilds: Long, sharedBuilds: Int, trace: Option[Recorder])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val passes: Seq[(String, Seq[String])] =
      opt("passes").split(";").toSeq.filter(_.nonEmpty).map { p =>
        val Array(kind, qs) = p.split(":", 2)
        (kind, qs.split(",").toSeq)
      }
    opt.get("oracle") match {
      case Some(file) =>
        val sql = SparkEntry.oracleSql
        Files.writeString(Paths.get(file),
          Json(passes.head._2.flatMap(q => sql.get(q).map(q -> _)).toMap))
      case None => run(opt, passes)
    }
  }

  private def run(opt: Map[String, String], passes: Seq[(String, Seq[String])]): Unit = {
    val cores = opt("cores")
    val t0 = System.nanoTime()
    def log(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    log("session up")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // The program's own initialisation belongs to set-up. Warm-up of
    // class loading, code generation and JIT is the priming pass, which
    // run.py reports on its own (jvm.first_pass_s).
    val entry = SparkEntry.queries
    log("entry loaded")
    println("READY")
    System.out.flush()
    if (passes.nonEmpty) {
      measure(spark, entry, opt, passes)
      log("passes done")
    }
    spark.stop()
  }

  private def measure(spark: SparkSession,
      entry: Map[String, (SparkSession, String) => DataFrame], opt: Map[String, String],
      passes: Seq[(String, Seq[String])]): Unit = {
    val sfDir = opt("sf")
    val clock = new Clock
    val heap = new HeapWatch
    val dumpDir = opt.get("dump")
    val records = passes.zipWithIndex.map { case ((kind, queries), i) =>
      runPass(freshSession(spark), sfDir, entry, clock, heap, i, kind, queries,
        if (i == 0) dumpDir else None)
    }

    val out = Map(
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "graft_conf" -> spark.conf.getAll.filter(_._1.startsWith("spark.graft.")),
      "passes" -> records.map(passJson))
    Files.writeString(Paths.get(opt("out")), Json(out))
  }

  /** Every pass starts from a new session on the shared context, after the
    * program's public reset hooks. State the program keys by session
    * (memo entries, the once-per-session ANN prefetch) then starts over in
    * every pass, so each pass does the same work. A collection last, so
    * each pass starts from the same heap.
    */
  private def freshSession(spark: SparkSession): SparkSession = {
    PairFunnel.invalidateAll()
    Similarity.invalidateMemo()
    spark.catalog.clearCache()
    BuildAttribution.drain()
    System.gc()
    spark.newSession()
  }

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(300)

  private def runPass(spark: SparkSession, sfDir: String,
      entry: Map[String, (SparkSession, String) => DataFrame], clock: Clock,
      heap: HeapWatch, index: Int, kind: String, queries: Seq[String],
      dumpDir: Option[String]): PassRec = {
    val sc = spark.sparkContext
    val recorder = if (kind == "T") Some(new Recorder(clock)) else None
    recorder.foreach { r =>
      sc.addSparkListener(r)
      spark.listenerManager.register(r)
    }
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val funnel0 = PairFunnel.buildsExecuted
    val fit0 = Similarity.fitBuildsExecuted
    val gc0 = gcMs
    heap.reset()
    val cpu0 = os.getProcessCpuTime

    val recs = queries.map { q =>
      val fn = entry(q)
      BuildAttribution.setContext(q)
      sc.setLocalProperty("perfbench.query", s"$index:$q")
      sc.setLocalProperty("perfbench.phase", "construct")
      val c0 = clock.now()
      var c1 = Double.NaN
      var df: DataFrame = null
      val err =
        try {
          df = fn(spark, sfDir)
          c1 = clock.now()
          sc.setLocalProperty("perfbench.phase", "execute")
          dumpDir match {
            case Some(dir) => df.repartition(1).write.mode("overwrite").parquet(s"$dir/$q")
            case None => df.write.format("noop").mode("overwrite").save()
          }
          None
        } catch { case e: Throwable => Some(message(e)) }
      val s1 = clock.now()
      sc.setLocalProperty("perfbench.query", null)
      sc.setLocalProperty("perfbench.phase", null)
      BuildAttribution.clearContext()
      // staged frames are query-lifetime; graft.Bench clears them the same way
      spark.catalog.clearCache()
      QueryRec(q, c0, if (c1.isNaN) s1 else c1, s1, err)
    }

    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val peak = heap.peakMb()
    val gcS = (gcMs - gc0) / 1e3
    val shared = BuildAttribution.drain().size
    recorder.foreach { r =>
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(r)
      spark.listenerManager.unregister(r)
    }
    PassRec(index, kind, recs, cpuS, gcS, peak,
      PairFunnel.buildsExecuted - funnel0, Similarity.fitBuildsExecuted - fit0,
      shared, recorder)
  }

  private def passJson(p: PassRec): Map[String, Any] = Map(
    "index" -> p.index,
    "kind" -> p.kind,
    "cpu_s" -> p.cpuS,
    "gc_s" -> p.gcS,
    "heap_peak_mb" -> p.heapPeakMb,
    "funnel_builds" -> p.funnelBuilds,
    "fit_builds" -> p.fitBuilds,
    "shared_builds" -> p.sharedBuilds,
    "queries" -> p.queries.map(q => Map(
      "name" -> q.name, "c0" -> q.c0, "c1" -> q.c1, "s1" -> q.s1,
      "err" -> q.err.orNull)),
    "trace" -> p.trace.map(_.toJson).orNull)

  /** Epoch milliseconds with sub-millisecond resolution: Spark's event
    * times are epoch milliseconds, and the query windows must line up
    * with them. */
  final class Clock {
    private val base = System.currentTimeMillis().toDouble
    private val nano0 = System.nanoTime()
    def now(): Double = base + (System.nanoTime() - nano0) / 1e6
  }

  /** Peak heap left in use after a collection, from GC notifications:
    * the driver's live set, which the timing of collections does not
    * move. With no collection in a pass, the heap in use at its end. */
  final class HeapWatch {
    private var peak = 0L
    private val onGc: javax.management.NotificationListener = (n, _) => {
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        synchronized { if (after > peak) peak = after }
      }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(onGc, null, null)
      case _ =>
    }
    def reset(): Unit = synchronized { peak = 0L }
    def peakMb(): Double = synchronized {
      val p = if (peak > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      p / 1048576.0
    }
  }

  /** Trace listener for one pass: jobs, stages with their task totals,
    * RDD blocks stored, and the planning phases of every executed plan.
    * Callbacks arrive on the listener-bus threads; the harness reads the
    * buffers only after draining the bus.
    */
  final class Recorder(clock: Clock) extends SparkListener with QueryExecutionListener {
    private final class StageAgg(val id: Int, val attempt: Int, val submitMs: Double) {
      var completeMs = 0.0
      var tasks = 0
      var failed = 0
      var cpuNs = 0L
      var resultBytes = 0L
      var shuffleRead = 0L
      var shuffleWrite = 0L
      var input = 0L
      var spill = 0L
      var queueMs = 0L
      val runMs = mutable.ArrayBuffer.empty[Long]
    }
    private val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val jobEnd = mutable.Map.empty[Int, Double]
    private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val plans = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val sqlFrames = mutable.Map.empty[String, String]
    private var storedBytes = 0L

    /** First `graft.` frame of a call site, or "". */
    private def graftFrame(details: String): String =
      Option(details).toSeq.flatMap(_.linesIterator).map(_.trim)
        .find(_.startsWith("graft.")).getOrElse("")

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      def prop(k: String): String = props.map(_.getProperty(k)).orNull
      val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
      // A job that adaptive execution submits for a SQL action carries no
      // caller frames of its own; the action's call site is that of its
      // SQL execution, recorded when the execution started.
      val frame = result.map(s => graftFrame(s.details)).filter(_.nonEmpty)
        .orElse(Option(prop("spark.sql.execution.id")).flatMap(sqlFrames.get))
        .getOrElse("")
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobs += Map(
        "id" -> e.jobId, "start" -> e.time.toDouble,
        "query" -> prop("perfbench.query"), "phase" -> prop("perfbench.phase"),
        "frame" -> frame)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        synchronized { sqlFrames(s.executionId.toString) = graftFrame(s.details) }
      case _ =>
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobEnd(e.jobId) = e.time.toDouble
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val s = e.stageInfo
      val submit = s.submissionTime.map(_.toDouble).getOrElse(clock.now())
      stages((s.stageId, s.attemptNumber())) =
        new StageAgg(s.stageId, s.attemptNumber(), submit)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      stages.get((s.stageId, s.attemptNumber())).foreach { a =>
        a.completeMs = s.completionTime.map(_.toDouble).getOrElse(clock.now())
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stages.get((e.stageId, e.stageAttemptId)).foreach { a =>
        a.tasks += 1
        if (e.reason != Success) a.failed += 1
        a.queueMs += math.max(0L, e.taskInfo.launchTime - a.submitMs.toLong)
        val m = e.taskMetrics
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.runMs += m.executorRunTime
          a.resultBytes += m.resultSize
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.input += m.inputMetrics.bytesRead
          a.spill += m.diskBytesSpilled
        }
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) storedBytes += b.memSize + b.diskSize
    }

    private def recordPlan(qe: QueryExecution): Unit = synchronized {
      plans += Map("phases" -> qe.tracker.phases.map { case (k, v) =>
        k -> Seq(v.startTimeMs.toDouble, v.endTimeMs.toDouble)
      })
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordPlan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      recordPlan(qe)

    def toJson: Map[String, Any] = synchronized {
      Map(
        "jobs" -> jobs.map(j => j + ("end" -> jobEnd.getOrElse(j("id").asInstanceOf[Int],
          j("start").asInstanceOf[Double]))).toSeq,
        "stages" -> stages.values.map { a =>
          val sorted = a.runMs.sorted
          Map(
            "id" -> a.id, "attempt" -> a.attempt, "job" -> stageJob.getOrElse(a.id, -1),
            "submit" -> a.submitMs, "complete" -> math.max(a.completeMs, a.submitMs),
            "tasks" -> a.tasks, "failed" -> a.failed, "cpu_ns" -> a.cpuNs,
            "run_ms" -> sorted.sum, "run_max_ms" -> sorted.lastOption.getOrElse(0L),
            "run_median_ms" -> (if (sorted.isEmpty) 0L else sorted(sorted.size / 2)),
            "queue_ms" -> a.queueMs, "result_bytes" -> a.resultBytes,
            "shuffle_read" -> a.shuffleRead, "shuffle_write" -> a.shuffleWrite,
            "input" -> a.input, "spill" -> a.spill)
        }.toSeq,
        "plans" -> plans.toSeq,
        "stored_bytes" -> storedBytes)
    }
  }

  /** Minimal JSON writer for the record types above. */
  object Json {
    def apply(v: Any): String = v match {
      case null | None => "null"
      case Some(x) => apply(x)
      case s: String => str(s)
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
      case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
      case other => str(other.toString)
    }
    private def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  }
}
