package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.queries.QueryDef

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR through [[Runner]], prints one compact JSON line
  * with the headline numbers and writes the FULL per-query detail to
  * `bench_full.json`.
  *
  * Sink is the `noop` datasource — it fully evaluates every row of every
  * projected column (unlike `count()`, which lets Catalyst prune all
  * columns and measures only scan+filter). A query's `sec` is its build
  * plus its write (the runner's t0..t2), one sample. Failures are NOT
  * swallowed: a failed query records `"err"` and `n_err` counts it in
  * the summary.
  *
  * Output-size contract: the harness that scrapes this process keeps
  * only the LAST ~2000 characters of output and `raw_decode`s from the
  * first `{"metric"` it finds. A 100-query map (~4 KB) overflows that
  * window and a nonzero exit appends ~200 chars of runner error lines
  * after the JSON — both made rounds 3-4 unparseable. Hence: the stdout
  * line carries only the slowest `TOPN` queries + aggregate fields, the
  * complete map goes to a file, and the exit code is ALWAYS 0 (errors
  * and regressions are reported inside the JSON, where the scraper can
  * actually see them). `n_retried` stays in the line for its readers
  * and reads 0: every query runs once.
  *
  * `SPARK_GRAFT_QUERIES` (comma-separated names) restricts the run for
  * local iteration. `SPARK_GRAFT_BASELINE=<name>` compares the run with
  * `bench_baselines/<name>_<sf dir name>.txt` (`vs_prev`); with no name,
  * or no such file, there is no comparison. Compare only with a baseline
  * taken on the same host: its `# host` lines say where it was taken.
  */
object Bench {

  /** One query: the runner's record plus what Bench samples around it —
    * hypervisor steal, codegen compiles, GC time and process cpu. */
  final case class Result(name: String, run: Runner.Run, stealS: Double, compiles: Long,
      gcMs: Long, processCpuNs: Long) {
    def sec: Double = run.sec
    def err: Option[String] =
      run.err.map(e => Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
    /** A stage metric summed over the query's stages, every phase. */
    def total(metric: StageCollector.Stage => Long): Long = run.stages.map(metric).sum
    def cpuNs: Long = total(_.cpuNs)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Sessions.sfDir
    val spark = Sessions.start()
    val host = hostJson(spark)
    // warmup: absorb codegen/classloading AND the noop-sink write path
    // (r2 warmed only count(), so the alphabetically-first query paid
    // ~3 s of datasource/commit-protocol init every round)
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
      .write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val results = run(spark,
      SparkEntry.defs.filter(d => Sessions.queries.forall(_.contains(d.name))), sfDir)
    val (stdout, full) = report(results, sfDir, baseline(sfDir), host)
    val fw = new java.io.PrintWriter("bench_full.json")
    try fw.println(full) finally fw.close()
    println(stdout)
    spark.stop()
    // ALWAYS exit 0 — see the output-size contract in the scaladoc.
  }

  /** Runs `defs` in name order, each through the runner with the
    * `noop` sink. A query that throws is recorded and the next runs. */
  def run(spark: SparkSession, defs: Seq[QueryDef], sfDir: String): Seq[Result] = {
    // generated-code compilations: the count of Spark's codegen
    // compile-time histogram (cache misses only). JVM-wide, like GC and
    // process cpu, so a background build's share lands on whichever
    // query runs while it does.
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    defs.sortBy(_.name).map { d =>
      val st0 = stealJiffies(); val cc0 = compiles(); val gc0 = gcMs()
      val cpu0 = os.getProcessCpuTime
      val r = Runner.run(spark, d, sfDir, Runner.noop)
      Result(d.name, r, (stealJiffies() - st0) / 100.0, compiles() - cc0, gcMs() - gc0,
        os.getProcessCpuTime - cpu0)
    }
  }

  // steal telemetry (r14): hypervisor steal time inflates guest task
  // CPU accounting while staying INVISIBLE to load average — the r13
  // "shared-JVM cpu inflation" hunt found identical stages at 1.6-2.7x
  // cpu_s with zero spill whenever a co-tenant burst overlapped the
  // run. Publishing per-query steal seconds turns that from an
  // unexplained anomaly into an attributed, discardable measurement.
  private def stealJiffies(): Long =
    proc("/proc/stat").headOption.flatMap(_.trim.split("\\s+").lift(8)).fold(0L)(_.toLong)

  /** A /proc file's lines; none where there is no /proc. */
  private def proc(file: String): Seq[String] =
    try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().toList finally src.close()
    } catch { case _: java.io.IOException => Nil }

  /** The named baseline (`SPARK_GRAFT_BASELINE`) for this sf, if its
    * file exists: its file name and `name -> (wall_sec, cpu_sec)`. The
    * format is `name wall_sec [cpu_sec]` per line, `#` lines skipped. */
  def baseline(sfDir: String): Option[(String, Map[String, (Double, Option[Double])])] =
    sys.env.get("SPARK_GRAFT_BASELINE")
      .map(n => new java.io.File(s"bench_baselines/${n}_${new java.io.File(sfDir).getName}.txt"))
      .filter(_.isFile)
      .map { f =>
        val src = scala.io.Source.fromFile(f)
        try f.getName -> src.getLines()
          .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
          .map { l =>
            val p = l.split(" ")
            p(0) -> (p(1).toDouble, if (p.length > 2) Some(p(2).toDouble) else None)
          }.toMap
        finally src.close()
      }

  /** The run header of bench_full.json: cores, memory and load of the
    * host, the JDK and Spark versions, and every `spark.graft.*` conf
    * and `SPARK_GRAFT_*` variable in effect. */
  def hostJson(spark: SparkSession): String = {
    val memKb = proc("/proc/meminfo").find(_.startsWith("MemTotal:"))
      .map(_.split("\\s+")(1)).getOrElse("0")
    val load = proc("/proc/loadavg").headOption.map(_.split(" ").take(3).mkString(" "))
      .getOrElse("")
    def obj(kv: Iterable[(String, String)]): String =
      kv.toSeq.sorted.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    s"""{"nproc":${Runtime.getRuntime.availableProcessors},"mem_total_kb":$memKb,""" +
      s""""loadavg":${jstr(load)},"jdk":${jstr(System.getProperty("java.version"))},""" +
      s""""spark":${jstr(spark.version)},""" +
      s""""conf":${obj(spark.conf.getAll.filter(_._1.startsWith("spark.graft.")))},""" +
      s""""env":${obj(sys.env.filter(_._1.startsWith("SPARK_GRAFT_")))}}"""
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def fmt(sec: Double): String = f"$sec%.3f"

  /** The stdout line and the bench_full.json line. */
  def report(results: Seq[Result], sfDir: String,
      base: Option[(String, Map[String, (Double, Option[Double])])],
      host: String): (String, String) = {
    val qsFull = results.map { r =>
      val p = r.run
      val mb = 1048576.0
      val spillMb = r.total(_.spillB) / mb
      val fields = Seq(
        "sec" -> fmt(r.sec)) ++ r.err.map(m => "err" -> jstr(m)) ++ Seq(
        "cpu_s" -> fmt(r.cpuNs / 1e9),
        "run_s" -> fmt(r.total(_.runMs) / 1e3)) ++
        (if (spillMb > 0.05) Seq("spill_mb" -> fmt(spillMb)) else Nil) ++
        (if (r.stealS > 0.05) Seq("steal_s" -> fmt(r.stealS)) else Nil) ++ Seq(
        "codegen_compiles" -> r.compiles.toString,
        "construct_s" -> fmt(p.constructSec),
        "exec_s" -> fmt(p.executeSec),
        "construct_jobs" -> p.construct.jobs.toString,
        "exec_jobs" -> p.execute.jobs.toString,
        "background_jobs" -> p.background.jobs.toString,
        "construct_stages" -> p.construct.stages.size.toString,
        "exec_stages" -> p.execute.stages.size.toString,
        "background_stages" -> p.background.stages.size.toString,
        "shuffle_read_mb" -> fmt(r.total(_.shuffleReadB) / mb),
        "shuffle_write_mb" -> fmt(r.total(_.shuffleWriteB) / mb),
        "gc_ms" -> r.gcMs.toString,
        "non_task_cpu_s" -> fmt((r.processCpuNs - r.cpuNs) / 1e9))
      jstr(r.name) + fields.map { case (k, v) => s""""$k":$v""" }.mkString(":{", ",", "}")
    }.mkString("{", ",", "}")
    val total = results.map(_.sec).sum
    val nErr = results.count(_.err.isDefined)
    // stdout carries only the slowest TOPN (plus every errored query) —
    // the full map lives in bench_full.json
    val TOPN = 12
    val headline = (results.sortBy(-_.sec).take(TOPN) ++ results.filter(_.err.isDefined))
      .distinctBy(_.name).sortBy(-_.sec)
    val qsCompact = headline.map { r =>
      val v = r.err match {
        case None    => fmt(r.sec)
        case Some(m) => s"""{"sec":${fmt(r.sec)},"err":${jstr(m.take(60))}}"""
      }
      jstr(r.name) + ":" + v
    }.mkString("{", ",", "}")
    val vsPrev = base.map { case (file, b) => compare(results, file, b) }
    val spillTotal = results.map(_.total(_.spillB)).sum / 1048576.0
    def line(qs: String, note: String, extra: String): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
        s""""n_queries":${results.size},"n_err":$nErr,"n_retried":0,""" +
        s""""spill_mb_total":${fmt(spillTotal)},""" +
        vsPrev.map(_ + ",").getOrElse("") +
        (if (note.nonEmpty) s""""queries_note":${jstr(note)},""" else "") +
        s""""sf":${jstr(sfDir)}$extra}"""
    // full detail (every query) for the repo / humans, FILE ONLY: the
    // run header (host), which query paid each session-shared build
    // (shared_builds) and every background shared build that threw
    // (shared_build_failures) — the stdout line is unchanged.
    val sharedBuilds = graft.ops.BuildAttribution.drain()
    val buildFailures = graft.ops.SharedBuilds.drainFailures()
    val extra =
      (if (sharedBuilds.isEmpty) ""
       else sharedBuilds.map { case (b, q) => s"${jstr(b)}:${jstr(q)}" }
         .mkString(""","shared_builds":{""", ",", "}")) +
      buildFailures.map { case (b, e) => s"""{"build":${jstr(b)},"error":${jstr(e)}}""" }
        .mkString(""","shared_build_failures":[""", ",", "]") +
      (if (host.nonEmpty) s""","host":$host""" else "")
    (line(qsCompact, s"slowest $TOPN of ${results.size}; full map in bench_full.json", ""),
      line(qsFull, "", extra))
  }

  /** Per-query regression gate vs a same-sf baseline. Ratios are
    * SHARE-normalized — (sec/total) / (old_sec/old_total) — because
    * the benching host's speed swings by 2x between runs (measured:
    * an idle-machine rerun moved EVERY query by a ~2.3x median,
    * including untouched scan-only ones); a raw-seconds gate would
    * flag ambient noise as regressions. A genuinely regressed query
    * still moves its SHARE of total time. Flag: share ratio > 1.5 and
    * absolute slowdown > 1 s. Report-only ("vs_prev") — never the
    * exit code (see the output-size contract above). */
  private def compare(results: Seq[Result], file: String,
      base: Map[String, (Double, Option[Double])]): String = {
    // shares computed over the COMMON query set on both sides, so
    // queries added or removed since the baseline don't skew them
    val common = results.filter(r => r.err.isEmpty && base.contains(r.name))
    val newTotal = common.map(_.sec).sum
    val baseTotal = common.map(r => base(r.name)._1).sum
    val rated = common.map { r =>
      val o = base(r.name)._1
      (r.name, o, r.sec, (r.sec / newTotal) / (o / baseTotal))
    }
    // HOST-LOAD VERDICT (r12 verdict item 1): the r12 round record
    // shipped with 38 queries at 3-12x wall and FLAT cpu_s — the
    // loaded-host signature — and still published as the round
    // bench. The gate is cpu-aware: (a) globally, if the median RAW
    // wall ratio is inflated while the median cpu ratio is flat, the
    // record marks itself host_loaded and demands a rerun; (b) per
    // query, a flagged share-ratio regression whose own cpu_s did NOT
    // grow is reported as wall_only (rerun), not as a regression —
    // only cpu-corroborated slowdowns (or queries with no baseline
    // cpu) make the regressions list.
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 1.0
      else { val s = xs.sorted; s(s.size / 2) }
    val cpuRated = common.flatMap { r =>
      base(r.name) match {
        case (o, Some(oc)) if oc > 0.05 && o > 0 => Some((r.sec / o, r.cpuNs / 1e9 / oc))
        case _ => None
      }
    }
    val medianWall = median(cpuRated.map(_._1))
    val medianCpu = median(cpuRated.map(_._2))
    val hostLoaded = cpuRated.size >= 20 && medianWall > 1.4 && medianCpu < 1.15
    def cpuGrew(name: String): Boolean =
      base(name) match {
        case (_, Some(oc)) if oc > 0.05 =>
          results.find(_.name == name).exists(_.cpuNs / 1e9 > 1.25 * oc)
        case _ => true // no baseline cpu: can't exonerate, keep flagged
      }
    val flagged = rated
      .filter { case (_, o, n, ratio) => ratio > 1.5 && n - o > 1.0 }
      .sortBy(-_._4)
    val (regressions, wallOnly) = flagged.partition { case (q, _, _, _) => cpuGrew(q) }
    def r2(x: Double): Double = math.rint(x * 100) / 100
    def list(xs: Seq[(String, Double, Double, Double)]): String =
      xs.take(4).map { case (q, o, n, r) =>
        s"""{"q":${jstr(q)},"old":${fmt(o)},"new":${fmt(n)},"ratio":${r2(r)}}"""
      }.mkString("[", ",", "]")
    s""""vs_prev":{"baseline":${jstr(file)},"n_compared":${rated.size},""" +
      s""""median_wall_ratio":${r2(medianWall)},"median_cpu_ratio":${r2(medianCpu)},""" +
      (if (hostLoaded)
        s""""host_loaded":true,"verdict":${jstr(
          "wall inflated with flat cpu across the suite — host " +
          "loaded; rerun required, do not commit as a baseline")},"""
       else "") +
      s""""worst":${rated.maxByOption(_._4).map { case (q, _, _, r) =>
        s"""{"q":${jstr(q)},"ratio":${r2(r)}}""" }.getOrElse("null")},""" +
      s""""n_regressed":${regressions.size},"n_wall_only":${wallOnly.size},""" +
      s""""regressions":${list(regressions)},"wall_only":${list(wallOnly)}}"""
  }
}
