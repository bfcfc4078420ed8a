package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, prints one compact JSON line with the headline
  * numbers and writes the FULL per-query detail to `bench_full.json`.
  *
  * Sink is the `noop` datasource — it fully evaluates every row of every
  * projected column (unlike `count()`, which lets Catalyst prune all
  * columns and measures only scan+filter). Failures are NOT swallowed:
  * a failed query records `"err"` and `n_err` counts it in the summary.
  *
  * Output-size contract: the harness that scrapes this process keeps
  * only the LAST ~2000 characters of output and `raw_decode`s from the
  * first `{"metric"` it finds. A 100-query map (~4 KB) overflows that
  * window and a nonzero exit appends ~200 chars of runner error lines
  * after the JSON — both made rounds 3-4 unparseable. Hence: the stdout
  * line carries only the slowest `TOPN` queries + aggregate fields, the
  * complete map goes to a file, and the exit code is ALWAYS 0 (errors
  * and regressions are reported inside the JSON, where the scraper can
  * actually see them).
  *
  * `SPARK_GRAFT_QUERIES` (comma-separated names) restricts the run for
  * local iteration.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = Sessions.sfDir
    val spark = Sessions.start()
    // contention telemetry (SURVEY §12 made the core-sharing
    // attribution prose; this makes it mechanical): summed executor
    // ON-CPU nanos and task run millis per query, published as
    // cpu_s/run_s in bench_full.json. run ≫ cpu ⇒ descheduling / IO
    // waits (ambient load), cpu ≈ run at higher sec ⇒ real work grew.
    // Spill (r10, for the constrained-memory proof): disk bytes actually
    // spilled per query — the evidence that the spill paths ENGAGE (not
    // just exist) when the heap is deliberately small. Each `take()`
    // drains the listener bus first and runs outside the timed region.
    val stages = StageCollector.attach(spark.sparkContext)
    // warmup: absorb codegen/classloading AND the noop-sink write path
    // (r2 warmed only count(), so the alphabetically-first query paid
    // ~3 s of datasource/commit-protocol init every round)
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
      .write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    // steal telemetry (r14): hypervisor steal time inflates guest task
    // CPU accounting while staying INVISIBLE to load average — the r13
    // "shared-JVM cpu inflation" hunt found identical stages at 1.6-2.7x
    // cpu_s with zero spill whenever a co-tenant burst overlapped the
    // run. Publishing per-query steal seconds turns that from an
    // unexplained anomaly into an attributed, discardable measurement.
    def stealJiffies(): Long =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().next().trim.split("\\s+")(8).toLong
        finally src.close()
      } catch { case _: Throwable => 0L }

    // firstSec is present iff the query was retried (adaptive best-of-2
    // below): both samples are published so baseline refreshes and
    // vs_prev readers can account for the asymmetric keep-the-minimum
    // sampling instead of mistaking best-of-2 numbers for best-of-1.
    final case class R(name: String, sec: Double, err: Option[String],
        firstSec: Option[Double] = None,
        cpuS: Double = 0.0, runS: Double = 0.0, spillMb: Double = 0.0,
        stealS: Double = 0.0, compiles: Long = 0L)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => Sessions.queries.forall(_.contains(n)) }
    // committed per-query baseline (also feeds the vs_prev gate below):
    // loaded up front so the blip-retry policy can consult it per query
    // default baseline bumped r15 -> r17 (r16 verdict item 2): the
    // vs_prev gate and the blip-retry policy now adjudicate against
    // POST-optimization numbers (bench_baselines/r17_sf0.1.txt, 198
    // rows incl. q_bpe_merges, wall+cpu columns), not the two-round-old
    // r15 file that lacked a q_bpe_merges row entirely.
    val baselineFile = new java.io.File(
      s"bench_baselines/${sys.env.getOrElse("SPARK_GRAFT_BASELINE", "r17")}_${
        new java.io.File(sfDir).getName}.txt")
    // baseline format: `name wall_sec [cpu_sec]` — cpu present from r13
    // on, and it feeds the host-load verdict below (r12: a loaded-host
    // record with 38 wall-only inflations shipped as a round bench).
    val base: Map[String, (Double, Option[Double])] =
      if (!baselineFile.isFile) Map.empty
      else scala.io.Source.fromFile(baselineFile).getLines()
        .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
        .map { l =>
          val p = l.split(" ")
          p(0) -> (p(1).toDouble, if (p.length > 2) Some(p(2).toDouble) else None)
        }.toMap
    // ADAPTIVE best-of-2: when a query's first run exceeds 1.5× its
    // committed baseline, re-run once and keep the better time. This
    // machine's ambient load blips individual sub-seconds queries by
    // 2×+ between runs (r6: q_tpch_q3/q4 at ~2 s with pinned-clean
    // plans); a single retry separates "transiently descheduled" from
    // "actually regressed" at a cost of seconds, without doubling the
    // whole suite. Bounded by a retry budget so a genuinely loaded host
    // can't double the run.
    var retriesLeft = 20
    var nRetried = 0
    // r14 verdict item 7: q_token_budget crossed the 1.5x retry trigger
    // late in a 20-retry (high-steal) run and was silently NOT retried —
    // the record stopped adjudicating its own tail without saying so.
    // Count every trigger the exhausted budget denies and publish it.
    var nRetryDenied = 0
    var gcBudget = 16
    val results = selected.map { case (name, fn) =>
      // shared-build attribution (r16 verdict item 9): builds the
      // PairFunnel/ANN memo layers execute during this query's timed
      // region are recorded against it, and the drained map is
      // published as the ADDITIVE shared_builds field of
      // bench_full.json below — so a later consumer's small number is
      // readable as "rides the build <query X> paid" instead of
      // looking like a standalone cost. stdout line unchanged.
      graft.ops.BuildAttribution.setContext(name)
      // generated-code compilations in the timed region: the count of
      // Spark's codegen compile-time histogram (cache misses only). The
      // histogram is JVM-wide, not per query: compiles of background
      // builds (SharedBuilds.inBackground, the ANN prefetch) land on
      // whichever query is timed while they run.
      def compiles(): Long =
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      def once(): (Double, Option[String], Double, Double, Double, Double, Long) = {
        stages.take() // drop what ran before this query
        val st0 = stealJiffies(); val cc0 = compiles()
        val t0 = System.nanoTime()
        val err =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
          catch { case e: Throwable =>
            Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
          }
        val sec = (System.nanoTime() - t0) / 1e9
        val cc = compiles() - cc0
        // several queries persist() intermediates; clearing between
        // queries (outside the timed region) keeps timings isolated.
        // localCheckpoint blocks are NOT cache entries — ContextCleaner
        // frees them only after their RDD is GC'd, so without an explicit
        // gc() the checkpoint-heavy queries' blocks pile up in storage
        // memory and slow every query that runs after them (measured:
        // q_dataset_card 1.5 s alone vs 6.6 s late in a 146-query run).
        // The gc() is CONDITIONAL: only checkpoint-capable queries —
        // those over 1 s, every closure user at the bench sf — plus an
        // every-16th backstop pay it; a full 8-48 g collection costs
        // ~0.1-0.3 s and ~130 of the 184 queries create no checkpoint
        // blocks at all.
        spark.catalog.clearCache()
        gcBudget -= 1
        if (sec > 1.0 || gcBudget <= 0) { System.gc(); gcBudget = 16 }
        val ran = stages.take()
        (sec, err, ran.cpuNs / 1e9, ran.runMs / 1e3, ran.spillB / 1048576.0,
          (stealJiffies() - st0) / 100.0, cc)
      }
      var (sec, err, cpuS, runS, spillMb, stealS, cc) = once()
      var firstSec: Option[Double] = None
      val wantsRetry = err.isEmpty &&
        base.get(name).exists { case (b, _) => sec > 1.5 * b && sec - b > 0.5 }
      if (wantsRetry && retriesLeft <= 0) nRetryDenied += 1
      if (wantsRetry && retriesLeft > 0) {
        retriesLeft -= 1
        nRetried += 1
        firstSec = Some(sec)
        val (sec2, err2, cpu2, run2, sp2, st2, cc2) = once()
        if (err2.isEmpty && sec2 < sec) {
          sec = sec2; cpuS = cpu2; runS = run2; spillMb = sp2; stealS = st2; cc = cc2
        }
      }
      graft.ops.BuildAttribution.clearContext()
      R(name, sec, err, firstSec, cpuS, runS, spillMb, stealS, cc)
    }
    val sharedBuilds = graft.ops.BuildAttribution.drain()
    val buildFailures = graft.ops.SharedBuilds.drainFailures()
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    def fmt(sec: Double): String = f"$sec%.3f"
    val qsFull = results.map { r =>
      val spill = if (r.spillMb > 0.05) s""","spill_mb":${fmt(r.spillMb)}""" else ""
      val steal = if (r.stealS > 0.05) s""","steal_s":${fmt(r.stealS)}""" else ""
      val cpu = s""","cpu_s":${fmt(r.cpuS)},"run_s":${fmt(r.runS)}$spill$steal""" +
        s""","codegen_compiles":${r.compiles}"""
      val v = (r.err, r.firstSec) match {
        case (Some(m), _) => s"""{"sec":${fmt(r.sec)},"err":${jstr(m)}}"""
        case (None, Some(f)) =>
          s"""{"sec":${fmt(r.sec)},"first_sec":${fmt(f)},"retried":true$cpu}"""
        case (None, None) => s"""{"sec":${fmt(r.sec)}$cpu}"""
      }
      jstr(r.name) + ":" + v
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

    // Per-query regression gate vs the previous round's bench at the
    // same sf (bench_baselines/, refreshed each round). Ratios are
    // SHARE-normalized — (sec/total) / (old_sec/old_total) — because
    // the benching host's speed swings by 2x between runs (measured:
    // an idle-machine rerun moved EVERY query by a ~2.3x median,
    // including untouched scan-only ones); a raw-seconds gate would
    // flag ambient noise as regressions. A genuinely regressed query
    // still moves its SHARE of total time. Flag: share ratio > 1.5 and
    // absolute slowdown > 1 s. Report-only ("vs_prev") — never the
    // exit code (see the output-size contract above).
    val vsPrev: Option[String] =
      if (base.isEmpty) None
      else {
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
        // bench. The gate is now cpu-aware: (a) globally, if the median
        // RAW wall ratio is inflated while the median cpu ratio is
        // flat, the record marks itself host_loaded and demands a
        // rerun; (b) per query, a flagged share-ratio regression whose
        // own cpu_s did NOT grow is reported as wall_only (rerun), not
        // as a regression — only cpu-corroborated slowdowns (or queries
        // with no baseline cpu) make the regressions list.
        def median(xs: Seq[Double]): Double =
          if (xs.isEmpty) 1.0
          else { val s = xs.sorted; s(s.size / 2) }
        val cpuRated = common.flatMap { r =>
          base(r.name) match {
            case (o, Some(oc)) if oc > 0.05 && o > 0 =>
              Some((r.name, r.sec / o, r.cpuS / oc))
            case _ => None
          }
        }
        val medianWall = median(cpuRated.map(_._2))
        val medianCpu = median(cpuRated.map(_._3))
        val hostLoaded =
          cpuRated.size >= 20 && medianWall > 1.4 && medianCpu < 1.15
        def cpuGrew(name: String, sec: Double): Boolean =
          base(name) match {
            case (_, Some(oc)) if oc > 0.05 =>
              results.find(_.name == name).exists(_.cpuS > 1.25 * oc)
            case _ => true // no baseline cpu: can't exonerate, keep flagged
          }
        val flagged = rated
          .filter { case (_, o, n, ratio) => ratio > 1.5 && n - o > 1.0 }
          .sortBy(-_._4)
        val (regressions, wallOnly) =
          flagged.partition { case (q, _, n, _) => cpuGrew(q, n) }
        val worst = rated.maxByOption(_._4)
        Some(
          s""""vs_prev":{"baseline":${jstr(baselineFile.getName)},""" +
            s""""n_compared":${rated.size},""" +
            s""""median_wall_ratio":${math.rint(medianWall * 100) / 100},""" +
            s""""median_cpu_ratio":${math.rint(medianCpu * 100) / 100},""" +
            (if (hostLoaded)
              s""""host_loaded":true,"verdict":${jstr(
                "wall inflated with flat cpu across the suite — host " +
                "loaded; rerun required, do not commit as a baseline")},"""
             else "") +
            s""""worst":${worst.map { case (q, _, _, r) =>
              s"""{"q":${jstr(q)},"ratio":${math.rint(r * 100) / 100}}""" }.getOrElse("null")},""" +
            s""""n_regressed":${regressions.size},""" +
            s""""n_wall_only":${wallOnly.size},""" +
            s""""regressions":[${regressions.take(4).map { case (q, o, n, r) =>
              s"""{"q":${jstr(q)},"old":${fmt(o)},"new":${fmt(n)},"ratio":${math.rint(r * 100) / 100}}""" }
              .mkString(",")}],""" +
            s""""wall_only":[${wallOnly.take(4).map { case (q, o, n, r) =>
              s"""{"q":${jstr(q)},"old":${fmt(o)},"new":${fmt(n)},"ratio":${math.rint(r * 100) / 100}}""" }
              .mkString(",")}]}""")
      }
    val spillTotal = results.map(_.spillMb).sum
    def line(qs: String, note: String): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
        s""""n_queries":${results.size},"n_err":$nErr,"n_retried":$nRetried,""" +
        (if (nRetryDenied > 0)
          s""""retries_exhausted":true,"n_retry_denied":$nRetryDenied,"""
         else "") +
        s""""spill_mb_total":${fmt(spillTotal)},""" +
        vsPrev.map(_ + ",").getOrElse("") +
        (if (note.nonEmpty) s""""queries_note":${jstr(note)},""" else "") +
        s""""sf":${jstr(sfDir)}}"""
    // full detail (every query) for the repo / humans. shared_builds
    // (r17, additive, FILE ONLY): which query paid each session-shared
    // build this run; shared_build_failures: every background shared
    // build that threw — the stdout line is unchanged.
    val sharedJson =
      (if (sharedBuilds.isEmpty) ""
       else sharedBuilds.map { case (b, q) => s"${jstr(b)}:${jstr(q)}" }
         .mkString(""","shared_builds":{""", ",", "}")) +
      buildFailures.map { case (b, e) => s"""{"build":${jstr(b)},"error":${jstr(e)}}""" }
        .mkString(""","shared_build_failures":[""", ",", "]")
    val fullLine = {
      val l = line(qsFull, "")
      l.dropRight(1) + sharedJson + "}"
    }
    val fw = new java.io.PrintWriter("bench_full.json")
    try fw.println(fullLine) finally fw.close()
    println(line(qsCompact, s"slowest $TOPN of ${results.size}; full map in bench_full.json"))
    spark.stop()
    // ALWAYS exit 0 — see the output-size contract in the scaladoc.
  }
}
