package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

/** RocksDB large-state streaming soak (r9 verdict item 4) — the last
  * untested 100 TB posture: keyed state DELIBERATELY larger than the
  * JVM heap, plus a KILL-and-restart recovery from the checkpoint —
  * and (r10 verdict item 4) the LONG-HAUL bounded-state shape: a
  * watermarked windowed aggregate run for ≥30 min where eviction, not
  * growth, is the steady state.
  *
  * [[StreamBench]] publishes the throughput/latency record for the
  * steady-CHURN shape (state ≈ rate × a few seconds). Real pipelines
  * also carry the ACCUMULATING shape (dedup sets, per-user aggregates):
  * with the default HDFS-backed provider every state row lives ON HEAP
  * — tens of millions of keys on a small heap is an OOM by
  * construction. The RocksDB provider
  * (`spark.sql.streaming.stateStore.providerClass = ...RocksDBStateStoreProvider`,
  * in-box since Spark 3.2) keeps rows in native memtables + SST files
  * on local disk, so state scales with DISK, not heap — the posture a
  * 1000-executor cluster actually runs with.
  *
  * Modes (`args(0)`):
  *  - `phase1` / `phase2` — the kill-and-recover pair. Workload: rate
  *    source at R rows/s where EVERY value is a distinct key,
  *    `groupBy(k).count` in update mode → noop. State grows linearly —
  *    R×T keys after T seconds — sized to push state past the heap
  *    (150k rows/s × 300 s = 45M keys on a 4 g heap). The kill is REAL:
  *    each phase is its own JVM and phase 1 ends with `Runtime.halt()`
  *    mid-stream — no stop(), no shutdown hooks, native RocksDB
  *    instances shot dead mid-write, exactly the executor-loss case.
  *    (An earlier same-JVM variant SIGSEGV'd in rocksdbjni's background
  *    compaction during phase 2 — the process boundary is also what a
  *    real cluster restart has.) Phase 2 starts from the SAME
  *    checkpoint; the record asserts it resumes at a later batchId with
  *    phase 1's state rows intact (the uncommitted tail batch replays
  *    idempotently — distinct keys absorb it) and keeps growing;
  *    `tools/stream_soak.sh` merges the phase JSONs.
  *  - `watermark` — the long-haul bounded-state soak: rate source →
  *    `withWatermark(2 min)` → 30 s tumbling window × (value mod 100k)
  *    key → count, APPEND mode (emission REQUIRES eviction) → noop.
  *    Steady state ≈ active-windows × keyspace rows no matter how long
  *    the run; the record carries a per-minute series (input rate,
  *    trigger p95, state rows, rows REMOVED — the eviction telemetry,
  *    watermark) so "bounded" and "flat p95" are read off measured
  *    minutes, not asserted. `tools/stream_soak_long.sh` gates on it.
  *
  * Progress capture: a [[StreamingQueryListener]] accumulating EVERY
  * progress event — NOT `q.recentProgress`, which retains only the last
  * `spark.sql.streaming.numRecentProgressUpdates` (default 100)
  * updates and would silently truncate any run past ~200 s at the 2 s
  * trigger (r10 advisory). State size is published MEASURED — summed
  * `stateOperators.memoryUsedBytes` (the RocksDB provider reports its
  * total native memory there) plus the provider's memory/SST custom
  * metrics — not estimated from an assumed bytes/key.
  */
object StreamSoak {

  private final class ProgressLog extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress)
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def stateRows(p: StreamingQueryProgress): Long =
    p.stateOperators.toSeq.map(_.numRowsTotal).sum
  private def stateRemoved(p: StreamingQueryProgress): Long =
    p.stateOperators.toSeq.map(_.numRowsRemoved).sum
  private def stateMemBytes(p: StreamingQueryProgress): Long =
    p.stateOperators.toSeq.map(_.memoryUsedBytes).sum
  /** RocksDB-specific memory/size custom metrics of the LAST progress —
    * SST bytes on disk vs pinned/total native memory is exactly the
    * "state larger than heap" evidence. */
  private def stateCustomMem(p: StreamingQueryProgress): Map[String, Long] =
    p.stateOperators.toSeq
      .flatMap(_.customMetrics.asScala.toSeq)
      .collect { case (k, v)
        if k.matches("(?i).*(memory|sstfiles?size|pinned).*") =>
          k -> v.longValue }
      .groupMapReduce(_._1)(_._2)(_ + _)
  private def trigMs(p: StreamingQueryProgress): Option[Long] =
    Option(p.durationMs.get("triggerExecution")).map(_.toLong)
  private def pct(sorted: IndexedSeq[Long], p: Double): Long =
    if (sorted.isEmpty) 0L
    else sorted(math.min(sorted.size - 1, (p * sorted.size).toInt))
  private def jmap(m: Map[String, Long]): String =
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val phase = args.headOption.getOrElse("phase1")
    val stateDir = args.lift(1).getOrElse("/tmp/streamsoak")
    val out = args.lift(2).getOrElse(s"/tmp/streamsoak_$phase.json")
    val rate = sys.env.getOrElse("SPARK_GRAFT_SOAK_RATE", "150000").toLong
    val secs = sys.env.getOrElse("SPARK_GRAFT_SOAK_SECS", "150").toInt
    val spark = graft.Sessions.start(graft.Sessions.builder()
      // 8 shuffle partitions = 8 RocksDB instances: state-store count
      // scales native memtable memory, and a soak's bottleneck is keyed
      // state, not compute — fewer, bigger stores is the right shape
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    val plog = new ProgressLog
    spark.streams.addListener(plog)

    val src = spark.readStream.format("rate")
      .option("rowsPerSecond", rate)
      .option("numPartitions", 8)
      .load()
    val sink = (df: org.apache.spark.sql.DataFrame, mode: String) =>
      df.writeStream
        .outputMode(mode)
        .format("noop")
        .option("checkpointLocation", s"$stateDir/ckpt")
        .trigger(Trigger.ProcessingTime("2 seconds"))
        .start()
    val q = phase match {
      case "watermark" =>
        sink(src
          .withWatermark("timestamp", "2 minutes")
          .groupBy(window(col("timestamp"), "30 seconds"),
            (col("value") % 100000L).as("k"))
          .agg(count(lit(1)).as("n")), "append")
      case _ =>
        sink(src.select(col("value").as("k"))
          .groupBy(col("k")).agg(count(lit(1)).as("n")), "update")
    }
    // INCREMENTAL minute log (r12, for the kill/restart long soak): the
    // end-of-run JSON below is written only on graceful exit, so a
    // hard-killed leg would lose its whole series. The watermark soak
    // instead APPENDS each completed minute to `$out.minutes.jsonl` as
    // it finishes — after a `kill -9` the record is intact up to the
    // last full minute, and the gating script stitches the legs'
    // series (batch ids carried per minute prove the restarted leg
    // resumed from the checkpoint rather than from batch 0).
    if (phase == "watermark") {
      val mw = new java.io.PrintWriter(
        new java.io.FileWriter(s"$out.minutes.jsonl", true))
      var written = -1L
      var t0Opt: Option[Long] = None
      val deadline = System.nanoTime() + secs * 1000L * 1000000L
      def instant0(s: String): Long = java.time.Instant.parse(s).toEpochMilli
      while (System.nanoTime() < deadline) {
        Thread.sleep(5000L)
        val meas0 = plog.events.asScala.toVector.filter(_.numInputRows > 0)
        if (meas0.nonEmpty) {
          if (t0Opt.isEmpty) t0Opt = Some(instant0(meas0.head.timestamp))
          val t0 = t0Opt.get
          val byMin = meas0.groupBy(p => (instant0(p.timestamp) - t0) / 60000L)
          val lastComplete = byMin.keys.max - 1 // current minute still filling
          for (m <- (written + 1) to lastComplete; ps <- byMin.get(m)) {
            val tr = ps.flatMap(trigMs).sorted
            val lastP = ps.last
            mw.println(
              s"""{"minute":$m,"batches":${ps.size},""" +
                s""""batch_id_min":${ps.map(_.batchId).min},""" +
                s""""batch_id_max":${ps.map(_.batchId).max},""" +
                s""""input_rows":${ps.map(_.numInputRows).sum},""" +
                s""""trigger_p50_ms":${pct(tr, 0.50)},"trigger_p95_ms":${pct(tr, 0.95)},""" +
                s""""state_rows":${stateRows(lastP)},""" +
                s""""rows_removed":${ps.map(stateRemoved).sum},""" +
                s""""state_mem_bytes":${stateMemBytes(lastP)}}""")
            mw.flush()
            written = m
          }
        }
      }
      mw.close()
    } else Thread.sleep(secs * 1000L)
    val progress = plog.events.asScala.toVector
    val meas = progress.filter(_.numInputRows > 0)
    require(meas.nonEmpty, s"no batches measured in $phase at rate=$rate")

    def instant(s: String): Long = java.time.Instant.parse(s).toEpochMilli
    val spanMs = math.max(2000L,
      instant(meas.last.timestamp) - instant(meas.head.timestamp) + 2000L)
    val trig = meas.flatMap(trigMs).sorted
    val heapMb = Runtime.getRuntime.maxMemory() / 1048576
    val last = meas.last

    val doc =
      if (phase == "watermark") {
        // per-minute series: bucket progress by minute-of-run
        val t0 = instant(meas.head.timestamp)
        val minutes = meas.groupBy(p => (instant(p.timestamp) - t0) / 60000L)
          .toSeq.sortBy(_._1)
          .map { case (m, ps) =>
            val tr = ps.flatMap(trigMs).sorted
            val lastP = ps.last
            s"""{"minute":$m,"batches":${ps.size},""" +
              s""""input_rows":${ps.map(_.numInputRows).sum},""" +
              s""""trigger_p50_ms":${pct(tr, 0.50)},"trigger_p95_ms":${pct(tr, 0.95)},""" +
              s""""state_rows":${stateRows(lastP)},""" +
              s""""rows_removed":${ps.map(stateRemoved).sum},""" +
              s""""state_mem_bytes":${stateMemBytes(lastP)}}"""
          }.mkString("[", ",", "]")
        s"""{"phase":"watermark","rate":$rate,"phase_secs":$secs,"heap_mb":$heapMb,""" +
          s""""pipeline":"rate -> watermark 2m -> window 30s x (value%100000) -> count append -> noop",""" +
          s""""batches":${meas.size},""" +
          s""""input_rows":${meas.map(_.numInputRows).sum},""" +
          s""""in_rows_per_sec":${"%.2f".format(meas.map(_.numInputRows).sum * 1000.0 / spanMs)},""" +
          s""""trigger_p50_ms":${pct(trig, 0.50)},"trigger_p95_ms":${pct(trig, 0.95)},""" +
          s""""rows_removed_total":${meas.map(stateRemoved).sum},""" +
          s""""state_rows_last":${stateRows(last)},""" +
          s""""state_mem_bytes_last":${stateMemBytes(last)},""" +
          s""""state_mem_custom":${jmap(stateCustomMem(last))},""" +
          s""""minutes":$minutes}"""
      } else {
        s"""{"phase":"$phase","rate":$rate,"phase_secs":$secs,"heap_mb":$heapMb,""" +
          s""""batches":${meas.size},"first_batch_id":${meas.head.batchId},""" +
          s""""last_batch_id":${meas.last.batchId},""" +
          s""""input_rows":${meas.map(_.numInputRows).sum},""" +
          s""""in_rows_per_sec":${"%.2f".format(meas.map(_.numInputRows).sum * 1000.0 / spanMs)},""" +
          s""""trigger_p50_ms":${pct(trig, 0.50)},"trigger_p95_ms":${pct(trig, 0.95)},""" +
          s""""state_rows_first":${stateRows(meas.head)},"state_rows_last":${stateRows(last)},""" +
          s""""state_mem_bytes_last":${stateMemBytes(last)},""" +
          s""""state_mem_custom":${jmap(stateCustomMem(last))}}"""
      }
    val fw = new java.io.PrintWriter(out)
    try fw.println(doc) finally fw.close()
    println(doc)

    if (phase == "phase1") {
      // THE KILL: no stop(), no shutdown hooks, no native teardown —
      // the in-flight batch dies uncommitted, like a lost executor
      Runtime.getRuntime.halt(0)
    } else {
      try q.stop() catch { case _: Throwable => () }
      spark.stop()
    }
  }
}
