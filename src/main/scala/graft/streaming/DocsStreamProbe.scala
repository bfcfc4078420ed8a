package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

/** Third-decade STREAMING probe over REAL documents (r11 verdict item
  * 8): the batch funnel family has a 5M-doc measured record
  * (`r12_docs_k1000.json`); the streaming stack's rate records
  * ([[StreamBench]], [[StreamSoak]]) run synthetic rate sources. This
  * replays the k=1000 documents corpus through the E125
  * score-on-arrival path as a FILE-SOURCE stream — the production
  * "score the crawl as it lands" shape — at a
  * maxFilesPerTrigger-bounded pace, and proves on real data:
  *
  *  - throughput: sustained docs/s and text MB/s through the full
  *    scoring stack (lang-id, quality, whitespace+BPE-ish token counts,
  *    64-bit fingerprint — all codegen'd kernels);
  *  - bounded state: the running per-(source, lang) aggregate's state
  *    cardinality is catalog-sized by construction and measured flat;
  *  - EXACT batch equivalence: the streamed aggregate (memory sink,
  *    update mode) must equal the identical batch aggregation row for
  *    row — integer sums only, so the comparison is exact, the same
  *    portability discipline as the oracle contract;
  *  - completeness: streamed input row count == corpus row count.
  *
  * Trigger.AvailableNow bounds the run (process the whole corpus in
  * maxFilesPerTrigger batches, then stop) while honoring source
  * admission options — the replay analog of a production backfill.
  */
object DocsStreamProbe {

  private final class ProgressLog extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/sfgen/sf100docs")
    val out = args.lift(1).getOrElse("/tmp/docs_stream_probe.json")
    val maxFiles = sys.env.getOrElse("SPARK_GRAFT_STREAM_MAXFILES", "8").toInt
    val spark = graft.Sessions.start()
    val plog = new ProgressLog
    spark.streams.addListener(plog)

    val src = s"$dir/documents.parquet"
    val batchDocs = spark.read.parquet(src)
    val schema = batchDocs.schema
    val corpusRows = batchDocs.count()
    val corpusChars = batchDocs.agg(sum(length(col("text")))).head().getLong(0)

    import graft.ops.TextAnalysis
    def scored(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(col("source"),
        TextAnalysis.langIdHeuristic(col("text")).as("lang"),
        round(TextAnalysis.qualityScore(col("text")) * 10000).cast("long").as("q_milli"),
        TextAnalysis.tokenCountWs(col("text")).cast("long").as("tok_ws"),
        TextAnalysis.tokenCountBpeish(col("text")).cast("long").as("tok_bpe"),
        graft.functions.exprs.rolling_hash(col("text")).as("fp"))
    def agged(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      scored(df).groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("q_milli")).as("q_milli_sum"),
          sum(col("tok_ws")).as("tok_ws_sum"),
          sum(col("tok_bpe")).as("tok_bpe_sum"),
          // order-free integer fold of the per-doc fingerprints: the
          // stream and the batch must agree bit-for-bit
          sum(col("fp").bitwiseAND(lit(0xffffffffL))).as("fp_lo_sum"),
          expr("bit_xor(fp)").as("fp_xor"))

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFiles)
      .parquet(src)
    val t0 = System.nanoTime()
    val q = agged(stream).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("docs_stream_agg")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wallS = (System.nanoTime() - t0) / 1e9

    val meas = plog.events.asScala.toVector.filter(_.numInputRows > 0)
    val inputRows = meas.map(_.numInputRows).sum
    val stateRows = meas.map(_.stateOperators.toSeq.map(_.numRowsTotal).sum)
    val trig = meas.flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong)).sorted
    def pct(p: Double): Long =
      if (trig.isEmpty) 0L else trig(math.min(trig.size - 1, (p * trig.size).toInt))

    // EXACT equivalence: streamed aggregate vs the same aggregation in batch
    val streamAgg = spark.table("docs_stream_agg")
      .orderBy(col("source"), col("lang")).collect().map(_.toString).toSeq
    val batchAgg = agged(batchDocs)
      .orderBy(col("source"), col("lang")).collect().map(_.toString).toSeq
    val aggMatch = streamAgg == batchAgg

    val doc =
      s"""{"record":"docs-corpus streaming probe: file-source replay of the documents table (${corpusRows} docs) through the E125 score-on-arrival stack + per-(source,lang) running aggregate, maxFilesPerTrigger=$maxFiles, Trigger.AvailableNow","""+
        s""""corpus_rows":$corpusRows,"corpus_chars":$corpusChars,"""+
        s""""input_rows":$inputRows,"batches":${meas.size},"wall_s":${"%.1f".format(wallS)},"""+
        s""""docs_per_sec":${(inputRows / wallS).toLong},"""+
        s""""text_mb_per_sec":${"%.1f".format(corpusChars / wallS / 1e6)},"""+
        s""""trigger_p50_ms":${pct(0.5)},"trigger_p95_ms":${pct(0.95)},"""+
        s""""state_rows_max":${if (stateRows.isEmpty) 0L else stateRows.max},"""+
        s""""gates":{"complete":${inputRows == corpusRows},"""+
        s""""agg_equals_batch":$aggMatch,"""+
        s""""state_bounded":${stateRows.isEmpty || stateRows.max <= 4096}}}"""
    val fw = new java.io.PrintWriter(out)
    try fw.println(doc) finally fw.close()
    println(doc)
    spark.stop()
    if (inputRows != corpusRows || !aggMatch) sys.exit(1)
  }
}
