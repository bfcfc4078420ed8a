package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.ops.{Dedup, Similarity}
import graft.sources.Tables

/** Task-retry determinism (r9 verdict item 7): the portability contract
  * claims partition-order independence everywhere — this spec proves it
  * UNDER FAILURE, not just under idle success. Tasks are killed on
  * their first attempt (an injected exception in a pass-through
  * mapPartitions — both at the SOURCE, forcing stage-1 recomputation,
  * and at the SINK, forcing the final stage to re-run its shuffle
  * reads, whose block arrival order is not guaranteed to repeat), and
  * the three heaviest funnels must produce results hash-identical to
  * their clean runs in the same session.
  *
  * Needs its own SparkContext: retry count is a construction-time
  * setting (`local[4, 4]` = 4 threads, maxFailures 4), so the shared
  * spec session is stopped first and [[SparkSpecBase.session]] rebuilds
  * it for whichever suite runs next.
  */
class RetrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var retrySpark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    val shared = SparkSpecBase.session
    if (!shared.sparkContext.isStopped) shared.stop()
    retrySpark = SparkSession.builder()
      .master("local[4, 4]") // 4 threads, maxFailures = 4 → retries live
      .appName("graft-retry-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    retrySpark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit =
    if (retrySpark != null) retrySpark.stop()

  /** Pass-through that fails ~1/3 of tasks on their FIRST attempt.
    * `label` salts which partitions fail so source- and sink-side chaos
    * don't always co-select the same partition ids.
    */
  private def chaos(df: DataFrame, label: Int): DataFrame = {
    implicit val enc = Encoders.row(df.schema)
    df.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0 &&
          (tc.partitionId() + label) % 3 == 0)
        throw new RuntimeException(
          s"graft-chaos: injected first-attempt failure (label $label)")
      it
    }
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertRetryStable(
      name: String, run: DataFrame => DataFrame, input: DataFrame): Unit = {
    val clean = canon(run(input))
    assert(clean.nonEmpty, s"$name: clean run returned no rows")
    // chaos at the source (stage-1 task retries recompute the scan +
    // first map kernels) AND at the sink (final-stage retries re-read
    // shuffle blocks in whatever order the second attempt gets them)
    val chaotic = canon(chaos(run(chaos(input, 0)), 1))
    assert(chaotic == clean,
      s"$name: result differs under injected task retries " +
        s"(clean ${clean.size} rows, chaotic ${chaotic.size} rows)")
    retrySpark.catalog.clearCache()
  }

  test("minhash near-dup pair funnel is hash-identical under task retries") {
    val docs = Tables.documents(retrySpark, sf)
    assertRetryStable("minhashNearDupPairs",
      // 0: the distributed funnel, whose tasks the chaos retries (the
      // driver-side one would take the clean run off Spark)
      d => Dedup.minhashNearDupPairs(d, "text", "doc_id", localMaxRows = 0L), docs)
  }

  test("semDeDup (integer Lloyd + closure + keep-rule) is hash-identical under task retries") {
    val embs = Tables.embeddings(retrySpark, sf)
    assertRetryStable("semDeDup",
      e => Dedup.semDeDup(e, "vec_id", "embedding", k = 8, tau = 0.8), embs)
  }

  test("PQ ANN funnel (portable fit + ADC + re-rank) is hash-identical under task retries") {
    val embs = Tables.embeddings(retrySpark, sf)
    assertRetryStable("pqTopK",
      e => {
        val queries = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        Similarity.pqTopK(e, "vec_id", "embedding",
          queries, "qid", "qv", k = 5, rerank = 64)
      }, embs)
  }
}
