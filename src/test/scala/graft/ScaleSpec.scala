package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Scale, Similarity, Staging}
import graft.sources.Tables

/** [[Scale]] is the one size-aware decision point: its footer reads,
  * and each crossover pinned on both sides of its constant, with written
  * parquet files where that is cheap and the [[Scale.forcing]] seam
  * elsewhere.
  */
class ScaleSpec extends SparkSpecBase {

  private lazy val tmp = Files.createTempDirectory("scale-spec").toFile

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(tmp) finally super.afterAll()

  /** `rows` docs, each `chars` characters of distinct text, written as
    * one parquet file and read back through [[Tables.documents]]. */
  private def written(name: String, rows: Long, chars: Int): DataFrame = {
    val dir = new java.io.File(tmp, name).getPath
    spark.range(rows).coalesce(1).select(col("id").as("doc_id"),
        substring(expr(s"repeat(sha2(cast(id as string), 256), ${chars / 64 + 1})"), 1, chars)
          .as("text"))
      .write.parquet(s"$dir/documents.parquet")
    Tables.documents(spark, dir)
  }

  test("bound: a union sums its children's bounds, and an unbounded child unbounds it") {
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text")
    val isDelta = col("doc_id") % 5 === 4
    val one = Scale.bound(docs.filter(isDelta)).get
    assert(Scale.bound(docs.filter(!isDelta).union(docs.filter(isDelta))) ===
      Some(Scale.Bound(2 * one.rows, 2 * one.bytes)))
    val s = spark; import s.implicits._
    val inMemory = Seq((1L, "a")).toDF("doc_id", "text")
    assert(Scale.bound(docs.union(inMemory)).isEmpty)
    assert(Scale.bound(inMemory.union(docs)).isEmpty)
  }

  test("staging a frame, or reading a plan another scope staged, keeps its bound") {
    val scan = Tables.documents(spark, Sf0001).select("doc_id", "text")
    val want = Scale.bound(scan)
    assert(want.isDefined)
    Staging.scoped {
      val staged = Staging.stage(scan)
      val equal = Tables.documents(spark, Sf0001).select("doc_id", "text")
      // the optimizer's plan reads the cached relation instead of the files
      assert(equal.queryExecution.optimizedPlan.exists(_.isInstanceOf[InMemoryRelation]))
      assert(Scale.bound(staged) === want)
      assert(Scale.bound(equal) === want)
      assert(Scale.funnelOnDriver(equal))
    }
  }

  test("rows: footers for a scan, a count for a filtered view such as a sampled table") {
    val docs = Tables.documents(spark, Sf0001)
    val (n, jobs) = JobCount(spark)(Scale.tableRows(spark, Sf0001, "documents"))
    assert(jobs === 0)
    assert(n === docs.count())
    // what Tables.load returns for a table named in SPARK_GRAFT_TBL_SAMPLE
    val view = Tables.sampled(docs, "doc_id", "20")
    val (m, viewJobs) = JobCount(spark)(Scale.rows(view))
    assert(viewJobs > 0)
    assert(m === view.count())
    assert(m > 0 && m < n)
  }

  test("spread: footer bytes on both sides of SpreadMinBytes") {
    val small = written("spread-small", 100, 1000)
    val big = written("spread-big", 300, 1000)
    val b = Scale.bound(small).get.bytes
    assert(b < Scale.SpreadMinBytes && Scale.bound(big).get.bytes > Scale.SpreadMinBytes)
    assert(Scale.kernelFitsOneTask(small) && (Tables.spreadForKernel(small) eq small))
    assert(!Scale.kernelFitsOneTask(big) && (Tables.spreadForKernel(big) ne big))
    assert(Scale.forcing(_.copy(spreadMinBytes = b))(Scale.kernelFitsOneTask(small)))
    assert(!Scale.forcing(_.copy(spreadMinBytes = b - 1))(Scale.kernelFitsOneTask(small)))
  }

  test("driver funnel: footer rows on both sides of FunnelMaxRows") {
    val at = written("rows-at", Scale.FunnelMaxRows, 8)
    val over = written("rows-over", Scale.FunnelMaxRows + 1, 8)
    assert(Scale.funnelOnDriver(at))
    assert(!Scale.funnelOnDriver(over))
    assert(!Scale.forcing(_.copy(funnelMaxRows = 0L))(Scale.funnelOnDriver(at)))
  }

  test("driver funnel: footer bytes on both sides of FunnelMaxBytes") {
    val under = written("bytes-under", 490, 64000)
    val over = written("bytes-over", 540, 64000)
    assert(Scale.bound(under).get.bytes < Scale.FunnelMaxBytes)
    assert(Scale.bound(over).get.bytes > Scale.FunnelMaxBytes)
    assert(Scale.funnelOnDriver(under))
    assert(!Scale.funnelOnDriver(over))
  }

  test("driver funnel: a family's pairs on both sides of funnelMaxPairs") {
    val text = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep green forest where nobody can find it"
    def family(copies: Int): DataFrame = {
      val dir = new java.io.File(tmp, s"family-$copies").getPath
      spark.range(copies).coalesce(1).select(col("id").as("doc_id"), lit(text).as("text"))
        .write.parquet(s"$dir/documents.parquet")
      Tables.documents(spark, dir)
    }
    // 20 rows admit 160 pairs: 18 copies are 153 pairs, 19 copies 171
    Scale.forcing(_.copy(funnelMaxRows = 20L)) {
      assert(Scale.funnelMaxPairs === 160)
      val p = Dedup.MinhashParams(heavyBucketCap = 0)
      val kept = Dedup.minhashNearDupPairs(family(18), "text", "doc_id", p)
      assert(kept.queryExecution.logical.isInstanceOf[LocalRelation])
      assert(kept.count() === 153L)
      val left = Dedup.minhashNearDupPairs(family(19), "text", "doc_id", p)
      assert(left.queryExecution.logical.isInstanceOf[LogicalRDD])
      assert(left.count() === 171L)
    }
    assert(Scale.funnelMaxPairs === 160000)
  }

  test("closure: edges on both sides of closureMaxEdges") {
    val s = spark; import s.implicits._
    val chain = (1L to 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def labels(maxEdges: Long): DataFrame =
      Scale.forcing(_.copy(closureMaxEdges = maxEdges))(Dedup.componentMinLabels(chain))
    val local = labels(10L)
    val contracted = labels(9L)
    assert(local.queryExecution.logical.isInstanceOf[LocalRelation])
    assert(!contracted.queryExecution.logical.isInstanceOf[LocalRelation])
    assert(local.collect().toSet === contracted.collect().toSet)
    assert(Scale.closureMaxEdges === 2000000L)
  }

  test("capFitSample: a footer bound at the cap passes the sample through without a job") {
    val sel = written("fit", 100, 8).select(col("doc_id").as("vec_id"))
    val (kept, jobs) = JobCount(spark)(
      Scale.forcing(_.copy(fitSampleMax = 100L))(Similarity.capFitSample(sel, "vec_id")))
    assert((kept eq sel) && jobs === 0)
    val capped = Scale.forcing(_.copy(fitSampleMax = 99L))(Similarity.capFitSample(sel, "vec_id"))
    assert(capped ne sel)
  }

  test("q_novelty and q_simjoin_prefix switch one doc past their constants") {
    assert(!Scale.noveltyAtScale(Scale.NoveltyMaxDocs))
    assert(Scale.noveltyAtScale(Scale.NoveltyMaxDocs + 1))
    assert(Scale.NoveltyMaxDocs === 200000L)
    assert(!Scale.simjoinExactDf(Scale.SimjoinSampledMaxDocs))
    assert(Scale.simjoinExactDf(Scale.SimjoinSampledMaxDocs + 1))
    assert(Scale.SimjoinSampledMaxDocs === 6000000L)
  }
}
