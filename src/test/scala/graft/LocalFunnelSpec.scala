package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{HashKernels, exprs}
import graft.ops.{Dedup, PairFunnel, Scale}
import graft.sources.Tables

/** The driver-side near-dup funnel: on a parquet corpus whose footers
  * prove it small, [[Dedup.minhashNearDupPairs]] computes the pair set
  * on the driver. It must give exactly the rows the distributed funnel
  * (forced with `funnelMaxRows = 0`) gives, and so must the component labels over
  * them.
  */
class LocalFunnelSpec extends SparkSpecBase {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  /** Both funnels over `docs`, and their component labels; asserts the
    * default call took the driver path. Returns the pair rows. */
  private def assertSame(docs: DataFrame,
      p: Dedup.MinhashParams = Dedup.MinhashParams()): Seq[String] = {
    val local = Dedup.minhashNearDupPairs(docs, "text", "doc_id", p)
    val dist = Scale.forcing(_.copy(funnelMaxRows = 0L))(
      Dedup.minhashNearDupPairs(docs, "text", "doc_id", p))
    assert(isLocal(local), "a footer-bounded parquet corpus runs on the driver")
    assert(dist.queryExecution.logical.isInstanceOf[LogicalRDD])
    assert(local.schema.map(_.dataType) === dist.schema.map(_.dataType))
    assert(local.columns.toSeq === dist.columns.toSeq)
    val got = rows(local)
    assert(got === rows(dist))
    val labels = rows(Dedup.componentMinLabels(local))
    assert(labels === rows(Scale.forcing(_.copy(closureMaxEdges = 0L))(
      Dedup.componentMinLabels(dist))))
    assert(labels === rows(Dedup.componentMinLabels(dist)))
    got
  }

  /** `df` written as `documents.parquet` under a fresh dir, read back
    * through [[Tables.documents]]. */
  private def parquetDocs(df: DataFrame): DataFrame = {
    val dir = Files.createTempDirectory("local-funnel").toString
    df.write.parquet(s"$dir/documents.parquet")
    Tables.documents(spark, dir)
  }

  test("sf0.001 documents: driver and distributed funnels give identical pairs and labels") {
    assert(assertSame(Tables.documents(spark, Sf0001)).nonEmpty)
  }

  test("sf0.1 documents: driver and distributed funnels give identical pairs and labels") {
    val sf01 = new java.io.File(new java.io.File(Sf001).getParentFile, "sf0.1").getPath
    assert(assertSame(Tables.documents(spark, sf01)).nonEmpty)
  }

  test("heavy buckets above heavyBucketCap: sub-keyed driver funnel matches the distributed one") {
    // a shared boilerplate block puts every doc in the same buckets of
    // several bands; a cap of 8 makes those buckets heavy on both paths
    val boiler = ("lorem ipsum dolor sit amet consectetur adipiscing elit " +
      "sed do eiusmod tempor incididunt ut labore et dolore magna aliqua ") * 3
    val rnd = new scala.util.Random(11)
    def tail = Seq.fill(30)(rnd.alphanumeric.take(8).mkString).mkString(" ")
    val t = tail
    val texts = (0 until 300).map(i => (i.toLong, s"$boiler $tail")) ++ Seq(
      (1000L, s"$boiler $t"), (1001L, s"$boiler $t"),
      (1002L, s"$boiler $t extra"), (1003L, s"$boiler $t bonus"))
    val s = spark; import s.implicits._
    val docs = parquetDocs(texts.toDF("doc_id", "text"))
    val p = Dedup.MinhashParams(heavyBucketCap = 8)
    assert(p.refinesHeavyBuckets)
    val got = assertSame(docs, p)
    assert(got.exists(_.startsWith("1000|1001|")), "planted exact copy survives")
    // and the un-refined flat join agrees with both
    assert(got === assertSame(docs, p.copy(heavyBucketCap = 0)))
    // an odd digest length: the last block is a single byte
    assertSame(docs, p.copy(numHashes = 63, bands = 9))
  }

  private val edgeSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val base = "the quick brown fox jumps over the lazy dog and then " +
    "runs far away into the deep green forest where nobody can find it"
  private val edgeRows = Seq[(java.lang.Long, String)](
    (1L, base), (2L, base.replace("green", "blue")), (3L, base),
    (4L, null), (5L, null),                 // null texts
    (null, base), (null, base),             // null ids
    (6L, ""), (7L, ""), (8L, ""),           // empty texts: mutual dups
    (9L, "abc"), (10L, "abc"), (11L, "ab"), // shorter than shingleN
    (12L, base), (12L, "unrelated text about query planning and shuffles"),
    (13L, "completely different content about spark query engines"))

  private def edgeDocs(idType: DataType): DataFrame = {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(edgeRows.map { case (i, t) => Row(i, t) }: _*), edgeSchema)
    parquetDocs(df.select(col("doc_id").cast(idType).as("doc_id"), col("text")))
  }

  test("null text, null id, empty and short texts, repeated ids: identical on both paths (Long ids)") {
    val got = assertSame(edgeDocs(LongType))
    assert(got.contains("6|7|1.0") && got.contains("9|10|1.0"),
      s"empty and short-text copies pair up: $got")
    assert(!got.exists(r => r.startsWith("4|") || r.contains("|5|")), "null texts drop out")
  }

  test("the same edge corpus with Int ids: identical rows, Int id columns") {
    val docs = edgeDocs(IntegerType)
    assertSame(docs)
    val local = Dedup.minhashNearDupPairs(docs, "text", "doc_id")
    assert(local.schema("id_a").dataType === IntegerType)
    assert(Dedup.componentMinLabels(local).schema("root").dataType === IntegerType)
  }

  /** [[Dedup.incrementalNearDups]] over `docs` split at doc_id % 5 = 4,
    * on the parquet rows (driver pass) and on the same rows in memory
    * (distributed funnel). Both must equal the per-delta summary of the
    * unrestricted funnel's pairs over existing ∪ delta. Returns the rows
    * (doc_id|dup_of_existing|n_delta_dups). */
  private def assertIncrementalSame(docs: DataFrame,
      p: Dedup.MinhashParams = Dedup.MinhashParams()): Seq[String] = {
    val isDelta = col("doc_id") % 5 === 4
    def audit(d: DataFrame): DataFrame =
      Dedup.incrementalNearDups(d.filter(!isDelta), d.filter(isDelta), "text", "doc_id", p)
    val plain = docs.select("doc_id", "text")
    val local = audit(plain)
    val dist = audit(spark.createDataFrame(
      java.util.Arrays.asList(plain.collect(): _*), plain.schema))
    def has(df: DataFrame, node: Class[_]): Boolean =
      df.queryExecution.logical.exists(node.isInstance)
    assert(has(local, classOf[LocalRelation]) && !has(local, classOf[LogicalRDD]),
      "a footer-bounded existing ∪ delta runs the driver pass")
    assert(has(dist, classOf[LogicalRDD]), "an in-memory input runs the distributed funnel")
    assert(local.schema === dist.schema)
    val got = rows(local)
    assert(got === rows(dist))
    val delta = plain.filter(isDelta).collect().map(_.getLong(0))
    val partners = Dedup.minhashNearDupPairs(plain, "text", "doc_id", p).collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
      .groupMap(_._1)(_._2)
    val want = delta.toSeq.map { d =>
      val of = partners.getOrElse(d, Array.empty[Long]).toSet
      s"$d|${of.exists(o => !delta.contains(o))}|${of.count(delta.contains)}"
    }.sorted
    assert(got === want)
    got
  }

  test("incrementalNearDups: driver pass, distributed funnel and the unrestricted pairs agree") {
    val got = assertIncrementalSame(Tables.documents(spark, Sf0001))
    assert(got.exists(_.contains("|true|")) && got.exists(!_.endsWith("|0")),
      s"the split must cut through planted dup families: $got")
    // heavy buckets sub-keyed, and a family straddling the split
    val boiler = ("lorem ipsum dolor sit amet consectetur adipiscing elit " +
      "sed do eiusmod tempor incididunt ut labore et dolore magna aliqua ") * 3
    val rnd = new scala.util.Random(7)
    def tail = Seq.fill(30)(rnd.alphanumeric.take(8).mkString).mkString(" ")
    val t = tail
    val texts = (0 until 200).map(i => (i.toLong, s"$boiler $tail")) ++
      (1000L to 1004L).map(i => (i, s"$boiler $t"))
    val s = spark; import s.implicits._
    val fam = assertIncrementalSame(parquetDocs(texts.toDF("doc_id", "text")),
      Dedup.MinhashParams(heavyBucketCap = 8))
    assert(fam.contains("1004|true|0"))
  }

  test("incrementalNearDups honours estFilterSigmas: a verified pair the estimate cut drops stays out") {
    // the first few-word edit of `base` that still clears a 0.8 exact
    // Jaccard and shares a band with it, but whose MinHash estimate
    // falls below 0.8: a 0-sigma cut must drop it before the verify
    val p = Dedup.MinhashParams()
    def sigOf(t: String) = HashKernels.minhashSig(UTF8String.fromString(t),
      p.shingleN, p.numHashes, p.seed)
    val words = (base + " " + base.reverse).split(" ")
    val orig = words.mkString(" ")
    val edit = Iterator.from(1).map { seed =>
      val rnd = new scala.util.Random(seed)
      words.updated(rnd.nextInt(words.length), "zq" + seed)
        .updated(rnd.nextInt(words.length), "xv" + seed).mkString(" ")
    }.find { e =>
      val (sa, sb) = (sigOf(orig), sigOf(e))
      val exact = HashKernels.jaccardSorted(
        HashKernels.shingleSet(UTF8String.fromString(orig), p.shingleN),
        HashKernels.shingleSet(UTF8String.fromString(e), p.shingleN))
      val est = HashKernels.digestAgree(HashKernels.sigDigest(sa), HashKernels.sigDigest(sb))
      exact >= p.jaccardThreshold && est < p.jaccardThreshold &&
        (0 until p.bands).exists(b =>
          Dedup.bandKey(sa, b, p.rowsPerBand) == Dedup.bandKey(sb, b, p.rowsPerBand))
    }.get
    val s = spark; import s.implicits._
    val docs = parquetDocs(Seq((0L, orig), (4L, edit), (9L,
      "completely different content about spark query engines")).toDF("doc_id", "text"))
    assert(assertIncrementalSame(docs).contains("4|true|0"), "the default cut admits it")
    assert(assertIncrementalSame(docs, p.copy(estFilterSigmas = 0.0)).contains("4|false|0"))
  }

  test("band keys are Spark's xxhash64 over each signature slice") {
    val p = Dedup.MinhashParams()
    val sigs = Tables.documents(spark, Sf0001).limit(20)
      .select(exprs.minhash_sig(col("text"), p.shingleN, p.numHashes, p.seed).as("sig"))
      .select(col("sig") +: (0 until p.bands).map(b =>
        xxhash64(slice(col("sig"), b * p.rowsPerBand + 1, p.rowsPerBand))): _*)
      .collect()
    sigs.foreach { r =>
      val sig = new GenericArrayData(r.getSeq[Long](0).toArray)
      (0 until p.bands).foreach(b =>
        assert(Dedup.bandKey(sig, b, p.rowsPerBand) === r.getLong(b + 1)))
    }
  }

  test("the driver funnel runs one job, and labels over its pairs run none") {
    val docs = Tables.documents(spark, Sf0001)
    val (pairs, jobs) = JobCount(spark)(Dedup.minhashNearDupPairs(docs, "text", "doc_id"))
    assert(jobs === 1)
    val (labels, labelJobs) = JobCount(spark)(Dedup.componentMinLabels(pairs))
    assert(labelJobs === 0)
    assert(isLocal(labels))
  }

  test("frames the footers cannot bound keep the distributed funnel") {
    val docs = Tables.documents(spark, Sf0001)
    val s = spark; import s.implicits._
    val inMemory = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
    assert(!isLocal(Dedup.minhashNearDupPairs(inMemory, "text", "doc_id")))
    assert(!isLocal(Dedup.minhashNearDupPairs(docs.repartition(4), "text", "doc_id")))
    assert(!isLocal(Dedup.minhashNearDupPairs(docs.withColumn("doc_id", col("doc_id").cast("string")),
      "text", "doc_id")))
  }

  test("componentMinLabels: null ids and self pairs label the same on the probe and the contraction") {
    val schema = StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType)))
    val pairs = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, 2L), Row(2L, 3L), Row(3L, 2L), Row(7L, 7L), Row(null, 9L),
      Row(10L, null), Row(null, null), Row(5L, 4L)), schema)
    val probe = rows(Dedup.componentMinLabels(pairs))
    assert(probe === rows(Scale.forcing(_.copy(closureMaxEdges = 0L))(
      Dedup.componentMinLabels(pairs))))
    assert(probe.contains("null|null") && probe.contains("7|7") && probe.contains("5|4"))
  }

  test("a family of copies past the pair cap leaves the driver for the distributed funnel") {
    // 580 copies of one page are 167,910 pairs, past the driver pass's
    // cap of 160k; unrefined buckets keep the distributed join small
    val s = spark; import s.implicits._
    val copies = (0 until 580).map(i => (i.toLong, base)) ++ Seq(
      (1000L, "completely different content about spark query engines"))
    val docs = parquetDocs(copies.toDF("doc_id", "text"))
    val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id",
      Dedup.MinhashParams(heavyBucketCap = 0))
    assert(pairs.queryExecution.logical.isInstanceOf[LogicalRDD])
    assert(pairs.count() === 580L * 579 / 2)
  }

  test("PairFunnel serves the distributed funnel's checkpoint without a second one") {
    PairFunnel.invalidateAll()
    // an in-memory copy of the corpus: the footers cannot bound it, so
    // both builds take the distributed funnel
    val parquet = Tables.documents(spark, Sf0001).select("doc_id", "text")
    val docs = spark.createDataFrame(
      java.util.Arrays.asList(parquet.collect(): _*), parquet.schema)
    val (_, direct) = JobCount(spark)(Dedup.minhashNearDupPairs(docs, "text", "doc_id"))
    val (served, shared) = JobCount(spark)(
      PairFunnel.nearDupPairs(docs, "text", "doc_id", "local-funnel-spec"))
    // the funnel already checkpointed its pairs; serving them costs no
    // second checkpoint job
    assert(shared === direct)
    assert(served.queryExecution.logical.isInstanceOf[LogicalRDD])
    val before = rows(served)
    assert(before.nonEmpty)
    spark.catalog.clearCache()
    assert(rows(served) === before)
    PairFunnel.invalidateAll()
  }
}
