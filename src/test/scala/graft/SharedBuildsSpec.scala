package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.CyclicBarrier

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{BuildAttribution, Dedup, PairFunnel, SharedBuilds, Similarity}
import graft.sources.Tables

/** r16 optimization-round sharing: the span pass, the contamination
  * scan, and the ANN fit memo are SESSION-SHARED builds now — these
  * tests pin (1) build-once (witnessed by the build counters / object
  * identity), and (2) result identity with the direct per-query form
  * they replaced, so the sharing can never drift from the unshared
  * semantics the oracles check. The memo key includes the input files'
  * identity, so a table rewritten in place misses; a build that throws
  * memoizes nothing; concurrent consumers share one build.
  */
class SharedBuildsSpec extends SparkSpecBase {

  private def docs = {
    val s = spark; import s.implicits._
    val block = "the quick brown fox jumps over the lazy dog again and again " * 3
    (0 until 40).map { i =>
      (i.toLong, s"doc $i unique tail ${"x" * i} $block")
    }.toDF("doc_id", "text")
  }

  test("sharedSpans: build-once per (plan, tag, params), identical to the direct op") {
    PairFunnel.invalidateAll()
    val d = docs
    val b0 = PairFunnel.buildsExecuted
    val a = PairFunnel.sharedSpans(d, "text", "doc_id", "spans-spec", minLen = 40)
    assert(PairFunnel.buildsExecuted === b0 + 1)
    val b = PairFunnel.sharedSpans(d, "text", "doc_id", "spans-spec", minLen = 40)
    assert(PairFunnel.buildsExecuted === b0 + 1) // second call: cache hit
    assert(a eq b)
    val direct = Dedup.sharedSubstringSpans(d, "text", "doc_id", minLen = 40)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(a.collect().map(key).toSet === direct.collect().map(key).toSet)
    // a different minLen is a different entry, not a stale hit
    val c = PairFunnel.sharedSpans(d, "text", "doc_id", "spans-spec", minLen = 80)
    assert(PairFunnel.buildsExecuted === b0 + 2)
    assert(!(c eq a))
  }

  test("contaminationPairs: build-once, identical to the direct fused scan") {
    PairFunnel.invalidateAll()
    val d = docs
    val evalDocs = d.filter(col("doc_id") % 20 === 3)
    val corpus = d.filter(col("doc_id") % 20 =!= 3)
    val b0 = PairFunnel.buildsExecuted
    val a = PairFunnel.contaminationPairs(d, corpus, evalDocs,
      "text", "doc_id", "contam-spec", shingleN = 8, threshold = 0.8)
    assert(PairFunnel.buildsExecuted === b0 + 1)
    val b = PairFunnel.contaminationPairs(d, corpus, evalDocs,
      "text", "doc_id", "contam-spec", shingleN = 8, threshold = 0.8)
    assert(PairFunnel.buildsExecuted === b0 + 1)
    assert(a eq b)
    val direct = Dedup.contaminationPairsFused(corpus, evalDocs,
      "text", "doc_id", shingleN = 8, threshold = 0.8)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e9))
    assert(a.collect().map(key).toSet === direct.collect().map(key).toSet)
    // a different SPLIT under the same tag must miss (key folds both
    // side plans), not silently serve the other split's pairs
    val eval2 = d.filter(col("doc_id") % 20 === 4)
    val corpus2 = d.filter(col("doc_id") % 20 =!= 4)
    PairFunnel.contaminationPairs(d, corpus2, eval2,
      "text", "doc_id", "contam-spec", shingleN = 8, threshold = 0.8)
    assert(PairFunnel.buildsExecuted === b0 + 2)
  }

  test("ANN fit memo: qrels and quantizer fits build once, results unchanged") {
    Similarity.invalidateMemo()
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val e = (0 until 300).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2f - 1f))
    }.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

    val f0 = Similarity.fitBuildsExecuted
    val qa = Similarity.bruteForceTopKShared(e, "vec_id", "embedding",
      q, "qid", "qv", k = 3)
    assert(Similarity.fitBuildsExecuted === f0 + 1)
    val qb = Similarity.bruteForceTopKShared(e, "vec_id", "embedding",
      q, "qid", "qv", k = 3)
    assert(Similarity.fitBuildsExecuted === f0 + 1)
    assert(qa eq qb)
    // identical rows to the lazy core
    val direct = Similarity.bruteForceTopK(e, "vec_id", "embedding",
      q, "qid", "qv", k = 3)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getInt(1), r.getLong(2))
    assert(qa.select("query_id", "rank", "neighbor_id").collect().map(key).toSet
      === direct.select("query_id", "rank", "neighbor_id").collect().map(key).toSet)

    // IVF fit memo: same params -> one fit; results identical run-to-run
    val f1 = Similarity.fitBuildsExecuted
    val r1 = Similarity.ivfTopK(e, "vec_id", "embedding", q, "qid", "qv",
      k = 3, numCells = 4, nProbe = 2, fitFraction = 1.0).collect()
    val afterFirst = Similarity.fitBuildsExecuted
    assert(afterFirst > f1) // the fit ran
    val r2 = Similarity.ivfTopK(e, "vec_id", "embedding", q, "qid", "qv",
      k = 3, numCells = 4, nProbe = 2, fitFraction = 1.0).collect()
    assert(Similarity.fitBuildsExecuted === afterFirst) // served from memo
    assert(r1.map(_.toString).toSeq === r2.map(_.toString).toSeq)

    // different numCells is a different fit, not a stale hit
    Similarity.ivfTopK(e, "vec_id", "embedding", q, "qid", "qv",
      k = 3, numCells = 8, nProbe = 2, fitFraction = 1.0).collect()
    assert(Similarity.fitBuildsExecuted > afterFirst)
  }

  /** Writes `df` as the single parquet file `dir/name.parquet/part-0.parquet`,
    * replacing that file's bytes in place when it already exists. */
  private def writeTable(df: DataFrame, dir: Path, name: String): Unit = {
    val staging = Files.createTempDirectory("shared-builds-staging")
    df.coalesce(1).write.mode("overwrite").parquet(staging.resolve("t").toString)
    val part = Files.list(staging.resolve("t")).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val table = Files.createDirectories(dir.resolve(s"$name.parquet"))
    Files.copy(part, table.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("sharedSpans over a table rewritten in place rebuilds; unchanged files still hit") {
    PairFunnel.invalidateAll()
    val dir = Files.createTempDirectory("shared-builds-docs")
    writeTable(docs, dir, "documents")
    val b0 = PairFunnel.buildsExecuted
    val first = PairFunnel.sharedSpans(Tables.documents(spark, dir.toString),
      "text", "doc_id", dir.toString)
    assert(PairFunnel.buildsExecuted === b0 + 1)
    // a second read of the unchanged file is a hit: same plan, same files
    val again = PairFunnel.sharedSpans(Tables.documents(spark, dir.toString),
      "text", "doc_id", dir.toString)
    assert(PairFunnel.buildsExecuted === b0 + 1)
    assert(again eq first)

    writeTable(docs.filter(col("doc_id") < 10), dir, "documents")
    val fresh = Tables.documents(spark, dir.toString)
    val rebuilt = PairFunnel.sharedSpans(fresh, "text", "doc_id", dir.toString)
    assert(PairFunnel.buildsExecuted === b0 + 2)
    val direct = Dedup.sharedSubstringSpans(fresh, "text", "doc_id")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val got = rebuilt.collect().map(key).toSet
    assert(got === direct.collect().map(key).toSet)
    assert(got.size < first.count(), "the rewrite shrank the corpus")
    PairFunnel.invalidateAll()
  }

  test("bruteForceTopKShared over a rewritten embeddings table rebuilds") {
    Similarity.invalidateMemo()
    val s = spark; import s.implicits._
    def vecs(n: Int, seed: Int) = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
        .toDF("vec_id", "embedding")
    }
    def qrels(e: DataFrame) = Similarity.bruteForceTopKShared(e, "vec_id",
      "embedding", e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv")), "qid", "qv", k = 3)
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getInt(1), r.getLong(2))
    def rows(df: DataFrame) =
      df.select("query_id", "rank", "neighbor_id").collect().map(key).toSet

    val dir = Files.createTempDirectory("shared-builds-emb")
    writeTable(vecs(200, 1), dir, "embeddings")
    val f0 = Similarity.fitBuildsExecuted
    val first = qrels(Tables.embeddings(spark, dir.toString))
    assert(qrels(Tables.embeddings(spark, dir.toString)) eq first)
    assert(Similarity.fitBuildsExecuted === f0 + 1)

    writeTable(vecs(100, 2), dir, "embeddings")
    val e = Tables.embeddings(spark, dir.toString)
    val rebuilt = qrels(e)
    assert(Similarity.fitBuildsExecuted === f0 + 2)
    val direct = Similarity.bruteForceTopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding").as("qv")),
      "qid", "qv", k = 3)
    assert(rows(rebuilt) === rows(direct))
    assert(rows(rebuilt) !== rows(first))
    Similarity.invalidateMemo()
  }

  test("a build that throws memoizes nothing; the next caller builds exactly once") {
    SharedBuilds.invalidate()
    val d = docs
    def lookup(body: => String): String =
      SharedBuilds.getOrBuild(SharedBuilds.Fit, "fault-spec", Seq(d), 1) { b =>
        b.record(); body
      }
    val f0 = Similarity.fitBuildsExecuted
    val err = intercept[IllegalStateException](lookup(throw new IllegalStateException("boom")))
    assert(err.getMessage === "boom")
    var runs = 0
    val v = lookup { runs += 1; "built" }
    assert(runs === 1 && v === "built")
    assert(lookup { runs += 1; "again" } eq v) // now memoized
    assert(runs === 1)
    assert(Similarity.fitBuildsExecuted === f0 + 2) // the failed attempt + one build
    SharedBuilds.invalidate()
  }

  test("a background build that throws is recorded, and its consumer rebuilds") {
    SharedBuilds.invalidate()
    SharedBuilds.drainFailures()
    val d = docs
    def lookup(body: => String): String =
      SharedBuilds.getOrBuild(SharedBuilds.Fit, "bg-fault-spec", Seq(d)) { b =>
        b.record(); body
      }
    SharedBuilds.inBackground("bg-fault") {
      lookup(throw new IllegalArgumentException("prefetch failed")); ()
    }.join()
    val failures = SharedBuilds.drainFailures()
    assert(failures.size === 1)
    assert(failures.head._1 === "bg-fault")
    assert(failures.head._2.contains("IllegalArgumentException: prefetch failed"))
    var runs = 0
    assert(lookup { runs += 1; "consumer" } === "consumer")
    assert(runs === 1)
    assert(SharedBuilds.drainFailures().isEmpty)
    SharedBuilds.invalidate()
  }

  test("two threads asking for one componentLabels key share one pairs and one labels build") {
    PairFunnel.invalidateAll()
    BuildAttribution.drain()
    val d = docs
    val b0 = PairFunnel.buildsExecuted
    val barrier = new CyclicBarrier(2)
    val results = new Array[DataFrame](2)
    BuildAttribution.setContext("concurrency-spec")
    val threads = (0 until 2).map { i =>
      val t = new Thread(() => {
        barrier.await()
        results(i) = PairFunnel.componentLabels(d, "text", "doc_id", "concurrency-spec")
      })
      t.start(); t
    }
    threads.foreach(_.join())
    BuildAttribution.clearContext()
    val builds = BuildAttribution.drain().map(_._1)
    assert(PairFunnel.buildsExecuted === b0 + 2)
    assert(builds.count(_.startsWith("pairs_")) === 1)
    assert(builds.count(_.startsWith("labels_")) === 1)
    assert(results(0) != null && (results(0) eq results(1)))
    PairFunnel.invalidateAll()
  }

  test("builds on two threads are attributed to each thread's own query") {
    SharedBuilds.invalidate()
    BuildAttribution.drain()
    val d = docs
    val ready = new CyclicBarrier(2)
    val threads = Seq("query-a", "query-b").map { q =>
      val t = new Thread(() => {
        BuildAttribution.setContext(q)
        ready.await() // both contexts are set before either build runs
        SharedBuilds.getOrBuild(SharedBuilds.Fit, s"attribution-$q", Seq(d)) { b =>
          b.record(); q
        }
        BuildAttribution.clearContext()
      })
      t.start(); t
    }
    threads.foreach(_.join())
    val paid = BuildAttribution.drain()
    assert(paid.size === 2)
    paid.foreach { case (build, query) =>
      assert(build.startsWith(s"attribution-${query}_"), s"$build paid by $query")
    }
    SharedBuilds.invalidate()
  }
}
