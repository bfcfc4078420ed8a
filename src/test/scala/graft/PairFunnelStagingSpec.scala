package graft

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, PairFunnel}

/** r12 verdict item 3: the pair funnel's cross-session staging table.
  *
  * The 100 TB story is "write the verified pairs + component labels
  * once per ingest snapshot, then every session reads the staging
  * table" — previously prose in PairFunnel's scaladoc, now a code path.
  * These tests prove: (1) a second session (fresh in-process cache,
  * same staging dir) serves both frames from parquet WITHOUT running
  * the banding+verify funnel again (witnessed by the build counter),
  * bit-identical to the first session's results; (2) the staged frames
  * survive `catalog.clearCache()` (they are plain parquet scans); (3)
  * with staging off, BOTH pairs and labels are eager localCheckpoints
  * (the r12 advisory: pairs previously rode an internal persist that
  * clearCache dropped); (4) the in-process key folds the docs plan's
  * semanticHash, so a different frame under the same tag misses
  * instead of silently receiving the wrong pair set (r12 advisory).
  */
class PairFunnelStagingSpec extends SparkSpecBase {

  // deterministic small corpus with planted near-dups; built per
  // session so each session's frame is its own plan
  private def corpus(s: SparkSession) = {
    import s.implicits._
    val boiler = "shared boilerplate header repeated across documents " * 4
    val rnd = new scala.util.Random(11)
    val uniq = (0 until 120).map { i =>
      (i.toLong, s"$boiler ${Seq.fill(25)(rnd.alphanumeric.take(7).mkString).mkString(" ")}")
    }
    val tail = Seq.fill(25)(rnd.alphanumeric.take(7).mkString).mkString(" ")
    (uniq ++ Seq((500L, s"$boiler $tail"), (501L, s"$boiler $tail"),
      (502L, s"$boiler $tail extra"))).toDF("doc_id", "text")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] = {
    val s = df.sparkSession; import s.implicits._
    df.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
  }
  private def labelSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
    val s = df.sparkSession; import s.implicits._
    df.as[(Long, Long)].collect().toSet
  }

  test("second session reuses the staging table: no rebuild, bit-identical frames") {
    PairFunnel.invalidateAll()
    val root = java.nio.file.Files.createTempDirectory("funnel-staging").toString
    val tag = "staging-spec-snapshot"

    val s1 = spark.newSession()
    s1.conf.set("spark.graft.funnelDir", root)
    val b0 = PairFunnel.buildsExecuted
    val p1 = PairFunnel.nearDupPairs(corpus(s1), "text", "doc_id", tag)
    val pairs1 = pairSet(p1)
    assert(PairFunnel.buildsExecuted === b0 + 1)
    val l1 = PairFunnel.componentLabels(corpus(s1), "text", "doc_id", tag)
    val labels1 = labelSet(l1)
    assert(PairFunnel.buildsExecuted === b0 + 2)
    assert(pairs1.exists(p => p._1 == 500L && p._2 == 501L), "planted dup found")
    val staged = new File(root).listFiles().map(_.getName)
    assert(staged.count(_.startsWith("pairs_")) === 1)
    assert(staged.count(_.startsWith("labels_")) === 1)
    assert(!staged.exists(_.contains("inprogress")), "publish is atomic")

    // fresh session + empty in-process cache = the fresh-JVM shape
    PairFunnel.invalidateAll()
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.funnelDir", root)
    val p2 = PairFunnel.nearDupPairs(corpus(s2), "text", "doc_id", tag)
    val l2 = PairFunnel.componentLabels(corpus(s2), "text", "doc_id", tag)
    assert(PairFunnel.buildsExecuted === b0 + 2,
      "second session must serve both frames from the staging table")
    assert(pairSet(p2) === pairs1, "staged pairs bit-identical")
    assert(labelSet(l2) === labels1, "staged labels bit-identical")

    // staged frames are parquet scans — per-query cache hygiene can't
    // drop them into a silent rebuild
    s2.catalog.clearCache()
    assert(pairSet(p2) === pairs1)
    assert(PairFunnel.buildsExecuted === b0 + 2)
    PairFunnel.invalidateAll()
  }

  test("staging off: pairs are an eager checkpoint, labels a local relation, both survive clearCache") {
    PairFunnel.invalidateAll()
    val s = spark.newSession() // no funnelDir conf
    val docs = corpus(s)
    val p = PairFunnel.nearDupPairs(docs, "text", "doc_id", "ckpt-spec")
    val l = PairFunnel.componentLabels(docs, "text", "doc_id", "ckpt-spec")
    // an eager localCheckpoint's analyzed plan is a LogicalRDD over the
    // checkpointed RDD — not the funnel plan (which clearCache could
    // force to recompute by dropping its internal persist). The labels
    // of a pair set under the local-finish bound are built on the
    // driver: a local relation, which holds its rows in the plan.
    def leavesAre(df: org.apache.spark.sql.DataFrame, leaf: String): Boolean =
      df.queryExecution.analyzed.collectLeaves().forall(_.getClass.getSimpleName == leaf)
    assert(leavesAre(p, "LogicalRDD"), "pairs must be an eager checkpoint (r12 advisory)")
    assert(leavesAre(l, "LocalRelation"), "labels must be a local relation")
    val before = pairSet(p)
    val labelsBefore = labelSet(l)
    s.catalog.clearCache()
    assert(pairSet(p) === before)
    assert(labelSet(l) === labelsBefore)
    PairFunnel.invalidateAll()
  }

  test("persistent layer: a changed corpus under a reused tag REBUILDS instead of serving stale pairs") {
    // r13 verdict item 4: the cross-JVM staging identity was tag-only —
    // a caller staging a CHANGED corpus under a reused tag was served
    // the old snapshot's pairs, silently, in every later session. The
    // corpus fingerprint (row count + commutative id checksum) in the
    // table name closes the trap.
    PairFunnel.invalidateAll()
    val root = java.nio.file.Files.createTempDirectory("funnel-fp-guard").toString
    val tag = "fp-guard-spec" // deliberately REUSED across corpora below

    val s1 = spark.newSession()
    s1.conf.set("spark.graft.funnelDir", root)
    val b0 = PairFunnel.buildsExecuted
    val pairs1 = pairSet(PairFunnel.nearDupPairs(corpus(s1), "text", "doc_id", tag))
    assert(PairFunnel.buildsExecuted === b0 + 1)

    // fresh-JVM shape (empty in-process cache), SAME tag, CHANGED
    // corpus: one planted-dup doc removed
    PairFunnel.invalidateAll()
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.funnelDir", root)
    val changed = corpus(s2).filter(col("doc_id") =!= 502L)
    val p2 = PairFunnel.nearDupPairs(changed, "text", "doc_id", tag)
    assert(PairFunnel.buildsExecuted === b0 + 2,
      "changed corpus under a reused tag must rebuild, not serve the stale table")
    assert(pairSet(p2) ===
      pairSet(Dedup.minhashNearDupPairs(changed, "text", "doc_id")),
      "the rebuilt table is the CHANGED corpus' funnel")
    assert(!pairSet(p2).exists(p => p._2 == 502L),
      "stale pairs referencing the removed doc must not appear")

    // and the ORIGINAL corpus in a third fresh session still resolves
    // to ITS table — no rebuild, bit-identical (both snapshots coexist)
    PairFunnel.invalidateAll()
    val s3 = spark.newSession()
    s3.conf.set("spark.graft.funnelDir", root)
    val p3 = PairFunnel.nearDupPairs(corpus(s3), "text", "doc_id", tag)
    assert(PairFunnel.buildsExecuted === b0 + 2,
      "the unchanged corpus is still served from its own staging table")
    assert(pairSet(p3) === pairs1)
    assert(new File(root).listFiles().count(_.getName.startsWith("pairs_")) === 2,
      "two snapshots under one tag = two fingerprint-distinct tables")
    PairFunnel.invalidateAll()
  }

  test("a different frame under the same tag misses the in-process cache") {
    PairFunnel.invalidateAll()
    val s = spark.newSession()
    val docs = corpus(s)
    val full = PairFunnel.nearDupPairs(docs, "text", "doc_id", "trap-spec")
    val filtered = PairFunnel.nearDupPairs(
      docs.filter(col("doc_id") >= 500L), "text", "doc_id", "trap-spec")
    assert(!(filtered eq full),
      "filtered frame must not be served the full corpus' pair set")
    // and the filtered build really is the filtered corpus' funnel
    assert(pairSet(filtered) ===
      pairSet(Dedup.minhashNearDupPairs(
        docs.filter(col("doc_id") >= 500L), "text", "doc_id")))
    PairFunnel.invalidateAll()
  }
}
