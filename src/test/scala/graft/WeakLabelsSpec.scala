package graft

import org.apache.spark.sql.functions._
import graft.ops.WeakLabels

class WeakLabelsSpec extends SparkSpecBase {
  import spark.implicits._

  test("LF votes follow their integer thresholds exactly") {
    val docs = Seq(
      (1L, "a" * 250),                       // long, no stops, no digits → lf_len +1, lf_stop -1
      (2L, "hi"),                            // tiny → lf_len -1
      (3L, "the and of " * 20),              // stop-heavy, 220 chars → lf_len +1, lf_stop +1
      (4L, "12345678901234567890 and the of to in is it as at"), // 40% digits
      (5L, "AAAA BBBB CCCC DDDD the")        // uppercase-heavy
    ).toDF("doc_id", "text")
    val v = WeakLabels.votes(docs)
      .select("doc_id", "lf_len", "lf_stop", "lf_digit", "lf_upper")
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(v(1L) === ((1L, 1L, -1L, 1L, 0L)))
    assert(v(2L)._2 === -1L)
    assert(v(3L) === ((3L, 1L, 1L, 1L, 0L)))
    assert(v(4L)._4 === -1L, "40% digits must vote bad")
    assert(v(5L)._5 === -1L, "uppercase-heavy must vote bad")
  }

  test("label model: weights are coverage-scoped agreement, labels follow the weighted sign") {
    val docs = graft.sources.Tables.documents(spark, Sf001)
    val out = WeakLabels.weakLabels(docs).cache()
    try {
      val n = out.count()
      assert(n === docs.count(), "one label row per document")
      // label must be the sign of the score everywhere
      assert(out.filter(signum(col("score_micro")).cast("long") =!= col("label")).count() === 0)
      // reconstruct the weights from the output frame itself and check
      // the score identity on every row: score = Σ vote_k · w_k where
      // w_k = round(1e6 · agree_k / cover_k) over the SAME frame
      val lfs = Seq("lf_len", "lf_stop", "lf_digit", "lf_upper")
      val withM = out.withColumn("m",
        signum(lfs.map(col).reduce(_ + _)).cast("long"))
      val stats = withM.agg(
        lfs.flatMap(c => Seq(
          sum(when(col(c) =!= 0L && col(c) === col("m"), 1L).otherwise(0L)).as(s"a_$c"),
          sum(when(col(c) =!= 0L, 1L).otherwise(0L)).as(s"c_$c"))).head,
        lfs.flatMap(c => Seq(
          sum(when(col(c) =!= 0L && col(c) === col("m"), 1L).otherwise(0L)).as(s"a_$c"),
          sum(when(col(c) =!= 0L, 1L).otherwise(0L)).as(s"c_$c"))).tail: _*).collect().head
      val w = lfs.zipWithIndex.map { case (c, i) =>
        val a = stats.getLong(2 * i); val cv = stats.getLong(2 * i + 1)
        c -> (if (cv == 0L) 0L else math.round(a.toDouble * 1e6 / cv))
      }.toMap
      w.values.foreach(x => assert(x >= 0L && x <= 1000000L))
      val bad = out.filter(
        lfs.map(c => col(c) * lit(w(c))).reduce(_ + _) =!= col("score_micro")).count()
      assert(bad === 0L, "score must equal the weighted vote under the reconstructed weights")
    } finally out.unpersist()
  }

  test("an empty corpus labels no row (its weights are null)") {
    assert(WeakLabels.weakLabels(Seq.empty[(Long, String)].toDF("doc_id", "text")).collect().isEmpty)
  }

  test("componentMajorityLabel: override, tie-to-smallest-member, singleton identity") {
    // the vote mechanism on constructed components. (The LF family's
    // votes rarely diverge between true near-duplicates — measured
    // changed=0 across all organic components at sf0.1 — so the
    // override/tie paths need constructed labels, not constructed text.)
    val rooted = Seq(
      // component 1: majority +1 overrides the one -1 member
      (10L, 1L, 1L), (11L, 1L, 1L), (12L, 1L, -1L),
      // component 2: 2-2 tie; the smallest member id (20) carries -1,
      // so -1 must win the tie
      (20L, 2L, -1L), (21L, 2L, 1L), (22L, 2L, 1L), (23L, 2L, -1L),
      // singleton keeps its own label, changed = 0
      (30L, 30L, 0L)
    ).toDF("doc_id", "root", "label")
    val out = WeakLabels.componentMajorityLabel(rooted)
      .select("doc_id", "own_label", "comp_label", "changed")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.size === 8)
    assert(out(12L) === ((12L, -1L, 1L, 1L)), "minority member must be overridden")
    assert(out(10L) === ((10L, 1L, 1L, 0L)))
    Seq(20L, 23L).foreach(id => assert(out(id)._3 === -1L,
      "tie must resolve to the smallest member's label"))
    Seq(21L, 22L).foreach(id => assert(out(id) === ((id, 1L, -1L, 1L))))
    assert(out(30L) === ((30L, 0L, 0L, 0L)))
    // end-to-end composition on real data: every component emits ONE
    // label, own labels within agreeing components are untouched
    val docs = graft.sources.Tables.documents(spark, Sf001)
    val pairs = graft.ops.Dedup.minhashNearDupPairs(docs, "text", "doc_id")
    val comps = graft.ops.Dedup.componentMinLabels(pairs)
    val realRooted = WeakLabels.weakLabels(docs).select(col("doc_id"), col("label"))
      .join(comps.select(col("id").as("doc_id"), col("root")), Seq("doc_id"), "left")
      .withColumn("root", coalesce(col("root"), col("doc_id")))
    val real = WeakLabels.componentMajorityLabel(realRooted)
    assert(real.count() === docs.count(), "one propagated label per document")
    assert(real.select("root", "comp_label").distinct().groupBy("root").count()
      .filter(col("count") > 1).count() === 0L, "one comp_label per component")
  }

  test("deterministic under repartitioning") {
    val docs = graft.sources.Tables.documents(spark, Sf001)
    val a = WeakLabels.weakLabels(docs)
      .select("doc_id", "score_micro", "label")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val b = WeakLabels.weakLabels(docs.repartition(13))
      .select("doc_id", "score_micro", "label")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(a === b)
  }
}
