package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Scale}
import graft.functions.exprs

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and then " +
    "runs far away into the deep green forest where nobody can find it anymore"

  // 0/1 near-identical (one word changed), 2 identical copy of 0, 3/4 unrelated
  private def docs = Seq(
    (0L, base),
    (1L, base.replace("green", "blue")),
    (2L, base),
    (3L, "completely different content about spark query engines and shuffles here"),
    (4L, "yet another unrelated document talking about benchmark numbers and planning")
  ).toDF("doc_id", "text")

  test("exactByText keeps min id per distinct text") {
    val rows = Dedup.exactByText(docs, "text", "doc_id")
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(rows === Set((0L, 2L), (1L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("exactByFingerprint agrees with exactByText on survivor count") {
    assert(Dedup.exactByFingerprint(docs, "text", "doc_id").count() === 4)
  }

  test("minhash LSH finds planted near-duplicates and exact copies") {
    val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id",
        Dedup.MinhashParams(jaccardThreshold = 0.7))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L)), "exact copy must be found")
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 2L)),
      "near-dup (one-word edit) should collide in at least one band")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("dropNearDups keeps the smallest id of each dup group") {
    val kept = Dedup.dropNearDups(docs, "text", "doc_id",
        Dedup.MinhashParams(jaccardThreshold = 0.7))
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(0L) && kept.contains(3L) && kept.contains(4L))
    assert(!kept.contains(2L), "exact copy with larger id must be dropped")
  }

  test("transitive closure: chain through a largest-id middle node collapses to one survivor") {
    // Component {1, 2, 3} where the HUB has the largest id: pairs are
    // (1,3) and (2,3) only — 1~2 are not near-dups of each other. The
    // old keep-smallest-of-pair rule kept {1, 2}; closure keeps {1}.
    val rnd = new scala.util.Random(7)
    val mid = Array.fill(300)(('a' + rnd.nextInt(26)).toChar).mkString
    val prefixEdit = "XYZQWERTYUIOPASDFGHJKLZXCVBN" + mid.substring(28)
    val suffixEdit = mid.substring(0, 272) + "QWERTYUIOPASDFGHJKLZXCVBNMQW"
    val chained = Seq(
      (1L, prefixEdit), (2L, suffixEdit), (3L, mid),
      (9L, "totally unrelated text that shares nothing with the chain at all")
    ).toDF("doc_id", "text")

    // planted structure really is a path: ends similar to mid, not to each other
    val j = chained.as("x").crossJoin(chained.as("y"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id"),
        exprs.jaccard_sorted(
          exprs.shingle_set(col("x.text"), 5), exprs.shingle_set(col("y.text"), 5)).as("j"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    assert(j((1L, 3L)) >= 0.8 && j((2L, 3L)) >= 0.8)
    assert(j((1L, 2L)) < 0.8)

    val labels = Dedup.componentMinLabels(
        Dedup.minhashNearDupPairs(chained, "text", "doc_id"))
      .as[(Long, Long)].collect().toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))

    val kept = Dedup.dropNearDups(chained, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 9L))
  }

  test("star contraction (DISTRIBUTED path): 120-node chain collapses in O(log n) rounds") {
    // A pathological dup CHAIN (scraped-boilerplate family): 1~2~3~…~120,
    // diameter 119. Min-label propagation needs one round per hop; star
    // contraction must finish within 10 rounds (~log₂ n + slack) — the
    // call would throw on exhaustion, so passing IS the round bound.
    // closureMaxEdges = 0 forces the distributed rounds the default
    // would short-circuit for a graph this small.
    val pairs = (1L until 120L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Scale.forcing(_.copy(closureMaxEdges = 0L))(
        Dedup.componentMinLabels(pairs, maxRounds = 10))
      .as[(Long, Long)].collect()
    assert(labels.length === 120)
    assert(labels.forall(_._2 == 1L), "every chain node must label to the min id 1")
  }

  test("star contraction: mixed component shapes, distributed and local paths agree") {
    // three components: a 50-chain offset by 1000, a hub-and-spoke with
    // the hub as LARGEST id, and one isolated pair
    val chain = (1000L until 1049L).map(i => (i, i + 1))
    val hub = (1L to 9L).map(i => (i, 99L)) // spokes 1..9 all link only to hub 99
    val pair = Seq((500L, 501L))
    val df = (chain ++ hub ++ pair).toDF("id_a", "id_b")
    val local = Dedup.componentMinLabels(df)
      .as[(Long, Long)].collect().toMap
    val distributed = Scale.forcing(_.copy(closureMaxEdges = 0L))(
        Dedup.componentMinLabels(df))
      .as[(Long, Long)].collect().toMap
    assert(local === distributed,
      "local union-find finish must produce the distributed fixed point exactly")
    assert((1000L to 1049L).forall(local(_) == 1000L))
    assert(((1L to 9L) :+ 99L).forall(i => local(i) == 1L))
    assert(local(500L) === 500L && local(501L) === 500L)
  }

  test("closure hybrid: distributed rounds hand off to local finish mid-contraction") {
    // force ONE distributed round before the local finish picks up: a
    // 200-edge chain with the threshold between the contracted (~halved
    // height) and original edge counts — exercises the "non-root nodes
    // survive contraction" invariant the handoff depends on
    val pairs = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Scale.forcing(_.copy(closureMaxEdges = 150L))(
        Dedup.componentMinLabels(pairs))
      .as[(Long, Long)].collect()
    assert(labels.length === 200)
    assert(labels.forall(_._2 == 1L),
      "handoff from distributed rounds to local finish lost nodes or labels")
  }

  test("closure at scale: 2.08M-edge synthetic stays on the distributed path with DEFAULT thresholds") {
    // 33k disjoint 64-node chains = 2,079,000 edges, generated
    // distributed (spark.range — never a driver-side Seq). The star
    // fixed point keeps nodes − components = 2,079,000 edges, which is
    // above the 2M local-finish threshold at EVERY round — the local
    // union-find is never eligible, so converging here with default
    // parameters proves the distributed contraction path end-to-end
    // (the existing small-graph tests force it with threshold = 0).
    // Depth-64 chains need ~log2(64)+slack rounds, well under the
    // default maxRounds = 20 — the call throws on exhaustion, so
    // passing also re-proves the O(log n) round bound at this scale.
    val chains = 33000L; val len = 64L
    val edges = spark.range(chains * (len - 1))
      .select((col("id") / (len - 1)).cast("long").as("c"),
        (col("id") % (len - 1)).as("p"))
      .select((col("c") * 100 + col("p")).as("id_a"),
        (col("c") * 100 + col("p") + 1).as("id_b"))
    val labels = Dedup.componentMinLabels(edges)
    // expected root of id = its chain head = id - (id % 100); assert
    // distributed (one agg), never collecting 2.1M labels to the driver
    val (n, bad) = labels.agg(
        count(lit(1)),
        sum(when(col("root") =!= (col("id") - (col("id") % 100)), 1L).otherwise(0L)))
      .as[(Long, Long)].head()
    assert(n === chains * len)
    assert(bad === 0L, s"$bad of $n nodes labeled to the wrong component root")
  }

  test("leakage-safe split: no near-dup pair crosses a split; the naive split DOES leak") {
    val docs = graft.sources.Tables.documents(spark, Sf001)
    val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id")
    assert(pairs.count() > 0, "needs the planted near-dups to be non-vacuous")
    val labels = Dedup.componentMinLabels(pairs)
    val grouped = docs
      .join(labels.select(col("id").as("doc_id"), col("root")), Seq("doc_id"), "left")
      .withColumn("gk", coalesce(col("root"), col("doc_id")))
      .withColumn("split", graft.ops.Chunking.splitAssign(col("gk").cast("string")))
      .select(col("doc_id"), col("split"))
    def crossed(splits: org.apache.spark.sql.DataFrame): Long = pairs
      .join(splits.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
      .join(splits.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
      .filter(col("sa") =!= col("sb")).count()
    assert(crossed(grouped) === 0L,
      "group-keyed split must never separate a near-dup pair")
    // the guard is not vacuous: per-doc content hashing scatters the
    // SAME near-dup pairs across splits (~2·p_train·p_other each)
    val naive = docs
      .withColumn("split", graft.ops.Chunking.splitAssign(col("text")))
      .select(col("doc_id"), col("split"))
    assert(crossed(naive) > 0L,
      "planted near-dups should straddle naive per-doc split buckets")
  }

  /** The two MinHash entry points over `d` (in memory, so the
    * distributed funnel): the pairs, and the audit of d's odd ids as a
    * delta against its even ones. */
  private def funnels(d: org.apache.spark.sql.DataFrame,
      p: Dedup.MinhashParams = Dedup.MinhashParams()) = Seq(
    () => Dedup.minhashNearDupPairs(d, "text", "doc_id", p),
    () => Dedup.incrementalNearDups(d.filter(col("doc_id") % 2 === 0),
      d.filter(col("doc_id") % 2 === 1), "text", "doc_id", p))

  test("minhashNearDupPairs releases its internal cache (library hygiene)") {
    funnels(docs, Dedup.MinhashParams(jaccardThreshold = 0.7)).foreach { run =>
      spark.catalog.clearCache()
      assert(run().count() >= 1)
      assert(org.apache.spark.sql.graft.CacheBridge.noCachedPlans(spark),
        "the keyed signatures+shingles frame must be unpersisted once pairs materialize")
    }
  }

  test("minhashNearDupPairs releases staged frames even when a downstream job FAILS") {
    // r6 ADVICE: an exception between stage and release used to leave
    // the staged candidate frames registered in the session cache for
    // library callers with no clearCache backstop — the release now
    // rides try/finally. Force a mid-pipeline failure with a poisoned
    // id column (cast blows up inside the staged subtree's consumer).
    val poisoned = docs.withColumn("bad_id",
      when(col("doc_id") === 0L, lit("boom")).otherwise(col("doc_id").cast("string")))
    funnels(poisoned.select(expr("CAST(bad_id AS BIGINT) AS doc_id"), col("text"))).foreach { run =>
      spark.catalog.clearCache()
      // ANSI cast of "boom" fails inside the verify chain's jobs
      intercept[Exception](run().count())
      assert(org.apache.spark.sql.graft.CacheBridge.noCachedPlans(spark),
        "staged frames must be unpersisted on the failure path too")
    }
  }

  test("sharedSubstringSpans: longest embedded shared block, exactly") {
    val rnd = new scala.util.Random(5)
    def junk(n: Int): String = Array.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val shared = junk(73)
    val a = junk(50) + "Q" + shared + "R" + junk(40) // Q/R guards stop extension
    val b = junk(45) + "S" + shared + "T" + junk(55)
    val c = a // exact duplicate of a
    val d = junk(200) // unrelated
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, d)).toDF("doc_id", "text")
    val got = graft.ops.Dedup.sharedSubstringSpans(docs, "text", "doc_id", minLen = 40)
      .select("id_a", "id_b", "max_shared_len").as[(Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 2L)) === 73L, "embedded block length, not padded or clipped")
    assert(got((2L, 3L)) === 73L)
    assert(got((1L, 3L)) === a.length.toLong, "identical docs share their full length")
    assert(!got.keySet.exists { case (x, y) => x == 4L || y == 4L },
      "unrelated doc reports no pair")
  }

  test("sharedSubstringSpans measures CHARACTER spans correctly on non-ASCII text") {
    // r6 ADVICE: gram positions were byte offsets but the verify used
    // SQL substring (characters), so multi-byte text silently misaligned
    // the compared windows. gram_hashes64 is now code-point-indexed;
    // prove it end-to-end: a shared block of 2- and 3-byte characters
    // must report its CHARACTER length, exactly.
    val rnd = new scala.util.Random(7)
    val glyphs = "αβγδεζηθικλμνξοπρσтуфхцчшщεπ好语料重复检测".toCharArray.map(_.toString)
    def junk(n: Int): String = Array.fill(n)(glyphs(rnd.nextInt(glyphs.length))).mkString
    val block = junk(73) // 73 CHARS, 146+ bytes
    val a = junk(50) + "Q" + block + "R" + junk(40)
    val b = junk(45) + "S" + block + "T" + junk(55)
    val d = junk(200)
    val docs = Seq((1L, a), (2L, b), (4L, d)).toDF("doc_id", "text")
    val got = graft.ops.Dedup.sharedSubstringSpans(docs, "text", "doc_id", minLen = 40)
      .select("id_a", "id_b", "max_shared_len").as[(Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got.get((1L, 2L)) === Some(73L),
      s"non-ASCII shared block must measure 73 CHARACTERS, got ${got.get((1L, 2L))}")
    assert(!got.keySet.exists { case (x, y) => x == 4L || y == 4L })
  }

  test("sharedSubstringSpans: exact threshold boundary and multi-span diagonals") {
    val rnd = new scala.util.Random(13)
    def junk(n: Int): String = Array.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    // boundary: a shared block of EXACTLY minLen chars must be found
    // (the winnowing threshold m + w − 1 equals minLen by construction),
    // one of minLen − 1 must not
    val at = junk(40); val under = junk(39)
    val docs1 = Seq(
      (1L, junk(30) + "Q" + at + "R" + junk(30)),
      (2L, junk(28) + "S" + at + "T" + junk(33)),
      (3L, junk(30) + "U" + under + "V" + junk(30)),
      (4L, junk(28) + "W" + under + "X" + junk(33))).toDF("doc_id", "text")
    val got1 = graft.ops.Dedup.sharedSubstringSpans(docs1, "text", "doc_id", minLen = 40)
      .select("id_a", "id_b", "max_shared_len").as[(Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got1.get((1L, 2L)) === Some(40L), "exactly-minLen span must be detected")
    assert(!got1.contains((3L, 4L)), "minLen-1 span must not appear")
    // multi-span SAME diagonal: two disjoint shared blocks at identical
    // offsets in both docs land on one diagonal; the merged scan window
    // must still measure the LONGER block (guards differ so runs break)
    val b1 = junk(60); val b2 = junk(90)
    val mid = junk(20)
    val docs2 = Seq(
      (1L, b1 + "Y" + mid + "Y" + b2),
      (2L, b1 + "Z" + mid + "Z" + b2)).toDF("doc_id", "text")
    val got2 = graft.ops.Dedup.sharedSubstringSpans(docs2, "text", "doc_id", minLen = 40)
      .select("id_a", "id_b", "max_shared_len").as[(Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got2.get((1L, 2L)) === Some(90L),
      s"longest of two same-diagonal spans, got ${got2.get((1L, 2L))}")
  }

  test("sharedSubstringSpans agrees with a quadratic DP reference (fuzz)") {
    // the r8 anchors rework replaced per-position joins + a window with
    // winnowed anchors + a char-exact scan; prove output equivalence
    // against an independent longest-common-substring DP on random
    // word-salad docs with planted blocks at random offsets
    val rnd = new scala.util.Random(17)
    val words = Array("spark", "sort", "join", "agg", "scan", "row", "key", "batch")
    def salad(n: Int): String =
      Array.fill(n)(words(rnd.nextInt(words.length))).mkString(" ")
    def lcsLen(a: String, b: String): Int = {
      val prev = new Array[Int](b.length + 1)
      var best = 0
      for (i <- 1 to a.length) {
        var diag = 0
        for (j <- 1 to b.length) {
          val tmp = prev(j)
          prev(j) = if (a(i - 1) == b(j - 1)) diag + 1 else 0
          if (prev(j) > best) best = prev(j)
          diag = tmp
        }
      }
      best
    }
    val texts = (0 until 14).map { i =>
      if (i % 3 == 2) {
        val base = salad(20 + rnd.nextInt(30))
        salad(rnd.nextInt(10)) + " " + base + " " + salad(rnd.nextInt(10))
      } else salad(15 + rnd.nextInt(40))
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = graft.ops.Dedup.sharedSubstringSpans(docs, "text", "doc_id", minLen = 40)
      .select("id_a", "id_b", "max_shared_len").as[(Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    for (i <- texts.indices; j <- texts.indices if i < j) {
      val want = lcsLen(texts(i), texts(j))
      val have = got.getOrElse((i.toLong, j.toLong), 0L).toInt
      if (want >= 40) assert(have === want,
        s"pair ($i,$j): reference LCS $want, operator reported $have")
      else assert(have === 0, s"pair ($i,$j): sub-threshold LCS $want reported as $have")
    }
  }

  test("semDeDup: keep-rule and invariants match an exact in-memory reference") {
    import spark.implicits._
    // three tight clusters in 8-dim space; cluster A carries a 3-member
    // near-dup group + one distinct member, cluster B a 2-member group,
    // cluster C all-singletons. Vectors are unit-ish so cosine ≈ dot.
    def v(base: Array[Float], eps: Float, at: Int): Array[Float] = {
      val a = base.clone(); a(at) = a(at) + eps; a
    }
    val a0 = Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
    val b0 = Array(0f, 0f, 1f, 0f, 0f, 0f, 0f, 0f)
    val c0 = Array(0f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)
    val rows = Seq(
      (0L, a0), (1L, v(a0, 0.02f, 1)), (2L, v(a0, 0.03f, 1)), // dup group
      (3L, v(a0, 0.9f, 1)),                                   // distinct, same cluster
      (10L, b0), (11L, v(b0, 0.05f, 3)),                      // dup pair
      (20L, c0), (21L, v(c0, 0.9f, 5)), (22L, v(c0, -0.9f, 6)))
    val embs = rows.toDF("vec_id", "embedding")
    val tau = 0.95
    val out = graft.ops.Dedup.semDeDup(embs, "vec_id", "embedding",
        k = 3, tau = tau)
      .collect().map(r => (r.getLong(0),
        (r.getInt(1), r.getDouble(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out.keySet === rows.map(_._1).toSet, "exactly one row per vector")
    def cos(x: Array[Float], y: Array[Float]): Double = {
      val dot = x.zip(y).map { case (p, q) => p.toDouble * q }.sum
      dot / (math.sqrt(x.map(p => p.toDouble * p).sum) *
        math.sqrt(y.map(p => p.toDouble * p).sum))
    }
    val byId = rows.toMap
    // groups found: {0,1,2} and {10,11}; everything else singleton-kept
    assert(Set(0L, 1L, 2L).map(out(_)._3).size === 1, "A-group shares a root")
    assert(out(10L)._3 === out(11L)._3, "B-pair shares a root")
    assert(out(3L)._4 && out(20L)._4 && out(21L)._4 && out(22L)._4,
      "singletons are kept")
    // exactly one kept per group, and it is the min (cent_sim, id) member
    for (grp <- Seq(Seq(0L, 1L, 2L), Seq(10L, 11L))) {
      val kept = grp.filter(out(_)._4)
      assert(kept.size === 1, s"one kept in $grp")
      val want = grp.map(id => (out(id)._2, id)).min._2
      assert(kept.head === want, s"keep-rule: min (cent_sim, id) of $grp")
    }
    // no two KEPT vectors in the same cluster are τ-close
    val keptIds = out.collect { case (id, (_, _, _, true)) => id }.toSeq
    for (x <- keptIds; y <- keptIds if x < y && out(x)._1 == out(y)._1)
      assert(cos(byId(x), byId(y)) < tau, s"kept pair ($x,$y) under τ")
    // every removed vector has a τ-close same-cluster witness
    for ((id, (cl, _, _, kept)) <- out if !kept) {
      assert(rows.exists { case (o, vec) =>
        o != id && out(o)._1 == cl && cos(byId(id), vec) >= tau },
        s"removed $id must have a τ-close same-cluster neighbor")
    }
    // determinism: a second run (same seed) is identical
    val again = graft.ops.Dedup.semDeDup(embs, "vec_id", "embedding",
        k = 3, tau = tau)
      .collect().map(r => (r.getLong(0),
        (r.getInt(1), r.getDouble(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(again === out, "seeded run is reproducible")
  }

  test("semDeDup invariants hold on the real embeddings table") {
    import spark.implicits._
    val embs = graft.sources.Tables.embeddings(spark, Sf0001)
    val tau = 0.95
    val out = graft.ops.Dedup.semDeDup(embs, "vec_id", "embedding",
      k = 8, tau = tau)
    val n = embs.count()
    assert(out.count() === n, "one output row per vector")
    assert(out.select(count_distinct(col("id"))).head().getLong(0) === n)
    // exactly one kept member per group
    val badGroups = out.groupBy(col("group_root"))
      .agg(sum(when(col("kept"), 1).otherwise(0)).as("nk"))
      .filter(col("nk") =!= 1).count()
    assert(badGroups === 0L, "every group keeps exactly one member")
    // no two KEPT vectors of the same cluster are τ-close (distributed
    // check — the kept frontier must be a τ-independent set per cell)
    val keptV = out.filter(col("kept"))
      .join(embs.select(col("vec_id").as("id"), col("embedding")), "id")
      .select(col("cluster"), col("id"), col("embedding"))
    val close = keptV.as("a").join(keptV.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .filter(graft.functions.exprs.cosine_f(
        col("a.embedding"), col("b.embedding")) >= tau)
      .count()
    assert(close === 0L, "kept set contains a τ-close same-cluster pair")
  }

  test("sharedSpanSweep: one base pass yields the exact per-threshold curve") {
    val rnd = new scala.util.Random(11)
    def junk(n: Int): String = Array.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val block = junk(100)
    val a = junk(30) + "Q" + block + "R" + junk(30) // shares 100 with b
    val b = junk(25) + "S" + block + "T" + junk(35)
    val small = junk(55)
    val c = junk(60) + "U" + small + "V" + junk(20) // shares 55 with d
    val d = junk(22) + "W" + small + "X" + junk(70)
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, d)).toDF("doc_id", "text")
    val got = graft.ops.Dedup.sharedSpanSweep(docs, "text", "doc_id",
        grid = Seq(40, 80, 160))
      .select("min_len", "n_pairs", "n_docs", "longest", "span_mass")
      .as[(Int, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(40) === ((40, 2L, 4L, 100L, 155L)), "both pairs qualify at 40")
    assert(got(80) === ((80, 1L, 2L, 100L, 100L)), "only the 100-block pair at 80")
    assert(got(160) === ((160, 0L, 0L, 0L, 0L)), "empty thresholds emit zero rows, not absent rows")
  }

  test("simhash: identical texts get identical hashes, near-dups low hamming") {
    val pairs = Dedup.simhashNearDupPairs(docs, "text", "doc_id", maxHamming = 8)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    val exact = pairs.find(p => p._1 == 0L && p._2 == 2L)
    assert(exact.exists(_._3 === 0), "identical docs must have hamming 0")
  }

  test("simhash bucketed pairs exactly equal all-pairs hamming on sf0.01") {
    // Pigeonhole: any pair within hamming 3 of a 64-bit hash agrees on
    // at least one of the four 16-bit chunks, so chunk-bucketed
    // candidates lose nothing — the bucketed operator must return the
    // IDENTICAL set as the O(n²) scan.
    val docs = graft.sources.Tables.documents(spark, Sf001)
    val bucketed = Dedup.simhashNearDupPairs(docs, "text", "doc_id")
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val hashed = docs.select(col("doc_id"), exprs.simhash64(col("text"), 3).as("sh"))
    val brute = hashed.as("a").crossJoin(hashed.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("h"))
      .filter(col("h") <= 3).as[(Long, Long, Int)].collect().toSet
    assert(brute.nonEmpty)
    assert(bucketed === brute)
  }

  test("fused contamination kernel equals the explode-join form on sf0.01") {
    // Same split and parameters as q_contamination; the fused reference-
    // object kernel must reproduce the join plan's (pair, containment)
    // set exactly — both compute exact set intersections, so even the
    // double division is bit-identical.
    val docs = graft.sources.Tables.documents(spark, Sf001)
    val evalDocs = docs.filter(col("doc_id") % 20 === 3)
    val corpus = docs.filter(col("doc_id") % 20 =!= 3)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    // threshold 0.3 so background-containment rows participate too —
    // the equality is over a nontrivial row set, not just the planted hits
    val joined = collect(Dedup.contaminationPairs(
      corpus, evalDocs, "text", "doc_id", shingleN = 8, threshold = 0.3))
    val fused = collect(Dedup.contaminationPairsFused(
      corpus, evalDocs, "text", "doc_id", shingleN = 8, threshold = 0.3))
    assert(joined.nonEmpty)
    assert(fused === joined)
  }

  test("embedding near-dup finds identical vectors via LSH buckets") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.05f, 0.0f, 0.0f)), // near-dup of 0
      (2L, Array(-1.0f, 0.2f, 0.1f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(vecs, "embedding", "vec_id",
        numPlanes = 6, threshold = 0.95, dim = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("occupancyPlanesSchedule: mean occupancy plateaus at target, recall model holds, emission envelope ~n^1.1 (r16)") {
    import ops.Dedup.occupancyPlanesSchedule
    val p = 1.0 - math.acos(0.98) / math.Pi
    def model(n: Long) = {
      val sch = occupancyPlanesSchedule(n, targetOcc = 8.0, theta = 0.98)
      val occ = sch.map(k => n.toDouble / math.pow(2.0, k))
      val miss = sch.map(k => 1.0 - math.pow(p, k)).product
      (sch, occ.sum / sch.length, occ.sum * n / 2.0, miss)
    }
    // plateau: mean model occupancy within 20% of target at every
    // probe decade (the r9 integer schedule swung the full (8, 16]
    // octave); recall model miss <= 3% throughout
    for (n <- Seq(400000L, 4000000L, 40000000L)) {
      val (sch, meanOcc, _, miss) = model(n)
      assert(math.abs(meanOcc - 8.0) / 8.0 <= 0.2,
        s"n=$n schedule=$sch meanOcc=$meanOcc")
      assert(miss <= 0.031, s"n=$n miss=$miss")
      assert(sch.forall(k => k >= 8 && k <= 26) && sch.length >= 4 && sch.length <= 16)
    }
    // the bent curve: modeled emission mass grows <= n^1.15 per decade
    // (was n^1.29 measured under the integer schedule, r15 probe)
    val decades = Seq(400000L, 4000000L, 40000000L).map(n => model(n)._3)
    decades.sliding(2).foreach { case Seq(a, b) =>
      assert(b / a <= math.pow(10.0, 1.15), s"emission decade ratio ${b / a}")
    }
    // mixed planes differ by at most one; small corpora resolve to the
    // minimum 8 planes
    assert(occupancyPlanesSchedule(4000L, 8.0, 0.98).toSet.subsetOf(Set(8, 9)))
    for (n <- Seq(400000L, 4000000L, 40000000L)) {
      val sch = occupancyPlanesSchedule(n, 8.0, 0.98)
      assert(sch.max - sch.min <= 1, s"n=$n schedule=$sch")
    }
  }

  test("embedding near-dup: the occupancy schedule finds planted parallel pairs (recall floor)") {
    // parallel vectors sign identically under EVERY plane set — the
    // oracle-correctness argument for q_embed_neardup under any schedule
    val base = (0L until 64L).map { i =>
      (i, Array.tabulate(64)(d => (math.sin(i * 37.0 + d) / 8.0).toFloat))
    }
    val scaled = base.map { case (i, v) => (i + 64L, v.map(_ * 2.0f)) }
    val vecs = (base ++ scaled).toDF("vec_id", "embedding")
    val sch = ops.Dedup.occupancyPlanesSchedule(128L, 8.0, 0.98)
    val pairs = Dedup.embeddingNearDupPairs(vecs, "embedding", "vec_id",
        sch, 0.98, 42L, 64, 0, splitOcc = 16, splitTarget = 8,
        stageBuckets = false)
      .filter(col("id_b") === col("id_a") + 64L).count()
    assert(pairs === 64L, s"all 64 planted parallel pairs must verify (schedule $sch)")
  }

  test("jaccard_sorted merge-walk matches set arithmetic") {
    val df = Seq((Array(1, 2, 3, 4), Array(3, 4, 5, 6))).toDF("a", "b")
    val j = df.select(exprs.jaccard_sorted(col("a"), col("b"))).as[Double].head()
    assert(math.abs(j - 2.0 / 6.0) < 1e-12)
  }

  test("min-id and best-quality dedup policies keep identical survivor counts") {
    // same clusters, different representative choice — one survivor per
    // component either way
    val minId = SparkEntry.queries("q_dedup_minhash")(spark, Sf0001).count()
    val best = SparkEntry.queries("q_dedup_keep_best")(spark, Sf0001).count()
    assert(minId === best)
  }

  test("incremental dedup: delta probes the corpus index, both signals correct") {
    val existing = Seq((0L, base), (3L,
      "completely different content about spark query engines and shuffles here"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (10L, base),                              // exact copy of existing 0
      (11L, "fresh unique prose with no twin anywhere in corpus or batch at all"),
      (12L, base.replace("green", "blue")),     // near-dup of existing 0 AND of 13
      (13L, base.replace("green", "blue"))      // exact copy of 12
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDups(existing, delta, "text", "doc_id",
        Dedup.MinhashParams(jaccardThreshold = 0.7))
      .select("doc_id", "dup_of_existing", "n_delta_dups")
      .as[(Long, Boolean, Long)].collect()
      .map { case (id, ex, nd) => id -> ((ex, nd)) }.toMap
    assert(out(10L)._1, "exact copy of an existing doc must be flagged")
    assert(out(11L) === ((false, 0L)), "unique doc must pass clean")
    // 12's partners: existing 0 (one-word edit) + delta 10 and 13
    assert(out(12L)._1 && out(12L)._2 === 2L,
      "near-dup of existing with within-batch twins must carry both signals")
    assert(out(13L)._2 === 2L)
    assert(out.size === 4, "every delta doc gets exactly one audit row")
  }
}
