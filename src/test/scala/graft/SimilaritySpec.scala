package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

class SimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  private def corpus = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(0.0f, 0.0f, 1.0f)),
    (4L, Array(0.8f, 0.2f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("quantNorm20 portability contract: unit scale, zero vector, sign symmetry") {
    import graft.functions.exprs
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f, 0.0f, 0.0f)),           // zero → zeros, not NaN
      (1L, Array(3.0f, -4.0f, 0.0f, 0.0f)),           // exact 3-4-5 geometry
      (2L, Array(-3.0f, 4.0f, 0.0f, 0.0f)),           // negated → negated quant
      (3L, Array(1e-7f, 0.0f, 0.0f, 0.0f))            // tiny: q rounds to 0 → n2=0
    ).toDF("vec_id", "embedding")
    val got = vecs.select(col("vec_id"), exprs.quant_norm20(col("embedding")))
      .as[(Long, Array[Long])].collect().toMap
    assert(got(0L) === Array(0L, 0L, 0L, 0L))
    assert(got(3L) === Array(0L, 0L, 0L, 0L),
      "sub-quantum vector must follow the n2=0 branch, not divide by zero")
    // 3-4-5: nq = (0.6, -0.8)·2^20 → floor(629145.6 + 0.5) = 629146 and
    // floor(-838860.8 + 0.5) = floor(-838860.3) = -838861. Pinned:
    assert(got(1L) === Array(629146L, -838861L, 0L, 0L))
    // negation symmetry is NOT exact under floor(x+0.5) (half-up is
    // asymmetric at .5 boundaries) but holds here away from them
    assert(got(2L) === Array(-629146L, 838861L, 0L, 0L))
    // norm of the quantized vector ≈ 2^20 within rounding (±2 per axis)
    val n = math.sqrt(got(1L).map(x => x.toDouble * x).sum)
    assert(math.abs(n - 1048576.0) < 2.0)
  }

  test("quantNorm20 never throws on NaN/Inf/denormal garbage and stays deterministic") {
    import graft.functions.exprs
    // pathological floats: the kernel must not throw, and two
    // evaluations must agree (JVM-side determinism — cross-engine
    // portability is only CLAIMED for finite inputs, which is what
    // parquet testdata contains)
    val vecs = Seq(
      (0L, Array(Float.NaN, 1.0f, 2.0f, 3.0f)),
      (1L, Array(Float.PositiveInfinity, 1.0f, 0.0f, 0.0f)),
      (2L, Array(Float.NegativeInfinity, Float.NaN, 0.0f, 0.0f)),
      (3L, Array(Float.MinPositiveValue, -0.0f, 1e-38f, 0.0f)),
      (4L, Array(3.4e38f, 3.4e38f, 3.4e38f, 3.4e38f))
    ).toDF("vec_id", "embedding")
    val a = vecs.select(col("vec_id"), exprs.quant_norm20(col("embedding")))
      .as[(Long, Array[Long])].collect().sortBy(_._1)
    val b = vecs.repartition(3)
      .select(col("vec_id"), exprs.quant_norm20(col("embedding")))
      .as[(Long, Array[Long])].collect().sortBy(_._1)
    assert(a.length === 5)
    a.zip(b).foreach { case ((ia, va), (ib, vb)) =>
      assert(ia === ib)
      assert(va.toSeq === vb.toSeq, s"non-deterministic for vec $ia")
      assert(va.length === 4)
    }
    // sub-quantum and negative-zero components quantize to exact zeros
    assert(a(3)._2.toSeq === Seq(0L, 0L, 0L, 0L))
  }

  test("pqEncodeQ ties break to the smallest codeword and codes stay in range") {
    import graft.functions.exprs
    // duplicate codewords: md5-rank init can seed identical subvectors;
    // the argmin must still be deterministic (smallest j wins)
    val dsub = 2; val m = 2; val k = 3
    // codebook: subspace 0 has codewords (0,0), (0,0), (5,5) — a vector
    // nearest (0,0) must code to j=0, never j=1
    val cb = Array[Long](
      0L, 0L,  0L, 0L,  5L, 5L, // s=0
      1L, 1L,  9L, 9L,  1L, 1L) // s=1: j=0 and j=2 tie for (1,1)-ish input
    val vecs = Seq((0L, Array(0L, 0L, 1L, 1L))).toDF("vec_id", "nq")
    val codes = vecs.select(exprs.pq_encode_q(col("nq"), cb, m, k))
      .as[Array[Int]].collect().head
    assert(codes === Array(0, 0), s"ties must go to the smallest j, got ${codes.toSeq}")
  }

  test("integer ADC identity: adc(codes, table) == dot(q, decoded codeword)") {
    import graft.functions.exprs
    val rnd = new scala.util.Random(13)
    val m = 4; val k = 4; val dsub = 4
    val cb = Array.fill(m * k * dsub)(rnd.nextInt(2000) - 1000L)
    val vecs = (0L until 50L).map { i =>
      (i, Array.fill(16)(rnd.nextInt(200000) - 100000L))
    }.toDF("vec_id", "nq")
    val q = vecs.filter(col("vec_id") === 0L)
      .select(exprs.pq_table_q(col("nq"), cb, m, k).as("qt"))
    val got = vecs
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        exprs.pq_adc_score_q(exprs.pq_encode_q(col("nq"), cb, m, k), col("qt"), k).as("adc"),
        col("nq"))
      .as[(Long, Long, Array[Long])].collect()
    val qv = vecs.filter(col("vec_id") === 0L).select("nq").as[Array[Long]].collect().head
    got.foreach { case (id, adc, nq) =>
      // reference: encode driver-side, decode, exact integer dot with q
      val want = (0 until m).map { s =>
        val code = (0 until k).minBy { j =>
          (0 until dsub).map { d =>
            val t = nq(s * dsub + d) - cb((s * k + j) * dsub + d); t * t
          }.sum
        }
        (0 until dsub).map { d =>
          qv(s * dsub + d) * cb((s * k + code) * dsub + d)
        }.sum
      }.sum
      assert(adc === want, s"ADC mismatch for vec $id")
    }
  }

  test("retrievalMetrics: hand-computed MRR/nDCG/recall on constructed runs") {
    val disc = ops.Similarity.discNano(5)
    val idcg = disc.scanLeft(0L)(_ + _).drop(1)
    // run A hits qrels at ranks 1 and 3 (of 4 relevant); B hits nothing;
    // C is the perfect run (all 3 relevant at ranks 1-3)
    val run = Seq(
      (1L, 1, 101L), (1L, 2, 999L), (1L, 3, 103L), (1L, 4, 998L), (1L, 5, 997L),
      (2L, 1, 901L), (2L, 2, 902L),
      (3L, 1, 301L), (3L, 2, 302L), (3L, 3, 303L)
    ).toDF("query_id", "rank", "neighbor_id")
    val qrels = Seq(
      (1L, 101L), (1L, 103L), (1L, 105L), (1L, 107L),
      (2L, 801L),
      (3L, 301L), (3L, 302L), (3L, 303L)
    ).toDF("query_id", "neighbor_id")
    val got = ops.Similarity.retrievalMetrics(run, qrels, k = 5)
      .select("query_id", "mrr_nano", "ndcg_nano", "recall_nano")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val dcgA = disc(0) + disc(2)
    val ndcgA = math.round(dcgA.toDouble * 1e9 / idcg(3))
    assert(got(1L) === ((1L, 1000000000L, ndcgA, 500000000L)))
    assert(got(2L) === ((2L, 0L, 0L, 0L)))
    // a perfect run scores exactly 1.0 in every metric
    assert(got(3L) === ((3L, 1000000000L, 1000000000L, 1000000000L)))
  }

  test("contrastivePairs: roles partition correctly, random negatives never overlap the top block") {
    val e = graft.sources.Tables.embeddings(spark, Sf001)
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val pairs = ops.Similarity.contrastivePairs(
        e, "vec_id", "embedding", queries, "qid", "qv", kHard = 3, nRandom = 4)
      .select("query_id", "role", "rank", "neighbor_id")
      .as[(Long, String, Long, Long)].collect()
    assert(pairs.length === 10 * (1 + 3 + 4))
    val byQuery = pairs.groupBy(_._1)
    byQuery.foreach { case (q, rows) =>
      val roles = rows.groupBy(_._2).view.mapValues(_.length).toMap
      assert(roles === Map("positive" -> 1, "hard_neg" -> 3, "rand_neg" -> 4))
      // the false-negative guard: random negatives are disjoint from
      // the exact top-(1+kHard) block and from the query itself
      val topIds = rows.filter(r => r._2 != "rand_neg").map(_._4).toSet
      val rndIds = rows.filter(_._2 == "rand_neg").map(_._4).toSet
      assert((topIds & rndIds).isEmpty)
      assert(!rndIds.contains(q) && !topIds.contains(q))
      // positive is rank 1, hard negatives ranks 2..4 of the SAME ordering
      assert(rows.filter(_._2 == "positive").map(_._3).toSeq === Seq(1L))
      assert(rows.filter(_._2 == "hard_neg").map(_._3).sorted.toSeq === Seq(2L, 3L, 4L))
    }
    // determinism: a repartitioned corpus yields the identical pair set
    val pairs2 = ops.Similarity.contrastivePairs(
        e.repartition(7), "vec_id", "embedding", queries, "qid", "qv",
        kHard = 3, nRandom = 4)
      .select("query_id", "role", "rank", "neighbor_id")
      .as[(Long, String, Long, Long)].collect()
    assert(pairs.sortBy(r => (r._1, r._2, r._3)) === pairs2.sortBy(r => (r._1, r._2, r._3)))
  }

  test("bruteForceTopK ranks by cosine with id tiebreak") {
    val queries = Seq((0L, Array(1.0f, 0.0f, 0.0f))).toDF("qid", "qv")
    val got = Similarity.bruteForceTopK(
        corpus, "vec_id", "embedding", queries, "qid", "qv", k = 3)
      .orderBy("rank")
      .select("neighbor_id").as[Long].collect()
    assert(got === Array(1L, 4L, 2L)) // cos: .9938, .9701, 0 (2 beats 3 by id)
  }

  test("bounded-heap top-k agrees with a window-rank reference on multi-partition data") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(42)
    val big = (0L until 400L).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding").repartition(7)
    val queries = big.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val got = Similarity.bruteForceTopK(
        big, "vec_id", "embedding", queries, "qid", "qv", k = 7)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)]
      .collect().sorted

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val want = big.crossJoin(broadcast(queries))
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"),
        round(graft.functions.exprs.cosine_f(col("embedding"), col("qv")), 9).as("cosine"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 7)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)]
      .collect().sorted
    assert(got === want)
  }

  test("top-k plan is a partial ObjectHashAggregate, not a full-shuffle window") {
    val queries = Seq((0L, Array(1.0f, 0.0f, 0.0f))).toDF("qid", "qv")
    val plan = Similarity.bruteForceTopK(
        corpus, "vec_id", "embedding", queries, "qid", "qv", k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"))
    assert(plan.contains("partial_topk_by_score"))
    assert(!plan.contains("Window"))
  }

  test("lshTopK recall >= 0.8 vs brute force at sf0.01 with q_ann_lsh parameters") {
    val e = graft.sources.Tables.embeddings(spark, Sf001)
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = ops.Similarity.bruteForceTopK(
        e, "vec_id", "embedding", queries, "qid", "qv", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = ops.Similarity.lshTopK(
        e, "vec_id", "embedding", queries, "qid", "qv",
        k = 5, numPlanes = 8, numTables = 6, probeHamming = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"ANN recall@5 over 20 queries: $recall%.3f")
    assert(exact.size === 100)
    assert(recall >= 0.8)
  }

  test("pqTopK recall vs brute force at sf0.01 with q_ann_pq parameters") {
    val e = graft.sources.Tables.embeddings(spark, Sf001)
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = ops.Similarity.bruteForceTopK(
        e, "vec_id", "embedding", queries, "qid", "qv", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = ops.Similarity.pqTopK(
        e, "vec_id", "embedding", queries, "qid", "qv",
        k = 5, m = 8, codebookSize = 16, rerank = 96, fitFraction = 0.5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"PQ recall@5 over 20 queries: $recall%.3f")
    assert(exact.size === 100)
    assert(recall >= 0.8)
  }

  test("ivfPqTopK recall vs brute force at sf0.01 with q_ann_ivfpq parameters") {
    val e = graft.sources.Tables.embeddings(spark, Sf001)
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = ops.Similarity.bruteForceTopK(
        e, "vec_id", "embedding", queries, "qid", "qv", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = ops.Similarity.ivfPqTopK(
        e, "vec_id", "embedding", queries, "qid", "qv",
        k = 5, numCells = 16, nProbe = 12, m = 8, codebookSize = 16,
        rerank = 128, fitFraction = 0.5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"IVF+PQ recall@5 over 20 queries: $recall%.3f")
    assert(exact.size === 100)
    // compound loss: nProbe cell misses + residual quantization — the
    // probed-cell coverage bound dominates on isotropic vectors.
    // Measured 0.87 at the r7 operating point (nProbe=12/16,
    // rerank=128, chosen off the q_ann_ivf_sweep curve); bound leaves
    // seed headroom.
    assert(recall >= 0.8)
  }

  test("IVF+PQ index layout: residual codes beat raw-vector codes at equal budget") {
    // the reason Faiss encodes residuals: same m×k budget, the residual
    // codebook reconstructs closer, so ADC-ranked shortlists recover
    // more true neighbors. Verify the index layout (cells partition the
    // corpus, codes in range) AND the claim itself, as reconstruction
    // error: mean ‖x − decode(encode(x))‖² of residual encoding vs a
    // plain PQ codebook trained on the raw normalized vectors.
    val e = graft.sources.Tables.embeddings(spark, Sf001)
    val (index, coarseCb, pqCb) = ops.Similarity.buildIvfPqIndex(
      e, "vec_id", "embedding", numCells = 16, m = 8, codebookSize = 16,
      fitFraction = 0.5)
    val rows = index.select("neighbor_id", "cell", "codes")
      .as[(Long, Int, Array[Int])].collect()
    assert(rows.length.toLong === e.count())
    assert(rows.map(_._2).forall(c => c >= 0 && c < 16))
    assert(rows.forall(_._3.length === 8))
    assert(rows.forall(_._3.forall(c => c >= 0 && c < 16)))
    assert(rows.map(_._2).distinct.length > 1, "degenerate: all vectors in one cell")
    assert(coarseCb.length === 16 * 64 && pqCb.length === 8 * 16 * 8)

    val m = 8; val k = 16; val dim = 64; val dsub = dim / m
    import graft.functions.exprs
    // the engine's fit sample, re-derived through the PORTABLE contract
    // (md5 draw "ivfpqfit" at fitFraction=0.5 → threshold '80', order
    // by (md5("ivfpqinit:"+id), id)) — exactly what buildIvfPqIndex
    // collected, so the equal-budget comparison trains on the same rows
    val sample = e
      .filter(substring(
        md5(concat(lit("ivfpqfit:"), col("vec_id").cast("string"))), 1, 2) < "80")
      .select(
        md5(concat(lit("ivfpqinit:"), col("vec_id").cast("string"))).as("h"),
        col("vec_id").as("id"),
        exprs.quant_norm20(col("embedding")).as("nq"))
      .as[(String, Long, Array[Long])].collect()
      .sortBy { case (h, id, _) => (h, id) }.map(_._3)
    // equal-budget baseline: the SAME portable trainer on the raw
    // (non-residual) quantized vectors of the SAME sample
    val rawCb = ops.Similarity.fitPqCodebookQ(sample, m, k, iters = 10)
    // integer-domain squared reconstruction error of `x` against the
    // flat codebook `[(s*k+j)*dsub+d]` (double accumulate for the sum)
    def pqErr(x: Array[Long], cb: Array[Long]): Double =
      (0 until m).map { s =>
        (0 until k).map { j =>
          var d2 = 0.0; var d = 0
          while (d < dsub) {
            val t = (x(s * dsub + d) - cb((s * k + j) * dsub + d)).toDouble
            d2 += t * t; d += 1
          }
          d2
        }.min
      }.sum
    val vecs = e.select(exprs.quant_norm20(col("embedding"))).as[Array[Long]].collect()
    val (rawErr, resErr) = vecs.foldLeft((0.0, 0.0)) { case ((ra, re), nq) =>
      // assign coarse cell exactly as the index builder does (strict <
      // scan — ties to the smallest cell)
      val cell = (0 until 16).minBy { j =>
        var dd = 0L; var d = 0
        while (d < dim) { val t = nq(d) - coarseCb(j * dim + d); dd += t * t; d += 1 }
        dd
      }
      val resid = Array.tabulate(dim)(d => nq(d) - coarseCb(cell * dim + d))
      (ra + pqErr(nq, rawCb), re + pqErr(resid, pqCb))
    }
    info(f"mean reconstruction err — raw PQ: ${rawErr / vecs.length}%.5f, " +
      f"residual PQ: ${resErr / vecs.length}%.5f")
    assert(resErr < rawErr,
      "residual encoding must reconstruct closer than raw-vector PQ at equal m×k budget")
  }

  test("IVF+PQ storage table: probes prune to their cells at the parquet scan") {
    // the PQ-coded storage table written partitioned by cell IS the
    // inverted index on disk: a probe of nProbe cells must plan a
    // PartitionFilters-pruned scan (read nProbe/numCells of the data),
    // not scan-then-filter. At 100 TB this is the difference between
    // reading 6 TB and reading 100 TB per query batch.
    val e = graft.sources.Tables.embeddings(spark, Sf001)
    val (index, _, _) = ops.Similarity.buildIvfPqIndex(
      e, "vec_id", "embedding", numCells = 16, m = 8, codebookSize = 16,
      fitFraction = 0.5)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    index.write.mode("overwrite").partitionBy("cell").parquet(dir)

    val stored = spark.read.parquet(dir)
    val probed = stored.filter(col("cell").isin(3, 7))
    val scan = probed.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
    assert(scan.contains("cell"), "cell filter must reach the scan as a partition filter")
    // pruning is real, and the table round-trips the codes intact
    val want = index.filter(col("cell").isin(3, 7)).count()
    assert(probed.count() === want)
    assert(stored.count() === e.count(), "whole index on disk")
    val roundTrip = stored.select("neighbor_id", "codes")
      .as[(Long, Array[Int])].collect().toMap
    val orig = index.select("neighbor_id", "codes")
      .as[(Long, Array[Int])].collect().toMap
    assert(roundTrip.keySet === orig.keySet)
    assert(roundTrip.forall { case (k, v) => v.sameElements(orig(k)) })
  }

  test("IVF+PQ search on the STORED table == in-memory search, with a planning-time-pruned scan") {
    val e = graft.sources.Tables.embeddings(spark, Sf001)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val (index, coarseCb, pqCb) = ops.Similarity.buildIvfPqIndex(
      e, "vec_id", "embedding", numCells = 16, m = 8, codebookSize = 16,
      fitFraction = 0.5)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-s").toString
    index.write.mode("overwrite").partitionBy("cell").parquet(dir)

    val stored = ops.Similarity.ivfPqSearchStored(
      spark.read.parquet(dir), e, "vec_id", "embedding",
      queries, "qid", "qv", k = 5, coarseCb, pqCb,
      numCells = 16, nProbe = 4, m = 8, codebookSize = 16, rerank = 64)
    // identical results to searching the in-memory index with the SAME
    // codebooks (ivfPqTopK refits internally with the same seed/sample,
    // so its codebooks are bit-identical by determinism)
    val inMem = ops.Similarity.ivfPqTopK(
      e, "vec_id", "embedding", queries, "qid", "qv",
      k = 5, numCells = 16, nProbe = 4, m = 8, codebookSize = 16,
      fitFraction = 0.5, rerank = 64)
    val a = stored.select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Long, Double)].collect().sorted
    val b = inMem.select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Long, Double)].collect().sorted
    assert(a === b, "stored-table search must equal the in-memory search")
    // and the stored path's index scan is partition-pruned at PLANNING
    // time: the literal cell IN (...) must appear as a PartitionFilter
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"probe must prune index partitions at planning time:\n$plan")
  }

  test("pq codes round-trip: integer ADC score approximates cosine and codebook fit is deterministic") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 300L).map { i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    import graft.functions.exprs
    val sample = vecs.select(exprs.quant_norm20(col("embedding")))
      .as[Array[Long]].collect()
    val cb1 = ops.Similarity.fitPqCodebookQ(sample, m = 4, k = 8, iters = 10)
    val cb2 = ops.Similarity.fitPqCodebookQ(sample.map(_.clone()), m = 4, k = 8, iters = 10)
    assert(cb1 === cb2, "codebook training must be deterministic")
    val scored = vecs
      .withColumn("nq", exprs.quant_norm20(col("embedding")))
      .crossJoin(broadcast(vecs.filter(col("vec_id") === 0L)
        .select(exprs.pq_table_q(
            exprs.quant_norm20(col("embedding")), cb1, 4, 8).as("qt"),
          col("embedding").as("qv"))))
      .select(
        exprs.pq_adc_score_q(exprs.pq_encode_q(col("nq"), cb1, 4, 8), col("qt"), 8)
          .cast("double").as("adc"),
        exprs.cosine_f(col("embedding"), col("qv")).as("cos"))
      .as[(Double, Double)].collect()
    // ADC is an approximation: on 16-dim gaussian data with 4x8 codes it
    // must correlate strongly with the true cosine (quantization noise,
    // not garbage). Pearson r over 300 pairs:
    val n = scored.length.toDouble
    val (xs, ys) = (scored.map(_._1), scored.map(_._2))
    val (mx, my) = (xs.sum / n, ys.sum / n)
    val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val r = cov / math.sqrt(
      xs.map(x => (x - mx) * (x - mx)).sum * ys.map(y => (y - my) * (y - my)).sum)
    info(f"ADC-vs-cosine correlation: $r%.3f")
    assert(r >= 0.7, s"ADC score barely tracks cosine: r=$r")
  }

  test("ivfTopK recall >= 0.9 on blob-structured embeddings (its design target)") {
    val rnd = new scala.util.Random(11)
    val dim = 16
    val blobs = (0 until 20).map(_ => Array.fill(dim)(rnd.nextGaussian() * 10))
    val corpus = (0L until 2000L).map { i =>
      val c = blobs((i % 20).toInt)
      (i, c.map(v => (v + rnd.nextGaussian() * 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

    val exact = Similarity.bruteForceTopK(
        corpus, "vec_id", "embedding", queries, "qid", "qv", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(
        corpus, "vec_id", "embedding", queries, "qid", "qv",
        k = 5, numCells = 20, nProbe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    info(f"IVF recall@5, 20 blobs, nProbe=3/20: $recall%.3f")
    assert(recall >= 0.9)
  }

  test("ivf sketch re-rank on blobs: recall holds with ~15x fewer exact cosine evals") {
    // Plan-metrics proof of the two-stage scoring: the exact cosine may
    // only run on shortlist rows (Generate output of the coarse top-k),
    // a structural cap far below the probed-candidate volume (the cell
    // join's output). AQE off so the executed plan is directly walkable.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val conf = spark.conf
    val saved = conf.get("spark.sql.adaptive.enabled", "true")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      // 40 well-separated blobs of 100; a high-recall config probes 12
      // cells, so ~1200 candidates per query — but the true top-5 all
      // live in the query's home blob. The shortlist is sized to COVER
      // that tie group (sketches order BETWEEN blobs, where the cosine
      // gap is ~1; no 8-dim sketch can order WITHIN a blob where gaps
      // are ~0.003 — that is the re-rank's job).
      val rnd = new scala.util.Random(11)
      val dim = 16
      val blobs = (0 until 40).map(_ => Array.fill(dim)(rnd.nextGaussian() * 10))
      val corpus = (0L until 4000L).map { i =>
        val c = blobs((i % 40).toInt)
        (i, c.map(v => (v + rnd.nextGaussian() * 0.5).toFloat))
      }.toDF("vec_id", "embedding")
      val queries = corpus.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val exact = Similarity.bruteForceTopK(
          corpus, "vec_id", "embedding", queries, "qid", "qv", k = 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val df = Similarity.ivfTopK(
        corpus, "vec_id", "embedding", queries, "qid", "qv",
        k = 5, numCells = 40, nProbe = 12,
        rerankShortlist = 100, sketchDim = 8, dim = dim)
      // execute THIS df (a .select would be a separate QueryExecution
      // and the audited plan's metrics would stay zero)
      val got = df.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      val recall = (exact & got).size.toDouble / exact.size
      info(f"IVF+rerank recall@5 on blobs: $recall%.3f")
      assert(recall >= 0.9, f"re-rank must not cost recall on its design target: $recall%.3f")

      def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)
      val all = nodes(df.queryExecution.executedPlan)
      val candidateRows = all.collect { case j: BroadcastHashJoinExec => j }
        .map(_.metrics("numOutputRows").value).max
      val exactEvalRows = all.collect { case g: GenerateExec => g }
        .map(_.metrics("numOutputRows").value).filter(_ > 0).max
      info(s"probed candidates: $candidateRows, exact cosine evals: <= $exactEvalRows")
      assert(candidateRows >= 10 * exactEvalRows,
        s"shortlist must cut exact evals >=10x: $exactEvalRows vs $candidateRows candidates")
    } finally conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("ivf sampled fit + sketch re-rank recall at sf0.01 (q_ann_ivf parameters, isotropic)") {
    // On ISOTROPIC vectors (no cell structure) IVF recall ≈ corpus
    // coverage of the probed cells — there is nothing for the quantizer
    // to exploit. The r3 Spark-KMeans fit published 0.90 here, but ONLY
    // because its quantizer left a degenerate 149-vector cell (23% of
    // the corpus) that the probes swept — 49% candidate coverage vs the
    // balanced driver-Lloyd quantizer's 35% at the same nProbe. Balanced
    // cells are what you want at scale (no hot-cell task skew, recall
    // per candidate scanned is HIGHER); the honest isotropic number at
    // nProbe 8/16 (~50% coverage) was 0.80 with the ball-tree
    // optimistic-bound cell ranking (max(0, dist − r90); plain
    // centroid-distance ranking measured 0.79). The r7 operating point
    // moved to nProbe=12/16 off the published q_ann_ivf_sweep curve
    // (2→0.41, 4→0.49, 8→0.80, 12→0.96, 16→1.00 at sf0.01): measured
    // 0.95-0.96, asserted at 0.85. Blob-structured data — IVF's design
    // target — stays ≥ 0.9 above.
    val e = sources.Tables.embeddings(spark, Sf001)
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = Similarity.bruteForceTopK(
        e, "vec_id", "embedding", queries, "qid", "qv", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(e, "vec_id", "embedding", queries, "qid", "qv",
        k = 5, numCells = 16, nProbe = 12,
        fitFraction = 0.25, rerankShortlist = 240, sketchDim = 32)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"IVF recall@5, sampled fit + rerank, isotropic sf0.01: $recall%.3f")
    assert(recall >= 0.85, f"got $recall%.3f — published isotropic number is 0.95")
  }

  test("ivfRecallSweep: monotone curve, exact at full coverage, matches fixed-depth search") {
    val e = sources.Tables.embeddings(spark, Sf001)
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = Similarity.bruteForceTopK(
        e, "vec_id", "embedding", queries, "qid", "qv", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val sweep = Similarity.ivfRecallSweep(e, "vec_id", "embedding",
        queries, "qid", "qv", k = 5, numCells = 16,
        nProbes = Seq(2, 4, 8, 12, 16), fitFraction = 0.25)
      .select("n_probe", "query_id", "neighbor_id")
      .as[(Int, Long, Long)].collect()
    val recallAt = sweep.groupBy(_._1).view.mapValues { rows =>
      rows.count(r => exact((r._2, r._3))).toDouble / exact.size
    }.toMap
    info(s"recall curve: ${recallAt.toSeq.sorted.map { case (n, r) => f"$n->$r%.2f" }.mkString(", ")}")
    // deeper probing can only add candidates — the curve is monotone
    val curve = Seq(2, 4, 8, 12, 16).map(recallAt)
    assert(curve.zip(curve.tail).forall { case (a, b) => b >= a - 1e-9 },
      s"non-monotone curve: $curve")
    // full coverage = a brute-force scan = recall 1.0 by construction
    assert(recallAt(16) === 1.0)
    // the published operating point clears the r7 floor
    assert(recallAt(12) >= 0.85)
    // the sweep's depth-12 slice IS the fixed-depth search (bit-equal
    // scoring: same rounding, same tiebreak, no sketch stage)
    val fixed = Similarity.ivfTopK(e, "vec_id", "embedding", queries, "qid", "qv",
        k = 5, numCells = 16, nProbe = 12, fitFraction = 0.25)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val slice = sweep.filter(_._1 == 12).map(r => (r._2, r._3)).toSet
    assert(slice === fixed, "sweep slice must equal the fixed-depth search")
  }

  test("ivfPqRecallSweep: monotone curve, operating point holds, slice matches fixed-depth recall") {
    val e = sources.Tables.embeddings(spark, Sf001)
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = Similarity.bruteForceTopK(
        e, "vec_id", "embedding", queries, "qid", "qv", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val sweep = Similarity.ivfPqRecallSweep(e, "vec_id", "embedding",
        queries, "qid", "qv", k = 5, numCells = 16,
        nProbes = Seq(2, 4, 8, 12, 16), m = 8, codebookSize = 16,
        rerank = 128, fitFraction = 0.5)
      .select("n_probe", "query_id", "neighbor_id")
      .as[(Int, Long, Long)].collect()
    val recallAt = sweep.groupBy(_._1).view.mapValues { rows =>
      rows.count(r => exact((r._2, r._3))).toDouble / exact.size
    }.toMap
    info(s"IVF+PQ recall curve: ${recallAt.toSeq.sorted.map { case (n, r) => f"$n->$r%.2f" }.mkString(", ")}")
    val curve = Seq(2, 4, 8, 12, 16).map(recallAt)
    assert(curve.zip(curve.tail).forall { case (a, b) => b >= a - 1e-9 },
      s"non-monotone curve: $curve")
    // r7 operating point read off this curve
    assert(recallAt(12) >= 0.8)
    // the sweep's depth-12 recall equals the fixed-depth search's —
    // same ADC scores, same shortlist size, same exact re-rank
    val fixed = Similarity.ivfPqTopK(e, "vec_id", "embedding", queries, "qid", "qv",
        k = 5, numCells = 16, nProbe = 12, m = 8, codebookSize = 16,
        rerank = 128, fitFraction = 0.5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val fixedRecall = (exact & fixed).size.toDouble / exact.size
    assert(math.abs(recallAt(12) - fixedRecall) < 1e-9,
      s"sweep slice recall ${recallAt(12)} vs fixed-depth $fixedRecall")
  }

  test("ivfPqGridSweep: 2-D surface monotone in rerank, operating cell matches fixed search") {
    val e = sources.Tables.embeddings(spark, Sf001)
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = Similarity.bruteForceTopK(
        e, "vec_id", "embedding", queries, "qid", "qv", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val nProbes = Seq(2, 4, 8, 12, 16); val reranks = Seq(32, 64, 96, 128)
    val grid = Similarity.ivfPqGridSweep(e, "vec_id", "embedding",
        queries, "qid", "qv", k = 5, numCells = 16,
        nProbes = nProbes, m = 8, codebookSize = 16,
        fitFraction = 0.5, reranks = reranks)
      .select("n_probe", "rerank", "query_id", "neighbor_id")
      .as[(Int, Int, Long, Long)].collect()
    val recallAt = grid.groupBy(r => (r._1, r._2)).view.mapValues { rows =>
      rows.count(r => exact((r._3, r._4))).toDouble / exact.size
    }.toMap
    assert(recallAt.size === nProbes.size * reranks.size, "every grid cell present")
    info("IVF+PQ grid: " + nProbes.map(n =>
      s"nProbe=$n: " + reranks.map(r => f"$r->${recallAt((n, r))}%.2f").mkString(" ")).mkString("; "))
    // monotone in rerank for every fixed depth: a larger shortlist is a
    // SUPERSET, and exact-cosine re-ranking of a superset cannot evict
    // a globally-top-k member except for another one
    nProbes.foreach { n =>
      val row = reranks.map(r => recallAt((n, r)))
      assert(row.zip(row.tail).forall { case (a, b) => b >= a - 1e-9 },
        s"recall not monotone in rerank at nProbe=$n: $row")
    }
    // the (12, 128) grid cell IS the r7 operating point: equal to the
    // fixed-parameter search and above its published floor
    val fixed = Similarity.ivfPqTopK(e, "vec_id", "embedding", queries, "qid", "qv",
        k = 5, numCells = 16, nProbe = 12, m = 8, codebookSize = 16,
        rerank = 128, fitFraction = 0.5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val fixedRecall = (exact & fixed).size.toDouble / exact.size
    assert(math.abs(recallAt((12, 128)) - fixedRecall) < 1e-9,
      s"grid cell (12,128) ${recallAt((12, 128))} vs fixed $fixedRecall")
    assert(recallAt((12, 128)) >= 0.85)
  }

  test("lshTopK returns a subset of brute-force candidates with exact scores") {
    val queries = Seq((0L, Array(1.0f, 0.0f, 0.0f))).toDF("qid", "qv")
    val lsh = Similarity.lshTopK(
        corpus, "vec_id", "embedding", queries, "qid", "qv",
        k = 3, numPlanes = 4, dim = 3)
      .select("neighbor_id", "cosine").as[(Long, Double)].collect().toMap
    val bf = Similarity.bruteForceTopK(
        corpus, "vec_id", "embedding", queries, "qid", "qv", k = 4)
      .select("neighbor_id", "cosine").as[(Long, Double)].collect().toMap
    // LSH candidates carry the exact cosine of the brute-force path
    lsh.foreach { case (id, c) => assert(math.abs(c - bf(id)) < 1e-12) }
    // near-parallel vectors (6°/14° from the query) share its bucket
    assert(lsh.contains(1L) && lsh.contains(4L))
  }

  test("codebook-fit collect is intrinsically capped at default fitFraction (driver-safe)") {
    // the ADVISORY scenario: a caller leaves fitFraction at its default
    // 1.0 on a big corpus. capFitSample must bound what reaches the
    // driver regardless — here a 300k-row frame must cap to
    // ~MaxFitSample (binomial around 100k), deterministically.
    val big = spark.range(300000).select(col("id").as("vec_id"))
    val n1 = Similarity.capFitSample(big, "vec_id").count()
    val n2 = Similarity.capFitSample(big, "vec_id").count()
    assert(n1 === n2, "hash cut must be deterministic")
    assert(n1 <= (Similarity.MaxFitSample * 1.02).toLong,
      s"cap overshot: $n1 collected rows")
    assert(n1 >= (Similarity.MaxFitSample * 0.98).toLong,
      s"cap undershot: $n1 — codebook fit would starve")
    // content-stable: repartitioning must not change the selected set
    val s1 = Similarity.capFitSample(big, "vec_id")
      .agg(sum(xxhash64(col("vec_id")).cast("decimal(38,0)")).cast("string")).as[String].head()
    val s2 = Similarity.capFitSample(big.repartition(7), "vec_id")
      .agg(sum(xxhash64(col("vec_id")).cast("decimal(38,0)")).cast("string")).as[String].head()
    assert(s1 === s2, "cap selection must be content-stable under repartitioning")
    // below the cap: pass-through, selection untouched (published
    // recalls at test scale depend on this)
    val small = spark.range(5000).select(col("id").as("vec_id"))
    assert(Similarity.capFitSample(small, "vec_id").count() === 5000L)
  }

  test("capFitSample portable contract: engaged cap selects EXACTLY the documented md5 predicate set") {
    // r10 (closes the r9 medium advisory): the cap must be replayable
    // by any engine — keep rows whose md5("fitcap:"+id) first 8 hex
    // digits fall below %08x(max(1, (maxFit·2^32) // cnt)). Recomputed
    // here INDEPENDENTLY via MessageDigest over the same id strings, at
    // a parameter where the cap verifiably engages.
    val n = 1000L
    val maxFit = 100L
    val df = spark.range(n).select(col("id").as("vec_id"))
    val got = graft.ops.Scale.forcing(_.copy(fitSampleMax = maxFit))(
        Similarity.capFitSample(df, "vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val thr = f"${math.max(1L, (maxFit << 32) / n)}%08x"
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = (0L until n)
      .filter(id => md5hex(s"fitcap:$id").substring(0, 8) < thr).toSet
    assert(got === want, "cap selection must equal the documented predicate set")
    // the cap engaged (selected ≈ maxFit, well below n) — not vacuous
    assert(got.size < 200 && got.size > 50, s"expected ~$maxFit selected, got ${got.size}")
  }
}
