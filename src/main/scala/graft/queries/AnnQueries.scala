package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Scale, SharedBuilds, Similarity}
import graft.sources.Tables

/** Approximate nearest-neighbour search over the embeddings: exact top-k,
  * LSH, IVF, PQ and IVF+PQ, their recall against the exact qrels, and
  * the retrieval metrics over them. The DuckDB oracles replay each
  * portable fit bit for bit. */
object AnnQueries {
  lazy val defs: Seq[QueryDef] = Seq(
    // E6: exact brute-force cosine top-k
    QueryDef("q_ann_topk", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.bruteForceTopK(e, "vec_id", "embedding", queries, "qid", "qv", k = 10)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
    },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
        |     c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings),
        |     scored AS (
        |       SELECT qid AS query_id, nid AS neighbor_id,
        |              round(list_cosine_similarity(cv, qv), 9) AS cosine
        |       FROM c, q WHERE nid <> qid)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |      FROM scored)
        |WHERE rank <= 10""".stripMargin)),

    // E7: LSH-bucketed approximate top-k (multi-table + multi-probe;
    // recall vs brute force measured in q_ann_lsh_recall and asserted
    // >= 0.8 in SimilaritySpec)
    QueryDef("q_ann_lsh", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      Similarity.lshTopK(e, "vec_id", "embedding", queries, "qid", "qv",
          k = 5, numPlanes = 8, numTables = 6, probeHamming = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
    },
      // r9: full candidate-generation replay of the hyperplane-LSH path —
      // possible because the r9 signature kernel is EXACT integer
      // arithmetic both engines compute identically (md5-derived
      // Rademacher ±1 signs × components quantized floor(v·2^24 + 0.5);
      // see Expressions.hyperplaneSig's portability contract). Multi-probe
      // at hamming ≤ 2 over XOR masks ≡ joining on bit_count(xor(sig_q,
      // sig_c)) ≤ 2 per table. Final ranking mirrors q_ann_topk's
      // (cosine rounded 9 dp DESC, neighbor_id ASC).
      Some(AnnLshCandidateCte(nTables = 6, nPlanes = 8, hamming = 2) +
        """,
          |scored AS (
          |  SELECT query_id, neighbor_id,
          |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
          |  FROM cand JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
          |            JOIN embeddings qe ON qe.vec_id = cand.query_id)
          |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
          |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          |      FROM scored)
          |WHERE rank <= 5""".stripMargin)),

    // E7: IVF (kmeans-cell) ANN — the index layout for clustered
    // embedding spaces; recall ≥ 0.9 proven on blob data in
    // SimilaritySpec (sf embeddings are isotropic, so rows-only here)
    QueryDef("q_ann_ivf", (s, dir) => {
      // overlap the sibling fits the rest of the family will consume
      // (see annPrefetch) — this query's own IVF fit proceeds inline
      // and the daemon builds fill its idle driver gaps
      annPrefetch(s, dir)
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      // the full 100 TB fit path exercised: quantizer fitted by the
      // driver-local portable Lloyd (graft.ops.Lloyd.fit) on an md5-drawn
      // 25% sample — a quantizer fit is bounded-sample by design at any
      // corpus size, and the r3 Spark-ML fit here paid a scheduler
      // round-trip per Lloyd iteration (~5 s to cluster 1600 rows).
      // Probed candidates are pre-scored by a JL sketch with only the
      // top-240 shortlist getting the exact cosine. Recall on these
      // ISOTROPIC vectors is coverage-bound: 0.95 at the r7 operating
      // point nProbe=12/16 (picked off the q_ann_ivf_sweep curve;
      // balanced cells, ball-tree optimistic-bound cell ranking) — see
      // SimilaritySpec for why the r3-published 0.90 at HALF the
      // coverage was an artifact of a degenerate 23%-of-corpus cell,
      // not a better index
      Similarity.ivfTopK(e, "vec_id", "embedding", queries, "qid", "qv",
          k = 5, numCells = 16, nProbe = 12,
          fitFraction = 0.25, rerankShortlist = fractionRerank(s, dir, 240),
          sketchDim = 32)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
    },
      // r9: FULL IVF replay — possible because the r9 front half is
      // portable integer geometry end-to-end (md5 fit draw, integer
      // Lloyd quantizer, exact rank-select radii, integer-distance probe
      // ranking, integer Rademacher sketch shortlist — see
      // Similarity.ivfCellsAndRankedProbes' contract) and the final
      // re-rank is the q_ann_topk-proven float cosine. Parameters mirror
      // q_ann_ivf: 16 cells, nProbe 12, fitFraction 0.25 ('40'),
      // sketchDim 32 seed 7043, shortlist 240.
      Some(AnnIvfShortlistCte(numCells = 16, nProbe = 12,
        fitThrHex = "40", sketchDim = 32, sketchSeed = 7043L,
        rerank = fractionRerankSql(240)) +
        """,
          |scored AS (
          |  SELECT query_id, neighbor_id,
          |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
          |  FROM shortlist JOIN embeddings ce ON ce.vec_id = shortlist.neighbor_id
          |                 JOIN embeddings qe ON qe.vec_id = shortlist.query_id)
          |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
          |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          |      FROM scored)
          |WHERE rank <= 5""".stripMargin)),

    // E7/E18: measured IVF recall on the sf embeddings. These are
    // ISOTROPIC (no planted cell structure), IVF's hard case — recall
    // is coverage-bound there: 0.95 @ sf0.01 at the r7 operating point
    // (nProbe 12/16, BALANCED cells; the full curve is q_ann_ivf_sweep),
    // vs ≥ 0.9 on clustered data at half the coverage (SimilaritySpec
    // blob test). Both numbers published on purpose: an ANN is only
    // shippable with its recall measured on the actual data shape.
    QueryDef("q_ann_ivf_recall", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      val exact = annQrels(e)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfTopK(e, "vec_id", "embedding", queries, "qid", "qv",
          k = 5, numCells = 16, nProbe = 12,
          fitFraction = 0.25, rerankShortlist = fractionRerank(s, dir, 240),
          sketchDim = 32)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "leftsemi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      exact.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("n_hit"), lit(0L)) / 5.0).as("recall"))
    },
      // recall of the replayed IVF top-5 against the replayed exact top-5
      Some(AnnIvfShortlistCte(numCells = 16, nProbe = 12,
        fitThrHex = "40", sketchDim = 32, sketchSeed = 7043L,
        rerank = fractionRerankSql(240)) +
        """,
          |scored AS (
          |  SELECT query_id, neighbor_id,
          |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
          |  FROM shortlist JOIN embeddings ce ON ce.vec_id = shortlist.neighbor_id
          |                 JOIN embeddings qe ON qe.vec_id = shortlist.query_id),
          |approx AS (
          |  SELECT query_id, neighbor_id
          |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          |        FROM scored)
          |  WHERE rank <= 5),
          |exact_scored AS (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 9) AS cosine
          |  FROM embeddings c, embeddings q
          |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
          |exact AS (
          |  SELECT query_id, neighbor_id
          |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          |        FROM exact_scored)
          |  WHERE rank <= 5),
          |hits AS (
          |  SELECT e.query_id, count(a.neighbor_id) AS n_hit
          |  FROM exact e LEFT JOIN approx a
          |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
          |  GROUP BY 1)
          |SELECT query_id, n_hit / 5.0 AS recall FROM hits""".stripMargin)),

    // E135: the recall-vs-nProbe CURVE, from ONE assignment + scoring
    // pass (probe depth is a prefix property of the ranked cells — see
    // Similarity.ivfRecallSweep). Published as exact integer basis
    // points: recall_bp = Σ n_hit · 10000 / (k · |queries|). The curve
    // is what a user reads to PICK the operating point; the chosen
    // point (nProbe=12 → ≥0.85 isotropic) is what q_ann_ivf runs and
    // q_ann_ivf_recall + SimilaritySpec assert.
    QueryDef("q_ann_ivf_sweep", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      val exact = annQrels(e)
        .select(col("query_id"), col("neighbor_id"))
      val nq = 20L
      val approx = Similarity.ivfRecallSweep(e, "vec_id", "embedding",
          queries, "qid", "qv", k = 5, numCells = 16,
          nProbes = Seq(2, 4, 8, 12, 16), fitFraction = 0.25)
        .select(col("n_probe"), col("query_id"), col("neighbor_id"))
      approx.join(exact, Seq("query_id", "neighbor_id"), "leftsemi")
        .groupBy(col("n_probe")).agg(count(lit(1)).as("n_hit"))
        .select(col("n_probe"),
          expr(s"CAST(n_hit * 10000 div (5 * $nq) AS BIGINT)").as("recall_bp"))
    },
      // the sweep probes every depth ≤ 16 and scores candidates with the
      // EXACT cosine (no sketch — mirrors Similarity.ivfRecallSweep);
      // a candidate in the rank-rn cell belongs to every depth ≥ rn
      Some(AnnIvfCandidateCte(numCells = 16, maxRn = 16,
        fitThrHex = "40") +
        """,
          |sc AS (
          |  SELECT c.query_id, c.neighbor_id, c.rn,
          |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
          |  FROM cand c JOIN embeddings ce ON ce.vec_id = c.neighbor_id
          |              JOIN embeddings qe ON qe.vec_id = c.query_id),
          |swept AS (
          |  SELECT g.n_probe, sc.query_id, sc.neighbor_id, sc.cosine
          |  FROM sc JOIN (SELECT unnest([2, 4, 8, 12, 16]) AS n_probe) g
          |    ON g.n_probe >= sc.rn),
          |appx AS (
          |  SELECT n_probe, query_id, neighbor_id
          |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY n_probe, query_id
          |                    ORDER BY cosine DESC, neighbor_id) AS rank
          |        FROM swept)
          |  WHERE rank <= 5),
          |exact_scored AS (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 9) AS cosine
          |  FROM embeddings c, embeddings q
          |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
          |exact AS (
          |  SELECT query_id, neighbor_id
          |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          |        FROM exact_scored)
          |  WHERE rank <= 5)
          |SELECT a.n_probe,
          |       CAST(count(*) * 10000 // (5 * 20) AS BIGINT) AS recall_bp
          |FROM appx a JOIN exact e
          |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
          |GROUP BY 1""".stripMargin)),

    // E7: measured recall of the approximate path against the exact one,
    // per query — the number that makes an ANN shippable
    QueryDef("q_ann_lsh_recall", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      val exact = annQrels(e)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.lshTopK(e, "vec_id", "embedding", queries, "qid", "qv",
          k = 5, numPlanes = 8, numTables = 6, probeHamming = 2)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "leftsemi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      exact.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("n_hit"), lit(0L)) / 5.0).as("recall"))
    },
      // recall of the replayed LSH top-5 against the replayed exact top-5
      // — n_hit/5.0 is an exact IEEE quotient of small integers
      Some(AnnLshCandidateCte(nTables = 6, nPlanes = 8, hamming = 2) +
        """,
          |scored AS (
          |  SELECT query_id, neighbor_id,
          |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
          |  FROM cand JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
          |            JOIN embeddings qe ON qe.vec_id = cand.query_id),
          |approx AS (
          |  SELECT query_id, neighbor_id
          |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          |        FROM scored)
          |  WHERE rank <= 5),
          |exact_scored AS (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 9) AS cosine
          |  FROM embeddings c, embeddings q
          |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
          |exact AS (
          |  SELECT query_id, neighbor_id
          |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          |        FROM exact_scored)
          |  WHERE rank <= 5),
          |hits AS (
          |  SELECT e.query_id, count(a.neighbor_id) AS n_hit
          |  FROM exact e LEFT JOIN approx a
          |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
          |  GROUP BY 1)
          |SELECT query_id, n_hit / 5.0 AS recall FROM hits""".stripMargin)),

    // E78: product-quantization ANN — corpus scanned as m-byte PQ codes
    // (32× smaller than the vectors), ADC table-lookup scoring, exact
    // re-rank of the bounded-heap shortlist only. r9: the codebook fit
    // and the whole ADC funnel are portable integer arithmetic
    // (Similarity.fitPqCodebookQ's contract), so this query carries a
    // FULL DuckDB oracle (AnnPqCandidateCte). Recall 0.89 isotropic
    // sf0.01, measured in q_ann_pq_recall, asserted in SimilaritySpec.
    QueryDef("q_ann_pq", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      Similarity.pqTopK(e, "vec_id", "embedding", queries, "qid", "qv",
          k = 5, m = AnnPqM, codebookSize = AnnPqCodebook,
          rerank = fractionRerank(s, dir, 96), fitFraction = AnnPqFitFraction)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
    },
      // r9: FULL PQ replay — possible because the r9 PQ stack is portable
      // integer arithmetic end-to-end (quantNorm20 vectors, md5 fit draw,
      // integer-Lloyd codebook, integer codes/ADC table/shortlist — see
      // Similarity.fitPqCodebookQ's contract) and the final re-rank is
      // the q_ann_topk-proven float cosine. Parameters mirror q_ann_pq:
      // m=8, k=16, 10 Lloyd rounds, fitFraction 0.5 ('80'), rerank 96.
      Some(AnnPqCandidateCte(m = 8, k = 16, iters = 10,
        rerank = fractionRerankSql(96), fitThrHex = "80") +
        """,
          |scored AS (
          |  SELECT query_id, neighbor_id,
          |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
          |  FROM cand JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
          |            JOIN embeddings qe ON qe.vec_id = cand.query_id)
          |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
          |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          |      FROM scored)
          |WHERE rank <= 5""".stripMargin)),

    // E78: measured PQ recall vs brute force on the sf embeddings
    // (isotropic — the hard case; the exact re-rank of the ADC
    // shortlist is what keeps recall high despite 32× compression)
    QueryDef("q_ann_pq_recall", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      val exact = annQrels(e)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.pqTopK(e, "vec_id", "embedding", queries, "qid", "qv",
          k = 5, m = AnnPqM, codebookSize = AnnPqCodebook,
          rerank = fractionRerank(s, dir, 96), fitFraction = AnnPqFitFraction)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "leftsemi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      exact.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("n_hit"), lit(0L)) / 5.0).as("recall"))
    },
      // recall of the replayed PQ top-5 against the replayed exact top-5
      Some(AnnPqCandidateCte(m = 8, k = 16, iters = 10,
        rerank = fractionRerankSql(96), fitThrHex = "80") +
        """,
          |scored AS (
          |  SELECT query_id, neighbor_id,
          |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
          |  FROM cand JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
          |            JOIN embeddings qe ON qe.vec_id = cand.query_id),
          |approx AS (
          |  SELECT query_id, neighbor_id
          |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          |        FROM scored)
          |  WHERE rank <= 5),
          |exact_scored AS (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 9) AS cosine
          |  FROM embeddings c, embeddings q
          |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
          |exact AS (
          |  SELECT query_id, neighbor_id
          |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          |        FROM exact_scored)
          |  WHERE rank <= 5),
          |hits AS (
          |  SELECT e.query_id, count(a.neighbor_id) AS n_hit
          |  FROM exact e LEFT JOIN approx a
          |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
          |  GROUP BY 1)
          |SELECT query_id, n_hit / 5.0 AS recall FROM hits""".stripMargin)),

    // E84: IVF+PQ composed ANN — the Faiss IndexIVFPQ layout: coarse
    // cells over normalized vectors, residual PQ codes, probed-cell
    // compressed-domain scan (one ADC table per query serves every
    // probed cell), exact re-rank of the shortlist. The searchable
    // corpus copy is (int cell + m-byte code) per vector — at 100 TB
    // the scan touches ~nProbe/numCells of the corpus at ~32× fewer
    // bytes. r9: both codebooks and the whole composed funnel are
    // portable integer arithmetic, so this query carries a FULL DuckDB
    // oracle (AnnIvfPqCandidateCte). Recall 0.92 isotropic sf0.01 at
    // (nProbe 12, rerank 128), measured in q_ann_ivfpq_recall +
    // SimilaritySpec.
    QueryDef("q_ann_ivfpq", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      Similarity.ivfPqTopK(e, "vec_id", "embedding", queries, "qid", "qv",
          k = 5, numCells = AnnIvfPqCells, nProbe = 12, m = AnnPqM,
          codebookSize = AnnPqCodebook, rerank = fractionRerank(s, dir, 128),
          fitFraction = AnnPqFitFraction)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
    },
      // r9: FULL IVF+PQ replay — the composed funnel (coarse integer
      // cells, exact-integer residual codes, decomposed integer ADC,
      // probe-ranked shortlist) is the same portable arithmetic; the
      // fixed operating point is nProbe 12 / rerank 128
      Some(AnnIvfPqCandidateCte(numCells = 16, m = 8, k = 16,
        iters = 10, fitThrHex = "80") +
        """,
          |sl AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |           row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS sr
          |    FROM cand WHERE rn <= 12)
          |  WHERE sr <= (greatest(128, (SELECT count(*) FROM embeddings) // 20))),
          |scored AS (
          |  SELECT query_id, neighbor_id,
          |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
          |  FROM sl JOIN embeddings ce ON ce.vec_id = sl.neighbor_id
          |          JOIN embeddings qe ON qe.vec_id = sl.query_id)
          |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
          |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          |      FROM scored)
          |WHERE rank <= 5""".stripMargin)),

    // E84: measured IVF+PQ recall vs brute force — the compound loss
    // (unprobed-cell misses + residual quantization) published honestly
    QueryDef("q_ann_ivfpq_recall", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      val exact = annQrels(e)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfPqTopK(e, "vec_id", "embedding", queries, "qid", "qv",
          k = 5, numCells = AnnIvfPqCells, nProbe = 12, m = AnnPqM,
          codebookSize = AnnPqCodebook, rerank = fractionRerank(s, dir, 128),
          fitFraction = AnnPqFitFraction)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "leftsemi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      exact.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("n_hit"), lit(0L)) / 5.0).as("recall"))
    },
      // recall of the replayed IVF+PQ top-5 against the replayed exact top-5
      Some(AnnIvfPqCandidateCte(numCells = 16, m = 8, k = 16,
        iters = 10, fitThrHex = "80") +
        """,
          |sl AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |           row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS sr
          |    FROM cand WHERE rn <= 12)
          |  WHERE sr <= (greatest(128, (SELECT count(*) FROM embeddings) // 20))),
          |scored AS (
          |  SELECT query_id, neighbor_id,
          |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
          |  FROM sl JOIN embeddings ce ON ce.vec_id = sl.neighbor_id
          |          JOIN embeddings qe ON qe.vec_id = sl.query_id),
          |approx AS (
          |  SELECT query_id, neighbor_id
          |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          |        FROM scored)
          |  WHERE rank <= 5),
          |exact_scored AS (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 9) AS cosine
          |  FROM embeddings c, embeddings q
          |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
          |exact AS (
          |  SELECT query_id, neighbor_id
          |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          |        FROM exact_scored)
          |  WHERE rank <= 5),
          |hits AS (
          |  SELECT e.query_id, count(a.neighbor_id) AS n_hit
          |  FROM exact e LEFT JOIN approx a
          |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
          |  GROUP BY 1)
          |SELECT query_id, n_hit / 5.0 AS recall FROM hits""".stripMargin)),

    // E138: the IVF+PQ recall curve, one ADC pass (probe depth sliced
    // by cell rank, per-depth shortlist + shared exact re-rank) — the
    // PQ-side companion of q_ann_ivf_sweep, in the same integer basis
    // points. The operating point (nProbe=12, rerank=128 → 0.92 with
    // the r9 portable codebooks) is read off this curve; the curve
    // itself is DuckDB-replayed (AnnIvfPqCandidateCte sweep tail).
    QueryDef("q_ann_ivfpq_sweep", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      val exact = annQrels(e)
        .select(col("query_id"), col("neighbor_id"))
      val nq = 20L
      val approx = Similarity.ivfPqRecallSweep(e, "vec_id", "embedding",
          queries, "qid", "qv", k = 5, numCells = AnnIvfPqCells,
          nProbes = Seq(2, 4, 8, 12, 16), m = AnnPqM, codebookSize = AnnPqCodebook,
          rerank = 128, fitFraction = AnnPqFitFraction)
        .select(col("n_probe"), col("query_id"), col("neighbor_id"))
      approx.join(exact, Seq("query_id", "neighbor_id"), "leftsemi")
        .groupBy(col("n_probe")).agg(count(lit(1)).as("n_hit"))
        .select(col("n_probe"),
          expr(s"CAST(n_hit * 10000 div (5 * $nq) AS BIGINT)").as("recall_bp"))
    },
      // the sweep slices the SAME candidate set by probe depth (rn is a
      // prefix property — mirrors Similarity.ivfPqRecallSweep), shortlists
      // each depth at rerank 128, exact-cosine re-ranks, and publishes
      // integer basis points against the replayed exact top-5
      Some(AnnIvfPqCandidateCte(numCells = 16, m = 8, k = 16,
        iters = 10, fitThrHex = "80") +
        """,
          |swept AS (
          |  SELECT g.n_probe, c.query_id, c.neighbor_id, c.adc
          |  FROM cand c JOIN (SELECT unnest([2, 4, 8, 12, 16]) AS n_probe) g
          |    ON g.n_probe >= c.rn),
          |sl AS (
          |  SELECT n_probe, query_id, neighbor_id FROM (
          |    SELECT *, row_number() OVER (PARTITION BY n_probe, query_id
          |                ORDER BY adc DESC, neighbor_id) AS sr
          |    FROM swept)
          |  WHERE sr <= 128),
          |sc AS (
          |  SELECT sl.n_probe, sl.query_id, sl.neighbor_id,
          |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
          |  FROM sl JOIN embeddings ce ON ce.vec_id = sl.neighbor_id
          |          JOIN embeddings qe ON qe.vec_id = sl.query_id),
          |appx AS (
          |  SELECT n_probe, query_id, neighbor_id
          |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY n_probe, query_id
          |                    ORDER BY cosine DESC, neighbor_id) AS rank
          |        FROM sc)
          |  WHERE rank <= 5),
          |exact_scored AS (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 9) AS cosine
          |  FROM embeddings c, embeddings q
          |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
          |exact AS (
          |  SELECT query_id, neighbor_id
          |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          |        FROM exact_scored)
          |  WHERE rank <= 5)
          |SELECT a.n_probe,
          |       CAST(count(*) * 10000 // (5 * 20) AS BIGINT) AS recall_bp
          |FROM appx a JOIN exact e
          |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
          |GROUP BY 1""".stripMargin)),

    // E138 extension (r8): the full nProbe × rerank OPERATING SURFACE
    // from one ADC pass — rerank depth is a prefix property of the ADC
    // ranking just as probe depth is of the cell ranking, so the 20
    // grid cells cost one scan plus funnel-sized bookkeeping. A
    // deployment reads its (recall, scan-cost, rerank-cost) trade-off
    // straight off this table; the operating point (12, 128) is one
    // cell of it. Integer basis points, same discipline as the sweeps;
    // all 20 cells DuckDB-replayed (r9, AnnIvfPqCandidateCte grid tail).
    QueryDef("q_ann_ivfpq_grid", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      val exact = annQrels(e)
        .select(col("query_id"), col("neighbor_id"))
      val nq = 20L
      val approx = Similarity.ivfPqGridSweep(e, "vec_id", "embedding",
          queries, "qid", "qv", k = 5, numCells = AnnIvfPqCells,
          nProbes = Seq(2, 4, 8, 12, 16), m = AnnPqM, codebookSize = AnnPqCodebook,
          fitFraction = AnnPqFitFraction, reranks = Seq(32, 64, 96, 128))
        .select(col("n_probe"), col("rerank"), col("query_id"), col("neighbor_id"))
      approx.join(exact, Seq("query_id", "neighbor_id"), "leftsemi")
        .groupBy(col("n_probe"), col("rerank")).agg(count(lit(1)).as("n_hit"))
        .select(col("n_probe"), col("rerank"),
          expr(s"CAST(n_hit * 10000 div (5 * $nq) AS BIGINT)").as("recall_bp"))
    },
      // the 2-D grid adds the rerank prefix property on top of the probe
      // one (mirrors Similarity.ivfPqGridSweep) — 20 operating points,
      // one candidate set, one exact-cosine join
      Some(AnnIvfPqCandidateCte(numCells = 16, m = 8, k = 16,
        iters = 10, fitThrHex = "80") +
        """,
          |swept AS (
          |  SELECT g.n_probe, c.query_id, c.neighbor_id, c.adc
          |  FROM cand c JOIN (SELECT unnest([2, 4, 8, 12, 16]) AS n_probe) g
          |    ON g.n_probe >= c.rn),
          |slr AS (
          |  SELECT *, row_number() OVER (PARTITION BY n_probe, query_id
          |              ORDER BY adc DESC, neighbor_id) AS sr
          |  FROM swept),
          |shortlists AS (
          |  SELECT s.n_probe, r.rerank, s.query_id, s.neighbor_id
          |  FROM slr s JOIN (SELECT unnest([32, 64, 96, 128]) AS rerank) r
          |    ON r.rerank >= s.sr
          |  WHERE s.sr <= 128),
          |sc AS (
          |  SELECT p.query_id, p.neighbor_id,
          |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
          |  FROM (SELECT DISTINCT query_id, neighbor_id FROM shortlists) p
          |  JOIN embeddings ce ON ce.vec_id = p.neighbor_id
          |  JOIN embeddings qe ON qe.vec_id = p.query_id),
          |appx AS (
          |  SELECT n_probe, rerank, query_id, neighbor_id
          |  FROM (SELECT sh.n_probe, sh.rerank, sh.query_id, sh.neighbor_id,
          |               ROW_NUMBER() OVER (PARTITION BY sh.n_probe, sh.rerank, sh.query_id
          |                 ORDER BY sc.cosine DESC, sh.neighbor_id) AS rank
          |        FROM shortlists sh JOIN sc
          |          ON sc.query_id = sh.query_id AND sc.neighbor_id = sh.neighbor_id)
          |  WHERE rank <= 5),
          |exact_scored AS (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 9) AS cosine
          |  FROM embeddings c, embeddings q
          |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
          |exact AS (
          |  SELECT query_id, neighbor_id
          |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          |        FROM exact_scored)
          |  WHERE rank <= 5)
          |SELECT a.n_probe, a.rerank,
          |       CAST(count(*) * 10000 // (5 * 20) AS BIGINT) AS recall_bp
          |FROM appx a JOIN exact e
          |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
          |GROUP BY 1, 2""".stripMargin)),

    // E153: retrieval eval metrics — MRR / nDCG@5 / recall@5 of the
    // LSH run against the exact top-5 as qrels: the harness that turns
    // any ranked retrieval into comparable numbers. log2 discounts are
    // a driver-computed integer nano-unit table shared VERBATIM with
    // the oracle, so no transcendental runs inside either engine.
    QueryDef("q_retrieval_metrics", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = annQueries(e)
      val run = Similarity.lshTopK(e, "vec_id", "embedding",
        queries, "qid", "qv", k = 5, numPlanes = 8, numTables = 6,
        probeHamming = 2)
      val qrels = annQrels(e)
        .select(col("query_id"), col("neighbor_id"))
      Similarity.retrievalMetrics(run, qrels, k = 5)
    },
      // retrieval-metrics replay: the LSH run and the exact top-5 from
      // the proven candidate/cosine CTEs, then pure integer metric math
      // with the ENGINE's own discount table interpolated as literals
      Some {
        val disc = graft.ops.Similarity.discNano(5)
        val idcg = disc.scanLeft(0L)(_ + _).drop(1)
        val discCase = disc.zipWithIndex
          .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }.mkString(" ")
        val idcgCase = idcg.zipWithIndex
          .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }.mkString(" ")
        AnnLshCandidateCte(nTables = 6, nPlanes = 8, hamming = 2) +
        s""",
           |scored AS (
           |  SELECT query_id, neighbor_id,
           |         round(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 9) AS cosine
           |  FROM cand JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
           |            JOIN embeddings qe ON qe.vec_id = cand.query_id),
           |run AS (
           |  SELECT query_id, neighbor_id, rank
           |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
           |        FROM scored)
           |  WHERE rank <= 5),
           |exact_scored AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 9) AS cosine
           |  FROM embeddings c, embeddings q
           |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
           |qrels AS (
           |  SELECT query_id, neighbor_id
           |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
           |        FROM exact_scored)
           |  WHERE rank <= 5),
           |j AS (
           |  SELECT r.query_id, r.rank,
           |         CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS rel
           |  FROM run r LEFT JOIN qrels e
           |    ON e.query_id = r.query_id AND e.neighbor_id = r.neighbor_id),
           |nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel FROM qrels GROUP BY 1),
           |agg AS (
           |  SELECT query_id,
           |         max(CASE WHEN rel = 1 THEN CAST(round(1e9 / rank) AS BIGINT) ELSE 0 END) AS mrr_nano,
           |         CAST(sum(CASE WHEN rel = 1 THEN CASE rank $discCase ELSE 0 END ELSE 0 END) AS BIGINT) AS dcg_nano,
           |         CAST(sum(rel) AS BIGINT) AS n_hit
           |  FROM j GROUP BY 1)
           |SELECT a.query_id, mrr_nano,
           |       CAST(round(dcg_nano * 1e9 / (CASE least(n_rel, 5) $idcgCase END)) AS BIGINT) AS ndcg_nano,
           |       CAST(round(n_hit * 1e9 / n_rel) AS BIGINT) AS recall_nano
           |FROM agg a JOIN nrel USING (query_id)""".stripMargin
      })
  )

  /** Shared CTE prefix replaying hyperplane-LSH candidate generation in
    * DuckDB — a bit-exact port of [[graft.functions.HashKernels]]'
    * `hyperplaneSig` portability contract (md5-derived Rademacher ±1
    * signs; components quantized `floor(v·2^24 + 0.5)`; signature bit p
    * = [Σ sign·q ≥ 0], all 64-bit integer arithmetic). Ends with
    * `cand(query_id, neighbor_id)` = pairs sharing a bucket at hamming
    * ≤ `hamming` in ANY of the `nTables` tables (XOR-mask multi-probe ≡
    * a bit_count(xor) band join), queries = vec_id < 20, no trailing
    * comma.
    */
  private def AnnLshCandidateCte(
      nTables: Int, nPlanes: Int, hamming: Int): String =
    s"""WITH signs AS (
       |  SELECT t.t, p.p, i.i,
       |         CASE WHEN ((strpos('0123456789abcdef',
       |                substring(md5('hp:' || (42 + t.t) || ':' || p.p || ':' || (i.i // 128)),
       |                  ((i.i % 128) // 4) + 1, 1)) - 1)
       |              >> (3 - (i.i % 4))) & 1 = 1 THEN 1 ELSE -1 END AS s
       |  FROM range($nTables) t(t), range($nPlanes) p(p), range(64) i(i)),
       |qd AS (
       |  SELECT vec_id, i.i AS i,
       |         CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 16777216.0 + 0.5) AS BIGINT) AS q
       |  FROM embeddings, range(64) i(i)),
       |bits AS (
       |  SELECT vec_id, t, p, CASE WHEN sum(s * q) >= 0 THEN 1 ELSE 0 END AS b
       |  FROM qd JOIN signs ON qd.i = signs.i GROUP BY 1, 2, 3),
       |sigs AS (
       |  SELECT vec_id, t, CAST(sum(b * (1 << p)) AS BIGINT) AS sig
       |  FROM bits GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM sigs q JOIN sigs c
       |    ON q.t = c.t AND bit_count(xor(q.sig, c.sig)) <= $hamming
       |  WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id)""".stripMargin

  /** Fit-cap predicate pieces interpolated into the three ANN fit CTEs
    * below, so the oracle shares ONE constant with the engine
    * ([[Similarity.MaxFitSample]], r10 advisory): a future cap change
    * cannot silently break the bit-for-bit replay exactly where the cap
    * engages. Threshold = the FitCapCheck-proven md5 8-hex draw,
    * (cap · 2^32) // cnt, zero-padded to 8 hex digits.
    */
  private val FitCap: Long = Similarity.MaxFitSample
  private val FitCapThr: String =
    s"lpad(printf('%x', greatest(1, ($FitCap * ${1L << 32}) // cnt)), 8, '0')"

  /** Shared CTE prefix replaying the PORTABLE IVF front half in DuckDB
    * — a bit-exact port of Similarity.ivfCellsAndRankedProbes' r9
    * portability contract: components quantized floor(v·2^20 + 0.5);
    * fit draw = md5("ivffit:"+id) hex prefix < `fitThrHex`; init = the
    * `numCells` sample vectors of smallest (md5("ivf:"+id), id); TWO
    * unrolled integer Lloyd rounds over the sample (argmin ties →
    * smallest cell via the min(dist·1024+cell) encoding, truncating
    * `//` centroid updates, empty cells carry over — the q_semdedup
    * pattern); final assignment of ALL corpus rows keeping the argmin
    * DISTANCE (decoded `//1024`) for the radius statistic; r_cell² =
    * the ceil(0.9·n)-th smallest member d2 (exact integer
    * rank-select); probe order = (max(0, √d2q − √r²) ASC, d2q ASC,
    * cell ASC). Ends with `cand(query_id, neighbor_id, rn)` = corpus
    * rows of every probed cell up to rank `maxRn`, queries = vec_id <
    * 20, no trailing comma.
    */
  private def AnnIvfCandidateCte(
      numCells: Int, maxRn: Int, fitThrHex: String): String =
    s"""WITH qd AS (
       |  SELECT vec_id, i.i AS i,
       |         CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS q
       |  FROM embeddings, range(64) i(i)),
       |fit0 AS (SELECT vec_id FROM embeddings
       |        WHERE substring(md5('ivffit:' || vec_id), 1, 2) < '$fitThrHex'),
       |fitn AS (SELECT count(*) AS cnt FROM fit0),
       |fit AS (SELECT vec_id FROM fit0, fitn
       |        WHERE cnt <= $FitCap
       |           OR substring(md5('fitcap:' || vec_id), 1, 8)
       |              < $FitCapThr),
       |init AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id,
       |           CAST(row_number() OVER (ORDER BY md5('ivf:' || vec_id), CAST(vec_id AS VARCHAR)) - 1 AS INT) AS cell
       |    FROM fit)
       |  WHERE cell < $numCells),
       |c0 AS (SELECT init.cell, qd.i, qd.q AS c FROM init JOIN qd USING (vec_id)),
       |d1 AS (SELECT qd.vec_id, c.cell, sum((qd.q - c.c) * (qd.q - c.c)) AS dist
       |       FROM qd JOIN fit USING (vec_id) JOIN c0 c ON qd.i = c.i GROUP BY 1, 2),
       |a1 AS (SELECT vec_id, CAST(min(dist::HUGEINT * 1024 + cell) % 1024 AS INT) AS cell
       |       FROM d1 GROUP BY 1),
       |s1 AS (SELECT a1.cell, qd.i, CAST(sum(qd.q) AS BIGINT) AS s, count(*) AS n
       |       FROM a1 JOIN qd USING (vec_id) GROUP BY 1, 2),
       |c1 AS (SELECT c0.cell, c0.i, coalesce(s1.s // s1.n, c0.c) AS c
       |       FROM c0 LEFT JOIN s1 ON s1.cell = c0.cell AND s1.i = c0.i),
       |d2_ AS (SELECT qd.vec_id, c.cell, sum((qd.q - c.c) * (qd.q - c.c)) AS dist
       |        FROM qd JOIN fit USING (vec_id) JOIN c1 c ON qd.i = c.i GROUP BY 1, 2),
       |a2 AS (SELECT vec_id, CAST(min(dist::HUGEINT * 1024 + cell) % 1024 AS INT) AS cell
       |       FROM d2_ GROUP BY 1),
       |s2 AS (SELECT a2.cell, qd.i, CAST(sum(qd.q) AS BIGINT) AS s, count(*) AS n
       |       FROM a2 JOIN qd USING (vec_id) GROUP BY 1, 2),
       |c2 AS (SELECT c1.cell, c1.i, coalesce(s2.s // s2.n, c1.c) AS c
       |       FROM c1 LEFT JOIN s2 ON s2.cell = c1.cell AND s2.i = c1.i),
       |dfin AS (SELECT qd.vec_id, c.cell, sum((qd.q - c.c) * (qd.q - c.c)) AS dist
       |         FROM qd JOIN c2 c ON qd.i = c.i GROUP BY 1, 2),
       |af AS (SELECT vec_id,
       |              CAST(min(dist::HUGEINT * 1024 + cell) % 1024 AS INT) AS cell,
       |              CAST(min(dist::HUGEINT * 1024 + cell) // 1024 AS BIGINT) AS d2
       |       FROM dfin GROUP BY 1),
       |cellcnt AS (SELECT cell, count(*) AS n FROM af GROUP BY 1),
       |radii AS (
       |  SELECT cell, d2 AS r2 FROM (
       |    SELECT af.cell, af.d2, c.n,
       |           row_number() OVER (PARTITION BY af.cell ORDER BY af.d2) AS rn
       |    FROM af JOIN cellcnt c USING (cell))
       |  WHERE rn = (n * 9 + 9) // 10),
       |qprobe AS (
       |  SELECT qd.vec_id AS query_id, c2.cell,
       |         CAST(sum((qd.q - c2.c) * (qd.q - c2.c)) AS BIGINT) AS d2q
       |  FROM qd JOIN c2 ON c2.i = qd.i
       |  WHERE qd.vec_id < 20 GROUP BY 1, 2),
       |probes AS (
       |  SELECT query_id, cell, rn FROM (
       |    SELECT p.query_id, p.cell,
       |           row_number() OVER (PARTITION BY p.query_id ORDER BY
       |             greatest(0.0, sqrt(CAST(p.d2q AS DOUBLE)) - sqrt(CAST(coalesce(r.r2, 0) AS DOUBLE))),
       |             p.d2q, p.cell) AS rn
       |    FROM qprobe p LEFT JOIN radii r USING (cell))
       |  WHERE rn <= $maxRn),
       |cand AS (
       |  SELECT p.query_id, af.vec_id AS neighbor_id, p.rn
       |  FROM af JOIN probes p USING (cell)
       |  WHERE af.vec_id <> p.query_id)""".stripMargin

  /** Corpus-fraction re-rank shortlist for the ANN operating points.
    * The r9 scaling record (bench_baselines/r09_ann_shortlist_scaling
    * .json) measured recall ~invariant in the shortlist's corpus
    * FRACTION while any fixed absolute width collapses (0.89 → 0.24 at
    * 10×) — and the r13 k=1000 recall gate caught exactly that at 2M
    * vectors: IVF/PQ recall 0.15-0.17 at the published small-corpus
    * widths. S = max(base, N/20): the published operating point at the
    * driver's oracle scales (N/20 ≤ base there and the adaptive DuckDB
    * replays compute the same max), 5% of the corpus beyond — the
    * fraction the r9 curve holds recall 0.87-0.93 across 100× growth.
    * N is the RELATION's count (post table-sample), so the oracle's
    * `greatest(base, count(*) // 20)` over its identically-sampled
    * view yields the identical value. Cost: one count job per ANN
    * query plus queries×S exact re-ranks — linear in the corpus, the
    * price of recall on isotropic data (see Similarity's scaladoc).
    * The fixed-width CURVE queries (q_ann_ivfpq_sweep/_grid, E135)
    * deliberately keep their published literals — they chart the
    * operating surface; these are the operating points.
    *
    * N is [[Scale.tableRows]]: no count job (r16), and the sampled
    * view's count in the sampled-oracle mode.
    */
  private def fractionRerank(s: SparkSession, dir: String, base: Int): Int =
    math.max(base, (Scale.tableRows(s, dir, "embeddings") / 20L).toInt)

  /** The ANN family's query set, exact qrels and PQ fit parameters,
    * declared once: every consumer builds through them, so the
    * session-shared fits [[annPrefetch]] warms are exactly the ones
    * the consumers look up.
    */
  private def annQueries(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
  private def annQrels(e: DataFrame): DataFrame =
    Similarity.bruteForceTopKShared(
      e, "vec_id", "embedding", annQueries(e), "qid", "qv", k = 5)
  private val AnnPqM = 8
  private val AnnPqCodebook = 16
  private val AnnPqFitFraction = 0.5
  private val AnnIvfPqCells = 16

  /** ANN family fit overlap (r16 verdict item 5, guide §2.6 "overlap
    * independent jobs"): the exact qrels, the PQ codebook and the
    * IVF+PQ codebook pair are DISJOINT lineages that would otherwise
    * build strictly sequentially inside their first consumers' timed
    * regions. q_ann_ivf (the family's first query in any alphabetical
    * run) starts them as background [[graft.ops.SharedBuilds]] builds,
    * overlapping each other and its own IVF fit; the later consumers
    * find them memoized. Bench attributes the builds to the triggering
    * query (shared_builds) and publishes any failure
    * (shared_build_failures); a failed build is not memoized, so its
    * consumer rebuilds under the memo lock.
    */
  private def annPrefetch(s: SparkSession, dir: String): Unit = {
    val e = Tables.embeddings(s, dir)
    SharedBuilds.inBackground("ann-qrels") { annQrels(e); () }
    SharedBuilds.inBackground("ann-pqcb") {
      Similarity.buildPqIndex(e, "vec_id", "embedding", m = AnnPqM,
        codebookSize = AnnPqCodebook, fitFraction = AnnPqFitFraction); ()
    }
    SharedBuilds.inBackground("ann-ivfpqcb") {
      Similarity.buildIvfPqIndex(e, "vec_id", "embedding",
        numCells = AnnIvfPqCells, m = AnnPqM, codebookSize = AnnPqCodebook,
        fitFraction = AnnPqFitFraction); ()
    }
  }

  /** The DuckDB mirror of [[fractionRerank]] as a SQL scalar. */
  private def fractionRerankSql(base: Int): String =
    s"greatest($base, (SELECT count(*) FROM embeddings) // 20)"

  /** Appends the integer-Rademacher-sketch shortlist replay to
    * [[AnnIvfCandidateCte]]: sketch components quantized
    * floor(v·2^16 + 0.5), 32 md5-derived ±1 planes (seed 7043 =
    * q_ann_ivf's 42 + 7001 — HashKernels.radSketchQ's contract), sketch
    * cosine = exact-integer cosine rounded 9 dp, per-query top
    * `rerank` by (sketch cosine DESC, neighbor_id ASC). Ends with
    * `shortlist(query_id, neighbor_id)`, no trailing comma.
    */
  private def AnnIvfShortlistCte(
      numCells: Int, nProbe: Int, fitThrHex: String,
      sketchDim: Int, sketchSeed: Long, rerank: String): String =
    AnnIvfCandidateCte(numCells, nProbe, fitThrHex) +
    s""",
       |ssigns AS (
       |  SELECT p.p, i.i,
       |         CASE WHEN ((strpos('0123456789abcdef',
       |                substring(md5('hp:$sketchSeed:' || p.p || ':' || (i.i // 128)),
       |                  ((i.i % 128) // 4) + 1, 1)) - 1)
       |              >> (3 - (i.i % 4))) & 1 = 1 THEN 1 ELSE -1 END AS s
       |  FROM range($sketchDim) p(p), range(64) i(i)),
       |q16 AS (
       |  SELECT vec_id, i.i AS i,
       |         CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 65536.0 + 0.5) AS BIGINT) AS q
       |  FROM embeddings, range(64) i(i)),
       |sk AS (SELECT vec_id, p, CAST(sum(s * q) AS BIGINT) AS v
       |       FROM q16 JOIN ssigns ON q16.i = ssigns.i GROUP BY 1, 2),
       |skn AS (SELECT vec_id, CAST(sum(v * v) AS BIGINT) AS n2 FROM sk GROUP BY 1),
       |skdot AS (
       |  SELECT c.query_id, c.neighbor_id, CAST(sum(a.v * b.v) AS BIGINT) AS dot
       |  FROM cand c JOIN sk a ON a.vec_id = c.neighbor_id
       |              JOIN sk b ON b.vec_id = c.query_id AND b.p = a.p
       |  GROUP BY 1, 2),
       |shortlist AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT sd.query_id, sd.neighbor_id,
       |           row_number() OVER (PARTITION BY sd.query_id ORDER BY
       |             round(CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0.0
       |                        ELSE CAST(dot AS DOUBLE)
       |                             / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) END,
       |                   9) DESC, sd.neighbor_id) AS rn
       |    FROM skdot sd JOIN skn na ON na.vec_id = sd.neighbor_id
       |                  JOIN skn nb ON nb.vec_id = sd.query_id)
       |  WHERE rn <= ($rerank))""".stripMargin

  /** Shared CTE prefix computing the PORTABLE unit-sphere quantization
    * `nq(vec_id, i, x)` — a bit-exact DuckDB port of
    * [[graft.functions.HashKernels.quantNorm20]]: q = floor(v·2^20 +
    * 0.5), n2 = Σq² (exact BIGINT), x = floor(q·2^20/√n2 + 0.5) (one
    * correctly-rounded sqrt + division over exact doubles). Starts the
    * WITH clause; ends with a trailing comma.
    */
  private val AnnNqCte: String =
    """WITH qd AS MATERIALIZED (
      |  SELECT vec_id, i.i AS i,
      |         CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS q
      |  FROM embeddings, range(64) i(i)),
      |nrm AS MATERIALIZED (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS n2 FROM qd GROUP BY 1),
      |nq AS MATERIALIZED (
      |  SELECT qd.vec_id, qd.i,
      |         CASE WHEN nrm.n2 = 0 THEN 0
      |              ELSE CAST(floor(qd.q * 1048576.0 / sqrt(CAST(nrm.n2 AS DOUBLE)) + 0.5) AS BIGINT)
      |         END AS x
      |  FROM qd JOIN nrm USING (vec_id)),
      |""".stripMargin

  /** Generated rounds of the portable integer k-means
    * ([[graft.ops.Lloyd]]), one fit per subspace as
    * [[graft.ops.Similarity.fitPqCodebookQ]] runs them: from init
    * `{tag}c0(s, j, d, c)` over subvector rows `sv(vec_id, s, d, x)`,
    * each round is an assignment then an update block. Ties go to the
    * smallest j via the `min(dist·kk + j)` encoding (dist ≤ dsub·2^44,
    * so dist·kk ≪ 2^63). Emits `iters` round blocks, each ending with a
    * trailing comma; the final centroid table is `{tag}c{iters}`.
    */
  private def lloydRoundsSql(tag: String, sv: String, kk: Int, iters: Int): String =
    (1 to iters).map { r =>
      val prev = s"${tag}c${r - 1}"
      s"""${tag}d$r AS MATERIALIZED (
         |  SELECT sv.vec_id, sv.s, c.j, CAST(sum((sv.x - c.c) * (sv.x - c.c)) AS BIGINT) AS dist
         |  FROM $sv sv JOIN $prev c ON c.s = sv.s AND c.d = sv.d GROUP BY 1, 2, 3),
         |${tag}a$r AS MATERIALIZED (
         |  SELECT vec_id, s, CAST(min(dist * $kk + j) % $kk AS INT) AS j
         |  FROM ${tag}d$r GROUP BY 1, 2),
         |${tag}s$r AS MATERIALIZED (
         |  SELECT a.s, a.j, sv.d, CAST(sum(sv.x) AS BIGINT) AS sm, count(*) AS n
         |  FROM ${tag}a$r a JOIN $sv sv ON sv.vec_id = a.vec_id AND sv.s = a.s
         |  GROUP BY 1, 2, 3),
         |${tag}c$r AS MATERIALIZED (
         |  SELECT c.s, c.j, c.d, coalesce(s.sm // s.n, c.c) AS c
         |  FROM $prev c LEFT JOIN ${tag}s$r s
         |    ON s.s = c.s AND s.j = c.j AND s.d = c.d),
         |""".stripMargin
    }.mkString

  /** Shared CTE prefix replaying the PORTABLE PQ funnel of
    * [[graft.ops.Similarity.pqTopK]] end-to-end: quantNorm20 vectors,
    * md5 fit draw ("pqfit" < `fitThrHex`), md5-rank init ("pqinit"),
    * `iters` integer-Lloyd rounds per subspace, integer codes, the
    * per-query integer ADC table, and the top-`rerank` shortlist by
    * (adc DESC, neighbor_id). Ends with `cand(query_id, neighbor_id)`,
    * queries = vec_id < 20, no trailing comma.
    */
  private def AnnPqCandidateCte(
      m: Int, k: Int, iters: Int, rerank: String, fitThrHex: String): String = {
    val dsub = 64 / m
    AnnNqCte +
    s"""pfit0 AS MATERIALIZED (SELECT vec_id FROM embeddings
       |         WHERE substring(md5('pqfit:' || vec_id), 1, 2) < '$fitThrHex'),
       |pfitn AS MATERIALIZED (SELECT count(*) AS cnt FROM pfit0),
       |pfit AS MATERIALIZED (
       |  SELECT vec_id FROM pfit0, pfitn
       |  WHERE cnt <= $FitCap
       |     OR substring(md5('fitcap:' || vec_id), 1, 8)
       |        < $FitCapThr),
       |pford AS MATERIALIZED (SELECT vec_id,
       |                 row_number() OVER (ORDER BY md5('pqinit:' || vec_id), CAST(vec_id AS VARCHAR)) AS rk
       |          FROM pfit),
       |pall AS MATERIALIZED (SELECT vec_id, CAST(i // $dsub AS INT) AS s,
       |                CAST(i % $dsub AS INT) AS d, x FROM nq),
       |psv AS MATERIALIZED (SELECT pall.* FROM pall JOIN pfit USING (vec_id)),
       |pc0 AS MATERIALIZED (SELECT sv.s, CAST(f.rk - 1 AS INT) AS j, sv.d, sv.x AS c
       |        FROM psv sv JOIN pford f ON f.vec_id = sv.vec_id WHERE f.rk <= $k),
       |""".stripMargin +
    lloydRoundsSql("p", "psv", k, iters) +
    s"""pcd AS MATERIALIZED (
       |  SELECT sv.vec_id, sv.s, c.j, CAST(sum((sv.x - c.c) * (sv.x - c.c)) AS BIGINT) AS dist
       |  FROM pall sv JOIN pc$iters c ON c.s = sv.s AND c.d = sv.d GROUP BY 1, 2, 3),
       |pcode AS MATERIALIZED (SELECT vec_id, s, CAST(min(dist * $k + j) % $k AS INT) AS j
       |          FROM pcd GROUP BY 1, 2),
       |pqt AS MATERIALIZED (
       |  SELECT sv.vec_id AS query_id, c.s, c.j, CAST(sum(sv.x * c.c) AS BIGINT) AS t
       |  FROM pall sv JOIN pc$iters c ON c.s = sv.s AND c.d = sv.d
       |  WHERE sv.vec_id < 20 GROUP BY 1, 2, 3),
       |padc AS MATERIALIZED (
       |  SELECT q.query_id, co.vec_id AS neighbor_id, CAST(sum(q.t) AS BIGINT) AS adc
       |  FROM pcode co JOIN pqt q ON q.s = co.s AND q.j = co.j
       |  WHERE co.vec_id <> q.query_id GROUP BY 1, 2),
       |cand AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                ORDER BY adc DESC, neighbor_id) AS rn
       |    FROM padc)
       |  WHERE rn <= ($rerank))""".stripMargin
  }

  /** Shared CTE prefix replaying the PORTABLE IVF+PQ funnel of
    * [[graft.ops.Similarity.buildIvfPqIndex]] + ivfPqProbes + the ADC
    * scan: coarse integer-Lloyd cells over quantNorm20 vectors (the
    * degenerate one-subspace fit, md5 draw "ivfpqfit"/order
    * "ivfpqinit"), exact-integer residuals, the residual PQ codebook
    * trained on the SAME sample, integer probe ranking (d2 ASC, cell
    * ASC) and the decomposed integer ADC score dot(q, cent) +
    * Σ table[s][code_s]. Ends with `cand(query_id, neighbor_id, rn,
    * adc)` — rn is the probe (cell) rank so sweep tails can slice by
    * depth; queries = vec_id < 20, no trailing comma.
    */
  private def AnnIvfPqCandidateCte(
      numCells: Int, m: Int, k: Int, iters: Int, fitThrHex: String): String = {
    val dsub = 64 / m
    AnnNqCte +
    s"""vfit0 AS MATERIALIZED (SELECT vec_id FROM embeddings
       |         WHERE substring(md5('ivfpqfit:' || vec_id), 1, 2) < '$fitThrHex'),
       |vfitn AS MATERIALIZED (SELECT count(*) AS cnt FROM vfit0),
       |vfit AS MATERIALIZED (
       |  SELECT vec_id FROM vfit0, vfitn
       |  WHERE cnt <= $FitCap
       |     OR substring(md5('fitcap:' || vec_id), 1, 8)
       |        < $FitCapThr),
       |vford AS MATERIALIZED (SELECT vec_id,
       |                 row_number() OVER (ORDER BY md5('ivfpqinit:' || vec_id), CAST(vec_id AS VARCHAR)) AS rk
       |          FROM vfit),
       |gall AS MATERIALIZED (SELECT vec_id, 0 AS s, i AS d, x FROM nq),
       |gsv AS MATERIALIZED (SELECT gall.* FROM gall JOIN vfit USING (vec_id)),
       |gc0 AS MATERIALIZED (SELECT sv.s, CAST(f.rk - 1 AS INT) AS j, sv.d, sv.x AS c
       |        FROM gsv sv JOIN vford f ON f.vec_id = sv.vec_id WHERE f.rk <= $numCells),
       |""".stripMargin +
    lloydRoundsSql("g", "gsv", numCells, iters) +
    s"""gcd AS MATERIALIZED (
       |  SELECT sv.vec_id, c.j, CAST(sum((sv.x - c.c) * (sv.x - c.c)) AS BIGINT) AS dist
       |  FROM gall sv JOIN gc$iters c ON c.d = sv.d GROUP BY 1, 2),
       |gasg AS MATERIALIZED (SELECT vec_id, CAST(min(dist * $numCells + j) % $numCells AS INT) AS cell
       |         FROM gcd GROUP BY 1),
       |res AS MATERIALIZED (
       |  SELECT nq.vec_id, CAST(nq.i // $dsub AS INT) AS s,
       |         CAST(nq.i % $dsub AS INT) AS d, nq.x - c.c AS x
       |  FROM nq JOIN gasg ON gasg.vec_id = nq.vec_id
       |          JOIN gc$iters c ON c.j = gasg.cell AND c.d = nq.i),
       |rsv AS MATERIALIZED (SELECT res.* FROM res JOIN vfit USING (vec_id)),
       |rc0 AS MATERIALIZED (SELECT sv.s, CAST(f.rk - 1 AS INT) AS j, sv.d, sv.x AS c
       |        FROM rsv sv JOIN vford f ON f.vec_id = sv.vec_id WHERE f.rk <= $k),
       |""".stripMargin +
    lloydRoundsSql("r", "rsv", k, iters) +
    s"""rcd AS MATERIALIZED (
       |  SELECT sv.vec_id, sv.s, c.j, CAST(sum((sv.x - c.c) * (sv.x - c.c)) AS BIGINT) AS dist
       |  FROM res sv JOIN rc$iters c ON c.s = sv.s AND c.d = sv.d GROUP BY 1, 2, 3),
       |rcode AS MATERIALIZED (SELECT vec_id, s, CAST(min(dist * $k + j) % $k AS INT) AS j
       |          FROM rcd GROUP BY 1, 2),
       |qsv AS MATERIALIZED (SELECT vec_id, CAST(i // $dsub AS INT) AS s,
       |               CAST(i % $dsub AS INT) AS d, x FROM nq WHERE vec_id < 20),
       |rqt AS MATERIALIZED (
       |  SELECT sv.vec_id AS query_id, c.s, c.j, CAST(sum(sv.x * c.c) AS BIGINT) AS t
       |  FROM qsv sv JOIN rc$iters c ON c.s = sv.s AND c.d = sv.d GROUP BY 1, 2, 3),
       |radc AS MATERIALIZED (
       |  SELECT q.query_id, co.vec_id AS neighbor_id, CAST(sum(q.t) AS BIGINT) AS tsum
       |  FROM rcode co JOIN rqt q ON q.s = co.s AND q.j = co.j GROUP BY 1, 2),
       |qcell AS MATERIALIZED (
       |  SELECT nq.vec_id AS query_id, c.j AS cell,
       |         CAST(sum((nq.x - c.c) * (nq.x - c.c)) AS BIGINT) AS d2,
       |         CAST(sum(nq.x * c.c) AS BIGINT) AS dot_qc
       |  FROM nq JOIN gc$iters c ON c.d = nq.i
       |  WHERE nq.vec_id < 20 GROUP BY 1, 2),
       |probes AS MATERIALIZED (
       |  SELECT query_id, cell, dot_qc,
       |         row_number() OVER (PARTITION BY query_id ORDER BY d2, cell) AS rn
       |  FROM qcell),
       |cand AS MATERIALIZED (
       |  SELECT p.query_id, g.vec_id AS neighbor_id, p.rn, p.dot_qc + a.tsum AS adc
       |  FROM gasg g JOIN probes p ON p.cell = g.cell
       |              JOIN radc a ON a.neighbor_id = g.vec_id AND a.query_id = p.query_id
       |  WHERE g.vec_id <> p.query_id)""".stripMargin
  }
}
