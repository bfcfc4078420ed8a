package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.exprs

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, as a 100 TB pipeline needs both:
  *  - [[bruteForceTopK]]: exact — broadcast the (small) query set, scan
  *    the corpus ONCE computing all query similarities per row, then
  *    bounded-heap top-k per query: each map task keeps at most k rows
  *    per query ([[graft.functions.TopKByScore]] partial aggregation),
  *    so the only exchange carries tasks×queries×k rows — never the
  *    N×Q scored set.
  *  - [[lshTopK]]: approximate — hyperplane-sign buckets co-partition
  *    corpus and queries, so each query compares against its bucket only.
  */
object Similarity {

  def cosine(a: Column, b: Column): Column = exprs.cosine_f(a, b)

  // ANN fit memo (r16): the ANN surface runs the IDENTICAL portable
  // fit (a fit-sample collect + driver Lloyd) and the exact qrels (a
  // corpus scan) several times per session with zero result difference
  // — the r9 integer fits are deterministic — so each is a
  // [[SharedBuilds]] build, once per session and input.

  /** Number of memoized fit builds actually executed (not served from
    * the memo) since JVM start — the spec's "no second fit ran"
    * witness, mirroring [[PairFunnel.buildsExecuted]].
    */
  def fitBuildsExecuted: Long = SharedBuilds.Fit.executed

  private def memoized[T <: AnyRef](name: String, inputs: Seq[DataFrame],
      params: Any*)(build: => T): T =
    SharedBuilds.getOrBuild(SharedBuilds.Fit, s"annfit_$name", inputs,
      params: _*) { b => b.record(); build }

  /** Test hook (mirrors [[PairFunnel.invalidateAll]]; both clear the
    * one [[SharedBuilds]] memo).
    */
  def invalidateMemo(): Unit = SharedBuilds.invalidate()

  def hyperplaneSignature(vec: Column, numPlanes: Int, dim: Int, seed: Long): Column =
    exprs.hyperplane_sig(vec, numPlanes, dim, seed)

  /** Exact top-k neighbors for each query vector.
    *
    * `queries` must be small (it is broadcast). Similarity is rounded to
    * 9 dp before ranking so orderings are reproducible across engines;
    * ties break by ascending corpus id.
    */
  def bruteForceTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val scored = corpus
      .crossJoin(broadcast(queries))
      .select(
        col(queryId).as("query_id"),
        col(corpusId).as("neighbor_id"),
        round(exprs.cosine_f(col(corpusVec), col(queryVec)), 9).as("cosine"))
      .filter(col("query_id") =!= col("neighbor_id"))
    topKPerQuery(scored, k)
  }

  /** [[bruteForceTopK]] served from the session fit memo (r16): eight
    * recall/sweep/grid queries measure against the IDENTICAL exact
    * top-k qrels, each previously paying its own corpus scan. The
    * result is queries×k rows, eagerly checkpointed so it survives the
    * close of the scope that built it (and any caller's unpersist or
    * cache clear); the core function stays lazy
    * for single consumers and plan-shape assertions.
    */
  def bruteForceTopKShared(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame =
    memoized("brute", Seq(corpus, queries),
        corpusId, corpusVec, queryId, queryVec, k) {
      // localCheckpoint: backs a build that outlives the query
      bruteForceTopK(corpus, corpusId, corpusVec, queries, queryId,
        queryVec, k).localCheckpoint(true)
    }

  /** Approximate top-k: candidates share one of the query's LSH buckets.
    *
    * Recall amplification, both tunable:
    *  - `numTables` independent hash tables (fresh plane sets): a miss
    *    requires missing in EVERY table — exponential decay;
    *  - `probeHamming` multi-probe: each query also probes buckets whose
    *    signature differs from its own in up to that many bits (the
    *    near-miss buckets where close neighbors land), at zero extra
    *    cost on the corpus side.
    *
    * The corpus is exploded `numTables`× but joined via a BROADCAST of
    * the (tiny) query×table×probe key set — the corpus side never
    * shuffles, and only bucket-matching rows reach the scorer. Expected
    * candidate volume per query ≈ numTables · Σ_{h≤r} C(planes, h) ·
    * corpus / 2^planes — sublinear in the corpus for structured data.
    * Measured recall vs [[bruteForceTopK]] is asserted in
    * SimilaritySpec (sf0.01: ≥ 0.8 with the q_ann_lsh parameters).
    */
  def lshTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, numPlanes: Int = 8, dim: Int = 64, seed: Long = 42L,
      numTables: Int = 4, probeHamming: Int = 1): DataFrame = {
    require(probeHamming <= 2, "probe masks generated for hamming <= 2")
    val probeMasks: Seq[Long] = {
      val singles = (0 until numPlanes).map(i => 1L << i)
      val doubles = for {
        i <- 0 until numPlanes; j <- (i + 1) until numPlanes
      } yield (1L << i) | (1L << j)
      Seq(0L) ++
        (if (probeHamming >= 1) singles else Nil) ++
        (if (probeHamming >= 2) doubles else Nil)
    }
    val tableCol = (vec: Column) => (0 until numTables).map { t =>
      struct(lit(t).as("t"),
        hyperplaneSignature(vec, numPlanes, dim, seed + t).as("sig"))
    }
    // Bucket rows carry ids only (vectors joined back post-dedup): with
    // the vectors inline the numTables× explode multiplies shuffled
    // bytes and the candidate dedup degrades from HashAggregate to a
    // SortAggregate over array payloads.
    val cb = corpus
      .select(col(corpusId).as("neighbor_id"),
        explode(array(tableCol(col(corpusVec)): _*)).as("b"))
      .select(col("neighbor_id"), col("b.t").as("t"), col("b.sig").as("sig"))
    val qb = queries
      .select(col(queryId).as("query_id"),
        explode(array(tableCol(col(queryVec)): _*)).as("b"))
      .select(col("query_id"), col("b.t").as("t"),
        explode(array(probeMasks.map(m => col("b.sig").bitwiseXOR(lit(m))): _*)).as("sig"))
    val candidates = cb.join(broadcast(qb), Seq("t", "sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val scored = candidates
      .join(corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv")),
        "neighbor_id")
      .join(broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"))),
        "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(exprs.cosine_f(col("cv"), col("qv")), 9).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** IVF (inverted-file) ANN: a k-means coarse quantizer assigns every
    * corpus vector to one of `numCells` cells; each query probes only
    * its `nProbe` nearest cells, so the scan cost drops to
    * ~nProbe/numCells of the corpus.
    *
    * This is the scale path for CLUSTERED embedding corpora (real
    * embedding spaces are clustered — that is why IVF is the standard
    * vector-index layout): SimilaritySpec proves recall ≥ 0.9 on
    * blob-structured data. On isotropic random vectors no cell
    * structure exists and recall degrades toward nProbe/numCells —
    * prefer [[lshTopK]] there.
    *
    * Plan shape: one KMeans fit (sampleable via `fitFraction`), one
    * map-side cell assignment on the corpus, centroid distances for the
    * (tiny, broadcast) query side, bucket join, bounded-heap top-k.
    *
    * `rerankShortlist` > 0 enables the two-stage scoring a real vector
    * index uses once the probed cells hold millions of candidates: a
    * cheap JL-sketch cosine (sketchDim multiply-adds instead of dim)
    * pre-scores every candidate, a bounded heap keeps the top
    * `rerankShortlist` ids per query, and ONLY the shortlist gets the
    * exact cosine — the full similarity runs on ≤ queries×shortlist
    * rows instead of every probed candidate (structural cap, asserted
    * via plan metrics in SimilaritySpec).
    */
  /** Shared IVF front half: coarse-quantizer fit, corpus cell
    * assignment, and the per-query cell ranking by the ball-tree
    * optimistic bound — WITHOUT the nProbe cut, so callers can either
    * probe a fixed prefix ([[ivfTopK]]) or sweep several prefixes from
    * ONE assignment+ranking pass ([[ivfRecallSweep]]). Returns
    * `(cells(neighbor_id, cv, cell), ranked(query_id, qv, cell, rn))`
    * with `rn` = 1-based probe order.
    */
  /** Intrinsic driver-safety cap on every collected codebook-fit
    * sample: whatever `fitFraction` a caller passes (including the
    * default 1.0), at most ~`MaxFitSample` vectors are ever collected
    * driver-side — a default that cannot OOM the driver on a big corpus
    * is the right default, and codebook quality saturates far below
    * this size anyway (Faiss trains billion-vector indexes on 100k-1M
    * samples). The cap is a deterministic hash cut (content-stable
    * under repartitioning and corpus growth, like the fitFraction cut
    * itself) and engages only when the selected sample exceeds the cap,
    * so small-corpus results — including every published recall curve —
    * are unchanged. Costs one count() of the fit selection per fit.
    *
    * PORTABLE (r10, closes the r9 advisory): the cut is an md5 hex
    * prefix comparison — keep rows whose first 8 hex digits of
    * md5("fitcap:"+id) fall below thr = max(1, (MaxFitSample·2^32) //
    * cnt) formatted %08x (truncating int64 division, cnt = the draw's
    * count) — so any engine that can count the same draw can replay the
    * cap exactly; AnnQueries' fit CTEs emit this predicate verbatim
    * and the bit-for-bit replay contract now holds PAST the cap (the
    * r9 xxhash64 cut broke it exactly where the cap engaged, sf10+).
    */
  private[graft] val MaxFitSample: Long = 100000L

  private[graft] def capFitSample(
      sel: DataFrame, idCol: String,
      maxFit: Long = MaxFitSample): DataFrame = {
    // r17 (§5: no scheduled jobs for what metadata already proves):
    // the cap decision needs the exact count ONLY when it could
    // engage. A footer-derived upper bound at or under maxFit proves
    // cnt <= maxFit, so the sample passes through uncapped — exactly
    // what the counted path would have decided — without the count
    // job each fit previously paid. At scale the bound exceeds maxFit
    // and the exact count (which the portable md5 threshold folds
    // into the RESULT) still runs.
    if (graft.sources.Tables.footerBound(sel).exists(_.rows <= maxFit)) return sel
    val cnt = sel.count()
    if (cnt <= maxFit) sel
    else {
      val thr = math.max(1L, (maxFit << 32) / cnt)
      sel.filter(
        substring(md5(concat(lit("fitcap:"), col(idCol).cast("string"))), 1, 8)
          < lit(f"$thr%08x"))
    }
  }

  /** Quantize a float vector column to exact int64 components:
    * floor(v·2^20 + 0.5) computed in double (exact — float→double is
    * exact, ·2^20 is a power-of-2 scale, |v·2^20| ≪ 2^52). The scale
    * every portable integer-geometry kernel here shares with
    * [[graft.ops.Dedup.semDeDup]] and its DuckDB replays.
    */
  private def quantize20(c: Column): Column = exprs.quantize20_q(c)

  private def ivfCellsAndRankedProbes(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      numCells: Int, fitFraction: Double,
      fitMaxIter: Int): (DataFrame, DataFrame) = {
    // r9: the whole front half — fit draw, coarse-quantizer fit, cell
    // assignment, radius statistic, probe ranking — is PORTABLE integer
    // arithmetic, so q_ann_ivf / q_ann_ivf_recall / q_ann_ivf_sweep
    // carry full DuckDB oracles (mirrored in AnnQueries'
    // AnnIvfCandidateCte):
    //  - components quantized floor(v·2^20 + 0.5) (quantize20);
    //  - fit draw = md5FitDraw with tag "ivffit" (the r8 Spark-native
    //    sample() drew via XORShift, which no other engine can replay);
    //  - the coarse quantizer is a Lloyd.fit over the sample in
    //    init order "ivf". A coarse quantizer doesn't need convergence
    //    — nProbe probing absorbs boundary error — so 2 rounds is the
    //    default, and each round is driver-local arithmetic over the
    //    collected sample (the r3 Spark-ML fit paid a scheduler
    //    round-trip per round).
    // capFitSample still guards the collect: it engages above ~100k
    // sampled vectors, and since r10 the cut is itself portable (md5
    // 8-hex-digit prefix, replayed verbatim by the fit CTEs), so the
    // bit-for-bit replay contract holds at EVERY scale — including
    // sf10+, where the cap verifiably engages — while the 100 TB fit
    // stays driver-safe.
    val vecs = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv"))
      .withColumn("qv_q", quantize20(col("cv")))
    // memoized (r16): q_ann_ivf / the recall sweep / retrieval-metrics
    // fit the IDENTICAL coarse quantizer and radii — one fit-sample
    // collect + one corpus-wide rank-select per session instead of one
    // per consumer. Deterministic integer fit, so sharing changes no
    // result bytes.
    val fitRes =
      memoized[(Array[Array[Long]], Map[Int, Long])]("ivffit", Seq(vecs),
          numCells, fitFraction, fitMaxIter) {
    val sampled = capFitSample(
      md5FitDraw(vecs, "neighbor_id", fitFraction, "ivffit"), "neighbor_id")
    val cents = Lloyd.fit(collectFitRowsQ(sampled, "neighbor_id", "qv_q", "ivf"),
      numCells, fitMaxIter)
    val dimA = cents(0).length
    val cellsFit = vecs.withColumn("cell",
      exprs.argmin_cell(col("qv_q"), cents.flatten, numCells, dimA))

    // Multi-probe cell ranking by the ball-tree optimistic bound
    // max(0, ‖q−c‖ − r_cell): a cell's nearest member can be r_cell
    // closer than its centroid, so wide cells deserve earlier probes
    // than bare ‖q−c‖ grants them. r_cell² = the ceil(0.9·n)-th
    // smallest member d2 (rmax is hostage to one outlier) — an EXACT
    // rank-select over integer distances (portable; the r8
    // 90th-percentile interpolation was engine-specific float math).
    // The rank-select sorts (cell, d2) pairs — slim rows — partitioned
    // by cell; at true 100 TB scale swap the window for a per-cell
    // spill-aware selection (the SpillablePercentile shape) — the
    // STATISTIC is already scale-free (numCells values out).
    // sqrt of an integer-valued double is one correctly-rounded IEEE
    // op, so bound values — and the probe ORDER — replay exactly;
    // ties break (bound, d2q, cell), a total portable order.
    val centDf = corpus.sparkSession
      .createDataFrame((0 until numCells).map(j => (j, cents(j).toSeq)))
      .toDF("cell", "cent")
    val withD = cellsFit.join(broadcast(centDf), "cell")
      .select(col("cell"), exprs.dist2_q(col("qv_q"), col("cent")).as("d2"))
    // n per cell comes from an unbounded-frame count over the SAME
    // window partition the rank-select sorts — one corpus pass instead
    // of a separate groupBy pass (each pass re-runs the unstaged
    // quantize+argmin scan; identical statistic either way)
    val wr = Window.partitionBy(col("cell")).orderBy(col("d2").asc)
    val wn = Window.partitionBy(col("cell"))
    val radii: Map[Int, Long] = withD
      .withColumn("rn", row_number().over(wr))
      .withColumn("n", count(lit(1)).over(wn))
      .filter(col("rn") === expr("(n * 9 + 9) div 10")) // = ceil(0.9·n)
      .select(col("cell"), col("d2"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    (cents, radii)
    }
    val cents = fitRes._1
    val radii = fitRes._2
    val dimA = cents(0).length
    val cells = vecs.withColumn("cell",
      exprs.argmin_cell(col("qv_q"), cents.flatten, numCells, dimA))

    val centArr = array((0 until numCells).map { i =>
      struct(lit(i).as("cell"), lit(radii.getOrElse(i, 0L)).as("r2"),
        array(cents(i).map(lit): _*).as("cent"))
    }: _*)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("bound").asc, col("d2q").asc, col("cell").asc)
    val probes = queries
      .select(col(queryId).as("query_id"), col(queryVec).as("qv"))
      .withColumn("qv_q", quantize20(col("qv")))
      .withColumn("c", explode(centArr))
      .select(col("query_id"), col("qv"), col("c.cell").as("cell"),
        exprs.dist2_q(col("qv_q"), col("c.cent")).as("d2q"),
        col("c.r2").as("r2"))
      .withColumn("bound", greatest(lit(0.0),
        sqrt(col("d2q").cast("double")) - sqrt(col("r2").cast("double"))))
      .withColumn("rn", row_number().over(w))
      .select(col("query_id"), col("qv"), col("cell"), col("rn"))
    (cells.select(col("neighbor_id"), col("cv"), col("cell")), probes)
  }

  def ivfTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, numCells: Int = 16, nProbe: Int = 4, seed: Long = 42L,
      fitFraction: Double = 1.0,
      rerankShortlist: Int = 0, sketchDim: Int = 16, dim: Int = 64,
      fitMaxIter: Int = 2): DataFrame = {
    val (cells, ranked) = ivfCellsAndRankedProbes(corpus, corpusId, corpusVec,
      queries, queryId, queryVec, numCells, fitFraction, fitMaxIter)
    val probes = ranked.filter(col("rn") <= nProbe)
      .select(col("query_id"), col("qv"), col("cell"))

    if (rerankShortlist <= 0) {
      val candidates = cells.join(broadcast(probes), Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
      val scored = candidates.select(col("query_id"), col("neighbor_id"),
        round(exprs.cosine_f(col("cv"), col("qv")), 9).as("cosine"))
      topKPerQuery(scored, k)
    } else {
      // stage 1 — coarse: sketch cosine per candidate, map-side bounded
      // heap keeps only the per-query shortlist (ids, no vectors).
      // r9: integer Rademacher sketch + exact-integer cosine (both
      // DuckDB-replayable — see HashKernels.radSketchQ) replacing the
      // float JL sketch; same accuracy class (Achlioptas 2003), and the
      // shortlist CONTENTS become part of the q_ann_ivf oracle.
      // r11: sketches are computed BEFORE the candidate join — once per
      // corpus row on the stream side and once per probe row inside the
      // broadcast — instead of per (query, candidate) pair; a probed row
      // matches ~|queries|·nProbe/numCells probes, so the per-pair
      // recompute was the dominant scoring cost at the 2M-vector probe
      // (sketchDim·dim madds per sketch vs sketchDim per pair-cosine).
      // Identical values → the q_ann_ivf oracle is untouched.
      val probesSk = probes.withColumn("qsk",
        exprs.rad_sketch_q(col("qv"), sketchDim, dim, seed + 7001))
      val pre = cells
        .withColumn("csk", exprs.rad_sketch_q(col("cv"), sketchDim, dim, seed + 7001))
        .join(broadcast(probesSk), Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(exprs.cosine_q(col("csk"), col("qsk")), 9).as("cosine"))
      val shortlist = topKPerQuery(pre, rerankShortlist)
        .select(col("query_id"), col("neighbor_id"))
      // stage 2 — exact: re-join vectors for the shortlist only
      val scored = shortlist
        .join(corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv")),
          "neighbor_id")
        .join(broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"))),
          "query_id")
        .select(col("query_id"), col("neighbor_id"),
          round(exprs.cosine_f(col("cv"), col("qv")), 9).as("cosine"))
      topKPerQuery(scored, k)
    }
  }

  /** Recall-vs-nProbe SWEEP from one assignment + one scoring pass: the
    * approximate top-k for EVERY probe depth in `nProbes`, derived from
    * a single candidate set scored at the deepest probe. Correct
    * because probing is a prefix property — the candidate set at probe
    * depth n is exactly the rows whose cell rank ≤ n — so one exact
    * cosine pass over the max-depth candidates plus a per-(depth,
    * query) top-k reproduces each fixed-depth search bit-for-bit
    * (same rounding, same tiebreak). The per-row depth fan-out is a
    * higher-order array filter (no join, stays codegen); the scored
    * frame is queries × max-depth-coverage, never corpus².
    *
    * Returns `(n_probe, query_id, rank, neighbor_id, cosine)` — the
    * operating-point calibration curve for [[ivfTopK]].
    */
  def ivfRecallSweep(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, numCells: Int = 16, nProbes: Seq[Int] = Seq(2, 4, 8, 12, 16),
      fitFraction: Double = 1.0,
      fitMaxIter: Int = 2): DataFrame = {
    require(nProbes.nonEmpty && nProbes.forall(n => n >= 1 && n <= numCells))
    val grid = nProbes.distinct.sorted
    val (cells, ranked) = ivfCellsAndRankedProbes(corpus, corpusId, corpusVec,
      queries, queryId, queryVec, numCells, fitFraction, fitMaxIter)
    val cand = cells
      .join(broadcast(ranked.filter(col("rn") <= grid.max)), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("rn"), col("neighbor_id"),
        round(exprs.cosine_f(col("cv"), col("qv")), 9).as("cosine"))
    // a candidate in the rank-rn cell belongs to every depth ≥ rn
    val gridArr = array(grid.map(lit): _*)
    val swept = cand.withColumn("n_probe",
      explode(filter(gridArr, n => n >= col("rn"))))
    val wk = Window.partitionBy(col("n_probe"), col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    swept.withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .select(col("n_probe"), col("query_id"), col("rank"),
        col("neighbor_id"), col("cosine"))
  }

  /** PORTABLE PQ codebook fit (r9): one [[Lloyd.fit]] per subspace over
    * that subspace's slice of every row — subspaces are independent in
    * init, assignment and update — with no RNG anywhere, so every code,
    * ADC score and shortlist the codebook produces can be replayed
    * bit-for-bit by another engine (the q_ann_pq / q_ann_ivfpq DuckDB
    * oracles do, via AnnQueries' AnnPq… and AnnIvfPq… CTEs).
    * Components are quantNorm20 integers (raw fits) or exact integer
    * residuals of them (IVF+PQ residual fits, [[Lloyd.residuals]]);
    * `rows` arrive in the init order of [[collectFitRowsQ]], so
    * codeword (s, j) starts as the subspace-s slice of row j.
    *
    * Driver-bounded by design (like the IVF coarse-quantizer fit): PQ
    * codebooks are trained on a small sample even at 100 TB (Faiss
    * trains on ~100k-1M vectors regardless of corpus size); the caller
    * controls the sample via `fitFraction`, and [[capFitSample]]
    * bounds the collect regardless.
    *
    * Returns the flat row-major codebook `[(s*k + j)*dsub + d]`.
    */
  private[graft] def fitPqCodebookQ(
      rows: Array[Array[Long]], m: Int, k: Int, iters: Int): Array[Long] = {
    require(rows.length >= k,
      s"PQ fit sample ${rows.length} < codebookSize $k — raise fitFraction")
    val dim = rows.head.length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    (0 until m).toArray.flatMap { s =>
      Lloyd.fit(rows.map(java.util.Arrays.copyOfRange(_, s * dsub, (s + 1) * dsub)),
        k, iters).flatten
    }
  }

  /** Portable Bernoulli fit draw: keep rows whose md5(tag+":"+id) hex
    * prefix is below round(fitFraction·256) as two hex digits — a
    * content-stable 1/256-granular draw any engine can replay (the
    * IVF front half's r9 contract, shared here).
    */
  private def md5FitDraw(
      vecs: DataFrame, idCol: String, fitFraction: Double, tag: String): DataFrame =
    if (fitFraction >= 1.0) vecs
    else {
      // clamp to 0xff: round(fitFraction·256) = 256 for fractions in
      // [255.5/256, 1.0) would format as the 3-char '100' and the
      // lexicographic 2-char-prefix compare would then keep only ~1/16
      // of rows (r9 advisory) — 'ff' keeps 255/256, the closest
      // representable draw below 1.0 at this granularity
      val thr = f"${math.min(255L, math.max(1L, math.round(fitFraction * 256)))}%02x"
      vecs.filter(substring(
        md5(concat(lit(tag + ":"), col(idCol).cast("string"))), 1, 2) < lit(thr))
    }

  /** Collect a fit sample's quantized vectors driver-side in
    * [[Lloyd.initOrder]] under `initTag` — the order [[Lloyd.fit]]'s
    * init consumes (the r9 cast-to-long tiebreak NPE'd on string ids).
    * The collect is bounded by [[capFitSample]] upstream.
    */
  private def collectFitRowsQ(
      sampled: DataFrame, idCol: String, nqCol: String,
      initTag: String): Array[Array[Long]] =
    sampled.select(Lloyd.initOrder(initTag, idCol) :+ col(nqCol): _*)
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getAs[scala.collection.Seq[Long]](2).toArray))
      .sortBy { case (h, id, _) => (h, id) }
      .map(_._3)

  /** Product-quantization ANN: corpus vectors stored as m-byte PQ codes
    * (32x smaller than the float vectors at the default geometry), ADC
    * scoring (m table lookups per candidate instead of dim multiplies),
    * bounded-heap shortlist, exact cosine re-rank of the shortlist only.
    *
    * This is the compressed-domain scan of a Faiss-style IndexPQ: at
    * 100 TB the dominant costs are (a) bytes read and (b) flops/row,
    * and PQ cuts both — the scan reads 8-byte codes, scores with 8
    * integer adds/row, and only queries×`rerank` rows ever touch a
    * real vector again. The codebook fit is the r9 PORTABLE contract
    * ([[fitPqCodebookQ]]: md5 draw "pqfit", md5-rank order "pqinit",
    * integer Lloyd) over [[graft.functions.HashKernels.quantNorm20]]
    * unit-sphere integers, so the whole funnel — codes, ADC ranking,
    * shortlist membership — replays bit-for-bit in DuckDB and
    * q_ann_pq / q_ann_pq_recall carry full cross-engine oracles.
    * Recall is measured in SimilaritySpec and published by
    * q_ann_pq_recall, per the repo's "an ANN ships with its recall
    * number" rule. OPERATING GUIDANCE (measured, r9 AnnScaleProbe /
    * bench_baselines/r09_ann_shortlist_scaling.json): recall tracks
    * the CORPUS FRACTION the shortlist keeps, not its absolute width —
    * a fixed `rerank` collapses at 10-100× corpus (0.89 → 0.24) while
    * ~5% of corpus holds ~0.9 across two decades at flat wall cost.
    * Size `rerank` proportionally to the corpus.
    */
  /** Flat-PQ index build: (codes(neighbor_id, codes), codebook) — the
    * searchable compressed copy of the corpus [[pqTopK]] scans, exposed
    * so other consumers (the streaming score-on-arrival path, persisted
    * index tables) reuse the identical portable fit + encode.
    */
  def buildPqIndex(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      m: Int = 8, codebookSize: Int = 16,
      fitFraction: Double = 1.0, fitIters: Int = 10): (DataFrame, Array[Long]) = {
    val vecs = corpus
      .select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv"))
      .withColumn("nq", exprs.quant_norm20(col("cv")))
    // memoized (r16): q_ann_pq and its recall query fit the identical
    // codebook — one sample collect + one driver Lloyd per session
    val cb = memoized("pqcb", Seq(vecs),
        m, codebookSize, fitFraction, fitIters) {
      val sampled = capFitSample(
        md5FitDraw(vecs, "neighbor_id", fitFraction, "pqfit"), "neighbor_id")
      val fitRows = collectFitRowsQ(sampled, "neighbor_id", "nq", "pqinit")
      require(fitRows.nonEmpty,
        s"buildPqIndex: fitFraction=$fitFraction selected zero rows to fit " +
          "the codebook on — raise fitFraction or check the corpus is non-empty")
      fitPqCodebookQ(fitRows, m, codebookSize, fitIters)
    }
    val codes = vecs.select(col("neighbor_id"),
      exprs.pq_encode_q(col("nq"), cb, m, codebookSize).as("codes"))
    (codes, cb)
  }

  def pqTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, m: Int = 8, codebookSize: Int = 16,
      fitFraction: Double = 1.0, fitIters: Int = 10, rerank: Int = 64): DataFrame = {
    require(rerank >= k, "re-rank shortlist must be at least k")
    val (codes, cb) = buildPqIndex(corpus, corpusId, corpusVec,
      m, codebookSize, fitFraction, fitIters)
    val qTables = queries.select(col(queryId).as("query_id"),
      exprs.pq_table_q(exprs.quant_norm20(col(queryVec)), cb, m, codebookSize).as("qt"))

    // integer ADC as the shortlist key: exact int64 (≤ m·2^45 ≪ 2^53,
    // so the double cast the bounded heap consumes is still exact and
    // the (score desc, id asc) order is the portable total order)
    val pre = codes.crossJoin(broadcast(qTables))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        exprs.pq_adc_score_q(col("codes"), col("qt"), codebookSize)
          .cast("double").as("cosine"))
    val shortlist = topKPerQuery(pre, rerank)
      .select(col("query_id"), col("neighbor_id"))
    val scored = shortlist
      .join(corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv")),
        "neighbor_id")
      .join(broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"))),
        "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(exprs.cosine_f(col("cv"), col("qv")), 9).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** IVF+PQ composed index build: every corpus vector becomes a
    * (id, cell, codes) row — the layout of a Faiss IndexIVFPQ inverted
    * list, as a DataFrame. `cell` is the nearest coarse centroid of
    * the quantized-normalized vector; `codes` product-quantize the
    * RESIDUAL (quantized vector − centroid), which carries ~2x less
    * variance per subspace than the raw vector, so the same codebook
    * budget quantizes finer (the reason Faiss encodes residuals).
    *
    * Both codebooks are trained driver-side on the same md5-drawn
    * sample (tag "ivfpqfit", order "ivfpqinit" — content-stable under
    * repartitioning) with the portable [[Lloyd]] contract: the coarse
    * quantizer is a [[Lloyd.fit]] over the whole
    * [[graft.functions.HashKernels.quantNorm20]] vector, the PQ
    * codebook ([[fitPqCodebookQ]]) fits the exact-integer
    * [[Lloyd.residuals]] of the SAME sample (assign cell → subtract
    * centroid, mirroring exactly what the distributed encode below
    * computes per corpus row). No
    * RNG anywhere, so cells, codes and every downstream ADC ranking
    * replay bit-for-bit cross-engine — the q_ann_ivfpq* DuckDB
    * oracles do exactly that.
    *
    * Returns (index, coarseCb, pqCb): the index DataFrame is writable
    * as a parquet table partitioned by `cell` (the PQ-coded storage
    * table — at 100 TB the searchable copy of the corpus is m bytes +
    * one int per vector, ~32x smaller than the float vectors), and
    * searches prune to probed cells at scan time.
    */
  def buildIvfPqIndex(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      numCells: Int = 16, m: Int = 8, codebookSize: Int = 16,
      fitFraction: Double = 1.0, fitIters: Int = 10):
      (DataFrame, Array[Long], Array[Long]) = {
    // the fit sample is collected DRIVER-SIDE; capFitSample intrinsically
    // bounds it to ~MaxFitSample vectors, so the default fitFraction=1.0
    // is driver-safe at any corpus size (fitFraction below the cap still
    // shrinks the fit further when callers want a cheaper build)
    val vecs = corpus
      .select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv"))
      .withColumn("nq", exprs.quant_norm20(col("cv")))
    // memoized (r16): the four ivfpq queries (topk, recall, sweep,
    // grid) fit the identical codebook PAIR — one sample collect + two
    // driver Lloyds per session instead of four of each
    val cbs =
      memoized[(Array[Long], Array[Long])]("ivfpqcb", Seq(vecs),
          numCells, m, codebookSize, fitFraction, fitIters) {
    val sampled = capFitSample(
      md5FitDraw(vecs, "neighbor_id", fitFraction, "ivfpqfit"), "neighbor_id")
    val fitRows = collectFitRowsQ(sampled, "neighbor_id", "nq", "ivfpqinit")
    require(fitRows.nonEmpty,
      s"buildIvfPqIndex: fitFraction=$fitFraction selected zero rows to fit " +
        "the codebooks on — raise fitFraction or check the corpus is non-empty")
    // coarse quantizer: cells over quantized-normalized vectors
    // (cosine geometry); the PQ codebook is trained on the residuals
    // of the SAME sample, mirroring exactly what the distributed
    // encode below computes per corpus row
    val coarse = Lloyd.fit(fitRows, numCells, fitIters)
    (coarse.flatten,
      fitPqCodebookQ(Lloyd.residuals(fitRows, coarse), m, codebookSize, fitIters))
    }
    val coarseCb = cbs._1
    val pqCb = cbs._2
    val dim = coarseCb.length / numCells
    // residual = nq − centroid as an exact integer subtraction against
    // the broadcast numCells-row centroid frame. sub_q, not
    // zip_with(_-_): every HigherOrderFunction is CodegenFallback, so
    // the zip_with form was interpreted per corpus row (r11 probe)
    val centDf = corpus.sparkSession
      .createDataFrame((0 until numCells).map { j =>
        (j, (0 until dim).map(d => coarseCb(j * dim + d)))
      })
      .toDF("cell", "cent")
    val index = vecs
      .withColumn("cell", exprs.argmin_cell(col("nq"), coarseCb, numCells, dim))
      .join(broadcast(centDf), "cell")
      .select(col("neighbor_id"), col("cell"),
        exprs.pq_encode_q(
          exprs.sub_q(col("nq"), col("cent")),
          pqCb, m, codebookSize).as("codes"))
    (index, coarseCb, pqCb)
  }

  /** IVF+PQ search — the Faiss IndexIVFPQ composition: probe the
    * `nProbe` nearest cells, score ONLY probed candidates in the
    * compressed domain, exact-cosine re-rank the per-query shortlist.
    *
    * ADC over residual codes decomposes the inner product:
    *   dot(nq, v̂) = dot(nq, cent_cell) + dot(nq, r̂)
    * and dot(nq, r̂) = Σ_s table[s][code_s] where the table holds
    * nq-subvector·codeword products — so ONE query table serves every
    * probed cell (the cell-dependent part is the dot(nq, cent) scalar
    * already computed when ranking cells). Per candidate the scan costs
    * m integer adds over an m-byte code: at 100 TB both scan bytes and
    * flops drop ~32x vs exact scoring, and only queries×rerank rows
    * ever touch a real vector again. All of it exact int64 (r9), so
    * the q_ann_ivfpq* oracles replay the whole funnel.
    *
    * Recall is measured in SimilaritySpec and published by
    * q_ann_ivfpq_recall (an ANN ships with its recall number). Like
    * [[pqTopK]], `rerank` is a corpus-fraction knob (measured r9:
    * fixed 128 → 0.92 at 2k vecs but 0.18 at 200k; ~4% of corpus
    * holds ~0.9 at any scale) — size it proportionally, or re-read
    * the q_ann_ivfpq_grid surface at the deployment's scale.
    */
  /** Per-(query, probed cell) frame: (query_id, qv, qt, cell, dot_qc) —
    * cells ranked by the exact INTEGER squared L2 distance of the
    * quantized query to the centroid (ties to the smallest cell — a
    * portable total order), carrying the exact-integer dot(nq, cent)
    * scalar (the cell-dependent half of the residual ADC score) and
    * the ONE integer pq table that serves all cells.
    */
  private def ivfPqProbes(
      queries: DataFrame, queryId: String, queryVec: String,
      coarseCb: Array[Long], pqCb: Array[Long],
      numCells: Int, nProbe: Int, m: Int, codebookSize: Int): DataFrame = {
    val dim = coarseCb.length / numCells
    val centArr = array((0 until numCells).map { i =>
      struct(lit(i).as("cell"),
        array((0 until dim).map(d => lit(coarseCb(i * dim + d))): _*).as("cent"))
    }: _*)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col("cell").asc)
    queries
      .select(col(queryId).as("query_id"), col(queryVec).as("qv"))
      .withColumn("nq", exprs.quant_norm20(col("qv")))
      .withColumn("qt", exprs.pq_table_q(col("nq"), pqCb, m, codebookSize))
      .withColumn("c", explode(centArr))
      .select(col("query_id"), col("qv"), col("qt"), col("c.cell").as("cell"),
        exprs.dist2_q(col("nq"), col("c.cent")).as("d2"),
        exprs.dot_q(col("nq"), col("c.cent")).as("dot_qc"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nProbe)
      // rn (the probe order) rides along so sweep callers can slice
      // the frame by depth; fixed-depth callers ignore it
      .select(col("query_id"), col("qv"), col("qt"), col("cell"),
        col("dot_qc"), col("rn"))
  }

  /** ADC scan + shortlist + exact re-rank over a prepared probe frame. */
  private def ivfPqScan(
      index: DataFrame, probes: DataFrame,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, codebookSize: Int, rerank: Int): DataFrame = {
    // exact int64 ADC: dot_qc ≤ 64·2^40 and the table sum ≤ m·2^45, so
    // the total stays ≪ 2^53 — the double cast the bounded heap
    // consumes is exact and (score desc, id asc) is a portable order
    val pre = index.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (col("dot_qc") +
          exprs.pq_adc_score_q(col("codes"), col("qt"), codebookSize))
          .cast("double").as("cosine"))
    val shortlist = topKPerQuery(pre, rerank)
      .select(col("query_id"), col("neighbor_id"))
    val scored = shortlist
      .join(corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv")),
        "neighbor_id")
      .join(broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"))),
        "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(exprs.cosine_f(col("cv"), col("qv")), 9).as("cosine"))
    topKPerQuery(scored, k)
  }

  def ivfPqTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, numCells: Int = 16, nProbe: Int = 4, m: Int = 8,
      codebookSize: Int = 16,
      fitFraction: Double = 1.0, rerank: Int = 64): DataFrame = {
    require(rerank >= k, "re-rank shortlist must be at least k")
    val (index, coarseCb, pqCb) =
      buildIvfPqIndex(corpus, corpusId, corpusVec, numCells, m, codebookSize,
        fitFraction)
    val probes = ivfPqProbes(queries, queryId, queryVec, coarseCb, pqCb,
      numCells, nProbe, m, codebookSize)
    ivfPqScan(index, probes, corpus, corpusId, corpusVec,
      queries, queryId, queryVec, k, codebookSize, rerank)
  }

  /** Recall-vs-nProbe sweep for [[ivfPqTopK]], one ADC pass: the probe
    * frame is computed once at the deepest grid point with its probe
    * order kept, each candidate's ADC score is computed once, and the
    * per-depth shortlist + exact re-rank are derived by slicing on
    * cell rank (probe depth is a prefix property, as in
    * [[ivfRecallSweep]]). The exact re-rank joins vectors once for the
    * DISTINCT (query, neighbor) shortlist union — depths share
    * re-ranked scores, they differ only in which candidates qualify.
    *
    * Returns `(n_probe, query_id, rank, neighbor_id, cosine)`.
    */
  def ivfPqRecallSweep(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, numCells: Int = 16, nProbes: Seq[Int] = Seq(2, 4, 8, 12, 16),
      m: Int = 8, codebookSize: Int = 16,
      fitFraction: Double = 1.0, rerank: Int = 64): DataFrame =
    ivfPqGridSweep(corpus, corpusId, corpusVec, queries, queryId, queryVec,
      k, numCells, nProbes, m, codebookSize, fitFraction, Seq(rerank))
      .select(col("n_probe"), col("query_id"), col("rank"),
        col("neighbor_id"), col("cosine"))

  /** The full 2-D OPERATING SURFACE of [[ivfPqTopK]]: recall-relevant
    * top-k results for every (nProbe, rerank) grid point, still from
    * ONE ADC pass. Probe depth is a prefix property of the cell
    * ranking ([[ivfPqRecallSweep]]) — and rerank depth is a prefix
    * property of the per-(depth, query) ADC ranking, so a candidate
    * belongs to shortlist(nProbe = d, rerank = r) iff its cell rank
    * ≤ d and its ADC rank at depth d ≤ r. Both grids are derived by
    * exploding rank-qualifying grid points over the SAME scored
    * candidate set; exact cosines are joined once for the distinct
    * (query, neighbor) union across the whole grid.
    *
    * This is how the (nProbe × rerank) → recall surface a deployment
    * tunes against gets published without grid² passes: the scan cost
    * is the deepest grid point's, everything else is bookkeeping over
    * funnel-sized frames (≤ queries × rerank_max × |grid| rows).
    *
    * Returns `(n_probe, rerank, query_id, rank, neighbor_id, cosine)`.
    */
  def ivfPqGridSweep(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, numCells: Int = 16, nProbes: Seq[Int] = Seq(2, 4, 8, 12, 16),
      m: Int = 8, codebookSize: Int = 16,
      fitFraction: Double = 1.0,
      reranks: Seq[Int] = Seq(32, 64, 96, 128)): DataFrame = {
    require(reranks.nonEmpty && reranks.forall(_ >= k),
      "every re-rank shortlist must be at least k")
    require(nProbes.nonEmpty && nProbes.forall(n => n >= 1 && n <= numCells))
    val grid = nProbes.distinct.sorted
    val rGrid = reranks.distinct.sorted
    val (index, coarseCb, pqCb) =
      buildIvfPqIndex(corpus, corpusId, corpusVec, numCells, m, codebookSize,
        fitFraction)
    val probes = ivfPqProbes(queries, queryId, queryVec, coarseCb, pqCb,
      numCells, grid.max, m, codebookSize)
    // exact int64 ADC ranking key — no rounding needed: the integer is
    // the portable total order itself (ties break on neighbor_id)
    val pre = index.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("rn"), col("neighbor_id"),
        (col("dot_qc") +
          exprs.pq_adc_score_q(col("codes"), col("qt"), codebookSize)).as("adc"))
    val gridArr = array(grid.map(lit): _*)
    val swept = pre.withColumn("n_probe",
      explode(filter(gridArr, n => n >= col("rn"))))
    val ws = Window.partitionBy(col("n_probe"), col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id").asc)
    val rGridArr = array(rGrid.map(lit): _*)
    // sr ≤ rerank ⇒ member of that rerank's shortlist at this depth
    val shortlists = swept.withColumn("sr", row_number().over(ws))
      .filter(col("sr") <= rGrid.max)
      .withColumn("rerank", explode(filter(rGridArr, r => r >= col("sr"))))
      .select(col("n_probe"), col("rerank"), col("query_id"), col("neighbor_id"))
    val exact = shortlists.select(col("query_id"), col("neighbor_id")).distinct()
      .join(corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv")),
        "neighbor_id")
      .join(broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"))),
        "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(exprs.cosine_f(col("cv"), col("qv")), 9).as("cosine"))
    val wk = Window.partitionBy(col("n_probe"), col("rerank"), col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    shortlists.join(exact, Seq("query_id", "neighbor_id"))
      .withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .select(col("n_probe"), col("rerank"), col("query_id"), col("rank"),
        col("neighbor_id"), col("cosine"))
  }

  /** IVF+PQ search against the PERSISTED cell-partitioned index table
    * (written by [[buildIvfPqIndex]] + `partitionBy("cell")`): the union
    * of probed cells is collected from the tiny probe frame and planted
    * as a LITERAL `cell IN (...)` filter, so the parquet scan is
    * partition-pruned at PLANNING time — the search reads
    * ~|probed cells|/numCells of the index from disk, the on-disk
    * analog of walking only the probed inverted lists. (A join against
    * the probe frame would at best prune at runtime via DPP; the
    * literal is strictly stronger and costs one driver action over a
    * queries×nProbe-row frame.)
    */
  def ivfPqSearchStored(
      index: DataFrame,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, coarseCb: Array[Long], pqCb: Array[Long],
      numCells: Int = 16, nProbe: Int = 4, m: Int = 8,
      codebookSize: Int = 16, rerank: Int = 64): DataFrame = {
    require(rerank >= k, "re-rank shortlist must be at least k")
    // staged: the cell collect (which fills it) and the ADC join read it
    val probes = Staging.stage(ivfPqProbes(queries, queryId, queryVec, coarseCb, pqCb,
      numCells, nProbe, m, codebookSize))
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted // ≤ numCells values — driver-safe
    val pruned = index.filter(col("cell").isin(cells.map(_.asInstanceOf[Any]): _*))
    ivfPqScan(pruned, probes, corpus, corpusId, corpusVec,
      queries, queryId, queryVec, k, codebookSize, rerank)
  }

  /** Retrieval evaluation metrics — the harness that makes any ranked
    * retrieval result (ANN, BM25, hybrid, maxsim) comparable: per
    * query, reciprocal rank of the first relevant hit (MRR),
    * nDCG@k, and recall@k against a relevance set.
    *
    * PORTABILITY: nDCG's log2 discounts are the only transcendental —
    * they are precomputed ONCE driver-side as integer nano-units
    * (round(1e9/log2(rank+1))) and the SAME literal table is embedded
    * in the engine expression and interpolated into the DuckDB oracle
    * text, so every downstream aggregate is an exact integer sum (the
    * integer-cents discipline; binary relevance, so IDCG@k is the
    * prefix sum of the same table). Output is *_nano columns.
    *
    * Shape: one equi-join of the run against the qrels on (query, doc)
    * — both funnel-sized (queries×k rows) — then a per-query
    * aggregation. Corpus size never appears; at 100 TB this costs what
    * the run frame costs.
    */
  def retrievalMetrics(
      run: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    // discount table, shared verbatim with the oracle via discNano
    val disc = discNano(k)
    val discCol = array(disc.map(lit): _*)
    val idcgAt = disc.scanLeft(0L)(_ + _).drop(1) // idcg for |rel| = 1..k
    val idcgCol = array(idcgAt.map(lit): _*)
    val joined = run
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .filter(col("rank") <= k)
      .join(qrels.select(col("query_id"), col("neighbor_id"), lit(1L).as("rel")),
        Seq("query_id", "neighbor_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
    val nRel = qrels.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_rel"))
    joined
      .groupBy(col("query_id"))
      .agg(
        max(when(col("rel") === 1L,
          // rr_nano = round(1e9 / rank): exact for every rank ≤ k
          round(lit(1e9) / col("rank").cast("double")).cast("long"))
          .otherwise(0L)).as("mrr_nano"),
        sum(when(col("rel") === 1L,
          element_at(discCol, col("rank").cast("int"))).otherwise(0L))
          .as("dcg_nano"),
        sum(col("rel")).as("n_hit"))
      // INNER join (r10, r9 advisory): a query present in the run but
      // absent from the qrels has no defined recall/nDCG denominator —
      // drop it, exactly as the q_retrieval_metrics oracle does, rather
      // than emit null metrics from a null division
      .join(broadcast(nRel), Seq("query_id"), "inner")
      .select(col("query_id"), col("mrr_nano"),
        // ndcg = dcg / idcg@min(n_rel, k) in nano-units: one exact
        // integer division of nano sums scaled back up — computed as
        // round(1e9·dcg/idcg), a single rounded division of exact ints
        round(col("dcg_nano").cast("double") * lit(1e9)
          / element_at(idcgCol, least(col("n_rel"), lit(k.toLong)).cast("int"))
            .cast("double")).cast("long").as("ndcg_nano"),
        round(col("n_hit").cast("double") * lit(1e9)
          / col("n_rel").cast("double")).cast("long").as("recall_nano"))
  }

  /** The shared nDCG discount table: disc(rank) = round(1e9/log2(rank+1))
    * for rank = 1..k. Driver-computed once; the engine embeds it as
    * literals and the oracle interpolates the SAME values, so log2
    * never runs inside either engine's query.
    */
  private[graft] def discNano(k: Int): Seq[Long] =
    (1 to k).map(r => math.round(1e9 / (math.log(r + 1.0) / math.log(2.0))))

  /** Contrastive training-pair construction — the DPR/SimCSE data
    * recipe (Karpukhin et al., EMNLP 2020, public): for each query,
    * ONE positive (its nearest neighbor), `kHard` hard negatives (the
    * next-ranked non-positives — the informative ones a contrastive
    * loss actually learns from), and `nRandom` seeded random negatives
    * drawn OUTSIDE the top neighborhood, so near-duplicates of the
    * positive can't be mislabeled negative (the classic false-negative
    * trap). Random draws rank by md5("rnd:"+query+":"+cand) —
    * content-stable under any partitioning and replayable by the
    * DuckDB oracle; every pair carries its exact cosine in integer
    * nano-units.
    *
    * Shape: the top-(1+kHard) block is the bounded-heap exact top-k;
    * the random block is another bounded heap over the md5 score, so
    * the shuffle carries tasks×queries×n tiny structs — never the
    * queries×corpus matrix. At 100 TB swap the exact top block for an
    * ANN shortlist (same contract as [[maxSimTopK]]'s re-rank note);
    * mining stays funnel-shaped either way.
    *
    * Returns (query_id, role ∈ {positive, hard_neg, rand_neg},
    * rank-within-role, neighbor_id, cos_nano).
    */
  def contrastivePairs(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      kHard: Int, nRandom: Int): DataFrame = {
    require(kHard >= 1 && nRandom >= 1)
    // queries×(1+kHard) rows, but TWO consumers (the labeled block and
    // the random block's anti-join); unstaged, each re-ran the full
    // brute-force corpus scan — and the anti-join consumer's
    // column-pruned copy canonicalizes differently, so exchange reuse
    // never fires (8 embeddings scans in the r17 before-plan, 4 after).
    // Staging the tiny block = one exact-top-k pass.
    val top = Staging.stage(bruteForceTopK(corpus, corpusId, corpusVec,
      queries, queryId, queryVec, k = 1 + kHard))
    val labeled = top.select(col("query_id"),
      when(col("rank") === 1, lit("positive")).otherwise(lit("hard_neg")).as("role"),
      col("rank").cast("long").as("rank"), col("neighbor_id"),
      round(col("cosine") * lit(1e9)).cast("long").as("cos_nano"))
    // candidates outside the top block, ranked by the seeded md5 draw:
    // first 12 hex digits = 48 bits → the negated long is an exact
    // double, so the bounded heap's (score desc, id asc) order IS
    // (md5 asc, id asc) — the portable draw order
    val rndScore = -conv(substring(
        md5(concat(lit("rnd:"), col("query_id").cast("string"),
          lit(":"), col("neighbor_id").cast("string"))), 1, 12), 16, 10)
      .cast("long").cast("double")
    val outside = corpus.select(col(corpusId).as("neighbor_id"))
      .crossJoin(broadcast(queries.select(col(queryId).as("query_id"))))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(top.select("query_id", "neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      .select(col("query_id"), col("neighbor_id"), rndScore.as("cosine"))
    val rand = topKPerQuery(outside, nRandom)
      .select(col("query_id"), lit("rand_neg").as("role"),
        col("rank").cast("long").as("rank"), col("neighbor_id"))
      .join(corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv")),
        "neighbor_id")
      .join(broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"))),
        "query_id")
      .select(col("query_id"), col("role"), col("rank"), col("neighbor_id"),
        round(exprs.cosine_f(col("cv"), col("qv")) * lit(1e9)).cast("long")
          .as("cos_nano"))
    labeled.unionByName(rand)
  }

  /** ColBERT-style late-interaction (MaxSim) retrieval: documents and
    * queries are SETS of token vectors and
    * score(Q, D) = Σ_{q ∈ Q} max_{d ∈ D} cos(q, d) — each query token
    * finds its best-matching document token, so phrase-level evidence
    * survives pooling (the reason late interaction beats single-vector
    * retrieval on precision). Khattab & Zaharia, SIGIR 2020 (public).
    *
    * Shape: query tokens broadcast against the corpus token scan; the
    * per-(query token, doc) max and the per-(query, doc) sum are both
    * partial-aggregable shuffles, so the full token×token matrix never
    * exists past the map side. Scores ride as integer NANO-units
    * (round(cos·1e9) — the integer-cents discipline at cosine scale):
    * max and sum are then exact and partition-order independent, and
    * the whole operator replays in DuckDB (q_maxsim's oracle).
    *
    * At 100 TB maxsim is the RE-RANK stage, not the scan: feed
    * `docVecs` with an ANN-shortlisted candidate frame (lshTopK /
    * ivfTopK over pooled doc vectors — see [[meanPoolByGroup]]) instead
    * of the whole corpus; the operator is agnostic to which.
    *
    * Returns (query_doc, rank, doc_id, score_nano), top `k` docs per
    * query document by (score DESC, doc_id) — a total portable order.
    */
  def maxSimTopK(
      docVecs: DataFrame, docCol: String, vecCol: String,
      queryVecs: DataFrame, queryDocCol: String, queryPosCol: String,
      queryVecCol: String, k: Int): DataFrame = {
    val pairs = docVecs
      .select(col(docCol).as("doc_id"), col(vecCol).as("dv"))
      .crossJoin(broadcast(queryVecs.select(
        col(queryDocCol).as("query_doc"),
        col(queryPosCol).as("q_tok"),
        col(queryVecCol).as("qv"))))
      .filter(col("doc_id") =!= col("query_doc"))
      .select(col("query_doc"), col("q_tok"), col("doc_id"),
        round(exprs.cosine_f(col("dv"), col("qv")) * lit(1e9)).cast("long")
          .as("cos_nano"))
    val perToken = pairs
      .groupBy(col("query_doc"), col("q_tok"), col("doc_id"))
      .agg(max(col("cos_nano")).as("best_nano"))
    val scored = perToken
      .groupBy(col("query_doc"), col("doc_id"))
      .agg(sum(col("best_nano")).as("score_nano"))
    // |Q| ≤ dozens of tokens ⇒ score ≤ |Q|·1e9 ≪ 2^53: the double cast
    // the bounded heap consumes is exact
    topKPerQuery(scored.select(
        col("query_doc").as("query_id"), col("doc_id").as("neighbor_id"),
        col("score_nano").cast("double").as("cosine")), k)
      .select(col("query_id").as("query_doc"), col("rank"),
        col("neighbor_id").as("doc_id"),
        col("cosine").cast("long").as("score_nano"))
  }

  /** Per-group mean pooling of an embedding column — the centroid
    * computation behind class prototypes, cluster summaries and
    * multi-vector document pooling.
    *
    * Shape: posexplode to (group, position, component) rows, one
    * partial-aggregated shuffle on (group, position). Components are
    * summed as exact micro-units (`round(x·1e6)` longs) so the result
    * is bit-identical under any partitioning — a float sum would drift
    * with aggregation order on a real cluster.
    *
    * Output is long-form (group, pos, mean) — `collect_list` it back
    * into vectors when needed (kept long-form here so the cross-engine
    * oracle can compare rows directly).
    */
  def meanPoolByGroup(
      embs: DataFrame, groupCol: String, vecCol: String): DataFrame =
    embs
      .select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col(groupCol), col("pos"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("x") * 1e6).cast("long")).as("sum_micro"))
      // NO rounding on the mean: the double division of exact integer
      // sums is already bit-identical in any IEEE engine, while a
      // round(_, 9) at a decimal tie boundary is engine-dependent
      // (BigDecimal half-up vs scaled-double rounding disagree there)
      .select(col(groupCol), col("pos").cast("long").as("pos"),
        col("n"),
        (col("sum_micro").cast("double") / 1e6 / col("n")).as("mean"))

  /** Bounded-heap top-k per query via [[graft.functions.TopKByScore]].
    *
    * A `Window.partitionBy(query_id)` approach would exchange ALL scored
    * rows (N×Q) and funnel each query into one reducer. The typed
    * aggregate instead runs map-side partial aggregation: every task
    * keeps a k-entry heap per query, so the single exchange carries at
    * most tasks×queries×k tiny (id, score) structs and the reducer merges
    * heaps — O(k) state per query, no skew wall, no full shuffle.
    * The (score desc, id asc) ordering is total, so the result is
    * deterministic under any partitioning.
    */
  private[graft] def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore.agg(col("cosine"), col("neighbor_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"),
        col("e.id").as("neighbor_id"),
        col("e.score").as("cosine"),
        (col("pos") + 1).as("rank"))
}
