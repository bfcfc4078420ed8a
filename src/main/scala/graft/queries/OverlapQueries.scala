package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.sources.Tables

/** Overlap beyond whole-document near-dups: shared substrings,
  * containment, benchmark contamination, the exact set-similarity join,
  * and embedding-space near-dup and semantic dedup. */
object OverlapQueries {
  lazy val defs: Seq[QueryDef] = Seq(
    // E128: SUBSTRING-level exact dedup — longest verified shared
    // substring (≥ 40 chars) per document pair, via hashed 40-gram
    // diagonal runs (the Spark-plan analog of suffix-array duplicate
    // detection; see Dedup.sharedSubstringSpans). Catches embedded/
    // quoted duplication that whole-doc fingerprints and set-Jaccard
    // under-report.
    QueryDef("q_substring_dup", (s, dir) =>
      // session-shared span pass (r16): containment and the minLen
      // sweep consume the same base — built once per snapshot
      graft.ops.PairFunnel.sharedSpans(Tables.documents(s, dir), "text",
          "doc_id", dir, minLen = 40)
        .select(col("id_a"), col("id_b"), col("max_shared_len")),
      // substring dedup: the oracle joins ACTUAL 40-char substrings where
      // Spark joins 8-byte hashes and then verifies the maximal spans —
      // identical pair set and lengths (verification makes collisions
      // impossible to surface)
      Some("""WITH g AS (
        |  SELECT doc_id, i, substr(text, i, 40) AS s
        |  FROM documents, LATERAL (SELECT unnest(range(1, length(text) - 38)) AS i)
        |  WHERE length(text) >= 40),
        |m AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, a.i AS pa, b.i AS pb
        |  FROM g a JOIN g b ON a.s = b.s AND a.doc_id < b.doc_id),
        |isl AS (
        |  SELECT ia, ib, pa - pb AS d, pa,
        |         pa - ROW_NUMBER() OVER (PARTITION BY ia, ib, pa - pb ORDER BY pa) AS grp
        |  FROM m),
        |runs AS (
        |  SELECT ia, ib, CAST(count(*) + 39 AS BIGINT) AS len
        |  FROM isl GROUP BY ia, ib, d, grp)
        |SELECT ia AS id_a, ib AS id_b, max(len) AS max_shared_len
        |FROM runs GROUP BY 1, 2""".stripMargin)),

    // E140: exact containment — pairs where the verified longest shared
    // span covers the WHOLE shorter document (doc-inside-doc: quoted
    // articles, mirrored pages, concatenated shards). Derived from the
    // E128 span pass + a length join; container = the longer doc
    // (min id on exact-duplicate ties). The removal policy differs
    // from near-dup dedup: the contained doc carries zero novel bytes.
    QueryDef("q_containment", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val lens = docs.select(col("doc_id"), length(col("text")).as("len"))
      graft.ops.PairFunnel.sharedSpans(docs, "text", "doc_id", dir, minLen = 40)
        .join(lens.select(col("doc_id").as("id_a"), col("len").as("len_a")), "id_a")
        .join(lens.select(col("doc_id").as("id_b"), col("len").as("len_b")), "id_b")
        .filter(col("max_shared_len") >= least(col("len_a"), col("len_b")))
        .select(
          when(col("len_a") > col("len_b"), col("id_a"))
            .when(col("len_b") > col("len_a"), col("id_b"))
            .otherwise(least(col("id_a"), col("id_b"))).as("container_id"),
          when(col("len_a") > col("len_b"), col("id_b"))
            .when(col("len_b") > col("len_a"), col("id_a"))
            .otherwise(greatest(col("id_a"), col("id_b"))).as("contained_id"),
          least(col("len_a"), col("len_b")).cast("long").as("contained_len"))
    },
      // same span CTE as q_substring_dup + a length join; containment =
      // the longest shared span covers the shorter doc entirely
      Some("""WITH g AS (
        |  SELECT doc_id, i, substr(text, i, 40) AS s
        |  FROM documents, LATERAL (SELECT unnest(range(1, length(text) - 38)) AS i)
        |  WHERE length(text) >= 40),
        |m AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, a.i AS pa, b.i AS pb
        |  FROM g a JOIN g b ON a.s = b.s AND a.doc_id < b.doc_id),
        |isl AS (
        |  SELECT ia, ib, pa - pb AS d, pa,
        |         pa - ROW_NUMBER() OVER (PARTITION BY ia, ib, pa - pb ORDER BY pa) AS grp
        |  FROM m),
        |runs AS (
        |  SELECT ia, ib, CAST(count(*) + 39 AS BIGINT) AS len
        |  FROM isl GROUP BY ia, ib, d, grp),
        |spans AS (SELECT ia, ib, max(len) AS msl FROM runs GROUP BY 1, 2),
        |lens AS (SELECT doc_id, length(text) AS len FROM documents)
        |SELECT CASE WHEN la.len > lb.len THEN ia
        |            WHEN lb.len > la.len THEN ib
        |            ELSE least(ia, ib) END AS container_id,
        |       CASE WHEN la.len > lb.len THEN ib
        |            WHEN lb.len > la.len THEN ia
        |            ELSE greatest(ia, ib) END AS contained_id,
        |       CAST(least(la.len, lb.len) AS BIGINT) AS contained_len
        |FROM spans
        |JOIN lens la ON la.doc_id = ia
        |JOIN lens lb ON lb.doc_id = ib
        |WHERE msl >= least(la.len, lb.len)""".stripMargin)),

    // E134: minLen calibration sweep for E128 — the shared-span load at
    // every threshold on a grid, from ONE gram pass at the grid minimum
    // (span lengths are threshold-independent once ≥ gram size; the
    // fan-out rides the rare pair funnel, never the corpus). The curve
    // a curator reads to PICK minLen before the full dedup run.
    QueryDef("q_substring_sweep", (s, dir) =>
      Dedup.sharedSpanSweep(Tables.documents(s, dir), "text", "doc_id",
        grid = Seq(40, 80, 160, 320),
        baseSpans = Some(graft.ops.PairFunnel.sharedSpans(
          Tables.documents(s, dir), "text", "doc_id", dir, minLen = 40))),
      // same base CTE as q_substring_dup (exact 40-char substrings stand
      // in for the hashed grams), then the grid fan-out over the pair set
      Some("""WITH g AS (
        |  SELECT doc_id, i, substr(text, i, 40) AS s
        |  FROM documents, LATERAL (SELECT unnest(range(1, length(text) - 38)) AS i)
        |  WHERE length(text) >= 40),
        |m AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, a.i AS pa, b.i AS pb
        |  FROM g a JOIN g b ON a.s = b.s AND a.doc_id < b.doc_id),
        |isl AS (
        |  SELECT ia, ib, pa - pb AS d, pa,
        |         pa - ROW_NUMBER() OVER (PARTITION BY ia, ib, pa - pb ORDER BY pa) AS grp
        |  FROM m),
        |runs AS (
        |  SELECT ia, ib, CAST(count(*) + 39 AS BIGINT) AS len
        |  FROM isl GROUP BY ia, ib, d, grp),
        |spans AS (SELECT ia, ib, max(len) AS msl FROM runs GROUP BY 1, 2),
        |grid AS (SELECT unnest([40, 80, 160, 320]) AS min_len),
        |q AS (SELECT grid.min_len AS min_len, ia, ib, msl
        |      FROM grid JOIN spans ON msl >= grid.min_len),
        |pairs AS (
        |  SELECT min_len, CAST(count(*) AS BIGINT) AS n_pairs,
        |         max(msl) AS longest, CAST(sum(msl) AS BIGINT) AS span_mass
        |  FROM q GROUP BY 1),
        |docs_ AS (
        |  SELECT min_len, CAST(count(DISTINCT id) AS BIGINT) AS n_docs
        |  FROM (SELECT min_len, ia AS id FROM q
        |        UNION ALL SELECT min_len, ib AS id FROM q)
        |  GROUP BY 1)
        |SELECT g2.min_len, coalesce(n_pairs, 0) AS n_pairs,
        |       coalesce(n_docs, 0) AS n_docs,
        |       coalesce(longest, 0) AS longest,
        |       coalesce(span_mass, 0) AS span_mass
        |FROM grid g2 LEFT JOIN pairs USING (min_len)
        |LEFT JOIN docs_ USING (min_len)""".stripMargin)),

    // E32: benchmark decontamination — containment of a held-out "eval"
    // slice in the remaining corpus (asymmetric, broadcast-eval join;
    // the near-dup planted pairs that straddle the split surface here).
    // 8-char shingles, not 5: on a small-vocabulary corpus short grams
    // collide across most documents and the gram join explodes; longer
    // shingles span word boundaries and stay distinctive (background
    // containment 0.36 vs 0.98+ for true contamination)
    QueryDef("q_contamination", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val evalDocs = docs.filter(col("doc_id") % 20 === 3)
      val corpus = docs.filter(col("doc_id") % 20 =!= 3)
      // session-shared (r16): the decontaminate ACTION query runs the
      // identical fused scan — built once per snapshot
      graft.ops.PairFunnel.contaminationPairs(docs, corpus, evalDocs,
        "text", "doc_id", dir, shingleN = 8, threshold = 0.8)
    },
      // containment via string 5-grams: |eval ∩ corpus| / |eval| — same
      // pair set as the hashed-shingle plan (collision-free on this data)
      Some("""WITH g2 AS (
        |  SELECT DISTINCT doc_id, substr(text, i, 8) AS g
        |  FROM (SELECT doc_id, text,
        |               unnest(range(1, greatest(length(text) - 6, 2))) AS i
        |        FROM documents)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM g2 GROUP BY doc_id)
        |SELECT c.doc_id AS corpus_id, e.doc_id AS eval_id,
        |       CAST(count(*) AS DOUBLE) / any_value(s.n) AS containment
        |FROM g2 c
        |JOIN g2 e ON c.g = e.g
        |JOIN sizes s ON s.doc_id = e.doc_id
        |WHERE e.doc_id % 20 = 3 AND c.doc_id % 20 <> 3
        |GROUP BY c.doc_id, e.doc_id
        |HAVING CAST(count(*) AS DOUBLE) / any_value(s.n) >= 0.8""".stripMargin)),

    // E71: decontamination ACTION — the flag→remove pair completed:
    // corpus minus every doc a contamination pair names (left-anti on
    // the id-only pair frame; eval docs pass through untouched since
    // they were never corpus rows)
    QueryDef("q_decontaminate", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val evalDocs = docs.filter(col("doc_id") % 20 === 3)
      val corpus = docs.filter(col("doc_id") % 20 =!= 3)
      val flagged = graft.ops.PairFunnel.contaminationPairs(docs, corpus,
          evalDocs, "text", "doc_id", dir, shingleN = 8, threshold = 0.8)
        .select(col("corpus_id").as("doc_id"))
      corpus.join(flagged, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"))
    },
      Some("""WITH g2 AS (
        |  SELECT DISTINCT doc_id, substr(text, i, 8) AS g
        |  FROM (SELECT doc_id, text,
        |               unnest(range(1, greatest(length(text) - 6, 2))) AS i
        |        FROM documents)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM g2 GROUP BY doc_id),
        |flagged AS (
        |  SELECT c.doc_id
        |  FROM g2 c JOIN g2 e ON c.g = e.g
        |  JOIN sizes s ON s.doc_id = e.doc_id
        |  WHERE e.doc_id % 20 = 3 AND c.doc_id % 20 <> 3
        |  GROUP BY c.doc_id, e.doc_id
        |  HAVING CAST(count(*) AS DOUBLE) / any_value(s.n) >= 0.8)
        |SELECT doc_id, source FROM documents
        |WHERE doc_id % 20 <> 3
        |  AND NOT EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = documents.doc_id)""".stripMargin)),

    // E5: embedding near-dup pairs, multi-table hyperplane LSH + cosine
    // verify at a REAL threshold. The sf embeddings are near-orthogonal
    // (max background cosine ≈ 0.51), so near-dups are planted in-query:
    // 2×-scaled copies of every vector. Positive scaling preserves every
    // hyperplane sign, so LSH recall on the planted pairs is exactly 1
    // BY CONSTRUCTION — which is what lets a brute-force DuckDB oracle
    // hash-match an LSH-bucketed plan.
    QueryDef("q_embed_neardup", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val scaled = e.select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val corpus = e.select(col("vec_id"), col("embedding")).unionByName(scaled)
      // r9 (found by the sf10 probe): FIXED numPlanes=8 does not
      // scale — expected bucket occupancy is n/2^planes, and the
      // candidate join is quadratic IN THE BUCKET, so 400k vectors in
      // 256 buckets/table meant ~1.2B candidate pairs and an executor
      // OOM after 742 s. r16 (the r15 decade probe's residual): the
      // integer schedule planes = ⌈log2(n/16)⌉ quantized occupancy
      // anywhere in (8, 16] and the ceiling jitter + tables growth
      // compounded into n^1.29 pair emission. Now the
      // occupancy-TARGETED schedule (Dedup.occupancyPlanesSchedule):
      // per-table planes mixed between ⌈log2(n/8)⌉ and one fewer so
      // MEAN occupancy plateaus at 8, table count from the Charikar
      // recall model over the mixed per-table collision rates
      // (miss ≤ 3% at θ = 0.98), PLUS the occupancy CAP (splitOcc =
      // 16): the 4M-vector band probe put 82% of emission in over-16-
      // occupancy buckets — the size-biased shoulder the mean can't
      // see — so over-cap buckets subdivide by extra signature-prefix
      // bits back toward the target, bounding ΣC(occ, 2) ≈ n·target
      // per table; emission then tracks the inherent n·tables ≈ n^1.1
      // envelope (record: r16_embed_neardup_probe.json). extraBits = 2
      // charges the cap's sub-key agreement to the recall model.
      // True near-dups here sit at cosine ≈ 1 (parallel vectors sign
      // identically under EVERY plane set — including the cap's extra
      // bits, so a cap can never separate a genuine family), so the
      // brute-force all-pairs oracle stays hash-green at every oracle
      // sf under any schedule — asserted each round. n comes from
      // parquet footers — no job in the query graph (the q_semdedup
      // discipline).
      val n = 2L * Tables.parquetRowCount(s, dir, "embeddings")
      val schedule = Dedup.occupancyPlanesSchedule(n, targetOcc = 8.0,
        theta = 0.98, extraBits = 2.0)
      val tables = schedule.length
      // bucket-join partition count (r15, from the embed decade probe):
      // bucket rows = n·tables; at 4M self-join vectors the default 32
      // partitions meant ~1.25M-row (~350 MB) SHJ builds per task and
      // the join-consume stage at 96.7% of query cpu, 1.45× the
      // per-pair cost of the 400k run — pure build locality, the same
      // mechanism as the r14 simjoin fix. ~250k bucket rows per task
      // (~70 MB builds), capped under the sort-bypass boundary like
      // the prefix join; row count from parquet footers, no job.
      val nParts = Dedup.sizedShufflePartitions(n * tables, 500000L,
        s.sessionState.conf.numShufflePartitions,
        s.conf.get("spark.shuffle.sort.bypassMergeThreshold", "200").toInt)
      Dedup.embeddingNearDupPairs(corpus, "embedding", "vec_id",
          schedule, 0.98, 42L, 64, nParts, splitOcc = 16, splitTarget = 8,
          stageBuckets = true)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH c AS (
        |  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000,
        |         list_transform(embedding::DOUBLE[], x -> x * 2.0)
        |  FROM embeddings)
        |SELECT a.id AS id_a, b.id AS id_b,
        |       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        |FROM c a JOIN c b ON a.id < b.id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.98""".stripMargin)),

    // E98: EXACT set-similarity self-join via prefix filtering (the
    // PPJoin family, public literature) — shingle-set Jaccard ≥ τ with
    // NO probabilistic recall gap (MinHash-LSH's weakness): under a
    // common rarest-first element order, two sets with Jaccard ≥ τ MUST
    // share an element in their (m − ⌈τ·m⌉ + 1)-prefixes, so candidates
    // come from a hash join on PREFIX elements only (the rarest,
    // lowest-fanout ones) + a size-ratio filter; exact intersect
    // verifies survivors. No global element rank is materialized — the
    // order IS the (global_freq, gram) tuple sorted per doc. Elements
    // are 12-char shingles: this corpus's WORD vocabulary is ~31 tokens
    // (and 5-gram vocab ~2k), so short elements are all near-universal
    // and prefix filtering degenerates toward all-pairs (measured 50M
    // candidate fanout at sf0.1); 131k distinct 12-grams restore the
    // rare-prefix premise (1.4M fanout, 256 true pairs). Same τ=0.8 /
    // same answer set as the MinHash family — by construction, since
    // prefix filtering is EXACT.
    QueryDef("q_simjoin_prefix", (s, dir) => {
      val tau = 0.8
      // grams are hashed to 8-byte keys MAP-SIDE: nothing downstream
      // (distinct, freq count, prefix join, set arrays) ever shuffles a
      // string — same hashed-shingle discipline (and collision caveat)
      // as the MinHash/decontamination family.
      // per-doc dedup happens MAP-SIDE (array_distinct before the
      // explode), so the (doc, gram) stream needs no distinct shuffle;
      // the doc-frequency table is vocabulary-sized (131k grams at
      // sf0.1) and broadcasts — at true corpus scale it becomes a
      // shuffle join on the 8-byte gram key, still never a string.
      // gram_hashes64 = ONE rolling pass per doc; the per-position
      // xxhash64(substring(...)) form it replaces was O(len·n) bytes +
      // one allocation per gram, 33 CPU-seconds at sf0.1.
      // NOTHING corpus×full-array-sized is staged (r11 ENOSPC fix): the
      // earlier shape staged the per-doc gram arrays AND a full-toks
      // keyed frame — ~40 GB of DISK_ONLY blocks at the 5M-doc probe,
      // which filled the host's disk before the prefix join even ran.
      // The gram kernel is cheap enough to re-run per consumer that
      // needs full arrays (one corpus pass for keyed, a 5% sample pass
      // for the ranks, a funnel-filtered pass for the verify sets); the
      // only staged frame is the PREFIX-sized keyed frame below.
      val srcDocs = Tables.documents(s, dir)
      // EXACT-DF MODE (r14 verdict item 5, behind a flag): the sampled
      // broadcast rank map below caps at 2M entries, and its heavy-gram
      // coverage band narrows as vocabulary grows — at some corpus size
      // the map no longer sees the medium-df grams it exists to push
      // out of prefixes. The documented replacement is the LINEAR
      // distributed exact-df join form: exact per-gram doc frequency
      // via one partial-agg groupBy on the 8-byte gram key, ranks
      // joined back onto the gram stream (shuffle on g), and the
      // per-doc rarest-first reorder done with a sort_array regroup
      // (shuffle on doc_id) instead of a map-side kernel — no driver
      // state, no cap, coverage exact at ANY vocabulary. Costs two
      // corpus×grams-scale exchanges the broadcast path never pays
      // (the r10 measurement: ~90 GB of exchange at 5M docs), so it is
      // a FLAG, not the default: flip it when the corpus outgrows the
      // map (the A/B probe record in bench_baselines/ carries the
      // measured crossover). Both orders are consistent total orders,
      // so prefix filtering itself is lossless under either; the two
      // modes DO flag different bucket sets heavy, and with width-3
      // refinement the anchor is probabilistic, so cross-mode identity
      // holds up to the documented ≤ 1e-5 per-pair anchor residual
      // (observed bit-identical at sf0.01/sf0.1 — diff_verify).
      // r17 AUTO-SWITCH (r16 verdict item 3): the flag now defaults
      // from the corpus size instead of a constant `false`. The
      // sampled map's coverage premise is that the ~df ≥ 40 gram tail
      // fits its 2M-entry cap: the r13/r14 GramDfProbe measured the
      // df ≥ 64 tail at 1.4M grams at 5M docs (growing ~linearly in
      // docs), so the cap saturates somewhere near ~7M docs — past
      // that the map silently truncates exactly the medium-df grams
      // it exists to push out of prefixes, AND a 2M-row driver collect
      // has no business in a default plan at that scale. Below the
      // threshold the sampled path stays the default because it is
      // MEASURED faster (r16_simjoin_exactdf_ab.json: exact = 2.31×
      // sampled at 500k docs — the exact path's two corpus×grams
      // exchanges dominate until the map's coverage breaks). Doc count
      // comes from parquet footers (no job); both modes verify every
      // surviving pair exactly, so the switch moves candidate COUNT,
      // never results (the ≤ 1e-5 anchor residual caveat below applies
      // to both modes identically). `spark.graft.simjoin.exactDf` or
      // SPARK_GRAFT_SIMJOIN_EXACTDF still overrides in either direction.
      val exactDfAutoDocs = 6000000L
      val nSrcDocs = Tables.parquetRowCount(s, dir, "documents")
      val exactDf = s.conf.getOption("spark.graft.simjoin.exactDf")
        .orElse(sys.env.get("SPARK_GRAFT_SIMJOIN_EXACTDF"))
        .map(_.toBoolean)
        .getOrElse(nSrcDocs > exactDfAutoDocs)
      // Canonical token order WITHOUT a distributed frequency join
      // (r11): heavy-gram ranks are estimated from a deterministic 5%
      // doc sample, capped top-2M by count (driver state ≤ ~32 MB at
      // ANY corpus size), broadcast as a binary-searchable (sorted
      // keys, log2-bucket ranks) pair, and applied MAP-SIDE by the
      // heavy_rank_order kernel — each doc's gram array is reordered
      // rarest-first in one per-row call. The r10 shape computed exact
      // global df (groupBy over the exploded ~corpus×grams stream) and
      // joined it back per gram, then re-grouped per doc: at the 5M-doc
      // probe that was two ~1.4B-row exchanges plus a sort-aggregate —
      // ~90 GB of disk for an ordering HEURISTIC. Prefix filtering is
      // lossless under any consistent total order and the est-filter +
      // exact verify decide per pair, so the order affects candidate
      // COUNT only, never results (see HeavyRankOrder's scaladoc; df
      // probe: vocab 131M, df≥64 tail 1.4M, max df 778 at 5M docs).
      // The sample filter pushes below roundRobinSpread's exchange, so
      // only the ~5% sample's text ever shuffles here.
      // md5 sample, NOT pmod(xxhash64(doc_id), 20) (r14): the xxhash64
      // form ALIASED with this corpus — synthetic text whose word
      // choices derive from hash-mod arithmetic over the doc id makes
      // gram membership correlate with any same-family hash-mod doc
      // sample, and the measured effect was total: grams with df
      // 100–300 had sampled_df = 1 (expected ~13), so the rank map
      // never saw exactly the medium-df grams it exists to push out of
      // prefixes, their small-hash members flooded every prefix, and
      // candidate emissions grew 12.3x at 10x data (the r13 probe's
      // superlinear residual). Every other sampler in the engine
      // already uses the md5 idiom for exactly this decorrelation
      // property (capFitSample, table samples, split assignment); this
      // was the one stray. 0x0d/0x100 = 5.08% keeps the rank
      // calibration (rank >= 2 ~ df >= ~80).
      // sampled-path state is LAZY: under the exact-df flag neither the
      // sample aggregate nor the broadcast is ever built
      lazy val heavySorted = Tables.roundRobinSpread(srcDocs)
        .filter(substring(md5(concat(lit("rankmap:"),
          col("doc_id").cast("string"))), 1, 2) < lit("0d"))
        .select(explode(array_distinct(
          graft.functions.exprs.gram_hashes64(col("text"), 12))).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
        .orderBy(col("c").desc, col("g")).limit(2000000)
        .collect()
        .map(r => (r.getLong(0), (63 - java.lang.Long.numberOfLeadingZeros(
          r.getLong(1))).toByte))
        .sortBy(_._1)
      lazy val bcKeys = s.sparkContext.broadcast(heavySorted.map(_._1))
      lazy val bcRanks = s.sparkContext.broadcast(heavySorted.map(_._2))
      // keyed is a PLAIN plan (r13): its one consumer is the staged
      // refined frame below, whose cache build evaluates the gram
      // kernel + reorder + signature exactly once. (Through r12 keyed
      // itself was the staged frame and the self-join's two sides each
      // exploded it into their OWN corpus-scale exchange: AQE never
      // reused the twin exchanges — Spark 4 wraps cache scans in
      // TableCacheQueryStage, and the exchanges above two distinct
      // cache stages stop matching, measured as two 1.45 GB shuffle
      // writes of identical bytes at sf10.) The digest is computed
      // over the FULL toks array before the prefix slice is taken —
      // min() is order-invariant, so sig(toks) == sig(raw grams) and
      // the estimate targets exactly the verify's full-set Jaccard.
      // (The chained projections keep the gram kernel + reorder
      // evaluated ONCE per row: toks is referenced by several
      // non-cheap consumers, which blocks CollapseProject from
      // inlining it per consumer.)
      lazy val keyed = Tables.roundRobinSpread(srcDocs)
          .select(col("doc_id"),
            graft.functions.BroadcastRank.heavyRankOrder(array_distinct(
                graft.functions.exprs.gram_hashes64(col("text"), 12)),
              bcKeys, bcRanks).as("toks"))
          .select(col("doc_id"), size(col("toks")).as("m"), col("toks"))
          .select(col("doc_id"), col("m"),
            expr(s"slice(toks, 1, m - cast(ceil($tau * m) as int) + 1)")
              .as("ptoks"),
            graft.functions.exprs.sig_digest(
              graft.functions.exprs.minhash_sig_l(col("toks"), 64, 42L)).as("dg"))
      // exact-df keyed frame (flag path — see the exactDf scaladoc):
      // rank = floor(log2(exact df)) for df ≥ 2 (length(bin(c)) − 1 is
      // the exact integer log2 — no float log2 boundary risk), else 0.
      // SINGLE-NODE-SAFE FORM (r16; the design the r15 A/B record
      // named): the r15 shape regrouped the full (rank, g) struct
      // stream per doc with sort_array(collect_list(...)) — an
      // ObjectHashAggregate that shipped one O(doc-grams) ARRAY
      // partial per doc×partition, fell back to sort-based agg, and
      // spilled the full corpus×grams stream past the probe host's
      // disk at 500k docs (ENOSPC, bench_baselines/
      // r15_simjoin_exactdf_ab.json). Now nothing regroups full
      // arrays: (a) per-doc m / MinHash digest / prefix length are
      // PURE map-side functions of the text (one extra gram-kernel
      // pass — cheap to re-run, the staging lesson above); (b) the
      // rarest-first PREFIX is the plen-smallest (hi, lo) pairs under
      // HeavyRankOrder's comparator packed into two signed longs —
      // hi = rank<<56 | g>>>8 (non-negative, rank ≤ 63, so signed
      // sort == unsigned) and lo = g XOR Long.MinValue (signed lo
      // order == unsigned g order) — kept by the bounded-heap
      // smallest_k aggregate (functions/PrefixSmallestK): partials
      // are ≤ plen entries of 16 bytes, the exchange carries plain
      // bounded buffers, and the result is identical to
      // slice(sort_array(collect_list(struct)), 1, plen) by the
      // comparator's totality (g = lo XOR min recovers the gram,
      // rank = hi >>> 56 recovers the rank byte — no third field can
      // break ties). The gram stream pays exactly two plain-row
      // corpus×grams exchanges (rank join on g, prefix agg on
      // doc_id) — the linear cluster shape, now also disk-feasible
      // single-node.
      lazy val keyedE = {
        val docMeta = Tables.roundRobinSpread(srcDocs)
          .select(col("doc_id"), array_distinct(
            graft.functions.exprs.gram_hashes64(col("text"), 12)).as("tk"))
          .select(col("doc_id"), size(col("tk")).as("m"),
            graft.functions.exprs.sig_digest(
              graft.functions.exprs.minhash_sig_l(col("tk"), 64, 42L)).as("dg"))
          .select(col("doc_id"), col("m"), col("dg"),
            (col("m") - ceil(lit(tau) * col("m")).cast("int") + lit(1))
              .as("plen"))
        val grams = Tables.roundRobinSpread(srcDocs)
          .select(col("doc_id"), explode(array_distinct(
            graft.functions.exprs.gram_hashes64(col("text"), 12))).as("g"))
        val dfRanks = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2)
          .select(col("g"), (length(bin(col("c"))) - 1).cast("int").as("rank"))
        val pairsK = grams
          .join(dfRanks.hint("shuffle_hash"), Seq("g"), "left")
          .select(col("doc_id"),
            shiftleft(coalesce(col("rank"), lit(0)).cast("long"), 56)
              .bitwiseOR(shiftrightunsigned(col("g"), 8)).as("hi"),
            col("g").bitwiseXOR(lit(Long.MinValue)).as("lo"))
        // plen joins onto the gram stream (shuffle_hash build = the
        // docs-sized meta frame), the heap agg reuses the join's
        // doc_id partitioning (no exchange of its own), and m/dg join
        // back onto the DOC-sized agg output, never the gram stream
        pairsK
          .join(docMeta.select(col("doc_id"), col("plen"))
            .hint("shuffle_hash"), Seq("doc_id"))
          .groupBy(col("doc_id"))
          .agg(graft.functions.PrefixSmallestK.agg(
            col("hi"), col("lo"), col("plen")).as("pref"))
          .join(docMeta.select(col("doc_id"), col("m"), col("dg"))
            .hint("shuffle_hash"), Seq("doc_id"))
          .select(col("doc_id"), col("m"), col("pref"), col("dg"))
      }
      // positional prefix filter (the "PP" in PPJoin): a shared element
      // at 1-based sorted position rn caps the possible overlap at
      // 1 + min(ma − rn_a, mb − rn_b); pairs that can't reach the
      // τ-equivalent overlap α = ⌈τ/(1+τ)·(ma+mb)⌉ die at the join,
      // before the distinct (measured 90k → 17k candidates at sf0.1)
      // explicit pg-keyed repartition: the prefix stream is only ~6 MB
      // at sf0.1, so AQE coalesces the self-join's input to a handful
      // of partitions — but the JOIN's work is quadratic in bucket
      // size, not linear in input bytes, and under load the coalesced
      // stage serialized on 10 tasks (r7 profile). A user repartition
      // pins the join's parallelism; AQE honors user partition counts.
      // The count is ADAPTIVE (r11; re-sized r14): a pinned 32 was
      // right at sf0.1 but at 5M docs it handed each shuffled-hash
      // task a ~15M-row build. The r11 sizing (one partition per ~50k
      // docs) assumed ~20 prefix rows/doc; measured prefix length is
      // ~57 rows/doc, so 50k-doc partitions carried ~2.8M-row hash
      // builds (~200 MB): the r14 idle profile showed the join probing
      // at 2.6 µs/emission at 5M docs vs 1.04 µs at sf10 — build-side
      // locality, not emission count, was the bigger half of the 13.7x
      // wall ratio. One partition per ~15k docs bounds the build at
      // ~900k rows (~60 MB). The 192 CAP is the bypass-merge boundary,
      // measured the hard way: 334 partitions crossed
      // spark.shuffle.sort.bypassMergeThreshold (200) and the staging
      // exchange's writer switched from per-partition bypass files to
      // the sort-based path — the kernel+write stage went 2793 → 7634
      // cpu-s (2.7x) for identical bytes, costing far more than the
      // halved join paid back. The cap is therefore DERIVED from the
      // session's bypassMergeThreshold (minus headroom for AQE's
      // occasional +partition re-splits), not hard-coded to this
      // probe host's 192 (r14 advisory): a cluster deployment that
      // raises spark.shuffle.sort.bypassMergeThreshold for its scale
      // (e.g. 4096 at 50M docs, where 15k-doc builds need ~3.3k
      // partitions) gets the matching cap automatically instead of
      // silently inheriting the probe host's boundary and growing
      // ~15M-row hash builds per task — the r11 failure mode the
      // adaptive count exists to prevent.
      // Row count from parquet FOOTERS (nSrcDocs above) — through r16
      // this was srcDocs.count(), which is metadata-only work but still
      // scheduled a job in the query's graph (§5: keep the driver out
      // of query paths — the same fix fractionRerank got in r16).
      // ~57 prefix rows/doc measured ⇒ 15k docs/partition ≈ 900k-row
      // builds; sizing shared with q_embed_neardup (Dedup helper)
      val nParts = Dedup.sizedShufflePartitions(nSrcDocs, 15000L,
        s.sessionState.conf.numShufflePartitions,
        s.conf.get("spark.shuffle.sort.bypassMergeThreshold", "200").toInt)
      // shuffle_hash (r11): the pg keys are near-unique 8-byte gram
      // hashes; sort-merge sorted the ~Σplen-row prefix stream TWICE
      // (the 5M-doc probe put its disk-filling sort spill here), where
      // a per-partition hash build walks the buckets with no sort.
      //
      // PRE-VERIFY est-filter IN the join (the r11
      // Dedup.minhashNearDupPairs shape): the prefix funnel's survivors
      // are overwhelmingly junk — measured at sf0.1: 16,871 candidates
      // of which 16,612 have TRUE jaccard < 0.1 and only 259 reach
      // τ = 0.8 (the positional filter can't see past one shared gram;
      // an aggregated positional bound was measured to kill ZERO of
      // them). The r10 shape est-filtered AFTER the distinct by joining
      // 512-B signatures onto the pair set — at the 5M-doc probe the
      // pre-distinct pair exchange (~500M duplicated pairs) plus the
      // two signature joins' sort-merge spill filled the host's disk
      // (ENOSPC surfacing as SPILL_OUT_OF_MEMORY). Filtering in the
      // join on a digest slice each prefix row carries collapses the
      // funnel before ANY pair-level exchange — the distinct sees
      // est-survivors only, and no shuffle anywhere scales with the
      // raw candidate count. r13 narrows the carried slice from the
      // full 64 bytes to 16 (the digest was ~70% of every prefix row
      // and so ~70% of the staged stream's bytes): the cut scales to
      // its σ (τ − 4σ₁₆, σ₁₆ = 1/(2√16) ⇒ 0.30), so a TRUE τ-pair
      // fails it w.p. P[Binom(16, 0.8) ≤ 4] ≈ 4e-9 — below the 64-byte
      // residual — while junk (this corpus separates by a 0.7 jaccard
      // gap, so junk estimates ~0.1) passes w.p. P[Binom(16, 0.1) ≥ 5]
      // ≈ 1e-2: the funnel into the distinct grows only ~2× and the
      // exact verify still decides membership of every survivor. The
      // DuckDB oracle is the exact all-pairs ground truth, so the
      // est-filter is recall-audited every round.
      val est16Cut = tau - 4.0 / (2.0 * math.sqrt(16.0))
      // The refinement anchor stays on the FULL 64-byte digest, now
      // with WIDTH-3 blocks (r14): junk pairs inside a shared-gram
      // bucket have per-byte digest agreement j ≈ their true jaccard
      // (~0.1 on this corpus), so a 2-byte block only cut their
      // emission 32·j² ≈ 3x, while 3-byte blocks cut it 21·j³ ≈ 47x —
      // and random cross-bucket collisions drop 2⁻¹⁶ → 2⁻²⁴. The cost
      // is the anchor becoming probabilistic at width 3: a TRUE τ-pair
      // agrees on a given 3-byte block w.p. τ³ (bytes are independent
      // MinHash agreements), so P[no block of 21 agrees] =
      // (1 − τ³)²¹ ≈ 2.9e-7 at the τ = 0.8 edge (tighter above it) —
      // dominating the est16 residual but still oracle-audited every
      // round (with the est filter already on a 16-byte slice at cut
      // 0.30 < 1/2, the width-2 pigeonhole bit-identity was ALREADY
      // forfeit — r13 advisory — so width 3 trades an unused guarantee
      // for the 15x junk cut). The guard fails loud if a future tau
      // pushes the anchor loss above 1e-5 (widen tau, narrow blocks,
      // or disable refinement — a deliberate edit).
      val anchorLoss = graft.ops.BucketRefine.anchorLoss(64, 3, tau)
      require(anchorLoss <= 1e-5,
        f"prefix-join width-3 block refinement would drop true pairs at $anchorLoss%.2e " +
          "per pair — raise tau, use width 2, or disable refinement")
      // HEAVY-GRAM SUB-REFINEMENT (r12, graft.ops.BucketRefine; r14:
      // width-3 blocks + a rank sample that actually sees the heavy
      // grams — see the md5 note above): prefix buckets bigger than
      // the cap are re-keyed per 3-byte digest block before emission,
      // so a bucket's junk mass (pairs sharing this one gram and
      // little else, per-byte digest agreement j ≈ 0.1) emits at
      // 21·j³ ≈ 2% of C(n,2) while true pairs anchor on a fully-
      // agreeing block w.p. ≥ 1 − 2.9e-7 (the guard above). The cap
      // sits above any genuine duplicate family's per-gram bucket yet
      // below the corpus-scaling buckets at every probed size —
      // measured BOTH ways at k300: an ~80-doc cap cut the
      // join-consume CPU 6.3× (11.6k→1.8k CPU-s), while a ~16-doc cap
      // pulled genuinely-similar template families into refinement,
      // whose pairs re-emit once per agreeing block and blew the
      // pre-distinct exchange past the probe host's disk.
      // The heavy flag is MAP-SIDE, from the rank sample the query
      // already broadcasts (rank ≥ 2 ⇔ sampled doc-count ≥ 4 ⇔ full
      // count ≳ 80; see HeavyRankAtLeast — a first cut that computed
      // exact bucket counts with a groupBy + join-back re-paid the
      // ~26 GB prefix exchange at 5M docs and ENOSPC'd the probe; the
      // refinement is lossless under ANY flag, so the sample is
      // strictly better).
      //
      // refined is STAGED AFTER its (pg, sk) repartition — the join's
      // two sides then read the cache's own HashPartitioning and
      // EnsureRequirements inserts NO exchange at all (Spark 4's
      // requireAllClusterKeys is satisfied: the partition keys are
      // exactly the join keys, in order). Through r12 the two sides
      // each re-ran the explode into twin corpus-scale exchanges —
      // the "one exchange both sides reuse" the r12 comment promised
      // never happened: AQE wraps each side's cache scan in its own
      // TableCacheQueryStage, the exchanges above them stop
      // canonical-matching, and the sf10 profile showed two identical
      // 1.45 GB shuffle writes (~24% of the query's CPU). The staged
      // frame is prefix-sized (≈44 B/row columnar: ids, m, rn, pg, sk
      // and the 16-byte digest slice — ~7 GB at the 5M-doc probe,
      // nowhere near the ~40 GB full-toks staging that ENOSPC'd r11)
      // and lives until the query ends, like every stage.
      // The sub-key in the build-side hash map's key is what stops
      // heavy-bucket probes from walking the whole bucket.
      // the prefix stream with a per-element heavy flag: sampled mode
      // computes it map-side from the broadcast map (one binary search
      // per exploded row); exact mode unpacks gram and rank from the
      // (hi, lo) pair the heap agg kept (posexplode + bit ops — no
      // join, no broadcast, all codegen'd built-ins). The exact flag
      // cut is rank ≥ 6 ⇔ df ≥ 64 — NOT the sampled path's rank ≥ 2,
      // whose meaning is ~20× higher (sampled count ≥ 4 at 5.08%
      // sampling ⇔ full df ≈ 80): reusing the numeric 2 under exact
      // ranks would flag every df ≥ 4 gram heavy and push genuine
      // 4-doc near-dup families into width-3 block refinement, where
      // pairs re-emit once per agreeing block — the measured k300
      // blow-up class (see the ~16-doc-cap note below).
      val prefixRows =
        if (!exactDf)
          keyed
            .select(col("doc_id"), col("m"), col("dg"),
              posexplode(col("ptoks")).as(Seq("pos", "pg")))
            .select(col("doc_id"), col("m"), col("dg"),
              (col("pos") + 1).as("rn"), col("pg"),
              graft.functions.BroadcastRank.heavyRankAtLeast(
                col("pg"), bcKeys, bcRanks, 2).as("hv"))
        else
          keyedE
            .select(col("doc_id"), col("m"), col("dg"),
              posexplode(col("pref")).as(Seq("pos", "z")))
            .select(col("doc_id"), col("m"), col("dg"),
              (col("pos") + 1).as("rn"),
              col("z.lo").bitwiseXOR(lit(Long.MinValue)).as("pg"),
              (shiftrightunsigned(col("z.hi"), 56) >= 6).as("hv"))
      val refined = graft.ops.Staging.stage(prefixRows
        .select(col("doc_id"), col("m"), substring(col("dg"), 1, 16).as("dg16"),
          col("rn"), col("pg"),
          explode(graft.ops.BucketRefine.subkeysWide(col("dg"), 64, 3,
            col("hv"))).as("sk"))
        .repartition(nParts, col("pg"), col("sk")))
      val cand = refined.as("a").hint("shuffle_hash").join(refined.as("b"),
          col("a.pg") === col("b.pg") && col("a.sk") === col("b.sk") &&
            col("a.doc_id") < col("b.doc_id") &&
            greatest(col("a.m"), col("b.m")) * tau <= least(col("a.m"), col("b.m")) &&
            (lit(1) + least(col("a.m") - col("a.rn"), col("b.m") - col("b.rn")) >=
              ceil(lit(tau / (1 + tau)) * (col("a.m") + col("b.m")))))
        .filter(graft.functions.exprs.digest_agree(col("a.dg16"), col("b.dg16"))
          >= est16Cut)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      val candF = graft.ops.Staging.stage(cand)
      // verify via the sorted-merge Jaccard kernel (zero allocation per
      // pair) instead of array_intersect (hash set per pair). Full gram
      // sets are re-derived from the SOURCE for docs that actually
      // reach the verify — post-est-filter that is funnel-sized (~500
      // docs at sf0.1) at any corpus size, so the broadcast-semi join
      // keeps the corpus scan in place (no text shuffle) and the gram
      // kernel runs only for surviving rows. sort_array(distinct grams)
      // == sort_array(toks): same set, same signed order.
      val candIds = candF.select(col("id_a").as("doc_id"))
        .union(candF.select(col("id_b").as("doc_id"))).distinct()
      val sets = srcDocs.join(broadcast(candIds), "doc_id")
        .select(col("doc_id"), sort_array(array_distinct(
          graft.functions.exprs.gram_hashes64(col("text"), 12))).as("gs"))
      // broadcast the candidate PAIRS into the first set join: candF is
      // funnel-sized (ids only) at any scale, while sets carries the
      // per-doc gram arrays. The second join's array payloads are now
      // est-filter survivors only — the exchange that carried 46 MB of
      // junk arrays at sf0.1 carries ~2 MB.
      sets.select(col("doc_id").as("id_a"), col("gs").as("ga"))
        .join(broadcast(candF), "id_a")
        .join(sets.select(col("doc_id").as("id_b"), col("gs").as("gb")), "id_b")
        .withColumn("jaccard", graft.functions.exprs.jaccard_sorted_l(col("ga"), col("gb")))
        .filter(col("jaccard") >= tau)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    },
      Some("""WITH g AS (
        |  SELECT DISTINCT doc_id, substr(text, i, 12) AS g
        |  FROM (SELECT doc_id, text,
        |               unnest(range(1, greatest(length(text) - 10, 2))) AS i
        |        FROM documents)),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
        |          FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT ia AS id_a, ib AS id_b,
        |       CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = ia
        |JOIN sizes sb ON sb.doc_id = ib
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8""".stripMargin)),

    // E145: SemDeDup (ops/Dedup.semDeDup) — cluster-then-prune semantic
    // dedup over the embeddings table. KMeans ⇒ no SQL oracle; the
    // rows-check is backed by DedupSpec's exact reference-implementation
    // and keep-rule invariant tests. Output aggregated per cluster so
    // the artifact is stable and small at any scale.
    QueryDef("q_semdedup", (s, dir) => {
      val embs = Tables.embeddings(s, dir)
      // TWO-LEVEL sizing (r11): k here is the LEVEL-1 cell count;
      // semDeDup subdivides each cell into ⌈|c|/256⌉ subcells, so final
      // cells hold ~256 vectors at any corpus size (the paper's
      // constant-cell-size configuration). k ≈ ⌈√(n/256)⌉ balances the
      // two levels — per-row assignment cost is k + n/(256k) ≈ 2√(n/256)
      // instead of the flat min(n/256, 1024) whose cap made cells (and
      // the within-cell quadratic term) grow superlinearly at the
      // 2M-vector probe. n comes from the parquet footers DRIVER-SIDE
      // (no job in this query's graph — `embs.count()` is metadata-only
      // work but still schedules a stage per invocation).
      val n = Tables.parquetRowCount(s, dir, "embeddings")
      val k = math.max(8L,
        math.min(1024L, math.ceil(math.sqrt(n / 256.0)).toLong)).toInt
      val d = graft.ops.Dedup.semDeDup(embs, "vec_id", "embedding", k = k)
      d.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          count_distinct(col("group_root")).as("n_groups"),
          round(min(col("cent_sim")), 6).as("min_cent_sim"))
        .orderBy(col("cluster"))
    },
      // r9: FULL SemDeDup replay — possible because the r9 engine
      // clustering is a portable integer Lloyd (Dedup.semDeDup: md5-rank
      // init, 2^20-quantized components, exact integer argmin with
      // smallest-cell ties, truncating-division centroid updates, 2
      // rounds unrolled here as (d1,a1,s1,c1)/(d2,a2,s2,c2)) and every
      // similarity (τ-pairs, cent_sim) is the exact-integer cosine_q.
      // k is data-driven (max(8, min(1024, n/256))) — only the ROUND
      // count is unrolled. Closure = the standard reach CTE; keep-rule =
      // min (cent_sim, id) per group root.
      Some("""WITH RECURSIVE
        |params AS (SELECT greatest(8, least(1024,
        |             CAST(ceil(sqrt(CAST(count(*) AS DOUBLE) / 256.0)) AS BIGINT))) AS k
        |           FROM embeddings),
        |qd AS MATERIALIZED (
        |  SELECT vec_id, i.i AS i,
        |         CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS q
        |  FROM embeddings, range(64) i(i)),
        |init AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id,
        |           CAST(row_number() OVER (ORDER BY md5('sd:' || vec_id), vec_id) - 1 AS INT) AS cell
        |    FROM embeddings)
        |  WHERE cell < (SELECT k FROM params)),
        |c0 AS (SELECT init.cell, qd.i, qd.q AS c FROM init JOIN qd USING (vec_id)),
        |d1 AS (SELECT qd.vec_id, c.cell, sum((qd.q - c.c) * (qd.q - c.c)) AS dist
        |       FROM qd JOIN c0 c USING (i) GROUP BY 1, 2),
        |a1 AS (SELECT vec_id, CAST(min(dist::HUGEINT * 1024 + cell) % 1024 AS INT) AS cell
        |       FROM d1 GROUP BY 1),
        |s1 AS (SELECT a1.cell, qd.i, CAST(sum(qd.q) AS BIGINT) AS s, count(*) AS n
        |       FROM a1 JOIN qd USING (vec_id) GROUP BY 1, 2),
        |c1 AS (SELECT c0.cell, c0.i, coalesce(s1.s // s1.n, c0.c) AS c
        |       FROM c0 LEFT JOIN s1 ON s1.cell = c0.cell AND s1.i = c0.i),
        |d2 AS (SELECT qd.vec_id, c.cell, sum((qd.q - c.c) * (qd.q - c.c)) AS dist
        |       FROM qd JOIN c1 c USING (i) GROUP BY 1, 2),
        |a2 AS (SELECT vec_id, CAST(min(dist::HUGEINT * 1024 + cell) % 1024 AS INT) AS cell
        |       FROM d2 GROUP BY 1),
        |s2 AS (SELECT a2.cell, qd.i, CAST(sum(qd.q) AS BIGINT) AS s, count(*) AS n
        |       FROM a2 JOIN qd USING (vec_id) GROUP BY 1, 2),
        |c2 AS MATERIALIZED (SELECT c1.cell, c1.i, coalesce(s2.s // s2.n, c1.c) AS c
        |       FROM c1 LEFT JOIN s2 ON s2.cell = c1.cell AND s2.i = c1.i),
        |df AS (SELECT qd.vec_id, c.cell, sum((qd.q - c.c) * (qd.q - c.c)) AS dist
        |       FROM qd JOIN c2 c USING (i) GROUP BY 1, 2),
        |af AS MATERIALIZED (SELECT vec_id, CAST(min(dist::HUGEINT * 1024 + cell) % 1024 AS INT) AS cell
        |       FROM df GROUP BY 1),
        |-- LEVEL 2 (r11): k2(c) = ceil(|c|/256) subcells per coarse cell,
        |-- all cells fitted together — the engine's two-level Lloyd
        |k2 AS MATERIALIZED (SELECT cell, greatest(1, least(1024, (count(*) + 255) // 256)) AS k2
        |       FROM af GROUP BY cell),
        |i2 AS MATERIALIZED (SELECT i0.vec_id, i0.cell, i0.sub FROM (
        |         SELECT vec_id, cell,
        |                CAST(row_number() OVER (PARTITION BY cell
        |                       ORDER BY md5('sd2:' || vec_id), vec_id) - 1 AS INT) AS sub
        |         FROM af) i0
        |       JOIN k2 USING (cell) WHERE i0.sub < k2.k2),
        |e0 AS MATERIALIZED (SELECT i2.cell, i2.sub, qd.i, qd.q AS c FROM i2 JOIN qd USING (vec_id)),
        |f1 AS (SELECT qd.vec_id, e.sub, sum((qd.q - e.c) * (qd.q - e.c)) AS dist
        |       FROM qd JOIN af USING (vec_id)
        |       JOIN e0 e ON e.cell = af.cell AND e.i = qd.i
        |       GROUP BY 1, 2),
        |g1 AS MATERIALIZED (SELECT vec_id, CAST(min(dist::HUGEINT * 1024 + sub) % 1024 AS INT) AS sub
        |       FROM f1 GROUP BY 1),
        |t1 AS (SELECT af.cell, g1.sub, qd.i, CAST(sum(qd.q) AS BIGINT) AS s, count(*) AS n
        |       FROM g1 JOIN af USING (vec_id) JOIN qd USING (vec_id) GROUP BY 1, 2, 3),
        |e1 AS MATERIALIZED (SELECT e0.cell, e0.sub, e0.i, coalesce(t1.s // t1.n, e0.c) AS c
        |       FROM e0 LEFT JOIN t1 ON t1.cell = e0.cell AND t1.sub = e0.sub AND t1.i = e0.i),
        |f2 AS (SELECT qd.vec_id, e.sub, sum((qd.q - e.c) * (qd.q - e.c)) AS dist
        |       FROM qd JOIN af USING (vec_id)
        |       JOIN e1 e ON e.cell = af.cell AND e.i = qd.i
        |       GROUP BY 1, 2),
        |g2 AS MATERIALIZED (SELECT vec_id, CAST(min(dist::HUGEINT * 1024 + sub) % 1024 AS INT) AS sub
        |       FROM f2 GROUP BY 1),
        |t2 AS (SELECT af.cell, g2.sub, qd.i, CAST(sum(qd.q) AS BIGINT) AS s, count(*) AS n
        |       FROM g2 JOIN af USING (vec_id) JOIN qd USING (vec_id) GROUP BY 1, 2, 3),
        |e2 AS MATERIALIZED (SELECT e1.cell, e1.sub, e1.i, coalesce(t2.s // t2.n, e1.c) AS c
        |       FROM e1 LEFT JOIN t2 ON t2.cell = e1.cell AND t2.sub = e1.sub AND t2.i = e1.i),
        |ff AS (SELECT qd.vec_id, e.sub, sum((qd.q - e.c) * (qd.q - e.c)) AS dist
        |       FROM qd JOIN af USING (vec_id)
        |       JOIN e2 e ON e.cell = af.cell AND e.i = qd.i
        |       GROUP BY 1, 2),
        |gf AS MATERIALIZED (SELECT vec_id, CAST(min(dist::HUGEINT * 1024 + sub) % 1024 AS INT) AS sub
        |       FROM ff GROUP BY 1),
        |af2 AS MATERIALIZED (SELECT af.vec_id, af.cell, gf.sub,
        |               CAST(af.cell * 1024 + gf.sub AS INT) AS cluster
        |        FROM af JOIN gf USING (vec_id)),
        |norms AS MATERIALIZED (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS n2 FROM qd GROUP BY 1),
        |cnorm AS MATERIALIZED (SELECT cell, sub, CAST(sum(c * c) AS BIGINT) AS n2 FROM e2 GROUP BY 1, 2),
        |cdot AS (SELECT af2.vec_id, af2.cell, af2.sub, CAST(sum(qd.q * c.c) AS BIGINT) AS dot
        |         FROM af2 JOIN qd USING (vec_id)
        |         JOIN e2 c ON c.cell = af2.cell AND c.sub = af2.sub AND c.i = qd.i
        |         GROUP BY 1, 2, 3),
        |cs AS (SELECT cdot.vec_id,
        |              round(CASE WHEN n1.n2 = 0 OR cn.n2 = 0 THEN 0.0
        |                         ELSE CAST(dot AS DOUBLE)
        |                              / (sqrt(CAST(n1.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE))) END,
        |                    9) AS cent_sim
        |       FROM cdot JOIN norms n1 USING (vec_id)
        |       JOIN cnorm cn ON cn.cell = cdot.cell AND cn.sub = cdot.sub),
        |pdot AS (SELECT a.vec_id AS ia, b.vec_id AS ib, CAST(sum(qa.q * qb.q) AS BIGINT) AS dot
        |         FROM af2 a JOIN af2 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |         JOIN qd qa ON qa.vec_id = a.vec_id
        |         JOIN qd qb ON qb.vec_id = b.vec_id AND qb.i = qa.i
        |         GROUP BY 1, 2),
        |pairs AS (SELECT ia, ib FROM pdot
        |          JOIN norms na ON na.vec_id = ia JOIN norms nb ON nb.vec_id = ib
        |          WHERE na.n2 > 0 AND nb.n2 > 0
        |            AND CAST(dot AS DOUBLE)
        |                / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.95),
        |edges AS (SELECT ia AS s, ib AS d FROM pairs UNION SELECT ib, ia FROM pairs),
        |reach AS (SELECT s, d FROM edges
        |          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
        |roots AS (SELECT s AS vec_id, least(s, min(d)) AS root FROM reach GROUP BY s),
        |lab AS MATERIALIZED (SELECT af2.vec_id, af2.cluster, cs.cent_sim,
        |               coalesce(r.root, af2.vec_id) AS group_root
        |        FROM af2 JOIN cs ON cs.vec_id = af2.vec_id
        |        LEFT JOIN roots r ON r.vec_id = af2.vec_id),
        |keep AS (SELECT group_root, vec_id AS keep_id FROM (
        |           SELECT *, row_number() OVER (PARTITION BY group_root
        |                       ORDER BY cent_sim, vec_id) AS rn FROM lab)
        |         WHERE rn = 1)
        |SELECT CAST(lab.cluster AS INT) AS cluster, count(*) AS n_vecs,
        |       CAST(sum(CASE WHEN lab.vec_id = keep.keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       count(DISTINCT lab.group_root) AS n_groups,
        |       round(min(lab.cent_sim), 6) AS min_cent_sim
        |FROM lab JOIN keep USING (group_root)
        |GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
