package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Chunking, Dedup, FuzzyJoin, Scale, TextAnalysis}
import graft.sources.Tables

/** Document near-dup detection: exact, MinHash and SimHash dedup, the
  * funnel's consumers (keep-best, sweeps, degrees, components, novelty,
  * leakage-safe splits) and the LSH planner. */
object NearDupQueries {
  lazy val defs: Seq[QueryDef] = Seq(
    // E86: normalization-insensitive exact dedup — case/whitespace/
    // punctuation folded before the fingerprint-first grouping, catching
    // the trivial reformat copies plain exact dedup misses; same
    // hash-shuffles-not-text scale shape as q_dedup_exact
    QueryDef("q_dedup_normalized", (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("nt",
          trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
        .groupBy(md5(col("nt")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies")),
      Some("""SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM (SELECT doc_id,
        |             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |      FROM documents)
        |GROUP BY fp""".stripMargin)),

    // E17/E2: the SQL front end reaching an EXTENSION operator, not just
    // a plain table — near-dup pairs exposed as a view and consumed by
    // pure SQL (join back to the corpus, per-source dup-pair counts).
    // Catalyst inlines the view, so the SQL user gets the same
    // bucket-then-verify plan as the programmatic API.
    QueryDef("q_sql_neardup", (s, dir) => {
      graft.sql.GraftViews.registerBase(s, dir)
      graft.sql.GraftViews.registerNearDupPairs(s, dir)
      s.sql("""SELECT d.source AS source, CAST(count(*) AS BIGINT) AS n_pairs
              |FROM neardup_pairs p JOIN documents_v d ON p.id_a = d.doc_id
              |GROUP BY d.source""".stripMargin)
    },
      // same exact-jaccard pair derivation as q_dedup_minhash_pairs, then
      // the per-source rollup the SQL view query computes
      Some(s"""WITH grams AS (
         |  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
         |  FROM (SELECT doc_id, text,
         |               unnest(range(1, greatest(length(text) - 3, 2))) AS i
         |        FROM documents)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
         |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (SELECT ia AS id_a, ib AS id_b FROM inter
         |          JOIN sizes sa ON sa.doc_id = ia
         |          JOIN sizes sb ON sb.doc_id = ib
         |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8)
         |SELECT d.source AS source, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pairs p JOIN documents d ON p.id_a = d.doc_id
         |GROUP BY d.source""".stripMargin)),

    // E1: exact dedup by content — fingerprint-first, so the shuffle key
    // is ~24 bytes of hashes rather than the document text itself
    QueryDef("q_dedup_exact", (s, dir) =>
      Dedup.exactByFingerprint(Tables.documents(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("n_copies")),
      // oracle groups by the text itself; the Spark side groups by
      // (rolling-hash, md5) — identical partitions unless both hashes
      // collide simultaneously, so the results hash-match
      Some("""SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY text""".stripMargin)),

    // E2+E4: MinHash LSH dedup — survivors after transitive-closure
    // near-dup removal (oracle: exact string 5-gram Jaccard + recursive
    // closure in DuckDB; agreement holds because the verified pairs sit
    // far from the 0.8 threshold on either side)
    QueryDef("q_dedup_minhash", (s, dir) => {
      // consumes the session-standing shared funnel (PairFunnel, r12):
      // same losers set dropNearDups computes, built once per dataset
      val docs = Tables.documents(s, dir)
      val losers = graft.ops.PairFunnel.componentLabels(docs, "text", "doc_id", dir)
        .filter(col("root") =!= col("id"))
        .select(col("id").as("doc_id"))
      docs.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"))
    },
      Some(s"""WITH RECURSIVE
         |grams AS (
         |  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
         |  FROM (SELECT doc_id, text,
         |               unnest(range(1, greatest(length(text) - 3, 2))) AS i
         |        FROM documents)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
         |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (SELECT ia, ib FROM inter
         |          JOIN sizes sa ON sa.doc_id = ia
         |          JOIN sizes sb ON sb.doc_id = ib
         |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
         |edges AS (SELECT ia AS s, ib AS d FROM pairs
         |          UNION SELECT ib, ia FROM pairs),
         |reach AS (SELECT s, d FROM edges
         |          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
         |SELECT doc_id, source FROM documents
         |WHERE NOT EXISTS (SELECT 1 FROM reach WHERE s = doc_id AND d < doc_id)""".stripMargin)),

    // E159: corpus-level source-similarity matrix — which FEEDS overlap
    // in content (mirrors, shared boilerplate corpora), the curation
    // question upstream of doc-level dedup. Exact MinHash algebra: a
    // source's signature is the elementwise min of its docs' signatures
    // (one text pass + a catalog-sized keyed min); the oracle replays
    // the full kernel — rolling-gram hash, splitmix64, the 64 embedded
    // (a,b) permutations — bit-for-bit in DuckDB.
    QueryDef("q_source_similarity", (s, dir) =>
      Dedup.sourceSimilarity(Tables.documents(s, dir), "text", "source"),
      // source-similarity replay: a BIT-EXACT DuckDB port of the
      // minhash_sig kernel itself (unlike the dedup oracles, which replay
      // exact jaccard) — 5-gram rolling hash in mod-2^64 (powers of
      // B=1000003 folded driver-side), the splitmix64 chain of
      // SimhashOracleCte, and the 64 universal-hash permutations with the
      // SAME java.util.Random(42) coefficients the engine memoizes,
      // embedded as a VALUES table. Per-source min over all grams ≡ the
      // engine's min-of-per-doc-mins (min over a union of sets).
      Some {
        val rnd = new java.util.Random(42L)
        val as0 = Array.fill(64)(1L + rnd.nextInt(Int.MaxValue - 1).toLong)
        val bs0 = Array.fill(64)(rnd.nextInt(Int.MaxValue).toLong)
        val co = (0 until 64).map(p => s"($p, ${as0(p)}, ${bs0(p)})")
          .mkString(", ")
        val bigB = BigInt(1000003); val m64 = BigInt(2).pow(64)
        val c2 = (bigB * bigB) % m64
        val c3 = (bigB * bigB * bigB) % m64
        val c4 = (bigB * bigB * bigB * bigB) % m64
        s"""WITH co(p, a, b) AS (VALUES $co),
           |hx AS (
           |  SELECT doc_id, source, hex(encode(text)) AS hs,
           |         octet_length(encode(text)) AS nb
           |  FROM documents),
           |g AS (
           |  -- 5-byte windows over UTF-8 BYTES (hex-slice extraction): the
           |  -- engine kernel rolls over raw bytes, and the earlier
           |  -- ascii(substring(...)) form hashed CODEPOINTS — identical only
           |  -- on ASCII text (r11 adversarial fix)
           |  SELECT source,
           |         ((CAST('0x' || substring(hs, 2*i - 1, 2) AS BIGINT)::HUGEINT * $c4::HUGEINT
           |           + CAST('0x' || substring(hs, 2*i + 1, 2) AS BIGINT)::HUGEINT * $c3::HUGEINT
           |           + CAST('0x' || substring(hs, 2*i + 3, 2) AS BIGINT)::HUGEINT * $c2::HUGEINT
           |           + CAST('0x' || substring(hs, 2*i + 5, 2) AS BIGINT)::HUGEINT * 1000003
           |           + CAST('0x' || substring(hs, 2*i + 7, 2) AS BIGINT)::HUGEINT)
           |          % 18446744073709551616::HUGEINT)::UBIGINT AS h
           |  FROM hx, LATERAL (SELECT unnest(range(1, nb - 3)) AS i)
           |  UNION ALL
           |  -- texts shorter than the 5-byte window emit ONE whole-text
           |  -- shingle (the kernel's i == len-1 case); empty texts emit none
           |  SELECT source,
           |         (sum(CAST('0x' || substring(hs, 2*i - 1, 2) AS BIGINT)::HUGEINT
           |              * (CASE nb - i WHEN 0 THEN 1::HUGEINT
           |                             WHEN 1 THEN 1000003::HUGEINT
           |                             WHEN 2 THEN 1000006000009::HUGEINT
           |                             ELSE 1000009000027000027::HUGEINT END))
           |          % 18446744073709551616::HUGEINT)::UBIGINT AS h
           |  FROM (SELECT doc_id, source, hs, nb, unnest(range(1, nb + 1)) AS i
           |        FROM hx WHERE nb >= 1 AND nb < 5)
           |  GROUP BY doc_id, source),
           |m1 AS (SELECT source, ((h::HUGEINT + 11400714819323198485::HUGEINT)
           |         % 18446744073709551616::HUGEINT)::UBIGINT AS x FROM g),
           |m2 AS (SELECT source, xor(x, x >> 30) AS x FROM m1),
           |m3 AS (SELECT source, ${mulMod64("x", "13787848793156543929")} AS x FROM m2),
           |m4 AS (SELECT source, xor(x, x >> 27) AS x FROM m3),
           |m5 AS (SELECT source, ${mulMod64("x", "10723151780598845931")} AS x FROM m4),
           |xs AS (SELECT source,
           |         ((xor(x, x >> 31) & 2147483647)::BIGINT) % 2147483647 AS v
           |       FROM m5),
           |mins AS (SELECT source, p, min((a * v + b) % 2147483647) AS m
           |         FROM xs, co GROUP BY 1, 2),
           |prs AS (SELECT a.source AS source_a, b.source AS source_b,
           |               sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS n_agree
           |        FROM mins a JOIN mins b ON a.p = b.p AND a.source < b.source
           |        GROUP BY 1, 2)
           |SELECT source_a, source_b, CAST(n_agree AS BIGINT) AS n_agree,
           |       CAST(n_agree * 15625 AS BIGINT) AS est_jaccard_micro
           |FROM prs ORDER BY source_a, source_b""".stripMargin
      }),

    // E64: quality-aware dedup — the production policy: within each
    // near-dup cluster keep the HIGHEST-QUALITY member (min-id only as
    // the tiebreak), composing the closure labels with the quality
    // kernel. One max(struct) per component, no window.
    QueryDef("q_dedup_keep_best", (s, dir) => {
      // spread above Scale.SpreadMinBytes: the quality kernel runs at
      // the scan otherwise — one task on a single-row-group file. Below
      // it the scan's one task is no slower. The funnel gets the UNSPREAD
      // plan: minhashNearDupPairs spreads internally, and the funnel
      // cache key embeds the docs plan's semanticHash — passing the
      // spread frame here forked a second, byte-identical raw-corpus
      // funnel build per session (r16, guide §2.4).
      val base = Tables.documents(s, dir)
      val docs = Tables.spreadForKernel(base)
      val labels = graft.ops.PairFunnel.componentLabels(base, "text", "doc_id", dir)
      val scored = docs.select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")) * 10000).cast("long").as("q_milli"))
      scored.join(labels, scored("doc_id") === labels("id"), "left")
        .select(col("doc_id"), col("q_milli"),
          coalesce(col("root"), col("doc_id")).as("root"))
        .groupBy(col("root"))
        .agg(max(struct(col("q_milli"), (lit(0L) - col("doc_id")).as("neg_id"))).as("best"),
          count(lit(1)).as("n_members"))
        .select((lit(0L) - col("best.neg_id")).as("doc_id"),
          col("best.q_milli").as("quality_milli"), col("n_members"))
    },
      Some {
        val stops = TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString(", ")
        s"""WITH RECURSIVE
           |grams AS (
           |  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
           |  FROM (SELECT doc_id, text,
           |               unnest(range(1, greatest(length(text) - 3, 2))) AS i
           |        FROM documents)),
           |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
           |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
           |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
           |          GROUP BY 1, 2),
           |pairs AS (SELECT ia, ib FROM inter
           |          JOIN sizes sa ON sa.doc_id = ia
           |          JOIN sizes sb ON sb.doc_id = ib
           |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
           |edges AS (SELECT ia AS s, ib AS d FROM pairs
           |          UNION SELECT ib, ia FROM pairs),
           |reach AS (SELECT s, d FROM edges
           |          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
           |comp AS (SELECT d.doc_id,
           |                least(d.doc_id, coalesce(min(r.d), d.doc_id)) AS root
           |         FROM documents d LEFT JOIN reach r ON r.s = d.doc_id
           |         GROUP BY d.doc_id),
           |quality AS (
           |  SELECT doc_id,
           |         CAST(floor((least(n_tok / 50.0, 1.0) * 0.4
           |           + least(CASE WHEN n_tok = 0 THEN 0.0 ELSE stop_hits / n_tok END * 5.0, 1.0) * 0.3
           |           + CASE WHEN n_tok > 0 AND (length(text) - (n_tok - 1.0)) / n_tok >= 3.0
           |                       AND (length(text) - (n_tok - 1.0)) / n_tok <= 10.0 THEN 1.0 ELSE 0.0 END * 0.3
           |           - least(CASE WHEN length(text) = 0 THEN 0.0
           |                        ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / length(text) END * 5.0, 1.0) * 0.2
           |           ) * 10000.0 + 0.5) AS BIGINT) AS q_milli
           |  FROM (SELECT doc_id, text,
           |               CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS DOUBLE) AS n_tok,
           |               CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS DOUBLE) AS stop_hits
           |        FROM documents)),
           |ranked AS (
           |  SELECT c.root, c.doc_id, q.q_milli,
           |         row_number() OVER (PARTITION BY c.root
           |                            ORDER BY q.q_milli DESC, c.doc_id ASC) AS rn,
           |         count(*) OVER (PARTITION BY c.root) AS n_members
           |  FROM comp c JOIN quality q ON q.doc_id = c.doc_id)
           |SELECT doc_id, q_milli AS quality_milli,
           |       CAST(n_members AS BIGINT) AS n_members
           |FROM ranked WHERE rn = 1""".stripMargin
      }),

    // E139: jaccard-threshold calibration sweep — the near-dup load
    // (pairs, docs touched) at every candidate threshold, from ONE
    // banding+verify pass at the grid minimum (a pair verified at the
    // minimum carries its jaccard; higher thresholds are filters over
    // the same verified set, never a re-shingle). The curve a curator
    // reads to pick jaccardThreshold before committing a dedup run —
    // the E2-side companion of E134/E135. Counts only (the jaccard
    // VALUE is hashed-shingle vs the oracle's string-shingle — same
    // pair set, not bit-identical values; every pair in the test
    // corpora sits ≥0.92, far from every grid point).
    QueryDef("q_dedup_sweep", (s, dir) => {
      val grid = Seq(60, 70, 80, 90)
      val pairs = graft.ops.PairFunnel.nearDupPairs(
        Tables.documents(s, dir), "text", "doc_id", dir,
        Dedup.MinhashParams(jaccardThreshold = 0.6))
      val gridDf = s.range(1)
        .select(explode(array(grid.map(lit): _*)).as("threshold_centi"))
      // per-row threshold fan-out via a higher-order array filter — no
      // inequality join, stays codegen; zeros restored by the grid join
      val q = pairs.withColumn("threshold_centi",
        explode(filter(array(grid.map(lit): _*), t => col("jaccard") * 100 >= t)))
      val pairAgg = q.groupBy(col("threshold_centi"))
        .agg(count(lit(1)).as("n_pairs"))
      val docAgg = q.select(col("threshold_centi"),
          explode(array(col("id_a"), col("id_b"))).as("id"))
        .groupBy(col("threshold_centi"))
        .agg(count_distinct(col("id")).as("n_docs"))
      gridDf.join(pairAgg, Seq("threshold_centi"), "left")
        .join(docAgg, Seq("threshold_centi"), "left")
        .select(col("threshold_centi"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"))
    },
      // exact string-shingle jaccard per pair (same CTE shape as
      // q_dedup_minhash_pairs), fanned across the threshold grid; the
      // pair SET per threshold matches the hashed-shingle side because
      // every pair in the corpus sits ≥0.92 — far from every grid point
      Some(s"""WITH grams AS (
         |  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
         |  FROM (SELECT doc_id, text,
         |               unnest(range(1, greatest(length(text) - 3, 2))) AS i
         |        FROM documents)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
         |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (
         |  SELECT ia, ib, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS j
         |  FROM inter
         |  JOIN sizes sa ON sa.doc_id = ia
         |  JOIN sizes sb ON sb.doc_id = ib),
         |grid AS (SELECT unnest([60, 70, 80, 90]) AS threshold_centi),
         |q AS (SELECT grid.threshold_centi AS threshold_centi, ia, ib
         |      FROM grid JOIN pairs ON j * 100 >= grid.threshold_centi),
         |p AS (SELECT threshold_centi, CAST(count(*) AS BIGINT) AS n_pairs
         |      FROM q GROUP BY 1),
         |d AS (SELECT threshold_centi, CAST(count(DISTINCT id) AS BIGINT) AS n_docs
         |      FROM (SELECT threshold_centi, ia AS id FROM q
         |            UNION ALL SELECT threshold_centi, ib AS id FROM q)
         |      GROUP BY 1)
         |SELECT g2.threshold_centi, coalesce(n_pairs, 0) AS n_pairs,
         |       coalesce(n_docs, 0) AS n_docs
         |FROM grid g2 LEFT JOIN p USING (threshold_centi)
         |LEFT JOIN d USING (threshold_centi)""".stripMargin)),

    // E141: near-dup DEGREE distribution — how many verified ≥0.8
    // partners each duplicated doc has, rolled up to (degree → n_docs).
    // The template-storm detector: organic duplication shows degree 1-2,
    // a boilerplate/template burst shows a fat tail (one hub document
    // near-matching hundreds). Derived from the verified pair set, so
    // the cost is the funnel, not the corpus.
    QueryDef("q_dup_degree", (s, dir) => {
      // unspread plan: shares the session funnel with every other
      // default-params consumer (the build spreads internally; the
      // spread wrapper only forked the cache key — r16)
      val pairs = graft.ops.PairFunnel.nearDupPairs(
        Tables.documents(s, dir), "text", "doc_id", dir)
      pairs.select(col("id_a").as("id"))
        .union(pairs.select(col("id_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
    },
      // degree rollup over the same exact-jaccard pair CTE as
      // q_dedup_minhash_pairs
      Some(s"""WITH grams AS (
         |  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
         |  FROM (SELECT doc_id, text,
         |               unnest(range(1, greatest(length(text) - 3, 2))) AS i
         |        FROM documents)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
         |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (
         |  SELECT ia, ib FROM inter
         |  JOIN sizes sa ON sa.doc_id = ia
         |  JOIN sizes sb ON sb.doc_id = ib
         |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
         |deg AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS degree
         |  FROM (SELECT ia AS id FROM pairs UNION ALL SELECT ib AS id FROM pairs)
         |  GROUP BY 1)
         |SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
         |FROM deg GROUP BY 1""".stripMargin)),

    // E2+E4: the verified near-dup pairs themselves (ids only — the
    // jaccard value is over hashed shingles, the oracle's over string
    // shingles; identical pair SET, bit-identical value not guaranteed)
    QueryDef("q_dedup_minhash_pairs", (s, dir) =>
      graft.ops.PairFunnel.nearDupPairs(Tables.documents(s, dir), "text", "doc_id", dir)
        .select(col("id_a"), col("id_b")),
      Some(s"""WITH grams AS (
         |  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
         |  FROM (SELECT doc_id, text,
         |               unnest(range(1, greatest(length(text) - 3, 2))) AS i
         |        FROM documents)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
         |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT ia AS id_a, ib AS id_b FROM inter
         |JOIN sizes sa ON sa.doc_id = ia
         |JOIN sizes sb ON sb.doc_id = ib
         |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8""".stripMargin)),

    // E132: delta novelty rate — per source in an incoming delta slice,
    // the fraction of its DISTINCT 12-grams absent from the standing
    // corpus: the "is this crawl worth ingesting" measurement (a
    // near-zero novelty source is re-crawling what the corpus already
    // holds). Hashed-gram discipline (8-byte keys, rolling kernel, no
    // strings shuffled); the anti-join runs on distinct (source, gram)
    // rows, so cost is vocabulary-sized. Exact basis points.
    QueryDef("q_novelty", (s, dir) => {
      val docs = Tables.roundRobinSpread(Tables.documents(s, dir))
        .filter(length(col("text")) >= 12)
      val grams = (side: DataFrame) => side.select(col("source"),
        explode(array_distinct(
          graft.functions.exprs.gram_hashes64(col("text"), 12))).as("g"))
      // r17 SCALE SHAPE (Scale.noveltyAtScale): below the gate the r16
      // plan is kept — AQE broadcasts the corpus-gram set. Above it the
      // sf10 stage profile (corpus vocab ~50M rows) showed two defects:
      // (1) dg paid TWO exchanges, hash(source, g) for its distinct and
      //     hash(g) for the join (268 + 254 MB); pre-partitioning the raw
      //     delta grams by g serves both from ONE exchange;
      // (2) the sort-merge join sorted both vocab-scale sides (~58M
      //     rows); the shuffle_hash hint builds the corpus side's hash
      //     table instead (~1.6M 8-byte keys per partition at sf10).
      // Neither shape changes a value.
      val big = Scale.noveltyAtScale(Scale.tableRows(s, dir, "documents"))
      val dgRaw = grams(docs.filter(col("doc_id") % 7 === 3))
        .select(col("source"), col("g"))
      val dg = (if (big) dgRaw.repartition(col("g")) else dgRaw).distinct()
      val cgD = grams(docs.filter(col("doc_id") % 7 =!= 3))
        .select(col("g")).distinct()
      val cg = if (big) cgD.hint("shuffle_hash") else cgD
      // one outer join + one aggregation (r16): the anti-join + two
      // separate aggs + re-join consumed dg twice — the profile showed
      // the delta gram pass running once per consumer. cg's grams are
      // distinct, so the left join matches each (source, g) at most
      // once: count/novel in one pass, identical numbers.
      dg.join(cg.withColumn("__hit", lit(1)), Seq("g"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("n_novel"))
        .select(col("source"), col("n_grams"), col("n_novel"),
          expr("(n_novel * 10000) div n_grams").as("novelty_bp"))
    },
      // novelty: oracle on actual 12-char substrings vs Spark's 64-bit
      // hashed grams — distinct-set counts agree absent hash collisions
      // (the established hashed-shingle caveat)
      Some("""WITH base AS (SELECT source, doc_id, text FROM documents WHERE length(text) >= 12),
        |dg AS (SELECT DISTINCT source, substr(text, i, 12) AS g
        |       FROM (SELECT * FROM base WHERE doc_id % 7 = 3),
        |            LATERAL (SELECT unnest(range(1, length(text) - 10)) AS i)),
        |cg AS (SELECT DISTINCT substr(text, i, 12) AS g
        |       FROM (SELECT * FROM base WHERE doc_id % 7 <> 3),
        |            LATERAL (SELECT unnest(range(1, length(text) - 10)) AS i))
        |SELECT dg.source, CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(sum(CASE WHEN cg.g IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       CAST(sum(CASE WHEN cg.g IS NULL THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS novelty_bp
        |FROM dg LEFT JOIN cg ON dg.g = cg.g
        |GROUP BY dg.source""".stripMargin)),

    // E33: dedup observability — near-dup component-size histogram
    // (how big are the duplicate families?), closure-labels grouped
    // twice; oracle recomputes components with the recursive CTE
    QueryDef("q_dup_component_sizes", (s, dir) => {
      graft.ops.PairFunnel.componentLabels(Tables.documents(s, dir), "text", "doc_id", dir)
        .groupBy(col("root")).agg(count(lit(1)).as("size"))
        .groupBy(col("size")).agg(count(lit(1)).as("n_components"))
    },
      Some(s"""WITH RECURSIVE
         |grams AS (
         |  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
         |  FROM (SELECT doc_id, text,
         |               unnest(range(1, greatest(length(text) - 3, 2))) AS i
         |        FROM documents)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
         |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (SELECT ia, ib FROM inter
         |          JOIN sizes sa ON sa.doc_id = ia
         |          JOIN sizes sb ON sb.doc_id = ib
         |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
         |edges AS (SELECT ia AS s, ib AS d FROM pairs
         |          UNION SELECT ib, ia FROM pairs),
         |reach AS (SELECT s, d FROM edges
         |          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |roots AS (SELECT s AS id,
         |                 least(s, min(d)) AS root
         |          FROM reach GROUP BY s),
         |csize AS (SELECT root, CAST(count(*) AS BIGINT) AS size FROM roots GROUP BY root)
         |SELECT size, CAST(count(*) AS BIGINT) AS n_components
         |FROM csize GROUP BY size""".stripMargin)),

    // E117: leakage-safe train/val/test split — the hash split
    // (q_split_assign) is WRONG in the presence of near-duplicates: two
    // near-identical docs can land in train and test, leaking eval
    // content into training. Here the split key is the near-dup
    // COMPONENT root (closure over exact-verified pairs), so whole dup
    // families move together — cross-split near-dup pairs are ZERO by
    // construction (asserted in DedupSpec). Content-hash split on the
    // group key keeps the assignment reproducible and growth-stable.
    QueryDef("q_leakage_safe_split", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val labels = graft.ops.PairFunnel.componentLabels(docs, "text", "doc_id", dir)
      docs
        .join(labels.select(col("id").as("doc_id"), col("root")),
          Seq("doc_id"), "left")
        .withColumn("gk", coalesce(col("root"), col("doc_id")))
        .withColumn("split", Chunking.splitAssign(col("gk").cast("string")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("gk")).as("n_groups"))
    },
      Some(s"""WITH RECURSIVE
         |grams AS (
         |  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
         |  FROM (SELECT doc_id, text,
         |               unnest(range(1, greatest(length(text) - 3, 2))) AS i
         |        FROM documents)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
         |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (SELECT ia, ib FROM inter
         |          JOIN sizes sa ON sa.doc_id = ia
         |          JOIN sizes sb ON sb.doc_id = ib
         |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
         |edges AS (SELECT ia AS s, ib AS d FROM pairs
         |          UNION SELECT ib, ia FROM pairs),
         |reach AS (SELECT s, d FROM edges
         |          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |roots AS (SELECT s AS id, least(s, min(d)) AS root
         |          FROM reach GROUP BY s),
         |labs AS (SELECT d.doc_id, coalesce(r.root, d.doc_id) AS gk
         |         FROM documents d LEFT JOIN roots r ON r.id = d.doc_id),
         |sp AS (SELECT gk,
         |              CASE WHEN b < 80 THEN 'train'
         |                   WHEN b < 90 THEN 'val'
         |                   ELSE 'test' END AS split
         |       FROM (SELECT gk,
         |                    CAST(('0x' || substr(md5(CAST(gk AS VARCHAR)), 1, 4)) AS BIGINT) % 100 AS b
         |             FROM labs))
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT gk) AS BIGINT) AS n_groups
         |FROM sp GROUP BY split""".stripMargin)),

    // E3: per-doc 64-bit SimHash (custom codegen'd expression)
    QueryDef("q_dedup_simhash", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.exprs.simhash64(col("text"), 3).as("simhash")),
      // Bit-exact SimHash64 re-implementation in SQL: the kernel's
      // polynomial 3-gram rolling hash (base 1000003 over ASCII bytes) +
      // splitmix64 finalizer + per-bit majority vote. 64-bit wrap-around
      // multiplication is emulated with a 32-bit hi/lo split in HUGEINT
      // (a direct 64x64 product overflows signed INT128); the final
      // unsigned bit pattern is re-signed to match Spark's LongType.
      // Precondition (holds for the synthetic corpus): ASCII text with
      // length >= 3, so char positions == byte positions and the kernel's
      // short-text fallback branch never fires.
      Some(SimhashOracleCte +
        "SELECT doc_id, simhash FROM simhashes")),

    // E3: hamming-verified near-dup pairs via 16-bit-chunk bucketing.
    // With maxHamming=3 and four chunks the pigeonhole principle makes
    // the bucketed result EXACTLY equal to all-pairs hamming — asserted
    // against brute force in DedupSpec at sf0.01.
    QueryDef("q_dedup_simhash_pairs", (s, dir) =>
      Dedup.simhashNearDupPairs(Tables.documents(s, dir), "text", "doc_id")
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming")),
      // All-pairs 64-bit hamming over the same bit-exact hashes — the
      // brute-force formulation the chunk-bucketed Spark plan must equal
      // exactly (pigeonhole: maxHamming=3 < 4 chunks).
      Some(SimhashOracleCte +
        """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
          |FROM simhashes a JOIN simhashes b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin)),

    // E82: edit-distance fuzzy self-join via deletion-neighborhood
    // (FastSS) blocking + exact levenshtein verify — entity resolution
    // over supplier names without the O(n²) crossJoin the oracle runs
    QueryDef("q_fuzzy_join", (s, dir) =>
      FuzzyJoin.nearKeyPairs(Tables.supplier(s, dir), "s_name", "s_suppkey")
        .select(col("id_a"), col("id_b"), col("dist")),
      Some("""SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
        |       CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
        |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
        |WHERE levenshtein(a.s_name, b.s_name) <= 1""".stripMargin)),

    // E94: incremental (delta-vs-corpus) near-dup audit — the standing
    // MinHash index probed by each ingest batch: per delta doc, is it a
    // verified near-dup of the existing corpus (reject signal) and how
    // many within-batch partners does it have (within-batch keep-one
    // feed). Cost scales with |delta|·bands, never corpus×corpus.
    // Delta = doc_id % 5 == 4 (scale-invariant split, straddles the
    // planted dup families).
    QueryDef("q_dedup_incremental", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val existing = docs.filter(col("doc_id") % 5 =!= 4)
      val delta = docs.filter(col("doc_id") % 5 === 4)
      graft.ops.Dedup.incrementalNearDups(existing, delta, "text", "doc_id")
        .select(col("doc_id"), col("dup_of_existing"), col("n_delta_dups"))
    },
      Some("""WITH grams AS (
        |  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
        |  FROM (SELECT doc_id, text,
        |               unnest(range(1, greatest(length(text) - 3, 2))) AS i
        |        FROM documents)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_d, b.doc_id AS id_o, count(*) AS i
        |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id <> b.doc_id
        |          WHERE a.doc_id % 5 = 4
        |          GROUP BY 1, 2),
        |pairs AS (SELECT id_d, id_o FROM inter
        |          JOIN sizes sa ON sa.doc_id = id_d
        |          JOIN sizes sb ON sb.doc_id = id_o
        |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8)
        |SELECT d.doc_id,
        |       coalesce(bool_or(p.id_o % 5 <> 4), false) AS dup_of_existing,
        |       CAST(coalesce(sum(CASE WHEN p.id_o % 5 = 4 THEN 1 END), 0) AS BIGINT) AS n_delta_dups
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4) d
        |LEFT JOIN pairs p ON p.id_d = d.doc_id
        |GROUP BY d.doc_id""".stripMargin)),

    // E137: LSH banding S-curve planner — P[candidate] = 1−(1−j^r)^b
    // for every (bands, rowsPerBand) split of 64 hashes × a Jaccard
    // grid: the table a curator reads to pick banding before a dedup
    // run (and the quantitative story behind the E2 est-filter: at
    // 16×4 the curve passes ~0.5-Jaccard pairs that the 0.8 verify
    // rejects). Cross-engine determinism: j = c/100 (one correctly-
    // rounded division), then ONLY repeated-squaring multiplications —
    // r and b are powers of two, so no pow()/exp()/ln(), and IEEE
    // basic ops are bit-identical in any engine. p published in exact
    // basis points of the resulting double.
    QueryDef("q_lsh_scurve", (s, dir) => {
      val grid = s.range(1, 20).select((col("id") * 5).as("j_centi"))
      val confs = Seq((32, 2), (16, 4), (8, 8), (4, 16))
      val confDf = s.createDataFrame(confs).toDF("bands", "rows_per_band")
      grid.crossJoin(broadcast(confDf))
        .withColumn("j", col("j_centi").cast("double") / 100.0)
        .withColumn("j2", col("j") * col("j"))
        .withColumn("j4", col("j2") * col("j2"))
        .withColumn("j8", col("j4") * col("j4"))
        .withColumn("j16", col("j8") * col("j8"))
        .withColumn("x", lit(1.0) - when(col("rows_per_band") === 2, col("j2"))
          .when(col("rows_per_band") === 4, col("j4"))
          .when(col("rows_per_band") === 8, col("j8"))
          .otherwise(col("j16")))
        .withColumn("x2", col("x") * col("x"))
        .withColumn("x4", col("x2") * col("x2"))
        .withColumn("x8", col("x4") * col("x4"))
        .withColumn("x16", col("x8") * col("x8"))
        .withColumn("x32", col("x16") * col("x16"))
        .withColumn("p", lit(1.0) - when(col("bands") === 4, col("x4"))
          .when(col("bands") === 8, col("x8"))
          .when(col("bands") === 16, col("x16"))
          .otherwise(col("x32")))
        .select(col("bands"), col("rows_per_band"), col("j_centi"),
          floor(col("p") * 10000.0 + 0.5).cast("long").as("p_bp"))
    },
      // pure repeated-squaring arithmetic — every step is an IEEE basic
      // op (one division + multiplications), bit-identical in any engine;
      // no pow()/ln() whose libm rounding could differ
      Some("""WITH grid AS (SELECT unnest(range(1, 20)) * 5 AS j_centi),
        |confs AS (SELECT * FROM (VALUES (32, 2), (16, 4), (8, 8), (4, 16))
        |          AS t(bands, rows_per_band)),
        |c AS (SELECT bands, rows_per_band, j_centi,
        |             CAST(j_centi AS DOUBLE) / 100.0 AS j
        |      FROM grid CROSS JOIN confs),
        |s1 AS (SELECT *, j * j AS j2 FROM c),
        |s2 AS (SELECT *, j2 * j2 AS j4 FROM s1),
        |s3 AS (SELECT *, j4 * j4 AS j8 FROM s2),
        |s4 AS (SELECT *, j8 * j8 AS j16 FROM s3),
        |x0 AS (SELECT bands, rows_per_band, j_centi,
        |              1.0 - CASE rows_per_band WHEN 2 THEN j2 WHEN 4 THEN j4
        |                    WHEN 8 THEN j8 ELSE j16 END AS x FROM s4),
        |x1 AS (SELECT *, x * x AS x2 FROM x0),
        |x2_ AS (SELECT *, x2 * x2 AS x4 FROM x1),
        |x3_ AS (SELECT *, x4 * x4 AS x8 FROM x2_),
        |x4_ AS (SELECT *, x8 * x8 AS x16 FROM x3_),
        |x5_ AS (SELECT *, x16 * x16 AS x32 FROM x4_)
        |SELECT bands, rows_per_band, CAST(j_centi AS BIGINT) AS j_centi,
        |       CAST(floor((1.0 - CASE bands WHEN 4 THEN x4 WHEN 8 THEN x8
        |            WHEN 16 THEN x16 ELSE x32 END) * 10000.0 + 0.5) AS BIGINT) AS p_bp
        |FROM x5_""".stripMargin))
  )

  /** 64-bit wrap-around multiply `x * c mod 2^64` for DuckDB: 32-bit
    * hi/lo split so every intermediate fits signed INT128.
    */
  private def mulMod64(x: String, c: String): String =
    s"((($x & 4294967295)::HUGEINT * $c::HUGEINT" +
      s" + ((($x >> 32)::HUGEINT * $c::HUGEINT) % 4294967296::HUGEINT)" +
      s" * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT)::UBIGINT"

  /** Shared CTE prefix computing `simhashes(doc_id, simhash)` — a
    * bit-exact DuckDB port of [[graft.functions.HashKernels.simHash]]
    * (n=3): gram hash b1*B^2 + b2*B + b3 with B=1000003 over UTF-8
    * BYTES (extracted via hex(encode(text)) two-hex-digit slices — the
    * engine kernel hashes bytes, and the earlier ascii(substring(...))
    * form hashed CODEPOINTS, which coincides with bytes only on ASCII
    * text and overflowed INT32 on CJK codepoints — both caught by the
    * r11 adversarial corpus), splitmix64 finalizer (add
    * 0x9e3779b97f4a7c15, two xor-shift + wrap-multiply rounds), per-bit
    * +-1 majority vote, then re-sign the unsigned result to Spark's
    * LongType bit pattern.
    */
  private val SimhashOracleCte: String =
    s"""WITH hx AS (
       |  SELECT doc_id, hex(encode(text)) AS hs,
       |         octet_length(encode(text)) AS nb
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id,
       |         (CAST('0x' || substring(hs, 2*i - 1, 2) AS BIGINT) * 1000006000009
       |          + CAST('0x' || substring(hs, 2*i + 1, 2) AS BIGINT) * 1000003
       |          + CAST('0x' || substring(hs, 2*i + 3, 2) AS BIGINT))::UBIGINT AS h
       |  FROM hx, LATERAL (SELECT unnest(range(1, nb - 1)) AS i)
       |  UNION ALL
       |  -- texts shorter than the 3-byte window: the kernel returns
       |  -- mix64(rollingHash(text)) directly; a SINGLETON gram through
       |  -- the vote reproduces exactly that (vote of one element = its
       |  -- own bits), so short docs feed their whole-text polynomial in
       |  SELECT doc_id,
       |         (sum(CAST('0x' || substring(hs, 2*i - 1, 2) AS BIGINT)
       |              * (CASE nb - i WHEN 0 THEN 1 ELSE 1000003 END)))::UBIGINT AS h
       |  FROM (SELECT doc_id, hs, nb, unnest(range(1, nb + 1)) AS i
       |        FROM hx WHERE nb >= 1 AND nb < 3)
       |  GROUP BY doc_id
       |  UNION ALL
       |  SELECT doc_id, 0::UBIGINT AS h FROM hx WHERE nb = 0
       |),
       |m1 AS (SELECT doc_id,
       |         ((h::HUGEINT + 11400714819323198485::HUGEINT)
       |           % 18446744073709551616::HUGEINT)::UBIGINT AS x FROM grams),
       |m2 AS (SELECT doc_id, xor(x, x >> 30) AS x FROM m1),
       |m3 AS (SELECT doc_id, ${mulMod64("x", "13787848793156543929")} AS x FROM m2),
       |m4 AS (SELECT doc_id, xor(x, x >> 27) AS x FROM m3),
       |m5 AS (SELECT doc_id, ${mulMod64("x", "10723151780598845931")} AS x FROM m4),
       |sh AS (SELECT doc_id, xor(x, x >> 31) AS sh FROM m5),
       |votes AS (
       |  SELECT doc_id, b,
       |         sum(CASE WHEN (sh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM sh, LATERAL (SELECT unnest(range(0, 64)) AS b)
       |  GROUP BY doc_id, b
       |),
       |outbits AS (
       |  SELECT doc_id,
       |         sum(CASE WHEN v > 0 THEN (1::HUGEINT << b) ELSE 0 END) AS u
       |  FROM votes GROUP BY doc_id
       |),
       |simhashes AS (
       |  SELECT doc_id,
       |       (CASE WHEN u >= 9223372036854775808::HUGEINT
       |             THEN u - 18446744073709551616::HUGEINT ELSE u END)::BIGINT AS simhash
       |  FROM outbits
       |)
       |""".stripMargin
}
