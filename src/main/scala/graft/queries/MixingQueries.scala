package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis
import graft.sources.Tables

/** Training-set assembly: splits, packing, domain caps and mixture
  * weights, sampling, token budgets and shuffle shards. */
object MixingQueries {
  lazy val defs: Seq[QueryDef] = Seq(
    // E65: sequence packing — chunks filled into 128-token packs per
    // source shard by running token total (the window-parallel packing
    // policy; see Chunking.packByBudget). Output is the per-pack
    // manifest a trainer consumes.
    QueryDef("q_pack_chunks", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val chunks = graft.ops.Chunking.chunkFixed(docs, "text", "doc_id",
          size = 120, overlap = 20)
        .join(broadcast(docs.select(col("doc_id"), col("source"))), "doc_id")
        .withColumn("n_tok", TextAnalysis.tokenCountWs(col("chunk")).cast("long"))
      graft.ops.Chunking.packByBudget(chunks, "source",
          Seq("doc_id", "start"), "n_tok", budget = 128L)
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_chunks"), sum(col("n_tok")).as("n_tokens"))
    },
      Some("""WITH chunks AS (
        |  SELECT d.doc_id, d.source, i AS start,
        |         CAST(CASE WHEN length(substr(d.text, CAST(i AS INT), 120)) = 0 THEN 0
        |              ELSE len(string_split(substr(d.text, CAST(i AS INT), 120), ' ')) END AS BIGINT) AS n_tok
        |  FROM (SELECT doc_id, source, text,
        |               unnest(generate_series(1, greatest(length(text) - 20, 1), 100)) AS i
        |        FROM documents) d),
        |packed AS (
        |  SELECT source,
        |         CAST(floor((sum(n_tok) OVER (PARTITION BY source
        |                       ORDER BY doc_id, start
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |                     - n_tok) / 128.0) AS BIGINT) AS pack_id,
        |         n_tok
        |  FROM chunks)
        |SELECT source, pack_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM packed GROUP BY 1, 2""".stripMargin)),

    // E77: GLOBAL-order packing — one total order across every shard
    // (packs span sources; n_sources > 1 in the output proves it),
    // decomposed into per-bucket windows + a tiny bucket-offset prefix
    // so no row-level single-partition window ever forms. Bucket COUNT
    // is fixed at 4×shuffle-parallelism via monotoneIdBuckets (a
    // constant width like id/50 would grow the bucket-offset window
    // linearly with the corpus). The oracle is the non-scalable
    // formulation: one global window in DuckDB.
    QueryDef("q_pack_global", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val chunks = graft.ops.Chunking.chunkFixed(docs, "text", "doc_id",
          size = 120, overlap = 20)
        .join(broadcast(docs.select(col("doc_id"), col("source"))), "doc_id")
        .withColumn("n_tok", TextAnalysis.tokenCountWs(col("chunk")).cast("long"))
      val nBuckets = 4 * s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      graft.ops.Chunking.packByBudgetGlobal(chunks,
          graft.ops.Chunking.monotoneIdBuckets(docs, "doc_id", nBuckets),
          Seq("doc_id", "start"), "n_tok", budget = 128L)
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_chunks"), sum(col("n_tok")).as("n_tokens"),
          count_distinct(col("source")).as("n_sources"))
    },
      // global packing oracle: the straightforward single global window —
      // exactly what the two-phase bucket decomposition must reproduce
      Some("""WITH chunks AS (
        |  SELECT d.doc_id, d.source, i AS start,
        |         CAST(CASE WHEN length(substr(d.text, CAST(i AS INT), 120)) = 0 THEN 0
        |              ELSE len(string_split(substr(d.text, CAST(i AS INT), 120), ' ')) END AS BIGINT) AS n_tok
        |  FROM (SELECT doc_id, source, text,
        |               unnest(generate_series(1, greatest(length(text) - 20, 1), 100)) AS i
        |        FROM documents) d),
        |packed AS (
        |  SELECT source,
        |         CAST(floor((sum(n_tok) OVER (ORDER BY doc_id, start
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |                     - n_tok) / 128.0) AS BIGINT) AS pack_id,
        |         n_tok
        |  FROM chunks)
        |SELECT pack_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |FROM packed GROUP BY 1""".stripMargin)),

    // E66: per-domain caps (domain mixing) — each source keeps at most
    // N docs, selected by CONTENT-HASH order: deterministic across
    // runs/partitionings AND growth-stable (a kept doc stays kept when
    // new docs arrive unless they hash lower — no reshuffling the whole
    // mix on every crawl like row-number-by-arrival would).
    QueryDef("q_domain_cap", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(col("h").asc, col("doc_id").asc)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 15)
        .select(col("source"), col("rn").cast("long").as("rn"), col("doc_id"))
    },
      Some("""WITH h AS (
        |  SELECT doc_id, source, md5(text) AS h FROM documents),
        |r AS (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY h ASC, doc_id ASC) AS rn
        |  FROM h)
        |SELECT source, CAST(rn AS BIGINT) AS rn, doc_id
        |FROM r WHERE rn <= 15""".stripMargin)),

    // E67: mixture upsampling — the other half of domain mixing: each
    // source's docs replicated per an integer weight (src id mod 3 + 1
    // here), with a copy index for downstream shuffling. explode of a
    // sequence — rows scale by the weight, no shuffle at all.
    QueryDef("q_mix_upsample", (s, dir) => {
      // non-numeric source suffixes (adversarial corpus) weight 1:
      // under ANSI mode a plain cast THROWS on 'ersarial' (and DuckDB's
      // CAST errors) — both sides agree on coalesce(try_cast, 1)
      val weight = coalesce(
        expr("try_cast(substring(source, 4, 10) AS INT)") % 3 + 1,
        lit(1)).cast("int")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), weight.as("w"))
        .withColumn("copy_idx", explode(sequence(lit(1), col("w"))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"),
          count_distinct(col("doc_id")).as("n_docs"),
          max(col("w")).cast("long").as("weight"))
    },
      Some("""WITH w AS (
        |  SELECT doc_id, source,
        |         CAST(coalesce(TRY_CAST(substr(source, 4, 10) AS INT) % 3 + 1, 1)
        |              AS INT) AS w
        |  FROM documents),
        |rep AS (
        |  SELECT doc_id, source, w, unnest(range(1, w + 1)) AS copy_idx FROM w)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(max(w) AS BIGINT) AS weight
        |FROM rep GROUP BY source""".stripMargin)),

    // E22: deterministic content-hash train/val/test split
    QueryDef("q_split_assign", (s, dir) =>
      Tables.documents(s, dir)
        .select(graft.ops.Chunking.splitAssign(col("text")).as("split"))
        .groupBy(col("split")).agg(count(lit(1)).as("n_docs")),
      Some("""SELECT split, CAST(count(*) AS BIGINT) AS n_docs
        |FROM (SELECT CASE WHEN b < 80 THEN 'train'
        |                  WHEN b < 90 THEN 'val'
        |                  ELSE 'test' END AS split
        |      FROM (SELECT CAST(('0x' || substr(md5(text), 1, 4)) AS BIGINT) % 100 AS b
        |            FROM documents))
        |GROUP BY split""".stripMargin)),

    // E111: temperature-scaled mixture weights — the multi-source
    // sampling policy of multilingual/multi-domain pretraining
    // (α = 0.5: p_i ∝ tokens_i^α flattens the source distribution so
    // small sources aren't drowned). Token masses are exact longs;
    // √ is per-value deterministic; the only cross-source float sum
    // (the denominator) is an ORDERED fold over the sorted source
    // list — bit-identical on both engines; sources are few, so the
    // collected list is O(sources), never O(rows).
    QueryDef("q_mix_temperature", (s, dir) => {
      // O(sources) rows, but two consumers (denominator + final select)
      // each re-ran the corpus scan + token-count kernel when unstaged
      // (4 parquet scans in the r17 before-plan). Staged = one corpus
      // pass. Exact long sums — values unchanged.
      val bySource = graft.ops.Staging.stage(Tables.documents(s, dir)
        .select(col("source"), TextAnalysis.tokenCountWs(col("text"))
          .cast("long").as("t"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("tokens")))
      val denom = bySource
        .agg(sort_array(collect_list(struct(col("source"),
            sqrt(col("tokens").cast("double")).as("w")))).as("a"),
          sum(col("tokens")).as("tot"))
        .select(aggregate(col("a"), lit(0.0), (acc, x) => acc + x("w"))
          .as("denom"), col("tot"))
      bySource.crossJoin(broadcast(denom))
        .select(col("source"), col("n_docs"), col("tokens"),
          round(sqrt(col("tokens").cast("double")) / col("denom"), 6)
            .as("weight"),
          round(col("tokens").cast("double") / col("tot"), 6)
            .as("natural_share"),
          round(sqrt(col("tokens").cast("double")) / col("denom") /
            (col("tokens").cast("double") / col("tot")), 6).as("boost"))
    },
      Some("""WITH s AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(CASE WHEN length(text) = 0 THEN 0
        |                       ELSE len(string_split(text, ' ')) END) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source),
        |d AS (
        |  SELECT sum(sqrt(CAST(tokens AS DOUBLE)) ORDER BY source) AS denom,
        |         sum(tokens) AS tot
        |  FROM s)
        |SELECT source, n_docs, tokens,
        |       round(sqrt(CAST(tokens AS DOUBLE)) / denom, 6) AS weight,
        |       round(CAST(tokens AS DOUBLE) / tot, 6) AS natural_share,
        |       round(sqrt(CAST(tokens AS DOUBLE)) / denom
        |             / (CAST(tokens AS DOUBLE) / tot), 6) AS boost
        |FROM s, d""".stripMargin)),

    // E113: padding-waste audit — what fixed-length batching costs per
    // source at seq-len 64/128: sequences, wasted pad tokens, waste
    // fraction. Pure integer arithmetic end to end (ceil-div as
    // (t + L − 1) div L); the informed input to choosing a packing
    // strategy (q_pack_chunks / q_pack_global are the remedy).
    QueryDef("q_padding_waste", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("t"))
        .select(col("source"), col("t"),
          // ceil-div in exact integer arithmetic (div = floored long
          // division on both engines; Spark's / on longs is double)
          expr("(t + 63) div 64").as("s64"),
          expr("(t + 127) div 128").as("s128"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("t")).as("tokens"),
          sum(col("s64")).as("seqs_64"),
          sum(col("s64") * 64L - col("t")).as("waste_64"),
          sum(col("s128")).as("seqs_128"),
          sum(col("s128") * 128L - col("t")).as("waste_128"))
        .select(col("source"), col("n_docs"), col("tokens"),
          col("seqs_64"), col("waste_64"),
          // basis points via FLOORED integer division: waste/(seqs·L)
          // is a dyadic rational that lands exactly on decimal ties
          // (e.g. 1647/3200 = 0.5146875), where HALF_UP (Spark) and
          // half-even (DuckDB) round() disagree — integer div never ties
          expr("(waste_64 * 10000) div (seqs_64 * 64)").as("waste_bp_64"),
          col("seqs_128"), col("waste_128"),
          expr("(waste_128 * 10000) div (seqs_128 * 128)").as("waste_bp_128")),
      Some("""WITH t AS (
        |  SELECT source,
        |         CAST(CASE WHEN length(text) = 0 THEN 0
        |                   ELSE len(string_split(text, ' ')) END AS BIGINT) AS t
        |  FROM documents),
        |s AS (SELECT source, t, (t + 63) // 64 AS s64, (t + 127) // 128 AS s128 FROM t)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(t) AS BIGINT) AS tokens,
        |       CAST(sum(s64) AS BIGINT) AS seqs_64,
        |       CAST(sum(s64 * 64 - t) AS BIGINT) AS waste_64,
        |       CAST(sum(s64 * 64 - t) * 10000 // (sum(s64) * 64) AS BIGINT) AS waste_bp_64,
        |       CAST(sum(s128) AS BIGINT) AS seqs_128,
        |       CAST(sum(s128 * 128 - t) AS BIGINT) AS waste_128,
        |       CAST(sum(s128 * 128 - t) * 10000 // (sum(s128) * 128) AS BIGINT) AS waste_bp_128
        |FROM s GROUP BY source""".stripMargin)),

    // E91: deterministic weighted sampling — systematic selection by
    // cumulative weight (every STEP-th character of corpus mass keeps
    // one document). Integer cumsum per source partition ⇒ exact,
    // reproducible, and growth-stable: appending documents with higher
    // ids never changes earlier picks — the q_domain_cap discipline
    // extended to weighted selection. One partitioned window, zero
    // joins; sampling rate self-adjusts to each doc's weight.
    QueryDef("q_weighted_sample", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // step is a FIXED constant (not derived from corpus mass): a
      // data-dependent step would break growth-stability — appending
      // documents would move every earlier boundary. 500 chars ≈ one
      // pick per ~2 docs at the synthetic doc sizes, so the
      // boundary-crossing predicate genuinely fires at every sf.
      val step = 500L
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars").cast("long").as("wt"))
        .withColumn("cum", sum(col("wt")).over(w))
        .filter(expr(s"cum div $step") > expr(s"(cum - wt) div $step"))
        .select(col("source"), col("doc_id"), col("wt"), col("cum"))
    },
      Some("""WITH cum AS (
        |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS wt,
        |         CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM documents)
        |SELECT source, doc_id, wt, cum FROM cum
        |WHERE cum // 500 > (cum - wt) // 500""".stripMargin)),

    // E147: token-budget selection — fill an exact token budget (half
    // the corpus's tokens here) with the best-quality documents:
    // rank by (quality desc, doc_id), keep docs while the running token
    // total stays ≤ budget. The scalable shape is TWO-PHASE, never a
    // corpus-wide window: (1) per-quality-LEVEL token masses (quality
    // is quantized to ≤10⁴ levels — corpus-linear combinable agg), (2)
    // cumulative sum over the bounded level frame (≤10⁴ rows, the
    // repo's bounded-bucket window shape), (3) whole levels under the
    // budget pass by broadcast-join; ONLY the single boundary level —
    // corpus/10⁴-ish rows — ranks its own docs. Equivalent by
    // construction to the row-level cumsum the oracle runs.
    QueryDef("q_token_budget", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // d is STAGED (r13): its two consumers — the level aggregate and
      // the broadcast-join probe — sit on different plan shapes (the
      // probe side has no exchange for reuse to dedup, broadcast joins
      // shuffle nothing), so unstaged they each re-ran the
      // quality+token kernel over the corpus: the k1000 probe measured
      // 170 s with the tokenize scan dominating, twice-paid. The
      // staged frame is 4 thin columns (~40 B/row, no text), DISK_ONLY,
      // released when the query's scope closes.
      val d = graft.ops.Staging.stage(
        Tables.roundRobinSpread(Tables.documents(s, dir)).select(
          col("doc_id"), col("source"),
          round(TextAnalysis.qualityScore(col("text")) * 10000).cast("long").as("qm"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("tok")))
      val levels = d.groupBy(col("qm")).agg(sum(col("tok")).as("lt"))
      // budget derived from the LEVEL frame (Σ lt ≡ Σ tok) — a third
      // full pass of the text kernel over the corpus bought nothing
      val budget = levels.agg(expr("sum(lt) div 2").as("b"))
      val wl = Window.orderBy(col("qm").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val lcum = levels.withColumn("cum", sum(col("lt")).over(wl))
        .withColumn("before", col("cum") - col("lt"))
        .crossJoin(broadcast(budget))
      val dj = d.join(broadcast(lcum.select(col("qm"), col("before"),
        col("cum"), col("b"))), "qm")
      val fullLevels = dj.filter(col("cum") <= col("b"))
      val wb = Window.partitionBy(col("qm")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // `before <= b` (not <): when a level starts EXACTLY on the
      // budget, the row-level definition still admits its leading
      // zero-token docs (running total stays == budget) — `<` would
      // drop them and diverge from the oracle on any corpus with
      // empty-text documents
      val boundary = dj.filter(col("before") <= col("b") && col("cum") > col("b"))
        .withColumn("ct", sum(col("tok")).over(wb))
        .filter(col("before") + col("ct") <= col("b"))
        .drop("ct")
      fullLevels.union(boundary)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs_selected"),
          sum(col("tok")).as("tokens_selected"),
          min(col("qm")).as("min_quality_milli"))
    },
      // row-level replay of the two-phase selection: a global cumsum over
      // (qm DESC, doc_id) — equivalent by construction (level cum =
      // last row's running cum; boundary split keeps the same prefix)
      Some {
        val stops = TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString(", ")
        s"""WITH q AS (
           |  SELECT doc_id, source,
           |         CAST(floor((least(n_tok / 50.0, 1.0) * 0.4
           |           + least(CASE WHEN n_tok = 0 THEN 0.0 ELSE stop_hits / n_tok END * 5.0, 1.0) * 0.3
           |           + CASE WHEN n_tok > 0 AND (length(text) - (n_tok - 1.0)) / n_tok >= 3.0
           |                       AND (length(text) - (n_tok - 1.0)) / n_tok <= 10.0 THEN 1.0 ELSE 0.0 END * 0.3
           |           - least(CASE WHEN length(text) = 0 THEN 0.0
           |                        ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / length(text) END * 5.0, 1.0) * 0.2
           |           ) * 10000.0 + 0.5) AS BIGINT) AS qm,
           |         CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS BIGINT) AS tok
           |  FROM (SELECT doc_id, source, text,
           |               CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS DOUBLE) AS n_tok,
           |               CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS DOUBLE) AS stop_hits
           |        FROM documents)
           |),
           |b AS (SELECT CAST(sum(tok) // 2 AS BIGINT) AS budget FROM q),
           |ord AS (SELECT *, sum(tok) OVER (ORDER BY qm DESC, doc_id
           |                   ROWS UNBOUNDED PRECEDING) AS cum FROM q)
           |SELECT source, count(*) AS n_docs_selected,
           |       CAST(sum(tok) AS BIGINT) AS tokens_selected,
           |       min(qm) AS min_quality_milli
           |FROM ord, b WHERE cum <= budget
           |GROUP BY source""".stripMargin
      }),

    // E146: deterministic shuffle-shard — the reproducible-training
    // corpus ordering: every doc gets a seeded md5 shuffle key, a shard
    // (key mod n), and its position within the shard (rank by key).
    // Same seed ⇒ byte-identical epoch ordering on any cluster, any
    // partitioning, any run — the property trainers need to resume or
    // replay a run. The window partitions by SHARD (parallel, each
    // shard sorts only its own keys); at 100 TB shard count scales with
    // the corpus so per-shard sorts stay bounded, and the output is
    // directly consumable by a partitioned sink (E24) as one file per
    // shard. Aggregated per shard here (size + order checksum) so the
    // artifact is small and hash-stable at any scale.
    QueryDef("q_shuffle_shard", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val nShards = 8
      val keyed = Tables.documents(s, dir).select(col("doc_id"),
        conv(substring(md5(concat(lit("epoch0:"),
          col("doc_id").cast("string"))), 1, 12), 16, 10)
          .cast("long").as("k"))
        .withColumn("shard", (col("k") % nShards).cast("int"))
      val w = Window.partitionBy(col("shard")).orderBy(col("k"), col("doc_id"))
      keyed.withColumn("pos", row_number().over(w))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          // order checksum: Σ pos·doc_id is invariant iff every doc
          // holds its exact position — any swap changes the sum
          sum(col("pos") * col("doc_id")).as("order_checksum"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("shard"))
    },
      Some("""WITH keyed AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS k
        |  FROM documents
        |),
        |sharded AS (
        |  SELECT doc_id, CAST(k % 8 AS INTEGER) AS shard,
        |         row_number() OVER (PARTITION BY k % 8 ORDER BY k, doc_id) AS pos
        |  FROM keyed
        |)
        |SELECT shard, count(*) AS n_docs,
        |       CAST(sum(pos * doc_id) AS BIGINT) AS order_checksum,
        |       min(doc_id) AS first_doc
        |FROM sharded GROUP BY shard""".stripMargin))
  )
}
