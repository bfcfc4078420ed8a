package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{Multimodal, TextAnalysis}
import graft.sources.Tables

/** Corpus curation: the end-to-end pipeline and its lineage and
  * provenance, weak labels and their propagation, quality calibration,
  * per-source reports and importance weights, and multimodal payloads. */
object CurationQueries {
  lazy val defs: Seq[QueryDef] = Seq(
    // E8: multimodal plumbing — batched feature extraction over payloads
    QueryDef("q_multimodal_meta", (s, dir) => {
      val media = Multimodal.mediaFromDocuments(Tables.documents(s, dir))
      // mean_intensity: raw double (exact-int division, identical in any
      // IEEE engine — round() there only adds decimal-tie risk);
      // byte_entropy: rounded, because ln() differs by ulps across libms
      Multimodal.extractFeatures(s, media).toDF()
        .select(col("media_id"), col("mime"), col("n_bytes"), col("width"),
          col("height"), col("mean_intensity"),
          round(col("byte_entropy"), 4).as("byte_entropy"))
    },
      // the whole multimodal plumbing is oracle-checkable: the ordered
      // entropy sum (ORDER BY code) replicates the decoder's ascending
      // histogram walk bit-for-bit
      // byte-exact (r11 adversarial fix): the engine decoder reads UTF-8
      // PAYLOAD bytes, so the oracle extracts bytes via hex(encode(text))
      // slices — the earlier ord(substr(text,...)) form used CODEPOINTS
      // weighted by char counts (identical only on ASCII) and its inner
      // stats join dropped empty-payload docs the decoder still emits
      Some("""WITH b AS (
        |  SELECT doc_id AS media_id,
        |         hex(encode(text)) AS hs,
        |         octet_length(encode(text)) AS nb,
        |         CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |              WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |              ELSE 'video/mp4' END AS mime,
        |         CAST(length(text) AS BIGINT) AS n_bytes
        |  FROM documents),
        |codes AS (
        |  SELECT media_id, CAST('0x' || substring(hs, 2*i - 1, 2) AS INT) AS code
        |  FROM (SELECT media_id, hs, unnest(range(1, nb + 1)) AS i FROM b)),
        |hist AS (SELECT media_id, code, count(*) AS c FROM codes GROUP BY 1, 2),
        |stats AS (
        |  SELECT h.media_id,
        |         CAST(sum(c * code) AS DOUBLE) / any_value(greatest(nb, 1)) AS mean_raw,
        |         -sum((CAST(c AS DOUBLE) / nb) * ln(CAST(c AS DOUBLE) / nb) / ln(2) ORDER BY code) AS ent_raw
        |  FROM hist h JOIN b USING (media_id) GROUP BY h.media_id)
        |SELECT b.media_id, mime, n_bytes,
        |       CAST(greatest(1, floor(sqrt(CAST(greatest(nb, 1) AS DOUBLE)))) AS INTEGER) AS width,
        |       CAST(greatest(1, floor(sqrt(CAST(greatest(nb, 1) AS DOUBLE)))) AS INTEGER) AS height,
        |       coalesce(mean_raw, 0.0) AS mean_intensity,
        |       round(coalesce(ent_raw, 0.0), 4) + 0.0 AS byte_entropy
        |FROM b LEFT JOIN stats USING (media_id)""".stripMargin)),

    // E133: REAL container decode — payloads carry genuine PNG/JPEG/WAV
    // structure (chunk CRCs, marker segments, RIFF alignment) and the
    // batched mapPartitions pass PARSES dimensions / sample counts from
    // the bytes, magic-sniffed. The oracle recomputes the expected
    // fields from the generator's id-arithmetic independently, so a
    // misparsed offset anywhere in the walk hash-mismatches.
    QueryDef("q_media_dims", (s, dir) => {
      val media = Multimodal.mediaWithHeaders(
        s, Tables.roundRobinSpread(Tables.documents(s, dir)))
      Multimodal.decodeMedia(s, media).toDF()
        .select(col("media_id"), col("fmt"), col("width"), col("height"),
          col("channels"), col("sample_rate"), col("n_samples"), col("n_bytes"))
    },
      // the oracle derives every field from the GENERATOR's arithmetic
      // (never looking at the bytes), while the Spark side PARSES the
      // container structure — agreement proves the parse. Header
      // overheads are structural constants: PNG 8 sig + 25 IHDR + 12 IDAT
      // + 12 IEND = 57; JPEG 2 SOI + 18 APP0 + 19 SOF0 + 14 SOS + 2 EOI
      // = 55; WAV 12 RIFF + 24 fmt + 8 data-header = 44.
      Some("""WITH b AS (
        |  SELECT doc_id AS id, CAST(strlen(text) AS BIGINT) AS bl FROM documents),
        |f AS (
        |  SELECT id, bl,
        |         CASE id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'jpeg' END AS fmt,
        |         CASE WHEN id % 3 = 1 THEN 2 * (1 + id % 2) ELSE 0 END AS block
        |  FROM b)
        |SELECT id AS media_id, fmt,
        |  CAST(CASE id % 3 WHEN 0 THEN 16 + id % 317
        |       WHEN 2 THEN 16 + id % 251 ELSE 0 END AS INTEGER) AS width,
        |  CAST(CASE id % 3 WHEN 0 THEN 16 + (id * 7) % 211
        |       WHEN 2 THEN 16 + (id * 5) % 173 ELSE 0 END AS INTEGER) AS height,
        |  CAST(CASE WHEN id % 3 = 1 THEN 1 + id % 2 ELSE 0 END AS INTEGER) AS channels,
        |  CAST(CASE WHEN id % 3 = 1 THEN 8000 * (1 + (id // 3) % 3) ELSE 0 END AS INTEGER) AS sample_rate,
        |  CAST(CASE WHEN id % 3 = 1 THEN (bl - bl % block) // block ELSE 0 END AS BIGINT) AS n_samples,
        |  CAST(CASE id % 3 WHEN 0 THEN 57 + bl WHEN 2 THEN 55 + bl
        |       ELSE 44 + bl - bl % block END AS BIGINT) AS n_bytes
        |FROM f""".stripMargin)),

    // E8: video frame sampling — deterministic offsets, 1 media row →
    // 8 frame rows, per-frame byte reduction (decode stubbed as byte
    // windows; see Multimodal.sampleFrames)
    QueryDef("q_frame_sample", (s, dir) => {
      val media = Multimodal.mediaFromDocuments(
        Tables.documents(s, dir)).filter(col("mime") === "video/mp4")
      Multimodal.sampleFrames(s, media, frameSize = 64, nFrames = 8).toDF()
        .select(col("media_id"), col("frame_idx"), col("frame_off"), col("byte_sum"))
    },
      // the FakeDecoder's features are deterministic byte statistics, so
      // frame offsets are pure integer arithmetic; byte_sum reproduces the
      // window reduction via per-char codepoints (corpus is ASCII, so
      // char position == byte offset)
      Some("""WITH media AS (
        |  SELECT doc_id AS media_id, text, length(text) AS len
        |  FROM documents WHERE doc_id % 3 = 2 AND length(text) >= 64),
        |frames AS (
        |  SELECT media_id, CAST(f.i AS INT) AS frame_idx,
        |         (f.i * (len - 64)) // 7 AS frame_off, text
        |  FROM media, (SELECT unnest(range(8)) AS i) f),
        |chars AS (
        |  SELECT media_id, frame_idx, frame_off,
        |         ord(substr(text, CAST(frame_off + p + 1 AS INT), 1)) AS code
        |  FROM (SELECT *, unnest(range(64)) AS p FROM frames))
        |SELECT media_id, frame_idx, CAST(frame_off AS BIGINT) AS frame_off,
        |       CAST(sum(code) AS BIGINT) AS byte_sum
        |FROM chars GROUP BY 1, 2, 3""".stripMargin)),

    // E149: exact media dedup by payload digest — binary columns join
    // the dedup stack (text and embedding dedup existed; a media lake
    // dedups by content address). Digest computed in the scan; the
    // shuffle carries 16-byte keys, never payloads. The query publishes
    // the per-mime + ALL content-address summary (meaningful at every
    // sf — the testdata's exact-dup load only appears at sf0.1+);
    // the per-digest group form (cross-mime keep-rule) is
    // Multimodal.dedupMediaExact, pinned in MultimodalSpec on
    // constructed duplicates.
    QueryDef("q_media_dedup", (s, dir) =>
      Multimodal.mediaDedupStats(
        Multimodal.mediaFromDocuments(Tables.documents(s, dir)))
        .orderBy(col("mime_group")),
      // md5 over the payload bytes: DuckDB's md5(VARCHAR) hashes the
      // UTF-8 bytes — exactly the engine's md5(encode(text, 'UTF-8'))
      Some("""WITH m AS (
        |  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |              WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |              ELSE 'video/mp4' END AS mime,
        |         md5(text) AS digest,
        |         CAST(length(text) AS BIGINT) AS n_bytes
        |  FROM documents),
        |g AS (
        |  SELECT mime AS mime_group, digest, n_bytes FROM m
        |  UNION ALL
        |  SELECT 'ALL' AS mime_group, digest, n_bytes FROM m),
        |base AS (
        |  SELECT mime_group, CAST(count(*) AS BIGINT) AS n_media,
        |         CAST(count(DISTINCT digest) AS BIGINT) AS n_distinct,
        |         CAST(sum(n_bytes) AS BIGINT) AS bytes_total
        |  FROM g GROUP BY 1),
        |dd AS (
        |  SELECT mime_group, CAST(sum(b) AS BIGINT) AS bytes_dedup FROM (
        |    SELECT mime_group, digest, min(n_bytes) AS b
        |    FROM g GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT base.mime_group, n_media, n_distinct,
        |       n_media - n_distinct AS n_dup_copies, bytes_total, bytes_dedup
        |FROM base JOIN dd USING (mime_group)""".stripMargin)),

    // E156: curation-label propagation over the near-dup graph — a
    // curation decision made once must reach every near-duplicate, or
    // filtered content re-enters through its copies. Per dup component
    // the member weak-labels vote (majority; ties → the label carried
    // by the smallest member id); singletons keep their own label.
    // Composes E152's label model with the minhash closure; the
    // `changed` flag marks docs the graph overrode. Scale shape: the
    // funnel-sized pair set + O(log n) closure (the E117 machinery),
    // one root-keyed tally shuffle.
    QueryDef("q_component_labels", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val comps = graft.ops.PairFunnel.componentLabels(docs, "text", "doc_id", dir)
      val rooted = graft.ops.WeakLabels.weakLabels(docs)
        .select(col("doc_id"), col("label"))
        .join(comps.select(col("id").as("doc_id"), col("root")),
          Seq("doc_id"), "left")
        .withColumn("root", coalesce(col("root"), col("doc_id")))
      graft.ops.WeakLabels.componentMajorityLabel(rooted)
    },
      // weak-labels replay: LF votes from the same exact counts, the
      // 8-counter agreement stats, micro-unit weights via one rounded
      // division of exact ints (positive → half-up == half-away), and
      // the integer dot-product score
      // component-label propagation replay: the exact 5-gram jaccard
      // pair set + recursive closure (the q_dup_component_sizes block),
      // the shared weak-label CTEs, then the per-root majority vote with
      // the (n DESC, min member id) tie order
      Some("WITH RECURSIVE\n" +
        """grams AS (
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
          |""".stripMargin + WeakLabelVoteCtes + ",\n" +
        """wl AS (
          |  SELECT vm.doc_id,
          |         CAST(sign(lf_len * w_len + lf_stop * w_stop + lf_digit * w_digit
          |              + lf_upper * w_upper) AS BIGINT) AS label
          |  FROM vm, w),
          |rooted AS (
          |  SELECT wl.doc_id, coalesce(r.root, wl.doc_id) AS root, wl.label
          |  FROM wl LEFT JOIN roots r ON r.id = wl.doc_id),
          |tally AS (
          |  SELECT root, label, count(*) AS n, min(doc_id) AS min_id
          |  FROM rooted GROUP BY 1, 2),
          |comp AS (
          |  SELECT root, label AS comp_label FROM (
          |    SELECT *, row_number() OVER (PARTITION BY root
          |                ORDER BY n DESC, min_id) AS rk
          |    FROM tally)
          |  WHERE rk = 1)
          |SELECT rooted.doc_id, rooted.root, rooted.label AS own_label,
          |       comp.comp_label,
          |       CAST(CASE WHEN rooted.label <> comp.comp_label THEN 1 ELSE 0 END AS BIGINT) AS changed
          |FROM rooted JOIN comp USING (root)""".stripMargin)),

    // E152: weak supervision — 4 labeling functions voting
    // {-1, 0, +1} on exact integer counts, combined by the one-step
    // agreement-weighted label model (weights = micro-unit agreement
    // with the unweighted majority over each LF's coverage). One text
    // scan for votes, a 2K-counter combinable agg collected as literal
    // weights, one labeling pass — and every number is exact, so the
    // whole label model carries a DuckDB oracle.
    QueryDef("q_weak_labels", (s, dir) =>
      graft.ops.WeakLabels.weakLabels(Tables.documents(s, dir)),
      Some("WITH " + WeakLabelVoteCtes + "\n" +
        s"""         |SELECT vm.doc_id,
           |       CAST(lf_len AS BIGINT) AS lf_len,
           |       CAST(lf_stop AS BIGINT) AS lf_stop,
           |       CAST(lf_digit AS BIGINT) AS lf_digit,
           |       CAST(lf_upper AS BIGINT) AS lf_upper,
           |       CAST(lf_len * w_len + lf_stop * w_stop + lf_digit * w_digit
           |            + lf_upper * w_upper AS BIGINT) AS score_micro,
           |       CAST(sign(lf_len * w_len + lf_stop * w_stop + lf_digit * w_digit
           |            + lf_upper * w_upper) AS BIGINT) AS label
           |FROM vm, w""".stripMargin)),

    // E70: per-source dataset card — the curator's per-crawl report:
    // volume, quality mass, language mix, exact-dup load, token supply,
    // ALL in one scan-and-aggregate pass composing five kernels (no
    // second scan per metric — compare q_profile's per-column story).
    QueryDef("q_dataset_card", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"), col("n_chars"),
          round(TextAnalysis.qualityScore(col("text")) * 10000).cast("long").as("qm"),
          (TextAnalysis.langIdHeuristic(col("text")) === "en").cast("long").as("is_en"),
          md5(col("text")).as("fp"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("qm")).as("quality_milli_sum"),
          sum(col("is_en")).as("n_en"),
          (count(lit(1)) - count_distinct(col("fp"))).as("n_exact_dup_docs"),
          sum(col("tok")).as("n_tokens_ws")),
      // same generated lang/quality formulas as q_lang_id / q_text_quality,
      // composed into the one-pass per-source rollup
      Some {
        val cases = TextAnalysis.LangMarkers.map { case (lang, words) =>
          val set = words.map(w => s"'$w'").mkString(", ")
          (lang, s"len(list_filter(string_split(text, ' '), t -> t IN ($set)))")
        }
        val hitDefs = cases.map { case (l, e) => s"$e AS h_$l" }.mkString(",\n       ")
        val gmax = cases.map(c => s"h_${c._1}").mkString("greatest(", ", ", ")")
        val stops = TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString(", ")
        s"""WITH per_doc AS (
           |  SELECT source, n_chars,
           |         CAST(floor((least(n_tok / 50.0, 1.0) * 0.4
           |           + least(CASE WHEN n_tok = 0 THEN 0.0 ELSE stop_hits / n_tok END * 5.0, 1.0) * 0.3
           |           + CASE WHEN n_tok > 0 AND (length(text) - (n_tok - 1.0)) / n_tok >= 3.0
           |                       AND (length(text) - (n_tok - 1.0)) / n_tok <= 10.0 THEN 1.0 ELSE 0.0 END * 0.3
           |           - least(CASE WHEN length(text) = 0 THEN 0.0
           |                        ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / length(text) END * 5.0, 1.0) * 0.2
           |           ) * 10000.0 + 0.5) AS BIGINT) AS qm,
           |         CASE WHEN h_en = $gmax AND $gmax > 0 THEN 1 ELSE 0 END AS is_en,
           |         md5(text) AS fp,
           |         CAST(CASE WHEN length(text) = 0 THEN 0
           |              ELSE len(string_split(text, ' ')) END AS BIGINT) AS tok
           |  FROM (SELECT source, n_chars, text,
           |               CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS DOUBLE) AS n_tok,
           |               CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS DOUBLE) AS stop_hits,
           |               $hitDefs
           |        FROM documents))
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
           |       CAST(sum(qm) AS BIGINT) AS quality_milli_sum,
           |       CAST(sum(is_en) AS BIGINT) AS n_en,
           |       CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dup_docs,
           |       CAST(sum(tok) AS BIGINT) AS n_tokens_ws
           |FROM per_doc GROUP BY source""".stripMargin
      }),

    // E15: the training-data pipeline END TO END — enrich (lang-id,
    // quality, tokens) → filter → near-dup dedup with closure → corpus
    // stats per source. One oracle covers the composed whole.
    QueryDef("q_corpus_pipeline", (s, dir) => {
      // The regex-heavy enrichment runs in ONE pass — and since r16,
      // ONCE PER SESSION: q_provenance runs the identical
      // enrich+filter, so the staged frame moved from the per-query
      // Staging layer into the session-shared PairFunnel (the same
      // 100 TB staging-table move, now shared by both consumers; with
      // a funnelDir it IS a staging table). (spread first: the three
      // regex kernels otherwise run in the one-task scan of a
      // single-row-group file.) (A "skinny staging" variant — stage
      // only the numeric columns, re-derive the filter in the dedup
      // scan — was measured at +2 s: the two extra regex-kernel corpus
      // passes cost more than serializing the staged text column.)
      val enriched = enrichedCorpus(s, dir)
      // r16: route the closure through PairFunnel (keyed by the
      // FILTERED corpus plan) — q_provenance runs the identical
      // enrich+filter, so the two queries share ONE banding+verify+
      // closure build per session instead of each paying it (guide
      // §2.4: don't recompute what an earlier identical stage built;
      // same sharing discipline as the 8 raw-corpus funnel consumers).
      val losers = graft.ops.PairFunnel.componentLabels(
          enriched.select(col("doc_id"), col("text")), "text", "doc_id", dir)
        .filter(col("root") =!= col("id"))
        .select(col("id").as("doc_id"))
      enriched.join(losers, Seq("doc_id"), "left_anti")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          (sum(round(col("quality") * 10000).cast("long")).cast("double")
            / 10000.0 / count(lit(1))).as("mean_quality"))
    },
      Some(CurationPipelineCte +
        """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
          |       CAST(sum(CAST(round(quality * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 / count(*) AS mean_quality
          |FROM kept
          |WHERE NOT EXISTS (SELECT 1 FROM reach WHERE s = doc_id AND d < doc_id)
          |GROUP BY source""".stripMargin)),

    // E126: per-document curation lineage — row-level explainability
    // for the filter funnel ("why was my document dropped?"): every doc
    // carries a flag per gate (language, quality, repetition,
    // exact-dup loser) plus the final keep verdict. Aggregate funnels
    // (q_corpus_pipeline, q_dq_quarantine) tell you HOW MANY fell;
    // this tells you WHICH and WHY — the audit trail data-governance
    // asks for. Composes four existing kernels in one pass each.
    QueryDef("q_curation_lineage", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val rep = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("nw"), count(lit(1)).as("nd"), max(col("c")).as("tc"))
      // r17, examined and left in this form after two measured
      // alternatives lost: (a) keeper as a partition-only window min is
      // a plan NO-OP — Spark 4's optimizer rewrites it back into this
      // very agg + join (byte-identical plan dumps); (b) staging the
      // enriched frame so md5 runs once measured ~1.4x SLOWER at the
      // 500k-doc probe (17.9 vs 13.1 s interleaved) — the pruned
      // md5-only second scan is cheaper than the staging round-trip.
      val keepers = docs.select(col("doc_id"), md5(col("text")).as("fp"))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("keeper"))
      docs
        .select(col("doc_id"), md5(col("text")).as("fp"),
          TextAnalysis.langIdHeuristic(col("text")).as("lang_guess"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .join(rep, Seq("doc_id"))
        .join(keepers, Seq("fp"))
        .select(col("doc_id"),
          (col("lang_guess") =!= "en").as("lang_fail"),
          (col("quality") < 0.45).as("quality_fail"),
          (col("nd").cast("double") / col("nw") < 0.3 ||
            col("tc").cast("double") / col("nw") > 0.2).as("repetition_fail"),
          (col("doc_id") =!= col("keeper")).as("dup_loser"))
        .withColumn("kept",
          !col("lang_fail") && !col("quality_fail") &&
            !col("repetition_fail") && !col("dup_loser"))
    },
      Some {
        val stops = TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString(", ")
        val cases = TextAnalysis.LangMarkers.map { case (lang, words) =>
          val set = words.map(w => s"'$w'").mkString(", ")
          (lang, s"len(list_filter(string_split(text, ' '), t -> t IN ($set)))")
        }
        val hitDefs = cases.map { case (l, e) => s"$e AS h_$l" }.mkString(", ")
        val gmax = cases.map(c => s"h_${c._1}").mkString("greatest(", ", ", ")")
        val hitCols = cases.map(c => s"h_${c._1}").mkString(", ")
        val whens = cases.map { case (l, _) =>
          s"WHEN h_$l = gmax AND gmax > 0 THEN '$l'"
        }.mkString(" ")
        s"""WITH lang AS (
           |  SELECT doc_id, CASE $whens ELSE 'und' END AS lang_guess
           |  FROM (SELECT doc_id, $gmax AS gmax, $hitCols
           |        FROM (SELECT doc_id, $hitDefs FROM documents))),
           |qual AS (
           |  SELECT doc_id,
           |       CAST(CAST(floor((least(n_tok / 50.0, 1.0) * 0.4
           |             + least(CASE WHEN n_tok = 0 THEN 0.0 ELSE stop_hits / n_tok END * 5.0, 1.0) * 0.3
           |             + CASE WHEN n_tok > 0 AND (length(text) - (n_tok - 1.0)) / n_tok >= 3.0
           |                         AND (length(text) - (n_tok - 1.0)) / n_tok <= 10.0 THEN 1.0 ELSE 0.0 END * 0.3
           |             - least(CASE WHEN length(text) = 0 THEN 0.0
           |                          ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / length(text) END * 5.0, 1.0) * 0.2
           |             ) * 10000.0 + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS quality
           |  FROM (SELECT doc_id, text,
           |               CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS DOUBLE) AS n_tok,
           |               CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS DOUBLE) AS stop_hits
           |        FROM documents)),
           |rep AS (
           |  SELECT doc_id, sum(c) AS nw, count(*) AS nd, max(c) AS tc
           |  FROM (SELECT doc_id, w, count(*) AS c
           |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
           |        WHERE length(w) > 0 GROUP BY doc_id, w)
           |  GROUP BY doc_id),
           |fpt AS (SELECT doc_id, md5(text) AS fp FROM documents),
           |keepers AS (SELECT fp, min(doc_id) AS keeper FROM fpt GROUP BY fp)
           |SELECT d.doc_id,
           |       (lang_guess <> 'en') AS lang_fail,
           |       (quality < 0.45) AS quality_fail,
           |       (nd / CAST(nw AS DOUBLE) < 0.3 OR tc / CAST(nw AS DOUBLE) > 0.2) AS repetition_fail,
           |       (d.doc_id <> keeper) AS dup_loser,
           |       (NOT (lang_guess <> 'en') AND NOT (quality < 0.45)
           |        AND NOT (nd / CAST(nw AS DOUBLE) < 0.3 OR tc / CAST(nw AS DOUBLE) > 0.2)
           |        AND d.doc_id = keeper) AS kept
           |FROM documents d
           |JOIN lang USING (doc_id) JOIN qual USING (doc_id)
           |JOIN rep USING (doc_id) JOIN fpt USING (doc_id)
           |JOIN keepers USING (fp)""".stripMargin
      }),

    // E127: end-to-end curation PROVENANCE — one record per SURVIVING
    // document of the corpus pipeline carrying where it came from and
    // what the pipeline did to it: origin source, the near-dup family
    // it represents (keep-first ⇒ root id is its own id; family size
    // and an id checksum over every absorbed member), and the
    // transform chain rendered as a string. This is the lineage a
    // 100 TB curation run must emit so any training example traces
    // back to raw data; the whole record is one aggregate over the
    // closure labels joined back to the staged enrichment — no extra
    // corpus scans beyond q_corpus_pipeline's own. Oracle replays the
    // pipeline with string shingles + a recursive closure and
    // re-renders the chain from the same fields.
    QueryDef("q_provenance", (s, dir) => {
      // session-shared enriched corpus (r16): identical to
      // q_corpus_pipeline's enrich+filter — built once, shared
      val enriched = enrichedCorpus(s, dir)
      // r16: same PairFunnel routing as q_corpus_pipeline — the two
      // queries enrich+filter identically, so the funnel (and its
      // closure) is built once per session and shared.
      val labels = graft.ops.PairFunnel.componentLabels(
        enriched.select(col("doc_id"), col("text")), "text", "doc_id", dir)
      val withRoot = enriched
        .join(labels.select(col("id").as("doc_id"), col("root")),
          Seq("doc_id"), "left")
        .withColumn("root", coalesce(col("root"), col("doc_id")))
      val fams = withRoot.groupBy(col("root"))
        .agg(count(lit(1)).as("n_family"), sum(col("doc_id")).as("family_id_sum"))
      withRoot.filter(col("doc_id") === col("root"))
        .join(fams, "root")
        .withColumn("quality_milli", round(col("quality") * 10000).cast("long"))
        .select(col("doc_id"), col("source"), col("quality_milli"),
          col("n_tokens"), col("n_family"), col("family_id_sum"),
          concat(lit("ingest:"), col("source"),
            lit(">lang:en>quality:"), col("quality_milli").cast("string"),
            lit(">dedup:family="), col("n_family").cast("string"))
            .as("transform_chain"))
    },
      // provenance = the same curation replay, but emitting the per-
      // survivor record: closure root via the reachability min, family
      // aggregates, and the transform chain re-built from the same fields
      Some(CurationPipelineCte +
        """,lbl AS (SELECT doc_id,
          |         least(doc_id, coalesce(
          |           (SELECT min(r.d) FROM reach r WHERE r.s = kept.doc_id),
          |           doc_id)) AS root
          |       FROM kept),
          |fam AS (SELECT root, CAST(count(*) AS BIGINT) AS n_family,
          |               CAST(sum(doc_id) AS BIGINT) AS family_id_sum
          |        FROM lbl GROUP BY root)
          |SELECT k.doc_id, k.source,
          |       CAST(round(k.quality * 10000) AS BIGINT) AS quality_milli,
          |       k.n_tokens, f.n_family, f.family_id_sum,
          |       'ingest:' || k.source || '>lang:en>quality:' ||
          |         CAST(CAST(round(k.quality * 10000) AS BIGINT) AS VARCHAR) ||
          |         '>dedup:family=' || CAST(f.n_family AS VARCHAR) AS transform_chain
          |FROM lbl l JOIN kept k ON l.doc_id = k.doc_id
          |JOIN fam f ON l.root = f.root
          |WHERE l.doc_id = l.root""".stripMargin)),

    // E129: quality-threshold calibration — keep count and keep rate
    // per source across a grid of candidate quality cutoffs, in ONE
    // conditional-agg pass over the corpus (no per-threshold scans) +
    // a stack() unpivot of the grid. The sweep a pipeline owner runs
    // BEFORE committing to a filter threshold: which cutoff keeps how
    // much of which source. Keep rate in integer basis points
    // ((k·10000) div n) — exact in both engines, no float-rounding-tie
    // exposure (the q_padding_waste discipline).
    QueryDef("q_quality_calibration", (s, dir) => {
      val ts = Seq(3000L, 4000L, 5000L, 6000L, 7000L)
      val aggs = count(lit(1)).as("n_docs") +:
        ts.map(t => sum(when(col("qm") >= t, 1L).otherwise(0L)).as(s"k_$t"))
      val stacked = ts.map(t => s"${t}L, k_$t").mkString(", ")
      Tables.roundRobinSpread(Tables.documents(s, dir))
        .select(col("source"),
          round(TextAnalysis.qualityScore(col("text")) * 10000).cast("long").as("qm"))
        .groupBy(col("source"))
        .agg(aggs.head, aggs.tail: _*)
        .select(col("source"), col("n_docs"),
          expr(s"stack(${ts.length}, $stacked) as (threshold_milli, n_kept)"))
        .select(col("source"), col("threshold_milli"), col("n_docs"),
          col("n_kept"),
          expr("(n_kept * 10000) div n_docs").as("keep_bp"))
    },
      // same raw/quality formulas as the curation CTE (hash-match proven
      // there); thresholds swept via a VALUES cross join, rate in exact
      // integer basis points
      Some {
        val stops = TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString(", ")
        s"""WITH raw AS (SELECT doc_id, text, source,
           |       CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS DOUBLE) AS n_tok,
           |       CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS DOUBLE) AS stop_hits
           |FROM documents),
           |q AS (SELECT source,
           |       CAST(floor((least(n_tok / 50.0, 1.0) * 0.4
           |         + least(CASE WHEN n_tok = 0 THEN 0.0 ELSE stop_hits / n_tok END * 5.0, 1.0) * 0.3
           |         + CASE WHEN n_tok > 0 AND (length(text) - (n_tok - 1.0)) / n_tok >= 3.0
           |                     AND (length(text) - (n_tok - 1.0)) / n_tok <= 10.0 THEN 1.0 ELSE 0.0 END * 0.3
           |         - least(CASE WHEN length(text) = 0 THEN 0.0
           |                      ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / length(text) END * 5.0, 1.0) * 0.2
           |         ) * 10000.0 + 0.5) AS BIGINT) AS qm
           |FROM raw)
           |SELECT source, CAST(tt.t AS BIGINT) AS threshold_milli,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(CASE WHEN qm >= tt.t THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |       CAST(sum(CASE WHEN qm >= tt.t THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS keep_bp
           |FROM q CROSS JOIN (VALUES (3000), (4000), (5000), (6000), (7000)) tt(t)
           |GROUP BY source, tt.t""".stripMargin
      }),

    // E93: per-source token entropy — Shannon H and its normalized form
    // over each source's term distribution: the curator's diversity /
    // degeneracy signal (a collapsing generator or boilerplate-heavy
    // source shows up as H ≪ ln(vocab)). p = ct/n is an IEEE-exact
    // division of exact longs; the ln-term sum uses the chi-square
    // ordered-fold discipline (sort_array → aggregate) so the float
    // fold order is identical everywhere, then round(6) absorbs libm
    // ulps. collect_list is bounded by VOCAB per source, not corpus.
    QueryDef("q_source_entropy", (s, dir) => {
      val tokens = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      // vocab×sources rows, two consumers (totals + the p join) — each
      // re-ran the full token explode+count pass when unstaged (r17,
      // same class as the dsir fix). Exact integer counts.
      val ct = graft.ops.Staging.stage(tokens.groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("ct")))
      val tot = ct.groupBy(col("source"))
        .agg(sum(col("ct")).as("n"), count(lit(1)).as("vocab"))
      ct.join(broadcast(tot), "source")
        .withColumn("p", col("ct").cast("double") / col("n").cast("double"))
        .withColumn("h_term", -col("p") * log(col("p")))
        .groupBy(col("source"), col("n"), col("vocab"))
        .agg(sort_array(collect_list(struct(col("term"), col("h_term"))))
          .as("a"))
        .select(col("source"), col("n").as("n_tokens"), col("vocab"),
          round(aggregate(col("a"), lit(0.0), (acc, x) => acc + x("h_term")), 6)
            .as("entropy"),
          round(aggregate(col("a"), lit(0.0), (acc, x) => acc + x("h_term"))
            / log(col("vocab").cast("double")), 6).as("entropy_norm"))
    },
      Some("""WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
        |tok2 AS (SELECT source, term FROM tok WHERE length(term) > 0),
        |ct AS (SELECT source, term, CAST(count(*) AS BIGINT) AS ct
        |       FROM tok2 GROUP BY source, term),
        |tot AS (SELECT source, CAST(sum(ct) AS BIGINT) AS n,
        |               CAST(count(*) AS BIGINT) AS vocab
        |        FROM ct GROUP BY source),
        |terms AS (
        |  SELECT ct.source, tot.n, tot.vocab, ct.term,
        |         -(CAST(ct.ct AS DOUBLE) / tot.n) * ln(CAST(ct.ct AS DOUBLE) / tot.n) AS h_term
        |  FROM ct JOIN tot ON ct.source = tot.source),
        |folded AS (
        |  SELECT source, n, vocab,
        |         sum(h_term ORDER BY term) AS h
        |  FROM terms GROUP BY source, n, vocab)
        |SELECT source, n AS n_tokens, vocab,
        |       round(h, 6) AS entropy,
        |       round(h / ln(CAST(vocab AS DOUBLE)), 6) AS entropy_norm
        |FROM folded""".stripMargin)),

    // E100: rank-transform score calibration — each document's quality
    // proxy (n_chars) expressed as its percent_rank WITHIN its source
    // (tie-sharing, scale-free) plus a global equi-depth decile over the
    // total (n_chars, doc_id) order: the cross-source score-calibration
    // step before mixing corpora with incomparable raw scores. The
    // global rank uses the E77 two-level shape — value-range buckets,
    // within-bucket row_number, tiny bucket-offset prefix — NEVER a
    // row-level global window; the decile is the integer floor formula
    // (grank−1)·10 div n + 1, identical in both engines (ntile's
    // remainder-to-front sizing is deliberately avoided).
    QueryDef("q_rank_transform", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val ws = Window.partitionBy(col("source")).orderBy(col("n_chars").asc)
      val binned = docs.withColumn("bin", expr("n_chars div 64"))
      val wb = Window.partitionBy(col("bin"))
        .orderBy(col("n_chars").asc, col("doc_id").asc)
      val wo = Window.orderBy(col("bin").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val off = binned.groupBy(col("bin")).agg(count(lit(1)).as("c"))
        .withColumn("off", coalesce(sum(col("c")).over(wo), lit(0L)))
        .select(col("bin"), col("off"))
      val n = docs.agg(count(lit(1)).as("n"))
      binned.join(broadcast(off), "bin")
        .withColumn("grank", col("off") + row_number().over(wb))
        .crossJoin(broadcast(n))
        .withColumn("global_decile", expr("(grank - 1) * 10 div n + 1"))
        .withColumn("pr_in_source", round(percent_rank().over(ws), 6))
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("pr_in_source"), col("global_decile"))
    },
      Some("""WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |         row_number() OVER (ORDER BY n_chars, doc_id) AS grank,
        |         count(*) OVER () AS n,
        |         percent_rank() OVER (PARTITION BY source ORDER BY n_chars) AS pr
        |  FROM documents)
        |SELECT doc_id, source, n_chars,
        |       round(pr, 6) AS pr_in_source,
        |       (grank - 1) * 10 // n + 1 AS global_decile
        |FROM r""".stripMargin)),

    // E144: DSIR importance weights (ops/Dsir.scala) — hashed-unigram
    // target-vs-raw log-likelihood ratios per document, target slice =
    // English docs. Integer micro-nat weights keep the oracle compare
    // on exact integers (see Dsir scaladoc for the libm posture).
    QueryDef("q_dsir_weights", (s, dir) =>
      graft.ops.Dsir.importanceWeights(
          Tables.documents(s, dir), "doc_id", "text", col("lang") === "en")
        .withColumnRenamed("id", "doc_id"),
      // bit-exact DSIR replay: same md5 feature hash (Spark conv(hex) ≡
      // DuckDB '0x…'::BIGINT), same doubled add-half smoothing, same
      // quotient-then-multiply double formed for ln, same micro-nat
      // rounding; per-doc sums are integer — order-free on both engines.
      Some("""WITH toks AS (
        |  SELECT doc_id, (lang = 'en') AS tgt,
        |         ('0x' || substr(md5(w), 1, 6))::BIGINT % 4096 AS b
        |  FROM documents, LATERAL unnest(string_split(text, ' ')) AS u(w)
        |  WHERE length(w) > 0
        |),
        |counts AS (
        |  SELECT b, count(*) AS rc,
        |         CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tc
        |  FROM toks GROUP BY b
        |),
        |totals AS (SELECT CAST(sum(rc) AS BIGINT) AS rtot,
        |                  CAST(sum(tc) AS BIGINT) AS ttot FROM counts),
        |ld AS (
        |  SELECT b,
        |         CAST(round(1e6 * ln(
        |           ((tc * 2 + 1)::DOUBLE / (ttot * 2 + 4096))
        |           * ((rtot * 2 + 4096)::DOUBLE / (rc * 2 + 1)))) AS BIGINT) AS ld
        |  FROM counts, totals
        |),
        |perdoc AS (
        |  SELECT t.doc_id AS doc_id, count(*) AS n_tokens,
        |         CAST(sum(ld.ld) AS BIGINT) AS logw_micro
        |  FROM toks t JOIN ld ON t.b = ld.b
        |  GROUP BY t.doc_id
        |),
        |tot AS (SELECT CAST(sum(logw_micro) AS BIGINT) AS slw,
        |               CAST(sum(n_tokens) AS BIGINT) AS sn FROM perdoc)
        |SELECT doc_id, n_tokens, logw_micro,
        |       (logw_micro::DOUBLE / n_tokens > slw::DOUBLE / sn) AS selected
        |FROM perdoc, tot""".stripMargin))
  )

  /** Shared CTE block: the E152 weak-label votes + one-step agreement
    * weights — CTEs c/v/vm/st/w, no WITH prefix, ends after `w` with
    * no trailing comma. Reused by the q_weak_labels oracle and the
    * q_component_labels propagation oracle.
    */
  private def WeakLabelVoteCtes: String = {
    val stops = graft.ops.TextAnalysis.EnglishStopwords
      .map(w => s"'$w'").mkString(", ")
    s"""c AS (
         |  SELECT doc_id, length(text) AS nchars,
         |         CASE WHEN length(text) = 0 THEN 0
         |              ELSE len(string_split(text, ' ')) END AS ntok,
         |         len(list_filter(string_split(text, ' '),
         |             t -> t IN ($stops))) AS stops,
         |         length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
         |         length(regexp_replace(text, '[^A-Z]', '', 'g')) AS uppers
         |  FROM documents),
         |v AS (
         |  SELECT doc_id,
         |         CASE WHEN nchars >= 200 THEN 1 WHEN nchars < 50 THEN -1
         |              ELSE 0 END AS lf_len,
         |         CASE WHEN ntok > 0 AND stops * 20 >= ntok THEN 1
         |              WHEN stops = 0 THEN -1 ELSE 0 END AS lf_stop,
         |         CASE WHEN digits * 5 > nchars THEN -1
         |              WHEN digits * 20 < nchars THEN 1 ELSE 0 END AS lf_digit,
         |         CASE WHEN uppers * 4 > nchars THEN -1 ELSE 0 END AS lf_upper
         |  FROM c),
         |vm AS (SELECT *, sign(lf_len + lf_stop + lf_digit + lf_upper) AS m FROM v),
         |st AS (
         |  SELECT
         |    sum(CASE WHEN lf_len <> 0 AND lf_len = m THEN 1 ELSE 0 END) AS a_len,
         |    sum(CASE WHEN lf_len <> 0 THEN 1 ELSE 0 END) AS c_len,
         |    sum(CASE WHEN lf_stop <> 0 AND lf_stop = m THEN 1 ELSE 0 END) AS a_stop,
         |    sum(CASE WHEN lf_stop <> 0 THEN 1 ELSE 0 END) AS c_stop,
         |    sum(CASE WHEN lf_digit <> 0 AND lf_digit = m THEN 1 ELSE 0 END) AS a_digit,
         |    sum(CASE WHEN lf_digit <> 0 THEN 1 ELSE 0 END) AS c_digit,
         |    sum(CASE WHEN lf_upper <> 0 AND lf_upper = m THEN 1 ELSE 0 END) AS a_upper,
         |    sum(CASE WHEN lf_upper <> 0 THEN 1 ELSE 0 END) AS c_upper
         |  FROM vm),
         |w AS (
         |  SELECT
         |    CASE WHEN c_len = 0 THEN 0 ELSE CAST(round(a_len * 1e6 / c_len) AS BIGINT) END AS w_len,
         |    CASE WHEN c_stop = 0 THEN 0 ELSE CAST(round(a_stop * 1e6 / c_stop) AS BIGINT) END AS w_stop,
         |    CASE WHEN c_digit = 0 THEN 0 ELSE CAST(round(a_digit * 1e6 / c_digit) AS BIGINT) END AS w_digit,
         |    CASE WHEN c_upper = 0 THEN 0 ELSE CAST(round(a_upper * 1e6 / c_upper) AS BIGINT) END AS w_upper
         |  FROM st)""".stripMargin
  }

  /** The corpus pipeline's enriched + filtered corpus (three regex
    * kernels per document), session-shared via [[graft.ops.PairFunnel]]
    * (r16): q_corpus_pipeline and q_provenance run the IDENTICAL
    * enrich+filter — each previously staged its own copy per query,
    * paying the regex pass twice per session. The shared frame is one
    * checkpoint instance, so the downstream funnel keyed on its plan
    * is also shared between the two consumers.
    */
  private def enrichedCorpus(s: SparkSession, dir: String) =
    graft.ops.PairFunnel.sharedBuild(Tables.documents(s, dir),
      "enrich", dir, "doc_id", "text", Seq("en", "q5000")) {
      Tables.roundRobinSpread(Tables.documents(s, dir)).select(
          col("doc_id"), col("text"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"))
        .filter(TextAnalysis.langIdHeuristic(col("text")) === "en" &&
          col("quality") >= 0.5)
    }

  /** Shared CTE prefix replaying the corpus curation pipeline in
    * DuckDB — enrichment (lang-id, quality, token count), the kept set,
    * exact string 5-gram Jaccard near-dup pairs, and the recursive
    * reachability closure. `q_corpus_pipeline` appends the survivor
    * aggregate; `q_provenance` appends the per-survivor lineage record.
    * Ends after the `reach` CTE with NO trailing comma.
    */
  private val CurationPipelineCte: String = {
    val stops = TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString(", ")
    val hitDefs = TextAnalysis.LangMarkers.map { case (lang, words) =>
      val set = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), t -> t IN ($set))) AS h_$lang"
    }.mkString(",\n       ")
    val langCase = TextAnalysis.LangMarkers.map { case (lang, _) =>
      s"WHEN h_$lang = gmax AND gmax > 0 THEN '$lang'"
    }.mkString(" ")
    s"""WITH RECURSIVE
       |raw AS (SELECT doc_id, text, source,
       |       CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS DOUBLE) AS n_tok,
       |       CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS DOUBLE) AS stop_hits,
       |       $hitDefs
       |FROM documents),
       |enr AS (SELECT doc_id, text, source,
       |       CASE $langCase ELSE 'und' END AS lang_id,
       |       CAST(CAST(floor((least(n_tok / 50.0, 1.0) * 0.4
       |             + least(CASE WHEN n_tok = 0 THEN 0.0 ELSE stop_hits / n_tok END * 5.0, 1.0) * 0.3
       |             + CASE WHEN n_tok > 0 AND (length(text) - (n_tok - 1.0)) / n_tok >= 3.0
       |                         AND (length(text) - (n_tok - 1.0)) / n_tok <= 10.0 THEN 1.0 ELSE 0.0 END * 0.3
       |             - least(CASE WHEN length(text) = 0 THEN 0.0
       |                          ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / length(text) END * 5.0, 1.0) * 0.2
       |             ) * 10000.0 + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS quality,
       |       CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS BIGINT) AS n_tokens
       |FROM (SELECT *, greatest(h_en, h_es, h_de, h_fr) AS gmax FROM raw)),
       |kept AS (SELECT * FROM enr WHERE lang_id = 'en' AND quality >= 0.5),
       |grams AS (SELECT DISTINCT doc_id, substr(text, i, 5) AS g
       |          FROM (SELECT doc_id, text, unnest(range(1, greatest(length(text) - 3, 2))) AS i FROM kept)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
       |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |pairs AS (SELECT ia, ib FROM inter
       |          JOIN sizes sa ON sa.doc_id = ia
       |          JOIN sizes sb ON sb.doc_id = ib
       |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
       |edges AS (SELECT ia AS s, ib AS d FROM pairs UNION SELECT ib, ia FROM pairs),
       |reach AS (SELECT s, d FROM edges
       |          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
       |""".stripMargin
  }
}
