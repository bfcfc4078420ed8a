package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis
import graft.sources.Tables

/** Per-document text and token analytics: language and quality scores,
  * tokens, n-grams, repetition and boilerplate, BPE, collocations, LM
  * quality, PII and chunking. */
object TextQueries {
  lazy val defs: Seq[QueryDef] = Seq(
    // E37: TF-IDF top terms per document — the vocabulary-weighting
    // primitive. tf and df from exact counts; idf = ln(N/df) rounded to
    // 6 dp ONLY because ln differs across libm implementations (the
    // repo's round() rule); ranking uses the rounded value + term
    // tiebreak so both engines select identical rows.
    QueryDef("q_tfidf", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val tokens = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      // NOT staged (r17, measured and rejected — see q_bm25): the
      // staged-tf single-tokenize form measured slower at sf0.1 and at
      // the 500k-doc probe (5.2 vs 4.9 s); re-tokenizing is cheaper
      // than staging here.
      val tf = tokens.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = tokens.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term").asc)
      tf.join(df, "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
        .filter(col("doc_id") < 20)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
          col("term"), col("tfidf"))
    },
      Some("""WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tok2 AS (SELECT doc_id, term FROM tok WHERE length(term) > 0),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok2 GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |       FROM (SELECT DISTINCT doc_id, term FROM tok2) GROUP BY term),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |         round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
        |  WHERE tf.doc_id < 20)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tfidf
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |                 ORDER BY tfidf DESC, term ASC) AS rnk
        |      FROM scored)
        |WHERE rnk <= 5""".stripMargin)),

    // E118: tokenizer fertility — tokens-per-word and chars-per-token
    // by language, THE go/no-go metric when choosing a tokenizer for a
    // multilingual corpus (high fertility = wasted context window).
    // One scan, exact long sums, two final divisions.
    QueryDef("q_tokenizer_fertility", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("ws"),
          TextAnalysis.tokenCountBpeish(col("text")).cast("long").as("bp"),
          length(col("text")).cast("long").as("ch"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("tokens_ws"),
          sum(col("bp")).as("tokens_bpeish"),
          sum(col("ch")).as("chars"))
        .select(col("lang"), col("n_docs"), col("tokens_ws"),
          col("tokens_bpeish"), col("chars"),
          round(col("tokens_bpeish").cast("double") / col("tokens_ws"), 6)
            .as("fertility"),
          round(col("chars").cast("double") / col("tokens_bpeish"), 6)
            .as("chars_per_token")),
      Some(s"""WITH t AS (
         |  SELECT lang,
         |         CAST(CASE WHEN length(text) = 0 THEN 0
         |                   ELSE len(string_split(text, ' ')) END AS BIGINT) AS ws,
         |         CAST(len(regexp_extract_all(text, '${TextAnalysis.BpeishPattern}')) AS BIGINT) AS bp,
         |         CAST(length(text) AS BIGINT) AS ch
         |  FROM documents)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(ws) AS BIGINT) AS tokens_ws,
         |       CAST(sum(bp) AS BIGINT) AS tokens_bpeish,
         |       CAST(sum(ch) AS BIGINT) AS chars,
         |       round(CAST(sum(bp) AS DOUBLE) / sum(ws), 6) AS fertility,
         |       round(CAST(sum(ch) AS DOUBLE) / sum(bp), 6) AS chars_per_token
         |FROM t GROUP BY lang""".stripMargin)),

    // E9: language-ID heuristic
    QueryDef("q_lang_id", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.langIdHeuristic(col("text")).as("lang_id")),
      Some {
        val cases = TextAnalysis.LangMarkers.map { case (lang, words) =>
          val set = words.map(w => s"'$w'").mkString(", ")
          (lang, s"len(list_filter(string_split(text, ' '), t -> t IN ($set)))")
        }
        val hitDefs = cases.map { case (l, e) => s"$e AS h_$l" }.mkString(",\n       ")
        val gmax = cases.map(c => s"h_${c._1}").mkString("greatest(", ", ", ")")
        val whens = cases.map { case (l, _) =>
          s"WHEN h_$l = gmax AND gmax > 0 THEN '$l'"
        }.mkString(" ")
        s"""SELECT doc_id, CASE $whens ELSE 'und' END AS lang_id
           |FROM (SELECT doc_id, $gmax AS gmax, h_en, h_es, h_de, h_fr
           |      FROM (SELECT doc_id,
           |       $hitDefs
           |      FROM documents))""".stripMargin
      }),

    // E10: quality scoring
    QueryDef("q_text_quality", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.stopwordCount(col("text")).cast("long").as("stopword_hits"),
          TextAnalysis.qualityScore(col("text")).as("quality")),
      Some {
        val stops = TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString(", ")
        s"""SELECT doc_id,
           |       CAST(stop_hits AS BIGINT) AS stopword_hits,
           |       CAST(CAST(floor((least(n_tok / 50.0, 1.0) * 0.4
           |             + least(CASE WHEN n_tok = 0 THEN 0.0 ELSE stop_hits / n_tok END * 5.0, 1.0) * 0.3
           |             + CASE WHEN n_tok > 0 AND (length(text) - (n_tok - 1.0)) / n_tok >= 3.0
           |                         AND (length(text) - (n_tok - 1.0)) / n_tok <= 10.0 THEN 1.0 ELSE 0.0 END * 0.3
           |             - least(CASE WHEN length(text) = 0 THEN 0.0
           |                          ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / length(text) END * 5.0, 1.0) * 0.2
           |             ) * 10000.0 + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS quality
           |FROM (SELECT doc_id, text,
           |             CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS DOUBLE) AS n_tok,
           |             CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS DOUBLE) AS stop_hits
           |      FROM documents)""".stripMargin
      }),

    // E11: token counting (whitespace + BPE-ish regex)
    QueryDef("q_token_count", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens_ws"),
          TextAnalysis.tokenCountBpeish(col("text")).cast("long").as("n_tokens_bpeish")),
      Some(s"""SELECT doc_id,
         |       CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS BIGINT) AS n_tokens_ws,
         |       CAST(len(regexp_extract_all(text, '${TextAnalysis.BpeishPattern}')) AS BIGINT) AS n_tokens_bpeish
         |FROM documents""".stripMargin)),

    // E12: content fingerprints (md5 oracle-checked; rolling-hash custom expr)
    QueryDef("q_fingerprint", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.fingerprintMd5(col("text")).as("fp_md5")),
      Some("SELECT doc_id, md5(text) AS fp_md5 FROM documents")),

    // E20: fixed-window chunking with overlap — the packing primitive
    // for context-length-bounded training data
    QueryDef("q_chunk_docs", (s, dir) =>
      graft.ops.Chunking.chunkFixed(
          Tables.documents(s, dir), "text", "doc_id", size = 120, overlap = 20)
        .select(col("doc_id"), col("start"),
          length(col("chunk")).cast("long").as("chunk_len"),
          md5(col("chunk")).as("chunk_md5")),
      Some("""SELECT doc_id, CAST(i AS BIGINT) AS start,
        |       CAST(length(substr(text, i, 120)) AS BIGINT) AS chunk_len,
        |       md5(substr(text, i, 120)) AS chunk_md5
        |FROM (SELECT doc_id, text,
        |             unnest(generate_series(1, greatest(length(text) - 20, 1), 100)) AS i
        |      FROM documents)""".stripMargin)),

    // E142: CHUNK-level exact dedup — duplicated chunks across the
    // corpus (same md5 at any (doc, offset)), with the deterministic
    // keeper (lexicographic min (doc_id, start) via one min(struct)
    // partial agg, no window). The sequence-level dedup a trainer runs
    // AFTER chunking and BEFORE packing: document-level dedup misses
    // repeated blocks inside distinct documents, and training on the
    // same chunk twice is the thing being prevented. Shuffles
    // (hash, ids) only — chunk text never leaves the map side.
    QueryDef("q_chunk_dedup", (s, dir) =>
      graft.ops.Chunking.chunkFixed(
          Tables.documents(s, dir), "text", "doc_id", size = 120, overlap = 20)
        .select(col("doc_id"), col("start"), md5(col("chunk")).as("h"))
        .groupBy(col("h"))
        .agg(count(lit(1)).as("n_copies"),
          count_distinct(col("doc_id")).as("n_docs"),
          min(struct(col("doc_id"), col("start"))).as("k"))
        .filter(col("n_copies") > 1)
        .select(col("h").as("chunk_md5"), col("n_copies"), col("n_docs"),
          col("k.doc_id").as("keep_doc_id"),
          col("k.start").cast("long").as("keep_start")),
      // same chunk derivation as q_chunk_docs; keeper via the rn=1 row of
      // the (doc_id, start) order — the SQL analog of min(struct)
      Some("""WITH c AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS start, md5(substr(text, i, 120)) AS h
        |  FROM (SELECT doc_id, text,
        |               unnest(generate_series(1, greatest(length(text) - 20, 1), 100)) AS i
        |        FROM documents)),
        |sel AS (SELECT h, doc_id, start,
        |               ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, start) AS rn
        |        FROM c),
        |agg AS (SELECT h, CAST(count(*) AS BIGINT) AS n_copies,
        |               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |        FROM c GROUP BY 1)
        |SELECT a.h AS chunk_md5, n_copies, n_docs,
        |       s.doc_id AS keep_doc_id, s.start AS keep_start
        |FROM agg a JOIN sel s ON s.h = a.h AND s.rn = 1
        |WHERE n_copies > 1""".stripMargin)),

    // E21: PII redaction. The synthetic corpus contains no emails or
    // digit runs, so deterministic PII is injected in-query (same
    // derivation in the oracle) — the redaction path actually redacts.
    QueryDef("q_redact_pii", (s, dir) => {
      val withPii = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact u"), col("doc_id").cast("string"),
          lit("@mail"), (col("doc_id") % 7).cast("string"), lit(".com ref "),
          (col("doc_id") * 1000003L).cast("string")).as("t"))
      withPii.select(col("doc_id"),
        graft.ops.Chunking.emailCount(col("t")).cast("long").as("n_emails"),
        graft.ops.Chunking.longNumberCount(col("t")).cast("long").as("n_longnums"),
        md5(graft.ops.Chunking.redactPii(col("t"))).as("red_md5"))
    },
      Some("""SELECT doc_id,
        |       CAST(len(regexp_extract_all(t, '[A-Za-z0-9_.]+@[A-Za-z0-9.]+')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(t, '[0-9]{6,}')) AS BIGINT) AS n_longnums,
        |       md5(regexp_replace(regexp_replace(t, '[A-Za-z0-9_.]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
        |                          '[0-9]{6,}', '<NUM>', 'g')) AS red_md5
        |FROM (SELECT doc_id,
        |             text || ' contact u' || CAST(doc_id AS VARCHAR)
        |                  || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com ref '
        |                  || CAST(doc_id * 1000003 AS VARCHAR) AS t
        |      FROM documents)""".stripMargin)),

    // E23: corpus token frequency — explode + count + deterministic
    // top-k, the vocabulary-building primitive
    QueryDef("q_top_ngrams", (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20),
      Some("""SELECT token, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE length(token) > 0
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin)),

    // E109: Gopher-style repetition filters — the pretraining quality
    // gate the length/stopword score (q_text_quality) can't express:
    // docs dominated by a few repeated words (boilerplate, keyword
    // stuffing, degenerate generations). distinct-word ratio and
    // top-word share from ONE explode + two-level agg; the pass
    // verdict composes both thresholds. All counts exact integers;
    // the two ratios are single double divisions (order-independent).
    QueryDef("q_gopher_repetition", (s, dir) => {
      val perWord = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      perWord.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_words"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_count"))
        .select(col("doc_id"), col("n_words"), col("n_distinct"),
          round(col("n_distinct").cast("double") / col("n_words"), 6)
            .as("distinct_ratio"),
          round(col("top_count").cast("double") / col("n_words"), 6)
            .as("top_word_share"),
          (col("n_distinct").cast("double") / col("n_words") >= 0.3 &&
            col("top_count").cast("double") / col("n_words") <= 0.2)
            .as("gopher_pass"))
    },
      Some("""WITH pw AS (
        |  SELECT doc_id, w, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) > 0
        |  GROUP BY doc_id, w)
        |SELECT doc_id,
        |       CAST(sum(c) AS BIGINT) AS n_words,
        |       CAST(count(*) AS BIGINT) AS n_distinct,
        |       round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS distinct_ratio,
        |       round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_word_share,
        |       (count(*) / CAST(sum(c) AS DOUBLE) >= 0.3
        |        AND max(c) / CAST(sum(c) AS DOUBLE) <= 0.2) AS gopher_pass
        |FROM pw GROUP BY doc_id""".stripMargin)),

    // E110: cross-document boilerplate mining — the C4 "duplicated
    // lines across the corpus" rule, at word-window granularity (this
    // corpus has no newlines): every 8-word window shared by ≥ 2 docs,
    // with doc- and occurrence-counts. Windows are enumerated per ROW
    // with array ops (sequence → slice → join) — no exploded-word
    // shuffle, no window function; the only exchange is the groupBy on
    // the window string. At 100 TB the same shape runs with the hash
    // of the window as the group key (8 bytes, not ~50 chars) + a
    // second pass for the strings of the survivors — kept as strings
    // here so the oracle can compare content directly.
    QueryDef("q_boilerplate_ngrams", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), explode(
          when(size(col("ws")) >= 8,
            transform(sequence(lit(1), size(col("ws")) - 7),
              i => array_join(slice(col("ws"), i, lit(8)), " ")))
            .otherwise(array().cast("array<string>"))).as("ngram"))
        .groupBy(col("ngram"))
        .agg(count_distinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"))
        .filter(col("n_docs") >= 2),
      Some("""WITH sh AS (
        |  SELECT doc_id,
        |         unnest(CASE WHEN len(ws) >= 8
        |           THEN list_transform(generate_series(1, len(ws) - 7),
        |                               i -> array_to_string(ws[i:i+7], ' '))
        |           ELSE [] END) AS ngram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
        |SELECT ngram,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_occ
        |FROM sh GROUP BY ngram HAVING count(DISTINCT doc_id) >= 2""".stripMargin)),

    // E116: BPE merge-pair counting — the inner loop of byte-pair/
    // word-piece vocabulary induction: adjacent-token pair frequencies
    // over the corpus (the argmax pair is the next merge). Pairs are
    // enumerated per row with array ops (no exploded-word shuffle, no
    // window function) — the q_boilerplate_ngrams discipline; the only
    // exchange is the partial-aggregated groupBy on the pair itself.
    QueryDef("q_bpe_pairs", (s, dir) =>
      Tables.documents(s, dir)
        .select(split(col("text"), " ").as("ws"))
        .select(explode(
          when(size(col("ws")) >= 2,
            transform(sequence(lit(1), size(col("ws")) - 1),
              i => array_join(slice(col("ws"), i, lit(2)), " ")))
            .otherwise(array().cast("array<string>"))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(30),
      Some("""WITH p AS (
        |  SELECT unnest(CASE WHEN len(ws) >= 2
        |           THEN list_transform(generate_series(1, len(ws) - 1),
        |                               i -> array_to_string(ws[i:i+1], ' '))
        |           ELSE [] END) AS pair
        |  FROM (SELECT string_split(text, ' ') AS ws FROM documents))
        |SELECT pair, CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 30""".stripMargin)),

    // E160: the BPE merge LOOP — E116 scores one round; this runs the
    // actual vocabulary-induction iteration 3 unrolled rounds (the E80
    // pagerank pattern): count adjacent pairs → argmax (ties by pair
    // asc — deterministic) → merge every occurrence greedily
    // left-to-right (standard BPE; runs of identical tokens merge
    // non-overlapping from the left) → re-pair the merged stream and
    // repeat. The merge itself is row-local array math (no exploded-
    // token shuffle, no window over the corpus token stream); the
    // argmax pair rides in as a 1-row broadcast, so each round's only
    // exchange is the vocabulary-sized pair count. The DuckDB oracle
    // replays the greedy-overlap semantics relationally (gaps-and-
    // islands parity over match positions — selected ⇔ even offset
    // within its consecutive-match island, provably ≡ the left-to-right
    // fold).
    //
    // r16 perf (guide §1.2/§2): the original shape benched 10.6 s,
    // ~85 % of it three SINGLE-TASK stages (sf0.1 documents is one
    // parquet split, so every merge round serialized on one core) each
    // re-running an O(tokens²) fold (the accumulator array was copied
    // per appended token) — and round 3 recomputed round 1's merge
    // because nothing was staged. Three fixes, result-identical:
    // (a) spread the token stream across the session's cores once
    //     (roundRobinSpread — a no-op on a multi-split 100 TB table)
    //     with only the text column in the exchange;
    // (b) the greedy merge is now linear: match positions → selected
    //     starts (a fold over the handful of MATCHES, not every token:
    //     a match is merged iff it is not immediately consumed by the
    //     previous selected match — the same left-to-right semantics) →
    //     one flatten/transform reconstruction;
    // (c) each round's token stream is staged DISK_ONLY (Staging
    //     scaladoc), so round N never re-runs round N−1's merge.
    QueryDef("q_bpe_merges", (s, dir) => {
      def pairCounts(docs: DataFrame): DataFrame = docs
        .select(explode(when(size(col("ws")) >= 2,
            transform(sequence(lit(1), size(col("ws")) - 1),
              i => struct(element_at(col("ws"), i).as("a"),
                element_at(col("ws"), i + 1).as("b"))))
          .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n"))
      def best(pc: DataFrame): DataFrame =
        pc.orderBy(col("n").desc, col("a").asc, col("b").asc).limit(1)
      def merged(docs: DataFrame, bp: DataFrame): DataFrame = docs
        .crossJoin(broadcast(bp.select(col("a").as("ma"), col("b").as("mb"))))
        // selected merge starts: positions p with ws[p]=ma, ws[p+1]=mb,
        // taken left-to-right unless consumed by the previous selected
        // start (p = last+1). Fold runs over match positions only.
        .withColumn("starts", expr(
          """aggregate(
            |  case when size(ws) >= 2
            |    then filter(sequence(1, size(ws) - 1),
            |           i -> element_at(ws, i) = ma
            |                and element_at(ws, i + 1) = mb)
            |    else cast(array() as array<int>) end,
            |  struct(cast(array() as array<int>) as sel, -2 as last),
            |  (acc, p) -> case when p > acc.last + 1
            |    then struct(concat(acc.sel, array(p)) as sel, p as last)
            |    else acc end,
            |  acc -> acc.sel)""".stripMargin))
        .select(expr(
          """case when size(starts) = 0 then ws else
            |  flatten(transform(sequence(1, size(ws)), i -> case
            |    when array_contains(starts, i)
            |      then array(concat(element_at(ws, i), ' ',
            |                        element_at(ws, i + 1)))
            |    when array_contains(starts, i - 1)
            |      then cast(array() as array<string>)
            |    else array(element_at(ws, i)) end))
            |end""".stripMargin).as("ws"))
      val t1 = graft.ops.Staging.stage(
        Tables.roundRobinSpread(Tables.documents(s, dir).select(col("text")))
          .select(split(col("text"), " ").as("ws")))
      val b1 = best(pairCounts(t1))
      val t2 = graft.ops.Staging.stage(merged(t1, b1))
      val b2 = best(pairCounts(t2))
      val t3 = merged(t2, b2)
      val b3 = best(pairCounts(t3))
      def lab(b: DataFrame, r: Int) = b.select(lit(r).as("merge_round"),
        concat(col("a"), lit(" + "), col("b")).as("pair"), col("n"))
      lab(b1, 1).unionAll(lab(b2, 2)).unionAll(lab(b3, 3))
        .orderBy(col("merge_round"))
    },
      // BPE merge-loop replay (3 unrolled rounds): the engine merges
      // greedily left-to-right with a per-row fold; the relational
      // equivalent selects, among each doc's match positions, those at an
      // EVEN offset within their consecutive-match island (overlapping
      // matches only arise as runs, and the fold takes the 1st, 3rd, …
      // of each run) — gaps-and-islands parity, then re-number the
      // surviving tokens and repeat
      Some("""WITH t1 AS (
        |  SELECT doc_id, i AS pos, ws[i] AS w
        |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))),
        |c1 AS (
        |  SELECT w AS a, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS b,
        |         doc_id, pos
        |  FROM t1),
        |b1 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM c1
        |       WHERE b IS NOT NULL GROUP BY a, b
        |       ORDER BY n DESC, a ASC, b ASC LIMIT 1),
        |s1 AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, pos - min(pos) OVER (PARTITION BY doc_id, isl) AS off
        |    FROM (SELECT m.doc_id, m.pos,
        |                 m.pos - ROW_NUMBER() OVER (PARTITION BY m.doc_id ORDER BY m.pos) AS isl
        |          FROM c1 m, b1 WHERE m.a = b1.a AND m.b = b1.b))
        |  WHERE off % 2 = 0),
        |t2 AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS pos, w
        |  FROM (
        |    SELECT tt.doc_id, tt.pos,
        |           CASE WHEN sm.pos IS NOT NULL THEN tt.w || ' ' || tt.nxt
        |                ELSE tt.w END AS w,
        |           sp.pos AS consumed
        |    FROM (SELECT doc_id, pos, w,
        |                 lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |          FROM t1) tt
        |    LEFT JOIN s1 sm ON sm.doc_id = tt.doc_id AND sm.pos = tt.pos
        |    LEFT JOIN s1 sp ON sp.doc_id = tt.doc_id AND sp.pos = tt.pos - 1)
        |  WHERE consumed IS NULL),
        |c2 AS (
        |  SELECT w AS a, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS b,
        |         doc_id, pos
        |  FROM t2),
        |b2 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM c2
        |       WHERE b IS NOT NULL GROUP BY a, b
        |       ORDER BY n DESC, a ASC, b ASC LIMIT 1),
        |s2 AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, pos - min(pos) OVER (PARTITION BY doc_id, isl) AS off
        |    FROM (SELECT m.doc_id, m.pos,
        |                 m.pos - ROW_NUMBER() OVER (PARTITION BY m.doc_id ORDER BY m.pos) AS isl
        |          FROM c2 m, b2 WHERE m.a = b2.a AND m.b = b2.b))
        |  WHERE off % 2 = 0),
        |t3 AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS pos, w
        |  FROM (
        |    SELECT tt.doc_id, tt.pos,
        |           CASE WHEN sm.pos IS NOT NULL THEN tt.w || ' ' || tt.nxt
        |                ELSE tt.w END AS w,
        |           sp.pos AS consumed
        |    FROM (SELECT doc_id, pos, w,
        |                 lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |          FROM t2) tt
        |    LEFT JOIN s2 sm ON sm.doc_id = tt.doc_id AND sm.pos = tt.pos
        |    LEFT JOIN s2 sp ON sp.doc_id = tt.doc_id AND sp.pos = tt.pos - 1)
        |  WHERE consumed IS NULL),
        |c3 AS (
        |  SELECT w AS a, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS b,
        |         doc_id, pos
        |  FROM t3),
        |b3 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM c3
        |       WHERE b IS NOT NULL GROUP BY a, b
        |       ORDER BY n DESC, a ASC, b ASC LIMIT 1)
        |SELECT CAST(1 AS INT) AS merge_round, a || ' + ' || b AS pair, n FROM b1
        |UNION ALL
        |SELECT CAST(2 AS INT), a || ' + ' || b, n FROM b2
        |UNION ALL
        |SELECT CAST(3 AS INT), a || ' + ' || b, n FROM b3
        |ORDER BY merge_round""".stripMargin)),

    // E158: word2phrase collocation mining — which adjacent pairs are
    // PHRASES (co-occur above independence after the rare-pair
    // discount), the step that merges multi-word expressions before
    // tokenizer induction. E116 counts the pairs; this scores them:
    // discounted lift (c_ab−δ)·N/(c_a·c_b) with the verdict compare
    // in decimal(38,0) so it stays exact where long·long overflows
    // (Phrases scaladoc has the plan shape: staged vocabulary-sized
    // unigram counts, row-local bigram enumeration).
    QueryDef("q_collocations", (s, dir) =>
      graft.ops.Phrases.collocations(Tables.documents(s, dir), "text"),
      // collocation replay: same split/enumeration as q_bpe_pairs, the
      // integer verdict in HUGEINT (the engine's decimal(38,0)), the
      // informational lift as the identically-formed double chain
      Some("""WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
        |uc AS (SELECT t, count(*) AS c
        |       FROM (SELECT unnest(w) AS t FROM ws) GROUP BY t),
        |n AS (SELECT sum(c) AS nt FROM uc),
        |bc AS (SELECT w1, w2, count(*) AS pair_count
        |       FROM (SELECT w[i] AS w1, w[i + 1] AS w2
        |             FROM ws, unnest(range(1, len(w))) AS u(i))
        |       GROUP BY 1, 2),
        |j AS (SELECT bc.w1, bc.w2, pair_count, u1.c AS c1, u2.c AS c2, nt
        |      FROM bc JOIN uc u1 ON u1.t = bc.w1
        |              JOIN uc u2 ON u2.t = bc.w2, n
        |      WHERE pair_count > 5)
        |SELECT w1, w2, CAST(pair_count AS BIGINT) AS pair_count,
        |       CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
        |       CAST(round((pair_count - 5)::DOUBLE * nt * 1e6
        |                  / ((c1::DOUBLE) * c2)) AS BIGINT) AS lift_micro,
        |       ((pair_count - 5)::HUGEINT * nt > (c1 * 1)::HUGEINT * c2)
        |         AS is_phrase
        |FROM j
        |ORDER BY lift_micro DESC, w1 ASC, w2 ASC LIMIT 30""".stripMargin)),

    // E121: LM-based quality scoring (the CCNet/KenLM filter shape):
    // add-one-smoothed bigram LM trained ON the corpus, each doc scored
    // by its mean negative log-likelihood (cross-entropy) — low = fluent
    // in-distribution text, high = junk/outlier. All probabilities are
    // ratios of exact integer counts; per-doc log-sums fold in POSITION
    // order (sort_array + aggregate — the ordered-fold float discipline
    // of q_source_entropy), so the score is bit-stable across
    // partitionings. The bigram table is vocab²-bounded (never corpus-
    // sized); at 100 TB it shuffle-joins on the pair key, here AQE
    // broadcasts it.
    QueryDef("q_lm_quality", (s, dir) => {
      val bigrams = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(
          expr("transform(sequence(1, size(ws) - 1)," +
            " i -> struct(i as pos, element_at(ws, i) as w1, element_at(ws, i + 1) as w2))"))
          .as("b"))
        .select(col("doc_id"), col("b.pos").as("pos"),
          col("b.w1").as("w1"), col("b.w2").as("w2"))
      // NOT checkpointed (r17, measured and rejected — reconfirming the
      // r16 rejection at scale): checkpointing the pair table and
      // deriving contexts from it (c1 = Σ_w2 c12, one bigram pass fewer)
      // measured 22.4 s vs 17.8 s at the 500k-doc probe and 2.49 vs
      // 2.44 at sf0.1 — the bigram explode collapses map-side and is
      // cheaper to re-run than the checkpoint round-trip.
      val contexts = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val pairs = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val vocab = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .agg(count_distinct(col("w")).as("v"))
      bigrams
        .join(pairs, Seq("w1", "w2"))
        .join(contexts, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .withColumn("logp",
          log((col("c12") + 1).cast("double") / (col("c1") + col("v")).cast("double")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sort_array(collect_list(struct(col("pos"), col("logp")))).as("a"))
        .select(col("doc_id"), col("n_bigrams"),
          round(-aggregate(col("a"), lit(0.0), (acc, x) => acc + x("logp"))
            / col("n_bigrams"), 6).as("cross_entropy"))
    },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |big AS (
        |  SELECT doc_id, i AS pos, ws[i] AS w1, ws[i + 1] AS w2
        |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
        |        FROM w WHERE len(ws) >= 2)),
        |ctx AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
        |prs AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
        |voc AS (SELECT count(DISTINCT wd) AS v
        |        FROM (SELECT unnest(string_split(text, ' ')) AS wd FROM documents)),
        |terms AS (
        |  SELECT b.doc_id, b.pos,
        |         ln(CAST(p.c12 + 1 AS DOUBLE) / (c.c1 + voc.v)) AS logp
        |  FROM big b JOIN prs p ON b.w1 = p.w1 AND b.w2 = p.w2
        |             JOIN ctx c ON b.w1 = c.w1, voc)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       round(-sum(logp ORDER BY pos) / count(*), 6) AS cross_entropy
        |FROM terms GROUP BY doc_id""".stripMargin)),

    // E130: payment-PII audit — Luhn-checked card-number detection per
    // source: candidate 13-19-digit runs via regex, VALID cards via the
    // codegen'd luhn_card_count kernel (ISO/IEC 7812 mod-10 — public
    // algorithm). The synthetic corpus carries no digit runs, so known
    // valid/invalid/too-short numbers are planted in-query keyed on
    // doc_id (the q_embed_neardup precedent) — the detector is
    // exercised on a mix where candidates ≠ valid.
    QueryDef("q_pii_luhn", (s, dir) => {
      val planted = Tables.roundRobinSpread(Tables.documents(s, dir))
        .withColumn("t2", concat(col("text"),
          when(col("doc_id") % 7 === 1, lit(" card 4532015112830366"))
            .when(col("doc_id") % 7 === 2, lit(" card 4532015112830367"))
            .when(col("doc_id") % 7 === 3,
              lit(" card 30569309025904 and 6011111111111117"))
            .when(col("doc_id") % 7 === 4, lit(" ref 123456789012"))
            .otherwise(lit(""))))
      planted.select(col("source"),
          graft.functions.exprs.luhn_card_count(col("t2")).as("nv"),
          size(filter(regexp_extract_all(col("t2"), lit("[0-9]+"), lit(0)),
            r => length(r) >= 13 && length(r) <= 19)).as("nc"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nc").cast("long")).as("card_candidates"),
          sum(col("nv").cast("long")).as("cards_valid"),
          sum(when(col("nv") > 0, 1L).otherwise(0L)).as("docs_with_card"))
    },
      // Luhn in SQL: per candidate run, fold digits right-to-left with
      // every second doubled (−9 past 9) and test mod 10 — same maximal
      // [0-9]+ run + 13-19 length gate as the kernel
      Some("""WITH planted AS (
        |  SELECT source, doc_id, text ||
        |    CASE WHEN doc_id % 7 = 1 THEN ' card 4532015112830366'
        |         WHEN doc_id % 7 = 2 THEN ' card 4532015112830367'
        |         WHEN doc_id % 7 = 3 THEN ' card 30569309025904 and 6011111111111117'
        |         WHEN doc_id % 7 = 4 THEN ' ref 123456789012'
        |         ELSE '' END AS t2
        |  FROM documents),
        |runs AS (
        |  SELECT source, doc_id,
        |         list_filter(regexp_extract_all(t2, '[0-9]+'),
        |                     r -> length(r) BETWEEN 13 AND 19) AS cand
        |  FROM planted),
        |scored AS (
        |  SELECT source, doc_id, len(cand) AS nc,
        |         len(list_filter(cand, r ->
        |           list_sum(list_transform(range(0, length(r)), i ->
        |             CASE WHEN i % 2 = 0 THEN CAST(substr(r, length(r) - i, 1) AS INT)
        |                  ELSE CASE WHEN 2 * CAST(substr(r, length(r) - i, 1) AS INT) > 9
        |                            THEN 2 * CAST(substr(r, length(r) - i, 1) AS INT) - 9
        |                            ELSE 2 * CAST(substr(r, length(r) - i, 1) AS INT) END
        |             END)) % 10 = 0)) AS nv
        |  FROM runs)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(nc) AS BIGINT) AS card_candidates,
        |       CAST(sum(nv) AS BIGINT) AS cards_valid,
        |       CAST(sum(CASE WHEN nv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_card
        |FROM scored GROUP BY source""".stripMargin))
  )
}
