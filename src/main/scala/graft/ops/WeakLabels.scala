package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis.stopwordCount

/** Snorkel-style weak supervision over documents: K labeling functions
  * (LFs) each vote {-1 bad, 0 abstain, +1 good}, and a label model
  * combines them into one training label per document — the programmatic
  * alternative to hand-labeling that data-curation pipelines use to
  * bootstrap quality classifiers (Ratner et al., VLDB 2018, public).
  *
  * The label model here is the one-step agreement-weighted vote (the
  * EM/matrix-completion fit truncated to its first iteration, which is
  * already the workhorse in practice): each LF's weight is its empirical
  * agreement rate with the unweighted majority, computed over its
  * coverage (non-abstain votes) only. All arithmetic is exact
  * integers/rationals — votes are ints, agreement rates become
  * micro-unit weights via one rounded division of exact counts, the
  * final score is an integer dot product — so the whole operator
  * replays in DuckDB (q_weak_labels' oracle).
  *
  * Scale shape: one scan computes and stages the votes, one combinable
  * aggregation reduces them to 2K counters, collected at construct as
  * K weights that enter the score as literals, and one read of the
  * staged votes emits the labels. No per-doc state beyond the row; LF
  * count is a compile-time constant.
  */
object WeakLabels {

  /** The LF votes, all pure integer comparisons on exact counts:
    *  - lf_len: long documents good (≥200 chars), tiny ones bad (<50)
    *  - lf_stop: stopword ratio ≥ 5% good, zero stopwords bad
    *  - lf_digit: digit ratio > 20% bad, < 5% good
    *  - lf_upper: uppercase ratio > 25% bad, else abstain
    */
  def votes(docs: DataFrame): DataFrame = {
    val nChars = length(col("text")).cast("long")
    val nTok = TextAnalysis.tokenCountWs(col("text")).cast("long")
    val stops = stopwordCount(col("text")).cast("long")
    val digits = length(regexp_replace(col("text"), "[^0-9]", "")).cast("long")
    val uppers = length(regexp_replace(col("text"), "[^A-Z]", "")).cast("long")
    docs.select(
      col("doc_id"),
      when(nChars >= 200, 1L).when(nChars < 50, -1L).otherwise(0L).as("lf_len"),
      when(nTok > 0 && stops * 20L >= nTok, 1L)
        .when(stops === 0L, -1L).otherwise(0L).as("lf_stop"),
      when(digits * 5L > nChars, -1L)
        .when(digits * 20L < nChars, 1L).otherwise(0L).as("lf_digit"),
      when(uppers * 4L > nChars, -1L).otherwise(0L).as("lf_upper"))
  }

  private val LfCols = Seq("lf_len", "lf_stop", "lf_digit", "lf_upper")

  /** Per-document combined label: (doc_id, lf_*, score_micro, label).
    * score_micro = Σ_k vote_k · w_k where w_k =
    * round(1e6 · agree_k / cover_k) — agreement with the unweighted
    * majority over the LF's non-abstain votes; label = sign(score).
    */
  def weakLabels(docs: DataFrame): DataFrame = {
    // r17: the vote kernel (two regexp_replace passes + the stopword
    // split per doc) previously re-ran for EVERY consumer of the
    // returned frame — the stats aggregate, the final projection, and
    // each downstream self-consumer (q_component_labels' majority
    // tally + join-back re-scanned it twice more, single-task on a
    // one-split corpus). Stage the thin vote frame (6 int64 columns,
    // ~48 B/doc at any corpus size) once, kernel spread across cores
    // above the spread gate; every consumer reads stored columnar
    // blocks. Query-lifetime staging (the semDeDup convention — the
    // session's per-query clearCache releases it; values are unchanged,
    // so no result byte moves). The weights are collected at construct,
    // not broadcast back: that collect reads every partition of the
    // staged votes, so it is the job that fills the stage (no staging
    // count), and the four weights enter the score as literals, so no
    // consumer re-evaluates the aggregate or joins it back.
    val v = votes(graft.sources.Tables.spreadForKernel(docs))
    val maj = signum(LfCols.map(col).reduce(_ + _)).cast("long")
    val voted = Staging.stage(v.withColumn("m", maj))
    val aggCols: Seq[Column] = LfCols.flatMap { c =>
      Seq(
        sum(when(col(c) =!= 0L && col(c) === col("m"), 1L).otherwise(0L))
          .as(s"agree_$c"),
        sum(when(col(c) =!= 0L, 1L).otherwise(0L)).as(s"cover_$c"))
    }
    val stats = voted.agg(aggCols.head, aggCols.tail: _*)
    // one rounded division of exact counts per LF: the same double in
    // any IEEE engine, then half-up to integer micro-units
    val weights = stats.select(LfCols.map { c =>
      when(col(s"cover_$c") === 0L, 0L)
        .otherwise(round(col(s"agree_$c").cast("double") * lit(1e6)
          / col(s"cover_$c").cast("double")).cast("long"))
        .as(s"w_$c")
    }: _*).head()
    // a weight is null only over zero votes, where no row is scored
    val score = LfCols.zipWithIndex.map { case (c, i) =>
      col(c) * lit(if (weights.isNullAt(i)) 0L else weights.getLong(i))
    }.reduce(_ + _)
    voted
      .select(col("doc_id") +: LfCols.map(col) :+
        score.as("score_micro") :+
        signum(score).cast("long").as("label"): _*)
  }

  /** Component-majority label propagation: given per-doc
    * (doc_id, root, label) rows — root = the doc's near-dup component
    * root, itself for singletons — attach each component's majority
    * label (`comp_label`) and a `changed` flag for members the vote
    * overrode. Ties break to the label carried by the smallest member
    * id — a total portable order the q_component_labels oracle
    * replays. One root-keyed tally shuffle over funnel-sized frames;
    * the per-root label-count frame is tiny (≤ 3 labels × roots).
    */
  def componentMajorityLabel(rooted: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tally = rooted.groupBy(col("root"), col("label"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
    val w = Window.partitionBy(col("root"))
      .orderBy(col("n").desc, col("min_id").asc)
    val compLab = tally.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("root"), col("label").as("comp_label"))
    rooted.join(compLab, "root")
      .select(col("doc_id"), col("root"), col("label").as("own_label"),
        col("comp_label"),
        (col("label") =!= col("comp_label")).cast("long").as("changed"))
  }
}
