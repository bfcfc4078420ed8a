package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style data selection — importance weights from hashed n-gram
  * bag models (Xie et al., "Data Selection for Language Models via
  * Importance Resampling", arXiv:2302.03169 — public literature).
  *
  * Two multinomial bag-of-features models are fit over a hashed
  * feature space of `numBuckets` buckets: one on the TARGET slice (the
  * high-quality domain the pipeline wants more of) and one on the RAW
  * corpus. Each document's log importance weight is
  *
  *   log w(d) = Σ_f c_f(d) · ( log p̂_target(f) − log p̂_raw(f) )
  *
  * with add-half (Jeffreys) smoothing: p̂(f) = (c_f + ½) / (N + B/2).
  * Documents scoring > 0 look more target-like than corpus-like; the
  * paper resamples by these weights, which downstream samplers (E60/
  * E91's machinery) can consume directly.
  *
  * Engine-portable determinism (the q_hybrid_rrf posture): features are
  * md5-hashed (both engines expose md5; xxhash64 is Spark-only), each
  * bucket's log-ratio is rounded ONCE to integer micro-units, and every
  * per-document aggregation is then an INTEGER sum — order-free, exact,
  * hash-identical across engines. The ln input is formed as a product
  * of two IEEE double quotients of exact integers (never one big
  * integer product, which would exceed 2⁵³ on a large corpus), so both
  * engines feed libm the same double; the only residual cross-engine
  * risk is a last-ulp libm difference landing exactly on a rounding
  * boundary (~1e-10 per bucket), documented rather than pretended away.
  *
  * Plan shape at scale: the bucket-weight table is B rows (4096 by
  * default) — broadcast; the per-document score is ONE shuffle
  * (explode → broadcast-join weights → groupBy doc, integer sums with
  * map-side partial aggregation). The two model fits are groupBy-count
  * over the same exploded tokens — B-row results, corpus-linear work.
  */
object Dsir {

  /** `bucket(word)`: md5-based feature hash into [0, numBuckets). */
  private def bucket(w: Column, numBuckets: Int): Column =
    conv(substring(md5(w), 1, 6), 16, 10).cast("long") % numBuckets

  /** Per-document hashed-unigram importance weights.
    *
    * @param docs      corpus with an id column and a text column
    * @param isTarget  predicate selecting the target slice
    * @return (id, n_tokens, logw_micro, selected) —
    *         logw_micro is the log weight in integer micro-nats;
    *         selected = per-token weight above the corpus mean
    */
  def importanceWeights(
      docs: DataFrame, idCol: String, textCol: String, isTarget: Column,
      numBuckets: Int = 4096): DataFrame = {
    // NOT staged, deliberately: the token frame is consumed twice (model
    // fit + per-doc scoring) but staging it writes ~17 bytes × every
    // token in the corpus to executor disk — MORE than the corpus
    // itself — to save one re-run of split+explode+md5. Two corpus
    // scans beat a corpus-sized disk round-trip at any scale where this
    // operator matters.
    val toks = docs
      .select(col(idCol).as("id"), isTarget.as("tgt"),
        explode(split(col(textCol), " ")).as("w"))
      // drop the phantom '' tokens both engines' splitters emit for
      // empty text / consecutive spaces (r10, closes the r8 advisory's
      // last oracle-family site): an empty-text doc now has NO tokens —
      // and therefore no weight row at all (no 0/0 per-token quotient) —
      // instead of one md5("")-bucket feature; the oracle mirrors the
      // guard
      .filter(length(col("w")) > 0)
      .select(col("id"), col("tgt"), bucket(col("w"), numBuckets).as("b"))
    // bucket counts for both models in ONE pass over the tokens.
    // Staged (r17): counts is only B rows, but COMPUTING
    // it is a full token pass, and it feeds two consumers (`totals` and
    // `ld`) — unstaged, Spark re-ran the split+md5+agg pass once per
    // consumer (the sf10 stage profile showed THREE token passes for
    // this query: two bucket-agg stages writing identical 943 KB plus
    // the per-doc scoring pass). Pinning the B-row result costs nothing
    // at any scale and brings the operator to exactly the two corpus
    // passes the scaladoc promises (fit + scoring). Values unchanged —
    // the stage stores the same deterministic integer counts.
    val counts = Staging.stage(toks.groupBy(col("b"))
      .agg(count(lit(1)).as("rc"),
        sum(when(col("tgt"), 1L).otherwise(0L)).as("tc")))
    val totals = counts.agg(
      sum(col("rc")).as("rTot"), sum(col("tc")).as("tTot"))
      // ld = round(1e6 · ln p̂_t/p̂_r); add-half smoothing doubled into
      // integers: (2c+1)/(2N+B). Quotients FIRST (each an exact-int
      // IEEE divide), then one multiply — both engines form the same
      // double for ln (see scaladoc).
    val ld = counts.crossJoin(broadcast(totals))
      .select(col("b"),
        round(lit(1e6) * log(
          ((col("tc") * 2 + 1).cast("double") /
            (col("tTot") * 2 + numBuckets)) *
          ((col("rTot") * 2 + numBuckets).cast("double") /
            (col("rc") * 2 + 1))))
          .cast("long").as("ld"))
    // staged: the corpus-mean total and the output both read it, and
    // AQE does not reuse an exchange whose input is a staged scan, so
    // unstaged the scoring pass would run once per consumer
    val perDoc = Staging.stage(toks.join(broadcast(ld), "b")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("ld")).as("logw_micro")))
      // selection = above the CORPUS-MEAN per-token weight. Absolute
      // `logw > 0` is the paper's resampling pivot but degenerates on a
      // corpus whose target slice is weakly separated (smoothing drift
      // puts every doc slightly negative); the relative cut is
      // scale-free and engine-exact: both sides of the compare are IEEE
      // divides of the same exact integers, so the engines order them
      // identically.
    val tot = perDoc.agg(sum(col("logw_micro")).as("slw"),
      sum(col("n_tokens")).as("sn"))
    // NO rounded per-token column in the output: logw_micro/n_tokens is
    // derivable from the two exact integers emitted, and a round(…, 6)
    // of the quotient was measured to hash-mismatch at a 10× corpus —
    // small denominators land the 7th digit on exact .5 (22/50k rows)
    // where the engines' half-rounding of the nearest-double differs,
    // plus a −0.0 vs 0.0 repr split. The verdict-relevant compare
    // (`selected`) uses the UNROUNDED quotients and matches exactly.
    perDoc.crossJoin(broadcast(tot))
      .select(col("id"), col("n_tokens"), col("logw_micro"),
        (col("logw_micro").cast("double") / col("n_tokens") >
          col("slw").cast("double") / col("sn")).as("selected"))
  }
}
