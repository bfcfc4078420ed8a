package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Collocation / phrase mining — the word2phrase pass (Mikolov et al.,
  * "Distributed Representations of Words and Phrases", arXiv:1310.4546
  * — public literature) that finds multi-word expressions to merge
  * BEFORE tokenizer/vocabulary induction: adjacent word pairs whose
  * discounted co-occurrence lift
  *
  *   lift(a,b) = (c_ab − δ) · N / (c_a · c_b)
  *
  * exceeds a threshold (lift > 1 ⇔ the pair co-occurs above the
  * independence baseline even after the δ rare-pair discount; the
  * original paper uses the same formula with a corpus-tuned absolute
  * cut — τ is a parameter here).
  *
  * Exactness: the verdict compare is INTEGER — (c_ab−δ)·N > τ·c_a·c_b
  * evaluated in decimal(38,0) (DuckDB HUGEINT), exact at any corpus
  * size where long·long would overflow (N ~ 10¹³ at 100 TB). The
  * informational lift_micro column is one rounded double chain formed
  * identically in both engines (the Dsir quotient discipline).
  *
  * Plan shape at scale: bigrams are enumerated PER ROW with array ops
  * (the q_bpe_pairs / q_boilerplate_ngrams discipline — no exploded-
  * word self-join, no window); unigram counts are computed once and
  * STAGED (Staging.stage) because three consumers need them
  * (c_a join, c_b join, the N total) — vocabulary-sized, sublinear in
  * the corpus, so the staging write is tiny while saving two corpus
  * re-scans. Both count joins are equi-joins on a word key.
  */
object Phrases {

  /** Top-k adjacent-pair collocations of `textCol` with discounted
    * lift and the integer-exact `is_phrase` verdict.
    *
    * @param discount   δ — rare-pair discount (word2phrase min_count)
    * @param tau        τ — accept when lift > τ (integer)
    */
  def collocations(docs: DataFrame, textCol: String,
      discount: Int = 5, tau: Int = 1, topK: Int = 30): DataFrame = {
    val ws = docs.select(split(col(textCol), " ").as("ws"))
    val uni = Staging.stage(
      ws.select(explode(col("ws")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c")))
    val n = uni.agg(sum(col("c")).as("n_tokens"))
    val bi = ws
      .select(explode(
        when(size(col("ws")) >= 2,
          transform(sequence(lit(1), size(col("ws")) - 1),
            i => struct(element_at(col("ws"), i).as("w1"),
              element_at(col("ws"), i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") > discount)
    val u1 = uni.select(col("t").as("w1"), col("c").as("c1"))
    val u2 = uni.select(col("t").as("w2"), col("c").as("c2"))
    bi.join(u1, "w1").join(u2, "w2").crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("pair_count"),
        col("c1"), col("c2"),
        round((col("pair_count") - discount).cast("double") *
          col("n_tokens") * lit(1e6) /
          (col("c1").cast("double") * col("c2")))
          .cast("long").as("lift_micro"),
        ((col("pair_count") - discount).cast("decimal(38,0)") *
          col("n_tokens") >
          (col("c1") * lit(tau)).cast("decimal(38,0)") * col("c2"))
          .as("is_phrase"))
      .orderBy(col("lift_micro").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }
}
