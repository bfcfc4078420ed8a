package graft

import org.apache.spark.sql.functions._
import graft.functions.{exprs, zorder, CountMin}

class ExpressionsSpec extends SparkSpecBase {
  import spark.implicits._

  test("rolling_hash is deterministic and order-sensitive") {
    val df = Seq("abc", "acb", "abc").toDF("t")
    val hs = df.select(exprs.rolling_hash(col("t"))).as[Long].collect()
    assert(hs(0) === hs(2))
    assert(hs(0) !== hs(1))
  }

  test("rolling_hash matches the documented polynomial") {
    val h = Seq("ab").toDF("t")
      .select(exprs.rolling_hash(col("t"))).as[Long].head()
    assert(h === 'a'.toLong * 1000003L + 'b'.toLong)
  }

  test("minhash signature: similar sets agree on most components") {
    val a = "spark catalyst optimizer pushes filters down to the parquet scan layer"
    val df = Seq(a, a.replace("layer", "stage"), "totally different words here entirely")
      .toDF("t")
    val sigs = df.select(exprs.minhash_sig(col("t"), 5, 64, 42L)).as[Seq[Long]].collect()
    def agree(x: Seq[Long], y: Seq[Long]) = x.zip(y).count(p => p._1 == p._2)
    assert(agree(sigs(0), sigs(1)) > 40, "near-dup should agree on >60% of hashes")
    assert(agree(sigs(0), sigs(2)) < 15, "unrelated should agree on few hashes")
  }

  test("hyperplane signatures: equal vectors equal, opposite vectors differ") {
    val df = Seq(
      Array(1.0f, 2.0f, 3.0f, 4.0f),
      Array(1.0f, 2.0f, 3.0f, 4.0f),
      Array(-1.0f, -2.0f, -3.0f, -4.0f)
    ).toDF("v")
    val sigs = df.select(exprs.hyperplane_sig(col("v"), 16, 4, 7L)).as[Long].collect()
    assert(sigs(0) === sigs(1))
    // opposite vector flips every sign bit
    assert((sigs(0) ^ sigs(2)) === ((1L << 16) - 1))
  }

  test("cosine_f and dot_f compute double-precision values") {
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f))).toDF("a", "b")
    val cos = df.select(exprs.cosine_f(col("a"), col("b"))).as[Double].collect()
    assert(cos(0) === 1.0)
    assert(cos(1) === 0.0)
    val dot = df.select(exprs.dot_f(col("a"), col("b"))).as[Double].collect()
    assert(dot(0) === 1.0)
  }

  test("luhn_card_count: maximal-run semantics and the mod-10 check") {
    val cases = Seq(
      ("pay 4532015112830366 now", 1),           // valid 16-digit
      ("pay 4532015112830367 now", 0),           // bad check digit
      ("a 30569309025904 b 6011111111111117", 2), // two valid runs
      ("short 123456789012", 0),                  // 12 digits: no candidate
      ("long 45320151128303666011111111111117", 0), // 32-digit run: not split
      ("4532015112830366", 1),                    // run at both ends
      ("x4532015112830366y4532015112830367", 1),
      ("no digits at all", 0))
    val got = cases.map(_._1).toDF("t")
      .select(exprs.luhn_card_count(col("t"))).as[Int].collect()
    assert(got.toSeq === cases.map(_._2))
  }

  test("expressions survive both codegen and interpreted paths") {
    // wholestage off exercises the eval() path
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val h1 = Seq("x").toDF("t").select(exprs.rolling_hash(col("t"))).as[Long].head()
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      val h2 = Seq("x").toDF("t").select(exprs.rolling_hash(col("t"))).as[Long].head()
      assert(h1 === h2)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")

    // Every kernel facade once. A projection over a bare local relation
    // is folded into a LocalTableScan and evaluates interpreted either
    // way, so the frame is repartitioned; the last row is all null.
    val src = Seq(
      (Some("the quick brown fox 4532015112830366"), Some(Array(0.5f, -0.25f, 1f)),
        Some(3.5), Some(Array(5L, 2L, 9L))),
      (Some("a quick brown dog"), Some(Array(-1f, 0f, 0.75f)), Some(-1.0), Some(Array(1L, 4L))),
      (None, None, None, None)).toDF("t", "v", "x", "items").repartition(2)
    val t = col("t")
    val t2 = concat(t, lit("!"))
    val v = col("v")
    val qv = exprs.quantize20_q(v)
    val qn = exprs.quant_norm20(v)
    val sig = exprs.minhash_sig(t, 3, 8, 1L)
    val grams = exprs.gram_hashes64(t, 3)
    val cb = Array(0L, 1L << 19, 0L, -(1L << 19), 0L, 1L << 19)
    val packed = lit(((1L << 20) << 42) + (1L << 21) + 5L) // d = 0, lo = 1, hi = 5
    val bin = zorder.quantile_bin(col("x"), Array(0.0, 2.0))
    // a def: each run plans afresh under its own codegen settings
    def all = src.select(
      exprs.rolling_hash(t), exprs.simhash64(t), sig,
      exprs.minhash_sig_l(grams, 8, 1L), exprs.winnow_anchors(grams, 4),
      exprs.basket_pairs(col("items"), directed = true),
      exprs.longest_common_run(t, t2, packed, 2, 3),
      exprs.jaccard_sorted(exprs.shingle_set(t, 3), exprs.shingle_set(t2, 3)),
      hex(exprs.sig_digest(sig)),
      exprs.digest_agree(exprs.sig_digest(sig), exprs.sig_digest(exprs.minhash_sig(t2, 3, 8, 1L))),
      exprs.jaccard_sorted_l(col("items"), reverse(col("items"))),
      exprs.cosine_f(v, reverse(v)), exprs.dot_f(v, reverse(v)), exprs.cosine_q(qv, qn),
      exprs.argmin_cell(qn, cb, 2, 3), exprs.dist2_q(qv, qn),
      exprs.hyperplane_sig(v, 8, 3, 7L), exprs.rad_sketch_q(v, 4, 3, 7L),
      exprs.containment_counts(t, 3, Array(Array(1, 5, 9), Array.empty[Int])),
      exprs.sub_q(qv, qn), exprs.dot_q(qv, qn),
      exprs.pq_adc_score_q(exprs.pq_encode_q(qn, cb, 1, 2), exprs.pq_table_q(qn, cb, 1, 2), 2),
      exprs.luhn_card_count(t),
      zorder.interleave_bits(bin, exprs.rolling_hash(t)),
      CountMin.estimate(typedLit((1L to 8L).toArray), t, 2, 4, 7L))
    def run(wholeStage: Boolean, factoryMode: String) = {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
      spark.conf.set("spark.sql.codegen.factoryMode", factoryMode)
      try {
        val df = all
        (df.collect().toSeq, df.queryExecution.executedPlan.toString)
      } finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    val (compiled, plan) = run(wholeStage = true, "CODEGEN_ONLY")
    assert(plan.contains("*("), s"the kernel projection must run codegen'd:\n$plan")
    val (interpreted, _) = run(wholeStage = false, "NO_CODEGEN")
    assert(compiled.size === 3)
    assert(compiled.sortBy(_.toString) === interpreted.sortBy(_.toString))
    val nulls = compiled.filter(_.isNullAt(0))
    assert(nulls.size === 1 && (0 until all.columns.length).forall(nulls.head.isNullAt))
  }
}
