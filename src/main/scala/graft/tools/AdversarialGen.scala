package graft.tools

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Adversarial-corpus generator (r10 verdict item 2): the sf0.001
  * documents/embeddings tables with PLANTED pathological rows — the
  * corpus dirt a real 100 TB crawl is full of and a synthetic generator
  * is suspiciously free of:
  *
  *  - empty-text docs (three of them — mutual exact dups, so the dedup
  *    family must agree with the oracle on a component of empties);
  *  - whitespace-only docs (space / tab+newline / NBSP);
  *  - single-token docs, including non-ASCII single tokens;
  *  - multi-kB single tokens (8 KiB unbroken runs — shingle windows,
  *    BPE pair mining and token-length stats all hit their worst case);
  *  - non-ASCII / multi-script text: CJK (no spaces — tokenizers that
  *    assume whitespace see ONE huge token), Cyrillic, Arabic (RTL),
  *    Greek, emoji (non-BMP — code-point vs code-unit bugs), combining
  *    accents (é as e+U+0301 vs precomposed — normalization-sensitive
  *    fingerprints diverge), mixed-script soup;
  *  - a planted near-dup pair (one-word edit) and an exact dup of a
  *    multi-kB doc, so the funnel has known planted positives;
  *  - embeddings: two ZERO vectors (cosine denominators — mutual exact
  *    dups), a duplicated normal vector, an all-ones vector, and a
  *    tiny-magnitude vector (1e-6 — quantization floors).
  *
  * Planted ids start at 10000 (far above sf0.001's max 499), so planted
  * rows are trivially identifiable in both engine and oracle. Output
  * schema is byte-identical to the driver's testdata; every oracle runs
  * over the SAME parquet, so a pass here converts the empty-text guard
  * family (q_tfidf's `length(term) > 0`, Dsir's empty-token guard) from
  * "fixed" into "regression-tested". Driven by
  * `tools/adversarial_check.sh` → `bench_baselines/r11_adversarial_oracle.json`.
  */
object AdversarialGen {

  /** (id-offset, text, lang, source) — fixed, seed-free, so the corpus
    * is bit-identical across runs and rounds. */
  val plantedDocs: Seq[(Long, String, String, String)] = {
    val kb8 = "a" * 8192
    val kb4mid = "foo " + "b" * 4096 + " bar"
    val hugeTokens = (("x" * 2048) + " ") * 4
    val nearBase = "the quick brown fox jumps over the lazy dog " * 8
    Seq(
      // empties: mutual exact dups
      (0L, "", "en", "src0"),
      (1L, "", "en", "src1"),
      (2L, "", "de", "adversarial"),
      // whitespace-only
      (3L, " ", "en", "src2"),
      (4L, "\t\n  ", "fr", "src3"),
      (5L, "   ", "es", "adversarial"),
      // single-token
      (6L, "x", "en", "src4"),
      (7L, "hello", "en", "src5"),
      (8L, "米", "zh", "src6"),               // 米
      (9L, "🙂", "en", "src7"),          // 🙂 (non-BMP)
      (10L, "Ωmega", "en", "src8"),           // Ωmega
      // multi-kB tokens
      (11L, kb8, "en", "src9"),
      (12L, kb4mid, "en", "src10"),
      (13L, hugeTokens, "en", "adversarial"),
      (14L, kb8, "en", "src11"),                   // exact dup of 11
      // non-ASCII / multi-script
      (15L, "数据处理引擎在大规模" +
        "集群上运行并且没有空格",
        "zh", "src12"),                            // CJK, no spaces
      (16L, "обработка " +
        "данных на кл" +
        "астере", "de", "src13"), // Cyrillic
      (17L, "معالجة الب" +
        "يانات على نط" +
        "اق واسع", "fr", "src14"), // Arabic RTL
      (18L, "επεξεργασί" +
        "α δεδομένων",
        "es", "src15"),                            // Greek
      (19L, "data 🚀 pipeline 🔥 at scale ✨ " +
        "with 🤖 agents", "en", "src16"), // emoji-laden
      (20L, "café résumé naïve vs " +
        "café résumé naïve", "fr", "src17"), // combining vs precomposed
      (21L, "mixed 米 script да soup 🍜 with " +
        "عربي and latin", "en", "src18"),
      // planted near-dup pair (one-word edit) + its base
      (22L, nearBase, "en", "src19"),
      (23L, nearBase.replaceFirst("lazy", "sleepy"), "en", "src19")
    )
  }

  /** (id-offset, embedding, label) — dim matches the base table. */
  def plantedEmbeddings(dim: Int): Seq[(Long, Array[Float], Int)] = {
    val normal = Array.tabulate(dim)(i => ((i % 7) - 3) / 10.0f)
    Seq(
      (0L, Array.fill(dim)(0.0f), 0),             // zero vector
      (1L, Array.fill(dim)(0.0f), 1),             // exact dup zero vector
      (2L, normal, 2),
      (3L, normal.clone(), 3),                     // exact dup normal
      (4L, Array.fill(dim)(1.0f), 4),             // all-ones
      (5L, Array.fill(dim)(1e-6f), 5)             // tiny magnitude
    )
  }

  val PlantedIdBase = 10000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.001")
    val dst = args.lift(1).getOrElse("/root/repo/sfgen/adversarial")
    val spark = graft.Sessions.start()

    val docSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))
    val docRows = plantedDocs.map { case (off, text, lang, source) =>
      // n_chars = code points (matches both Spark length() and DuckDB
      // length() on the same stored value; non-BMP emoji count once)
      Row(PlantedIdBase + off, text, lang, source,
        text.codePointCount(0, text.length).toLong)
    }
    val docs = spark.read.parquet(s"$src/documents.parquet")
      .unionByName(spark.createDataFrame(
        spark.sparkContext.parallelize(docRows, 1), docSchema))
    docs.repartition(2).write.mode("overwrite")
      .parquet(s"$dst/documents.parquet")

    val base = spark.read.parquet(s"$src/embeddings.parquet")
    val dim = base.selectExpr("size(embedding)").head().getInt(0)
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false),
        nullable = false),
      StructField("label", IntegerType, nullable = false)))
    val embRows = plantedEmbeddings(dim).map { case (off, v, label) =>
      Row(PlantedIdBase + off, v.toSeq, label)
    }
    val embs = base.unionByName(spark.createDataFrame(
      spark.sparkContext.parallelize(embRows, 1), embSchema))
    embs.repartition(2).write.mode("overwrite")
      .parquet(s"$dst/embeddings.parquet")

    for (t <- Seq("documents", "embeddings"))
      println(f"$t%-12s ${spark.read.parquet(s"$dst/$t.parquet").count()}%6d rows")
    spark.stop()
  }
}
