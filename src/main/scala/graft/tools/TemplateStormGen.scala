package graft.tools

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Template-storm corpus generator (r14 verdict stretch item 8): the
  * width-3 digest-block refinement's junk-cut analysis (BucketRefine —
  * heavy-bucket junk emits at ~⌊n/w⌋·j^w of C(n,2)) was calibrated at
  * junk per-byte digest agreement j ≈ 0.1, this corpus's measured
  * cross-replica collision rate. A BOILERPLATE-HEAVY corpus runs j far
  * higher: docs sharing a large template agree on most MinHash bytes
  * (j ≈ their true Jaccard) while staying BELOW the τ = 0.8 output
  * threshold — the adversarial regime where the refinement's junk cut
  * evaporates (21·0.6³ ≈ 4.5 ≥ 1: heavy-bucket junk re-emits per
  * agreeing block, the documented worst case) and the only thing
  * keeping the answer right is the anchor + est-filter + exact verify
  * chain. This generator plants exactly that storm so the oracle can
  * hash-audit recall there:
  *
  *  - 2000 storm docs: one shared 300-word template (every template
  *    gram's bucket holds all 2000 docs — far above any heavy cap)
  *    plus 100 unique words per doc ⇒ pairwise Jaccard ≈ 0.6, i.e.
  *    junk with digest agreement j ≈ 0.6, six times the calibrated
  *    regime;
  *  - 60 planted TRUE pairs: copies of storm docs with the tail's last
  *    {3, 10, 20} words rewritten (Jaccard ≈ 0.99/0.95/0.90, all ≥ τ)
  *    — each true pair ALSO sits inside the storm's heavy buckets, so
  *    its survival exercises the width-3 anchor under maximal bucket
  *    pressure;
  *  - the unmodified sf0.001 documents as background.
  *
  * All words are deterministic functions of (role, index) via md5 —
  * seed-free, bit-identical across runs (the AdversarialGen
  * discipline). Storm ids start at 20000, true-pair copies at 30000.
  * Driven by tools/template_storm_check.sh →
  * bench_baselines/r15_template_storm_oracle.json.
  */
object TemplateStormGen {
  private def word(role: String, i: Int): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"$role:$i".getBytes("UTF-8"))
    // 8 lowercase letters — long enough that 12-char shingles always
    // span word boundaries (every gram is phrase-specific)
    h.take(8).map(b => ('a' + ((b & 0xff) % 26)).toChar).mkString
  }

  val TemplateWords = 300
  val TailWords = 100
  val StormDocs = 2000

  def template: String = (0 until TemplateWords).map(word("tpl", _)).mkString(" ")

  def stormDoc(i: Int): String =
    template + " " + (0 until TailWords).map(j => word(s"tail$i", j)).mkString(" ")

  /** Copy of storm doc `i` with the tail's last `k` words rewritten. */
  def editedDoc(i: Int, k: Int): String =
    template + " " + (0 until TailWords).map { j =>
      if (j >= TailWords - k) word(s"edit$i", j) else word(s"tail$i", j)
    }.mkString(" ")

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.001")
    val dst = args.lift(1).getOrElse("/root/repo/sfgen/templatestorm")
    val spark = graft.Sessions.start()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))
    def row(id: Long, text: String) =
      Row(id, text, "en", s"storm${id % 7}",
        text.codePointCount(0, text.length).toLong)
    val storm = (0 until StormDocs).map(i => row(20000L + i, stormDoc(i)))
    // 60 true pairs over the first 60 storm docs, edit depth cycling
    // 3/10/20 tail words (Jaccard ~0.99/0.95/0.90 — all >= tau = 0.8)
    val copies = (0 until 60).map(i =>
      row(30000L + i, editedDoc(i, Seq(3, 10, 20)(i % 3))))
    val docs = spark.read.parquet(s"$src/documents.parquet")
      .unionByName(spark.createDataFrame(
        spark.sparkContext.parallelize(storm ++ copies, 4), docSchema))
    docs.repartition(4).write.mode("overwrite")
      .parquet(s"$dst/documents.parquet")
    println(s"documents: ${spark.read.parquet(s"$dst/documents.parquet").count()} rows " +
      s"(storm $StormDocs, true-pair copies 60)")
    spark.stop()
  }
}
