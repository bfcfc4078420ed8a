package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** documents/embeddings-only scale generator for the THIRD-decade
  * funnel probe (r9 verdict item 2): same replication semantics as
  * [[ScaleGen]] — per-replica seeded alphabet bijection for text,
  * per-replica seeded coordinate permutation for embeddings, keys
  * shifted by replica — but built for k up to 1000, where ScaleGen's
  * k-way `unionAll` plan would be a 1000-branch Catalyst tree.
  *
  * Shape: ONE plan per table — the source cross-joined with a k-row
  * replica spine carrying each replica's permutation as DATA, applied
  * with non-foldable `translate(text, m, r)` (StringTranslate accepts
  * column match/replace and rebuilds its dict on change — once per
  * replica per partition here, since the spine side is the small
  * broadcast side) and `transform(perm, j -> embedding[j+1])`. The
  * only driver-side work is computing the k seeded permutations
  * (exactly ScaleGen's seeds 7100+i / 9001+i, so k ≤ 10 output is
  * row-identical to ScaleGen's for these tables).
  */
object ScaleGenDocs {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/root/repo/sfgen/sf100docs")
    val k = args.lift(2).map(_.toInt).getOrElse(1000)
    val spark = graft.Sessions.start()
    import spark.implicits._

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    val fmul = math.max(1, k / 10)

    // documents — replica spine carries (rep, matching, replacement)
    val docs = read("documents")
    val nDocs = docs.agg(max(col("doc_id"))).collect()(0)
      .getAs[Number](0).longValue + 1L
    val lower = ('a' to 'z').mkString
    val upper = ('A' to 'Z').mkString
    val docSpine = (0 until k).map { i =>
      val perm =
        if (i == 0) lower
        else new scala.util.Random(7100L + i)
          .shuffle(('a' to 'z').toVector).mkString
      (i.toLong, lower + upper, perm + perm.toUpperCase)
    }.toDF("rep", "m", "r")
    docs.crossJoin(broadcast(docSpine))
      .select((col("doc_id") + col("rep") * nDocs).as("doc_id"),
        expr("translate(text, m, r)").as("text"),
        col("lang"), col("source"), col("n_chars"))
      .repartition(8 * fmul)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    // embeddings — spine carries the coordinate permutation as an array
    val embs = read("embeddings")
    val nVec = embs.agg(max(col("vec_id"))).collect()(0)
      .getAs[Number](0).longValue + 1L
    val dim = embs.select(size(col("embedding"))).head().getInt(0)
    val embSpine = (0 until k).map { i =>
      val p =
        if (i == 0) (0 until dim).toArray
        else new scala.util.Random(9001L + i)
          .shuffle((0 until dim).toVector).toArray
      (i.toLong, p.toSeq)
    }.toDF("rep", "perm")
    embs.crossJoin(broadcast(embSpine))
      .select((col("vec_id") + col("rep") * nVec).as("vec_id"),
        // [] is GetArrayItem — 0-BASED (element_at would be 1-based) —
        // matching ScaleGen's p.map(v): out[idx] = embedding[perm[idx]]
        expr("transform(perm, j -> embedding[j])").as("embedding"),
        col("label"))
      .repartition(4 * fmul)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    for (t <- Seq("documents", "embeddings"))
      println(f"$t%-12s ${spark.read.parquet(s"$dst/$t.parquet").count()}%10d rows")
    spark.stop()
  }
}
