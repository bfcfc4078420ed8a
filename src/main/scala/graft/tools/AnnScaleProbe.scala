package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Similarity
import graft.sources.Tables

/** Scale probe for the ANN shortlist-width knob: at a fixed operating
  * point the PQ/IVF+PQ recall is bounded by how many of the probed
  * candidates survive the fixed-size ADC shortlist, so a 10× corpus
  * with the SAME rerank width must lose recall (measured r9 at sf1:
  * PQ 0.24, IVF+PQ 0.42 with the sf0.01 widths 96/128, while the
  * width-independent sweep scoring stays 0.95@nProbe=12). This probe
  * measures recall at several rerank widths on one corpus so the
  * "rerank scales with corpus" remedy is a published number, not
  * prose. `runMain graft.tools.AnnScaleProbe <sfDir> [reranks...]`.
  */
object AnnScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/sfgen/sf1")
    val reranks =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(96, 128, 256, 512, 1024, 2048)
    val spark = graft.Sessions.start(logLevel = "ERROR")

    val e = Tables.embeddings(spark, sfDir).cache()
    val n = e.count()
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = Similarity.bruteForceTopK(
        e, "vec_id", "embedding", queries, "qid", "qv", k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val approx = df.select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & approx).size.toDouble / exact.size
    }

    println(s"corpus=$n queries=20 k=5")
    reranks.foreach { r =>
      val t0 = System.nanoTime()
      val pq = recallOf(Similarity.pqTopK(e, "vec_id", "embedding",
        queries, "qid", "qv", k = 5, m = 8, codebookSize = 16,
        fitFraction = 0.5, rerank = r))
      val t1 = System.nanoTime()
      val ivfpq = recallOf(Similarity.ivfPqTopK(e, "vec_id", "embedding",
        queries, "qid", "qv", k = 5, numCells = 16, nProbe = 12,
        m = 8, codebookSize = 16, fitFraction = 0.5, rerank = r))
      val t2 = System.nanoTime()
      println(f"rerank=$r%5d  pq_recall=$pq%.2f (${(t1 - t0) / 1e9}%.1f s)  " +
        f"ivfpq_recall=$ivfpq%.2f (${(t2 - t1) / 1e9}%.1f s)")
    }
  }
}
