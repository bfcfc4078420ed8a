package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator for the one-off scale-validation run (SURVEY §7):
  * replicates the driver's sf0.1 tables K-fold with shifted keys so the
  * full query suite can be exercised at ~sf1 without inventing new data
  * distributions. Output goes under the repo (gitignored) — only the
  * measured findings are committed.
  *
  * Replication rules, chosen so per-replica structure is the driver's
  * own and CROSS-replica artifacts don't distort the workload:
  *  - region/nation stay fixed (TPC-H dimension tables are
  *    scale-invariant; growing them would break the star-join fanout).
  *  - customer/supplier/part/orders/lineitem/events: replica i shifts
  *    every key by i·(max+1) of its table, preserving referential
  *    integrity and per-key fanout exactly.
  *  - documents: replica i substitutes letters through a seeded random
  *    alphabet permutation (identity for i=0). Any character BIJECTION
  *    preserves within-replica n-gram/jaccard structure exactly, so the
  *    dup/near-dup cluster structure per replica is the driver's own;
  *    across replicas similarity collapses to noise, so cluster COUNT
  *    scales ×K while cluster sizes stay realistic. (A plain copy would
  *    instead put every doc in a K-member near-dup clique — a
  *    boilerplate storm, not a scale-up. r8 used Caesar rotations 3·i,
  *    which only admits 26 distinct ciphers — replicas 26 apart would
  *    be verbatim copies, so k=100 for the sf10 probe forced the
  *    general-permutation form; for k ≤ 9 the two recipes differ only
  *    in which bijection each replica gets.)
  *  - embeddings: replica i applies a seeded coordinate permutation —
  *    an orthogonal transform, so within-replica distances/cosines are
  *    preserved EXACTLY (ANN ground truth per replica is unchanged)
  *    while cross-replica cosines decorrelate.
  *
  * Big fact tables are written as multiple files so downstream scans
  * parallelize naturally (spreadForKernel then no-ops, as on a real
  * multi-file landing zone).
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/root/repo/sfgen/sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Sessions.start()

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // file counts were tuned for k=10; scale them with k so sf10 keeps
    // the same ~per-file row counts instead of 10x-size files
    val fmul = math.max(1, k / 10)
    def write(df: DataFrame, t: String, files: Int): Unit =
      df.repartition(files * fmul).write.mode("overwrite")
        .parquet(s"$dst/$t.parquet")

    // dimension tables: copy through unchanged
    for (t <- Seq("region", "nation")) write(read(t), t, 1)

    // every key's shift span comes from its PRIMARY table's max — a
    // foreign key shifted by max(referencing column) instead would
    // break referential integrity whenever the highest primary key is
    // unreferenced (standard TPC-H leaves a third of customers
    // order-less; it holds in this data only by coincidence)
    // getAs[Number]: robust to int- vs long-typed keys across
    // generator versions (getLong throws on an int-typed column)
    def primSpan(t: String, key: String): Long =
      read(t).agg(max(col(key))).collect()(0)
        .getAs[Number](0).longValue + 1L
    val spans: Map[String, Long] = Map(
      "c_custkey" -> primSpan("customer", "c_custkey"),
      "s_suppkey" -> primSpan("supplier", "s_suppkey"),
      "p_partkey" -> primSpan("part", "p_partkey"),
      "o_orderkey" -> primSpan("orders", "o_orderkey"),
      "event_id" -> primSpan("events", "event_id"),
      "user_id" -> primSpan("events", "user_id"))
    val fkSpan: Map[String, String] = Map(
      "o_custkey" -> "c_custkey", "l_orderkey" -> "o_orderkey",
      "l_partkey" -> "p_partkey", "l_suppkey" -> "s_suppkey")
    def spanOf(c: String): Long = spans(fkSpan.getOrElse(c, c))

    def shifted(t: String, keys: Seq[String], files: Int,
        nameFromKey: Option[(String, String, String)] = None): Unit = {
      val df = read(t)
      val reps = (0 until k).map { i =>
        val keyed = keys.foldLeft(df) { (d, c) =>
          d.withColumn(c, col(c) + lit(i * spanOf(c))) }
        // entity names carry the key (Supplier#000000017): rebuild from
        // the SHIFTED key, or every replica duplicates the base names
        // verbatim and name-keyed ops (fuzzy join) measure a 10-copy
        // clique artifact instead of the base data's own name geometry.
        // lpad TRUNCATES over-long input — keys past 9 digits keep
        // their natural width (unique names matter, not the padding)
        nameFromKey.fold(keyed) { case (nameCol, prefix, keyCol) =>
          val ks = col(keyCol).cast("string")
          keyed.withColumn(nameCol, concat(lit(prefix),
            when(length(ks) > 9, ks).otherwise(lpad(ks, 9, "0"))))
        }
      }
      write(reps.reduce(_ unionAll _), t, files)
    }

    shifted("customer", Seq("c_custkey"), 4,
      Some(("c_name", "Customer#", "c_custkey")))
    shifted("supplier", Seq("s_suppkey"), 1,
      Some(("s_name", "Supplier#", "s_suppkey")))
    shifted("part", Seq("p_partkey"), 4)
    shifted("orders", Seq("o_orderkey", "o_custkey"), 8)
    shifted("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), 16)
    shifted("events", Seq("event_id", "user_id"), 8)

    // documents: key shift + per-replica seeded alphabet permutation
    val docs = read("documents")
    val nDocs = docs.agg(max(col("doc_id"))).collect()(0)
      .getAs[Number](0).longValue + 1L
    val lower = ('a' to 'z').mkString
    val upper = ('A' to 'Z').mkString
    val docReps = (0 until k).map { i =>
      val t =
        if (i == 0) col("text")
        else {
          val perm = new scala.util.Random(7100L + i)
            .shuffle(('a' to 'z').toVector).mkString
          translate(col("text"), lower + upper, perm + perm.toUpperCase)
        }
      docs.select(
        (col("doc_id") + lit(i * nDocs)).as("doc_id"), t.as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    write(docReps.reduce(_ unionAll _), "documents", 8)

    // embeddings: key shift + per-replica seeded coordinate permutation.
    // The k permutations are precomputed ONCE driver-side (the r8 UDF
    // re-ran Random(..).shuffle per ROW — O(dim log dim) allocation per
    // vector) and captured as int arrays in the UDF closure.
    val embs = read("embeddings")
    val nVec = embs.agg(max(col("vec_id"))).collect()(0)
      .getAs[Number](0).longValue + 1L
    val dim = embs.select(size(col("embedding"))).head().getInt(0)
    val perms: Array[Array[Int]] = (0 until k).map { i =>
      if (i == 0) (0 until dim).toArray
      else new scala.util.Random(9001L + i)
        .shuffle((0 until dim).toVector).toArray
    }.toArray
    val permute = udf { (v: Seq[Float], rep: Int) =>
      if (rep == 0) v else { val p = perms(rep); p.toSeq.map(v) }
    }
    val embReps = (0 until k).map { i =>
      embs.select(
        (col("vec_id") + lit(i * nVec)).as("vec_id"),
        permute(col("embedding"), lit(i)).as("embedding"), col("label"))
    }
    write(embReps.reduce(_ unionAll _), "embeddings", 4)

    for (t <- graft.sources.Tables.starTables)
      println(f"$t%-12s ${spark.read.parquet(s"$dst/$t.parquet").count()}%10d rows")
    spark.stop()
  }
}
