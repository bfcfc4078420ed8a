package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Throwaway funnel-size dump for the MinHash pipeline (band-bucket
  * fan-out, candidate pairs, candidate docs) — sizing data for staging
  * decisions. `runMain graft.tools.DebugCounts [sfDir] [mode]`;
  * mode `simhash` dumps the SimHash chunk-bucket funnel instead.
  */
object DebugCounts {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    if (args.lift(1).contains("simhash")) { simhashFunnel(sfDir); return }
    if (args.lift(1).contains("simjoin")) { simjoinFunnel(sfDir); return }
    if (args.lift(1).contains("embed")) { embedFunnel(sfDir); return }
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val p = graft.ops.Dedup.MinhashParams()
    val sigs = graft.sources.Tables.spreadForKernel(docs).select(
      col("doc_id").as("id"),
      graft.functions.exprs.minhash_sig(col("text"), p.shingleN, p.numHashes, p.seed).as("sig"))
    val bandCols = (0 until p.bands).map { i =>
      struct(lit(i).as("band"),
        xxhash64(slice(col("sig"), i * p.rowsPerBand + 1, p.rowsPerBand)).as("bh"))
    }
    val buckets = sigs
      .select(col("id"), explode(array(bandCols: _*)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.bh").as("bh"))
      .persist()
    println(s"buckets rows: ${buckets.count()}")
    val sizes = buckets.groupBy("band", "bh").count()
    sizes.select(sum(col("count") * (col("count") - 1) / 2).as("rawPairs"),
      max("count").as("maxBucket"), count(lit(1)).as("nBuckets"))
      .show(false)
    val a = buckets.as("a"); val b = buckets.as("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    println(s"candidate rows pre-distinct: ${cand.count()}")
    val candD = cand.distinct().persist()
    println(s"candidate pairs distinct: ${candD.count()}")
    val ids = candD.select(col("id_a").as("id"))
      .union(candD.select(col("id_b").as("id"))).distinct()
    println(s"candidate docs: ${ids.count()} of ${docs.count()}")

    // signature-agreement (minhash jaccard estimate) histogram over the
    // candidate pairs — sizing data for the pre-verify est-filter cut
    val sigsP = sigs.persist()
    sigsP.count()
    val est = candD
      .join(sigsP.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigsP.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / p.numHashes).as("est"))
    est.groupBy(floor(col("est") * 10).as("decile")).count()
      .orderBy("decile").show(20, false)
    println("est >= 0.55: " + est.filter(col("est") >= 0.55).count())
    println("est >= 0.60: " + est.filter(col("est") >= 0.60).count())
    println("true jaccard >= 0.75 (shingle exact): " + {
      val sh = docs.select(col("doc_id").as("id"),
        graft.functions.exprs.shingle_set(col("text"), p.shingleN).as("sh")).persist()
      sh.count()
      val j = candD
        .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .select(graft.functions.exprs.jaccard_sorted(col("sh_a"), col("sh_b")).as("j"))
      val n75 = j.filter(col("j") >= 0.75).count()
      val n80 = j.filter(col("j") >= 0.8).count()
      s"$n75 (>=0.8: $n80)"
    })
    spark.stop()
  }

  /** Embedding-LSH funnel: bucket sizes, raw candidate pairs, verified
    * survivors at the q_embed_neardup parameters. */
  def embedFunnel(sfDir: String): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val keyed = embs.select(col("vec_id").as("id"), col("embedding").as("v")).persist()
    println(s"vectors: ${keyed.count()}")
    for (numPlanes <- Seq(12, 16, 20, 24)) {
      val tableCols = (0 until 4).map { t =>
        struct(lit(t).as("t"),
          graft.ops.Similarity.hyperplaneSignature(col("v"), numPlanes, 64, 42L + t).as("sig"))
      }
      val buckets = keyed
        .select(col("id"), explode(array(tableCols: _*)).as("b"))
        .select(col("id"), col("b.t").as("t"), col("b.sig").as("sig"))
      val sizes = buckets.groupBy("t", "sig").count()
      val stats = sizes.agg(
        sum(col("count") * (col("count") - 1) / 2).as("rawPairs"),
        max("count").as("maxBucket"), count(lit(1)).as("nBuckets")).collect()(0)
      println(s"planes=$numPlanes rawPairs=${stats.get(0)} maxBucket=${stats.get(1)} nBuckets=${stats.get(2)}")
    }
    val verified = graft.ops.Dedup.embeddingNearDupPairs(embs, "embedding", "vec_id")
    println(s"verified pairs (planes=12): ${verified.count()}")
    spark.stop()
  }

  /** PPJoin funnel: prefix-join candidates, distinct pairs, distinct
    * candidate docs, exact survivors, and the true-jaccard distribution
    * of candidates — sizing data for verify pruning decisions. */
  def simjoinFunnel(sfDir: String): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tau = 0.8
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val keyed = graft.sources.Tables.roundRobinSpread(docs)
      .select(col("doc_id"), array_distinct(
        graft.functions.exprs.gram_hashes64(col("text"), 12)).as("ga"))
      .select(col("doc_id"), explode(col("ga")).as("g"))
      .groupBy(col("g")).agg(collect_list(col("doc_id")).as("ids"), count(lit(1)).as("f"))
      .select(explode(col("ids")).as("doc_id"), col("g"), col("f"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("f"), col("g")))).as("toks"))
      .withColumn("m", size(col("toks")))
      .withColumn("plen", col("m") - ceil(lit(tau) * col("m")).cast("int") + 1)
      .persist()
    println(s"docs: ${keyed.count()}")
    keyed.select(avg(col("m")), max(col("m")), avg(col("plen"))).show(false)
    val prefixes = keyed
      .select(col("doc_id"), col("m"),
        posexplode(expr("slice(toks, 1, plen)")).as(Seq("pos", "p")))
      .select(col("doc_id"), col("m"), (col("pos") + 1).as("rn"), col("p.g").as("pg"))
      .persist()
    println(s"prefix rows: ${prefixes.count()}")
    val joined = prefixes.as("a").join(prefixes.as("b"),
        col("a.pg") === col("b.pg") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.m").as("ma"), col("b.m").as("mb"),
        col("a.rn").as("rna"), col("b.rn").as("rnb")).persist()
    println(s"pg-join rows (no filters): ${joined.count()}")
    val sized = joined.filter(
      greatest(col("ma"), col("mb")) * tau <= least(col("ma"), col("mb")))
    println(s"after size filter: ${sized.count()}")
    val pos = sized.filter(
      lit(1) + least(col("ma") - col("rna"), col("mb") - col("rnb")) >=
        ceil(lit(tau / (1 + tau)) * (col("ma") + col("mb"))))
    println(s"after positional filter: ${pos.count()}")
    val cand = pos.select(col("id_a"), col("id_b")).distinct().persist()
    println(s"distinct candidate pairs: ${cand.count()}")
    // aggregated bound over ALL shared prefix grams per pair:
    // overlap <= c + min(ma - max(rna), mb - max(rnb))
    val aggB = pos.groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("c"), max(col("rna")).as("xa"), max(col("rnb")).as("xb"),
        first(col("ma")).as("ma"), first(col("mb")).as("mb"))
      .filter(col("c") + least(col("ma") - col("xa"), col("mb") - col("xb")) >=
        ceil(lit(tau / (1 + tau)) * (col("ma") + col("mb"))))
    println(s"after aggregated-positional bound: ${aggB.count()}")
    val candDocs = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b").as("doc_id"))).distinct()
    println(s"distinct candidate docs: ${candDocs.count()}")
    val sets = keyed.select(col("doc_id"),
      sort_array(expr("transform(toks, t -> t.g)")).as("gs"))
    val verified = sets.select(col("doc_id").as("id_a"), col("gs").as("ga"))
      .join(broadcast(cand), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("gs").as("gb")), "id_b")
      .withColumn("jaccard",
        graft.functions.exprs.jaccard_sorted_l(col("ga"), col("gb")))
      .persist()
    println(s"verified >= tau: ${verified.filter(col("jaccard") >= tau).count()}")
    verified.groupBy(floor(col("jaccard") * 10).as("jdecile")).count()
      .orderBy("jdecile").show(20, false)
    spark.stop()
  }

  /** SimHash chunk-bucket funnel: raw bucket-join pairs vs hamming
    * survivors — sizing data for the filter-before-distinct reorder. */
  def simhashFunnel(sfDir: String): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val hashed = graft.sources.Tables.roundRobinSpread(docs).select(
      col("doc_id").as("id"),
      graft.functions.exprs.simhash64(col("text"), 3).as("sh")).persist()
    println(s"docs: ${hashed.count()}")
    val chunkCols = (0 until 4).map { i =>
      struct(lit(i).as("ci"),
        shiftright(col("sh"), i * 16).bitwiseAND(lit(0xffffL)).as("cv"))
    }
    val buckets = hashed
      .select(col("id"), col("sh"), explode(array(chunkCols: _*)).as("c"))
      .select(col("id"), col("sh"), col("c.ci").as("ci"), col("c.cv").as("cv"))
      .persist()
    buckets.count()
    val sizes = buckets.groupBy("ci", "cv").count()
    sizes.select(sum(col("count") * (col("count") - 1) / 2).as("rawBucketPairs"),
      max("count").as("maxBucket"), count(lit(1)).as("nBuckets")).show(false)
    val a = buckets.as("a"); val b = buckets.as("b")
    val joined = a.join(b,
        col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .persist()
    val raw = joined.count()
    println(s"raw candidate rows (pre-distinct): $raw")
    println(s"raw distinct pairs: ${joined.select("id_a", "id_b").distinct().count()}")
    val surv = joined.filter(col("hamming") <= 3)
    println(s"hamming<=3 rows: ${surv.count()}")
    println(s"hamming<=3 distinct pairs: ${surv.distinct().count()}")
    joined.groupBy((col("hamming") / 8).cast("int").as("hamming_octile")).count()
      .orderBy("hamming_octile").show(false)
    spark.stop()
  }
}
