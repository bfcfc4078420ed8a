package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** df-distribution probe for the PPJoin gram vocabulary: per sf-dir,
  * prints total gram occurrences, vocabulary size, and the df≥2/8/64
  * vocab counts — sizing data for the heavy-gram broadcast design
  * (a gram with df=1 can never produce a candidate pair, so only the
  * df≥2 tail needs globally consistent frequency ranks).
  */
object GramDfProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (dir <- args) {
      val docs = graft.sources.Tables.documents(spark, dir)
      val grams = graft.sources.Tables.roundRobinSpread(docs)
        .select(col("doc_id"), explode(array_distinct(
          graft.functions.exprs.gram_hashes64(col("text"), 12))).as("g"))
      val freq = grams.groupBy(col("g")).agg(count(lit(1)).as("f"))
      val h = freq.selectExpr("sum(f) as occ", "count(*) as vocab",
        "sum(case when f >= 2 then 1 else 0 end) as v2",
        "sum(case when f >= 8 then 1 else 0 end) as v8",
        "sum(case when f >= 64 then 1 else 0 end) as v64",
        "max(f) as fmax").head()
      println(s"DIR=$dir occ=${h.getAs[Number](0)} vocab=${h.getAs[Number](1)} " +
        s"df2=${h.getAs[Number](2)} df8=${h.getAs[Number](3)} " +
        s"df64=${h.getAs[Number](4)} fmax=${h.getAs[Number](5)}")
    }
    spark.stop()
  }
}
