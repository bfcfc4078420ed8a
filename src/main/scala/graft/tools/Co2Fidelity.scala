package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r16 real-data fidelity capstone (r15 verdict item 7): run the
  * reference's OWN dataset — co2-dataset-edited.csv — through the
  * engine's Tables → Preprocess → (change derivation) → Clustering
  * modules and emit the cluster-summary table the reference prints
  * (project-co2.py:130-133: per-cluster min/max change + "min - max"
  * label), the cluster centres (py:74-76, 118-120), per-cluster counts,
  * and the facts block (py:184-226: top-3s, reduced/increased counts,
  * sums by flag). The committed record
  * (bench_baselines/r16_co2_fidelity.json) places these beside the
  * reference pipeline's own numbers (tools/co2_reference_replica.py —
  * the same compute in PySpark, since the original script's
  * matplotlib/geopandas surface can't run headless here).
  *
  * Known, pinned deviation (ClusteringSpec "full-frame fit"): the
  * engine fits its final KMeans on the FULL frame with an explicit
  * seed; project-co2.py:65 fits on the same seeded 10% sample as the
  * k-sweep with Spark-ML's DEFAULT seed. Cluster BOUNDARIES therefore
  * may differ slightly; the record carries both tables so the
  * comparison is inspectable.
  *
  * `runMain graft.tools.Co2Fidelity [csvPath] [outJson]`
  */
object Co2Fidelity {
  def main(args: Array[String]): Unit = {
    val csvPath = args.headOption.getOrElse("/root/reference/co2-dataset-edited.csv")
    val out = if (args.length > 1) args(1) else "/tmp/co2_fidelity_engine.json"
    // 4 cores, pinned: the seeded Spark-ML KMeans samples per
    // partition, and the committed fidelity record must reproduce
    val spark = graft.Sessions.start(graft.Sessions.builder(cpus = 4))

    // Tables: the reference's ingest options (project-co2.py:87)
    val raw = graft.sources.Tables.csv(spark, csvPath,
      header = true, inferSchema = true)
    val sel = raw.select(col("Country Name"), col("Country Code"),
      col("2004"), col("2014"))
    // Preprocess: na.drop("all") → na.drop("all", subset) → na.drop("any")
    // (project-co2.py:25-29)
    val clean = graft.ops.Preprocess.dropAnyNull(
      graft.ops.Preprocess.dropAllNull(
        graft.ops.Preprocess.dropAllNull(sel), Seq("2004", "2014")))
    // change / isReduced (project-co2.py:101-105) — raw double
    // subtraction, exactly the reference's arithmetic
    val change = clean
      .withColumn("change", col("2014") - col("2004"))
      .withColumn("isReduced", col("change") <= 0)
      .cache()
    val nCountries = change.count()

    val fitted = graft.ml.Clustering.fitPredict(
      change, Seq("change", "isReduced"), k = 5)
    // Clustering.assemble casts the flag to double for VectorAssembler;
    // facts read the pre-assemble boolean frame, clusters the predictions
    val preds = fitted.predictions.withColumnRenamed("prediction", "cluster")

    // clusterInfo (project-co2.py:130-133) + per-cluster counts; label
    // formatted like the reference's str(round(x, 3)) udf
    val info = preds.groupBy(col("cluster"))
      .agg(min(col("change")).as("min_change"),
        max(col("change")).as("max_change"),
        count(lit(1)).as("n_countries"))
      .orderBy(col("cluster"))
      .collect()
    def r3(d: Double): Double = math.rint(d * 1000) / 1000
    val clusterRows = info.map { r =>
      val (mn, mx) = (r.getDouble(1), r.getDouble(2))
      s"""{"cluster": ${r.getInt(0)}, "min_change": $mn, "max_change": $mx, """ +
        s""""label": "${r3(mn)} - ${r3(mx)}", "n_countries": ${r.getLong(3)}}"""
    }

    def top3(c: String, asc: Boolean): String = {
      val o = if (asc) change.orderBy(col(c).asc) else change.orderBy(col(c).desc)
      o.limit(3).select(col("Country Name"), col(c).cast("double"))
        .collect()
        .map(r => s"""["${r.getString(0)}", ${r.getDouble(1)}]""")
        .mkString("[", ", ", "]")
    }
    val nReduced = change.filter(col("isReduced")).count()
    val nIncreased = change.filter(!col("isReduced")).count()
    val sums = change.agg(
      sum(when(col("isReduced"), col("change"))),
      sum(when(!col("isReduced"), col("change"))),
      sum(col("change"))).head()

    val json =
      s"""{
         |"pipeline": "Tables.csv(header, inferSchema) -> Preprocess.dropAllNull -> dropAllNull(subset 2004/2014) -> dropAnyNull -> change/isReduced -> Clustering.fitPredict(k=5, full-frame fit, seed 1)",
         |"n_countries": $nCountries,
         |"cluster_summary": [${clusterRows.mkString(", ")}],
         |"centers": [${fitted.centers.map(_.mkString("[", ", ", "]")).mkString(", ")}],
         |"silhouette": ${fitted.silhouette},
         |"facts": {
         |  "top3_2004": ${top3("2004", asc = false)},
         |  "bottom3_2004": ${top3("2004", asc = true)},
         |  "top3_2014": ${top3("2014", asc = false)},
         |  "bottom3_2014": ${top3("2014", asc = true)},
         |  "top3_reduction": ${top3("change", asc = true)},
         |  "top3_increase": ${top3("change", asc = false)},
         |  "n_reduced": $nReduced,
         |  "n_increased": $nIncreased,
         |  "sum_change_reduced": ${sums.getDouble(0)},
         |  "sum_change_increased": ${sums.getDouble(1)},
         |  "sum_change_total": ${sums.getDouble(2)}
         |}
         |}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes("UTF-8"))
    println(s"wrote $out")
    spark.stop()
  }
}
