package graft.ml

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.evaluation.ClusteringEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Staging

/** KMeans clustering of the change analysis, as the reference does it.
  *
  * Reference: project-co2.py:34-76 — VectorAssembler over
  * [change, isReduced], k-sweep 2..10 with cost curve on a seeded 10%
  * sample, fixed k=5 fit, predictions, centres; BigData_Mayur.py:42-46
  * adds the silhouette score via ClusteringEvaluator.
  *
  * Scale notes: KMeans in Spark ML is already distributed (broadcast
  * centres + map-side partial sums per iteration). The k-sweep fits on a
  * seeded sample — the reference's own trick (project-co2.py:48) — which
  * is exactly how you'd keep the sweep cheap at 100 TB.
  */
object Clustering {

  final case class Fitted(
      predictions: DataFrame, model: KMeansModel,
      centers: Array[Array[Double]], silhouette: Double)

  def assemble(df: DataFrame, featureCols: Seq[String]): DataFrame = {
    // VectorAssembler rejects booleans; project-co2.py:36 feeds isReduced
    // as a numeric feature, so cast flags to double first.
    val numeric = featureCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, col(c).cast("double"))
    }
    new VectorAssembler()
      .setInputCols(featureCols.toArray)
      .setOutputCol("features")
      .transform(numeric)
  }

  /** Reference's k-sweep (project-co2.py:44-49): fit on a seeded sample
    * per k, score full data; caller picks the elbow.
    */
  def kSweep(
      assembled: DataFrame, ks: Range, sampleFraction: Double = 0.1,
      seed: Long = 42L): Seq[(Int, Double)] = {
    Staging.scoped {
      val sample = Staging.stage(assembled.sample(withReplacement = false, sampleFraction, seed))
      ks.map { k =>
        val model = new KMeans().setK(k).setSeed(1L).setFeaturesCol("features").fit(sample)
        // computeCost is gone post-3.0; the reference's own comment
        // (project-co2.py:49) points at ClusteringEvaluator as replacement.
        val preds = model.transform(assembled)
        k -> new ClusteringEvaluator().setPredictionCol("prediction").evaluate(preds)
      }
    }
  }

  /** Final KMeans fit + predictions + centres + silhouette.
    *
    * DELIBERATE DEVIATION from the reference (pinned, r14 verdict item
    * 6): project-co2.py:65 fits its FINAL model on the same 10% sample
    * the k-sweep used and only `transform`s the full frame, so the
    * published centres/silhouette depend on the sample draw. This fits
    * on the FULL frame: at the reference's data size the sample trick
    * saves nothing, at 100 TB the sampling belongs in [[kSweep]] (model
    * selection) while the one final fit is a handful of Lloyd passes
    * over cached features — and full-fit centres are what the
    * oracle-checked portable path (q_kmeans_portable) reproduces
    * deterministically. ClusteringSpec's "full-frame fit" case pins
    * this choice; q_kmeans_clusters stays rows-checked (Spark-ML RNG
    * fidelity, SURVEY §2 R15).
    */
  def fitPredict(
      df: DataFrame, featureCols: Seq[String], k: Int = 5,
      seed: Long = 1L): Fitted = {
    // Stage the assembled features: fit iterates over them per KMeans
    // round, transform reads them again, and the silhouette is a third
    // pass — unstaged, each pass re-runs the whole upstream plan (scan
    // + pivot aggregation), a 3×+ rescan at any scale. They live in
    // this call's scope; the predictions the caller reads live in the
    // caller's, staged while the features are still there to read.
    // Then right-size partitions: each Lloyd iteration is one job over
    // the features, so near-empty partitions make the fit pure
    // scheduler overhead (32 × 300-row tasks × ~25 jobs). Target ~500k
    // rows per partition — feature rows are a handful of doubles.
    Staging.scoped {
      val staged = Staging.stage(assemble(df, featureCols))
      val n = staged.count()
      val targetParts = math.max(1L, math.min(
        staged.rdd.getNumPartitions.toLong, n / 500000L + 1L)).toInt
      val assembled =
        if (targetParts < staged.rdd.getNumPartitions) staged.coalesce(targetParts)
        else staged
      val model = new KMeans()
        .setK(k).setSeed(seed)
        .setFeaturesCol("features").setPredictionCol("cluster")
        .fit(assembled)
      val preds = Staging.inEnclosingScope(Staging.stage(model.transform(assembled)))
      val silhouette = new ClusteringEvaluator()
        .setPredictionCol("cluster").evaluate(preds)
      Fitted(preds, model, model.clusterCenters.map(_.toArray), silhouette)
    }
  }

  /** Per-cluster summary with the reference's "min - max" range label
    * (project-co2.py:130-133), native functions instead of a UDF.
    */
  def clusterInfo(predictions: DataFrame, valueCol: String): DataFrame =
    graft.ops.PeriodChange.rangeLabels(predictions, "cluster", valueCol)

  /** PORTABLE integer k-means over EXACT integer features — the
    * engine-replayable sibling of [[fitPredict]] (r10, closes the last
    * no-oracle row): the reference pipeline keeps its Spark-ML-parity
    * check (`q_kmeans_clusters`, k-means‖ init is not portably
    * replayable), and THIS fit gives the same clustering shape a full
    * DuckDB oracle. Features arrive as already-exact integers (cents,
    * flags — caller's responsibility; no quantization step here), and
    * the fit is [[graft.ops.Lloyd.fitStaged]] with init tag `tag`.
    *
    * Scale shape: identical to the semDeDup level-1 fit — each round is
    * one [[graft.ops.Lloyd.round]] job over the staged features, a k×dim
    * partial per partition summed driver-side; nothing corpus-sized
    * ever reaches the driver. Caller must keep Σ(Δfeature)² inside
    * int64 (cents-scale features with dim ≤ ~16 are far inside it);
    * component sums that overflow int64 fail the fit.
    *
    * Returns (id, qv, cluster), `qv` the features as array<bigint>. The
    * features stay staged in the caller's scope (the semDeDup
    * convention): the result reads them, so they live until the query
    * that reads it ends ([[graft.Runner]]).
    */
  def portableFitAssign(
      df: DataFrame, idCol: String, featCols: Seq[Column],
      k: Int, iters: Int, tag: String = "km"): DataFrame = {
    import graft.functions.exprs
    val (staged, cents) = graft.ops.Lloyd.fitStaged(df.select(
      col(idCol).as("id"), array(featCols.map(_.cast("long")): _*).as("qv")), tag, k, iters)
    staged.select(col("id"), col("qv"),
      exprs.argmin_cell(col("qv"), cents.flatten, k, cents(0).length).as("cluster"))
  }
}
