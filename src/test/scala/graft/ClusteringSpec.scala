package graft

import graft.ml.Clustering

class ClusteringSpec extends SparkSpecBase {
  import spark.implicits._

  // two well-separated 1-d blobs + the reference's boolean second feature
  private def blobs = (
    (1 to 20).map(i => (i.toLong, -100.0 + i * 0.1, true)) ++
    (1 to 20).map(i => (100 + i.toLong, 100.0 + i * 0.1, false))
  ).toDF("id", "change", "is_reduced")

  test("fitPredict recovers well-separated clusters (k=2)") {
    val fitted = Clustering.fitPredict(blobs, Seq("change", "is_reduced"), k = 2, seed = 1L)
    val sizes = fitted.predictions.groupBy("cluster").count()
      .collect().map(_.getLong(1)).sorted
    assert(sizes === Array(20L, 20L))
    assert(fitted.silhouette > 0.9)
    assert(fitted.centers.length === 2)
  }

  test("clusterInfo labels cluster value ranges (project-co2.py:130-133)") {
    val fitted = Clustering.fitPredict(blobs, Seq("change", "is_reduced"), k = 2, seed = 1L)
    val info = Clustering.clusterInfo(fitted.predictions, "change")
    assert(info.count() === 2)
    val labels = info.select("label").as[String].collect()
    labels.foreach(l => assert(l.matches("-?[\\d,.]+ - -?[\\d,.]+")))
  }

  test("kSweep returns a silhouette per k (project-co2.py:44-49)") {
    val assembled = Clustering.assemble(blobs, Seq("change", "is_reduced"))
    val sweep = Clustering.kSweep(assembled, 2 to 3, sampleFraction = 1.0)
    assert(sweep.map(_._1) === Seq(2, 3))
    sweep.foreach { case (_, s) => assert(s >= -1.0 && s <= 1.0) }
  }

  test("exact-reference check: k=3 recovers the ground-truth partition of separated blobs") {
    // With well-separated blobs and k = blob count, ANY correct k-means
    // converges to the ground-truth partition — an exact oracle that
    // needs no reference implementation.
    import org.apache.spark.sql.functions._
    val pts = (
      (0 until 30).map(i => (i.toLong, 0.0 + (i % 5) * 0.01, 0L)) ++
      (0 until 30).map(i => (100 + i.toLong, 50.0 + (i % 5) * 0.01, 1L)) ++
      (0 until 30).map(i => (200 + i.toLong, -70.0 + (i % 5) * 0.01, 2L))
    ).toDF("id", "change", "truth")
    val fitted = Clustering.fitPredict(pts, Seq("change"), k = 3, seed = 1L)
    // partition equality up to cluster relabeling: each predicted
    // cluster maps to exactly one truth blob and vice versa
    val pairs = fitted.predictions.select("truth", "cluster")
      .distinct().as[(Long, Int)].collect()
    assert(pairs.length === 3)
    assert(pairs.map(_._1).distinct.length === 3)
    assert(pairs.map(_._2).distinct.length === 3)
  }

  test("fitPredict is deterministic under a fixed seed") {
    val a = Clustering.fitPredict(blobs, Seq("change", "is_reduced"), k = 2, seed = 7L)
    val b = Clustering.fitPredict(blobs, Seq("change", "is_reduced"), k = 2, seed = 7L)
    assert(a.centers.map(_.toSeq).toSeq === b.centers.map(_.toSeq).toSeq)
    assert(a.silhouette === b.silhouette)
  }

  test("kSweep elbow runs end-to-end on sf0.001 change data with real seeded sampling") {
    val change = graft.ops.PeriodChange.changeBetween(
      graft.sources.Tables.orders(spark, Sf0001), Seq("o_custkey"),
      org.apache.spark.sql.functions.year(org.apache.spark.sql.functions.col("o_orderdate")),
      org.apache.spark.sql.functions.col("o_totalprice"), 1996, 2000)
    val assembled = Clustering.assemble(change, Seq("change", "is_reduced"))
    val sweep = Clustering.kSweep(assembled, 2 to 6, sampleFraction = 0.5, seed = 42L)
    assert(sweep.map(_._1) === Seq(2, 3, 4, 5, 6))
    sweep.foreach { case (_, s) => assert(s >= -1.0 && s <= 1.0) }
    // the data has genuine cluster structure, so the best silhouette
    // must beat an uninformative 0
    assert(sweep.map(_._2).max > 0.0)
  }

  test("fitPredict fits on the FULL frame (pinned deviation from project-co2.py:65)") {
    // The reference fits its final model on the k-sweep's 10% sample;
    // fitPredict deliberately fits on the full frame (scaladoc records
    // why). Witness: predictions cover EVERY input row with a real
    // cluster assignment, and with two ideally-separated blobs the
    // full-fit centres land inside their blobs — a 10%-sample fit of
    // this 40-row frame (4 rows) could not even guarantee seeing both
    // blobs. If fitPredict ever regresses to sample-fitting, the
    // all-rows-predicted invariant still holds but the centre-accuracy
    // one fails with high probability under any fixed seed.
    val f = Clustering.fitPredict(blobs, Seq("change", "is_reduced"), k = 2, seed = 1L)
    assert(f.predictions.count() === 40L, "every input row gets a prediction")
    val centres = f.centers.map(_.head).sorted
    assert(centres(0) > -101 && centres(0) < -97, s"low blob centre: ${centres(0)}")
    assert(centres(1) > 99 && centres(1) < 103, s"high blob centre: ${centres(1)}")
  }

  /** Driver-side exact-integer Lloyd with portableFitAssign's contract:
    * init = the k rows of smallest (md5(tag:id), id string), argmin of
    * exact int64 squared distance with ties to the smallest cell,
    * truncating division of the component sums, empty cells carried
    * over. Also reports whether the run hit an argmin tie, an empty
    * cell, and a negative sum the division truncates toward zero. */
  private def referenceLloyd(rows: Seq[(Long, Array[Long])], k: Int, iters: Int,
      tag: String): (Map[Long, Int], Boolean, Boolean, Boolean) = {
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def dist(a: Array[Long], b: Array[Long]) =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    var tie, empty, truncated = false
    def argmin(v: Array[Long], cents: Array[Array[Long]]): Int = {
      val ds = cents.map(dist(v, _))
      if (ds.count(_ == ds.min) > 1) tie = true
      ds.indexOf(ds.min)
    }
    var cents = rows.sortBy { case (id, _) => (md5(s"$tag:$id"), id.toString) }
      .take(k).map(_._2).toArray
    for (_ <- 1 to iters) {
      val cells = rows.map { case (_, v) => argmin(v, cents) }
      cents = cents.indices.map { c =>
        val members = rows.indices.filter(cells(_) == c).map(rows(_)._2)
        if (members.isEmpty) { empty = true; cents(c) }
        else cents(c).indices.map { i =>
          val s = members.map(_(i)).reduce(Math.addExact(_, _))
          if (s < 0 && s % members.size != 0) truncated = true
          s / members.size
        }.toArray
      }.toArray
    }
    (rows.map { case (id, v) => id -> argmin(v, cents) }.toMap, tie, empty, truncated)
  }

  test("portableFitAssign matches a driver-side exact-integer Lloyd (ties, empty cell, negatives)") {
    import org.apache.spark.sql.functions.col
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ids = (1L to 40L).sortBy(id => (md5(s"km:$id"), id.toString))
    // the two init rows of rank 0 and 1 share one vector, so every row
    // ties between cells 0 and 1 in round 1 and cell 1 empties
    val rows = ids.zipWithIndex.map { case (id, r) =>
      id -> (if (r < 2) Array(-7L, 3L)
             else Array((r * 37L) % 23 - 11, (r * 13L) % 7 - 3))
    }
    val (want, tie, empty, truncated) = referenceLloyd(rows, k = 4, iters = 3, tag = "km")
    assert(tie && empty && truncated, "the frame must exercise ties, an empty cell and truncation")
    val df = rows.map { case (id, v) => (id, v(0), v(1)) }.toDF("id", "a", "b")
    val out = Clustering.portableFitAssign(df, "id", Seq(col("a"), col("b")), k = 4, iters = 3)
    val got = out.collect()
    assert(got.map(r => r.getLong(0) -> r.getInt(2)).toMap === want)
    assert(got.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap ===
      rows.map { case (id, v) => id -> v.toSeq }.toMap)
    spark.catalog.clearCache()
  }

  test("portableFitAssign: a component sum that overflows int64 fails the fit") {
    import org.apache.spark.sql.functions.col
    val big = Long.MaxValue / 2 + 1
    val df = Seq((1L, big), (2L, big), (3L, big)).toDF("id", "a")
    val e = intercept[Exception] {
      Clustering.portableFitAssign(df, "id", Seq(col("a")), k = 1, iters = 1).collect()
    }
    spark.catalog.clearCache()
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), e.toString)
  }
}
