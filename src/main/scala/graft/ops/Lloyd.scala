package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import graft.functions.HashKernels

/** The portable integer k-means (Lloyd) — the one implementation of the
  * contract that every portable fit in the engine follows and that the
  * DuckDB oracles replay (`AnnQueries.lloydRoundsSql` and the IVF,
  * q_semdedup and q_kmeans_portable fit CTEs):
  *
  *  - init: the k rows of smallest [[initOrder]] — (md5(tag+":"+id),
  *    id-as-string) — in rank order. The md5 hashes the string form of
  *    the id, so the string form is the tiebreak and string-keyed
  *    inputs fit too;
  *  - assignment: argmin of exact int64 squared distance, ties to the
  *    smallest cell ([[HashKernels.argminCell]]);
  *  - update: per-cell component sums divided by the cell's count with
  *    TRUNCATING division (Java `/` = DuckDB `//`); an empty cell keeps
  *    its centroid. Sums use `Math.addExact`, so int64 overflow fails
  *    the fit with an `ArithmeticException`, as the oracles' ANSI
  *    `CAST(sum(x) AS BIGINT)` does. Null components are skipped by the
  *    sum but counted, as `sum`/`count(1)` over exploded components are.
  *
  * Two executors run the same per-row step ([[Partial]]):
  *  - [[round]] is one Spark job per round over a staged frame: each
  *    partition folds its rows into k×dim sums and counts, and the
  *    driver adds the partials. [[fitStaged]] stages, draws the init in
  *    one job and runs the rounds: `Dedup.semDeDup`'s level-1 cells and
  *    `graft.ml.Clustering.portableFitAssign`;
  *  - [[fit]] runs the rounds on the driver over a collected sample
  *    already in init order (`Similarity.collectFitRowsQ`, bounded by
  *    `Similarity.capFitSample`): the IVF coarse quantizer
  *    (`Similarity.ivfTopK`/`ivfRecallSweep`), the PQ codebook
  *    (`Similarity.fitPqCodebookQ`, one fit per subspace) and both
  *    IVF-PQ codebooks (`Similarity.buildIvfPqIndex`, the second over
  *    [[residuals]]).
  */
object Lloyd {

  /** The portable init rank of an `idCol` row under `tag`. */
  def initOrder(tag: String, idCol: String): Seq[Column] =
    Seq(md5(concat(lit(tag + ":"), col(idCol).cast("string"))), col(idCol).cast("string"))

  /** k×dim component sums and counts of the rows one executor folded. */
  private final class Partial(k: Int, dim: Int) extends Serializable {
    val sums = new Array[Long](k * dim)
    val counts = new Array[Long](k * dim)

    def add(v: ArrayData, book: Array[Long]): Unit = {
      val off = HashKernels.argminCell(v, book, k, dim) * dim
      val m = math.min(v.numElements(), dim)
      var i = 0
      while (i < m) {
        if (!v.isNullAt(i)) sums(off + i) = Math.addExact(sums(off + i), v.getLong(i))
        counts(off + i) += 1
        i += 1
      }
    }

    def merge(o: Partial): Partial = {
      var j = 0
      while (j < k * dim) {
        sums(j) = Math.addExact(sums(j), o.sums(j))
        counts(j) += o.counts(j)
        j += 1
      }
      this
    }

    def update(cents: Array[Array[Long]]): Array[Array[Long]] =
      Array.tabulate(k, dim) { (c, i) =>
        val j = c * dim + i
        if (counts(j) == 0L) cents(c)(i) // empty cell carries over
        else sums(j) / counts(j) // truncating div = DuckDB `//`
      }
  }

  /** One round over a staged frame with a `qv` array<bigint> column, as
    * ONE Spark job. A SQL round (argmin, posexplode, groupBy, collect)
    * costs two AQE jobs and a fresh plan per round for the same
    * integers. Every `qv` must have `dim` components. */
  def round(staged: DataFrame, cents: Array[Array[Long]]): Array[Array[Long]] = {
    val k = cents.length
    val dim = cents(0).length
    val book = cents.flatten
    val qv = staged.schema.fieldIndex("qv")
    staged.queryExecution.toRdd.mapPartitions { rows =>
      val p = new Partial(k, dim)
      rows.foreach(r => if (!r.isNullAt(qv)) p.add(r.getArray(qv), book))
      Iterator(p)
    }.collect().reduce(_ merge _).update(cents)
  }

  /** Stages `keyed(id, qv)`, takes the k rows of smallest [[initOrder]]
    * in one job and runs `iters` [[round]]s. Returns the staged frame,
    * which lives in the caller's `Staging` scope, and the centroids. */
  def fitStaged(keyed: DataFrame, tag: String, k: Int,
      iters: Int): (DataFrame, Array[Array[Long]]) = {
    // the init draw is the first consumer and fills the stage
    val staged = Staging.stage(keyed)
    val init = staged.orderBy(initOrder(tag, "id"): _*).limit(k)
      .select(col("qv")).collect()
      .map(_.getAs[scala.collection.Seq[Long]](0).toArray)
    require(init.length >= k, s"portable k-means: ${init.length} rows < k=$k")
    var cents = init
    for (_ <- 1 to iters) cents = round(staged, cents)
    (staged, cents)
  }

  /** `iters` rounds on the driver over `rows`, which arrive in init
    * order: the first k rows are the init. */
  def fit(rows: Array[Array[Long]], k: Int, iters: Int): Array[Array[Long]] = {
    require(rows.length >= k, s"k-means fit sample ${rows.length} < k=$k")
    val data = rows.map(r => UnsafeArrayData.fromPrimitiveArray(r): ArrayData)
    var cents = rows.take(k).map(_.clone())
    for (_ <- 1 to iters) {
      val p = new Partial(k, cents(0).length)
      val book = cents.flatten
      data.foreach(p.add(_, book))
      cents = p.update(cents)
    }
    cents
  }

  /** Each row minus the centroid the assignment step gives it: the
    * exact-integer residuals an IVF-PQ codebook is fitted on. */
  def residuals(rows: Array[Array[Long]], cents: Array[Array[Long]]): Array[Array[Long]] = {
    val book = cents.flatten
    rows.map { r =>
      val c = cents(HashKernels.argminCell(
        UnsafeArrayData.fromPrimitiveArray(r), book, cents.length, cents(0).length))
      Array.tabulate(r.length)(d => r(d) - c(d))
    }
  }
}
