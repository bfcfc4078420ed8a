package graft.ops

import org.apache.spark.sql.DataFrame
import graft.functions.HashKernels

/** The portable integer Lloyd round shared by [[Dedup.semDeDup]]'s
  * level-1 fit and `graft.ml.Clustering.portableFitAssign`: assignment =
  * argmin of exact int64 squared distance (ties → smallest cell), update
  * = TRUNCATING integer division of per-cell component sums (DuckDB
  * `//`), empty cells carry over.
  */
object Lloyd {

  /** One Lloyd round over a staged frame with a `qv` array<bigint>
    * column, as ONE Spark job: each partition folds its rows into k×dim
    * component sums and counts, and the driver adds the partials. A SQL
    * round (argmin, posexplode, groupBy, collect) costs two AQE jobs and
    * a fresh plan per round for the same integers. Every `qv` must have
    * `dim` components. Sums use `Math.addExact`, so int64 overflow fails
    * the round with an `ArithmeticException` as an ANSI `sum` does; null
    * components are skipped by the sum but counted, as `sum`/`count(1)`
    * over the exploded components would.
    */
  def round(staged: DataFrame, cents: Array[Array[Long]]): Array[Array[Long]] = {
    val k = cents.length
    val dim = cents(0).length
    val book = cents.flatten
    val qv = staged.schema.fieldIndex("qv")
    val (sums, ns) = staged.queryExecution.toRdd.mapPartitions { rows =>
      val s = new Array[Long](k * dim)
      val n = new Array[Long](k * dim)
      rows.foreach { r =>
        if (!r.isNullAt(qv)) {
          val v = r.getArray(qv)
          val off = HashKernels.argminCell(v, book, k, dim) * dim
          val m = math.min(v.numElements(), dim)
          var i = 0
          while (i < m) {
            if (!v.isNullAt(i)) s(off + i) = Math.addExact(s(off + i), v.getLong(i))
            n(off + i) += 1
            i += 1
          }
        }
      }
      Iterator((s, n))
    }.collect().reduce { (a, b) =>
      (Array.tabulate(k * dim)(j => Math.addExact(a._1(j), b._1(j))),
        Array.tabulate(k * dim)(j => a._2(j) + b._2(j)))
    }
    Array.tabulate(k, dim) { (c, i) =>
      val j = c * dim + i
      if (ns(j) == 0L) cents(c)(i) // empty cell carries over
      else sums(j) / ns(j) // truncating div = DuckDB `//`
    }
  }
}
