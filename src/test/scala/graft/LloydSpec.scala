package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData

import graft.functions.HashKernels
import graft.ops.{Lloyd, Similarity}

/** One portable integer k-means contract across both executors: the
  * driver fit (through `Similarity.fitPqCodebookQ`, one subspace) and
  * the per-round Spark job (`Lloyd.round`). */
class LloydSpec extends SparkSpecBase {
  import spark.implicits._

  // ClusteringSpec's fixture shape, already in init order: the rows of
  // rank 0 and 1 share one vector, so every row ties between cells 0
  // and 1 in round 1 and cell 1 empties; the components are signed, so
  // some cell sums are negative and the update truncates them
  private val rows: Array[Array[Long]] = (0 until 40).map { r =>
    if (r < 2) Array(-7L, 3L) else Array((r * 37L) % 23 - 11, (r * 13L) % 7 - 3)
  }.toArray

  test("the driver fit equals iters Spark rounds from the same first-k init") {
    val k = 4
    val iters = 3
    val staged = rows.map(r => Tuple1(r.toSeq)).toSeq.toDF("qv")
    val round1 = Lloyd.round(staged, rows.take(k))
    assert(round1(1) === rows(1), "the fixture must empty cell 1 in round 1")
    val want = (2 to iters).foldLeft(round1)((c, _) => Lloyd.round(staged, c))
    assert(Similarity.fitPqCodebookQ(rows, 1, k, iters) === want.flatten)
  }

  test("the driver fit fails on an int64 component-sum overflow") {
    val big = Long.MaxValue / 2 + 1
    intercept[ArithmeticException] {
      Similarity.fitPqCodebookQ(Array.fill(3)(Array(big)), 1, 1, 1)
    }
  }

  test("the assignment distance fails on an int64 overflow instead of wrapping") {
    // a component gap of 2^32 squares to 2^64, which wraps to 0
    val v = new GenericArrayData(Array(1L << 32))
    intercept[ArithmeticException](HashKernels.argminCell(v, Array(0L), 1, 1))
    intercept[ArithmeticException](HashKernels.dist2Q(v, new GenericArrayData(Array(0L))))
  }
}
