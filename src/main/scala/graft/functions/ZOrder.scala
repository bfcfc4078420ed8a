package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.LongType

/** Z-order (Morton) clustering kernels.
  *
  * Multi-dimensional data skipping: a file sorted on `x` alone has
  * tight per-file min/max on `x` but every file spans all of `y`, so a
  * `y` predicate prunes nothing. Interleaving the bits of the columns'
  * QUANTILE RANKS (not raw values — ranks make the curve scale-free
  * and skew-proof) gives a space-filling curve; range-partitioning and
  * sorting by the curve key makes every file a small hyper-rectangle,
  * so min/max footer stats become selective on EVERY clustered column
  * (parquet row-group stats and file-level skipping both feed on
  * exactly these bounds). This is the layout behind OPTIMIZE ZORDER in
  * lakehouse table formats, built here from two kernel calls +
  * `repartitionByRange` — no format extension needed.
  */
object ZOrderKernels extends Serializable {

  /** Spread the low 32 bits of x so bit i lands at position 2i. */
  def spread(x0: Long): Long = {
    var x = x0 & 0xffffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  def interleave2(a: Long, b: Long): Long = spread(a) | (spread(b) << 1)

  /** Rank of v among sorted bounds — count of bounds <= v, by binary
    * search. O(log bins) per row, ties collapse to the same bin.
    */
  def bin(v: Double, bounds: Array[Double]): Long = {
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }
}

object zorder {
  /** `c` (a double column) → its rank among the sorted `bounds`. */
  def quantile_bin(c: Column, bounds: Array[Double]): Column =
    ColumnBridge.column(exprs.kernel(ZOrderKernels, LongType, "bin",
      ColumnBridge.expression(c), Literal.fromObject(bounds)))
  /** 2-d Morton key from two ≤ 32-bit ranks (long columns). */
  def interleave_bits(a: Column, b: Column): Column =
    ColumnBridge.column(exprs.kernel(ZOrderKernels, LongType, "interleave2",
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
