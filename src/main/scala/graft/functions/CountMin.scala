package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-min sketch: heavy-hitter counting in fixed memory.
  *
  * Exact token frequencies (q_top_ngrams) shuffle one row per distinct
  * token — at 100 TB vocabulary that is the shuffle. The sketch is a
  * depth×width counter table: each item increments one counter per row
  * (chosen by row-seeded hashes); an item's estimate is the MIN of its
  * counters. Guarantees (Cormode–Muthukrishnan): estimate ≥ true count
  * always (one-sided), and ≤ true + (e/width)·N with probability
  * 1 − e^−depth per query. Counters are pure sums, so partial
  * aggregation and merges are EXACT — the sketch is bit-identical under
  * any partitioning (CountMinSpec proves it), and the aggregate ships
  * depth·width longs per task, independent of vocabulary size.
  */
object CMKernels extends Serializable {
  /** Row-i counter index for an item: splitmix-mixed rolling hash,
    * row-salted. Non-negative mod width.
    */
  def index(item: UTF8String, row: Int, width: Int, seed: Long): Int = {
    val h = HashKernels.mix64(
      HashKernels.rollingHash(item) + (row + 1) * (seed | 1L) * 0x9e3779b97f4a7c15L)
    ((h & Long.MaxValue) % width).toInt
  }

  def estimate(table: ArrayData, item: UTF8String,
      depth: Int, width: Int, seed: Long): Long = {
    var best = Long.MaxValue
    var r = 0
    while (r < depth) {
      val v = table.getLong(r * width + index(item, r, width, seed))
      if (v < best) best = v
      r += 1
    }
    best
  }
}

final class CMBuffer(val depth: Int, val width: Int, val seed: Long) {
  val table = new Array[Long](depth * width)
  def add(item: UTF8String): Unit = {
    var r = 0
    while (r < depth) {
      table(r * width + CMKernels.index(item, r, width, seed)) += 1L
      r += 1
    }
  }
}

/** `count_min(token, depth, width, seed)` → flat `array<long>` counter
  * table (row-major), query it with [[CountMin.estimate]].
  */
case class CountMinAgg(
    child: Expression, depth: Int, width: Int, seed: Long,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CMBuffer] with UnaryLike[Expression] {
  require(depth > 0 && width > 0, "depth and width must be positive")

  override def prettyName: String = "count_min"
  override def nullable: Boolean = false
  override val dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): CMBuffer =
    new CMBuffer(depth, width, seed)

  override def update(b: CMBuffer, input: InternalRow): CMBuffer = {
    val v = child.eval(input)
    if (v != null) b.add(v.asInstanceOf[UTF8String])
    b
  }

  override def merge(b: CMBuffer, other: CMBuffer): CMBuffer = {
    var i = 0
    while (i < b.table.length) { b.table(i) += other.table(i); i += 1 }
    b
  }

  override def eval(b: CMBuffer): Any = new GenericArrayData(b.table)

  override def serialize(b: CMBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(b.table.length * 8)
    b.table.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CMBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val b = new CMBuffer(depth, width, seed)
    var i = 0
    while (i < b.table.length) { b.table(i) = bb.getLong(); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): CountMinAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): CountMinAgg =
    copy(child = c)
}

object CountMin {
  def agg(token: Column, depth: Int, width: Int, seed: Long): Column =
    ColumnBridge.column(
      CountMinAgg(ColumnBridge.expression(token), depth, width, seed)
        .toAggregateExpression())
  /** Min-of-counters point estimate of `token` in a [[agg]] sketch. */
  def estimate(sketch: Column, token: Column,
      depth: Int, width: Int, seed: Long): Column =
    ColumnBridge.column(exprs.kernel(CMKernels, LongType, "estimate",
      ColumnBridge.expression(sketch), ColumnBridge.expression(token),
      Literal(depth), Literal(width), Literal(seed)))
}
