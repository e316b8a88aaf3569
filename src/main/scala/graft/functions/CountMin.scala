package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-min sketch (Cormode & Muthukrishnan, J. Algorithms 2005):
  * approximate per-item frequency with depth x width longs of state —
  * the frequency counterpart of A10's HLL distinct. Where the heavy
  * hitters (`approx_top_k`) answer "which items are hot", CMS answers
  * "how often is THIS item seen" for any item, without shuffling the
  * distinct-item set: a 100 TB scan aggregates to one depth x width
  * grid per group (mergeable, map-side combinable), and lookups are
  * O(depth) reads against the broadcast-sized result.
  *
  * Guarantees (no deletions): estimate >= true count always;
  * estimate <= true + epsilon * n with probability >= 1 - delta where
  * epsilon = e / width, delta = e^-depth — the banded self-check the
  * gate asserts. Both the aggregate and [[CountMin.estimate]] hash
  * through the SAME private function, so the pair cannot drift.
  *
  * Why not Spark's `count_min_sketch`: it has no SQL estimate
  * function, and the streaming twin estimates each batch's own items
  * against the cumulative grid, which a streaming aggregation's output
  * cannot carry.
  */
object CountMin {

  /** Row `r`'s bucket for `item`: FNV-1a over the UTF-8 bytes folded
    * with a per-row seed, finished with a splitmix64 avalanche — the
    * standard pairwise-independent-enough family for CMS in practice.
    */
  private[graft] def hashAt(item: UTF8String, r: Int, width: Int): Int = {
    val bytes = item.getBytes
    var h = 0xcbf29ce484222325L ^ (0x9e3779b97f4a7c15L * (r + 1))
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h ^= h >>> 30; h *= 0xbf58476d1ce4e5b9L
    h ^= h >>> 27; h *= 0x94d049bb133111ebL
    h ^= h >>> 31
    math.floorMod(h, width.toLong).toInt
  }

  /** Aggregate a string column into a depth x width CMS grid
    * (array<array<bigint>>). */
  def sketch(c: Column, depth: Int, width: Int): Column =
    Bridge.column(CountMinAgg(Bridge.expression(c), depth, width)
      .toAggregateExpression())

  /** Point estimate for `item` against a [[sketch]] result: the min of
    * its depth counters. */
  def estimate(sketchCol: Column, item: Column, depth: Int, width: Int): Column =
    Bridge.column(CmsEstimate(Bridge.expression(sketchCol),
      Bridge.expression(item), depth, width))
}

case class CountMinAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(ArrayType(LongType))
  override def prettyName: String = "graft_cms"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && depth > 0 && width > 1)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string column, depth > 0, width > 1)")

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val item = v.asInstanceOf[UTF8String]
      var r = 0
      while (r < depth) {
        buf(r * width + CountMin.hashAt(item, r, width)) += 1
        r += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData((0 until depth).map { r =>
      new GenericArrayData(java.util.Arrays.copyOfRange(
        buf, r * width, (r + 1) * width)): Any
    }.toArray)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(buf.length * 8)
    val out = new DataOutputStream(bos)
    var i = 0
    while (i < buf.length) { out.writeLong(buf(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Array[Long](depth * width)
    var i = 0
    while (i < buf.length) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinAgg =
    copy(child = newChildren.head)
}

/** min over rows of sketch[r][hash_r(item)] — evaluated on
  * broadcast-sized frames (distinct queried items x one sketch row),
  * so interpreted eval is fine here; the scan-side hot path is the
  * codegen'd aggregate above.
  */
case class CmsEstimate(left: Expression, right: Expression,
    depth: Int, width: Int)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_cms_estimate"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == ArrayType(ArrayType(LongType)) &&
      right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<array<bigint>> sketch, string item)")

  override protected def nullSafeEval(sketch: Any, item: Any): Any = {
    val rows = sketch.asInstanceOf[ArrayData]
    val key = item.asInstanceOf[UTF8String]
    var est = Long.MaxValue
    var r = 0
    while (r < depth) {
      val row = rows.getArray(r)
      val c = row.getLong(CountMin.hashAt(key, r, width))
      if (c < est) est = c
      r += 1
    }
    est
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}
