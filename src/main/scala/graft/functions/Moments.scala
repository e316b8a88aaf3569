package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** E3's scale path: the (i, j) second/first-moment matrix as ONE
  * matrix-accumulating TypedImperativeAggregate (the A53 pattern the
  * Pca scaladoc names for d past the explode plan's comfort zone) —
  * no d² row explosion, no per-cell hash-aggregate lookups: each
  * input vector updates a flat upper-triangle accumulator in a tight
  * loop, partials merge cellwise, one struct row comes out.
  *
  * EXACTNESS CONTRACT — bit-compatible with [[graft.operators.Pca
  * .moments]]'s gated decimal path: every product converts through
  * the identical semantics Spark's `cast(double as decimal(28,10))`
  * uses (`BigDecimal.valueOf`, i.e. shortest-decimal, then HALF_UP to
  * scale 10) and accumulates the scale-10 unscaled integer in a
  * SIGNED 128-BIT cell (two long limbs) — exact and
  * order-independent; 2^127 exceeds decimal(38)'s range, so overflow
  * is unreachable where the decimal path itself is defined. Per-value
  * magnitude must keep the scale-10 unscaled product inside a long
  * (|x_i·x_j| < ~9·10⁸ — any real embedding is orders of magnitude
  * inside); violations RAISE, never wrap. Final per-cell values round
  * HALF_UP to scale 6 and cast once to double — the same two steps
  * the decimal path performs. `PcaSpec` pins the two paths equal
  * bit-for-bit on the corpus.
  *
  * Buffer layout: count, then d 128-bit Σx cells, then d(d+1)/2
  * 128-bit Σx_i·x_j upper-triangle cells (row-major, j >= i).
  *
  * Why not a Spark built-in: no built-in aggregate gives these exact
  * decimal moments, bit-equal to `Pca`'s path.
  */
object Moments {

  def matrix(vec: Column, dim: Int): Column =
    Bridge.column(MomentsAgg(Bridge.expression(vec), dim)
      .toAggregateExpression())

  private[graft] def unscaled10(x: Double): Long =
    JBigDecimal.valueOf(x).setScale(10, RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  private[graft] def cellToDouble(hi: Long, lo: Long): Double = {
    val big = BigInteger.valueOf(hi).shiftLeft(64)
      .add(new BigInteger(1, java.nio.ByteBuffer.allocate(8)
        .putLong(lo).array()))
    new JBigDecimal(big, 10).setScale(6, RoundingMode.HALF_UP)
      .doubleValue()
  }

  // ---- the fold kernel of [[MomentsAgg]]; the streaming twin
  // ---- (graft.streaming.StreamingMoments) runs the aggregate itself,
  // ---- so a streamed buffer and a batch buffer over identical rows
  // ---- are the same Array[Long] by construction (spec-pinned)

  private[graft] def bufLen(dim: Int): Int = 1 + 2 * dim + dim * (dim + 1)

  /** signed-128 += signed-64 at cell base `p` (hi at p, lo at p+1). */
  private[graft] def add64(buf: Array[Long], p: Int, v: Long): Unit = {
    val old = buf(p + 1)
    val nl = old + v
    buf(p + 1) = nl
    val carry = ((old & v) | ((old | v) & ~nl)) >>> 63
    buf(p) += (v >> 63) + carry
  }

  /** Fold one dim-length vector into a buffer — order-independent
    * (integer adds), so any micro-batch split or partition order
    * reproduces the identical cells.
    */
  private[graft] def updateBuf(buf: Array[Long], x: Array[Double],
      dim: Int): Unit = {
    if (x.length != dim) throw new IllegalArgumentException(
      s"graft_moments: vector of length ${x.length} != dim $dim")
    buf(0) += 1
    var i = 0
    var t = 0
    while (i < dim) {
      try add64(buf, 1 + 2 * i, unscaled10(x(i)))
      catch { case _: ArithmeticException =>
        throw new IllegalArgumentException(
          s"graft_moments: |x| too large for the scale-10 long at i=$i")
      }
      var j = i
      while (j < dim) {
        try add64(buf, 1 + 2 * dim + 2 * t, unscaled10(x(i) * x(j)))
        catch { case _: ArithmeticException =>
          throw new IllegalArgumentException(
            s"graft_moments: |x_i*x_j| too large for the scale-10 long " +
              s"at ($i, $j)")
        }
        t += 1
        j += 1
      }
      i += 1
    }
  }

  private[graft] def evalSx(buf: Array[Long], dim: Int): Array[Double] = {
    val sx = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      sx(i) = cellToDouble(buf(1 + 2 * i), buf(2 + 2 * i))
      i += 1
    }
    sx
  }

  private[graft] def evalSxy(buf: Array[Long], dim: Int): Array[Double] = {
    val nTri = dim * (dim + 1) / 2
    val sxy = new Array[Double](nTri)
    var t = 0
    while (t < nTri) {
      sxy(t) = cellToDouble(buf(1 + 2 * dim + 2 * t),
        buf(2 + 2 * dim + 2 * t))
      t += 1
    }
    sxy
  }
}

case class MomentsAgg(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private val nTri = dim * (dim + 1) / 2
  // layout: [0] = count; [1 .. 2d] = sx (hi, lo) pairs;
  // [2d+1 .. 2d+2*nTri] = sxy (hi, lo) pairs
  private val bufLen = Moments.bufLen(dim)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_moments"

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("sx", ArrayType(DoubleType), nullable = false),
    StructField("sxy", ArrayType(DoubleType), nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) if dim > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double|float> column, dim > 0)")
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](bufLen)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      if (arr.numElements() != dim) throw new IllegalArgumentException(
        s"graft_moments: vector of length ${arr.numElements()} != dim $dim")
      val isFloat = child.dataType == ArrayType(FloatType, true) ||
        child.dataType == ArrayType(FloatType, false)
      val x = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        x(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        i += 1
      }
      Moments.updateBuf(buf, x, dim)
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    buf(0) += other(0)
    var c = 0
    while (c < dim + nTri) {
      val p = 1 + 2 * c
      // 128 + 128: lo with carry, then hi
      val old = buf(p + 1)
      val v = other(p + 1)
      val nl = old + v
      buf(p + 1) = nl
      val carry = ((old & v) | ((old | v) & ~nl)) >>> 63
      buf(p) += other(p) + carry
      c += 1
    }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    org.apache.spark.sql.catalyst.InternalRow(
      buf(0), new GenericArrayData(Moments.evalSx(buf, dim)),
      new GenericArrayData(Moments.evalSxy(buf, dim)))

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
    val buf = new Array[Long](bufLen)
    var i = 0
    while (i < buf.length) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MomentsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MomentsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MomentsAgg =
    copy(child = newChildren.head)
}
