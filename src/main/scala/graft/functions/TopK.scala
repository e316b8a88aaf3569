package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Exact top-k (value, id) pairs per group as a custom
  * TypedImperativeAggregate: the scale-safe alternative to the
  * `row_number() OVER (PARTITION BY g ORDER BY v DESC)` window for
  * hot groups. The window plan sorts EVERY row of a group to emit k
  * of them — a billion-row group at 100 TB is one task's sort spill —
  * while this aggregate keeps a bounded k-element heap per group,
  * partial-aggregates map-side, and merges heaps on the reduce side.
  * (Contrast with the buffering percentile this repo replaced: that
  * buffer grew with group size; this one CANNOT exceed k entries.)
  *
  * Ordering is (value DESC, id ASC) — byte-identical to the window
  * formulation with the same tie-break, so the two plans are
  * interchangeable and oracle-checked against the same SQL.
  *
  * Interchangeability contract (edge inputs): rows where `value` or
  * `id` is NULL are SKIPPED by update() — the window plan instead
  * ranks null values last, so a group shorter than k can return fewer
  * rows here. NaN values order under Scala's total ordering (NaN is
  * the WORST element, evicted first), while the window's `value DESC`
  * ranks NaN FIRST. On null-free, NaN-free input — the gated domain —
  * the two plans are row-identical; callers with nullable or NaN-able
  * values must normalize (filter or coalesce) before relying on
  * window-parity.
  *
  * Why not a Spark built-in: Spark 4.1.2's `max_by` takes no k
  * (`max_by(x, y, 2)` raises `WRONG_NUM_ARGS`), and `approx_top_k`
  * ranks by frequency, not by value.
  */
case class TopKAgg(
    value: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  override def children: Seq[Expression] = Seq(value, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("value", DoubleType), StructField("id", LongType))))
  override def prettyName: String = "graft_topk"

  override def checkInputDataTypes(): TypeCheckResult =
    if (value.dataType == DoubleType && id.dataType == LongType && k > 0)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (double value, long id, k > 0)")

  /** The queue's head is the WORST kept element (smallest value,
    * largest id on ties), so one dequeue evicts correctly when a
    * better candidate arrives.
    */
  private val worstFirst: Ordering[(Double, Long)] =
    Ordering.by { case (v, i) => (-v, i) }

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty(worstFirst)

  override def update(
      buf: mutable.PriorityQueue[(Double, Long)],
      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val v = value.eval(input)
    val i = id.eval(input)
    if (v != null && i != null) {
      buf.enqueue((v.asInstanceOf[Double], i.asInstanceOf[Long]))
      if (buf.size > k) buf.dequeue()
    }
    buf
  }

  override def merge(
      buf: mutable.PriorityQueue[(Double, Long)],
      other: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    other.foreach { e =>
      buf.enqueue(e)
      if (buf.size > k) buf.dequeue()
    }
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    val best = buf.toArray.sortBy { case (v, i) => (-v, i) }
    new GenericArrayData(best.map { case (v, i) =>
      InternalRow(v, i)
    }.toArray[Any])
  }

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (v, i) =>
      out.writeDouble(v)
      out.writeLong(i)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.PriorityQueue.empty[(Double, Long)](worstFirst)
    var i = 0
    while (i < n) {
      buf.enqueue((in.readDouble(), in.readLong()))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(value = newChildren(0), id = newChildren(1))
}

object TopK {
  /** Column-level entry: exact top-k (value, id) pairs per group,
    * ordered (value desc, id asc), O(k) state per group.
    */
  def topK(value: Column, id: Column, k: Int): Column =
    Bridge.column(TopKAgg(Bridge.expression(value), Bridge.expression(id), k)
      .toAggregateExpression())
}
