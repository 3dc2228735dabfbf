package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** The k smallest DISTINCT longs in a group, as a sorted array — the
  * bounded-exchange form of `distinct() + row_number() OVER (PARTITION
  * BY g ORDER BY v) <= k`.
  *
  * The window form EXCHANGES the whole pre-cap stream to line it up per
  * group (row_number has no partial aggregation), which is fatal when
  * the stream is data-quadratic: the dense-clique x1000 probe measured
  * `q_prefix_filter_sampled`'s candidate-stream exchange as an ENOSPC at
  * 541 s — the cap existed, but only AFTER the full quadratic stream hit
  * the shuffle (scaleprobe-r11f.json). This aggregate keeps a sorted
  * distinct array capped at k ([[KmvAgg.Buffer]] — binary-search insert,
  * merge = bounded re-insert), so map-side combine collapses each
  * partition's slice of a group to ≤ k longs BEFORE the exchange: the
  * quadratic stream is CPU-streamed through the partial aggregate and
  * never shuffled, the same lesson as the pHash first-matching-band
  * emission. Insert and merge are order-independent, so the result is
  * identical under any partitioning or combine schedule.
  */
case class SmallestKAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KmvAgg.Buffer] {

  require(k >= 1, "k must be at least 1")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): KmvAgg.Buffer = new KmvAgg.Buffer(k)

  override def update(buf: KmvAgg.Buffer, input: InternalRow): KmvAgg.Buffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: KmvAgg.Buffer, b2: KmvAgg.Buffer): KmvAgg.Buffer = {
    b1.mergeWith(b2)
    b1
  }

  override def eval(buf: KmvAgg.Buffer): Any =
    new GenericArrayData(java.util.Arrays.copyOf(buf.values, buf.size))

  override def serialize(buf: KmvAgg.Buffer): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): KmvAgg.Buffer =
    KmvAgg.Buffer.fromBytes(k, bytes)

  override def withNewMutableAggBufferOffset(offset: Int): SmallestKAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SmallestKAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SmallestKAgg =
    copy(child = newChildren.head)
}

object SmallestKAgg {
  /** Column API: `smallestK($"v", 20)` → ARRAY<BIGINT>, sorted ascending,
    * ≤ k distinct values. */
  def smallestK(c: Column, k: Int): Column =
    ColumnBridge.column(
      SmallestKAgg(ColumnBridge.expression(c), k).toAggregateExpression())
}
