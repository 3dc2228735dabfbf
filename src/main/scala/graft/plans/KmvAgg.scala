package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

/** K-minimum-values distinct-count sketch over 60-bit stable hashes — the
  * deterministic, oracle-checkable alternative to HLL
  * (`approx_count_distinct`). The reference exposes only exact counters
  * (/root/reference/common/src/metrics.rs:14-78); at 100 TB an exact
  * `count(DISTINCT x)` shuffles every distinct value, while this sketch
  * ships at most k longs per partial buffer.
  *
  * Estimator: keep the k smallest DISTINCT hash values; if fewer than k
  * exist the set is exhaustive and the count is exact; otherwise the k-th
  * smallest hash h_k estimates density and
  * `n ≈ (k-1) * M / h_k` with `M = 2^60` (Bar-Yossef et al. 2002,
  * "Counting distinct elements in a data stream"). Unlike HLL the result
  * is a pure function of the input hash set — the same formula over the
  * same md5-derived hashes is expressible in ANSI SQL, so the DuckDB
  * oracle can hash-match the estimate bit-for-bit.
  *
  * The buffer is a sorted long array capped at k: update = binary-search
  * insert (dedup), merge = sorted-array merge + truncate. Both are
  * order-independent, so the result is identical under any partitioning /
  * map-side combine schedule — the property that makes it safe at scale.
  */
case class KmvAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KmvAgg.Buffer] {

  require(k >= 2, "k must be at least 2")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

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

  /** Exact when the set never filled; else floor((k-1) * (M / h_k)).
    * The double math is two IEEE ops in a fixed order (M and k-1 are
    * exactly representable; h_k rounds to nearest on conversion), so any
    * engine computing the same expression produces the same long. */
  override def eval(buf: KmvAgg.Buffer): Any =
    if (buf.size < k) buf.size.toLong
    else math.floor((k - 1).toDouble * (KmvAgg.M / buf.kth.toDouble)).toLong

  override def serialize(buf: KmvAgg.Buffer): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): KmvAgg.Buffer =
    KmvAgg.Buffer.fromBytes(k, bytes)

  override def withNewMutableAggBufferOffset(offset: Int): KmvAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KmvAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvAgg =
    copy(child = newChildren.head)
}

object KmvAgg {
  /** Hash-space size: stableHash60 values are uniform in [0, 2^60). */
  val M: Double = 1152921504606846976.0 // 2^60, exactly representable

  /** Sorted distinct longs, capped at k. Plain array + binary search:
    * no boxing, O(log k) membership, O(k) insert worst case. */
  final class Buffer(k: Int) {
    val values: Array[Long] = new Array[Long](k)
    var size: Int = 0

    def kth: Long = values(k - 1)

    def add(h: Long): Unit = {
      if (size == k && h >= values(k - 1)) return
      var lo = 0
      var hi = size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (values(mid) < h) lo = mid + 1 else hi = mid
      }
      if (lo < size && values(lo) == h) return // already present
      val last = if (size == k) k - 1 else size
      var i = last
      while (i > lo) { values(i) = values(i - 1); i -= 1 }
      values(lo) = h
      if (size < k) size += 1
    }

    def mergeWith(other: Buffer): Unit = {
      var i = 0
      while (i < other.size) { add(other.values(i)); i += 1 }
    }

    /** Wire form of a partial buffer: the size, then the sorted values. */
    private[plans] def toBytes: Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(size)
      var i = 0
      while (i < size) { out.writeLong(values(i)); i += 1 }
      out.flush()
      bos.toByteArray
    }
  }

  object Buffer {
    private[plans] def fromBytes(k: Int, bytes: Array[Byte]): Buffer = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      val n = in.readInt()
      val buf = new Buffer(k)
      var i = 0
      while (i < n) { buf.add(in.readLong()); i += 1 }
      buf
    }
  }

  /** Column API: `kmvDistinct(stableHash60($"x"), 256)` → BIGINT estimate. */
  def kmvDistinct(c: Column, k: Int): Column =
    ColumnBridge.column(
      KmvAgg(ColumnBridge.expression(c), k).toAggregateExpression())

  /** The k-minimum-values SKETCH itself: the sorted k smallest distinct
    * 60-bit hashes behind [[KmvAgg]]'s scalar estimate, exposed so set
    * operations run on sketches instead of corpora — two sources'
    * Jaccard similarity, union/intersection cardinalities, containment,
    * each from two k-long arrays (Beyer et al. 2007, "On synopses for
    * distinct-value estimation under multiset operations", SIGMOD).
    *
    * At 100 TB this is the difference between an audit that shuffles
    * every distinct shingle per source pair (the exact
    * [[graft.operators.CorpusOps.sourceOverlap]] path) and one that ships
    * ≤ k longs per source per partial buffer. The array is exactly
    * [[SmallestKAgg]]'s, so the sketch is that aggregate with the
    * estimator's k ≥ 2 floor; the DuckDB oracle writes it as
    * `(list_sort(list(DISTINCT h)))[:k]`.
    *
    * Column API: `kmvSketch(stableHash60($"x"), 128)` → sorted BIGINT[]. */
  def kmvSketch(c: Column, k: Int): Column =
    ColumnBridge.column(
      sketchAgg(ColumnBridge.expression(c), k).toAggregateExpression())

  /** The sketch aggregate behind `kmvSketch` and SQL `kmv_sketch`. */
  private[plans] def sketchAgg(child: Expression, k: Int): SmallestKAgg = {
    require(k >= 2, "k must be at least 2")
    SmallestKAgg(child, k)
  }
}
