package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Fixed-capacity binary heap holding the k best (key, tie) pairs seen so
  * far under the total order (key DESC, tie ASC). The ROOT is the WORST
  * retained entry, so a full heap admits a new pair with one root compare
  * and O(log k) sift — the classic bounded top-k select.
  *
  * Two primitive arrays, no boxing: the buffer is 16·k bytes regardless of
  * group size, which is what makes the aggregate's map-side partial safe —
  * a billion-row group still ships exactly k pairs per upstream partition.
  */
final class TopKHeap(val k: Int) extends Serializable {
  var size: Int = 0
  val keys: Array[Double] = new Array[Double](k)
  val ties: Array[Long] = new Array[Long](k)

  /** (ka, ta) sorts strictly after (kb, tb) under (key DESC, tie ASC).
    * `Double.compare` gives the TOTAL order Spark's window sort uses
    * (NaN greatest, -0.0 < 0.0) — a plain `<` would let a NaN at the root
    * block every later insert and make output partitioning-dependent. */
  @inline private def worseThan(ka: Double, ta: Long, kb: Double, tb: Long): Boolean = {
    val c = java.lang.Double.compare(ka, kb)
    c < 0 || (c == 0 && ta > tb)
  }

  @inline private def swap(i: Int, j: Int): Unit = {
    val dk = keys(i); keys(i) = keys(j); keys(j) = dk
    val dt = ties(i); ties(i) = ties(j); ties(j) = dt
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0) {
      val p = (i - 1) >> 1
      if (worseThan(keys(i), ties(i), keys(p), ties(p))) { swap(i, p); i = p }
      else return
    }
  }

  private def siftDown(): Unit = {
    var i = 0
    var continue = true
    while (continue) {
      val l = 2 * i + 1
      val r = l + 1
      var w = i
      if (l < size && worseThan(keys(l), ties(l), keys(w), ties(w))) w = l
      if (r < size && worseThan(keys(r), ties(r), keys(w), ties(w))) w = r
      if (w == i) continue = false
      else { swap(i, w); i = w }
    }
  }

  def insert(key: Double, tie: Long): Unit = {
    if (size < k) {
      keys(size) = key; ties(size) = tie; size += 1
      siftUp(size - 1)
    } else if (worseThan(keys(0), ties(0), key, tie)) {
      keys(0) = key; ties(0) = tie
      siftDown()
    }
  }

  /** Retained entries best-first: indices sorted by (key DESC, tie ASC). */
  def sortedIndices: Array[Int] = {
    val idx = Array.range(0, size)
    // boxed sort is fine here: runs once per group at eval, size ≤ k
    idx.sortWith((a, b) => worseThan(keys(b), ties(b), keys(a), ties(a)))
  }

  /** The aggregate buffer's wire format: count + (key, tie) pairs in
    * heap-array order. A valid heap round-trips to a valid heap, so no
    * re-heapify on read. */
  def toBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + size * 16)
    bb.putInt(size)
    var i = 0
    while (i < size) { bb.putDouble(keys(i)); bb.putLong(ties(i)); i += 1 }
    bb.array()
  }
}

object TopKHeap {
  def fromBytes(k: Int, bytes: Array[Byte]): TopKHeap = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    require(n <= k,
      s"serialized heap holds $n entries > capacity $k — " +
        "it was written with a larger k")
    val buf = new TopKHeap(k)
    var i = 0
    while (i < n) { buf.keys(i) = bb.getDouble; buf.ties(i) = bb.getLong; i += 1 }
    buf.size = n
    buf
  }
}

/** Exact top-k per group as a [[TypedImperativeAggregate]] — the
  * shuffle-minimal alternative to the `row_number().over(window) <= k`
  * composition (q07): the window plan shuffles and sorts EVERY row of every
  * group, while this aggregate keeps a 16·k-byte bounded heap per group,
  * partial-aggregates map-side, and ships at most k pairs per (partition,
  * group) through the exchange. At 100 TB that is the difference between
  * shuffling the whole orders table and shuffling k rows per customer per
  * input split.
  *
  * Ordering is (key DESC, tie ASC); the tie column is expected unique per
  * row (a primary key), which makes the result total-ordered and
  * engine-independent — same discipline as q07's ORDER BY tiebreak.
  * Returns `array<struct<key double, tie long>>` best-first; callers
  * `posexplode` to recover ranked rows. Payload columns beyond the pair
  * come back via a narrow re-join on the tie key — still k·groups rows,
  * not the full input.
  *
  * The reference (`/root/reference/main.py`) has no aggregation at all
  * (SURVEY.md §2B); this extends the declared engine surface.
  */
case class TopKByKey(
    keyChild: Expression,
    tieChild: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[TopKHeap] {

  override def children: Seq[Expression] = Seq(keyChild, tieChild)
  override def nullable: Boolean = false
  override val dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("key", DoubleType, nullable = false),
      StructField("tie", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (k <= 0)
      TypeCheckResult.TypeCheckFailure(s"k must be positive, got $k")
    else if (keyChild.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"topk_by_key key must be double, got ${keyChild.dataType}")
    else if (tieChild.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"topk_by_key tie must be bigint, got ${tieChild.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k)

  override def update(buffer: TopKHeap, input: InternalRow): TopKHeap = {
    val kv = keyChild.eval(input)
    val tv = tieChild.eval(input)
    if (kv != null && tv != null) {
      buffer.insert(kv.asInstanceOf[Double], tv.asInstanceOf[Long])
    }
    buffer
  }

  override def merge(buffer: TopKHeap, other: TopKHeap): TopKHeap = {
    var i = 0
    while (i < other.size) {
      buffer.insert(other.keys(i), other.ties(i))
      i += 1
    }
    buffer
  }

  override def eval(buffer: TopKHeap): Any = {
    val idx = buffer.sortedIndices
    val rows = new Array[Any](idx.length)
    var i = 0
    while (i < idx.length) {
      rows(i) = new GenericInternalRow(
        Array[Any](buffer.keys(idx(i)), buffer.ties(idx(i))))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buffer: TopKHeap): Array[Byte] = buffer.toBytes

  override def deserialize(storageFormat: Array[Byte]): TopKHeap =
    TopKHeap.fromBytes(k, storageFormat)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByKey =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByKey =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByKey =
    copy(keyChild = newChildren(0), tieChild = newChildren(1))

  override def prettyName: String = "topk_by_key"
}

object TopKByKey {
  /** Top-k (key DESC, tie ASC) pairs per group as a bounded-heap aggregate. */
  def topkByKey(key: Column, tie: Column, k: Int): Column =
    ColumnBridge.column(
      TopKByKey(ColumnBridge.expression(key), ColumnBridge.expression(tie), k)
        .toAggregateExpression())
}
