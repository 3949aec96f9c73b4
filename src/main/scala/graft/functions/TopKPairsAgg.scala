package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k buffer: a binary min-heap keyed by (score asc, id desc),
  * so the root is the WORST kept pair and a better candidate replaces it
  * in O(log k). Primitive arrays only — the whole state serializes to
  * `4 + 16k` bytes between partial and final aggregation.
  */
final class TopKHeap(val k: Int) {
  val ids = new Array[Long](k)
  val scores = new Array[Double](k)
  var size = 0

  /** true if (scoreA, idA) ranks WORSE than (scoreB, idB): lower score, or
    * equal score and larger id (ties keep the smaller id).
    */
  @inline private def worse(sa: Double, ia: Long, sb: Double, ib: Long): Boolean =
    sa < sb || (sa == sb && ia > ib)

  private def siftUp(start: Int): Unit = {
    var i = start
    while (i > 0) {
      val p = (i - 1) >> 1
      if (worse(scores(i), ids(i), scores(p), ids(p))) {
        val ts = scores(i); scores(i) = scores(p); scores(p) = ts
        val ti = ids(i); ids(i) = ids(p); ids(p) = ti
        i = p
      } else return
    }
  }

  private def siftDown(): Unit = {
    var i = 0
    while (true) {
      val l = 2 * i + 1
      val r = l + 1
      var m = i
      if (l < size && worse(scores(l), ids(l), scores(m), ids(m))) m = l
      if (r < size && worse(scores(r), ids(r), scores(m), ids(m))) m = r
      if (m == i) return
      val ts = scores(i); scores(i) = scores(m); scores(m) = ts
      val ti = ids(i); ids(i) = ids(m); ids(m) = ti
      i = m
    }
  }

  def insert(id: Long, score: Double): Unit = {
    if (size < k) {
      ids(size) = id; scores(size) = score; size += 1
      siftUp(size - 1)
    } else if (worse(scores(0), ids(0), score, id)) {
      ids(0) = id; scores(0) = score
      siftDown()
    }
  }

  /** (id, score) pairs best-first: score desc, id asc. */
  def sortedPairs: Array[(Long, Double)] = {
    val out = new Array[(Long, Double)](size)
    var i = 0
    while (i < size) { out(i) = (ids(i), scores(i)); i += 1 }
    out.sortBy { case (id, s) => (-s, id) }
  }
}

/** Exact top-k by (score desc, id asc) as a native
  * `TypedImperativeAggregate`: a bounded-heap partial aggregation over
  * `InternalRow` — input rows stay in Tungsten format end-to-end (no Kryo
  * buffer encoder, no per-row deserialization out of whole-stage codegen),
  * which is where a typed-Dataset `Aggregator` variant spent 7× the window
  * plan's CPU at sf0.1. Only k pairs per group per partition cross the
  * shuffle.
  *
  * Null ids or scores are skipped (a null cosine is an undefined
  * similarity). Output: `array<struct<neighbor_id:long, cosine:double>>`,
  * best first.
  */
case class TopKPairsAgg(
    idExpr: Expression, scoreExpr: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKHeap] with ImplicitCastInputTypes {

  require(k >= 1, "k must be >= 1")

  override def children: Seq[Expression] = Seq(idExpr, scoreExpr)
  // analyzer-inserted coercions: SQL callers may pass int ids or decimal
  // scores (ANSI literals) — without this the blind casts in update() throw
  override def inputTypes: Seq[DataType] = Seq(LongType, DoubleType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("neighbor_id", LongType, nullable = false),
      StructField("cosine", DoubleType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k)

  override def update(buffer: TopKHeap, input: InternalRow): TopKHeap = {
    val id = idExpr.eval(input)
    val score = scoreExpr.eval(input)
    if (id != null && score != null)
      buffer.insert(id.asInstanceOf[Long], score.asInstanceOf[Double])
    buffer
  }

  override def merge(buffer: TopKHeap, other: TopKHeap): TopKHeap = {
    var i = 0
    while (i < other.size) { buffer.insert(other.ids(i), other.scores(i)); i += 1 }
    buffer
  }

  override def eval(buffer: TopKHeap): Any =
    new GenericArrayData(buffer.sortedPairs.map { case (id, s) =>
      InternalRow(id, s)
    }.asInstanceOf[Array[Any]])

  override def serialize(buffer: TopKHeap): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buffer.size)
    bb.putInt(buffer.size)
    var i = 0
    while (i < buffer.size) { bb.putLong(buffer.ids(i)); bb.putDouble(buffer.scores(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val h = new TopKHeap(k)
    var i = 0
    while (i < n) { h.insert(bb.getLong, bb.getDouble); i += 1 }
    h
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKPairsAgg =
    copy(idExpr = newChildren(0), scoreExpr = newChildren(1))
  override def prettyName: String = "top_k_pairs"
}

object TopKPairsAgg {
  /** Column-level entry point: aggregate to the top-k
    * `struct<neighbor_id, cosine>` array, best first.
    */
  def apply(id: Column, score: Column, k: Int): Column =
    GraftBridge.column(
      TopKPairsAgg(GraftBridge.expression(id), GraftBridge.expression(score), k)
        .toAggregateExpression())
}
