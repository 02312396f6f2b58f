package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k aggregate over (score: double, id: long) rows — the
  * partial-aggregation replacement for the
  * `row_number().over(Window.partitionBy(key).orderBy(score, id)) <= k`
  * pattern on O(n²) pair frames (guide §2.3: aggregate map-side, then
  * shuffle k rows per group instead of ALL of them; the window form
  * shuffles and sorts every pair).
  *
  * Ordering is EXACTLY the window's: `java.lang.Double.compare` on the
  * score (so NaN sorts greatest and -0.0 < 0.0, as Spark's double
  * ordering does), id ascending as the tie-break, and NULL scores
  * placed exactly where the window's default null ordering puts them —
  * FIRST for ascending (`asc` = NULLS FIRST), LAST for descending
  * (`desc` = NULLS LAST). `asc = true` keeps the k smallest (the
  * distance shape), `asc = false` the k largest (the cosine shape).
  *
  * Output: `array<struct<score double, id bigint>>` sorted in rank
  * order — `posexplode` reconstructs (rank = pos + 1, score, id)
  * bit-identically to the window + filter form. The buffer is a
  * k-bounded sorted insertion array (k is small — 1..64 in every call
  * site); update is O(k) worst case, merge is a k-bounded two-pointer
  * merge, and the map-side partial collapses each group's n-1
  * candidates to k before the exchange.
  */
case class TopKAgg(
    score: Expression,
    id: Expression,
    k: Int,
    asc: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKAgg.Buf] {

  require(k >= 1, s"need k >= 1, got $k")

  import TopKAgg.Buf

  override def createAggregationBuffer(): Buf = new Buf(k)

  override def update(buf: Buf, input: InternalRow): Buf = {
    val sv = score.eval(input)
    val iv = id.eval(input)
    val isNull = sv == null
    val s = if (isNull) 0.0 else sv.asInstanceOf[Double]
    if (iv == null) buf.offer(asc, isNull, s, idNul = true, 0L)
    else buf.offer(asc, isNull, s, idNul = false, iv.asInstanceOf[Long])
    buf
  }

  override def merge(a: Buf, b: Buf): Buf = {
    var j = 0
    while (j < b.size) {
      a.offer(asc, b.nul(j), b.score(j), b.idNul(j), b.id(j))
      j += 1
    }
    a
  }

  override def eval(buf: Buf): Any = {
    val rows = new Array[Any](buf.size)
    var j = 0
    while (j < buf.size) {
      rows(j) = InternalRow(if (buf.nul(j)) null else buf.score(j),
        if (buf.idNul(j)) null else buf.id(j))
      j += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 17)
    bb.putInt(buf.size)
    var j = 0
    while (j < buf.size) {
      // one flag byte: bit 0 = score null, bit 1 = id null
      val flags = (if (buf.nul(j)) 1 else 0) | (if (buf.idNul(j)) 2 else 0)
      bb.put(flags.toByte)
      bb.putDouble(buf.score(j))
      bb.putLong(buf.id(j))
      j += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new Buf(k)
    var j = 0
    while (j < n) {
      val flags = bb.get()
      val s = bb.getDouble
      val i = bb.getLong
      buf.insertAt(j, (flags & 1) != 0, s, (flags & 2) != 0, i)
      j += 1
    }
    buf
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = true),
      StructField("id", LongType, nullable = true))),
    containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(score, id)
  override def withNewMutableAggBufferOffset(off: Int): TopKAgg =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): TopKAgg =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(score = c(0), id = c(1))
  override def prettyName: String = "top_k_agg"
}

object TopKAgg {

  /** Total order on (score, id) with the window's null/NaN placement:
    * negative when (s1, id1) ranks BEFORE (s2, id2). Spark's sort runs
    * NormalizeFloatingNumbers over the key, so -0.0 and 0.0 ARE equal
    * there (tie → id) — normalize before Double.compare (which would
    * otherwise order -0.0 < 0.0); NaN==NaN is already a tie under
    * Double.compare, matching the normalized single-NaN key. NULL ids
    * rank like the window's `id asc` tie-break does: NULLS FIRST among
    * equal scores (r17, the advisor's null-id finding — the previous
    * form silently DROPPED null-id rows the window ranks).
    */
  private def cmp(asc: Boolean, n1: Boolean, s1: Double, in1: Boolean, id1: Long,
      n2: Boolean, s2: Double, in2: Boolean, id2: Long): Int = {
    val c =
      if (n1 && n2) 0
      else if (n1) { if (asc) -1 else 1 } // null: first when asc, last when desc
      else if (n2) { if (asc) 1 else -1 }
      else {
        val x1 = if (s1 == 0.0) 0.0 else s1
        val x2 = if (s2 == 0.0) 0.0 else s2
        val d = java.lang.Double.compare(x1, x2)
        if (asc) d else -d
      }
    if (c != 0) c
    else if (in1 && in2) 0
    else if (in1) -1 // id asc ⇒ NULLS FIRST on the tie-break
    else if (in2) 1
    else java.lang.Long.compare(id1, id2)
  }

  /** k-bounded rank-ordered buffer: parallel arrays + size. [[TopKAgg]]
    * and the exact top-k kernel ([[graft.plans.ExactTopKExec]]) both
    * rank through [[offer]].
    */
  final class Buf(k: Int) {
    private[TopKAgg] val scores = new Array[Double](k)
    private[TopKAgg] val ids = new Array[Long](k)
    private[TopKAgg] val nulls = new Array[Boolean](k)
    private[TopKAgg] val idNulls = new Array[Boolean](k)
    var size: Int = 0
    def score(j: Int): Double = scores(j)
    def id(j: Int): Long = ids(j)
    def nul(j: Int): Boolean = nulls(j)
    def idNul(j: Int): Boolean = idNulls(j)

    /** Keep (score, id) if it ranks among the k best seen so far under
      * [[cmp]] (`asc` = keep the smallest). A candidate that ties the
      * current k-th is dropped.
      */
    def offer(asc: Boolean, isNull: Boolean, s: Double, idNul: Boolean, i: Long): Unit = {
      val n = size
      if (n == k && cmp(asc, isNull, s, idNul, i,
        nulls(n - 1), scores(n - 1), idNulls(n - 1), ids(n - 1)) >= 0) return
      // find insertion point (linear — k is tiny and rows mostly lose at
      // the last slot after the buffer warms up)
      var pos = n
      while (pos > 0 && cmp(asc, isNull, s, idNul, i,
        nulls(pos - 1), scores(pos - 1), idNulls(pos - 1), ids(pos - 1)) < 0) pos -= 1
      insertAt(pos, isNull, s, idNul, i)
    }

    /** shift [pos, size) right by one (dropping overflow) and write. */
    def insertAt(pos: Int, isNull: Boolean, s: Double, idNul: Boolean, i: Long): Unit = {
      if (pos >= k) return
      val last = math.min(size, k - 1)
      var j = last
      while (j > pos) {
        scores(j) = scores(j - 1); ids(j) = ids(j - 1); nulls(j) = nulls(j - 1)
        idNulls(j) = idNulls(j - 1)
        j -= 1
      }
      scores(pos) = s; ids(pos) = i; nulls(pos) = isNull; idNulls(pos) = idNul
      if (size < k) size += 1
    }
  }

  /** k smallest (score asc NULLS FIRST, id asc) as a sorted array of
    * struct(score, id) — the `orderBy(score.asc, id.asc)` window shape.
    */
  def topKMin(score: Column, id: Column, k: Int): Column =
    GraftShims.column(TopKAgg(GraftShims.expression(score),
      GraftShims.expression(id), k, asc = true).toAggregateExpression())

  /** k largest (score desc NULLS LAST, id asc) — the
    * `orderBy(score.desc, id.asc)` window shape. */
  def topKMax(score: Column, id: Column, k: Int): Column =
    GraftShims.column(TopKAgg(GraftShims.expression(score),
      GraftShims.expression(id), k, asc = false).toAggregateExpression())
}
