package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Exact, MERGEABLE distinct-count sketches as chunked bitmaps (a
  * RoaringBitmap-lite: 64 Ki-bit dense pages keyed by `value >>> 16`).
  *
  * Why this exists next to `distinct_count_exact` (hash-set) and HLL++:
  * the bitmap state is reusable ACROSS aggregations. The OLAP-cube pattern
  * at 100 TB is: materialize one sketch per fine-grained cell (e.g.
  * nation × month) ONCE, then answer any coarser distinct-count rollup by
  * OR-ing stored sketches — no re-scan of the fact table, and unlike HLL
  * the answer stays exact. Page-OR is word-parallel; state size is bounded
  * by the live key range, not the row count.
  *
  * Two aggregates, sharing one binary codec:
  *  - [[BitmapSketchAgg]]  : long column → serialized bitmap (BinaryType)
  *  - [[BitmapMergeCountAgg]] : serialized bitmaps → exact distinct count
  *
  * Values must be non-negative (ids); negative input fails fast.
  */
object BitmapCodec {
  type State = mutable.LongMap[Array[Long]]
  val PageWords = 1024 // 64Ki bits

  def set(st: State, v: Long): Unit = {
    require(v >= 0, s"bitmap sketch requires non-negative ids, got $v")
    val page = st.getOrElseUpdate(v >>> 16, new Array[Long](PageWords))
    val bit = (v & 0xffffL).toInt
    page(bit >>> 6) |= 1L << (bit & 63)
  }

  def or(into: State, from: State): State = {
    from.foreach { case (hi, words) =>
      into.get(hi) match {
        case Some(w) => var i = 0; while (i < PageWords) { w(i) |= words(i); i += 1 }
        case None => into.update(hi, words.clone())
      }
    }
    into
  }

  def cardinality(st: State): Long = {
    var n = 0L
    st.foreach { case (_, words) =>
      var i = 0
      while (i < PageWords) { n += java.lang.Long.bitCount(words(i)); i += 1 }
    }
    n
  }

  /** [nPages:int][per page: hi:long, nWords:int, words…] — trailing zero
    * words of each page are trimmed, so sparse pages stay small. */
  def serialize(st: State): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(st.size)
    // sorted page order → canonical bytes (same set ⇒ same serialization)
    st.toSeq.sortBy(_._1).foreach { case (hi, words) =>
      var n = PageWords
      while (n > 0 && words(n - 1) == 0L) n -= 1
      out.writeLong(hi); out.writeInt(n)
      var i = 0
      while (i < n) { out.writeLong(words(i)); i += 1 }
    }
    out.flush()
    bos.toByteArray
  }

  /** a ∩ b as a NEW state: pages present in both, word-wise AND; pages
    * whose intersection is empty are dropped, so the result re-serializes
    * to the same canonical bytes a directly-built bitmap of that set
    * would produce (required for equality/merge composition). */
  def and(a: State, b: State): State = {
    val (small, big) = if (a.size <= b.size) (a, b) else (b, a)
    val out: State = mutable.LongMap.empty
    small.foreach { case (hi, words) =>
      big.get(hi).foreach { w =>
        val r = new Array[Long](PageWords)
        var any = false
        var i = 0
        while (i < PageWords) {
          r(i) = words(i) & w(i)
          if (r(i) != 0L) any = true
          i += 1
        }
        if (any) out.update(hi, r)
      }
    }
    out
  }

  /** |a ∩ b| without materializing the intersection: pages align by key,
    * popcount of word-wise AND. */
  def andCardinality(a: State, b: State): Long = {
    val (small, big) = if (a.size <= b.size) (a, b) else (b, a)
    var n = 0L
    small.foreach { case (hi, words) =>
      big.get(hi).foreach { w =>
        var i = 0
        while (i < PageWords) {
          n += java.lang.Long.bitCount(words(i) & w(i)); i += 1
        }
      }
    }
    n
  }

  /** Membership test against the SERIALIZED form, in place. Pages are
    * serialized in ascending high-key order with trailing zero words
    * trimmed, so a position past a page's stored words is simply absent.
    * Called from generated code (see [[BitmapContains]]) — keep it a
    * static-reachable, allocation-free walk. */
  def containsSerialized(bytes: Array[Byte], v: Long): Boolean = {
    if (v < 0) return false
    val bb = ByteBuffer.wrap(bytes)
    val targetHi = v >>> 16
    val wordIdx = ((v & 0xffffL) >>> 6).toInt
    val nPages = bb.getInt
    var p = 0
    while (p < nPages) {
      val hi = bb.getLong
      val n = bb.getInt
      if (hi == targetHi) {
        if (wordIdx >= n) return false
        val word = bb.getLong(bb.position() + wordIdx * 8)
        return (word >>> (v & 63L).toInt & 1L) == 1L
      }
      if (hi > targetHi) return false // pages sorted ascending
      bb.position(bb.position() + n * 8)
      p += 1
    }
    false
  }

  def deserialize(bytes: Array[Byte]): State = {
    val bb = ByteBuffer.wrap(bytes)
    val st: State = mutable.LongMap.empty
    val nPages = bb.getInt
    var p = 0
    while (p < nPages) {
      val hi = bb.getLong
      val n = bb.getInt
      val words = new Array[Long](PageWords)
      var i = 0
      while (i < n) { words(i) = bb.getLong; i += 1 }
      st.update(hi, words)
      p += 1
    }
    st
  }
}

/** Aggregates a non-negative LONG column into a serialized exact bitmap. */
case class BitmapSketchAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BitmapCodec.State]
  with UnaryLike[Expression] {

  override def createAggregationBuffer(): BitmapCodec.State =
    mutable.LongMap.empty

  override def update(b: BitmapCodec.State, input: InternalRow): BitmapCodec.State = {
    val v = child.eval(input)
    if (v != null) BitmapCodec.set(b, v.asInstanceOf[Long])
    b
  }

  override def merge(b1: BitmapCodec.State, b2: BitmapCodec.State): BitmapCodec.State =
    BitmapCodec.or(b1, b2)

  override def eval(b: BitmapCodec.State): Any = BitmapCodec.serialize(b)

  override def serialize(b: BitmapCodec.State): Array[Byte] = BitmapCodec.serialize(b)
  override def deserialize(bytes: Array[Byte]): BitmapCodec.State =
    BitmapCodec.deserialize(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): BitmapSketchAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BitmapSketchAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): BitmapSketchAgg =
    copy(child = newChild)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "bitmap_sketch"
}

/** ORs serialized bitmaps (BinaryType column) and evals the exact distinct
  * count — the rollup half of the store-sketches pattern. */
case class BitmapMergeCountAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BitmapCodec.State]
  with UnaryLike[Expression] {

  override def createAggregationBuffer(): BitmapCodec.State =
    mutable.LongMap.empty

  override def update(b: BitmapCodec.State, input: InternalRow): BitmapCodec.State = {
    val v = child.eval(input)
    if (v != null)
      BitmapCodec.or(b, BitmapCodec.deserialize(v.asInstanceOf[Array[Byte]]))
    b
  }

  override def merge(b1: BitmapCodec.State, b2: BitmapCodec.State): BitmapCodec.State =
    BitmapCodec.or(b1, b2)

  override def eval(b: BitmapCodec.State): Any = BitmapCodec.cardinality(b)

  override def serialize(b: BitmapCodec.State): Array[Byte] = BitmapCodec.serialize(b)
  override def deserialize(bytes: Array[Byte]): BitmapCodec.State =
    BitmapCodec.deserialize(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): BitmapMergeCountAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BitmapMergeCountAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): BitmapMergeCountAgg =
    copy(child = newChild)

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "bitmap_merge_count"
}

/** ORs serialized bitmaps into a MERGED serialized bitmap (binary → binary)
  * — the re-aggregation step of incremental sketch maintenance: stored
  * per-cell sketches from earlier runs/micro-batches OR with the current
  * batch's partials and persist back, staying exact across any number of
  * increments (union is idempotent and associative, so replays are safe). */
case class BitmapMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BitmapCodec.State]
  with UnaryLike[Expression] {

  override def createAggregationBuffer(): BitmapCodec.State =
    mutable.LongMap.empty

  override def update(b: BitmapCodec.State, input: InternalRow): BitmapCodec.State = {
    val v = child.eval(input)
    if (v != null)
      BitmapCodec.or(b, BitmapCodec.deserialize(v.asInstanceOf[Array[Byte]]))
    b
  }

  override def merge(b1: BitmapCodec.State, b2: BitmapCodec.State): BitmapCodec.State =
    BitmapCodec.or(b1, b2)

  override def eval(b: BitmapCodec.State): Any = BitmapCodec.serialize(b)

  override def serialize(b: BitmapCodec.State): Array[Byte] = BitmapCodec.serialize(b)
  override def deserialize(bytes: Array[Byte]): BitmapCodec.State =
    BitmapCodec.deserialize(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): BitmapMergeAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BitmapMergeAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): BitmapMergeAgg =
    copy(child = newChild)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "bitmap_merge"
}

/** Exact |a ∩ b| of two serialized bitmaps — the set-INTERSECTION algebra
  * the OR-mergeable sketches can't answer alone (audience overlap, funnel
  * conversion between cohorts: materialize one sketch per cohort cell,
  * intersect pairs at query time — no fact re-scan, exact).
  *
  * Scalar, runs once per (already aggregated) group row — CodegenFallback
  * is irrelevant here; the hot path is the sketch build below it. */
case class BitmapAndCount(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"bitmap_and_count needs two serialized bitmaps " +
        s"(binary), got ${left.dataType} / ${right.dataType}")

  override def nullSafeEval(a: Any, b: Any): Any =
    BitmapCodec.andCardinality(
      BitmapCodec.deserialize(a.asInstanceOf[Array[Byte]]),
      BitmapCodec.deserialize(b.asInstanceOf[Array[Byte]]))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitmapAndCount =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "bitmap_and_count"
}

/** Exact cardinality of one serialized bitmap (the unary companion). */
case class BitmapCount(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"bitmap_count needs a serialized bitmap (binary), " +
        s"got ${child.dataType}")

  override def nullSafeEval(b: Any): Any =
    BitmapCodec.cardinality(
      BitmapCodec.deserialize(b.asInstanceOf[Array[Byte]]))

  override protected def withNewChildInternal(newChild: Expression)
      : BitmapCount = copy(child = newChild)
  override def prettyName: String = "bitmap_count"
}

/** Serialized-bitmap INTERSECTION returning a serialized bitmap — the
  * composing sibling of [[BitmapAndCount]]: chaining it answers n-way
  * intersections (|A∩B∩C| = bitmap_and_count(bitmap_and(a,b),c), which
  * skips serializing the outermost intersection) that pairwise counts
  * alone cannot, completing the sketch algebra
  * (build / OR-merge / AND / count / contains). Canonical output bytes:
  * empty pages are dropped, so equal sets serialize equally. */
case class BitmapAnd(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = BinaryType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"bitmap_and needs two serialized bitmaps " +
        s"(binary), got ${left.dataType} / ${right.dataType}")

  override def nullSafeEval(a: Any, b: Any): Any =
    BitmapCodec.serialize(BitmapCodec.and(
      BitmapCodec.deserialize(a.asInstanceOf[Array[Byte]]),
      BitmapCodec.deserialize(b.asInstanceOf[Array[Byte]])))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitmapAnd =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "bitmap_and"
}

/** Point-membership probe on a SERIALIZED bitmap, walking the bytes
  * directly — no deserialization, no allocation per row. The canonical
  * serialization keeps pages sorted by high key, so the walk stops at the
  * first page past the target; with a Bloom-sized domain (2²⁰ bits = 16
  * pages) the directory scan is a handful of long reads. This is what
  * makes a broadcast bitmap usable as a per-row pre-filter (Bloom probe):
  * the blob crosses the wire once and every probe row reads it in place.
  *
  * Codegen'd via a static helper call, so probes stay inside
  * whole-stage codegen (the hot path of a 100 TB dedup pre-filter).
  */
case class BitmapContains(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"bitmap_contains needs (serialized bitmap binary, " +
        s"long position), got ${left.dataType} / ${right.dataType}")

  override def nullSafeEval(b: Any, p: Any): Any =
    BitmapCodec.containsSerialized(b.asInstanceOf[Array[Byte]],
      p.asInstanceOf[Long])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (b, p) =>
      s"${ev.value} = graft.functions.BitmapCodec.containsSerialized($b, $p);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitmapContains =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "bitmap_contains"
}
