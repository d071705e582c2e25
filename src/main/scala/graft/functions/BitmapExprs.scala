package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** EXACT mergeable distinct-id sets — compressed bitmaps in the roaring
  * style (Chambi et al. 2016, public literature; ClickHouse's
  * groupBitmap / Druid's bitmap metrics are the same idea): ids are
  * bucketed by their high bits into 2^16-wide containers, each container
  * stored either as a sorted 16-bit array (sparse, <= 4096 entries) or an
  * 8 KB bitset (dense). The aggregate completes the engine's sketch
  * family with the member HLL cannot provide: bitmap union is EXACT and
  * idempotent-by-value, and bitmap INTERSECTION answers
  * overlap/retention questions ("users active in BOTH halves") that no
  * cardinality-only sketch can.
  *
  * 100 TB shape: the partial state per group is bounded by the number of
  * DISTINCT ids in the group — 8 KB per dense 65 536-id block, 2 bytes
  * per sparse id — not by row count; merges are associative and
  * commutative, so partial aggregation, AQE re-plans, and segment-store
  * compaction all serve identical state. Serialization is CANONICAL
  * (containers ascending by key, representation chosen by final
  * cardinality), so equal sets always produce byte-identical bitmaps
  * regardless of build/merge order — the segment-compaction equality
  * contract relies on this.
  *
  * Exactness is the point: every count these expressions emit is
  * DuckDB-oracle-checkable with plain COUNT(DISTINCT ...) / INTERSECT.
  */
object BitmapOps {

  /** One 2^16-id block: sorted char array while sparse, long[1024] bitset
    * once past `SparseMax` entries.
    */
  final class Container {
    var bits: Array[Long] = null // dense mode when non-null
    var arr: Array[Char] = new Array[Char](16)
    var n: Int = 0

    def cardinality: Int =
      if (bits != null) {
        var c = 0; var i = 0
        while (i < 1024) { c += java.lang.Long.bitCount(bits(i)); i += 1 }
        c
      } else n

    private def toDense(): Unit = {
      val b = new Array[Long](1024)
      var i = 0
      while (i < n) { val v = arr(i).toInt; b(v >>> 6) |= 1L << (v & 63); i += 1 }
      bits = b; arr = null; n = 0
    }

    def add(low: Int): Unit =
      if (bits != null) bits(low >>> 6) |= 1L << (low & 63)
      else {
        val c = low.toChar
        var lo = 0; var hi = n
        while (lo < hi) { val m = (lo + hi) >>> 1; if (arr(m) < c) lo = m + 1 else hi = m }
        if (lo < n && arr(lo) == c) return
        if (n == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
        System.arraycopy(arr, lo, arr, lo + 1, n - lo)
        arr(lo) = c; n += 1
        if (n > BitmapOps.SparseMax) toDense()
      }

    def or(other: Container): Unit =
      if (other.bits != null) {
        if (bits == null) toDense()
        var i = 0
        while (i < 1024) { bits(i) |= other.bits(i); i += 1 }
      } else {
        var i = 0
        while (i < other.n) { add(other.arr(i).toInt); i += 1 }
      }

    def andCardinality(other: Container): Int = {
      if (bits != null && other.bits != null) {
        var c = 0; var i = 0
        while (i < 1024) { c += java.lang.Long.bitCount(bits(i) & other.bits(i)); i += 1 }
        c
      } else if (bits == null && other.bits == null) {
        var c = 0; var i = 0; var j = 0
        while (i < n && j < other.n) {
          if (arr(i) < other.arr(j)) i += 1
          else if (arr(i) > other.arr(j)) j += 1
          else { c += 1; i += 1; j += 1 }
        }
        c
      } else if (bits == null) {
        var c = 0; var i = 0
        while (i < n) {
          val v = arr(i).toInt
          if ((other.bits(v >>> 6) & (1L << (v & 63))) != 0L) c += 1
          i += 1
        }
        c
      } else other.andCardinality(this)
    }
  }

  val SparseMax = 4096

  final class LongBitmap {
    val containers = new java.util.TreeMap[java.lang.Long, Container]

    def add(v: Long): Unit = {
      val key = java.lang.Long.valueOf(v >> 16)
      var c = containers.get(key)
      if (c == null) { c = new Container; containers.put(key, c) }
      c.add((v & 0xFFFF).toInt)
    }

    def or(other: LongBitmap): Unit = {
      val it = other.containers.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val mine = containers.get(e.getKey)
        if (mine == null) containers.put(e.getKey, e.getValue)
        else mine.or(e.getValue)
      }
    }

    def cardinality: Long = {
      var c = 0L
      val it = containers.values().iterator()
      while (it.hasNext) c += it.next().cardinality
      c
    }

    def andCardinality(other: LongBitmap): Long = {
      var c = 0L
      val it = containers.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val o = other.containers.get(e.getKey)
        if (o != null) c += e.getValue.andCardinality(o)
      }
      c
    }

    /** Canonical bytes: containers ascending by key; representation by
      * FINAL cardinality (array iff <= SparseMax), array values sorted —
      * equal sets serialize byte-identically whatever the build order.
      */
    def serialize(): Array[Byte] = {
      val bos = new ByteArrayOutputStream(64)
      val out = new DataOutputStream(bos)
      out.writeInt(containers.size)
      val it = containers.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        out.writeLong(e.getKey)
        val c = e.getValue
        val card = c.cardinality
        if (card <= SparseMax) {
          out.writeByte(0); out.writeInt(card)
          if (c.bits != null) {
            var w = 0
            while (w < 1024) {
              var bits = c.bits(w)
              while (bits != 0L) {
                out.writeChar((w << 6) | java.lang.Long.numberOfTrailingZeros(bits))
                bits &= bits - 1
              }
              w += 1
            }
          } else {
            var i = 0
            while (i < c.n) { out.writeChar(c.arr(i)); i += 1 }
          }
        } else {
          out.writeByte(1); out.writeInt(card)
          var w = 0
          while (w < 1024) { out.writeLong(c.bits(w)); w += 1 }
        }
      }
      out.flush()
      bos.toByteArray
    }
  }

  def deserialize(bytes: Array[Byte]): LongBitmap = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val bm = new LongBitmap
    val nc = in.readInt()
    var i = 0
    while (i < nc) {
      val key = in.readLong()
      val tag = in.readByte()
      val card = in.readInt()
      val c = new Container
      if (tag == 0) {
        c.arr = new Array[Char](math.max(card, 1)); c.n = card
        var j = 0
        while (j < card) { c.arr(j) = in.readChar(); j += 1 }
      } else {
        c.bits = new Array[Long](1024); c.arr = null
        var j = 0
        while (j < 1024) { c.bits(j) = in.readLong(); j += 1 }
      }
      bm.containers.put(java.lang.Long.valueOf(key), c)
      i += 1
    }
    bm
  }

  /** Static entry points the scalar expressions' codegen calls. */
  def cardinality(b: Array[Byte]): Long = deserialize(b).cardinality
  def andCardinality(a: Array[Byte], b: Array[Byte]): Long =
    deserialize(a).andCardinality(deserialize(b))

  /** Column API. `bitmapBuild` aggregates raw long ids into a bitmap;
    * `bitmapMerge` OR-unions already-built bitmaps; the scalar counts
    * read them back.
    */
  def bitmapBuild(id: Column): Column =
    org.apache.spark.sql.GraftShim.column(
      BitmapBuildAgg(org.apache.spark.sql.GraftShim.expression(id))
        .toAggregateExpression())
  def bitmapMerge(bitmap: Column): Column =
    org.apache.spark.sql.GraftShim.column(
      BitmapOrAgg(org.apache.spark.sql.GraftShim.expression(bitmap))
        .toAggregateExpression())
  def bitmapCount(bitmap: Column): Column =
    org.apache.spark.sql.GraftShim.column(
      BitmapCard(org.apache.spark.sql.GraftShim.expression(bitmap)))
  def bitmapAndCount(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftShim.column(
      BitmapAndCard(org.apache.spark.sql.GraftShim.expression(a),
        org.apache.spark.sql.GraftShim.expression(b)))
}

/** `bitmap_build(id)`: exact distinct-set aggregate over longs. */
case class BitmapBuildAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BitmapOps.LongBitmap] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bitmap_build"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bitmap_build requires a bigint input, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): BitmapOps.LongBitmap =
    new BitmapOps.LongBitmap

  override def update(buf: BitmapOps.LongBitmap, input: InternalRow): BitmapOps.LongBitmap = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: BitmapOps.LongBitmap, other: BitmapOps.LongBitmap): BitmapOps.LongBitmap = {
    buf.or(other); buf
  }

  override def eval(buf: BitmapOps.LongBitmap): Any = buf.serialize()
  override def serialize(buf: BitmapOps.LongBitmap): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): BitmapOps.LongBitmap =
    BitmapOps.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapBuildAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapBuildAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BitmapBuildAgg =
    copy(child = newChildren(0))
}

/** `bitmap_merge(bitmap)`: OR-union aggregate over serialized bitmaps. */
case class BitmapOrAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BitmapOps.LongBitmap] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bitmap_merge"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bitmap_merge requires a binary bitmap input, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): BitmapOps.LongBitmap =
    new BitmapOps.LongBitmap

  override def update(buf: BitmapOps.LongBitmap, input: InternalRow): BitmapOps.LongBitmap = {
    val v = child.eval(input)
    if (v != null) buf.or(BitmapOps.deserialize(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def merge(buf: BitmapOps.LongBitmap, other: BitmapOps.LongBitmap): BitmapOps.LongBitmap = {
    buf.or(other); buf
  }

  override def eval(buf: BitmapOps.LongBitmap): Any = buf.serialize()
  override def serialize(buf: BitmapOps.LongBitmap): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): BitmapOps.LongBitmap =
    BitmapOps.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapOrAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapOrAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BitmapOrAgg =
    copy(child = newChildren(0))
}

/** `bitmap_count(bitmap)`: exact cardinality of a serialized bitmap. */
case class BitmapCard(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bitmap_count requires a binary bitmap input, got ${child.dataType.simpleString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "bitmap_count"
  override protected def nullSafeEval(input: Any): Any =
    BitmapOps.cardinality(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BitmapOps.cardinality($c)")
  override protected def withNewChildInternal(newChild: Expression): BitmapCard =
    copy(child = newChild)
}

/** `bitmap_and_count(a, b)`: exact intersection cardinality. */
case class BitmapAndCard(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "bitmap_and_count requires two binary bitmap inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "bitmap_and_count"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    BitmapOps.andCardinality(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.BitmapOps.andCardinality($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitmapAndCard =
    copy(left = newLeft, right = newRight)
}
