package graft.plans

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bloom-filter bit array as a distributed aggregate: OR together the
  * bit positions of a 100 TB key column in ONE pass with FIXED memory —
  * each map partition holds exactly `mBits/64` longs, the exchange
  * carries one bitmap per partition (not one row per key), and merge is
  * a word-wise OR. This is the membership-sketch sibling of
  * [[HeavyHitters]]: the output is a driver/broadcast-sized model
  * whose size depends only on the configured capacity, never on the
  * data.
  *
  * The aggregate consumes PRE-HASHED positions (see
  * `graft.operators.Bloom.position` — an md5-derived, engine-portable
  * hash), so the same position formula drives the build side, the probe
  * side, and the DuckDB oracle replay. A position outside [0, mBits)
  * fails loudly — a silent mask would make build and probe disagree.
  *
  * Output: array<long> of mBits/64 words, bit `p` at word `p / 64`,
  * mask `1 << (p % 64)`.
  */
case class BloomBits(
    pos: Expression,
    mBits: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(mBits > 0 && mBits % 64 == 0,
    s"BloomBits: mBits must be a positive multiple of 64, got $mBits")

  override def children: Seq[Expression] = Seq(pos)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    pos.dataType match {
      case LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"BloomBits expects an integral bit position, got $other")
    }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](mBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = pos.eval(input)
    if (v != null) {
      val p = v match { case l: Long => l; case i: Int => i.toLong }
      if (p < 0 || p >= mBits)
        throw new IllegalArgumentException(
          s"BloomBits: position $p outside [0, $mBits) - hash/mBits mismatch")
      buf((p >>> 6).toInt) |= 1L << (p & 63)
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData(buf.map(x => x: Any))

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBits =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomBits =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomBits =
    copy(pos = newChildren(0))
}

object BloomBits {
  def apply(pos: Column, mBits: Int): Column =
    GraftBridge.column(BloomBits(
      GraftBridge.expression(pos), mBits).toAggregateExpression())
}
