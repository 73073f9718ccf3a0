package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** The file-group manifest entries of a rewrite, as ONE ungrouped
  * aggregate over the rows being written: per `bucket` the row count,
  * [lo, hi] of `stat`, the max of `ord` and the OR of the key-bloom bit
  * `positions` ([[FileGroupStatsAgg.orInto]]). Null `stat`/`ord` values
  * are skipped, as `min`/`max` skip them. The OR is
  * order/partitioning-invariant, so the bloom words equal the
  * historical exploded (bucket, word) `bit_or` build's for the same key
  * set (BloomWordsAggSpec pins both).
  *
  * Built for `Dataset.observe` on the commit's write: the entries are
  * computed in the write's own tasks, so no second pass over the
  * written rows runs. The buffer holds one slot per TOUCHED bucket
  * (`nBuckets` references, a slot of 6 + `words` longs allocated on the
  * bucket's first row) and `update`/`merge` mutate the slots in place.
  *
  * Result: `array<struct<bucket, lo, hi, n, ordhi, bloom>>` in bucket
  * order, one element per bucket that saw a row; `bloom` is the words
  * as big-endian bytes, word 0 first (hex-encoded on the driver for
  * the manifest's format).
  */
case class FileGroupStatsAgg(bucket: Expression, stat: Expression, ord: Expression,
                             positions: Expression, nBuckets: Int, words: Int,
                             mutableAggBufferOffset: Int = 0,
                             inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Array[Long]]] {

  import FileGroupStatsAgg._

  override def children: Seq[Expression] = Seq(bucket, stat, ord, positions)

  override def createAggregationBuffer(): Array[Array[Long]] =
    new Array[Array[Long]](nBuckets)

  private def newSlot(): Array[Long] = {
    val s = new Array[Long](Header + words)
    s(Lo) = Long.MaxValue; s(Hi) = Long.MinValue; s(OrdHi) = Long.MinValue
    s
  }

  override def update(buf: Array[Array[Long]], input: InternalRow): Array[Array[Long]] = {
    val b = bucket.eval(input).asInstanceOf[Long].toInt
    if (buf(b) == null) buf(b) = newSlot()
    val s = buf(b)
    s(N) += 1
    val v = stat.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      s(StatN) += 1; s(Lo) = math.min(s(Lo), x); s(Hi) = math.max(s(Hi), x)
    }
    val o = ord.eval(input)
    if (o != null) { s(OrdN) += 1; s(OrdHi) = math.max(s(OrdHi), o.asInstanceOf[Long]) }
    val p = positions.eval(input)
    if (p != null) orInto(s, Header, p.asInstanceOf[ArrayData])
    buf
  }

  override def merge(a: Array[Array[Long]], b: Array[Array[Long]]): Array[Array[Long]] = {
    var i = 0
    while (i < nBuckets) {
      val t = b(i)
      if (t != null) {
        if (a(i) == null) a(i) = t
        else {
          val s = a(i)
          s(N) += t(N); s(StatN) += t(StatN); s(OrdN) += t(OrdN)
          s(Lo) = math.min(s(Lo), t(Lo)); s(Hi) = math.max(s(Hi), t(Hi))
          s(OrdHi) = math.max(s(OrdHi), t(OrdHi))
          var w = Header
          while (w < Header + words) { s(w) |= t(w); w += 1 }
        }
      }
      i += 1
    }
    a
  }

  override def eval(buf: Array[Array[Long]]): Any = {
    def opt(n: Long, v: Long): Any = if (n > 0) v else null
    new GenericArrayData(buf.indices.filter(buf(_) != null).map { b =>
      val s = buf(b)
      val bb = ByteBuffer.allocate(words * 8)
      var w = Header
      while (w < Header + words) { bb.putLong(s(w)); w += 1 }
      InternalRow(b.toLong, opt(s(StatN), s(Lo)), opt(s(StatN), s(Hi)), s(N),
        opt(s(OrdN), s(OrdHi)), bb.array())
    })
  }

  /** Touched slots only: (bucket, slot) pairs behind a count. */
  override def serialize(buf: Array[Array[Long]]): Array[Byte] = {
    val touched = buf.indices.filter(buf(_) != null)
    val bb = ByteBuffer.allocate(4 + touched.size * (4 + (Header + words) * 8))
    bb.putInt(touched.size)
    touched.foreach { b => bb.putInt(b); buf(b).foreach(bb.putLong) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Array[Long]] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = createAggregationBuffer()
    (0 until bb.getInt).foreach { _ =>
      buf(bb.getInt) = Array.fill(Header + words)(bb.getLong)
    }
    buf
  }

  override def dataType: DataType = ArrayType(ResultType, containsNull = false)
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(newOffset: Int): FileGroupStatsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FileGroupStatsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): FileGroupStatsAgg =
    copy(bucket = c(0), stat = c(1), ord = c(2), positions = c(3))

  override def prettyName: String = "graft_file_group_stats"
}

object FileGroupStatsAgg {
  // slot layout: counters, then the bloom words
  private val N = 0
  private val StatN = 1
  private val Lo = 2
  private val Hi = 3
  private val OrdN = 4
  private val OrdHi = 5
  private val Header = 6

  /** OR every bit position in `positions` into the bloom words stored
    * at `buf(offset)`, `buf(offset + 1)`, ... (position p sets bit
    * p % 64 of word p / 64). */
  private def orInto(buf: Array[Long], offset: Int, positions: ArrayData): Unit = {
    var i = 0
    while (i < positions.numElements()) {
      val p = positions.getLong(i)
      buf(offset + (p >>> 6).toInt) |= (1L << (p & 63L).toInt)
      i += 1
    }
  }

  val ResultType: StructType = StructType(Seq(
    StructField("bucket", LongType, nullable = false),
    StructField("lo", LongType), StructField("hi", LongType),
    StructField("n", LongType, nullable = false),
    StructField("ordhi", LongType),
    StructField("bloom", BinaryType, nullable = false)))

  /** Column form. `bucket` must be a bigint in [0, nBuckets); `stat` and
    * `ord` bigint (or null); `positions` an `array<bigint>` of bit
    * positions below 64 × `words`. */
  def agg(bucket: Column, stat: Column, ord: Column, positions: Column,
          nBuckets: Int, words: Int): Column =
    Bridge.column(FileGroupStatsAgg(Bridge.expression(bucket), Bridge.expression(stat),
      Bridge.expression(ord), Bridge.expression(positions), nBuckets, words)
      .toAggregateExpression())
}
