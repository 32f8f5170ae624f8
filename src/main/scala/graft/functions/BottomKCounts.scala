package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** Weighted bottom-k QUANTILE sketch as a native Catalyst
  * TYPED IMPERATIVE AGGREGATE — the quantile sibling of [[KmvHashes]].
  *
  * State: the k distinct input values with the smallest portable hashes
  * (`hex8(md5(v))`, the engine's cross-engine hash), each with its EXACT
  * occurrence count. Quantiles are estimated by weighted rank over this
  * uniform distinct-value sample (the distinct-sampling estimator) —
  * one integer prefix-sum over ≤ k rows.
  *
  * Why this shape and not KLL/MRL proper: a compactor sketch's surviving
  * items depend on WHEN compactions fire, i.e. on the merge tree — two
  * runs of the same query can hold different (equally valid) states, so
  * no SQL oracle can recompute the contents. This sketch's state is a
  * pure function of the input MULTISET: the selected values are fixed by
  * the value set (k smallest hashes), and each survivor's count is exact
  * under any merge order — if a value was evicted from some partial
  * buffer, that buffer retained k smaller hashes which also reach the
  * final union, so the evicted value can never re-enter the bottom-k and
  * its lost count is unobservable. That invariant is what lets the
  * driver hash-compare sketch CONTENTS (hash, value, count, rank for
  * rank) against a windowed-SQL recompute, estimate included — the same
  * bar [[KmvHashes]] cleared for distinct counts. The trade: rank-error
  * guarantees hold w.r.t. the value-frequency mix rather than KLL's
  * worst-case epsilon-rank bound; the accuracy contract on real data is
  * asserted in SketchesSpec.
  *
  * Scale shape: O(k) mergeable buffers (map-side combined), output
  * O(groups × k) rows, merge = count-sum ∪ trim. Collision-safe: keys
  * are (hash, value) pairs, so two values sharing a 32-bit hash prefix
  * stay distinct entries. */
object BottomKCounts {
  /** (hash asc, value asc) — a named serializable comparator: the
    * expression ships in the task binary, so a lambda field would fail
    * closure serialization. */
  private[functions] object KeyOrdering
    extends java.util.Comparator[(Long, Long)] with Serializable {
    override def compare(a: (Long, Long), b: (Long, Long)): Int = {
      val c = java.lang.Long.compare(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }
}

case class BottomKCounts(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeMap[(Long, Long), Long]] {

  require(k > 0, "bottomk_counts: k must be positive")

  override def children: Seq[Expression] = child :: Nil

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint value, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("h", LongType, nullable = false),
      StructField("v", LongType, nullable = false),
      StructField("cnt", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  override def prettyName: String = "bottomk_counts"

  override def createAggregationBuffer(): java.util.TreeMap[(Long, Long), Long] =
    new java.util.TreeMap[(Long, Long), Long](BottomKCounts.KeyOrdering)

  /** The engine's portable hash: first 4 md5 digest bytes of the decimal
    * string, big-endian unsigned — `hex8(md5(CAST(v AS VARCHAR)))`. */
  private def hashOf(v: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(java.lang.Long.toString(v).getBytes("US-ASCII"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  private def add(buf: java.util.TreeMap[(Long, Long), Long], key: (Long, Long), c: Long): Unit = {
    buf.put(key, buf.getOrDefault(key, 0L) + c)
    if (buf.size > k) buf.pollLastEntry(): Unit
  }

  override def update(
      buf: java.util.TreeMap[(Long, Long), Long],
      input: InternalRow): java.util.TreeMap[(Long, Long), Long] = {
    val v = child.eval(input)
    if (v != null) {
      val value = v.asInstanceOf[Long]
      add(buf, (hashOf(value), value), 1L)
    }
    buf
  }

  override def merge(
      buf: java.util.TreeMap[(Long, Long), Long],
      other: java.util.TreeMap[(Long, Long), Long]): java.util.TreeMap[(Long, Long), Long] = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      add(buf, e.getKey, e.getValue)
    }
    buf
  }

  override def eval(buf: java.util.TreeMap[(Long, Long), Long]): Any = {
    val out = new Array[Any](buf.size)
    val it = buf.entrySet().iterator() // ascending (h, v): rank order
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = InternalRow(e.getKey._1, e.getKey._2, e.getValue)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeMap[(Long, Long), Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(24 * buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putLong(e.getKey._1); bb.putLong(e.getKey._2); bb.putLong(e.getValue)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeMap[(Long, Long), Long] = {
    val buf = createAggregationBuffer()
    val bb = ByteBuffer.wrap(bytes)
    while (bb.remaining() >= 24) buf.put((bb.getLong, bb.getLong), bb.getLong)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKCounts =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): BottomKCounts =
    copy(inputAggBufferOffset = newOffset)
}
