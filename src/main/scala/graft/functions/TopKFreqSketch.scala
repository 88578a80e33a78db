package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Weighted Space-Saving heavy-hitters sketch (Metwally et al.) as a
  * `TypedImperativeAggregate`: at most `m` (word, total) counters, each
  * row adding its non-negative long `weight` (1 for plain counts); on
  * overflow the minimum counter is evicted and inherited (a total
  * becomes an upper bound with error ≤ W/m, W = total weight seen).
  * While total distinct ≤ m no eviction ever happens and every total
  * is EXACT — which is what the oracle checks; at 100 TB the bound is
  * what makes global top-k over an unbounded vocabulary a fixed-memory
  * single-shuffle aggregation.
  *
  * Returns array<struct<word string, cnt long>> sorted by
  * (cnt desc, word asc); slice/explode downstream for top-k rows.
  */
case class TopKFreqSketch(
    child: Expression,
    weight: Expression,
    m: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKFreqSketch.Summary] {

  override def children: Seq[Expression] = Seq(child, weight)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("word", StringType), StructField("cnt", LongType))), containsNull = false)

  override def createAggregationBuffer(): TopKFreqSketch.Summary =
    new TopKFreqSketch.Summary

  override def update(buf: TopKFreqSketch.Summary,
                      input: InternalRow): TopKFreqSketch.Summary = {
    val v = child.eval(input)
    val w = weight.eval(input)
    if (v != null && w != null) {
      val wl = w.asInstanceOf[Long]
      require(wl >= 0, "weighted Space-Saving needs non-negative weights")
      buf.admit(v.asInstanceOf[UTF8String], wl, m)
    }
    buf
  }

  override def merge(b1: TopKFreqSketch.Summary,
                     b2: TopKFreqSketch.Summary): TopKFreqSketch.Summary = {
    b2.counts.foreach { case (w, c) => b1.admit(w, c, m) }
    b1
  }

  override def eval(buf: TopKFreqSketch.Summary): Any = {
    val sorted = buf.counts.toArray.sortBy { case (w, c) => (-c, w) }(
      Ordering.Tuple2(Ordering.Long, TopKFreqSketch.utf8Ordering))
    new GenericArrayData(sorted.map { case (w, c) =>
      InternalRow(w, c)
    }.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: TopKFreqSketch.Summary): Array[Byte] = {
    val entries = buf.counts.toArray
    val size = 4 + entries.map(e => 4 + e._1.numBytes() + 8).sum
    val bb = ByteBuffer.allocate(size)
    bb.putInt(entries.length)
    entries.foreach { case (w, c) =>
      val bytes = w.getBytes
      bb.putInt(bytes.length); bb.put(bytes); bb.putLong(c)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKFreqSketch.Summary = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKFreqSketch.Summary
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val arr = new Array[Byte](len)
      bb.get(arr)
      // a serialized summary has ≤ m distinct entries: direct insert,
      // no eviction possible
      buf.insert(UTF8String.fromBytes(arr), bb.getLong)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKFreqSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKFreqSketch =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(child = cs(0), weight = cs(1))
}

object TopKFreqSketch {
  private[functions] val utf8Ordering: Ordering[UTF8String] =
    (a: UTF8String, b: UTF8String) => a.compareTo(b)
  private implicit val keyOrdering: Ordering[(Long, UTF8String)] =
    Ordering.Tuple2(Ordering.Long, utf8Ordering)

  /** Mutable Space-Saving state: the counter map paired with an ordered
    * index on (count, word) so the min-counter eviction is O(log m).
    * (The previous `minBy` scan was O(m) per eviction — O(n·m) total
    * once distinct ≫ m, real money at 100 TB vocabulary sizes.)
    */
  final class Summary {
    val counts: mutable.HashMap[UTF8String, Long] = mutable.HashMap.empty
    private val byCount: mutable.TreeSet[(Long, UTF8String)] = mutable.TreeSet.empty

    /** Direct insert of a word known to be absent (deserialization). */
    def insert(w: UTF8String, c: Long): Unit = {
      counts.update(w, c)
      byCount.add((c, w))
    }

    /** Space-Saving admit: count if present, insert if room, otherwise
      * evict the minimum counter and inherit its count.
      */
    def admit(w: UTF8String, c: Long, m: Int): Unit = counts.get(w) match {
      case Some(prev) =>
        byCount.remove((prev, w))
        counts.update(w, prev + c)
        // clone: `w` may alias a reused UnsafeRow buffer, and a tuple
        // stored in the TreeSet must never mutate in place (the counts
        // key is already the clone made at insert time)
        byCount.add((prev + c, w.clone()))
      case None if counts.size < m =>
        insert(w.clone(), c)
      case None =>
        val min @ (minC, minW) = byCount.head
        byCount.remove(min)
        counts.remove(minW)
        insert(w.clone(), minC + c)
    }
  }

  /** Column entry: top keys of a string column by summed long weight. */
  def topk_weighted(c: Column, w: Column, m: Int = 1024): Column =
    GraftColumnBridge.column(
      TopKFreqSketch(GraftColumnBridge.expression(c),
        GraftColumnBridge.expression(w), m).toAggregateExpression())
}
