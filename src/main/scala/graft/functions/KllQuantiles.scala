package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** KLL-style streaming quantile sketch as a `TypedImperativeAggregate`
  * over a LONG column — the mergeable fixed-memory alternative to the
  * exact `percentile` aggregate, whose per-group state is O(rows) (a
  * sort-based buffer of every value) and therefore the wrong plan for a
  * 100 TB fact table.
  *
  * Structure: level buffers of capacity `k`; level i items carry weight
  * 2^i. An overflowing level is sorted and every other item promoted
  * (alternating parity per level — the classic deterministic KLL/GK
  * compactor), halving memory while bounding rank error by O(n/k) per
  * compaction round. Total state ≤ ~2k longs per group regardless of n.
  *
  * ORACLE VALIDITY WINDOW: while a group's row count stays ≤ k, no
  * compaction ever runs, level 0 holds every value, and [[eval]]
  * reproduces Spark's `percentile` / DuckDB's `quantile_cont`
  * interpolation EXACTLY (quarter-point interpolation over integers is
  * exact in binary doubles). Above k the estimate has ±O(n/k) rank
  * error and is additionally sensitive to partition/merge order —
  * approximate by design, same caveat family as the theta distinct
  * sketches (k exact window) and [[TopKFreqSketch]] (m exact window).
  */
case class KllQuantiles(
    child: Expression,
    k: Int,
    ps: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllQuantiles.Summary] {

  override def children: Seq[Expression] = Seq(child)
  // null on zero non-null inputs — same contract as `percentile`
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def createAggregationBuffer(): KllQuantiles.Summary =
    new KllQuantiles.Summary

  override def update(buf: KllQuantiles.Summary,
                      input: InternalRow): KllQuantiles.Summary = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long], k)
    buf
  }

  override def merge(b1: KllQuantiles.Summary,
                     b2: KllQuantiles.Summary): KllQuantiles.Summary = {
    b1.mergeIn(b2, k)
    b1
  }

  override def eval(buf: KllQuantiles.Summary): Any =
    if (buf.n == 0) null else new GenericArrayData(buf.quantiles(ps.toArray))

  override def serialize(buf: KllQuantiles.Summary): Array[Byte] = {
    val levels = buf.levels
    val size = 8 + 4 + levels.map(l => 4 + 1 + 8 * l.length).sum
    val bb = ByteBuffer.allocate(size)
    bb.putLong(buf.n)
    bb.putInt(levels.length)
    var i = 0
    while (i < levels.length) {
      val l = levels(i)
      bb.putInt(l.length)
      bb.put(if (buf.parity(i)) 1.toByte else 0.toByte)
      var j = 0
      while (j < l.length) { bb.putLong(l(j)); j += 1 }
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KllQuantiles.Summary = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new KllQuantiles.Summary
    buf.n = bb.getLong
    val nLevels = bb.getInt
    var i = 0
    while (i < nLevels) {
      val len = bb.getInt
      val par = bb.get() == 1.toByte
      val arr = new Array[Long](len)
      var j = 0
      while (j < len) { arr(j) = bb.getLong; j += 1 }
      buf.pushLevel(arr, par)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): KllQuantiles =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KllQuantiles =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(child = cs.head)
}

object KllQuantiles {

  /** Mutable KLL state: `levelBufs(i)` holds items of weight 2^i;
    * `parityBits(i)` alternates which half survives that level's next
    * compaction (deterministic — no RNG in the aggregation path).
    */
  final class Summary {
    var n: Long = 0L
    private val levelBufs = ArrayBuffer(new ArrayBuffer[Long]())
    private val parityBits = ArrayBuffer(false)

    def levels: Seq[Array[Long]] = levelBufs.map(_.toArray).toSeq
    def parity(i: Int): Boolean = parityBits(i)

    /** Deserialization: append one level's raw contents. */
    def pushLevel(items: Array[Long], par: Boolean): Unit = {
      if (levelBufs.length == 1 && levelBufs(0).isEmpty && parityBits.length == 1) {
        levelBufs(0) ++= items; parityBits(0) = par
      } else {
        levelBufs += (new ArrayBuffer[Long]() ++= items)
        parityBits += par
      }
    }

    def add(v: Long, k: Int): Unit = {
      n += 1
      levelBufs(0) += v
      compactIfNeeded(k)
    }

    def mergeIn(other: Summary, k: Int): Unit = {
      n += other.n
      var i = 0
      while (i < other.levelBufs.length) {
        while (levelBufs.length <= i) {
          levelBufs += new ArrayBuffer[Long]()
          parityBits += false
        }
        levelBufs(i) ++= other.levelBufs(i)
        i += 1
      }
      compactIfNeeded(k)
    }

    /** Compact bottom-up: any level over k is sorted and every other
      * item (by alternating parity) promoted with doubled weight.
      */
    private def compactIfNeeded(k: Int): Unit = {
      var i = 0
      while (i < levelBufs.length) {
        if (levelBufs(i).length > k) {
          val sorted = levelBufs(i).toArray
          java.util.Arrays.sort(sorted)
          val start = if (parityBits(i)) 1 else 0
          parityBits(i) = !parityBits(i)
          if (levelBufs.length <= i + 1) {
            levelBufs += new ArrayBuffer[Long]()
            parityBits += false
          }
          val promoted = levelBufs(i + 1)
          var j = start
          while (j < sorted.length) { promoted += sorted(j); j += 2 }
          levelBufs(i).clear()
        }
        i += 1
      }
    }

    /** Weighted-rank quantiles with `percentile`-compatible
      * interpolation: target rank t = p·(N−1); the items at ranks
      * ⌊t⌋/⌈t⌉ are linearly interpolated. With every weight 1 (no
      * compaction yet) this IS the exact algorithm bit-for-bit.
      */
    def quantiles(probs: Array[Double]): Array[Double] = {
      require(n > 0, "quantiles of an empty summary (eval returns null)")
      val total = levelBufs.iterator.map(_.length.toLong).sum.toInt
      val vals = new Array[Long](total)
      val wts = new Array[Long](total)
      var idx = 0
      var lev = 0
      while (lev < levelBufs.length) {
        val w = 1L << lev
        val l = levelBufs(lev)
        var j = 0
        while (j < l.length) { vals(idx) = l(j); wts(idx) = w; idx += 1; j += 1 }
        lev += 1
      }
      // sort (value, weight) pairs by value
      val order = (0 until total).sortBy(i => vals(i))
      val sv = order.map(i => vals(i)).toArray
      val sw = order.map(i => wts(i)).toArray
      val totalW = sw.sum
      val out = new Array[Double](probs.length)
      var pi = 0
      while (pi < probs.length) {
        val t = probs(pi) * (totalW - 1).toDouble
        val lo = math.floor(t).toLong
        val hi = math.ceil(t).toLong
        out(pi) = {
          val vLo = valueAtRank(sv, sw, lo)
          if (hi == lo) vLo.toDouble
          else {
            val vHi = valueAtRank(sv, sw, hi)
            vLo + (vHi - vLo) * (t - lo)
          }
        }
        pi += 1
      }
      out
    }

    /** Value whose weight interval covers 0-based rank r. */
    private def valueAtRank(sv: Array[Long], sw: Array[Long], r: Long): Long = {
      var cum = 0L
      var i = 0
      while (i < sv.length) {
        cum += sw(i)
        if (r < cum) return sv(i)
        i += 1
      }
      sv(sv.length - 1)
    }
  }

  /** Column entry: approximate quantiles of a long column (exact while
    * the group's row count ≤ k).
    */
  def kll_quantiles(c: Column, k: Int, ps: Seq[Double]): Column =
    GraftColumnBridge.column(
      KllQuantiles(GraftColumnBridge.expression(c), k, ps).toAggregateExpression())
}
