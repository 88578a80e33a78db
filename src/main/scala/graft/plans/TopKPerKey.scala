package graft.plans

import java.util.{PriorityQueue => JPriorityQueue}

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.types.LongType
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators

/** Grouped top-k as a first-class operator: logical node + planner
  * strategy + two physical operators with per-partition bounded heaps.
  *
  * Why not `row_number().over(window)`: the window operator must
  * shuffle EVERY row to its key's partition and fully sort each key's
  * rows before it can emit row numbers — at 100 TB with hot keys, that
  * is a shuffle of n rows and an n·log n sort per key. This operator
  * keeps a k-bounded heap per key:
  *
  *   partial (map side):  O(n log k), emits ≤ k rows per (key,
  *                        partition) — the shuffle carries at most
  *                        k × partitions rows per key, like a combiner;
  *   exchange:            inserted automatically by EnsureRequirements
  *                        from the final operator's required
  *                        ClusteredDistribution — AQE still applies;
  *   final (reduce side): O(m log k) on the surviving m, then one
  *                        k-sized sort per key to assign ranks.
  *
  * Memory per task is O(#keys-in-partition × k) — the contract is
  * k ≪ rows/key (the top-k regime), and it is ENFORCED with a
  * DEGRADED-BUT-CORRECT fallback instead of an executor OOM: each
  * task counts the rows its heaps retain against `maxRetained`
  * (budget trips on heap CREATION, before the memory is owed), and
  * when an unexpectedly wide key domain trips it,
  *
  *   - the PARTIAL operator stops combining and streams the rest of
  *     the partition through unchanged (what a disabled map-side
  *     combiner would do — the final operator re-ranks everything);
  *   - the FINAL operator drains its heaps plus the rest of the
  *     partition into a SPILLABLE external sort on (key, order) and
  *     assigns ranks in one streaming pass with O(1) group state —
  *     exactly the window operator's sort-based plan, chosen at
  *     runtime only for the partitions that need it.
  *
  * Rows a heap already evicted are never re-surfaced, which stays
  * correct: eviction only happens once k better same-key rows are
  * retained in this partition, so the evicted row can never reach
  * rank ≤ k. Fallback activations are counted in the
  * `budget fallback partitions` SQL metric.
  */
case class TopKPerKey(
    keyExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    maxRetained: Long,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override protected def withNewChildInternal(c: LogicalPlan) = copy(child = c)
}

/** Shared heap machinery for the two physical operators. */
private[plans] object TopKHeaps {
  /** Per-key bounded heaps over an iterator; heap head = worst kept
    * row (reverse ordering), so admission is an O(1) compare.
    *
    * Returns the heaps built so far plus, when the retained-rows
    * budget tripped, the row whose (new) key would have exceeded it —
    * the iterator is left positioned after that row so callers can
    * switch to their degraded path without losing data. `null` pending
    * row = the whole input was consumed within budget.
    */
  def build(it: Iterator[InternalRow], keyProj: UnsafeProjection,
            ord: Ordering[InternalRow], k: Int, maxRetained: Long)
      : (mutable.LinkedHashMap[UnsafeRow, JPriorityQueue[InternalRow]], InternalRow) = {
    val heaps = mutable.LinkedHashMap.empty[UnsafeRow, JPriorityQueue[InternalRow]]
    while (it.hasNext) {
      val row = it.next()
      val key = keyProj(row)
      val heap = heaps.getOrElse(key, null) match {
        case null =>
          // worst case this new heap fills to k: charge it up front so
          // the budget trips on heap CREATION, before the memory is owed
          if ((heaps.size + 1).toLong * k > maxRetained) {
            return (heaps, row)
          }
          val h = new JPriorityQueue[InternalRow](k + 1, ord.reverse)
          heaps.put(key.copy(), h)
          h
        case h => h
      }
      if (heap.size < k) heap.add(row.copy())
      else if (ord.lt(row, heap.peek())) { heap.poll(); heap.add(row.copy()) }
    }
    (heaps, null)
  }

  def drain(heaps: mutable.LinkedHashMap[UnsafeRow, JPriorityQueue[InternalRow]])
      : Iterator[InternalRow] =
    heaps.valuesIterator.flatMap { h =>
      new Iterator[InternalRow] {
        def hasNext = !h.isEmpty; def next() = h.poll()
      }
    }
}

/** Map-side partial top-k: emits each key's ≤ k best rows of this
  * partition, unordered. Schema-preserving; no distribution needs.
  * Budget fallback: past `maxRetained` the partition streams through
  * un-combined (correct — the final operator re-ranks), like a
  * combiner that stops combining under memory pressure.
  */
case class PartialTopKPerKeyExec(
    keyExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    maxRetained: Long,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override lazy val metrics = Map(
    "numFallbacks" -> GraftColumnBridge.createMetric(sparkContext,
      "budget fallback partitions"))
  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keys = keyExprs
    val order = sortOrder
    val kk = k
    val budget = maxRetained
    val fallbacks = longMetric("numFallbacks")
    child.execute().mapPartitions ({ it =>
      val keyProj = UnsafeProjection.create(keys, childOutput)
      val ord = new LazilyGeneratedOrdering(order, childOutput)
      val (heaps, pending) = TopKHeaps.build(it, keyProj, ord, kk, budget)
      if (pending == null) TopKHeaps.drain(heaps)
      else {
        fallbacks += 1
        TopKHeaps.drain(heaps) ++ Iterator.single(pending) ++ it
      }
    }, preservesPartitioning = true)
  }
  override protected def withNewChildInternal(c: SparkPlan) = copy(child = c)
}

/** Reduce-side final top-k: requires co-location by key (Exchange
  * inserted by EnsureRequirements), re-runs the bounded heaps over the
  * partial results, sorts each key's ≤ k survivors, appends rank.
  * Budget fallback: past `maxRetained` the partition's retained rows
  * plus its remaining input drain into a SPILLABLE external sort on
  * (key, order) and ranks are assigned in one streaming pass — the
  * window operator's plan, selected at runtime per partition.
  */
case class FinalTopKPerKeyExec(
    keyExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    maxRetained: Long,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  // empty keys = GLOBAL top-k: the final pass must see every partial
  // survivor in one place (AllTuples), not rank per partition
  override def requiredChildDistribution: Seq[Distribution] =
    if (keyExprs.isEmpty) Seq(AllTuples)
    else Seq(ClusteredDistribution(keyExprs))
  override lazy val metrics = Map(
    "numFallbacks" -> GraftColumnBridge.createMetric(sparkContext,
      "budget fallback partitions"),
    "spillSize" -> GraftColumnBridge.createMetric(sparkContext,
      "fallback sort peak memory"))
  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keys = keyExprs
    val order = sortOrder
    val kk = k
    val budget = maxRetained
    val outAttrs = output
    val fallbacks = longMetric("numFallbacks")
    val spillSize = longMetric("spillSize")
    child.execute().mapPartitions ({ it =>
      val keyProj = UnsafeProjection.create(keys, childOutput)
      val ord = new LazilyGeneratedOrdering(order, childOutput)
      // downstream operators require UnsafeRow: project the joined
      // (row ++ rank) back into the unsafe format
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val (heaps, pending) = TopKHeaps.build(it, keyProj, ord, kk, budget)
      if (pending == null) {
        heaps.valuesIterator.flatMap { h =>
          val arr = new Array[InternalRow](h.size)
          var i = arr.length - 1
          while (i >= 0) { arr(i) = h.poll(); i -= 1 }  // heap pops worst-first
          arr.iterator.zipWithIndex.map { case (row, idx) =>
            outProj(new JoinedRow(row,
              new GenericInternalRow(Array[Any]((idx + 1).toLong)))): InternalRow
          }
        }
      } else {
        fallbacks += 1
        // spill path: everything still alive — heap survivors, the row
        // that tripped the budget, the unread rest of the partition —
        // goes through Spark's external (disk-backed) sorter keyed by
        // (key, order); ranks then stream with one comparison per row.
        // Heap-evicted rows are NOT needed: eviction implies k better
        // same-key rows are retained, so the evicted row outranks k.
        val schema = org.apache.spark.sql.types.StructType(childOutput.map(a =>
          org.apache.spark.sql.types.StructField(a.name, a.dataType, a.nullable)))
        val fullOrder = keys.map(SortOrder(_, Ascending)) ++ order
        val sortOrd = new LazilyGeneratedOrdering(fullOrder, childOutput)
        val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
          private val zero = new UnsafeExternalRowSorter.PrefixComputer.Prefix
          override def computePrefix(row: InternalRow) = zero
        }
        val sorter = UnsafeExternalRowSorter.create(
          schema, sortOrd, PrefixComparators.LONG, prefixComputer,
          GraftColumnBridge.pageSizeBytes, false)
        val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
        TopKHeaps.drain(heaps).foreach(r => sorter.insertRow(toUnsafe(r)))
        sorter.insertRow(toUnsafe(pending))
        while (it.hasNext) sorter.insertRow(toUnsafe(it.next()))
        spillSize += sorter.getPeakMemoryUsage
        var curKey: UnsafeRow = null
        var rank = 0L
        sorter.sort().flatMap { row =>
          val key = keyProj(row)
          if (curKey == null || key != curKey) { curKey = key.copy(); rank = 1L }
          else rank += 1L
          if (rank <= kk)
            Iterator.single(outProj(new JoinedRow(row,
              new GenericInternalRow(Array[Any](rank)))): InternalRow)
          else Iterator.empty
        }
      }
    }, preservesPartitioning = true)
  }
  override protected def withNewChildInternal(c: SparkPlan) = copy(child = c)
}

/** Planner strategy mapping the logical node to partial → final. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, rankAttr, maxRetained, child) =>
      FinalTopKPerKeyExec(keys, order, k, rankAttr, maxRetained,
        PartialTopKPerKeyExec(keys, order, k, maxRetained, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Optimizer rule: fold a rank predicate into the operator itself —
  * `Filter(rank ≤ n, TopKPerKey(k))` with n < k becomes
  * `Filter(rank ≤ n, TopKPerKey(n))`, shrinking every bounded heap and
  * the shuffle to n rows per (key, partition). Spark's own
  * `WindowGroupLimit` rule does exactly this for `row_number` windows
  * but cannot see a custom node — this is the operator's missing half.
  * Sound because ranks are 1-based, dense, and deterministic under the
  * operator's total-order contract: rows with rank ≤ n are identical
  * whether k or n rows were kept. The Filter stays (it still prunes
  * ranks in (n, k] when the bound was not the only predicate — on the
  * common exact-match shape it just passes everything through).
  */
object TopKLimitPushdown extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.Filter
  import org.apache.spark.sql.types.IntegerType

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, tk: TopKPerKey) =>
      val bound = rankBound(cond, tk.rankAttr)
      if (bound.exists(n => n >= 1 && n < tk.k))
        f.copy(child = tk.copy(k = bound.get.toInt))
      else f
  }

  /** Tightest upper bound on the rank attribute provable from `cond`. */
  private def rankBound(cond: Expression, rank: Attribute): Option[Long] = {
    def lit(e: Expression): Option[Long] = e match {
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Long, LongType)   => Some(v)
      case Cast(inner, LongType, _, _)  => lit(inner)
      case _ => None
    }
    def isRank(e: Expression): Boolean = e match {
      case a: AttributeReference => a.semanticEquals(rank)
      case Cast(inner, _, _, _)  => isRank(inner)
      case _ => false
    }
    cond match {
      case LessThanOrEqual(a, v) if isRank(a) => lit(v)
      case LessThan(a, v) if isRank(a)        => lit(v).map(_ - 1)
      case GreaterThanOrEqual(v, a) if isRank(a) => lit(v)
      case GreaterThan(v, a) if isRank(a)     => lit(v).map(_ - 1)
      case EqualTo(a, v) if isRank(a)         => lit(v)
      case EqualTo(v, a) if isRank(a)         => lit(v)
      case And(l, r) =>
        (rankBound(l, rank), rankBound(r, rank)) match {
          case (Some(x), Some(y)) => Some(math.min(x, y))
          case (x, y) => x.orElse(y)
        }
      case _ => None
    }
  }
}

/** User-facing entry point. */
object TopK {
  /** Top-k rows per key group, ordered by `orderBy` (column name →
    * descending?), with a 1-based `rankName` column appended.
    *
    * CONTRACT: `orderBy` must be a TOTAL order within each key group —
    * include a unique tiebreaker column (every call site here appends
    * one, e.g. `("word", false)` after `("cnt", true)`). The bounded
    * heaps reject rows comparing equal to the current worst kept row
    * (strict less-than admission), so under a partial order the kept
    * set among ties is partition-dependent and will disagree with
    * `row_number()` — with a total order no two rows compare equal and
    * the result is exactly the window formulation's.
    *
    * `maxRetained`: per-partition retained-row budget (#keys × k must
    * stay under it — default 8M rows ≈ low hundreds of MB of retained
    * UnsafeRows, well inside an executor's task memory). Past the
    * budget the operator degrades per partition instead of OOM-ing:
    * partial stops combining, final spill-sorts and stream-ranks.
    */
  def perKey(df: DataFrame, keys: Seq[String], orderBy: Seq[(String, Boolean)],
             k: Int, rankName: String = "rn",
             maxRetained: Long = 8L * 1024 * 1024): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    }
    if (!spark.experimental.extraOptimizations.contains(TopKLimitPushdown)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ TopKLimitPushdown
    }
    val lp = df.queryExecution.analyzed
    def attr(name: String): Attribute = lp.output
      .find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(
        s"column $name not in ${lp.output.map(_.name).mkString(",")}"))
    val order = orderBy.map { case (name, desc) =>
      SortOrder(attr(name), if (desc) Descending else Ascending)
    }
    val rankAttr = AttributeReference(rankName, LongType, nullable = false)()
    GraftColumnBridge.ofRows(spark,
      TopKPerKey(keys.map(attr), order, k, rankAttr, maxRetained, lp))
  }
}
