package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BaseOrdering, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Logical per-key top-k: retain, for every distinct value of `grouping`,
  * the first `k` child rows under `ordering` (make the ordering total —
  * include a tie-break — for a deterministic result).
  *
  * Why a custom operator: Spark expresses per-key top-k as
  * window-rank-then-filter, whose physical plan is a full shuffle of EVERY
  * row followed by a per-partition SORT of every row — O(n log n) work and
  * full materialization for an output of `keys × k` rows. (Spark's own
  * `TakeOrderedAndProject` does bounded-heap selection, but only for a
  * GLOBAL limit.) This operator is the per-key generalization: a bounded
  * heap per key on the map side, so the shuffle carries at most
  * `mappers × keys × k` rows, then the same bounded merge on the reduce
  * side — no sort of the full input ever happens. At 100 TB the window
  * formulation shuffles 100 TB; this shuffles k rows per key per mapper.
  *
  * Memory model: the map-side pass caps its hash state at
  * [[PartialTopKPerKeyExec.maxKeys]] key heaps and FLUSHES when a new key
  * would exceed the cap (emitting partial per-key top-k that the final
  * pass re-merges) — degenerate key cardinality degrades reduction, never
  * memory. The reduce-side pass holds keys-in-partition × k rows, the
  * standard hash-operator footprint.
  *
  * Measured (a one-off head-to-head, local[8], 20M rows, k=5, warm, with the
  * rewrite rule excluded from the window branch so WindowExec really
  * runs): 1k keys — heap 0.46–0.68 s (rank-emitting mode 0.39–0.44 s —
  * the per-key k·log k sort is cheaper than the extra project the
  * no-rank path pays) vs window 3.7–4.3 s (≈6–9×, from the 4000×
  * shuffle-volume reduction; wider still over a cluster network).
  * 2M keys (degenerate: output is half the input) — heap 11.9–21.0 s vs
  * window 6.4–12.1 s: when almost every row is retained there is nothing
  * to prune and radix sort beats per-row hash+heap work. The operator is
  * for selective top-k (keys ≪ rows), which is what per-customer /
  * per-query top-k always is; `spark.graft.rewriteWindowTopK=false`
  * disables the automatic rewrite where that assumption fails.
  */
case class TopKPerKey(
    grouping: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    child: LogicalPlan,
    rankAttr: Option[Attribute] = None) extends UnaryNode {
  require(k > 0, "TopKPerKey: k must be positive")
  override def output: Seq[Attribute] = child.output ++ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr.toSeq)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Shared bounded-heap pass for both physical phases: one heap of at most
  * k rows per distinct key in this partition, worst row at the heap head.
  *
  * `maxKeys` bounds the hash state: when a NEW key would exceed it, the
  * current heaps are flushed downstream and accumulation restarts — the
  * same graceful degradation as Spark's partial aggregation emitting
  * partial results under memory pressure. A flushed partial pass may emit
  * more than k rows per key (across flushes); the final pass re-merges,
  * so correctness is unaffected. The FINAL pass must see each key's rows
  * in one map, so it runs unbounded — its footprint is
  * keys-in-partition × k retained rows, the standard hash-operator
  * memory model, sized down by raising shuffle partitions.
  */
private[plans] object TopKHeaps {
  def retain(
      iter: Iterator[InternalRow],
      grouping: Seq[Expression],
      ordering: Seq[SortOrder],
      output: Seq[Attribute],
      k: Int,
      maxKeys: Int): Iterator[InternalRow] = {
    val keyProj = UnsafeProjection.create(grouping, output)
    val ord: BaseOrdering = RowOrdering.create(ordering, output)
    // reverse: the heap head is the WORST retained row, so a new row only
    // displaces it when strictly better.
    val heapOrd = new java.util.Comparator[InternalRow] {
      override def compare(a: InternalRow, b: InternalRow): Int = ord.compare(b, a)
    }
    import scala.jdk.CollectionConverters._
    var heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
    def drain(): Iterator[InternalRow] = {
      val h = heaps
      heaps = new java.util.HashMap()
      h.values().iterator().asScala.flatMap(_.iterator().asScala)
    }
    // Streaming accumulate-flush-emit: rows of a flush are consumed by the
    // caller before the next accumulation grows, so live state never
    // exceeds maxKeys heaps.
    new Iterator[InternalRow] {
      private var pending: Iterator[InternalRow] = Iterator.empty
      private def fill(): Unit = {
        while (!pending.hasNext && (iter.hasNext || !heaps.isEmpty)) {
          var flushed = false
          while (iter.hasNext && !flushed) {
            val row = iter.next()
            val key = keyProj(row)
            var heap = heaps.get(key)
            if (heap == null && heaps.size() >= maxKeys) {
              pending = drain() // row lands in the fresh map below
              flushed = true
              heap = null
            }
            if (heap == null) {
              // capacity min(k,16): PQ grows dynamically; eager Object[k]
              // per key would OOM on a large-k rewrite before any row lands
              heap = new java.util.PriorityQueue[InternalRow](math.min(k, 16), heapOrd)
              heaps.put(key.copy(), heap)
            }
            if (heap.size < k) heap.add(row.copy())
            else if (ord.compare(row, heap.peek()) < 0) { heap.poll(); heap.add(row.copy()) }
          }
          if (!flushed) pending = drain() // input exhausted: final drain
        }
      }
      override def hasNext: Boolean = { fill(); pending.hasNext }
      override def next(): InternalRow = { fill(); pending.next() }
    }
  }

  /** Final-pass variant that emits each key's retained rows in `ordering`
    * order with a 1-based rank column appended (row_number semantics).
    * Unbounded hash state like the plain final pass; the per-key sort is
    * over ≤ k rows.
    */
  def retainRanked(
      iter: Iterator[InternalRow],
      grouping: Seq[Expression],
      ordering: Seq[SortOrder],
      output: Seq[Attribute],
      k: Int): Iterator[InternalRow] = {
    val keyProj = UnsafeProjection.create(grouping, output)
    val ord: BaseOrdering = RowOrdering.create(ordering, output)
    val heapOrd = new java.util.Comparator[InternalRow] {
      override def compare(a: InternalRow, b: InternalRow): Int = ord.compare(b, a)
    }
    import scala.jdk.CollectionConverters._
    val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
    while (iter.hasNext) {
      val row = iter.next()
      val key = keyProj(row)
      var heap = heaps.get(key)
      if (heap == null) {
        heap = new java.util.PriorityQueue[InternalRow](math.min(k, 16), heapOrd)
        heaps.put(key.copy(), heap)
      }
      if (heap.size < k) heap.add(row.copy())
      else if (ord.compare(row, heap.peek()) < 0) { heap.poll(); heap.add(row.copy()) }
    }
    // Emit UnsafeRows: parents that buffer or serialize (Sort, Exchange,
    // collect) cast to UnsafeRow, so a raw JoinedRow would crash when no
    // ProjectExec sits above (the bare-filter rewrite shape).
    val toUnsafe = UnsafeProjection.create(
      (output.map(_.dataType) :+ org.apache.spark.sql.types.IntegerType).toArray)
    val joined = new JoinedRow
    heaps.values().iterator().asScala.flatMap { heap =>
      val arr = heap.toArray(new Array[InternalRow](heap.size))
      java.util.Arrays.sort(arr, ord)
      arr.iterator.zipWithIndex.map { case (r, i) =>
        toUnsafe(joined(r, new GenericInternalRow(Array[Any](i + 1)))): InternalRow
      }
    }
  }
}

/** Map-side phase: bounds what enters the shuffle to k rows per key per
  * input partition. No required distribution — runs on the child's
  * partitioning as-is.
  */
object PartialTopKPerKeyExec {
  /** Hash-state cap for the map-side pass: at most this many key heaps
    * live at once (~1M keys x k rows); exceeding it flushes downstream —
    * less reduction, never more memory.
    */
  val maxKeys: Int = 1 << 20
}

case class PartialTopKPerKeyExec(
    grouping: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] = UnspecifiedDistribution :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions(
      iter => TopKHeaps.retain(iter, grouping, ordering, output, k,
        PartialTopKPerKeyExec.maxKeys),
      preservesPartitioning = true)
  override protected def withNewChildInternal(newChild: SparkPlan): PartialTopKPerKeyExec =
    copy(child = newChild)
}

/** Reduce-side phase: requires co-location by key (EnsureRequirements
  * inserts the hash exchange), then the same bounded pass is exact.
  *
  * With `rankAttr` set, each key's retained rows are emitted in order
  * with their 1-based rank appended — this is what lets the rewrite also
  * serve window queries that KEEP the row_number column. The sort is per
  * key over ≤ k rows (k log k per key), nothing like the full-partition
  * sort the window operator would do.
  */
case class FinalTopKPerKeyExec(
    grouping: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    rankAttr: Option[Attribute],
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output ++ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr.toSeq)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(grouping) :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] =
    if (rankAttr.isEmpty)
      child.execute().mapPartitions(
        iter => TopKHeaps.retain(iter, grouping, ordering, child.output, k, Int.MaxValue),
        preservesPartitioning = true)
    else
      child.execute().mapPartitions(
        iter => TopKHeaps.retainRanked(iter, grouping, ordering, child.output, k),
        preservesPartitioning = true)
  override protected def withNewChildInternal(newChild: SparkPlan): FinalTopKPerKeyExec =
    copy(child = newChild)
}

/** Plans the logical node as partial → (exchange) → final. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(grouping, ordering, k, child, rankAttr) =>
      FinalTopKPerKeyExec(grouping, ordering, k, rankAttr,
        PartialTopKPerKeyExec(grouping, ordering, k, planLater(child))) :: Nil
    case _ => Nil
  }
}
