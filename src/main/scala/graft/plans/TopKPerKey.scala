package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.types.LongType

/** Native top-k-per-key: the whole-operator extension (SURVEY.md §2.7 /
  * prompt preference (c): LogicalPlan + SparkStrategy + SparkPlan via
  * SparkSessionExtensions).
  *
  * The stock formulation — `row_number().over(Window.partitionBy(key)
  * .orderBy(o))` then `filter(rk <= k)` — shuffles and sorts EVERY row
  * of the input: at 100 TB that is the whole corpus through the wire to
  * keep k rows per key. This operator plans as two physical stages,
  * mirroring partial aggregation:
  *
  *  - [[PartialTopKExec]] (map side): per-partition bounded heaps, one
  *    per key, each holding at most k rows. Emits ≤ k × keys rows per
  *    partition; memory is O(keys-in-partition × k) — the same bound a
  *    hash aggregate has per distinct key, with rows instead of one
  *    buffer.
  *  - [[FinalTopKExec]] (reduce side): declares
  *    `ClusteredDistribution(keys)` + a (keys, order) child ordering,
  *    so EnsureRequirements inserts the exchange + sort over the
  *    surviving rows only; a single sequential pass then assigns ranks
  *    and cuts at k.
  *
  * With K keys and P map partitions the exchange moves ≤ K·k·P rows
  * instead of N — for top-10-per-event-type over 10 k events at 32
  * partitions that is ≤ 1.6 k rows instead of 10 k; at 100 TB it is the
  * difference between shuffling the corpus and shuffling kilobytes.
  * Results are bit-identical to the window form because ties are broken
  * by the caller-supplied total order.
  */
object TopKPerKey {

  /** Map-side retained-row budget per partition of [[PartialTopKExec]]. */
  val MaxPartialRows: Int = 1 << 20

  /** Map-side heap (distinct key) ceiling per partition. */
  val MaxPartialKeys: Int = 131072

  /** Logical node: child's rows, top k per `keys` under `order` (a
    * TOTAL order — supply tiebreakers), plus a 1-based `rank` column. */
  final case class TopKPerKeyNode(
      keys: Seq[Attribute],
      order: Seq[SortOrder],
      k: Int,
      rank: Attribute,
      child: LogicalPlan) extends UnaryNode {
    override def output: Seq[Attribute] = child.output :+ rank
    override def producedAttributes: AttributeSet = AttributeSet(rank)
    override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
      copy(child = newChild)
  }

  /** Planner strategy registered by GraftExtensions. */
  object TopKStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case TopKPerKeyNode(keys, order, k, rank, child) =>
        FinalTopKExec(keys, order, k, rank,
          PartialTopKExec(keys, order, k, planLater(child))) :: Nil
      case _ => Nil
    }
  }

  /** Map-side pruning: keeps at most k rows per key per partition —
    * every row it drops is beaten by ≥ k same-key rows in the same
    * partition, so the global top k per key is untouched. Memory is
    * capped by a ROW budget, not a key count: at most [[MaxPartialRows]]
    * retained rows per partition (2^20 ≈ 100 MB of UnsafeRows), i.e.
    * maxRows/k heaps (floored at 1024, capped at [[MaxPartialKeys]]);
    * rows for keys
    * beyond the cap pass through UNPRUNED — still correct
    * (FinalTopKExec ranks and cuts), just without the shuffle saving
    * for the overflow keys. Partial pruning is an optimization, never
    * a correctness dependency. The row budget matters at wide k: the
    * old key-count-only cap (131072 heaps) retained keys×k rows — at
    * k = 40 that is 5.2 M row copies PER PARTITION, which OOM'd the
    * 100× decade bench (x134's 2K-capped adjacency build) across 32
    * concurrent partitions; a budget in rows makes the footprint
    * independent of k, exactly like a hash aggregate's. */
  final case class PartialTopKExec(
      keys: Seq[Attribute],
      order: Seq[SortOrder],
      k: Int,
      child: SparkPlan) extends UnaryExecNode {
    override def output: Seq[Attribute] = child.output
    override def outputPartitioning: Partitioning = child.outputPartitioning
    override protected def withNewChildInternal(newChild: SparkPlan): PartialTopKExec =
      copy(child = newChild)

    override protected def doExecute(): RDD[InternalRow] = {
      val childOutput = child.output
      val keyExprs = keys
      val sortOrder = order
      val limit = k
      val maxKeys = math.min(MaxPartialKeys,
        math.max(1024, MaxPartialRows / math.max(1, k)))
      child.execute().mapPartitions({ iter =>
        val keyProj = UnsafeProjection.create(keyExprs, childOutput)
        val ord = RowOrdering.create(sortOrder, childOutput)
        // heap head = worst retained row (reverse order), classic
        // bounded top-k replacement
        val worstFirst = ord.reverse
        val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
        def offer(heap: java.util.PriorityQueue[UnsafeRow], row: InternalRow): Unit =
          if (heap.size < limit) {
            heap.add(row.asInstanceOf[UnsafeRow].copy())
          } else if (ord.compare(row, heap.peek()) < 0) {
            heap.poll()
            heap.add(row.asInstanceOf[UnsafeRow].copy())
          }
        // overflow rows stream straight out; retained heaps drain after
        // the input is exhausted (lazy ++ suffix)
        val passThrough = iter.flatMap { row =>
          val key = keyProj(row)
          val heap = heaps.get(key)
          if (heap != null) { offer(heap, row); Iterator.empty }
          else if (heaps.size < maxKeys) {
            val h = new java.util.PriorityQueue[UnsafeRow](limit, worstFirst)
            heaps.put(key.copy(), h)
            offer(h, row)
            Iterator.empty
          } else Iterator.single(row.asInstanceOf[UnsafeRow].copy(): InternalRow)
        }
        val drained = new Iterator[InternalRow] {
          private var inner: Iterator[InternalRow] = null
          private def it = {
            if (inner == null) {
              val buf = new scala.collection.mutable.ArrayBuffer[InternalRow]()
              heaps.values.forEach(h => h.forEach(r => buf += r))
              inner = buf.iterator
            }
            inner
          }
          def hasNext = it.hasNext
          def next() = it.next()
        }
        passThrough ++ drained
      }, preservesPartitioning = true)
    }
  }

  /** Reduce side: exchange + sort come from the declared requirements;
    * one sequential pass ranks each key group and cuts at k. */
  final case class FinalTopKExec(
      keys: Seq[Attribute],
      order: Seq[SortOrder],
      k: Int,
      rank: Attribute,
      child: SparkPlan) extends UnaryExecNode {
    override def output: Seq[Attribute] = child.output :+ rank
    override def producedAttributes: AttributeSet = AttributeSet(rank)
    override def requiredChildDistribution: Seq[Distribution] =
      if (keys.isEmpty) AllTuples :: Nil else ClusteredDistribution(keys) :: Nil
    override def requiredChildOrdering: Seq[Seq[SortOrder]] =
      Seq(keys.map(SortOrder(_, Ascending)) ++ order)
    override def outputOrdering: Seq[SortOrder] = child.outputOrdering
    override def outputPartitioning: Partitioning = child.outputPartitioning
    override protected def withNewChildInternal(newChild: SparkPlan): FinalTopKExec =
      copy(child = newChild)

    override protected def doExecute(): RDD[InternalRow] = {
      val childOutput = child.output
      val keyExprs = keys
      val limit = k
      val fullOutput = output
      child.execute().mapPartitions({ iter =>
        val keyProj = UnsafeProjection.create(keyExprs, childOutput)
        val resultProj = UnsafeProjection.create(fullOutput, fullOutput)
        val joined = new JoinedRow
        val rankRow = new SpecificInternalRow(Seq(LongType))
        var currentKey: UnsafeRow = null
        var rk = 0L
        iter.flatMap { row =>
          val key = keyProj(row)
          if (currentKey == null || !currentKey.equals(key)) {
            currentKey = key.copy()
            rk = 0L
          }
          rk += 1
          if (rk <= limit) {
            rankRow.setLong(0, rk)
            Some(resultProj(joined(row, rankRow)))
          } else None
        }
      }, preservesPartitioning = true)
    }
  }

  /** Public entry: top `k` rows per `keyCols` by `orderCol` descending,
    * ties broken by `tiebreakCols` ascending (making the order total);
    * adds a 1-based bigint `rk`. Written as the stock window idiom:
    * [[TopKRewrite]] plans it as the two-phase operator (and leaves it a
    * window on float keys, which it must normalize). */
  def topKDesc(df: DataFrame, keyCols: Seq[String], orderCol: String,
      tiebreakCols: Seq[String], k: Int): DataFrame = {
    require(k > 0, s"top-k requires k > 0, got $k")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol).desc +: tiebreakCols.map(col(_).asc): _*)
    df.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }
}
