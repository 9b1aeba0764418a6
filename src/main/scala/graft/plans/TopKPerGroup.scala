package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftglue.dataFrameOf

/** Top-k-per-group as a CUSTOM whole-operator plan — the case from the
  * design brief where built-ins are semantically sufficient but
  * physically wasteful: the `row_number().over(Window) <= k`
  * formulation shuffles EVERY row to its group's partition and sorts
  * whole groups, while top-k only ever needs k rows per group in
  * flight.
  *
  *   partial pass (pre-shuffle): each input partition reduces to ≤ k
  *     rows per group it has seen — the map-side combine Window can't
  *     do. The heap map is CAPPED at
  *     `spark.graft.topk.maxPartialGroups` (default 65536) distinct
  *     groups; rows of groups beyond the cap stream through unreduced
  *     (a partial combine is an optimization, never a correctness
  *     requirement), so partial memory is
  *     O(min(groups-per-partition, cap) × k) — a hard bound even for
  *     per-user keys over a 100 TB corpus;
  *   exchange: hash on the group keys, moving ≤ k·partitions rows per
  *     group (plus any un-combined overflow) instead of all of them;
  *   final pass: demands input SORTED by the group keys
  *     (`requiredChildOrdering`), so EnsureRequirements inserts an
  *     external SortExec — which SPILLS — after the exchange, and the
  *     pass itself streams one group at a time holding a single ≤ k-row
  *     heap: O(k) memory regardless of group cardinality. Each group's
  *     k rows are emitted in ranked (best-first) order under the
  *     requested sort, so the output is partition-locally ordered by
  *     (group keys asc, then the requested order) — declared via
  *     `outputOrdering` so Catalyst can elide a downstream sort.
  *
  * Net memory model: nothing in the operator grows with group
  * cardinality; the only unbounded structure is the inserted sort,
  * which uses Spark's spilling external sorter — exactly where the
  * Window formulation pays, but over the partial-reduced stream (≤ k
  * rows per group per map partition) instead of every input row.
  *
  * Wired through the real extension stack: a `LogicalPlan` node, a
  * `SparkStrategy` planning it to two `SparkPlan` nodes (partial +
  * final around an `EnsureRequirements`-inserted exchange), registered
  * via `SparkSessionExtensions.injectPlannerStrategy` or
  * `spark.experimental.extraStrategies`.
  */
case class TopKPerGroupPlan(k: Int, groupExprs: Seq[Expression],
                            sortOrder: Seq[SortOrder], child: LogicalPlan)
    extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupPlan =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupPlan(k, groups, order, child) =>
      val partial = TopKPerGroupExec(k, groups, order, partial = true,
        planLater(child))
      TopKPerGroupExec(k, groups, order, partial = false, partial) :: Nil
    case _ => Nil
  }
}

case class TopKPerGroupExec(k: Int, groupExprs: Seq[Expression],
                            sortOrder: Seq[SortOrder], partial: Boolean,
                            child: SparkPlan)
    extends SparkPlan with UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  /** The final pass demands co-located groups; EnsureRequirements
    * inserts the hash exchange between the partial and final nodes.
    * Empty group keys = global top-k: all rows to one partition
    * (`AllTuples`) — ClusteredDistribution(Nil) would trip Spark's
    * internal require. */
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else if (groupExprs.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  private def groupOrder: Seq[SortOrder] =
    groupExprs.map(SortOrder(_, Ascending))

  /** Sorted-by-group input lets the final pass stream one group at a
    * time with a single k-row heap; the SortExec this makes
    * EnsureRequirements insert is Spark's spilling external sort, so
    * no stage of the operator holds unbounded state in memory. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (partial) Seq(Nil) else Seq(groupOrder)

  /** Final output is partition-locally ordered: groups ascending, rows
    * within each group in ranked order under the requested sort. */
  override def outputOrdering: Seq[SortOrder] =
    if (partial) Nil else groupOrder ++ sortOrder

  /** Row placement is untouched (both passes reduce in place), so the
    * child's partitioning survives — without this override Spark's
    * default (`UnknownPartitioning`) made EnsureRequirements insert a
    * SECOND hash exchange on the SAME group keys for every downstream
    * consumer clustered on them (the `row_number()` rank window every
    * TopKPerGroup query ends with): one redundant exchange + sort per
    * query, measured in the r10 x14 plan audit. */
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val limit = k
    val groups = groupExprs
    val order = sortOrder
    if (partial) {
      val maxGroups = TopKPerGroup.maxPartialGroups(conf.getConfString(
        TopKPerGroup.MaxPartialGroupsKey, "65536"))
      child.execute().mapPartitions { rows =>
        // UnsafeRow keys give value-based equals/hashCode for the map;
        // heap entries stay plain InternalRow — no assumption that the
        // child emits UnsafeRows (LocalTableScan/ColumnarToRow do, but
        // the contract only promises InternalRow)
        val keyProj = UnsafeProjection.create(groups, childOutput)
        // codegen'd comparator; compare(a,b) < 0 ⇔ a ranks strictly
        // before b under the (total) requested order
        val ordering = new LazilyGeneratedOrdering(order, childOutput)
        // max-heap under ranking order: head = worst currently-kept row
        val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
        // Interleaved pass: absorb rows of the first `maxGroups`
        // distinct groups into their heaps; once the map is at
        // capacity, rows of UNSEEN groups stream straight through
        // (emitted now, reduced by the final pass after the shuffle) —
        // nothing here buffers beyond the capped map.
        val passThrough = rows.flatMap { row =>
          val key = keyProj(row)
          val existing = heaps.get(key)
          if (existing.isDefined) {
            val heap = existing.get
            if (heap.size < limit) heap.enqueue(row.copy())
            else if (ordering.compare(row, heap.head) < 0) {
              heap.dequeue(); heap.enqueue(row.copy())
            }
            Iterator.empty
          } else if (heaps.size < maxGroups) {
            val heap = mutable.PriorityQueue.empty[InternalRow](ordering)
            heaps(key.copy()) = heap
            heap.enqueue(row.copy())
            Iterator.empty
          } else {
            Iterator.single(row)
          }
        }
        // `++` evaluates its operand lazily, so the heap contents are
        // read only after the input is exhausted
        passThrough ++ heaps.valuesIterator.flatMap(_.iterator)
      }
    } else {
      child.execute().mapPartitions { rows =>
        val keyProj = UnsafeProjection.create(groups, childOutput)
        val ordering = new LazilyGeneratedOrdering(order, childOutput)
        // Input is sorted by the group keys: stream group-at-a-time
        // with ONE heap — O(k) memory whatever the group cardinality.
        new Iterator[InternalRow] {
          private var curKey: UnsafeRow = null
          private val heap = mutable.PriorityQueue.empty[InternalRow](ordering)
          private var pending: Iterator[InternalRow] = Iterator.empty

          // dequeue yields worst-first; fill back-to-front for ranked
          // (best-first) per-group emission
          private def drainHeap(): Iterator[InternalRow] = {
            val arr = new Array[InternalRow](heap.size)
            var i = arr.length - 1
            while (i >= 0) { arr(i) = heap.dequeue(); i -= 1 }
            arr.iterator
          }

          private def advance(): Unit = {
            while (!pending.hasNext && rows.hasNext) {
              val row = rows.next()
              val key = keyProj(row)
              if (curKey == null) curKey = key.copy()
              else if (key != curKey) {
                pending = drainHeap()
                curKey = key.copy()
              }
              if (heap.size < limit) heap.enqueue(row.copy())
              else if (ordering.compare(row, heap.head) < 0) {
                heap.dequeue(); heap.enqueue(row.copy())
              }
            }
            if (!pending.hasNext && !rows.hasNext && heap.nonEmpty)
              pending = drainHeap()
          }

          override def hasNext: Boolean = {
            if (!pending.hasNext) advance()
            pending.hasNext
          }
          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException("empty iterator")
            pending.next()
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

object TopKPerGroup {

  private[plans] val MaxPartialGroupsKey = "spark.graft.topk.maxPartialGroups"

  /** The partial pass's heap-map cap from its conf value; a value that
    * is not a non-negative whole number fails naming the key and the
    * value. */
  private[plans] def maxPartialGroups(value: String): Int =
    value.trim.toIntOption.filter(_ >= 0).getOrElse(throw new IllegalArgumentException(
      s"$MaxPartialGroupsKey must be a non-negative whole number of groups, got '$value'"))

  /** Install [[TopKStrategy]] on a running session (idempotent). */
  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(TopKStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    }

  /** First `k` rows of each group under `orderBy` ((column, ascending)
    * pairs — include a tie-breaker to make the order total, or the
    * result is nondeterministic like any top-k with ties). Empty
    * `groupCols` = global top-k. Within each group, rows come back in
    * ranked (best-first) order; group blocks are ordered by the group
    * keys within each output partition — add an `orderBy` only if a
    * particular GLOBAL order is needed. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
                   orderBy: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    register(spark)
    val analyzed = df.queryExecution.analyzed
    def attr(name: String): Attribute = analyzed.output
      .find(a => spark.sessionState.analyzer.resolver(a.name, name))
      .getOrElse(throw new IllegalArgumentException(
        s"column $name not in ${analyzed.output.map(_.name).mkString(", ")}"))
    val order = orderBy.map { case (c, asc) =>
      SortOrder(attr(c), if (asc) Ascending else Descending)
    }
    // Group keys are compared BYTE-wise (UnsafeRow equality in the
    // heaps, hash exchange between the passes), so float keys must be
    // normalized first — otherwise -0.0 vs 0.0 and distinct NaN bit
    // patterns split one logical group across partitions, exactly the
    // hole Spark's own aggregates plug with NormalizeFloatingNumbers.
    val groups = groupCols.map(attr).map { a =>
      a.dataType match {
        case org.apache.spark.sql.types.FloatType |
             org.apache.spark.sql.types.DoubleType =>
          org.apache.spark.sql.graftglue.normalizeFloats(a)
        case _ => a
      }
    }
    dataFrameOf(spark, TopKPerGroupPlan(k, groups, order, analyzed))
  }
}
