package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, InterpretedOrdering, SortOrder, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning}
import org.apache.spark.sql.execution.{LocalTableScanExec, SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf

/** Global sorts of inputs that AQE would put in one partition anyway,
  * planned in one partition.
  *
  * Spark plans every `ORDER BY` as a range-partitioned sort. Its
  * `RangePartitioner` runs a whole job that computes the sort's input
  * once only to sample range bounds, then the shuffle computes it
  * again — even when the input is a few hundred rows that AQE's
  * `CoalesceShufflePartitions` then puts in a single partition. When
  * the input fits under that coalescing size, this strategy plans the
  * sort as a local sort over [[OnePartitionExec]], which requires
  * `AllTuples`: `EnsureRequirements` adds a `SinglePartition` exchange
  * only where the input has more than one partition, and no job
  * samples. An input that is a [[LocalRelation]] (rows already on the
  * driver) is sorted on the driver and planned as a
  * `LocalTableScanExec` over the sorted rows, so it runs no shuffle at
  * all.
  *
  * Under AQE, `child.stats` of a re-planned query carries the runtime
  * statistics of its finished stages, so a sort whose static estimate
  * is large still takes this path once its input stage reports a small
  * size. Larger inputs, and sessions without AQE coalescing, keep the
  * range plan. Either plan returns the same rows in the same key
  * order; as in any Spark sort, rows that tie on every key come in no
  * promised order, so a caller that needs one order gives a total one.
  */
object SmallSort extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if !child.isStreaming &&
        onePartitionBytes(SQLConf.get).exists(child.stats.sizeInBytes <= _) =>
      child match {
        case LocalRelation(output, rows, false, _) if !order.exists(SubqueryExpression.hasSubquery) =>
          val ordering = new InterpretedOrdering(order, output)
          LocalTableScanExec(output, rows.sorted(ordering), None) :: Nil
        case _ =>
          SortExec(order, global = false, OnePartitionExec(planLater(child))) :: Nil
      }
    case _ => Nil
  }

  /** The shuffle size at or under which AQE coalesces a whole shuffle
    * into one partition: `coalescePartitions.minPartitionSize` when
    * coalescing puts parallelism first (the default), else the
    * advisory partition size. None when AQE or its coalescing is off. */
  private def onePartitionBytes(conf: SQLConf): Option[Long] =
    if (!conf.adaptiveExecutionEnabled || !conf.coalesceShufflePartitionsEnabled) None
    else if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      Some(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    else Some(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
}

/** Its child's rows in one partition. It requires `AllTuples`, so
  * `EnsureRequirements` inserts a `SinglePartition` exchange below it
  * only when the child has more than one partition; otherwise the node
  * passes its child through untouched. */
case class OnePartitionExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] = AllTuples :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(newChild: SparkPlan): OnePartitionExec =
    copy(child = newChild)
}
