package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Batch-sorted-merge (`tsl/src/nodes/columnar_scan/batch_queue_heap.c`,
  * SortInfo `columnar_scan.c:13-24`): the reference merges pre-sorted
  * compressed batches instead of re-sorting. The Spark-native equivalent
  * is a DECLARATION, not an operator: hypertable chunks are disjoint,
  * ascending time ranges, and [[graft.sources.Hypertable.orderedRead]]
  * concatenates them in range order with a per-chunk (per-partition) sort
  * — so the scan's output already IS range-partitioned and sorted on the
  * time column. Catalyst just cannot see it (file-sortedness is invisible
  * to the optimizer — SURVEY §2.6). `DeclareOrdered` asserts that fact on
  * the plan; `RemoveRedundantSorts` / `EnsureRequirements` then elide the
  * global Sort exchange a downstream `ORDER BY time` would otherwise
  * plan: no range-boundary sampling pass, no shuffle, no re-sort — the
  * exact win batch_queue_heap buys the reference.
  *
  * CONTRACT: the child's partitions must really be non-overlapping and
  * internally sorted per `order`, in partition-index order. Only plan
  * shapes that construct this by construction (chunk-ordered reads)
  * should wrap themselves in it.
  */
case class DeclareOrdered(order: Seq[SortOrder], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): DeclareOrdered =
    copy(child = c)
}

/** Pass-through exec that exposes the child's (true but undeclared)
  * ordering and range partitioning to the physical planner.
  */
case class DeclareOrderedExec(order: Seq[SortOrder], child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputOrdering: Seq[SortOrder] = order
  override def outputPartitioning: Partitioning =
    RangePartitioning(order, child.outputPartitioning.numPartitions)
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(c: SparkPlan): DeclareOrderedExec =
    copy(child = c)
}

/** Planner strategy for graft's custom logical nodes. */
object GraftStrategies extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DeclareOrdered(order, child) =>
      DeclareOrderedExec(order, planLater(child)) :: Nil
    case d: SmallDedup =>
      SmallDedupExec(d.docId, d.quality, d.buckets, d.shingles, d.threshold,
        d.maxBucketSize, d.estimate, d.split, d.output, planLater(d.child)) :: Nil
    case _ => Nil
  }
}
