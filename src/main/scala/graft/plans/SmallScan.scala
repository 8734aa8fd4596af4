package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, PlanExpression}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, UnaryExecNode, UnionExec}
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Files a scan selected after chunk exclusion. */
private[graft] case class SmallInput(bytes: Long, files: Long) {
  def +(o: SmallInput): SmallInput = SmallInput(bytes + o.bytes, files + o.files)
}

/** Single-task planning for small hypertable and cagg scans — the
  * reference's "control stays in one process" until parallel workers pay
  * (a dashboard query over a few recent chunks runs in one backend).
  *
  * Spark plans a shuffle per operator whatever the input size: a panel
  * query over a few KB of chunks ran a scan + partial-aggregate job, a
  * range-sampling job for its ORDER BY, the sort shuffle and the result,
  * and AQE then coalesced every one of those shuffles back to one
  * partition. This rule makes that choice at plan time, from the file
  * sizes the scan has already listed (Shark's partial DAG execution picks
  * the degree of parallelism from observed sizes the same way): a graft
  * scan whose selected files pass both limits becomes one partition, and a
  * [[SinglePartition]] child satisfies every aggregate, window and ORDER
  * BY distribution above it, so the query is one stage and one job.
  *
  *  - the files total at most `spark.sql.files.openCostInBytes` (4 MB by
  *    default): Spark's own estimate of the bytes scannable in the time
  *    one file open takes, so splitting them cannot buy back a task;
  *  - Σ(length + openCost) fits in one scan wave,
  *    [[graft.Sizing.waveBytes]]: many tiny files keep
  *    their splits, since their opens are the cost.
  *
  * Only scans graft owns are touched, resolved the way [[ChunkExclusion]]
  * resolves them. Plain parquet reads, [[DeclareOrderedExec]] subtrees and
  * writes of more than one partition (their task count is their file
  * count) are left alone. Spark runs the rule on adaptive (AQE) plans
  * only, after planning and before `EnsureRequirements`, and again on
  * every AQE re-plan, so a streaming micro-batch never reaches it. A
  * union whose children all run as one task gets one more
  * [[SingleTaskExec]] on top when its TOTAL passes the same limits;
  * otherwise its children plan as without the rule, so many small roots
  * never collapse into one large task.
  */
case class SmallScan(spark: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (plan.exists(spreadsWrite)) plan
    else {
      val openCost = conf.filesOpenCostInBytes
      val wave = graft.Sizing.waveBytes(spark)
      def fits(in: SmallInput) =
        in.bytes <= openCost && in.bytes + in.files * openCost <= wave
      def single(in: SmallInput, p: SparkPlan): SparkPlan = {
        val t = SingleTaskExec(in, openCost, wave, p)
        p.logicalLink.foreach(t.setLogicalLink)
        t
      }
      def wrap(p: SparkPlan): SparkPlan = p match {
        case _: DeclareOrderedExec => p
        case s: FileSourceScanExec =>
          selected(s).filter(fits).map(single(_, s)).getOrElse(s)
        case u: UnionExec =>
          val v = u.mapChildren(wrap)
          v.children.map(singleTaskInput)
            .reduce((a, b) => for (x <- a; y <- b) yield x + y)
            .filter(fits) match {
              case Some(total) => single(total, v)
              // Spark unions single-partition children partition-wise
              // (`spark.sql.unionOutputPartitioning`), so they would run as
              // ONE task whatever their total: plan them as without the rule
              case None if v.children.forall(_.outputPartitioning == SinglePartition) =>
                v.mapChildren(_.transformUp { case t: SingleTaskExec => t.child })
              case None => v
            }
        case _ => p.mapChildren(wrap)
      }
      wrap(plan)
    }

  /** A write whose task count is its file count: collapsing its input
    * would change the files it writes (chunk rewrites, cagg
    * materialization). A write of one partition already (a `coalesce(1)`
    * dump) writes the same one file either way.
    */
  private def spreadsWrite(p: SparkPlan): Boolean = p match {
    case w: WriteFilesExec => w.child.outputPartitioning != SinglePartition
    case _ => false
  }

  /** The scan's selected files, listed WITHOUT forcing its memoized
    * `selectedPartitions`: the scan sets its file, size and partition
    * metrics once, when it lists, and AQE resets a plan's metrics when
    * the action starts — a listing forced here would report 0 files. The
    * file index is already listed in memory, so this is the same
    * partition pruning the scan repeats at execution, with no filesystem
    * call. Runtime (subquery) filters are left out, as the scan does for
    * its static listing: the result bounds what it will read.
    */
  private def selected(s: FileSourceScanExec): Option[SmallInput] = {
    val index = s.relation.location
    if (s.logicalLink.exists(_.isStreaming) ||
        ChunkExclusion.registeredTable(index.rootPaths).isEmpty) None
    else {
      def static(e: Expression) = !e.exists(_.isInstanceOf[PlanExpression[_]])
      val files = index.listFiles(s.partitionFilters.filter(static),
        s.dataFilters.filter(static)).flatMap(_.files)
      Some(SmallInput(files.map(_.getLen).sum, files.size.toLong))
    }
  }

  /** Summed input of a subtree that runs as one task because every leaf
    * under it is a [[SingleTaskExec]]; None otherwise.
    */
  private def singleTaskInput(p: SparkPlan): Option[SmallInput] = p match {
    case t: SingleTaskExec => Some(t.input)
    case _ if p.children.isEmpty || p.isInstanceOf[Exchange] ||
      p.outputPartitioning != SinglePartition => None
    case _ => p.children.map(singleTaskInput)
      .reduce((a, b) => for (x <- a; y <- b) yield x + y)
  }
}

/** Runs its child as one task (a narrow coalesce, no shuffle) and prints
  * why: the selected input next to both limits of [[SmallScan]].
  * Columnar children stay columnar, so the scan's batches reach the fused
  * row conversion above.
  */
case class SingleTaskExec(input: SmallInput, openCost: Long, wave: Long,
    child: SparkPlan) extends UnaryExecNode {

  override def nodeName: String = "SingleTask"
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = SinglePartition
  override def supportsColumnar: Boolean = child.supportsColumnar

  override protected def doExecute(): RDD[InternalRow] = one(child.execute())
  override protected def doExecuteColumnar(): RDD[ColumnarBatch] =
    one(child.executeColumnar())

  // exactly one partition, also for an empty scan: a global aggregate
  // above must still see one (empty) partition to emit its row
  private def one[T: ClassTag](rdd: RDD[T]): RDD[T] =
    if (rdd.getNumPartitions == 0) sparkContext.parallelize(Seq.empty[T], 1)
    else rdd.coalesce(1)

  private def decision: String =
    s"${input.bytes} B in ${input.files} files ≤ $openCost B; " +
      s"${input.bytes + input.files * openCost} B with open costs ≤ $wave B wave"

  override def simpleString(maxFields: Int): String = s"$nodeName [$decision]"

  override def verboseStringWithOperatorId(): String =
    s"""$formattedNodeName
       |Input: ${input.bytes} B in ${input.files} files
       |Limits: ≤ $openCost B (spark.sql.files.openCostInBytes), with open costs ≤ $wave B (one scan wave)
       |""".stripMargin

  override protected def withNewChildInternal(c: SparkPlan): SingleTaskExec =
    copy(child = c)
}
