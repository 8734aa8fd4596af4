package graft

import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** The one answer to "is this input worth parallel work?" (the
  * reference asks its planner cost model once, SURVEY §3.1). Every gate
  * reads the same estimate in the same unit, with the same rule for a
  * size Spark does not know: [[graft.operators.Spread.byKey]],
  * [[graft.plans.SmallScan]], the space-partitioned write's fan-out pin,
  * a stateful stream's state width ([[stateSession]]) and the one-task
  * near-duplicate arm of [[graft.operators.Clustering]].
  */
private[graft] object Sizing {

  def splitBytes(spark: SparkSession): Long =
    spark.sessionState.conf.filesMaxPartitionBytes

  /** One scan wave: every core's first split. */
  def waveBytes(spark: SparkSession): Long =
    spark.sparkContext.defaultParallelism.toLong * splitBytes(spark)

  /** `df`'s plan-estimated bytes; none at or above Spark's "unknown"
    * (`spark.sql.defaultSizeInBytes`, e.g. an RDD-backed frame).
    */
  def estimate(df: DataFrame): Option[BigInt] =
    Some(df.queryExecution.optimizedPlan.stats.sizeInBytes)
      .filter(_ < df.sparkSession.sessionState.conf.defaultSizeInBytes)

  /** One task per [[splitBytes]], at least `floor` and at most `cap` (the
    * cap wins when they cross); an unknown size gets the cap.
    */
  def tasksFor(spark: SparkSession, estimate: Option[BigInt], floor: Int,
      cap: Int): Int = estimate.fold(cap) { est =>
    val split = BigInt(splitBytes(spark))
    ((est + split - 1) / split).max(BigInt(floor)).min(BigInt(cap)).toInt
  }

  /** A clone of `spark` (whose conf stays as it is) with the shuffle
    * width — a fresh checkpoint's state width — [[tasksFor]] the stream's
    * `input`: each state partition commits its store every micro-batch.
    */
  def stateSession(spark: SparkSession, input: DataFrame): SparkSession = {
    val s = GraftShims.cloneSession(spark)
    s.conf.set(SQLConf.SHUFFLE_PARTITIONS.key, tasksFor(spark, estimate(input), 1,
      spark.sessionState.conf.numShufflePartitions).toLong)
    s
  }
}
