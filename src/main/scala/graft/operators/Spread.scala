package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Parallelism guard for heavy per-row compute over small inputs (guide
  * §2.5 "input skew": one small file = one scan task; §1.2 fix the
  * distributed algorithm before per-task work). A fixture- or shard-sized
  * table arrives as a handful of scan partitions (a 600 KB parquet file is
  * ONE split at any sane `maxPartitionBytes`), so an expression chain
  * costing ~0.1–1 ms/row — minhash signatures, shingle hashing, hyperplane
  * banding, regex rule sets — runs serially on one core while the rest of
  * the machine idles: q93's minhash map stage measured 2.3 s in ONE task
  * at sf0.1.
  *
  * [[byKey]] hash-repartitions by `key` to the session's default
  * parallelism BEFORE the compute, but only when the plan-estimated input
  * size is at or below `spark.graft.spread.smallInputBytes` (default:
  * defaultParallelism × maxPartitionBytes — "smaller than one scan wave",
  * so the added exchange moves less than every core's first split and is
  * repaid by the parallel compute). Larger inputs — the 100 TB path,
  * already thousands of splits — pass through untouched and pay nothing.
  * Unknown size estimates (Long.MaxValue for RDD-backed frames) also pass
  * through: never insert a full-corpus shuffle on a guess.
  */
private[graft] object Spread {
  def smallInputBytes(spark: SparkSession): Long = {
    val conf = spark.sessionState.conf
    conf.getConfString("spark.graft.spread.smallInputBytes",
      (spark.sparkContext.defaultParallelism.toLong *
        conf.filesMaxPartitionBytes).toString).toLong
  }

  def byKey(df: DataFrame, key: Column): DataFrame = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= BigInt(smallInputBytes(df.sparkSession)))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)
    else df
  }
}
