package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

import graft.Sizing

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
  * parallelism BEFORE the compute when the input is at most one scan wave
  * ([[graft.Sizing.waveBytes]]): the exchange then moves less than every
  * core's first split and the parallel compute repays it. Larger inputs
  * (the 100 TB path, already thousands of splits) and inputs of unknown
  * size pass through: never a full-corpus shuffle on a guess.
  */
private[graft] object Spread {
  def byKey(df: DataFrame, key: Column): DataFrame =
    if (Sizing.estimate(df).exists(_ <= Sizing.waveBytes(df.sparkSession)))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)
    else df
}
