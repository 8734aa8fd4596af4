package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftShims, Row}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, RepartitionByExpression, Statistics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Spread, Stats}
import graft.sources.Hypertable

/** A leaf the optimizer sizes at exactly `bytes`; it is planned, never run. */
case class SizedLeaf(bytes: BigInt, output: Seq[Attribute]) extends LeafNode {
  override def computeStats(): Statistics = Statistics(bytes)
}

/** Every gate's boundary under [[Sizing]]: the estimate, the wave, the
  * task count and the answers the gates give on either side of them.
  */
class SizingSpec extends AnyFunSuite {
  lazy val spark = Graft.session("sizing-spec", "local[4]", 4)

  private def sized(bytes: BigInt): DataFrame =
    GraftShims.ofRows(spark, SizedLeaf(bytes, Seq(AttributeReference("k", LongType)())))

  private def spreads(df: DataFrame): Boolean = {
    val out = Spread.byKey(df, col("k"))
    (out ne df) && out.queryExecution.logical.isInstanceOf[RepartitionByExpression]
  }

  /** Result of `f` and the Spark jobs it launched. */
  private def jobsOf[T](f: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    GraftShims.waitForListeners(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = f
      GraftShims.waitForListeners(spark)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("the wave is every core's first split") {
    assert(Sizing.splitBytes(spark) === spark.sessionState.conf.filesMaxPartitionBytes)
    assert(Sizing.waveBytes(spark) ===
      spark.sparkContext.defaultParallelism * Sizing.splitBytes(spark))
  }

  test("an estimate at waveBytes spreads; waveBytes + 1 does not") {
    val wave = BigInt(Sizing.waveBytes(spark))
    assert(Sizing.estimate(sized(wave)) === Some(wave))
    assert(spreads(sized(wave)))
    assert(!spreads(sized(wave + 1)))
    assert(spreads(sized(0)))
  }

  test("Spark's unknown size reads as no estimate, and the input passes through") {
    val unknown = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    assert(Sizing.estimate(sized(unknown)) === None)
    assert(Sizing.estimate(sized(unknown - 1)) === Some(unknown - 1))
    val rdd = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L), Row(2L))),
      StructType(Seq(StructField("k", LongType))))
    assert(Sizing.estimate(rdd) === None)
    assert(!spreads(rdd))
  }

  test("tasksFor: one task per split, floored, capped, and the cap when unknown") {
    val split = BigInt(Sizing.splitBytes(spark))
    def tasks(est: Option[BigInt], floor: Int = 2, cap: Int = 8) =
      Sizing.tasksFor(spark, est, floor, cap)
    assert(tasks(Some(0)) === 2)
    assert(tasks(Some(1)) === 2)
    assert(tasks(Some(5 * split)) === 5)
    assert(tasks(Some(5 * split + 1)) === 6)
    assert(tasks(Some(8 * split + 1)) === 8)
    assert(tasks(None) === 8)
    assert(tasks(Some(0), floor = 10) === 8)
  }

  test("a space-partitioned write writes one file per chunk × space directory") {
    val dir = Files.createTempDirectory("graft_sizing_space").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "1 day",
      spaceCol = Some("device"), spacePartitions = 4)
    val t0 = 1700006400000000L // 2023-11-15 00:00 UTC
    ht.write(spark.range(0, 3 * 24 * 60L).select(
      timestamp_micros(lit(t0) + col("id") * 60000000L).as("ts"),
      concat(lit("d"), (col("id") % 8).cast("string")).as("device"),
      col("id").cast("double").as("value")))
    val root = new Path(s"$dir/ht")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = ht.showChunks().flatMap { c =>
      fs.listStatus(new Path(c.path)).filter(_.getPath.getName.startsWith("_space="))
        .map(d => fs.listStatus(d.getPath).count(_.getPath.getName.endsWith(".parquet")))
    }
    assert(ht.showChunks().size === 3)
    assert(files.size === 3 * 4, "every chunk holds rows of all four space buckets")
    assert(files.forall(_ == 1), files.mkString(","))
    assert(ht.read().count() === 3 * 24 * 60L)
  }

  test("the footer fold over more files than the driver reads equals the driver's answer") {
    val dir = Files.createTempDirectory("graft_sizing_footers").toString + "/t"
    spark.range(0, 330, 1, 33).write.parquet(dir)
    val files = Stats.listParquetFiles(spark, dir)
    assert(files.size === Stats.FooterLocalFiles + 1)
    val (rows, rowJobs) = jobsOf(Stats.rowCount(spark, dir))
    val (mm, mmJobs) = jobsOf(Stats.minMax(spark, dir, "id"))
    assert(rowJobs > 0 && mmJobs > 0, "more files than the driver reads run on the executors")
    val (perFile, localJobs) = jobsOf(files.map(f =>
      (Stats.rowCount(spark, f), Stats.minMax(spark, f, "id"))))
    assert(localJobs === 0, "one file is read on the driver")
    assert(rows === perFile.map(_._1).sum)
    assert(rows === 330L)
    def longs(o: Seq[Option[Any]]) = o.flatten.map(_.asInstanceOf[Long])
    assert(mm === (Some(longs(perFile.map(_._2._1)).min), Some(longs(perFile.map(_._2._2)).max)))
    assert(mm === (Some(0L), Some(329L)))
  }
}
