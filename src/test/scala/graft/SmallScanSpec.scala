package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftShims, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DistinctOn, Gapfill}
import graft.plans.SingleTaskExec
import graft.sources.Hypertable
import graft.streaming.{CaggDef, ContinuousAggregate}
import graft.{functions => gf}

/** Small hypertable and cagg scans plan as one task (graft.plans.SmallScan):
  * every answer is checked against plain Spark over the same rows, and the
  * job count comes from a listener; no assertion reads a clock.
  */
class SmallScanSpec extends AnyFunSuite {
  lazy val spark = Graft.session("small-scan-spec", "local[4]", 4)

  private lazy val dir = Files.createTempDirectory("graft_small_scan").toString
  private val T0 = 1700006400000000L // 2023-11-15 00:00 UTC, a day boundary
  private val MinUs = 60000000L
  private val HourUs = 60 * MinUs
  private val DayUs = 24 * HourUs
  private val Days = 3

  /** One row per minute over `days` days, three devices, integer values
    * (sums and averages are exact in any partition order).
    */
  private def rows(days: Int, from: Long = T0): DataFrame =
    spark.range(0, days * 24 * 60L).select(
      timestamp_micros(lit(from) + col("id") * MinUs).as("ts"),
      concat(lit("d"), (col("id") % 3).cast("string")).as("device"),
      (col("id") * 7 % 101).cast("double").as("value"))

  /** The same rows held by plain Spark: the reference answers. */
  private lazy val ref: DataFrame = rows(Days).cache()

  private def table(name: String, catalog: String, data: DataFrame): Hypertable = {
    val ht = Hypertable.create(spark, s"$dir/$name-$catalog", "ts",
      chunkWidth = "1 day", catalog = catalog)
    ht.write(data)
    ht
  }

  private def ts(us: Long) = timestamp_micros(lit(us))
  private def within(c: String, lo: Long, hi: Long) = col(c) >= ts(lo) && col(c) < ts(hi)

  /** Rows of `df` and the Spark jobs its collect launched (this suite runs
    * one query at a time, so every job started meanwhile is the query's).
    */
  private def run(df: DataFrame): (Seq[Row], Int) = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    GraftShims.waitForListeners(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = df.collect().toSeq
      GraftShims.waitForListeners(spark)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case o => o +: o.children.flatMap(nodes)
  }
  private def plan(df: DataFrame): Seq[SparkPlan] = nodes(df.queryExecution.executedPlan)
  private def exchanges(df: DataFrame): Int = plan(df).count(_.isInstanceOf[Exchange])
  private def singleTasks(df: DataFrame): Seq[SingleTaskExec] =
    plan(df).collect { case t: SingleTaskExec => t }
  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    plan(df).collect { case s: FileSourceScanExec => s }

  /** The query runs as one job with no exchange and answers like plain Spark. */
  private def assertOneJob(what: String, got: DataFrame, want: DataFrame): Unit = {
    val (rs, jobs) = run(got)
    assert(rs === want.collect().toSeq, s"$what: answer differs")
    assert(rs.nonEmpty, s"$what: empty answer proves nothing")
    assert(jobs === 1, s"$what: $jobs jobs\n${got.queryExecution.executedPlan}")
    assert(exchanges(got) === 0, s"$what planned an exchange\n${got.queryExecution.executedPlan}")
    assert(singleTasks(got).nonEmpty, s"$what: no SingleTask node")
  }

  for (catalog <- Seq("list", "table")) {
    lazy val ht = table("small", catalog, rows(Days))

    test(s"small hypertable panels run as one job with no exchange (catalog=$catalog)") {
      val lo = T0 + DayUs + 6 * HourUs
      val hi = lo + 6 * HourUs
      def perMinute(df: DataFrame) = df.where(within("ts", lo, hi))
        .groupBy(gf.time_bucket("1 minute", col("ts")).as("b"))
        .agg(count(lit(1)).as("n"), avg("value").as("v")).orderBy("b")
      assertOneJob("read().where", perMinute(ht.read()), perMinute(ref))

      def perDevice(df: DataFrame) = df.groupBy("device")
        .agg(count(lit(1)).as("n"), sum("value").as("s"), max("value").as("mx"))
        .orderBy("device")
      assertOneJob("between", perDevice(ht.between(T0, T0 + 2 * DayUs)),
        perDevice(ref.where(within("ts", T0, T0 + 2 * DayUs))))

      def filled(df: DataFrame) = {
        val agg = df.where(col("device") === "d1")
          .groupBy(gf.time_bucket("10 minutes", col("ts")).as("b"), col("device"))
          .agg(avg("value").as("v"))
        // a window wider than the data: the spine fills the missing buckets
        Gapfill.gapfill(agg, "b", Seq("device"), T0 + DayUs, T0 + 2 * DayUs + 2 * HourUs,
          "10 minutes")
          .withColumn("v", Gapfill.locf(col("v"), Seq("device"), "b"))
          .select("b", "device", "v").orderBy("b")
      }
      assertOneJob("gapfill + locf", filled(ht.between(T0 + DayUs, T0 + 2 * DayUs)),
        filled(ref.where(within("ts", T0 + DayUs, T0 + 2 * DayUs))))

      def last(df: DataFrame) = DistinctOn.distinctOn(df.where(within("ts", lo, hi)),
        Seq("device"), "ts", Seq("value")).orderBy("device")
      assertOneJob("DistinctOn", last(ht.read()), last(ref))
    }

    test(s"cagg realtime over a small table runs as one job (catalog=$catalog)") {
      val cagg = ContinuousAggregate.create(spark, s"$dir/cagg-$catalog", ht,
        CaggDef("1 hour", Seq("device"), Seq(count(lit(1)).as("n"),
          sum("value").as("sum_v"))))
      val end = T0 + Days * DayUs
      cagg.refresh(T0, end - 3 * HourUs)
      val got = cagg.realtime.where(within("bucket", T0 + DayUs, end))
        .groupBy("device").agg(sum("n").as("n"), sum("sum_v").as("s")).orderBy("device")
      val want = ref.where(within("ts", T0 + DayUs, end)).groupBy("device")
        .agg(count(lit(1)).as("n"), sum("value").as("s")).orderBy("device")
      assertOneJob("cagg.realtime", got, want)
      // the materialized and the live branch each run as one task, and so
      // does their union
      assert(singleTasks(got).size >= 3, got.queryExecution.executedPlan.toString)
    }

    test(s"a wrapped scan keeps its file and partition metrics (catalog=$catalog)") {
      val df = ht.read().where(within("ts", T0, T0 + 2 * DayUs))
        .groupBy("device").agg(count(lit(1)).as("n"))
      val (rs, _) = run(df)
      assert(rs.map(_.getLong(1)).sum === 2 * 24 * 60)
      assert(singleTasks(df).nonEmpty)
      val ss = scans(df)
      assert(ss.nonEmpty)
      def metric(n: String) = ss.flatMap(_.metrics.get(n)).map(_.value).sum
      assert(metric("numFiles") > 0, "numFiles read 0")
      assert(metric("numPartitions") === 2, "two chunks selected")
      assert(metric("filesSize") > 0, "filesSize read 0")
      assert(metric("numOutputRows") === 2 * 24 * 60)
    }

    test(s"EXPLAIN prints the single-task decision with its inputs (catalog=$catalog)") {
      val df = ht.read().where(within("ts", T0, T0 + DayUs)).groupBy("device").count()
      val t = singleTasks(df).head
      val openCost = spark.sessionState.conf.filesOpenCostInBytes
      assert(t.input.files >= 1 && t.input.bytes > 0)
      val simple = df.queryExecution.executedPlan.toString
      assert(simple.contains(s"SingleTask [${t.input.bytes} B in ${t.input.files} files ≤ $openCost B"),
        simple)
      val formatted = df.queryExecution.explainString(FormattedMode)
      assert(formatted.contains(s"Input: ${t.input.bytes} B in ${t.input.files} files"), formatted)
      assert(formatted.contains("spark.sql.files.openCostInBytes"), formatted)
    }

    test(s"an empty selection still answers a global aggregate (catalog=$catalog)") {
      // pruned at listing, not by the optimizer: a wrapped scan of no files
      val df = ht.read().where(col("_chunk") === -1L).agg(count(lit(1)))
      assert(df.collect().toSeq === Seq(Row(0L)))
      assert(singleTasks(df).map(_.input) === Seq(graft.plans.SmallInput(0, 0)))
    }

    test(s"files above openCostInBytes keep their exchanges and split scan (catalog=$catalog)") {
      // ~4 MB per day of incompressible doubles: 12+ MB selected
      val big = Hypertable.create(spark, s"$dir/big-$catalog", "ts", chunkWidth = "1 day",
        catalog = catalog)
      big.write(spark.range(0, 4 * 250000L).select(
        timestamp_micros(lit(T0) + col("id") * (DayUs / 250000)).as("ts"),
        (col("id") % 3).as("device"), rand(7).as("value")))
      val df = big.read().where(within("ts", T0, T0 + 4 * DayUs))
        .groupBy("device").agg(count(lit(1)).as("n")).orderBy("device")
      val (rs, jobs) = run(df)
      assert(rs.map(_.getLong(1)).sum === 4 * 250000L)
      assert(singleTasks(df).isEmpty, df.queryExecution.executedPlan.toString)
      assert(exchanges(df) > 0)
      assert(jobs > 1)
      val scan = scans(df).head
      assert(scan.metrics("filesSize").value > spark.sessionState.conf.filesOpenCostInBytes)
      assert(scan.inputRDDs().head.getNumPartitions > 1)
    }

    test(s"many tiny files whose open cost exceeds one wave keep their splits (catalog=$catalog)") {
      val openCost = spark.sessionState.conf.filesOpenCostInBytes
      val files = (Sizing.waveBytes(spark) / openCost).toInt + 2
      val tiny = Hypertable.create(spark, s"$dir/tiny-$catalog", "ts", chunkWidth = "1 day",
        catalog = catalog)
      // each write adds one file to the one chunk
      (0 until files).foreach(i => tiny.write(rows(1).where(col("ts") ===
        ts(T0 + i * MinUs)).coalesce(1)))
      val df = tiny.read().groupBy("device").agg(count(lit(1)).as("n"))
      val (rs, _) = run(df)
      assert(rs.map(_.getLong(1)).sum === files)
      assert(singleTasks(df).isEmpty, df.queryExecution.executedPlan.toString)
      assert(exchanges(df) > 0)
      assert(scans(df).head.metrics("numFiles").value === files)
      assert(scans(df).head.inputRDDs().head.getNumPartitions > 1)
    }

    test(s"a union of small roots is judged on its total (catalog=$catalog)") {
      val openCost = spark.sessionState.conf.filesOpenCostInBytes
      // more one-file chunks than one wave of open costs holds
      val n = (Sizing.waveBytes(spark) / openCost).toInt + 1
      val many = table("many", catalog, rows(n).coalesce(1))
      def day(i: Int) = many.between(T0 + i * DayUs, T0 + (i + 1) * DayUs)
      def perDevice(df: DataFrame) = df.groupBy("device").agg(count(lit(1)).as("n"))
        .orderBy("device")

      val wide = perDevice((0 until n).map(day).reduce(_ unionByName _))
      val (rs, jobs) = run(wide)
      assert(rs.map(_.getLong(1)).sum === n * 24 * 60L)
      // each root alone would pass; their union would not, so none is
      // collapsed (Spark would union single-task children into one task)
      assert(singleTasks(wide).isEmpty, wide.queryExecution.executedPlan.toString)
      assert(exchanges(wide) > 0)
      assert(jobs > 1)

      val two = perDevice(day(0).unionByName(day(1)))
      assertOneJob("union of two roots", two,
        perDevice(rows(2).coalesce(1)))
      assert(singleTasks(two).map(_.input.files).max === 2)
    }

    test(s"a write of several partitions keeps its file count (catalog=$catalog)") {
      // without AQE's coalescing, each non-empty shuffle partition is a file
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      try {
        def files(src: DataFrame, out: String) = {
          src.groupBy("device").agg(count(lit(1)).as("n")).write.parquet(out)
          new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
        }
        val plain = s"$dir/plain-src-$catalog"
        rows(Days).write.parquet(plain)
        val want = files(spark.read.parquet(plain), s"$dir/out-plain-$catalog")
        assert(want > 1)
        assert(files(ht.read(), s"$dir/out-ht-$catalog") === want)
      } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }

    test(s"orderedRead().orderBy(ts) still plans no exchange and returns ordered rows (catalog=$catalog)") {
      val df = table("ordered", catalog, rows(Days)).orderedRead().orderBy("ts")
      val got = df.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
      assert(exchanges(df) === 0, df.queryExecution.executedPlan.toString)
      assert(singleTasks(df).isEmpty, "the declared order is left alone")
      assert(got.size === Days * 24 * 60)
      assert(got === got.sorted)
    }
  }

  test("a plain parquet read is left alone") {
    val p = s"$dir/plain"
    rows(1).write.parquet(p)
    val df = spark.read.parquet(p).groupBy("device").agg(count(lit(1)).as("n"))
    val (rs, _) = run(df)
    assert(rs.map(_.getLong(1)).sum === 24 * 60)
    assert(singleTasks(df).isEmpty)
    assert(exchanges(df) > 0)
  }
}
