package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{DistinctOn, Gapfill}
import graft.sources.{ChunkInfo, Columnstore, Hypertable}
import graft.streaming.{CaggDef, ContinuousAggregate}
import Gen.{MicrosPerDay, MicrosPerHour, T0}

/** Read-only dashboard traffic against a standing hypertable: half of its
  * chunks in the columnstore and an hourly continuous aggregate refreshed
  * to three hours before the end. One op is one page: its five panel
  * queries run one after another. The data never changes during the loop.
  */
final class Dashboard(spark: SparkSession, seed: Long, dir: String, val tracer: Tracer)
    extends Workload {
  import Dashboard._
  import spark.implicits._

  val name = "dashboard"
  private val end = T0 + Days * MicrosPerDay
  private val rows = Gen.dashboard(seed, Devices, Days, StepSec)
  private val source: DataFrame = rows.toSeq.toDF()
    .select(timestamp_micros(col("ts")).as("ts"), col("device"), col("value"))
  /** The generated rows held by plain Spark: the reference every query's
    * answer is recomputed from.
    */
  private lazy val ref: DataFrame = source.cache()

  private var ht: Hypertable = _
  private var cagg: ContinuousAggregate = _
  private var root: String = _
  private var chunks: Seq[ChunkInfo] = Nil
  private val latencies, pages = mutable.ArrayBuffer.empty[Double]
  private var scanned, overlapping = 0.0

  def setup(round: Int): Unit = {
    root = s"$dir/setup-$round"
    ht = Hypertable.create(spark, s"$root/ht", "ts", chunkWidth = ChunkWidth)
    tracer.span("write", "append")(ht.write(source))
    tracer.span("compress", "compress")(
      Columnstore.compress(ht, Some(T0 + CompressedDays * MicrosPerDay)))
    cagg = ContinuousAggregate.create(spark, s"$root/cagg", ht,
      CaggDef("1 hour", Seq("device"), Seq(count(lit(1)).as("n"),
        sum("value").as("sum_v"), max("value").as("max_v"))))
    tracer.span("refresh", "refresh")(cagg.refresh(T0, end - 3 * MicrosPerHour))
  }

  private def ts(us: Long): Column = timestamp_micros(lit(us))
  private def within(c: String, lo: Long, hi: Long): Column = col(c) >= ts(lo) && col(c) < ts(hi)

  /** One dashboard query: how the library builds it, how plain Spark
    * recomputes it from the generated rows, and the raw window it reads
    * (for the chunk-exclusion ratio).
    */
  private final case class Query(name: String, kind: String, window: (Long, Long),
      build: () => DataFrame, reference: () => DataFrame)

  /** The five query shapes, in a seeded order; every round runs each once.
    * Windows are fixed so that every seed asks for the same work.
    */
  private lazy val queries: IndexedSeq[Query] = {
    val d = Gen.device(new scala.util.Random(seed).nextInt(Devices))
    val recentLo = end - 6 * MicrosPerHour
    val dayLo = T0 + (CompressedDays + 1) * MicrosPerDay
    val dayHi = dayLo + MicrosPerDay
    val lastLo = end - MicrosPerDay
    val weekLo = end - 7 * MicrosPerDay
    val oldLo = T0 + MicrosPerDay / 2
    val oldHi = oldLo + 3 * MicrosPerDay
    val all = IndexedSeq(
      Query("recent6h", "build", (recentLo, end),
        () => ht.read().where(within("ts", recentLo, end))
          .groupBy(graft.functions.time_bucket("1 minute", col("ts")).as("b"))
          .agg(count(lit(1)).as("n"), avg("value").as("v")).orderBy("b"),
        () => ref.where(within("ts", recentLo, end))
          .groupBy(date_trunc("minute", col("ts")).as("b"))
          .agg(count(lit(1)).as("n"), avg("value").as("v")).orderBy("b")),
      Query("gapfill", "build", (dayLo, dayHi),
        () => {
          val agg = ht.between(dayLo, dayHi).where(col("device") === d)
            .groupBy(graft.functions.time_bucket("10 minutes", col("ts")).as("b"),
              col("device"))
            .agg(avg("value").as("v"))
          Gapfill.gapfill(agg, "b", Seq("device"), dayLo, dayHi, "10 minutes")
            .withColumn("v", Gapfill.locf(col("v"), Seq("device"), "b"))
            .select("b", "device", "v").orderBy("b")
        },
        () => {
          val spine = spark.range(0, MicrosPerDay / (10 * Gen.MicrosPerMin))
            .select(timestamp_micros(lit(dayLo) + col("id") * 10 * Gen.MicrosPerMin).as("b"))
          val agg = ref.where(within("ts", dayLo, dayHi) && col("device") === d)
            .groupBy(timestamp_seconds(floor(unix_seconds(col("ts")) / 600) * 600).as("b"))
            .agg(avg("value").as("v0"))
          spine.join(agg, Seq("b"), "left")
            .withColumn("device", lit(d))
            .withColumn("v", last(col("v0"), ignoreNulls = true).over(
              Window.orderBy("b").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
            .select("b", "device", "v").orderBy("b")
        }),
      Query("last_point", "build", (lastLo, end),
        () => DistinctOn.distinctOn(ht.read().where(within("ts", lastLo, end)),
          Seq("device"), "ts", Seq("value")).orderBy("device"),
        () => ref.where(within("ts", lastLo, end))
          .withColumn("rn", row_number().over(
            Window.partitionBy("device").orderBy(col("ts").desc)))
          .where(col("rn") === 1).select("device", "ts", "value").orderBy("device")),
      Query("cagg7d", "realtime", (weekLo, end),
        () => cagg.realtime.where(within("bucket", weekLo, end))
          .groupBy("device")
          .agg(sum("n").as("n"), sum("sum_v").as("s"), max("max_v").as("mx"))
          .orderBy("device"),
        () => ref.where(within("ts", weekLo, end)).groupBy("device")
          .agg(count(lit(1)).as("n"), sum("value").as("s"), max("value").as("mx"))
          .orderBy("device")),
      Query("compressed3d", "build", (oldLo, oldHi),
        () => ht.read().where(within("ts", oldLo, oldHi)).groupBy("device")
          .agg(count(lit(1)).as("n"), avg("value").as("v"), min("value").as("lo"),
            max("value").as("hi")).orderBy("device"),
        () => ref.where(within("ts", oldLo, oldHi)).groupBy("device")
          .agg(count(lit(1)).as("n"), avg("value").as("v"), min("value").as("lo"),
            max("value").as("hi")).orderBy("device")))
    new scala.util.Random(seed).shuffle(all)
  }

  /** Answers recomputed by plain Spark, on first use and outside the
    * timed region.
    */
  private val expected = mutable.HashMap.empty[String, Seq[org.apache.spark.sql.Row]]

  val roundSize = 1
  val nominalOpSeconds = 1.6

  /** Pages keep getting faster for a while as the JIT compiles the read
    * path, so several pages run before timing starts.
    */
  def warmup(): Unit = {
    chunks = ht.showChunks()
    (0 until WarmupPages).foreach(_ => queries.foreach(q => run(q, timedOp = false)))
  }

  /** One dashboard page: every panel query once, one after another. */
  def op(i: Int): Double = {
    val ms = queries.map(q => run(q, timedOp = true)).sum
    pages += ms
    ms
  }

  private def run(q: Query, timedOp: Boolean): Double = {
    attempted += 1
    val (result, ms) = timedSpan(q.name) {
      try {
        val df = tracer.span(q.name, q.kind)(q.build())
        if (tracer.recording) {
          tracer.span("plan", "plan")(df.queryExecution.executedPlan)
          val t = df.queryExecution.tracker.phases
          Seq("analysis", "optimization", "planning").foreach(p =>
            tracer.count(s"plans.${p}_ms", t.get(p).map(_.durationMs.toDouble).getOrElse(0.0)))
        }
        val rows = tracer.span("collect", "execute")(df.collect().toSeq)
        Right((df, rows))
      } catch { case e: Exception => Left(e) }
    }
    val want = expected.getOrElseUpdate(q.name, q.reference().collect().toSeq)
    result match {
      case Left(e) => fail(s"${q.name}: ${e.getClass.getName}: ${e.getMessage}")
      case Right((df, got)) =>
        check(Workload.sameRows(got, want),
          s"${q.name}: result differs from the plain-Spark recomputation " +
            s"(${got.size} vs ${want.size} rows)")
        if (tracer.recording) scanMetrics(q, df)
    }
    if (timedOp) latencies += ms
    ms
  }

  private def scanMetrics(q: Query, df: DataFrame): Unit = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
    }
    val ss = scans(df.queryExecution.executedPlan)
    def metric(n: String) = ss.flatMap(_.metrics.get(n)).map(_.value).sum.toDouble
    val chunkCount = metric("numPartitions")
    tracer.count("sources.chunks_scanned", chunkCount)
    tracer.count("sources.files_scanned", metric("numFiles"))
    if (q.kind == "build" && tracer.phase == "loop") {
      scanned += chunkCount
      overlapping += chunks.count(c => c.startMicros < q.window._2 && c.endMicros > q.window._1)
    }
  }

  def workPerSecond: Double = latencies.size / (latencies.sum / 1000)

  def storedBytesPerRow: Double =
    Workload.bytesUnder(s"$root/ht", s"$root/cagg").toDouble / rows.length

  def report: Seq[(String, Double, String)] = {
    val p90 = Stats.p90(latencies.toSeq).map(v => ("read_p90_ms", v, "ms")).toSeq
    Seq(("page_p50_ms", Stats.median(pages.toSeq), "ms"),
      ("read_p50_ms", Stats.median(latencies.toSeq), "ms")) ++ p90 ++ Seq(
      ("reads_per_s", workPerSecond, "1/s"),
      ("reads", latencies.size.toDouble, "count"),
      ("stored_bytes_per_row", storedBytesPerRow, "B"),
      ("chunks", chunks.size.toDouble, "count"),
      ("rows", rows.length.toDouble, "count"))
  }

  override def layerExtras: Map[String, Double] =
    Map("sources.exclusion_ratio" -> (if (overlapping > 0) scanned / overlapping else 0.0))
}

object Dashboard {
  val Devices = 8
  val Days = 8
  val StepSec = 120
  val ChunkWidth = "12 hours"
  val CompressedDays = 4
  val WarmupPages = 2
}
