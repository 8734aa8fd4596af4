package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Columnstore, CompactionPolicy, Hypertable}
import graft.streaming.{CaggDef, CaggRefreshPolicy, ContinuousAggregate}
import Gen.{MicrosPerHour, MicrosPerMin, T0}

/** Write-heavy loop on a simulated clock. Each cycle appends the next
  * [[Ingest.BatchMinutes]] of readings (5 % of them late, into chunks the
  * columnstore already holds) and reads the newest hour back through
  * `cagg.realtime`. Every hour of data time a policy sweep compresses,
  * refreshes the cagg, applies retention and compacts, which keeps the live
  * chunk count small.
  */
final class Ingest(spark: SparkSession, seed: Long, dir: String, val tracer: Tracer)
    extends Workload {
  import Ingest._
  import spark.implicits._

  val name = "ingest"
  private var ht: Hypertable = _
  private var cagg: ContinuousAggregate = _
  private var root: String = _
  private var now = T0
  private var batchNo = 0L
  /** Rows ingested per chunk hour (late rows included) and in total. */
  private val perHour = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
  private var ingested, dropped = 0L
  private var loopRows = 0L
  private val appendMs, readMs, cycleMs, sweepMs = mutable.ArrayBuffer.empty[Double]
  private var sweeps = 0

  private def hourOf(us: Long): Long = Math.floorDiv(us, MicrosPerHour) * MicrosPerHour

  private def toDf(rows: Array[Gen.Reading]): DataFrame = rows.toSeq.toDF()
    .select(timestamp_micros(col("ts")).as("ts"), col("device"), col("value"))

  private def backfill: Array[Gen.Reading] =
    (0 until BackfillHours * 60 / BatchMinutes).toArray.flatMap { b =>
      val start = T0 - BackfillHours * MicrosPerHour + b * BatchMinutes * MicrosPerMin
      Gen.ingestBatch(seed, -1 - b, start, BatchMinutes, Devices, StepMs, 0.0, 0L, 0L).onTime
    }

  def setup(round: Int): Unit = {
    root = s"$dir/setup-$round"
    val rows = backfill
    ht = Hypertable.create(spark, s"$root/ht", "ts", chunkWidth = "1 hour")
    tracer.span("write", "append")(ht.write(toDf(rows)))
    tracer.span("compress", "compress")(Columnstore.compress(ht, Some(T0 - CompressAfter)))
    cagg = ContinuousAggregate.create(spark, s"$root/cagg", ht,
      CaggDef("1 hour", Seq("device"), Seq(count(lit(1)).as("n"), sum("value").as("sum_v"))))
    tracer.span("refresh", "refresh")(
      cagg.refresh(T0 - BackfillHours * MicrosPerHour, T0 - MicrosPerHour))
    now = T0
    batchNo = 0
    perHour.clear()
    rows.foreach(r => perHour(hourOf(r.ts)) += 1)
    ingested = rows.length
    dropped = 0
  }

  /** One hour of data time: the cycles between two sweeps. */
  val roundSize: Int = 60 / BatchMinutes
  val nominalOpSeconds = 1.2

  def warmup(): Unit = (0 until roundSize).foreach(_ => cycle(timedOp = false))

  def op(i: Int): Double = cycle(timedOp = true)

  /** Append one batch, read the newest hour back, sweep on the hour. Returns
    * append + read latency; the sweep is timed on its own.
    */
  private def cycle(timedOp: Boolean): Double = {
    attempted += 1
    val h = hourOf(now)
    val batch = Gen.ingestBatch(seed, batchNo, now, BatchMinutes, Devices, StepMs,
      LateShare, h - 3 * MicrosPerHour, h - 2 * MicrosPerHour)
    val rows = batch.rows
    val df = toDf(rows)
    val (_, aMs) = timedSpan("append") {
      if (tracer.recording) appendTraced(df) else ht.write(df)
    }
    batchNo += 1
    now += BatchMinutes * MicrosPerMin
    rows.foreach(r => perHour(hourOf(r.ts)) += 1)
    ingested += rows.length

    val newest = hourOf(now - 1)
    val (fresh, rMs) = timedSpan("read") {
      val q = tracer.span("realtime", "realtime")(cagg.realtime)
        .where(col("bucket") === timestamp_micros(lit(newest))).agg(sum("n"))
      tracer.span("collect", "execute")(q.collect())
    }
    val seen = if (fresh.isEmpty || fresh(0).isNullAt(0)) 0L else fresh(0).getLong(0)
    check(seen == perHour(newest),
      s"fresh read of hour $newest saw $seen rows, expected ${perHour(newest)}")
    if (timedOp) {
      appendMs += aMs; readMs += rMs; cycleMs += aMs + rMs
      loopRows += rows.length
    }
    if (now % MicrosPerHour == 0) sweep(timedOp)
    aMs + rMs
  }

  private def appendTraced(df: DataFrame): Unit = {
    val before = Workload.files(s"$root/ht")
    tracer.span("write", "append")(ht.write(df))
    val after = Workload.files(s"$root/ht")
    val added = after.filter { case (p, _) => !before.contains(p) }
    tracer.count("sources.files_written", added.size)
    tracer.count("sources.bytes_written", added.values.sum.toDouble)
  }

  private def sweep(timedOp: Boolean): Unit = {
    if (tracer.recording)
      tracer.count("streaming.pending_invalidations", cagg.pendingInvalidations().size)
    val before = if (tracer.recording) Workload.files(s"$root/ht") else Map.empty[String, Long]
    val (_, ms) = timedSpan("sweep") {
      tracer.span("compress", "compress")(Columnstore.compress(ht, Some(now - CompressAfter)))
      if (tracer.recording) {
        val added = Workload.files(s"$root/ht").filter { case (p, _) => !before.contains(p) }
        tracer.count("sources.bytes_rewritten", added.values.sum.toDouble)
      }
      tracer.span("refresh", "refresh")(
        CaggRefreshPolicy.run(cagg, now, 4 * MicrosPerHour, MicrosPerHour))
      val gone = tracer.span("drop", "drop")(ht.dropChunks(now - Retention))
      dropped += gone.map(c => perHour(c.startMicros)).sum
      tracer.span("compact", "compact")(CompactionPolicy.run(ht))
    }
    if (timedOp) { sweepMs += ms; sweeps += 1 }
    attempted += 1
    val partial = ht.showChunks().filter(c => Columnstore.isPartial(spark, c.path))
    check(partial.isEmpty, s"${partial.size} PARTIAL chunks remain after the sweep at $now")
    val raw = ht.read().count()
    check(raw == ingested - dropped,
      s"raw count $raw != ingested $ingested - dropped $dropped at $now")
    val aggN = cagg.realtime.agg(sum("n")).collect()(0).getLong(0)
    check(aggN == ingested, s"cagg sum(n) $aggN != rows ingested $ingested at $now")
  }

  private def loopSeconds: Double = (cycleMs.sum + sweepMs.sum) / 1000

  def workPerSecond: Double = loopRows / loopSeconds

  def storedBytesPerRow: Double =
    Workload.bytesUnder(s"$root/ht", s"$root/cagg").toDouble / (ingested - dropped)

  def report: Seq[(String, Double, String)] = {
    def p(n: String, xs: Seq[Double]) =
      Seq((s"${n}_p50_ms", Stats.median(xs), "ms")) ++
        Stats.p90(xs).map(v => (s"${n}_p90_ms", v, "ms"))
    p("cycle", cycleMs.toSeq) ++ p("append", appendMs.toSeq) ++ p("read", readMs.toSeq) ++ Seq(
      ("ingest_rows_per_s", workPerSecond, "1/s"),
      ("maint_s", sweepMs.sum / 1000, "s"),
      ("sweeps", sweeps.toDouble, "count"),
      ("cycles", cycleMs.size.toDouble, "count"),
      ("stored_bytes_per_row", storedBytesPerRow, "B"),
      ("live_chunks", ht.showChunks().size.toDouble, "count"))
  }
}

object Ingest {
  val Devices = 16
  val StepMs = 3000
  val BatchMinutes = 20
  val LateShare = 0.05
  val BackfillHours = 3
  val CompressAfter = 2 * MicrosPerHour
  val Retention = 6 * MicrosPerHour
}
