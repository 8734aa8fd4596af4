package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced interval. `parent` is 0 for a root; job spans carry the span
  * that launched them. Counter deltas cover the span's own interval.
  */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    phase: String, startNs: Long, endNs: Long,
    fsReadOps: Long = 0, fsWriteOps: Long = 0, syscr: Long = 0, syscw: Long = 0,
    gcMs: Long = 0) {
  def durNs: Long = endNs - startNs
}

object Spans {

  /** Self time of [start, end): its length minus the part of it covered by
    * the union of the children's intervals (children may overlap each other
    * and may stick out of the parent; only the covered part counts).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE != Long.MinValue) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE != Long.MinValue) covered += curE - curS
    (end - start) - covered
  }
}

/** Process-wide counters read around each traced span: Hadoop FileSystem
  * operations, read/write syscalls from /proc/self/io (graft's small
  * metadata files go through java.nio, which Hadoop does not count), and
  * collector time.
  */
final case class Counters(fsRead: Long, fsWrite: Long, syscr: Long, syscw: Long, gcMs: Long)

object Counters {
  private val procIo = java.nio.file.Paths.get("/proc/self/io")

  private def procIoValues(): (Long, Long) =
    try {
      val kv = java.nio.file.Files.readAllLines(procIo).asScala.flatMap { l =>
        l.split(":") match {
          case Array(k, v) => Some(k.trim -> v.trim.toLong)
          case _ => None
        }
      }.toMap
      (kv.getOrElse("syscr", 0L), kv.getOrElse("syscw", 0L))
    } catch { case _: java.io.IOException => (0L, 0L) }

  def now(): Counters = {
    val stats = FileSystem.getAllStatistics.asScala
    val (r, w) = procIoValues()
    Counters(
      stats.map(s => s.getReadOps.toLong + s.getLargeReadOps).sum,
      stats.map(_.getWriteOps.toLong).sum,
      r, w,
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => math.max(b.getCollectionTime, 0L)).sum)
  }
}

/** Per-job statistics gathered by the listener. */
final class JobStats(val jobId: Int, val spanId: Int, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  val stageSkews = mutable.ArrayBuffer.empty[Double]
}

/** Spans for the traced run: workload -> op -> layer call -> Spark job.
  * Layer-call spans are opened by the benchmark around each call into the
  * library; a job is attributed to the innermost open span through a local
  * property that one SparkListener reads back. Spans stay in memory until
  * the run ends. With `enabled = false` every method is a pass-through.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  /** Whether spans are recorded right now; the traced run alternates ops
    * with this off, so its own overhead can be measured.
    */
  var recording: Boolean = enabled
  var phase: String = "setup"
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private val nanoToEpochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val stageTaskNs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(0)
      jobs(e.jobId) = new JobStats(e.jobId, span, e.time)
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (j <- stageToJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
        stageTaskNs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          math.max(e.taskInfo.duration, 0L)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val id = e.stageInfo.stageId
      for (j <- stageToJob.get(id).flatMap(jobs.get)) {
        j.stages += 1
        stageTaskNs.remove(id).filter(_.size >= 2).foreach { ds =>
          val med = Stats.median(ds.map(_.toDouble).toSeq)
          if (med > 0) j.stageSkews += ds.max / med
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` inside a span; a pass-through while not recording. */
  def span[T](name: String, kind: String)(body: => T): T =
    if (!recording) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setLocalProperty(SpanProperty, id.toString)
      val c0 = Counters.now()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val c1 = Counters.now()
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, if (parent == 0) null else parent.toString)
        spanBuf += Span(id, parent, name, kind, phase, t0, t1,
          c1.fsRead - c0.fsRead, c1.fsWrite - c0.fsWrite,
          c1.syscr - c0.syscr, c1.syscw - c0.syscw, c1.gcMs - c0.gcMs)
      }
    }

  /** Add to a per-layer count measured by the benchmark itself. */
  def count(name: String, v: Double): Unit =
    if (recording && phase == "loop") counts(name) = counts.getOrElse(name, 0.0) + v

  /** Counts added with [[count]], divided by the number of recorded ops. */
  private def countsPer(ops: Double): Map[String, Double] =
    counts.map { case (n, v) => n -> v / ops }.toMap

  def spans: Seq[Span] = spanBuf.toSeq

  /** Wait until the listener has seen every finished job. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)

  /** Finished jobs, with start/end on the span clock. */
  def jobSpans: Seq[(JobStats, Long, Long)] = synchronized {
    jobs.values.toSeq.map(j =>
      (j, j.startMs * 1000000L - nanoToEpochNs, j.endMs * 1000000L - nanoToEpochNs))
  }

  /** For each span, the intervals of its child spans and of the jobs it
    * launched: what its self time subtracts.
    */
  private def childIntervals(all: Seq[Span]): Span => Seq[(Long, Long)] = {
    val kids = all.groupBy(_.parent)
    val jobsBy = jobSpans.groupBy(_._1.spanId)
    s => kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)) ++
      jobsBy.getOrElse(s.id, Nil).map(j => (j._2, j._3))
  }

  /** Per-layer metrics of the recorded loop ops, each divided by the
    * number of those ops (the per-op cost), plus the layers of the recorded
    * set-up. A layer the workload never calls reads 0.
    */
  def layerMetrics(loopOps: Int): Map[String, Double] = {
    drain()
    val all = spans
    val loop = all.filter(_.phase == "loop")
    val ops = math.max(loopOps, 1).toDouble
    val jobTimes = jobSpans
    val children = childIntervals(all)
    def ofKind(k: String) = loop.filter(_.kind == k)
    def kindMs(k: String) = ofKind(k).map(_.durNs).sum / 1e6 / ops
    def kindSelfMs(k: String) =
      ofKind(k).map(s => Spans.selfTime(s.startNs, s.endNs, children(s))).sum / 1e6 / ops
    val opSpans = loop.filter(_.kind == "op")
    def inOp(t: Long) = opSpans.exists(s => t >= s.startNs && t <= s.endNs)
    val loopJobs = jobTimes.filter(j => inOp(j._2)).map(_._1)
    def opSum(f: Span => Long) = opSpans.map(f).sum / ops
    def setupMs(k: String) =
      all.filter(s => s.phase == "setup" && s.kind == k).map(_.durNs).sum / 1e6
    val skews = loopJobs.flatMap(_.stageSkews)
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val byKind = Seq(
      "sources.build_ms" -> "build", "sources.append_ms" -> "append",
      "sources.compress_ms" -> "compress", "sources.drop_ms" -> "drop",
      "sources.compact_ms" -> "compact", "streaming.realtime_build_ms" -> "realtime",
      "streaming.refresh_ms" -> "refresh", "execute.collect_ms" -> "execute") ++
      loop.map(_.kind).filter(_.startsWith("stage:")).distinct
        .map(k => s"operators.${k.stripPrefix("stage:")}_ms" -> k)
    byKind.map { case (n, k) => n -> kindMs(k) }.toMap ++
      Seq("build", "realtime", "plan", "execute", "append", "compress", "refresh")
        .map(k => s"self.${k}_ms" -> kindSelfMs(k)) ++
      countsPer(ops) ++ Map(
        "sources.fs_read_ops" -> opSum(_.fsReadOps),
        "sources.fs_write_ops" -> opSum(_.fsWriteOps),
        "sources.syscalls_r" -> opSum(_.syscr),
        "sources.syscalls_w" -> opSum(_.syscw),
        "spark.jobs" -> loopJobs.size / ops,
        "spark.stages" -> loopJobs.map(_.stages).sum / ops,
        "spark.tasks" -> loopJobs.map(_.tasks).sum / ops,
        "spark.task_cpu_ms" -> loopJobs.map(_.cpuNs).sum / 1e6 / ops,
        "spark.shuffle_bytes" -> loopJobs.map(_.shuffleBytes).sum / ops,
        "spark.spill_bytes" -> loopJobs.map(_.spillBytes).sum / ops,
        "spark.task_skew" -> (if (skews.isEmpty) 1.0 else skews.sum / skews.size),
        "spark.peak_exec_mem_mb" ->
          (if (loopJobs.isEmpty) 0.0 else loopJobs.map(_.peakExecMem).max / 1048576.0),
        "spark.unattributed_jobs" -> loopJobs.count(_.spanId == 0) / ops,
        "jvm.gc_ms" -> opSum(_.gcMs),
        "jvm.heap_peak_mb" -> heapPeak / 1048576.0,
        "setup.append_ms" -> setupMs("append"),
        "setup.compress_ms" -> setupMs("compress"),
        "setup.refresh_ms" -> setupMs("refresh")).map { case (n, v) => n -> v.toDouble }
  }

  /** Spans and jobs as JSON lines, for offline inspection. */
  def dumpTo(path: java.nio.file.Path): Unit = if (enabled) {
    drain()
    val all = spans
    val children = childIntervals(all)
    val lines = all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Stats.quote(s.name)},""" +
        s""""kind":${Stats.quote(s.kind)},"phase":${Stats.quote(s.phase)},""" +
        s""""start_ns":${s.startNs},"dur_ns":${s.durNs},""" +
        s""""self_ns":${Spans.selfTime(s.startNs, s.endNs, children(s))},""" +
        s""""fs_read_ops":${s.fsReadOps},"fs_write_ops":${s.fsWriteOps},""" +
        s""""syscr":${s.syscr},"syscw":${s.syscw},"gc_ms":${s.gcMs}}"""
    } ++ jobSpans.map { case (j, a, b) =>
      s"""{"job":${j.jobId},"parent":${j.spanId},"start_ns":$a,"dur_ns":${b - a},""" +
        s""""stages":${j.stages},"tasks":${j.tasks},"cpu_ns":${j.cpuNs},""" +
        s""""shuffle_bytes":${j.shuffleBytes},"spill_bytes":${j.spillBytes}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}
