package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point: one workload, one seed, one closed-loop client.
  *
  * {{{
  * Main --workload dashboard|ingest|curation --seed N --seconds S --trace 0|1
  *      --work DIR --result FILE
  * Main --selftest
  * }}}
  *
  * With `--trace 0` it sets up [[Main.SetupRounds]] times (the set-up
  * median), warms up, then runs as many ops as `S` seconds buy at the
  * workload's nominal op length and reports the gated end-to-end metrics.
  * With `--trace 1` it sets up once, records every other op (the rest give
  * the tracing overhead) and reports the per-layer metrics. The session is
  * the one a library user gets: `Graft.session` on every core, no graft
  * settings.
  */
object Main {
  val SetupRounds = 3
  val MinOps = 2

  /** The gated end-to-end metrics, reported by every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "work_per_s" -> "1/s",
    "stored_bytes_per_row" -> "B")

  /** Every per-layer metric of a traced run. A layer a workload does not use
    * reads 0 there.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.build_ms" -> "ms/op", "sources.chunks_scanned" -> "count/op",
    "sources.files_scanned" -> "count/op", "sources.exclusion_ratio" -> "ratio",
    "plans.analysis_ms" -> "ms/op", "plans.optimization_ms" -> "ms/op",
    "plans.planning_ms" -> "ms/op", "execute.collect_ms" -> "ms/op",
    "sources.append_ms" -> "ms/op", "sources.files_written" -> "count/op",
    "sources.bytes_written" -> "B/op", "sources.fs_read_ops" -> "count/op",
    "sources.fs_write_ops" -> "count/op", "sources.syscalls_r" -> "count/op",
    "sources.syscalls_w" -> "count/op", "sources.compress_ms" -> "ms/op",
    "sources.bytes_rewritten" -> "B/op", "sources.drop_ms" -> "ms/op",
    "sources.compact_ms" -> "ms/op", "streaming.refresh_ms" -> "ms/op",
    "streaming.pending_invalidations" -> "count/op",
    "streaming.realtime_build_ms" -> "ms/op") ++
    Curation.StageNames.flatMap(s =>
      Seq(s"operators.${s}_ms" -> "ms/op", s"operators.${s}_rows_out" -> "count/op")) ++ Seq(
    "operators.lsh_candidates" -> "count/op", "operators.lsh_precision" -> "ratio",
    "spark.jobs" -> "count/op", "spark.stages" -> "count/op", "spark.tasks" -> "count/op",
    "spark.task_cpu_ms" -> "ms/op", "spark.shuffle_bytes" -> "B/op",
    "spark.spill_bytes" -> "B/op", "spark.task_skew" -> "ratio",
    "spark.peak_exec_mem_mb" -> "MB", "spark.unattributed_jobs" -> "count/op",
    "jvm.gc_ms" -> "ms/op", "jvm.heap_peak_mb" -> "MB",
    "self.build_ms" -> "ms/op", "self.realtime_ms" -> "ms/op", "self.plan_ms" -> "ms/op",
    "self.execute_ms" -> "ms/op", "self.append_ms" -> "ms/op",
    "self.compress_ms" -> "ms/op", "self.refresh_ms" -> "ms/op",
    "setup.append_ms" -> "ms", "setup.compress_ms" -> "ms", "setup.refresh_ms" -> "ms",
    "trace.ops" -> "count", "trace.overhead_ms" -> "ms", "trace.overhead_pct" -> "%")

  final case class Opts(workload: String = "", seed: Long = 1, seconds: Double = 10,
      trace: Boolean = false, work: String = "", result: String = "", selftest: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: rest => parse(rest, o.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, o.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, o.copy(work = v))
    case "--result" :: v :: rest => parse(rest, o.copy(result = v))
    case "--selftest" :: rest => parse(rest, o.copy(selftest = true))
    case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    if (o.selftest) sys.exit(if (SelfTest.run()) 0 else 1)
    require(o.work.nonEmpty && o.result.nonEmpty, "--work and --result are required")
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = graft.Graft.session(master = s"local[$nproc]")
    spark.sparkContext.setLogLevel("WARN")
    try {
      val json = run(spark, o, nproc)
      Files.write(Paths.get(o.result), json.getBytes("UTF-8"))
    } finally spark.stop()
  }

  /** The number of ops `seconds` buys at the workload's nominal op length:
    * at least [[MinOps]], in whole rounds.
    */
  def opCount(seconds: Double, w: Workload): Int = {
    val n = math.max(MinOps, math.ceil(seconds / w.nominalOpSeconds).toInt)
    (n + w.roundSize - 1) / w.roundSize * w.roundSize
  }

  /** Tracing overhead from a loop that recorded the odd ops: the median,
    * over recorded ops, of their latency minus the mean of their unrecorded
    * neighbours. Comparing neighbours keeps the JIT's warm-up drift, which
    * makes later ops faster, out of the difference.
    */
  def traceOverhead(ops: Seq[Double]): Double = {
    val diffs = ops.indices.filter(_ % 2 == 1).map { i =>
      val around = Seq(i - 1, i + 1).filter(_ < ops.size).map(ops)
      ops(i) - around.sum / around.size
    }
    Stats.median(diffs)
  }

  private def workload(spark: SparkSession, o: Opts, tracer: Tracer): Workload =
    o.workload match {
      case "dashboard" => new Dashboard(spark, o.seed, o.work, tracer)
      case "ingest" => new Ingest(spark, o.seed, o.work, tracer)
      case "curation" => new Curation(spark, o.seed, o.work, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }

  private def run(spark: SparkSession, o: Opts, nproc: Int): String = {
    val tracer = new Tracer(spark, o.trace)
    val started = System.nanoTime()
    val w = workload(spark, o, tracer)
    val generatedAt = System.nanoTime()
    val plain, all = mutable.ArrayBuffer.empty[Double]
    var recordedOps = 0
    var setupS = IndexedSeq.empty[Double]
    var t0, loopEnd = 0L
    var warmupS = 0.0
    var i = 0
    def setup(r: Int): Double = {
      tracer.phase = "setup"
      Workload.timed(tracer.span(s"setup_$r", "op")(w.setup(r)))._2 / 1000
    }
    tracer.span(o.workload, "workload") {
      // warm up on the first set-up's state, then set up again: the later
      // set-ups and the loop (on the last set-up's state) run on a JVM that
      // has compiled more of the code they use
      val first = setup(0)
      val recorded = tracer.recording
      tracer.recording = false
      tracer.phase = "warmup"
      warmupS = Workload.timed(w.warmup())._2 / 1000
      tracer.recording = recorded
      setupS = first +: (1 until (if (o.trace) 1 else SetupRounds)).map(setup)
      tracer.recording = false
      tracer.phase = "loop"
      t0 = System.nanoTime()
      val ops = opCount(o.seconds, w)
      while (i < ops) {
        // the traced run records every other op; the rest measure the same
        // loop without tracing, for the overhead
        tracer.recording = o.trace && i % 2 == 1
        val ms = w.op(i)
        if (tracer.recording) recordedOps += 1
        else plain += ms
        all += ms
        i += 1
      }
      tracer.recording = false
      loopEnd = System.nanoTime()
    }

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val values = Map("setup_s" -> Stats.median(setupS), "op_p50_ms" -> Stats.median(plain.toSeq),
          "work_per_s" -> w.workPerSecond, "stored_bytes_per_row" -> w.storedBytesPerRow)
        EndToEnd.map { case (n, u) => (n, values(n), u) }
      } else {
        val overheadMs = traceOverhead(all.toSeq)
        val values = tracer.layerMetrics(recordedOps) ++ w.layerExtras ++ Map(
          "trace.ops" -> recordedOps.toDouble,
          "trace.overhead_ms" -> overheadMs,
          "trace.overhead_pct" -> 100 * overheadMs / Stats.median(plain.toSeq))
        val known = PerLayer.map(_._1).toSet
        val unknown = values.keySet -- known
        require(unknown.isEmpty, s"per-layer metrics missing from the catalogue: $unknown")
        tracer.dumpTo(Paths.get(o.result + ".spans.jsonl"))
        PerLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
      }
    tracer.close()

    val attempted = w.attempted
    val failed = w.failedOps
    val report: Seq[(String, Double, String)] =
      (if (o.trace) Nil else Seq(("setup_s", Stats.median(setupS), "s"),
        ("op_p50_ms", Stats.median(plain.toSeq), "ms"))) ++
        w.report ++ Seq(("error_rate", failed.toDouble / attempted, "ratio"))
    def entries(xs: Seq[(String, Double, String)]) = xs.map { case (n, v, u) =>
      s"${Stats.quote(n)}:{\"value\":${Stats.num(v)},\"unit\":${Stats.quote(u)}}"
    }.mkString("{", ",", "}")
    val meta = Seq(
      "workload" -> Stats.quote(o.workload), "seed" -> o.seed.toString,
      "seconds" -> Stats.num(o.seconds), "trace" -> (if (o.trace) "1" else "0"),
      "nproc" -> nproc.toString,
      "spark_cores" -> spark.sparkContext.defaultParallelism.toString,
      "spark_master" -> Stats.quote(spark.sparkContext.master),
      "heap_max_mb" -> Stats.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> Stats.quote(spark.version),
      "java_version" -> Stats.quote(System.getProperty("java.version")),
      "setup_s_all" -> setupS.map(Stats.num).mkString("[", ",", "]"),
      "generate_s" -> Stats.num((generatedAt - started) / 1e9),
      "warmup_s" -> Stats.num(warmupS),
      "loop_wall_s" -> Stats.num((loopEnd - t0) / 1e9),
      "ops" -> i.toString,
      "op_ms_all" -> all.map(Stats.num).mkString("[", ",", "]"))
      .map { case (k, v) => s"${Stats.quote(k)}:$v" }.mkString("{", ",", "}")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${entries(metrics)},"report":${entries(report)},"meta":$meta,""" +
      s""""failures":${w.failures.take(20).map(Stats.quote).mkString("[", ",", "]")}}"""
  }
}
