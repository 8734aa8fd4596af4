package graft


/** Benchmark main — runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line:
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},
  *   "cold_sec":N,"sf":...}`, then, last, the same totals without the
  * per-query map (`"queries_n":N` instead). Numbers use `Locale.ROOT`.
  *
  * Queries are forced with a noop-format write so the full plan executes
  * (count() would let Catalyst prune every column and skip work a real
  * consumer pays for), with results staying on the executors.
  *
  * Per-query time is STEADY-STATE: each query runs once unmeasured (JIT +
  * whole-stage-codegen janino compilation, file-index/footers, broadcast
  * build), then the measured run. At the target scale (TB+ per query) the
  * one-time compile cost is amortized noise; at sf0.1 it would be 50-80%
  * of a cold measurement (measured: q10 4.3 s cold vs 0.5 s steady for
  * identical work). The cold first-run total is still reported as
  * `cold_sec` for transparency.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // shared measurement-session config (Graft.toolSession): the fixture
    // tables are SINGLE parquet files, so the 8 MB split default keeps a
    // plain scan-agg parallel (measured: q01 at sf1-equivalent
    // 1.83 -> 0.74 s, no sf0.1 regression); AQE coalescing keeps Spark's
    // defaults (the r13 A/B: size-driven coalescing traded ~5% on write
    // rows for ~6% against read rows whose stages then run single-task).
    val spark = Graft.toolSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (JVM/codegen/parquet-reader init) so the first
    // measured query reflects its own cost, not startup
    try SparkEntry.entry(spark).write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }
    // SPARK_GRAFT_ONLY=q08,q36 reruns a subset (prefix match) for targeted
    // profiling; unset = full suite
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    // a failed query must be VISIBLE in the JSON line, not just stderr —
    // its near-zero "time" would otherwise read as a speedup
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // drop cache/checkpoint blocks a run materialized (dedup pipelines
    // cache their candidate lists). Cleared BETWEEN runs, not just between
    // queries: Spark's CacheManager matches canonicalized plans, so a
    // second identical run would silently substitute the first run's
    // materialized subtree and the "steady-state" number would omit work
    // a fresh execution pays. It also keeps 75 queries × 3 runs of dead
    // blocks from bleeding GC pressure into later measurements.
    def dropBlocks(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    // prior-round guard: a row measuring >3x its last recorded value gets
    // one extra confirmation run. Round 4's q63 measured 1.21 s in the
    // driver run from ambient load alone (isolated re-measure: 0.26 s) —
    // min-of-two can still lose when BOTH runs land inside one host-level
    // stall; comparing against the previous round's number catches that
    // case for the cost of one run on only the suspicious rows.
    // In driver-written BENCH_rNN.json the per-query times live inside the
    // escaped "tail" STRING field (raw text `\"q21_asof\":0.342`), so the
    // quote before/after the name may carry a backslash — the pattern
    // accepts both raw and escaped forms. The tail also truncates the
    // earliest rows, so we additionally read `bench_full_*.json`, the
    // complete per-query line this main writes for its own sf (below).
    val priorRx = """\\?"(q\d+[a-z0-9_]*)\\?":([0-9.]+)""".r
    def parseBench(f: java.io.File): Map[String, Double] = {
      val src = scala.io.Source.fromFile(f)
      val txt = try src.mkString finally src.close()
      priorRx.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val fullFile = new java.io.File(s"bench_full_$sfTag.json")
    val prior: Map[String, Double] = {
      // numeric round sort: lexicographic would rank BENCH_r9 after
      // BENCH_r10 from round 10 on
      val benchFiles = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.matches("BENCH_r\\d+\\.json"))
        .sortBy(f => f.getName.replaceAll("\\D", "").toInt)
      val fromDriver = benchFiles.lastOption.map { f =>
        val src = scala.io.Source.fromFile(f)
        val txt = try src.mkString finally src.close()
        // driver rows are only comparable when that run's sf matches THIS
        // run's — a BENCH_rNN from a different scale would poison the
        // guard with times from the wrong data size. The escaped tail
        // carries the full sf dir (`sf\":\"/root/testdata/sf0.1\"`); the
        // driver's top-level field is a bare number (`"sf": 0.1`).
        // no parseable sf anywhere = UNKNOWN scale, which must read as a
        // mismatch (findFirstMatchIn(...).forall on None would read as a
        // match and arm the guard with rows of unknown scale)
        val sfOk = """sf\\":\\"([^"\\]+)""".r.findFirstMatchIn(txt)
          .map(_.group(1) == sfDir)
          .getOrElse(""""sf":\s*([0-9.]+)""".r.findFirstMatchIn(txt)
            .exists(m => sfDir.endsWith("sf" + m.group(1))))
        val rows = if (sfOk) priorRx.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
          else Map.empty[String, Double]
        if (rows.isEmpty)
          System.err.println(s"[bench] WARNING: prior file ${f.getName} yielded 0 usable rows (sf mismatch or unparsed) — cross-round guard weakened")
        rows
      }.getOrElse(Map.empty)
      // the sf-keyed full local record is authoritative where both have a
      // row (it is never from the wrong scale and never tail-truncated);
      // driver rows only fill names the local record lacks
      val fromFull = if (fullFile.exists()) parseBench(fullFile) else Map.empty[String, Double]
      fromDriver ++ fromFull
    }
    if (prior.nonEmpty)
      System.err.println(s"[bench] prior-round guard armed with ${prior.size} rows")
    val results = selected.map { case (name, fn) =>
      def run(): Unit =
        try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
      val t0 = System.nanoTime()
      run() // unmeasured: codegen compile + file index + JIT
      val cold = (System.nanoTime() - t0) / 1e9
      def timed(): Double = {
        dropBlocks()
        val t = System.nanoTime(); run(); (System.nanoTime() - t) / 1e9
      }
      // steady-state = MIN of two measured runs: this box shows transient
      // multi-second host-level stalls (one identical back-to-back suite
      // run measured a 1.6 s query at 27 s); the min is the reproducible
      // cost of the plan, which is what the number is for. When the two
      // runs disagree by >1.5x, one of them was contaminated (ambient
      // load, GC, JIT mid-ramp) — a third run breaks the tie; the extra
      // cost is bounded to exactly the noisy rows.
      val (a, b) = (timed(), timed())
      val steady0 =
        if (math.max(a, b) > 1.5 * math.min(a, b)) math.min(math.min(a, b), timed())
        else math.min(a, b)
      // cross-round confirmation: >3× always re-runs; rows that cost >1 s
      // confirm already at >1.5× (the r5→r6 q62/q66 drift was 1.8-2.1× and
      // sailed under the 3× bar — a 1.5× bar on expensive rows catches the
      // ambient-load class for at most one extra run on few rows)
      val steady =
        if (prior.get(name).exists(p =>
            steady0 > 3 * p || (steady0 > 1.0 && steady0 > 1.5 * p)))
          math.min(steady0, timed())
        else steady0
      val r = name -> (steady, cold)
      dropBlocks()
      r
    }
    // JSON numbers under Locale.ROOT: f"%.3f" follows the JVM locale, which
    // writes a decimal comma under e.g. de_DE and breaks every parser
    def num(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, (v, _)) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).sum
    val coldTotal = results.map(_._2._2).sum
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"cold_sec":${num(coldTotal)},"errors":$errs,"sf":"$sfDir"}"""
    println(line)
    // persist the per-query record (driver BENCH files truncate the tail)
    // so the next round's >3x prior guard sees every row for this sf.
    // Always MERGE into the existing record (subset runs update only their
    // own rows) and never persist FAILED rows — a failure's near-zero wall
    // time would read as a prior value and spuriously trip the guard.
    try {
      val good = results.collect {
        case (k, (v, _)) if !failed.contains(k) => k -> v }
      val old = if (fullFile.exists()) parseBench(fullFile) else Map.empty[String, Double]
      val merged = (old ++ good).toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + num(v) }
        .mkString("""{"queries":{""", ",", s"""},"sf":"$sfDir"}""")
      val w = new java.io.PrintWriter(fullFile); try w.println(merged) finally w.close()
    } catch { case e: Throwable => System.err.println(s"[bench] could not write ${fullFile.getName}: ${e.getMessage}") }
    // ALSO write this run's rows UNMERGED, stamped with a run id: the
    // merged record mixes rows from different runs (whichever ran last
    // per query), so cross-run medians/aggregates were not computable
    // from artifacts — only from prose notes (VERDICT r8 "what's wrong"
    // #2). One immutable file per run fixes that.
    try {
      val runId = java.time.format.DateTimeFormatter
        .ofPattern("yyyyMMdd'T'HHmmss").withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.now())
      val runFile = new java.io.File(s"bench_run_${sfTag}_$runId.json")
      val w = new java.io.PrintWriter(runFile)
      try w.println(line) finally w.close()
    } catch { case e: Throwable => System.err.println(s"[bench] could not write per-run file: ${e.getMessage}") }
    // The one-line JSON is RE-printed as the very last stdout lines, AFTER
    // the artifact writes above: a write-failure stack trace or sbt footer
    // must never displace it from a log tail (13 rounds of the driver's
    // BENCH capture recorded `parsed: null` because the only copy sat
    // ~4 KB above the tail window). The full per-query line first, then
    // the compact line LAST: a reader that parses the final line gets a
    // complete JSON object with the totals even when a short tail window
    // cuts the head off the ~4 KB per-query line above it.
    println(line)
    println(s"""{"metric":"total","value":${num(total)},"unit":"sec","cold_sec":${num(coldTotal)},"errors":$errs,"sf":"$sfDir","queries_n":${results.size}}""")
    spark.stop()
  }
}
