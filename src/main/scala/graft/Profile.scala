package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Optimization-round profiler (guide §1): runs ONE query from
  * [[SparkEntry.queries]] through the same warmup + steady-state protocol
  * as [[Bench]], with a listener that attributes wall time to Spark jobs
  * (keyed by job description / callsite). Prints a per-job breakdown of
  * the steady-state run plus the driver-side residue (steady wall minus
  * sum of job spans) — the residue is catalog/FS/planning work that never
  * becomes a job, which at sf0.1 is where machinery rows hide their cost —
  * and the steady run's generated-code compiles (count and time), which
  * are residue too and read 0 when the codegen cache holds the query.
  *
  * Usage: SPARK_GRAFT_PROFILE=q72 sbt "runMain graft.Profile"
  */
object Profile {
  private final case class JobRec(id: Int, desc: String, started: Long,
      var ended: Long = 0L)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val name0 = sys.env.getOrElse("SPARK_GRAFT_PROFILE",
      args.headOption.getOrElse("q72"))
    val spark = Graft.toolSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val (name, fn) = SparkEntry.queries.toSeq.sortBy(_._1)
      .find(_._1.startsWith(name0))
      .getOrElse(sys.error(s"no query matches $name0"))

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val sqlExecs = new java.util.concurrent.ConcurrentHashMap[Long, (String, Long, Long)]()
    @volatile var recording = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        if (recording) e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            sqlExecs.put(s.executionId, (s.description, s.time, 0L)); ()
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
            val r = sqlExecs.get(s.executionId)
            if (r != null) sqlExecs.put(s.executionId, (r._1, r._2, s.time))
            ()
          case _ => ()
        }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (recording) {
          val desc = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(e.stageInfos.lastOption.map(_.name))
            .getOrElse("?")
          jobs.put(e.jobId, JobRec(e.jobId, desc, e.time))
          ()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId)
        if (r != null) r.ended = e.time
      }
    })

    def run(): Unit =
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    def drop(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    run(); drop() // warmup: codegen + JIT + file index
    run(); drop() // second warmup (matches Bench steady-state conditions)
    recording = true
    // sample the MAIN thread's stack every 5 ms during the steady run:
    // attributes the driver residue (time between jobs) to real frames
    val mainThread = Thread.currentThread()
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val st = mainThread.getStackTrace
        def fmt(f: StackTraceElement) =
          s"${f.getClassName.split("\\.").takeRight(2).mkString(".")}.${f.getMethodName}:${f.getLineNumber}"
        // first graft/spark frame below the generic waiting frames
        val key = st.find { f =>
          val c = f.getClassName
          (c.startsWith("graft.") || c.startsWith("org.apache.spark.") ||
            c.startsWith("org.apache.hadoop.") || c.startsWith("org.apache.parquet.")) &&
          !c.contains("Profile")
        }.map { f =>
          val base = fmt(f)
          // shell-exec samples additionally carry WHO shelled out: the
          // first frame that is not hadoop util/shell/fs plumbing
          if (f.getClassName.endsWith("Shell") || base.contains("Shell")) {
            val caller = st.find { g =>
              val c = g.getClassName
              c.startsWith("graft.") || c.startsWith("org.apache.spark.sql") ||
                (c.startsWith("org.apache.hadoop.fs.") && !c.contains("RawLocal") && !c.contains("FileUtil"))
            }.map(fmt).getOrElse(
              st.drop(st.indexWhere(_.getClassName.contains("Shell")) + 1)
                .find(g => !g.getClassName.contains("Shell"))
                .map(fmt).getOrElse("?"))
            s"$base <= $caller"
          } else base
        }.getOrElse(st.headOption.map(f => s"[top] ${f.getClassName}.${f.getMethodName}").getOrElse("idle"))
        samples.add(key)
        Thread.sleep(5)
      }
    }, "graft-profile-sampler")
    sampler.setDaemon(true); sampler.start()
    // Janino compiles in the steady run: a warmed query whose code bodies
    // all fit Spark's codegen cache compiles none (Graft.CodegenCacheEntries)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val t0 = System.nanoTime()
    run()
    val steady = (System.nanoTime() - t0) / 1e9
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
    sampling = false
    recording = false
    Thread.sleep(300) // let the listener bus drain

    import scala.jdk.CollectionConverters._
    val recs = jobs.values.asScala.toSeq.sortBy(_.started)
    val totalJobMs = recs.map(r => math.max(0L, r.ended - r.started)).sum
    println(f"\n[profile] $name steady=${steady}%.3f s, jobs=${recs.size}, sum(job spans)=${totalJobMs / 1000.0}%.3f s, driver residue≈${steady - totalJobMs / 1000.0}%.3f s, codegen compiles=$compiles ($compileMs%.1f ms)")
    // group by description
    val byDesc = recs.groupBy(_.desc).map { case (d, rs) =>
      (d, rs.size, rs.map(r => math.max(0L, r.ended - r.started)).sum)
    }.toSeq.sortBy(-_._3)
    println(f"${"ms"}%8s ${"n"}%4s  description")
    byDesc.foreach { case (d, n, ms) =>
      println(f"$ms%8d $n%4d  ${d.take(110)}")
    }
    // timeline of the slowest 25 jobs
    println("\nslowest jobs:")
    recs.sortBy(r => -(r.ended - r.started)).take(25).foreach { r =>
      println(f"  job ${r.id}%4d ${(r.ended - r.started)}%6d ms  ${r.desc.take(100)}")
    }
    // SQL execution spans (covers planning + AQE + jobs per action)
    println("\nSQL executions:")
    sqlExecs.values.asScala.toSeq.sortBy(_._2).foreach { case (d, st, en) =>
      println(f"  ${if (en > 0) en - st else -1L}%6d ms  ${d.linesIterator.next().take(120)}")
    }
    // driver-thread stack sample histogram (5 ms period)
    println("\nmain-thread samples (5ms each), top 30:")
    samples.toArray(Array.empty[String]).groupBy(identity)
      .map { case (k, v) => (k, v.length) }.toSeq.sortBy(-_._2).take(30)
      .foreach { case (k, n) => println(f"  ${n * 5}%6d ms  $k") }
    // gaps between consecutive jobs > 30 ms (driver-side work)
    println("\ndriver gaps >30ms between jobs:")
    recs.sliding(2).foreach {
      case Seq(a, b) =>
        val gap = b.started - a.ended
        if (gap > 30) println(f"  after job ${a.id}%4d (${a.desc.take(60)}): $gap%5d ms before job ${b.id} (${b.desc.take(60)})")
      case _ => ()
    }
    spark.stop()
  }
}
