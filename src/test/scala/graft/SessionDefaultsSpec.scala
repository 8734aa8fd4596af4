package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** Session-bootstrap defaults shared by [[Graft.session]] and
  * [[Graft.toolSession]]: the generated-code cache must hold a repeated
  * working set, so re-running a query compiles nothing, and AQE keeps
  * Spark's own coalescing defaults. No query writes the shared session's
  * conf: a stateful stream runs on a clone sized by [[Sizing]].
  */
class SessionDefaultsSpec extends AnyFunSuite {
  lazy val spark = Graft.session("session-defaults-spec", "local[4]", 4)

  private def cap(s: org.apache.spark.sql.SparkSession): Int =
    s.sessionState.conf.getConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES)

  test("both session entry points carry graft's codegen cache cap") {
    assert(cap(spark) === Graft.CodegenCacheEntries)
    assert(cap(Graft.toolSession("4")) === Graft.CodegenCacheEntries)
  }

  test("re-running earlier query shapes after 160 others compiles nothing") {
    // each shape's literals are inlined into its whole-stage code, so every
    // shape is a distinct code body: 160 shapes are 320+ cache keys, past
    // Spark's default cap of 100 and inside graft's
    def shape(i: Int): Seq[org.apache.spark.sql.Row] =
      spark.range(8).selectExpr(s"id * $i + ${i % 7} AS a", s"id % ${i + 2} AS b")
        .collect().toSeq
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = compiles
    val first = (0 until 160).map(shape)
    val c1 = compiles
    // measured window: only the re-runs of the 20 oldest shapes
    val again = (0 until 20).map(shape)
    val c2 = compiles
    assert(c1 - c0 >= 160L, "the shapes must not share code, or the check is vacuous")
    assert(again === first.take(20))
    assert(c2 - c1 === 0L, s"re-runs compiled ${c2 - c1} code bodies")
  }

  test("a graft session keeps Spark's AQE coalescing defaults") {
    for (s <- Seq(spark, Graft.toolSession("4"))) {
      assert(s.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) === (64L << 20))
      assert(s.sessionState.conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
    }
  }

  /** A dir holding a one-file `events.parquet`, the input q62 streams. */
  private lazy val fixture: String = {
    val dir = Files.createTempDirectory("graft_session_defaults")
    val out = dir.resolve("written").toString
    spark.range(0, 3000).select(
      timestamp_micros(lit(1700006400000000L) + col("id") * 60000000L).as("ts"),
      concat(lit("e"), (col("id") % 3).cast("string")).as("event_type"),
      (col("id") % 7).cast("double").as("value"))
      .coalesce(1).write.parquet(out)
    val part = Files.list(Paths.get(out)).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.move(part, dir.resolve("events.parquet"))
    dir.toString
  }
  private def events = Tables.readParquet(spark, s"$fixture/events.parquet")
  private def shuffleWidth(s: org.apache.spark.sql.SparkSession) =
    s.conf.get(SQLConf.SHUFFLE_PARTITIONS.key)
  /** The state width [[Sizing]] gives a stream over the events fixture. */
  private def stateWidth: Int = Sizing.tasksFor(spark, Sizing.estimate(events), 1,
    spark.sessionState.conf.numShufflePartitions)

  test("q62 runs its stream on its own session and leaves the shared conf alone") {
    val before = shuffleWidth(spark)
    // a stream started on the shared session reports here, synchronously
    // with its start, while any conf it set is still in place
    val seen = mutable.Buffer.empty[String]
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        seen.synchronized { seen += shuffleWidth(spark); () }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    val df = try SparkEntry.queries("q62_stream_agg")(spark, fixture)
      finally spark.streams.removeListener(l)
    assert(df.count() > 0)
    assert(shuffleWidth(spark) === before)
    assert(seen.synchronized(seen.toList).forall(_ == before), seen)
    assert(df.sparkSession ne spark)
    assert(shuffleWidth(df.sparkSession) === stateWidth.toString)
  }

  test("q97 enables cagg window functions on a clone, never on the shared session") {
    val key = "spark.graft.enable_cagg_window_functions"
    // a watcher reads the shared conf for as long as q97 runs
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val held = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val watcher = new Thread(() =>
      while (!done.get) {
        if (spark.conf.getOption(key).isDefined) held.set(true)
        reads.incrementAndGet()
      })
    watcher.setDaemon(true)
    watcher.start()
    val got = try SparkEntry.queries("q97_cagg_window")(spark, fixture).collect().toSeq
      finally { done.set(true); watcher.join() }
    assert(!held.get && reads.get > 0)
    assert(spark.conf.getOption(key).isEmpty)
    // the answer: daily counts per type, ranked within the day
    val byDay = events.groupBy(date_trunc("day", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val day = Window.partitionBy("bucket")
    val want = byDay.select(col("bucket"), col("event_type"), col("n"),
        rank().over(day.orderBy(desc("n"), col("event_type"))).cast("long").as("rnk"),
        sum("n").over(day).as("day_total"))
      .orderBy("bucket", "event_type").collect().toSeq
    assert(got.map(_.toSeq) === want.map(_.toSeq))
  }

  test("a stream on Sizing's session reports Sizing's state width") {
    val input = events
    assert(stateWidth < spark.sessionState.conf.numShufflePartitions,
      "a fixture as wide as the session would not tell the widths apart")
    val ss = Sizing.stateSession(spark, input)
    val src = Files.createTempDirectory("graft_state_src")
    Files.copy(Paths.get(s"$fixture/events.parquet"), src.resolve("events.parquet"))
    val q = ss.readStream.schema(input.schema).parquet(src.toString)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("sizing_state_width")
      .outputMode("complete").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("graft_state_width").toString)
      .start()
    try q.awaitTermination() finally q.stop()
    assert(q.lastProgress.stateOperators.map(_.numShufflePartitions).toSeq ===
      Seq(stateWidth.toLong))
  }
}
