package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Hypertable
import graft.streaming.{CaggDef, CaggStream, ContinuousAggregate}
import graft.{functions => gf}

class CaggSpec extends AnyFunSuite {
  lazy val spark = Graft.session("cagg-spec", "local[4]", 4)
  import spark.implicits._

  private val defn = CaggDef("1 hour", Seq("event_type"), Seq(
    count(lit(1)).as("n"),
    min(col("value")).as("min_value"),
    max(col("value")).as("max_value")))

  private def freshCagg(): (Hypertable, ContinuousAggregate) = {
    val dir = Files.createTempDirectory("graft_cagg").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(Tables.table(spark, "/root/testdata/sf0.001", "events"))
    val cagg = ContinuousAggregate.create(spark, s"$dir/cagg", ht, defn)
    (ht, cagg)
  }

  private def us(s: String): Long = Timestamp.valueOf(s).getTime * 1000L

  private def directAgg(ht: Hypertable) =
    ht.read()
      .groupBy(gf.time_bucket("1 hour", $"ts").as("bucket"), $"event_type")
      .agg(defn.aggs.head, defn.aggs.tail: _*)

  test("full refresh materializes the same rows as a direct aggregation") {
    val (ht, cagg) = freshCagg()
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    val mat = cagg.materialized.collect().toSet
    val direct = directAgg(ht).collect().toSet
    assert(mat === direct)
    assert(cagg.watermark === us("2024-02-01 00:00:00"))
  }

  test("invalidation threshold is a separate marker ahead of the watermark") {
    val (ht, cagg) = freshCagg()
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-01-10 00:00:00"))
    // after a completed refresh both marks sit at the window end
    assert(cagg.watermark === us("2024-01-10 00:00:00"))
    assert(cagg.invalidationThreshold === us("2024-01-10 00:00:00"))
    // simulate an in-flight/crashed refresh: threshold advanced (it moves
    // at refresh START), watermark did not (it moves at completion)
    cagg.setInvalidationThreshold(us("2024-01-15 00:00:00"))
    assert(cagg.watermark === us("2024-01-10 00:00:00"))
    // ingest a row ABOVE the watermark but BELOW the threshold: it must be
    // logged (a materialization pass may already have scanned its bucket)
    val row = Seq((900001L, Timestamp.valueOf("2024-01-12 05:30:00"), 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    cagg.ingest(row)
    val pend = cagg.pendingInvalidations()
    assert(pend.nonEmpty && pend.exists { case (lo, hi) =>
      lo <= us("2024-01-12 05:30:00") && hi > us("2024-01-12 05:30:00") })
    // the repair pass folds it in and the cagg matches the direct agg
    cagg.refreshInvalidated()
    cagg.refresh(us("2024-01-10 00:00:00"), us("2024-02-01 00:00:00"))
    assert(cagg.materialized.collect().toSet === directAgg(ht).collect().toSet)
  }

  test("two caggs on one hypertable: invalidations distributed and cleared " +
      "independently (cagg_invalidation.out)") {
    // the reference's core invalidation scenario: cond_10 and cond_20 on
    // the same hypertable — a mutation below both thresholds must land in
    // BOTH logs, and refreshing one must not clear the other's
    val dir = Files.createTempDirectory("graft_cagg2").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(Tables.table(spark, "/root/testdata/sf0.001", "events"))
    val hourly = ContinuousAggregate.create(spark, s"$dir/hourly", ht, defn)
    val daily = ContinuousAggregate.create(spark, s"$dir/daily", ht,
      CaggDef("1 day", Seq("event_type"), Seq(count(lit(1)).as("n"))))
    assert(ht.caggPaths.toSet === Set(s"$dir/hourly", s"$dir/daily"))

    hourly.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    daily.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    // before any refresh moved thresholds nothing was logged; now a plain
    // hypertable WRITE (no cagg in sight) lands in both logs
    val late = Seq((900100L, Timestamp.valueOf("2024-01-05 10:30:00"), 2L, "view", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    ht.write(late)
    val t = us("2024-01-05 10:30:00")
    assert(hourly.pendingInvalidations().exists { case (lo, hi) => lo <= t && hi > t })
    assert(daily.pendingInvalidations().exists { case (lo, hi) => lo <= t && hi > t })

    // refreshing ONE cagg clears only its own log (invalidation.c moves
    // entries into per-cagg logs exactly so this independence holds)
    hourly.refreshInvalidated()
    assert(hourly.pendingInvalidations().isEmpty)
    assert(daily.pendingInvalidations().nonEmpty)
    assert(hourly.materialized.collect().toSet === directAgg(ht).collect().toSet)

    // the second cagg still repairs correctly from its own log
    daily.refreshInvalidated()
    assert(daily.pendingInvalidations().isEmpty)
    val dailyDirect = ht.read()
      .groupBy(gf.time_bucket("1 day", $"ts").as("bucket"), $"event_type")
      .agg(count(lit(1)).as("n"))
    assert(daily.materialized.collect().toSet === dailyDirect.collect().toSet)

    // DELETE also fans out (process_utility.c DML hook)
    ht.deleteWhere($"event_id" === 900100L)
    assert(hourly.pendingInvalidations().nonEmpty)
    assert(daily.pendingInvalidations().nonEmpty)
    hourly.refreshInvalidated()
    assert(hourly.materialized.collect().toSet === directAgg(ht).collect().toSet)

    // mutations entirely ABOVE a threshold are not logged (the region was
    // never materialized; the next refresh recomputes it from raw)
    daily.refreshInvalidated()
    val future = Seq((900101L, Timestamp.valueOf("2024-03-20 10:30:00"), 2L, "view", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    ht.write(future)
    assert(hourly.pendingInvalidations().isEmpty)
    assert(daily.pendingInvalidations().isEmpty)
  }

  test("a delete touching only the first and last chunk logs two disjoint " +
      "invalidations, not one spanning range") {
    val (ht, cagg) = freshCagg()
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    val chunks = ht.showChunks()
    // delete by time: the first day of the first chunk and everything from
    // the last chunk's start — two touched chunks, three untouched
    ht.deleteWhere($"ts" < new Timestamp((chunks.head.startMicros + 86400000000L) / 1000)
      || $"ts" >= new Timestamp(chunks.last.startMicros / 1000))
    val pend = cagg.pendingInvalidations()
    // two entries, and the middle chunks are NOT covered
    assert(pend.size === 2, pend.toString)
    val mid = (chunks(2).startMicros + chunks(2).endMicros) / 2
    assert(!pend.exists { case (lo, hi) => lo <= mid && mid < hi })
    cagg.refreshInvalidated()
    assert(cagg.materialized.collect().toSet === directAgg(ht).collect().toSet)
  }

  test("drop_chunks invalidates caggs over the removed range (chunk.c:4064)") {
    val (ht, cagg) = freshCagg()
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    val first = ht.showChunks().head
    ht.dropChunks(first.endMicros)
    val pend = cagg.pendingInvalidations()
    assert(pend.exists { case (lo, hi) =>
      lo <= first.startMicros && hi >= first.endMicros })
    // refreshing folds the drop in: those buckets disappear from the cagg
    cagg.refreshInvalidated()
    assert(cagg.materialized.collect().toSet === directAgg(ht).collect().toSet)
  }

  test("parent refresh propagates invalidations to hierarchical children") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cagg_prop").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(Tables.table(spark, "/root/testdata/sf0.001", "events"))
    val hourly = ContinuousAggregate.create(spark, s"$dir/hourly", ht,
      CaggDef("1 hour", Seq("event_type"), Seq(count(lit(1)).as("n"))))
    hourly.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    val daily = ContinuousAggregate.create(spark, s"$dir/daily", hourly.asSource,
      CaggDef("1 day", Seq("event_type"), Seq(sum(col("n")).as("n"))))
    daily.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    // a late row lands in the BASE hypertable; the parent's repair pass
    // re-materializes its bucket and must invalidate the child there —
    // the reference's cagg-on-cagg invalidation flow
    val row = Seq((900009L, Timestamp.valueOf("2024-01-05 10:30:00"), 7L, "click", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    hourly.ingest(row)
    hourly.refreshInvalidated()
    val pend = daily.pendingInvalidations()
    assert(pend.exists { case (lo, hi) =>
      lo <= us("2024-01-05 10:00:00") && hi > us("2024-01-05 10:00:00") },
      s"child not invalidated by the parent's repair: $pend")
    daily.refreshInvalidated()
    val direct = ht.read()
      .groupBy(gf.time_bucket("1 day", $"ts").as("bucket"), $"event_type")
      .agg(count(lit(1)).as("n"))
    assert(daily.materialized.collect().toSet === direct.collect().toSet)
  }

  test("refresh of a window with no raw rows keeps the cagg readable") {
    val (_, cagg) = freshCagg()
    // testdata is 2024; a 2030 window has zero raw rows — the refresh
    // leaves mat/ without chunk dirs but must not break reads
    cagg.refresh(us("2030-01-01 00:00:00"), us("2030-01-02 00:00:00"))
    assert(cagg.watermark === us("2030-01-02 00:00:00"))
    assert(cagg.materialized.count() === 0)
    assert(cagg.realtime.count() === 0)
  }

  test("partial-state varSamp: single-row groups NULL, constant groups 0") {
    import graft.streaming.PartialAgg
    val df = Seq(("a", 1.5), ("b", 2.0), ("b", 2.0), ("c", 1.0), ("c", 3.0)).toDF("k", "v")
    val p = PartialAgg.partials($"v", "v")
    val out = df.groupBy("k").agg(p.head, p.tail: _*)
      .select($"k", PartialAgg.varSamp("v"), PartialAgg.stddevSamp("v"))
      .collect().map(r => r.getString(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out("a") === ((None, None)))       // n = 1 → NULL, not 0/0 = NaN
    assert(out("b") === ((Some(0.0), Some(0.0)))) // constant → 0, never NaN
    assert(out("c") === ((Some(2.0), Some(math.sqrt(2.0)))))
  }

  test("refresh window is inscribed to whole buckets") {
    val (_, cagg) = freshCagg()
    val (s, e) = cagg.inscribe(us("2024-01-05 10:30:00"), us("2024-01-05 13:30:00"))
    assert(s === us("2024-01-05 11:00:00"))
    assert(e === us("2024-01-05 13:00:00"))
    // a window inscribing to zero whole buckets errors (refresh.c:1033),
    // never silently no-ops
    val err = intercept[IllegalArgumentException](
      cagg.refresh(us("2024-01-05 10:30:00"), us("2024-01-05 10:45:00")))
    assert(err.getMessage.contains("refresh window too small"))
  }

  test("zero/negative bucket widths error at definition (cagg_errors.out:241-255)") {
    for (w <- Seq("0 days", "-4 weeks", "-1 month", "0")) {
      val err = intercept[IllegalArgumentException](
        CaggDef(w, Seq("event_type"), Seq(count(lit(1)).as("n"))))
      assert(err.getMessage.contains("must be greater than zero")
          || err.getMessage.contains("must be positive"),
        s"width '$w': unexpected message ${err.getMessage}")
    }
  }

  test("monthly cagg: refresh across month boundaries, late data re-materialized") {
    val dir = Files.createTempDirectory("graft_cagg_m").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "1 month")
    // synthetic rows spanning Jan..Apr 2024 (incl. leap February)
    val rows = (0 until 2000).map { i =>
      (i.toLong, new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime
        + i.toLong * 77 * 60 * 1000), if (i % 3 == 0) "a" else "b", i * 1.5)
    }
    ht.write(rows.toDF("id", "ts", "kind", "v"))
    assert(ht.showChunks().map(c => (c.start.toString.take(10), c.end.toString.take(10))) ===
      Seq(("2024-01-01", "2024-02-01"), ("2024-02-01", "2024-03-01"),
        ("2024-03-01", "2024-04-01"), ("2024-04-01", "2024-05-01")))
    val mdefn = CaggDef("1 month", Seq("kind"), Seq(
      count(lit(1)).as("n"),
      expr("CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE)").as("sum_v")))
    val cagg = ContinuousAggregate.create(spark, s"$dir/cagg", ht, mdefn)
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-05-01 00:00:00"))
    def direct = ht.read()
      .groupBy(gf.time_bucket("1 month", $"ts").as("bucket"), $"kind")
      .agg(mdefn.aggs.head, mdefn.aggs.tail: _*)
    assert(cagg.materialized.collect().toSet === direct.collect().toSet)
    // late row into February, below the watermark
    cagg.ingest(Seq((9999L, Timestamp.valueOf("2024-02-15 12:00:00"), "a", 100.0))
      .toDF("id", "ts", "kind", "v"))
    cagg.refreshInvalidated()
    assert(cagg.materialized.collect().toSet === direct.collect().toSet)
  }

  test("cagg with a dimension join: materialization, late data, realtime agree") {
    val dir = Files.createTempDirectory("graft_cagg_j").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(Tables.table(spark, "/root/testdata/sf0.001", "events"))
    val dim = () => Tables.table(spark, "/root/testdata/sf0.001", "customer")
      .join(Tables.table(spark, "/root/testdata/sf0.001", "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("user_id"), col("n_name"))
    val jdefn = CaggDef("1 day", Seq("n_name"), Seq(
      count(lit(1)).as("n"),
      expr("CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE)").as("sum_value")),
      dimJoin = Some(graft.streaming.CaggJoin(dim, Seq("user_id"))))
    val cagg = ContinuousAggregate.create(spark, s"$dir/cagg", ht, jdefn)
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    def direct = ht.read().join(dim(), Seq("user_id"))
      .groupBy(gf.time_bucket("1 day", $"ts").as("bucket"), $"n_name")
      .agg(jdefn.aggs.head, jdefn.aggs.tail: _*)
    assert(cagg.materialized.collect().toSet === direct.collect().toSet)
    // late fact row below the watermark re-materializes through the join
    cagg.ingest(Seq((99999L, Timestamp.valueOf("2024-01-05 12:00:00"), 3L, "click", 42.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    cagg.refreshInvalidated()
    assert(cagg.materialized.collect().toSet === direct.collect().toSet)
    // realtime = materialized below watermark ∪ live (joined) above
    assert(cagg.realtime.collect().toSet === direct.collect().toSet)
  }

  test("late data below the watermark is invalidated and re-materialized") {
    val (ht, cagg) = freshCagg()
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    // pick an hour bucket that exists in the materialization
    val probe = cagg.materialized.where($"event_type" === "click")
      .orderBy($"bucket").select($"bucket", $"n").as[(Timestamp, Long)].head()
    val (bkt, before) = probe
    def nAt(): Long = cagg.materialized
      .where($"bucket" === bkt && $"event_type" === "click")
      .select($"n").as[Long].head()
    // out-of-order row lands mid-bucket, far below the watermark
    val lateTs = new Timestamp(bkt.getTime + 30 * 60 * 1000)
    val late = Seq((999999L, lateTs, 1L, "click", 42.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    cagg.ingest(late)
    assert(cagg.pendingInvalidations().nonEmpty)
    // not yet visible in the materialization
    assert(nAt() === before)
    cagg.refreshInvalidated()
    assert(cagg.pendingInvalidations().isEmpty)
    assert(nAt() === before + 1)
    // the rest of the materialization still matches a direct aggregation
    assert(cagg.materialized.collect().toSet === directAgg(ht).collect().toSet)
  }

  test("realtime view unions materialized and live slices") {
    val (ht, cagg) = freshCagg()
    // materialize only the first half of January
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-01-15 00:00:00"))
    assert(cagg.watermark === us("2024-01-15 00:00:00"))
    val rt = cagg.realtime.collect().toSet
    val direct = directAgg(ht).collect().toSet
    assert(rt === direct)
    // and the mat table alone is only the first half
    assert(cagg.materialized.where($"bucket" >= Timestamp.valueOf("2024-01-15 00:00:00")).count() === 0)
  }

  test("a held realtime view sees no rows above its probed max; fresh " +
      "reads after appends reuse the live branch's compiled code") {
    val (ht, cagg) = freshCagg()
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-01-15 00:00:00"))
    def appendAfterMax(id: Long): Unit = {
      val hi = new Timestamp(ht.timeBounds.get._2 / 1000L + 1000L)
      ht.write(Seq((id, hi, 1L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    }
    val held = cagg.realtime
    val before = held.collect().toSet
    appendAfterMax(900001L)
    assert(held.collect().toSet === before)
    def rows(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum($"n")).head().getLong(0)
    assert(rows(cagg.realtime) === rows(held) + 1)
    // the live branch's end bound moves with every append; it must not be
    // part of the generated code
    appendAfterMax(900002L)
    val fresh = cagg.realtime
    val c0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val n = rows(fresh)
    val c1 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(n === rows(held) + 2)
    assert(c1 - c0 === 0L, s"a fresh realtime read compiled ${c1 - c0} code bodies")
  }

  test("refresh policy runs batched, offset-windowed refreshes") {
    import graft.streaming.CaggRefreshPolicy
    val (ht, cagg) = freshCagg()
    val now = us("2024-01-21 00:00:00")
    val day = 86400000000L
    // refresh [now-20d, now-1d) in 5-day (120-bucket) batches, newest first
    val done = CaggRefreshPolicy.run(cagg, now,
      startOffsetMicros = 20 * day, endOffsetMicros = 1 * day,
      bucketsPerBatch = 120, refreshNewestFirst = true)
    assert(done.size === 4) // 19 days / 5-day batches -> 4 windows
    assert(done.head._2 === us("2024-01-20 00:00:00")) // newest first
    assert(cagg.watermark === us("2024-01-20 00:00:00"))
    // materialization covers exactly the policy window
    val mat = cagg.materialized
    assert(mat.where($"bucket" < java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).count() === 0)
    assert(mat.where($"bucket" >= java.sql.Timestamp.valueOf("2024-01-20 00:00:00")).count() === 0)
    val expected = directAgg(ht)
      .where($"bucket" >= java.sql.Timestamp.valueOf("2024-01-01 00:00:00") &&
        $"bucket" < java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))
      .collect().toSet
    assert(mat.collect().toSet === expected)
  }

  test("streaming ingest via foreachBatch feeds the cagg") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (ht, cagg) = freshCagg()
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    val n0 = cagg.materialized.agg(sum($"n")).as[Long].head()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val q = CaggStream.attach(cagg, stream, ckpt, refreshEachBatch = true)
    mem.addData((1000001L, Timestamp.valueOf("2024-01-10 10:10:00"), 5L, "click", 1.0, "{}"))
    mem.addData((1000002L, Timestamp.valueOf("2024-01-10 10:20:00"), 5L, "view", 2.0, "{}"))
    q.processAllAvailable()
    q.stop()
    val n1 = cagg.materialized.agg(sum($"n")).as[Long].head()
    assert(n1 === n0 + 2)
    assert(cagg.materialized.collect().toSet === directAgg(ht).collect().toSet)
  }

  test("attachFromHypertable: a q100-shaped pipeline started during a GC " +
    "grace window ingests each row exactly once, dead files excluded") {
    import graft.sources.Columnstore
    // FEED table with a rewrite history: a compressed chunk leaves its
    // superseded generation grace-retained — a stream start that listed
    // it would emit those rows TWICE into the cagg
    val dir = Files.createTempDirectory("graft_cagg_sinfo").toString
    val feed = Hypertable.create(spark, s"$dir/feed", "ts",
      chunkWidth = "7 days", catalog = "table")
    val events = Tables.table(spark, "/root/testdata/sf0.001", "events")
    feed.write(events)
    Columnstore.compressChunk(spark, feed.showChunks().head.path,
      Columnstore.Options(orderBy = Seq("ts")))
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    val cagg = ContinuousAggregate.create(spark, s"$dir/cagg", ht, defn)
    val ckpt = Files.createTempDirectory("graft_ckpt_sinfo").toString
    val q = CaggStream.attachFromHypertable(cagg, feed, ckpt,
      refreshEachBatch = true)
    try q.processAllAvailable()
    finally q.stop()
    // exactly-once in the RESULT: the cagg equals the direct aggregation
    // over the feed — the graced dead generation was not double-ingested
    assert(ht.read().count() === events.count())
    cagg.refreshAll()
    assert(cagg.materialized.collect().toSet ===
      directAgg(feed).collect().toSet)
  }

  test("attachFromHypertableCatalog: the cagg pipeline streams while the " +
    "FEED table compresses mid-stream — no re-ingest of rewritten rows") {
    import graft.sources.Columnstore
    val dir = Files.createTempDirectory("graft_cagg_catsrc").toString
    val feed = Hypertable.create(spark, s"$dir/feed", "ts",
      chunkWidth = "7 days", catalog = "table")
    val events = Tables.table(spark, "/root/testdata/sf0.001", "events")
    val (early, late) = (events.where(dayofmonth($"ts") <= 20),
      events.where(dayofmonth($"ts") > 20))
    feed.write(early)
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    val cagg = ContinuousAggregate.create(spark, s"$dir/cagg", ht, defn)
    val q = CaggStream.attachFromHypertable(cagg, feed,
      Files.createTempDirectory("graft_ckpt_catsrc").toString,
      refreshEachBatch = true)
    try {
      q.processAllAvailable()
      // maintenance on the FEED while the stream runs: a file-tailing
      // source would re-emit the compressed chunk's rows into the cagg
      Columnstore.compressChunk(spark, feed.showChunks().head.path,
        Columnstore.Options(orderBy = Seq("ts")))
      feed.write(late)
      q.processAllAvailable()
    } finally q.stop()
    assert(ht.read().count() === events.count(),
      "a rewrite's files were re-ingested (or an append was lost)")
    cagg.refreshAll()
    assert(cagg.materialized.collect().toSet ===
      directAgg(feed).collect().toSet)
  }

  /** Like [[freshCagg]] but with 7-day mat chunks, so the one month of
    * events spans several mat chunks (the default 10× sizing would put
    * all of January in a single 70-day chunk).
    */
  private def freshCaggChunked(): (Hypertable, ContinuousAggregate) = {
    val dir = Files.createTempDirectory("graft_cagg").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(Tables.table(spark, "/root/testdata/sf0.001", "events"))
    val cagg = ContinuousAggregate.create(spark, s"$dir/cagg", ht,
      defn.copy(matChunkWidth = "7 days"))
    (ht, cagg)
  }

  test("compressed cagg: mat chunks compress, reads unchanged, refresh " +
      "reverts touched chunks to rowstore (cagg compression)") {
    val (ht, cagg) = freshCaggChunked()
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    val before = cagg.materialized.collect().toSet
    assert(cagg.compressedMatChunks.isEmpty)
    // compress everything fully older than Jan 25 (cutoff in bucket time)
    val done = cagg.compressMaterialization(Some(us("2024-01-25 00:00:00")))
    assert(done.nonEmpty)
    assert(cagg.compressedMatChunks.toSet === done.toSet)
    assert(done.toSet.subsetOf(cagg.matChunks.toSet))
    // every compressed chunk ends at/before the cutoff
    assert(cagg.matChunks.toSet.diff(done.toSet).nonEmpty,
      "cutoff should leave the newest chunk uncompressed")
    // reads are layout-independent
    assert(cagg.materialized.collect().toSet === before)
    assert(cagg.realtime.collect().toSet ===
      directAgg(ht).collect().toSet)
    // a second pass is a no-op (already compressed)
    assert(cagg.compressMaterialization(Some(us("2024-01-25 00:00:00"))).isEmpty)
    // late data into a compressed chunk: repair refresh rewrites it back
    // to rowstore and the answer stays exact
    val late = Seq((910000L, Timestamp.valueOf("2024-01-03 07:30:00"), 9L, "click", 2.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    cagg.ingest(late)
    cagg.refreshInvalidated()
    assert(cagg.materialized.collect().toSet === directAgg(ht).collect().toSet)
    assert(cagg.compressedMatChunks.size < done.size,
      "the refreshed chunk must have reverted to rowstore")
    // full recompress (no cutoff) takes every chunk
    val all = cagg.compressMaterialization()
    assert(cagg.compressedMatChunks.toSet === cagg.matChunks.toSet)
    assert(all.nonEmpty)
    assert(cagg.materialized.collect().toSet === directAgg(ht).collect().toSet)
    // decompress restores rowstore everywhere, same rows
    assert(cagg.decompressMaterialization().toSet === cagg.matChunks.toSet)
    assert(cagg.compressedMatChunks.isEmpty)
    assert(cagg.materialized.collect().toSet === directAgg(ht).collect().toSet)
  }

  test("cagg retention: dropMatChunks expires old materialization only") {
    val (ht, cagg) = freshCaggChunked()
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    val chunksBefore = cagg.matChunks
    assert(chunksBefore.size > 1)
    val cut = chunksBefore.last // keep only the newest chunk
    val dropped = cagg.dropMatChunks(cut)
    assert(dropped.nonEmpty && dropped.forall(_ < cut))
    assert(cagg.matChunks.contains(cut))
    assert(cagg.matChunks === chunksBefore.filterNot(dropped.contains))
    // materialized serves the surviving window; raw ht untouched
    assert(cagg.matChunks.nonEmpty)
    assert(ht.read().count() === Tables.table(spark, "/root/testdata/sf0.001", "events").count())
  }

  test("policy bundle at the cagg path compresses and expires the " +
      "materialization, not the hypertable") {
    val dir = Files.createTempDirectory("graft_caggpol").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(Tables.table(spark, "/root/testdata/sf0.001", "events"))
    val cagg = ContinuousAggregate.create(spark, s"$dir/cagg", ht,
      defn.copy(matChunkWidth = "7 days"))
    val now = us("2024-02-01 00:00:00")
    graft.sources.Policies.add(spark, s"$dir/cagg", graft.sources.PolicySet(
      refreshStartOffsetMicros = Some(40L * 86400000000L),
      refreshEndOffsetMicros = Some(0L),
      columnstoreAfterMicros = Some(20L * 86400000000L),
      dropAfterMicros = Some(45L * 86400000000L))) // nothing old enough to drop
    val report = graft.sources.Policies.runAll(ht, Some(cagg), s"$dir/cagg", now)
    assert(report.exists(_.startsWith("refreshed")))
    assert(report.exists(_.startsWith("columnstore mat")))
    assert(!report.exists(_.startsWith("dropped")))
    // mat chunks ending before Jan 12 are compressed; ht chunks untouched
    assert(cagg.compressedMatChunks.nonEmpty)
    assert(ht.showChunks().forall(c =>
      !graft.sources.Columnstore.isCompressed(spark, c.path)))
    assert(cagg.materialized.collect().toSet === directAgg(ht).collect().toSet)
  }

  test("continuous_aggregates info view reports definition and state") {
    val (ht, cagg) = freshCaggChunked()
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    cagg.compressMaterialization(Some(us("2024-01-25 00:00:00")))
    val row = graft.operators.Info.continuousAggregates(Seq(cagg))
      .where($"view_name" === cagg.path).head()
    assert(row.getAs[String]("hypertable_name") === ht.path)
    assert(row.getAs[String]("bucket_width") === "1 hour")
    assert(row.getAs[String]("group_columns") === "event_type")
    assert(row.getAs[Boolean]("finalized"))
    assert(row.getAs[Boolean]("compression_enabled"))
    assert(row.getAs[Long]("num_mat_chunks") === cagg.matChunks.size.toLong)
    assert(row.getAs[Long]("num_compressed_mat_chunks") ===
      cagg.compressedMatChunks.size.toLong)
    assert(row.getAs[Long]("watermark_micros") === us("2024-02-01 00:00:00"))
    assert(row.getAs[Long]("pending_invalidations") === 0L)
    assert(row.getAs[Long]("num_children") === 0L)
    // bucket-function catalog columns (continuous_aggs_bucket_function)
    assert(row.getAs[String]("bucket_timezone") === null)
    assert(row.isNullAt(row.fieldIndex("bucket_origin_micros")))
    assert(row.getAs[Boolean]("bucket_fixed_width"))
    // a tz cagg reports its zone and variable width
    val tzc = graft.streaming.ContinuousAggregate.create(spark,
      java.nio.file.Files.createTempDirectory("graft_info_tz").toString + "/c",
      ht, graft.streaming.CaggDef("1 day", Seq("event_type"),
        Seq(count(lit(1)).as("n")), bucketTz = Some("America/New_York")))
    val trow = graft.operators.Info.continuousAggregates(Seq(tzc)).head()
    assert(trow.getAs[String]("bucket_timezone") === "America/New_York")
    assert(!trow.getAs[Boolean]("bucket_fixed_width"))
  }

  test("default refresh skips clean regions; force recomputes the window " +
      "(refresh.c:1377,1476 semantics)") {
    val dir = Files.createTempDirectory("graft_cagg_clean").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(Tables.table(spark, "/root/testdata/sf0.001", "events"))
    val cagg = ContinuousAggregate.create(spark, s"$dir/cagg", ht,
      CaggDef("1 hour", Seq("event_type"), Seq(
        count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE)").as("sum_value")),
        matChunkWidth = "7 days"))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def matState(): Map[String, Long] = {
      // walk chunk dirs RECURSIVELY (round 12: live content sits in
      // _mat_gen=<ts> generation subdirs); key on chunk-relative file path
      val mp = new org.apache.hadoop.fs.Path(s"$dir/cagg/mat")
      if (!fs.exists(mp)) return Map.empty
      def files(d: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
        fs.listStatus(d).toSeq.flatMap(st =>
          if (st.isDirectory) files(st.getPath) else Seq(st))
      fs.listStatus(mp).filter(_.isDirectory).flatMap(d =>
        files(d.getPath).map(f =>
          s"${d.getPath.getName}/${f.getPath.getName}" -> f.getModificationTime)).toMap
    }
    def direct() = ht.read()
      .groupBy(gf.time_bucket("1 hour", $"ts").as("bucket"), $"event_type")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE)").as("sum_value"))

    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    val afterFirst = matState()
    assert(afterFirst.nonEmpty)
    // the whole window is materialized and clean → the default pass
    // rewrites NOTHING (every mat file keeps its name and mtime)
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    assert(matState() === afterFirst, "clean re-refresh must be a no-op")
    // force re-materializes regardless
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"), force = true)
    assert(matState() !== afterFirst, "forced refresh must rewrite")

    // a late row dirties ONE bucket: the default whole-window pass must
    // rewrite only the mat chunk(s) holding it, not the other weeks
    val preDirty = matState()
    cagg.ingest(Seq((990009L, Timestamp.valueOf("2024-01-10 05:30:00"), 1L,
        "click", 42.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    val postDirty = matState()
    val changedChunks = (postDirty.keySet ++ preDirty.keySet)
      .filter(k => preDirty.get(k) != postDirty.get(k)).map(_.split("/")(0))
    assert(changedChunks.size === 1,
      s"expected exactly the dirty week's mat chunk rewritten, got $changedChunks")
    assert(cagg.materialized.collect().toSet === direct().collect().toSet)
  }

  test("re-opening a cagg stays clean; a marker-less (pre-marker) cagg " +
      "conservatively re-dirties") {
    val (ht, cagg) = freshCagg()
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    assert(cagg.pendingInvalidations().isEmpty)
    // re-open through create(): the `_created` marker says "not first
    // creation", so nothing re-dirties
    val reopened = ContinuousAggregate.create(spark, cagg.path, ht, defn)
    assert(reopened.pendingInvalidations().isEmpty)
    // an on-disk cagg from before the marker existed (dir present, no
    // marker): create() must append the creation entry — a redundant
    // recompute on the next refresh, never a silent gap
    val fs = new org.apache.hadoop.fs.Path(cagg.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(cagg.path, "_created"), false)
    val legacy = ContinuousAggregate.create(spark, cagg.path, ht, defn)
    assert(legacy.pendingInvalidations().nonEmpty)
    // and the recompute converges back to clean + correct
    legacy.refreshInvalidated()
    assert(legacy.pendingInvalidations().isEmpty)
    assert(legacy.materialized.collect().toSet === directAgg(ht).collect().toSet)
  }

  test("bucket predicates over the materialization prune mat chunks at " +
      "plan time (cagg planner chunk exclusion)") {
    val dir = Files.createTempDirectory("graft_cagg_prune").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(Tables.table(spark, "/root/testdata/sf0.001", "events"))
    val d = defn.copy(matChunkWidth = "7 days")
    val cagg = ContinuousAggregate.create(spark, s"$dir/cagg", ht, d)
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    def parts(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }.head
    val total = parts(cagg.materialized)
    assert(total >= 4, s"expected >=4 weekly mat chunks, got $total")
    val pruned = parts(cagg.materialized.where(
      $"bucket" >= java.sql.Timestamp.valueOf("2024-01-10 00:00:00") &&
      $"bucket" < java.sql.Timestamp.valueOf("2024-01-12 00:00:00")))
    assert(pruned <= 2, s"expected <=2 mat chunks after pruning, got $pruned")
    // and the pruned read returns exactly the full read's matching rows
    assert(cagg.materialized.where(
        $"bucket" >= java.sql.Timestamp.valueOf("2024-01-10 00:00:00") &&
        $"bucket" < java.sql.Timestamp.valueOf("2024-01-12 00:00:00"))
      .collect().toSet ===
      cagg.materialized.collect().filter { r =>
        val b = r.getTimestamp(0)
        !b.before(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")) &&
          b.before(java.sql.Timestamp.valueOf("2024-01-12 00:00:00"))
      }.toSet)
  }

  test("drop() unregisters from the fan-out and refuses while dependent " +
      "caggs exist (DROP MATERIALIZED VIEW semantics)") {
    val (ht, cagg) = freshCagg()
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    val daily = ContinuousAggregate.create(spark, cagg.path + "_daily",
      cagg.asSource, CaggDef("1 day", Seq("event_type"),
        Seq(sum($"n").as("n"))))
    // RESTRICT: a parent with dependents cannot be dropped
    intercept[IllegalArgumentException](cagg.drop())
    daily.drop()
    cagg.drop()
    assert(ht.caggPaths.isEmpty)
    val fs = new org.apache.hadoop.fs.Path(ht.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(cagg.path)))
    // later DML must NOT resurrect the dropped cagg's invalidation dir
    ht.write(Seq((990200L, Timestamp.valueOf("2024-01-10 05:30:00"), 1L,
        "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(cagg.path)))
    // and the hypertable itself drops only once cagg-free (DROP TABLE
    // RESTRICT): with a fresh cagg registered it refuses
    val again = ContinuousAggregate.create(spark, cagg.path, ht, defn)
    intercept[IllegalArgumentException](ht.drop())
    again.drop()
    ht.drop()
    assert(!fs.exists(new org.apache.hadoop.fs.Path(ht.path)))
  }

  test("skip_cagg_invalidation toggle suppresses the DML fan-out " +
      "(cagg_skip_invalidation.sql)") {
    val (ht, cagg) = freshCagg()
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    assert(cagg.pendingInvalidations().isEmpty)
    def late(id: Long) =
      Seq((id, Timestamp.valueOf("2024-01-10 05:30:00"), 1L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // toggle on: the below-threshold write does NOT log (bulk-backfill
    // escape hatch — the operator refreshes the range explicitly after)
    spark.conf.set("spark.graft.skip_cagg_invalidation", "on")
    try ht.write(late(990100L))
    finally spark.conf.unset("spark.graft.skip_cagg_invalidation")
    assert(cagg.pendingInvalidations().isEmpty)
    // default (off): the same write logs and the cagg reads as dirty
    ht.write(late(990101L))
    assert(cagg.pendingInvalidations().nonEmpty)
  }

  test("unbounded refresh windows and WITH [NO] DATA " +
      "(cagg_refresh_common.sql NULL-window scenarios)") {
    val dir = Files.createTempDirectory("graft_cagg_nullwin").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    val cagg = ContinuousAggregate.create(spark, s"$dir/cagg", ht, defn)
    // refresh on a cagg over an EMPTY hypertable: the reference notices
    // "nothing to refresh" — a no-op, not an error (forced too)
    assert(cagg.refreshAll() === None)
    assert(cagg.refreshAll(force = true) === None)
    // data lands; the cagg stays empty until refreshed (WITH NO DATA)
    ht.write(Tables.table(spark, "/root/testdata/sf0.001", "events"))
    assert(cagg.materialized.isEmpty)
    // one-sided unbounded windows: forward from mid, then back to mid
    val mid = us("2024-01-15 00:00:00")
    assert(cagg.refresh(Some(mid), None, force = false).nonEmpty)
    assert(cagg.refresh(None, Some(mid), force = false).nonEmpty)
    assert(cagg.materialized.collect().toSet === directAgg(ht).collect().toSet)
    // WITH DATA: whole-range refresh at creation
    val wd = ContinuousAggregate.create(spark, s"$dir/cagg_wd", ht, defn,
      withData = true)
    assert(wd.materialized.collect().toSet === directAgg(ht).collect().toSet)
  }

  test("a delete that empties the newest chunk neither crashes bounds " +
      "discovery nor strands the cagg") {
    val (ht, cagg) = freshCagg()
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    val lastStart = ht.showChunks().last.startMicros
    val boundsBefore = ht.timeBounds.get
    // wipe every row of the newest chunk — rewriteChunkDir leaves a listed,
    // file-less dir behind
    ht.deleteWhere(unix_micros($"ts") >= lastStart)
    // bounds walk moves inward past the empty edge dir instead of
    // crashing or reporting None
    val boundsAfter = ht.timeBounds.get
    assert(boundsAfter._2 <= lastStart + 1)
    assert(boundsAfter._1 === boundsBefore._1)
    // the delete invalidated the cagg; the repair pass must run clean and
    // remove the deleted range's buckets
    assert(cagg.pendingInvalidations().nonEmpty)
    cagg.refreshInvalidated()
    assert(cagg.pendingInvalidations().isEmpty)
    assert(cagg.materialized.collect().toSet === directAgg(ht).collect().toSet)
  }
}
