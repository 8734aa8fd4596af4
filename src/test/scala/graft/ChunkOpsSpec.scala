package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Columnstore, Hypertable, Jobs, Policies, PolicySet}
import graft.streaming.{CaggDef, ContinuousAggregate}

/** attach_chunk / detach_chunk, set_chunk_time_interval, and the
  * experimental policy bundle (add/show/alter/remove/run).
  */
class ChunkOpsSpec extends AnyFunSuite {
  lazy val spark = Graft.session("chunk-ops-spec", "local[4]", 4)

  private def events = Tables.table(spark, "/root/testdata/sf0.001", "events")

  private def freshHt(width: String = "7 days"): Hypertable = {
    val dir = Files.createTempDirectory("graft_chunkops").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = width)
    ht.write(events)
    ht
  }

  test("show/drop_chunks honor older_than AND newer_than bounds (ddl_api.sql)") {
    val ht = freshHt()
    val all = ht.showChunks()
    assert(all.size === 5)
    val cut = all(1).endMicros // end of the 2nd chunk
    // newer_than: range start >= cutoff (reference bound semantics)
    assert(ht.showChunks(newerThanMicros = Some(cut)).map(_.startMicros)
      === all.drop(2).map(_.startMicros))
    // both bounds: a middle slice
    assert(ht.showChunks(Some(all(3).startMicros), Some(cut)).map(_.startMicros)
      === Seq(all(2).startMicros))
    // drop the NEWEST chunks (data-revocation direction)
    val dropped = ht.dropChunks(None, Some(all(3).startMicros))
    assert(dropped.map(_.startMicros) === all.drop(3).map(_.startMicros))
    assert(ht.showChunks().size === 3)
    // at least one bound required
    intercept[IllegalArgumentException](ht.dropChunks(None, None))
  }

  test("detach then attach round-trips a chunk with zero data movement") {
    val ht = freshHt()
    val total = ht.read().count()
    val first = ht.showChunks().head
    val standalone = Files.createTempDirectory("graft_detached").toString + "/t"

    val out = ht.detachChunk(first.startMicros, standalone)
    assert(ht.showChunks().size === 4)
    val detachedRows = spark.read.parquet(standalone).count()
    assert(detachedRows > 0)
    assert(ht.read().count() === total - detachedRows)

    val back = ht.attachChunk(standalone, first.startMicros, first.endMicros)
    assert(back.startMicros === first.startMicros && back.endMicros === first.endMicros)
    assert(ht.showChunks().size === 5)
    assert(ht.read().count() === total)
    // exclusion still sees the re-attached chunk's recorded range
    val jan10 = ht.between(Timestamp.valueOf("2024-01-01 00:00:00"),
      Timestamp.valueOf("2024-01-08 00:00:00")).count()
    assert(jan10 === detachedRows)
    assert(out.path === standalone)
  }

  test("attach_chunk rejects ranges that don't contain the data") {
    val ht = freshHt()
    val first = ht.showChunks().head
    val standalone = Files.createTempDirectory("graft_badattach").toString + "/t"
    ht.detachChunk(first.startMicros, standalone)
    // declared range too narrow for the file's footer min/max
    val ex = intercept[IllegalArgumentException] {
      ht.attachChunk(standalone, first.startMicros, first.startMicros + 1000L)
    }
    assert(ex.getMessage.contains("outside declared range"))
    // overlap with an existing chunk is rejected too
    val second = ht.showChunks().head
    intercept[IllegalArgumentException] {
      ht.attachChunk(standalone, second.startMicros, second.endMicros)
    }
  }

  test("set_chunk_time_interval affects only new chunks") {
    val ht = freshHt(width = "1 day")
    val before = ht.showChunks()
    assert(before.size === 30)
    val ht2 = ht.setChunkTimeInterval("7 days")
    // existing chunks keep their 1-day ranges (stamped, not recomputed)
    val after = ht2.showChunks().take(30)
    assert(after.map(c => (c.startMicros, c.endMicros)) ===
      before.map(c => (c.startMicros, c.endMicros)))
    // new data (beyond the old span) lands in a 7-day chunk
    ht2.write(events.withColumn("ts", col("ts") + expr("INTERVAL 60 DAYS"))
      .limit(100))
    val newChunks = ht2.showChunks().drop(30)
    assert(newChunks.nonEmpty)
    assert(newChunks.forall(c => c.endMicros - c.startMicros === 7L * 86400000000L))
    // reopening from disk sees the new width
    assert(Hypertable.at(spark, ht.path).chunkWidthMicros === 7L * 86400000000L)
  }

  test("set_partitioning_interval is the generalized set_chunk_time_interval") {
    val ht = freshHt(width = "1 day")
    val ht2 = ht.setPartitioningInterval("7 days")
    assert(ht2.chunkWidthMicros === 7L * 86400000000L)
    assert(Hypertable.at(spark, ht.path).chunkWidthMicros === 7L * 86400000000L)
  }

  test("set_integer_now_func drives lag-based policies on bigint dimensions") {
    val dir = Files.createTempDirectory("graft_intnow").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "seq",
      chunkWidth = "1000", timeKind = "bigint")
    import spark.implicits._
    ht.write((0L until 5000L).map(i => (i, i % 7)).toDF("seq", "v"))
    assert(ht.showChunks().size === 5)
    // no func registered → lag-based "now" errors, like the reference
    intercept[IllegalStateException](ht.nowMicros())
    ht.setIntegerNowFunc("spec_int_now")
    intercept[IllegalStateException](ht.nowMicros()) // named but not registered
    Hypertable.registerIntegerNow("spec_int_now")(() => 4500L)
    assert(ht.nowMicros() === 4500L)
    // a retention job with no explicit "now" resolves via the integer-now func
    val r = Files.createTempDirectory("graft_intnow_jobs").toString
    val id = Jobs.add(spark, r, "policy_retention", 3600L * 1000000, nowMicros = 0L,
      config = Map("hypertable" -> ht.path, "drop_after" -> "2500"))
    assert(Jobs.run(spark, r, id, nowMicros = 0L))
    // now=4500, lag=2500 → cutoff 2000: chunks [0,1000) and [1000,2000) drop
    assert(ht.showChunks().map(_.startMicros) === Seq(2000L, 3000L, 4000L))
    // only bigint dimensions accept an integer-now func
    intercept[IllegalArgumentException](freshHt().setIntegerNowFunc("x"))
  }

  test("compression stats come from footers: sizes, rows, marker") {
    val ht = freshHt()
    val cutoff = Timestamp.valueOf("2024-01-15 00:00:00").getTime * 1000L
    Columnstore.compress(ht, Columnstore.Options(orderBy = Seq("ts")), Some(cutoff))
    val stats = graft.operators.Stats.compressionStats(ht)
    assert(stats.size === 5)
    assert(stats.count(_.compressed) === 2) // chunks fully before Jan 15
    assert(stats.map(_.rows).sum === events.count())
    stats.foreach { s =>
      assert(s.compressedBytes > 0 && s.uncompressedBytes > 0)
      assert(s.ratio > 0)
    }
    // zstd columnstore chunks actually compress the synthetic data
    stats.filter(_.compressed).foreach(s => assert(s.ratio > 1.0, s.toString))
  }

  test("information views expose hypertables, chunks, dimensions, policies") {
    val ht = freshHt()
    val cutoff = Timestamp.valueOf("2024-01-15 00:00:00").getTime * 1000L
    Columnstore.compress(ht, Columnstore.Options(orderBy = Seq("ts")), Some(cutoff))
    val hts = graft.operators.Info.hypertables(spark, Seq(ht.path)).collect()
    assert(hts.length === 1)
    assert(hts(0).getAs[Long]("num_chunks") === 5L)
    assert(hts(0).getAs[Long]("num_compressed_chunks") === 2L)
    val ch = graft.operators.Info.chunks(ht)
    assert(ch.count() === 5)
    assert(ch.where(org.apache.spark.sql.functions.col("is_compressed")).count() === 2)
    assert(ch.schema.fieldNames.contains("range_start"))
    val dims = graft.operators.Info.dimensions(ht).collect()
    assert(dims.map(_.getAs[String]("dimension_type")).toSeq === Seq("Time"))
    Policies.add(spark, ht.path, PolicySet(dropAfterMicros = Some(7L)))
    val pol = graft.operators.Info.policies(spark, ht.path).collect()
    assert(pol.map(_.getString(0)).toSeq === Seq("policy_retention"))
    // columnstore stats views (chunk + hypertable rollup, reference names)
    val cs = graft.operators.Info.chunkColumnstoreStats(ht)
    assert(cs.count() === 5)
    assert(cs.where(org.apache.spark.sql.functions.col("compression_status")
      === "Compressed").count() === 2)
    val hs = graft.operators.Info.hypertableColumnstoreStats(ht).head()
    assert(hs.getAs[Long]("total_chunks") === 5L)
    assert(hs.getAs[Long]("number_compressed_chunks") === 2L)
    assert(hs.getAs[Long]("before_compression_total_bytes") >=
      hs.getAs[Long]("after_compression_total_bytes"))
  }

  test("dimensions view reports month-width chunks as a month interval, not zero micros") {
    val dir = Files.createTempDirectory("graft_info_m").toString
    val ht = graft.sources.Hypertable.create(spark, s"$dir/ht", "ts",
      chunkWidth = "1 month")
    val d = graft.operators.Info.dimensions(ht).collect().head
    assert(d.getAs[Any]("time_interval_micros") === null)
    assert(d.getAs[Int]("month_interval") === 1)
  }

  test("policy bundle: add/show/alter/remove round-trip") {
    val dir = Files.createTempDirectory("graft_polset").toString
    val set = PolicySet(Some(40L * 86400000000L), Some(0L),
      Some(20L * 86400000000L), Some(25L * 86400000000L))
    Policies.add(spark, dir, set)
    assert(Policies.show(spark, dir) === Some(set))
    val altered = set.copy(dropAfterMicros = Some(99L))
    Policies.alter(spark, dir, altered)
    assert(Policies.show(spark, dir) === Some(altered))
    assert(Policies.remove(spark, dir))
    assert(Policies.show(spark, dir) === None)
    assert(!Policies.remove(spark, dir))
  }

  test("runAll executes refresh, columnstore, retention in order") {
    val dir = Files.createTempDirectory("graft_polrun").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(events) // spans 2024-01-01 .. 2024-01-30, 5 chunks
    val defn = CaggDef("1 day", Seq("event_type"), Seq(count(lit(1)).as("n")))
    val cagg = ContinuousAggregate.create(spark, s"$dir/cagg", ht, defn)
    val now = Timestamp.valueOf("2024-02-01 00:00:00").getTime * 1000L
    Policies.add(spark, s"$dir/ht", PolicySet(
      refreshStartOffsetMicros = Some(40L * 86400000000L), // window covers all data
      refreshEndOffsetMicros = Some(0L),
      columnstoreAfterMicros = Some(20L * 86400000000L),   // chunks ending ≤ Jan 12
      dropAfterMicros = Some(28L * 86400000000L)))         // chunks ending ≤ Jan 4
    val report = Policies.runAll(ht, Some(cagg), s"$dir/ht", now,
      Columnstore.Options(orderBy = Seq("ts")))
    // refresh materialized all days (refresh ran BEFORE the drop)
    assert(cagg.materialized.count() ===
      events.select(graft.functions.time_bucket("1 day", col("ts")), col("event_type"))
        .distinct().count())
    // first chunk ([01-01,01-08) ends Jan 8 > Jan 4 cutoff) survives;
    // none dropped here, one chunk ([01-01,01-08)) compressed? ends Jan 8 < Jan 12 → yes
    val chunks = ht.showChunks()
    assert(chunks.size === 5)
    assert(Columnstore.isCompressed(spark, chunks.head.path))
    assert(!Columnstore.isCompressed(spark, chunks.last.path))
    assert(report.exists(_.startsWith("refreshed")))
    assert(report.exists(_.startsWith("columnstore")))
    assert(!report.exists(_.startsWith("dropped")))
  }

  test("a split point colliding with an existing chunk's start refuses " +
    "instead of rewriting that chunk (CrashPointFuzzSpec seed 9123)") {
    // merge+rebirth geometry: split a chunk in half, merge the lower half
    // away, drop... simplest reproduction: a half-width chunk exists at
    // the midpoint of a full-width one after split+merge, then re-ingest
    // resurrects the full-width dir — its midpoint == the half chunk's
    // start. The buggy path made the upper half REWRITE the existing
    // chunk, silently replacing its rows.
    val dir = Files.createTempDirectory("graft_splitcollide").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts",
      chunkWidth = "7 days", catalog = "table")
    ht.write(events)
    val total = ht.read().count()
    val cs0 = ht.showChunks().sortBy(_.startMicros)
    val (a, b) = (cs0(0), cs0(1))
    // split B in half, then merge A with B's lower half -> B's dir is
    // tombstoned while a half chunk lives at B's midpoint
    val (bLow, bUp) = ht.splitChunk(b.startMicros)
    ht.mergeChunks(a.startMicros, bLow.startMicros)
    // re-ingest rows of B's lower range -> rebirth of B's dir at FULL
    // grid width (default range), overlapping the half chunk bUp
    val re = events.where(col("ts") >= new java.sql.Timestamp(
      b.startMicros / 1000) && col("ts") < new java.sql.Timestamp(
      bLow.endMicros / 1000)).limit(20)
    ht.write(re)
    val expected = total + re.count()
    assert(ht.read().count() === expected)
    val reborn = ht.showChunks().find(_.startMicros == b.startMicros).get
    assert(reborn.endMicros > bUp.startMicros,
      "setup must produce the overlapping-range geometry")
    // the reborn chunk's midpoint == bUp.start: split must REFUSE, and
    // every row must still be readable afterwards
    intercept[IllegalArgumentException](
      ht.splitChunk(reborn.startMicros, bUp.startMicros))
    assert(ht.read().count() === expected,
      "refused split must leave every chunk's rows intact")
  }

  test("an append routed elsewhere leaves a dropped chunk's tombstone " +
    "untouched, so GC reaps it under steady ingest; an append into the " +
    "dropped range still reborns it") {
    val dir = Files.createTempDirectory("graft_tombgrace").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts",
      chunkWidth = "7 days", catalog = "table")
    ht.write(events)
    val total = ht.read().count()
    val cs = ht.showChunks().sortBy(_.startMicros)
    assert(cs.size >= 3)
    def rowsOf(c: graft.sources.ChunkInfo) =
      events.where(col("ts") >= new Timestamp(c.startMicros / 1000) &&
        col("ts") < new Timestamp(c.endMicros / 1000))
    val (a, b, last) = (cs(0), cs(1), cs.last)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aDir = new org.apache.hadoop.fs.Path(s"$dir/ht/_chunk=${a.startMicros}")
    val tomb = new org.apache.hadoop.fs.Path(aDir, ".graft_dropped")
    ht.dropChunks(Some(a.endMicros), Some(a.startMicros))
    assert(fs.exists(tomb))
    // age the tombstone inside the default grace, so a rewrite shows
    val aged = System.currentTimeMillis() - 5000L
    fs.setTimes(tomb, aged, -1)
    val body = Hypertable.readSmallFile(fs, tomb)
    // steady ingest into ANOTHER chunk
    val late = rowsOf(last).limit(5)
    ht.write(late)
    assert(Hypertable.readSmallFile(fs, tomb) === body)
    assert(fs.getFileStatus(tomb).getModificationTime === aged,
      "an append that routes no rows into a dropped chunk reset its grace")
    // past a small grace, with no reader epoch, the next GC walk reaps it
    try {
      spark.conf.set("spark.graft.gc.graceMs", "50")
      graft.sources.ReaderEpochs.expireAll()
      ht.refreshChunkCatalog()
      assert(!fs.exists(aDir), "the graced-out dropped chunk was not reaped")
    } finally spark.conf.unset("spark.graft.gc.graceMs")
    // an append INTO a dropped range reborns the chunk as before
    ht.dropChunks(Some(b.endMicros), Some(b.startMicros))
    val re = rowsOf(b).limit(20)
    ht.write(re)
    val bDir = new org.apache.hadoop.fs.Path(s"$dir/ht/_chunk=${b.startMicros}")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(bDir, ".graft_dropped")),
      "the rebirth heal must lift the tombstone")
    assert(ht.showChunks().exists(_.startMicros == b.startMicros))
    assert(ht.read().count() ===
      total - rowsOf(a).count() - rowsOf(b).count() + late.count() + re.count())
  }
}
