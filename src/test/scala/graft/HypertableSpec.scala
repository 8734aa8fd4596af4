package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Hypertable, RetentionPolicy}

class HypertableSpec extends AnyFunSuite {
  lazy val spark = Graft.session("hypertable-spec", "local[4]", 4)

  private lazy val dir = Files.createTempDirectory("graft_ht").toString
  private lazy val ht = {
    val h = Hypertable.create(spark, s"$dir/events_ht", "ts", chunkWidth = "1 day",
      spaceCol = Some("user_id"), spacePartitions = 4)
    h.write(Tables.table(spark, "/root/testdata/sf0.001", "events"))
    h
  }


  /** First parquet leaf scan of a plan, unwrapping AQE. */
  private def leafScan(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
    def find(p: org.apache.spark.sql.execution.SparkPlan) =
      p.collectFirst { case f: FileSourceScanExec => f }
    val plan = df.queryExecution.executedPlan
    find(plan).orElse(plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        find(a.executedPlan)
      case _ => None
    }).get
  }

  test("write routes rows into daily chunks with space buckets") {
    val chunks = ht.showChunks()
    assert(chunks.size === 30) // events span 2024-01-01..2024-01-30
    assert(chunks.head.start.toString.startsWith("2024-01-01"))
    // space sub-dirs exist
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val sub = fs.listStatus(new org.apache.hadoop.fs.Path(chunks.head.path))
      .count(_.getPath.getName.startsWith("_space="))
    assert(sub === 4)
  }

  test("write commits one file per partition dir (shuffle-routed, no task×chunk blowup)") {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(ht.path), true)
    var dataFiles = 0
    while (it.hasNext) { if (it.next().getPath.getName.startsWith("part-")) dataFiles += 1 }
    // one file per non-empty (chunk, space) combo; the unrouted plan would
    // commit writer-tasks × combos files
    val combos = ht.read().select("_chunk", "_space").distinct().count()
    assert(dataFiles === combos, s"expected $combos data files, got $dataFiles")
  }

  test("read round-trips all rows") {
    val n = Tables.table(spark, "/root/testdata/sf0.001", "events").count()
    assert(ht.read().count() === n)
  }

  test("time bounds do not wrap at Long.MaxValue (the no-upper-bound encoding)") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.LongType
    val ts = AttributeReference("ts", LongType)()
    // ts <= MaxValue is unbounded, not hi = MinValue (overflowed +1)
    assert(graft.plans.TimeBounds.bounds(
      LessThanOrEqual(ts, Literal(Long.MaxValue)), ts) === ((None, None)))
    assert(graft.plans.TimeBounds.bounds(
      And(GreaterThanOrEqual(ts, Literal(5L)), LessThanOrEqual(ts, Literal(Long.MaxValue))),
      ts) === ((Some(5L), None)))
    // ts > MaxValue (empty range) saturates instead of wrapping lo
    assert(graft.plans.TimeBounds.bounds(
      GreaterThan(ts, Literal(Long.MaxValue)), ts) === ((Some(Long.MaxValue), None)))
    assert(graft.plans.TimeBounds.bounds(
      EqualTo(ts, Literal(Long.MaxValue)), ts) === ((Some(Long.MaxValue), None)))
  }

  test("SaveMode.Overwrite is rejected (it would wipe the chunk catalog)") {
    val e = intercept[IllegalArgumentException] {
      ht.write(Tables.table(spark, "/root/testdata/sf0.001", "events"),
        mode = org.apache.spark.sql.SaveMode.Overwrite)
    }
    assert(e.getMessage.contains("chunk catalog"))
  }

  test("between() prunes chunk partitions at plan time") {
    val df = ht.between(Timestamp.valueOf("2024-01-10 00:00:00"),
      Timestamp.valueOf("2024-01-12 00:00:00"))
    val scan = leafScan(df)
    // only 2 of 30 chunks (x4 space buckets) survive partition pruning
    assert(scan.relation.location.inputFiles.length > 0)
    val parts = scan.selectedPartitions.partitionCount
    assert(parts === 8, s"expected 8 pruned partitions, got $parts")
    // row-level correctness
    val expected = Tables.table(spark, "/root/testdata/sf0.001", "events")
      .where(col("ts") >= lit("2024-01-10") && col("ts") < lit("2024-01-12")).count()
    assert(df.count() === expected)
  }

  test("plain read().where(ts ...) gets catalog-driven chunk exclusion") {
    val df = ht.read().where(
      col("ts") >= lit(Timestamp.valueOf("2024-01-10 00:00:00")) &&
      col("ts") < lit(Timestamp.valueOf("2024-01-12 00:00:00")))
    val scan = leafScan(df)
    // same pruning as the explicit between(): 2 of 30 chunks × 4 space dirs
    val parts = scan.selectedPartitions.partitionCount
    assert(parts === 8, s"expected 8 pruned partitions via ChunkExclusion, got $parts")
    val expected = Tables.table(spark, "/root/testdata/sf0.001", "events")
      .where(col("ts") >= lit("2024-01-10") && col("ts") < lit("2024-01-12")).count()
    assert(df.count() === expected)
    // BETWEEN sugar prunes too (inclusive end reaches into 01-12's chunk)
    val df2 = ht.read().where(col("ts").between(
      lit(Timestamp.valueOf("2024-01-10 00:00:00")),
      lit(Timestamp.valueOf("2024-01-12 00:00:00"))))
    val scan2 = leafScan(df2)
    assert(scan2.selectedPartitions.partitionCount === 12)
    // reference GUC parity (timescaledb.enable_constraint_exclusion,
    // src/guc.c:757): toggled off, the same query scans every partition
    spark.conf.set("spark.graft.enable_constraint_exclusion", "false")
    try {
      val all = ht.read().where(
        col("ts") >= lit(Timestamp.valueOf("2024-01-10 00:00:00")) &&
        col("ts") < lit(Timestamp.valueOf("2024-01-12 00:00:00")))
      val scanAll = leafScan(all)
      // every existing leaf partition is scanned (sf0.001 doesn't fill all
      // 30 × 4 space buckets, so count the dirs rather than assuming 120)
      val totalParts = leafScan(ht.read()).selectedPartitions.partitionCount
      assert(totalParts > 100)
      assert(scanAll.selectedPartitions.partitionCount === totalParts)
      assert(all.count() === expected) // answers never change, only pruning
    } finally spark.conf.unset("spark.graft.enable_constraint_exclusion")
  }

  test("OR'd time ranges prune to the union of arm chunk sets") {
    val events = Tables.table(spark, "/root/testdata/sf0.001", "events")
    // 2 leading + 2 trailing daily chunks survive (hypertable_restrict_info
    // OR handling): arms [*, 01-03) and [01-28, *)
    val df = ht.read().where(
      col("ts") < lit(Timestamp.valueOf("2024-01-03 00:00:00")) ||
      col("ts") >= lit(Timestamp.valueOf("2024-01-28 00:00:00")))
    val parts = leafScan(df).selectedPartitions.partitionCount
    assert(parts === 20, s"expected (2+3) chunks x 4 buckets = 20, got $parts")
    val expected = events.where(
      col("ts") < lit("2024-01-03") || col("ts") >= lit("2024-01-28")).count()
    assert(df.count() === expected)
    // AND of an OR: the conjunct intersects each arm
    val df2 = ht.read().where(
      (col("ts") < lit(Timestamp.valueOf("2024-01-03 00:00:00")) ||
       col("ts") >= lit(Timestamp.valueOf("2024-01-28 00:00:00"))) &&
      col("ts") >= lit(Timestamp.valueOf("2024-01-02 00:00:00")))
    val parts2 = leafScan(df2).selectedPartitions.partitionCount
    assert(parts2 === 16, s"expected (1+3) chunks x 4 buckets = 16, got $parts2")
    assert(df2.count() === events.where(
      (col("ts") < lit("2024-01-03") || col("ts") >= lit("2024-01-28")) &&
      col("ts") >= lit("2024-01-02")).count())
    // an arm with no time constraint admits everything — no pruning, and
    // the answer still matches the raw filter
    val df3 = ht.read().where(
      col("ts") < lit(Timestamp.valueOf("2024-01-03 00:00:00")) ||
      col("user_id") === 7L)
    assert(leafScan(df3).selectedPartitions.partitionCount > 100)
    assert(df3.count() === events.where(
      col("ts") < lit("2024-01-03") || col("user_id") === 7L).count())
  }

  test("space-dimension exclusion prunes hash buckets from equality predicates") {
    // user_id = 7 pins one murmur bucket: 2 chunks × 1 of 4 space dirs
    val df = ht.read().where(
      col("user_id") === 7L &&
      col("ts") >= lit(Timestamp.valueOf("2024-01-10 00:00:00")) &&
      col("ts") < lit(Timestamp.valueOf("2024-01-12 00:00:00")))
    val scan = leafScan(df)
    val parts = scan.selectedPartitions.partitionCount
    assert(parts === 2, s"expected 2 pruned partitions (2 chunks × 1 bucket), got $parts")
    val expected = Tables.table(spark, "/root/testdata/sf0.001", "events")
      .where(col("user_id") === 7L &&
        col("ts") >= lit("2024-01-10") && col("ts") < lit("2024-01-12")).count()
    assert(df.count() === expected)
    // IN-lists prune the union of buckets; space-only predicates prune too
    val df2 = ht.read().where(col("user_id").isin(7L, 8L, 9L))
    val scan2 = leafScan(df2)
    val buckets = Seq(7L, 8L, 9L).map(v =>
      spark.range(1).select(pmod(hash(lit(v)), lit(4))).head().getInt(0)).distinct
    assert(scan2.selectedPartitions.partitionCount === 30 * buckets.size)
    val exp2 = Tables.table(spark, "/root/testdata/sf0.001", "events")
      .where(col("user_id").isin(7L, 8L, 9L)).count()
    assert(df2.count() === exp2)
  }

  test("N-dimensional hyperspace: two closed dimensions prune independently") {
    val d = Files.createTempDirectory("graft_ht_ndim").toString
    val h = Hypertable.create(spark, s"$d/ht", "ts", chunkWidth = "7 days",
      spaceCol = Some("user_id"), spacePartitions = 4,
      extraSpace = Seq(("event_type", 3)))
    val ev = Tables.table(spark, "/root/testdata/sf0.001", "events")
    h.write(ev)
    val nChunks = h.showChunks().size
    assert(h.spaceDims.map(_._3) === Seq("_space", "_space1"))
    // both equality predicates pin one hash bucket in their dimension
    val df = h.read().where(col("user_id") === 7L && col("event_type") === "click")
    val scan = leafScan(df)
    val parts = scan.selectedPartitions.partitionCount
    assert(parts === nChunks,
      s"expected $nChunks partitions (chunks × 1 bucket × 1 bucket), got $parts")
    assert(df.count() ===
      ev.where(col("user_id") === 7L && col("event_type") === "click").count())
    // re-opened from metadata, the extra dimension survives
    val re = Hypertable.at(spark, s"$d/ht")
    assert(re.spaceDims === h.spaceDims)
    // a dir of one time chunk contains _space=*/ _space1=* nesting
    val chunk0 = new org.apache.hadoop.fs.Path(h.showChunks().head.path)
    val fs0 = chunk0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lvl1 = fs0.listStatus(chunk0).filter(_.isDirectory).map(_.getPath.getName)
    assert(lvl1.nonEmpty && lvl1.forall(_.startsWith("_space=")))
    val lvl2 = fs0.listStatus(new org.apache.hadoop.fs.Path(chunk0, lvl1.head))
      .filter(_.isDirectory).map(_.getPath.getName)
    assert(lvl2.nonEmpty && lvl2.forall(_.startsWith("_space1=")))
  }

  test("chunk exclusion casts _chunk literals to the inferred partition type") {
    // small integral chunk keys infer `_chunk` as IntegerType; the injected
    // IN-list literals must be Int too (a LongType literal in the analyzed
    // plan would compare raw types — CCE or silently-false filter)
    import spark.implicits._
    val d2 = Files.createTempDirectory("graft_ht_int").toString
    val h = Hypertable.create(spark, s"$d2/ht", "t", chunkWidth = "10", timeKind = "bigint")
    h.write((0L until 100L).toDF("t"))
    val df = h.read().where(col("t") >= 20L && col("t") < 40L)
    assert(df.schema("_chunk").dataType ===
      org.apache.spark.sql.types.IntegerType) // the premise of this test
    assert(df.count() === 20)
    val scan = leafScan(df)
    assert(scan.selectedPartitions.partitionCount === 2,
      s"expected 2 pruned partitions, got ${scan.selectedPartitions.partitionCount}")
  }

  test("chunk exclusion respects merged-chunk ranges from the catalog") {
    val dir2 = Files.createTempDirectory("graft_ht_merge").toString
    val h = Hypertable.create(spark, s"$dir2/ht", "ts", chunkWidth = "1 day")
    h.write(Tables.table(spark, "/root/testdata/sf0.001", "events"))
    val Seq(c0, c1, _*) = h.showChunks()
    h.mergeChunks(c0.startMicros, c1.startMicros)
    // rows from day 2 now live in the merged chunk starting at day 1: a
    // day-2 query must still scan it (arithmetic ranges would miss it)
    val df = h.read().where(
      col("ts") >= lit(Timestamp.valueOf("2024-01-02 00:00:00")) &&
      col("ts") < lit(Timestamp.valueOf("2024-01-03 00:00:00")))
    val expected = Tables.table(spark, "/root/testdata/sf0.001", "events")
      .where(col("ts") >= lit("2024-01-02") && col("ts") < lit("2024-01-03")).count()
    assert(df.count() === expected)
  }

  test("dropChunks removes only chunks fully before the cutoff") {
    val d2 = Files.createTempDirectory("graft_ht2").toString
    val h = Hypertable.create(spark, s"$d2/ht", "ts", chunkWidth = "1 day")
    h.write(Tables.table(spark, "/root/testdata/sf0.001", "events"))
    val before = h.read().count()
    val cutoff = Timestamp.valueOf("2024-01-08 00:00:00")
    val dropped = RetentionPolicy.run(h, cutoff.getTime * 1000L)
    assert(dropped.size === 7)
    assert(h.showChunks().size === 23)
    val remaining = h.read().count()
    val expected = Tables.table(spark, "/root/testdata/sf0.001", "events")
      .where(col("ts") >= lit("2024-01-08")).count()
    assert(remaining === expected)
    assert(remaining < before)
    // idempotent
    assert(h.dropChunks(cutoff).isEmpty)
  }

  test("mergeChunks coalesces adjacent chunks; splitChunk reverses it") {
    val d3 = Files.createTempDirectory("graft_ht3").toString
    val h = Hypertable.create(spark, s"$d3/ht", "ts", chunkWidth = "1 day")
    h.write(Tables.table(spark, "/root/testdata/sf0.001", "events"))
    val total = h.read().count()
    val Seq(c1, c2) = h.showChunks().take(2)
    val merged = h.mergeChunks(c1.startMicros, c2.startMicros)
    assert(merged.startMicros === c1.startMicros && merged.endMicros === c2.endMicros)
    assert(h.showChunks().size === 29)
    assert(h.showChunks().head.endMicros === c2.endMicros)
    assert(h.read().count() === total)
    // between() still finds rows of the second day inside the merged chunk
    val day2 = h.between(c2.startMicros, c2.endMicros).count()
    val expected2 = Tables.table(spark, "/root/testdata/sf0.001", "events")
      .where(col("ts") >= lit("2024-01-02") && col("ts") < lit("2024-01-03")).count()
    assert(day2 === expected2)
    // split back at the original boundary
    val (lo, hi) = h.splitChunk(merged.startMicros, c2.startMicros)
    assert(lo.endMicros === c2.startMicros && hi.startMicros === c2.startMicros)
    assert(h.showChunks().size === 30)
    assert(h.read().count() === total)
    assert(h.between(c1.startMicros, c1.endMicros).count() ===
      total - h.between(c2.startMicros, h.showChunks().last.endMicros).count())
    // N-ary form (ts_merge_chunks, maintenance_utils.sql:74-76): four
    // adjacent chunks in ONE rewrite
    val four = h.showChunks().take(4)
    val wide = h.mergeChunks(four.map(_.startMicros), 128L << 20)
    assert(wide.startMicros === four.head.startMicros &&
      wide.endMicros === four.last.endMicros)
    assert(h.showChunks().size === 27)
    assert(h.read().count() === total)
    assert(h.between(four(2).startMicros, four(2).endMicros).count() ===
      Tables.table(spark, "/root/testdata/sf0.001", "events")
        .where(col("ts") >= lit("2024-01-03") && col("ts") < lit("2024-01-04")).count())
    // default split point = range midpoint (chunk_split.c:1136-1139)
    val before = h.showChunks().size
    val (ml, mh) = h.splitChunk(wide.startMicros)
    val mid = wide.startMicros + (wide.endMicros - wide.startMicros) / 2
    assert(ml.endMicros === mid && mh.startMicros === mid)
    assert(h.showChunks().size === before + 1)
    assert(h.read().count() === total)
  }

  test("chunk skipping prunes on non-partition-column ranges") {
    val d = Files.createTempDirectory("graft_ht_skip").toString
    val h = Hypertable.create(spark, s"$d/ht", "ts", chunkWidth = "7 days")
    // serial-ish bigint: correlates with ingest time but is NOT a dimension
    val ev = Tables.table(spark, "/root/testdata/sf0.001", "events")
      .withColumn("seq", expr("unix_micros(ts) div 1000 + user_id % 1000"))
    h.write(ev)
    h.enableChunkSkipping("seq")
    val nChunks = h.showChunks().size
    assert(nChunks >= 4, s"need a multi-chunk table, got $nChunks")
    assert(h.columnStatsCatalog().size === nChunks) // every chunk has a range
    // seq window inside the [2024-01-08, 2024-01-15) chunk only
    val lo = 1704844800000L // 2024-01-10 in ms-epoch seq units
    val hi = 1705017600000L // 2024-01-12
    val df = h.read().where(col("seq") >= lo && col("seq") < hi)
    val scan = leafScan(df)
    val parts = scan.selectedPartitions.partitionCount
    assert(parts === 1, s"expected 1 chunk to survive skipping, got $parts")
    assert(df.count() === ev.where(col("seq") >= lo && col("seq") < hi).count())

    // appends refresh the touched chunks' ranges: rows with far-future seq
    // values land in an existing chunk, and a query on them still finds them
    val extra = ev.where(col("ts") >= lit("2024-01-10") && col("ts") < lit("2024-01-11"))
      .withColumn("seq", col("seq") + lit(10_000_000_000_000L))
    h.write(extra)
    val df2 = h.read().where(col("seq") >= lit(10_000_000_000_000L))
    assert(df2.count() === extra.count())

    // disable: the predicate no longer prunes
    h.disableChunkSkipping("seq")
    val df3 = h.read().where(col("seq") >= lo && col("seq") < hi)
    val scan3 = leafScan(df3)
    assert(scan3.selectedPartitions.partitionCount === nChunks)
  }

  test("mergeChunks sizes output files from combined bytes (no single-task funnel)") {
    val d = Files.createTempDirectory("graft_ht_mergesize").toString
    val h = Hypertable.create(spark, s"$d/ht", "ts", chunkWidth = "1 day")
    h.write(Tables.table(spark, "/root/testdata/sf0.001", "events"))
    val Seq(c1, c2) = h.showChunks().take(2)
    val total = h.read().count()
    // a tiny per-file budget forces the size-based path to fan out
    val merged = h.mergeChunks(c1.startMicros, c2.startMicros, targetFileBytes = 1024)
    val p = new org.apache.hadoop.fs.Path(merged.path)
    val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
    assert(files.length > 1, s"expected multi-file merge output, got ${files.length}")
    assert(h.read().count() === total)
  }

  test("bigint open dimension: integer chunk routing and range pruning") {
    val d = Files.createTempDirectory("graft_ht_big").toString
    val h = Hypertable.create(spark, s"$d/ht", "ts_us",
      chunkWidth = (86400000000L).toString, timeKind = "bigint")
    val src = Tables.table(spark, "/root/testdata/sf0.001", "events")
      .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
    h.write(src)
    assert(h.showChunks().size === 30)
    val lo = java.sql.Timestamp.valueOf("2024-01-10 00:00:00").getTime * 1000L
    val hi = java.sql.Timestamp.valueOf("2024-01-12 00:00:00").getTime * 1000L
    val got = h.between(lo, hi).count()
    val expected = src.where(col("ts_us") >= lo && col("ts_us") < hi).count()
    assert(got === expected)
    // the end bound as a referenced constant (the cagg realtime live branch)
    assert(h.between(lo, hi, inlineEnd = false).count() === expected)
    // re-open keeps the dimension kind
    assert(Hypertable.at(spark, s"$d/ht").timeKind === "bigint")
  }

  test("uuidv7 open dimension: chunk key from embedded time, string-range pruning") {
    val d = Files.createTempDirectory("graft_ht_uuid").toString
    val h = Hypertable.create(spark, s"$d/ht", "uid",
      chunkWidth = "7 days", timeKind = "uuidv7")
    val src = Tables.table(spark, "/root/testdata/sf0.001", "events")
      .withColumn("uid", graft.functions.to_uuidv7(col("ts")))
    h.write(src)
    assert(h.showChunks().size === 5) // 30 days / 7-day chunks
    val lo = java.sql.Timestamp.valueOf("2024-01-08 00:00:00").getTime * 1000L
    val hi = java.sql.Timestamp.valueOf("2024-01-15 00:00:00").getTime * 1000L
    val got = h.between(lo, hi).count()
    val expected = src.where(col("ts") >= timestamp_micros(lit(lo)) &&
      col("ts") < timestamp_micros(lit(hi))).count()
    assert(got === expected)
    assert(h.between(lo, hi, inlineEnd = false).count() === expected)
  }

  test("runtime chunk exclusion: partition-column join triggers dynamic partition pruning") {
    // ConstraintAwareAppend analogue: exclusion decided at RUNTIME from the
    // other join side (src/nodes/constraint_aware_append) maps to Spark DPP
    val d = Files.createTempDirectory("graft_dpp").toString
    val h = Hypertable.create(spark, s"$d/ht", "ts", chunkWidth = "1 day")
    h.write(Tables.table(spark, "/root/testdata/sf0.001", "events"))
    // dim: chunk keys with an attribute to filter on at runtime
    import spark.implicits._
    h.showChunks().zipWithIndex
      .map { case (c, i) => (c.startMicros, if (i < 2) "keep" else "drop") }
      .toDF("_chunk", "tag")
      .write.mode("overwrite").parquet(s"$d/dim")
    val dim = spark.read.parquet(s"$d/dim").where(col("tag") === "keep")
    val joined = h.read().join(dim, "_chunk")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected dynamic partition pruning in:\n$plan")
    // correctness: only rows of the 2 kept chunks survive
    val keptChunks = h.showChunks().take(2).map(_.startMicros).toSet
    val expected = h.read().where(col("_chunk").isin(keptChunks.toSeq: _*)).count()
    assert(joined.count() === expected)
  }

  test("orderedRead streams globally time-ordered rows without an exchange") {
    val d = Files.createTempDirectory("graft_ord").toString
    val h = Hypertable.create(spark, s"$d/ht", "ts", chunkWidth = "7 days")
    h.write(Tables.table(spark, "/root/testdata/sf0.001", "events"))
    val df = h.orderedRead()
    // no shuffle in the plan: chunk concatenation + per-chunk local sort
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
      "orderedRead must not plan an exchange")
    // rows arrive globally ordered across partition iteration order
    val tsSeq = df.select(unix_micros(col("ts"))).rdd
      .mapPartitionsWithIndex { case (i, it) => it.map(r => (i, r.getLong(0))) }
      .collect()
    assert(tsSeq.sliding(2).forall { case Array((i1, t1), (i2, t2)) =>
      i1 < i2 || (i1 == i2 && t1 <= t2) })
    assert(tsSeq.map(_._2).toSeq === tsSeq.map(_._2).sorted.toSeq)
    assert(df.count() === h.read().count())
    // descending variant
    val desc = h.orderedRead(descending = true)
      .select(unix_micros(col("ts"))).rdd.map(_.getLong(0)).collect()
    assert(desc.toSeq === desc.sorted(Ordering[Long].reverse).toSeq)
  }

  test("batch sorted merge: ORDER BY time over orderedRead plans no sort, no exchange") {
    val d = Files.createTempDirectory("graft_bsm").toString
    val h = Hypertable.create(spark, s"$d/ht", "ts", chunkWidth = "7 days")
    h.write(Tables.table(spark, "/root/testdata/sf0.001", "events"))
    // the DeclareOrdered node exposes the scan's true ordering + range
    // partitioning, so the global ORDER BY is satisfied without work —
    // the reference's batch_queue_heap merge, expressed as planning
    val sorted = h.orderedRead().orderBy("ts")
    val plan = sorted.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"ORDER BY planned an exchange:\n$plan")
    // per-chunk LOCAL sorts (global=false) are the operator; the global
    // merge sort must be gone
    val globalSorts = sorted.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }
    assert(globalSorts.isEmpty, s"ORDER BY planned a global re-sort:\n$plan")
    val ts = sorted.select(unix_micros(col("ts"))).rdd.map(_.getLong(0)).collect()
    assert(ts.toSeq === ts.sorted.toSeq)
    assert(sorted.count() === h.read().count())
    // LIMIT over the declared order: no global sort either
    val top = h.orderedRead(descending = true).orderBy(col("ts").desc).limit(5)
    val topPlan = top.queryExecution.executedPlan.toString
    assert(!topPlan.contains("Exchange"), s"top-k planned an exchange:\n$topPlan")
    val expect = h.read().orderBy(col("ts").desc).limit(5)
      .select(unix_micros(col("ts"))).rdd.map(_.getLong(0)).collect()
    assert(top.select(unix_micros(col("ts"))).rdd.map(_.getLong(0)).collect().toSeq
      === expect.toSeq)
  }

  test("hypertable can be re-opened from metadata") {
    ht.showChunks() // force creation
    val re = Hypertable.at(spark, s"$dir/events_ht")
    assert(re.timeCol === "ts")
    assert(re.chunkWidthMicros === 86400000000L)
    assert(re.spaceCol === Some("user_id"))
  }

  test("whereTimeIn: subquery-driven runtime exclusion skips chunks outside the joined range") {
    val events = Tables.table(spark, "/root/testdata/sf0.001", "events")
    // driving side: event times from two specific days only
    val sub = events.where(
      col("ts") >= lit(Timestamp.valueOf("2024-01-10 00:00:00")) &&
      col("ts") < lit(Timestamp.valueOf("2024-01-12 00:00:00"))).select("ts")
    val df = ht.whereTimeIn(sub, col("ts"))
    val plan = df.queryExecution.executedPlan
    def htScans(p: org.apache.spark.sql.execution.SparkPlan) =
      p.collect { case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("events_ht")) => f }
    val scan = htScans(plan).headOption.orElse(plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        htScans(a.executedPlan).headOption
      case _ => None
    }).get
    // 2 of 30 daily chunks survive (× 4 space buckets) — the chunks outside
    // the subquery's time image are excluded before any footer is read
    val parts = scan.selectedPartitions.partitionCount
    assert(parts === 8, s"expected 8 partitions after runtime exclusion, got $parts")
    // row-level IN semantics match a plain semi filter over the raw table
    val expected = events.as("a").join(sub.as("b"), col("a.ts") === col("b.ts"), "left_semi").count()
    assert(df.count() === expected)
  }

  test("naive (NTZ) time columns are accepted at the write/whereTimeIn boundary") {
    import org.apache.spark.sql.types.TimestampNTZType
    val d = Files.createTempDirectory("graft_ntz").toString
    val events = Tables.table(spark, "/root/testdata/sf0.001", "events")
    val naive = events.withColumn("ts", col("ts").cast(TimestampNTZType))
    assert(naive.schema("ts").dataType === TimestampNTZType)
    val h = Hypertable.create(spark, s"$d/ht", "ts", chunkWidth = "7 days")
    h.write(naive) // would fail analysis without boundary normalization
    assert(h.read().count() === events.count())
    // the stored column is the session-zone instant type (UTC sessions ⇒
    // identical wall clocks), so reads compare equal against the typed load
    val sub = naive.where(col("user_id") === 7L).select("ts")
    val expected = events.as("a")
      .join(sub.select(col("ts").cast("timestamp").as("ts")).as("b"),
        col("a.ts") === col("b.ts"), "left_semi").count()
    assert(h.whereTimeIn(sub, col("ts")).count() === expected)

    // VERDICT r5 #8 audit: between / orderedRead round-trip on the
    // NTZ-written table too — the stored instants must bound and order
    // identically to a typed write (UTC session ⇒ same wall clocks)
    val lo = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-12 00:00:00")
    val expBetween = events.where(col("ts") >= lit(lo) && col("ts") < lit(hi))
    assert(h.between(lo, hi).count() === expBetween.count())
    assert(h.between(lo, hi).agg(min("ts"), max("ts")).head() ===
      expBetween.agg(min("ts"), max("ts")).head())
    val ordered = h.orderedRead().select("ts").collect().map(_.getTimestamp(0))
    assert(ordered.length === events.count())
    assert(ordered.sliding(2).forall(p => !p(0).after(p(1))),
      "orderedRead must stream NTZ-written rows in global time order")
  }

  test("catalog='table': one-file chunk catalog round-trips every mutation and prunes identically") {
    // SCALE.md cliff #1: the persisted chunk catalog replaces per-query
    // dir listing; every chunk-set mutation must keep it exact
    val d = Files.createTempDirectory("graft_ht_cat").toString
    val events = Tables.table(spark, "/root/testdata/sf0.001", "events")
    val listHt = Hypertable.create(spark, s"$d/list", "ts", chunkWidth = "1 day")
    val tblHt = Hypertable.create(spark, s"$d/table", "ts", chunkWidth = "1 day",
      catalog = "table")
    assert(Hypertable.at(spark, s"$d/table").catalogMode === "table") // meta round-trip
    def assertSame(): Unit = {
      val a = listHt.showChunks().map(c => (c.startMicros, c.endMicros,
        c.path.stripPrefix(s"$d/list")))
      // the table catalog's gen layout resolves each chunk to its live
      // `_gen=` dir — strip it for the identity compare
      val b = tblHt.showChunks().map(c => (c.startMicros, c.endMicros,
        c.path.replace("/table/", "/list/").stripPrefix(s"$d/list")
          .replaceAll("/_gen=\\d+$", "")))
      assert(a === b, "chunk catalogs diverged")
      assert(listHt.read().count() === tblHt.read().count())
    }
    listHt.write(events); tblHt.write(events)
    // the catalog file exists and showChunks answers from it (delete a
    // chunk dir BEHIND the catalog: "table" mode must still report it,
    // proving no dir listing happened)
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the catalog is a versioned manifest dir: at least one v<seq>.json
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$d/table/_graft_catalog"))
      .exists(_.getPath.getName.matches("v\\d+\\.json")))
    assertSame()
    val probe = tblHt.showChunks().head
    val hidden = new org.apache.hadoop.fs.Path(probe.path)
    val stash = new org.apache.hadoop.fs.Path(s"$d/stash")
    fs.rename(hidden, stash)
    assert(tblHt.showChunks().exists(_.startMicros == probe.startMicros),
      "showChunks must answer from the catalog file, not a dir listing")
    fs.rename(stash, hidden)

    // mutations keep the snapshot exact: merge, split, drop, DML
    val starts = tblHt.showChunks().map(_.startMicros)
    listHt.mergeChunks(starts(0), starts(1)); tblHt.mergeChunks(starts(0), starts(1))
    assertSame()
    listHt.splitChunk(starts(0)); tblHt.splitChunk(starts(0))
    assertSame()
    listHt.dropChunks(Some(starts(2)), None); tblHt.dropChunks(Some(starts(2)), None)
    assertSame()
    val late = events.limit(50)
    listHt.write(late); tblHt.write(late)
    assertSame()

    // chunk exclusion prunes IDENTICALLY through the table catalog
    val lo = Timestamp.valueOf("2024-01-10 00:00:00")
    val hi = Timestamp.valueOf("2024-01-12 00:00:00")
    def pruned(h: Hypertable) = leafScan(h.read().where(
      col("ts") >= lit(lo) && col("ts") < lit(hi))).selectedPartitions.partitionCount
    assert(pruned(tblHt) === pruned(listHt),
      "exclusion must prune the same partitions under both catalog modes")
    assert(pruned(tblHt) < tblHt.showChunks().size) // and it actually pruned
  }

  test("between: narrow windows scan ONLY the hit chunk dirs; a full-range " +
      "window falls back to the single root scan") {
    val d = Files.createTempDirectory("graft_ht_direct").toString
    val ht = Hypertable.create(spark, s"$d/ht", "ts", chunkWidth = "7 days")
    ht.write(Tables.table(spark, "/root/testdata/sf0.001", "events"))
    val nChunks = ht.showChunks().size
    assert(nChunks >= 4)
    // narrow: the scan's ROOT PATHS are the two hit chunk dirs — Spark
    // never lists (or even sees) the excluded chunks (SCALE.md §2)
    val narrow = ht.between(Timestamp.valueOf("2024-01-08 00:00:00"),
      Timestamp.valueOf("2024-01-22 00:00:00"))
    val narrowRoots = leafScan(narrow).relation.location.rootPaths
    assert(narrowRoots.size === 2 &&
      narrowRoots.forall(_.getName.startsWith("_chunk=")))
    assert(narrow.count() ===
      ht.read().where(col("ts") >= lit(Timestamp.valueOf("2024-01-08 00:00:00"))
        && col("ts") < lit(Timestamp.valueOf("2024-01-22 00:00:00"))).count())
    // full coverage: one root discovery, not N per-dir listings
    val full = ht.between(Timestamp.valueOf("2020-01-01 00:00:00"),
      Timestamp.valueOf("2030-01-01 00:00:00"))
    val fullRoots = leafScan(full).relation.location.rootPaths
    assert(fullRoots.size === 1 && !fullRoots.head.getName.startsWith("_chunk="))
    assert(full.count() === ht.read().count())
    // ChunkExclusion composes with the DIRECT scan: a further predicate
    // on the already-pruned frame still partition-prunes (the rule maps
    // the _chunk= roots back to the owning table)
    val narrowed = narrow.where(col("ts") < lit(Timestamp.valueOf("2024-01-15 00:00:00")))
    assert(leafScan(narrowed).selectedPartitions.partitionCount === 1)
  }

  test("catalog='table': plain read() memoizes the resolved scan until a " +
      "mutation re-stamps the catalog") {
    val d = Files.createTempDirectory("graft_ht_memo").toString
    val events = Tables.table(spark, "/root/testdata/sf0.001", "events")
    val ht = Hypertable.create(spark, s"$d/ht", "ts", chunkWidth = "7 days",
      catalog = "table")
    ht.write(events)
    val n0 = ht.read().count()
    // unchanged table: the SAME resolved DataFrame comes back (no repeated
    // O(chunks) partition discovery)
    assert(ht.read() eq ht.read())
    // any mutation re-snapshots the catalog -> fresh scan, fresh data
    val r1 = ht.read()
    ht.write(events.limit(25))
    val r2 = ht.read()
    assert(!(r1 eq r2), "mutation must invalidate the scan memo")
    assert(r2.count() === n0 + 25)
    // schema widening invalidates too (separate stamp)
    ht.alterAddColumn("memo_probe", "INT")
    val r3 = ht.read()
    assert(!(r2 eq r3) && r3.columns.contains("memo_probe"))
    // chunk-CONTENT rewrites with the chunk SET intact (DML copy-on-write,
    // columnstore conversion) must invalidate as well — the catalog
    // snapshot doesn't change, the content stamp does. A stale memo here
    // would serve deleted part-files (FileNotFound) or pre-delete rows.
    val r4 = ht.read()
    val deleted = ht.deleteWhere(col("user_id") === 3L)
    assert(deleted > 0)
    val r5 = ht.read()
    assert(!(r4 eq r5), "DML must invalidate the scan memo")
    assert(r5.count() === n0 + 25 - deleted)
    val chunk = ht.showChunks().head.path
    graft.sources.Columnstore.compressChunk(spark, chunk,
      graft.sources.Columnstore.Options(orderBy = Seq("ts")))
    val r6 = ht.read()
    assert(!(r5 eq r6), "columnstore conversion must invalidate the scan memo")
    assert(r6.count() === n0 + 25 - deleted)
  }

  test("catalog='table': crash between data commit and snapshot self-heals " +
      "on the next handle open") {
    // mutators commit data FIRST, snapshot AFTER — a crash in between
    // leaves a committed chunk the catalog never saw. The staleness cue
    // (root dir mtime > catalog mtime) must fold it back in on the next
    // session's first use.
    val d = Files.createTempDirectory("graft_ht_heal").toString
    val ht = Hypertable.create(spark, s"$d/ht", "ts", chunkWidth = "1 day",
      catalog = "table")
    ht.write(Tables.table(spark, "/root/testdata/sf0.001", "events"))
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val chunks = ht.showChunks() // validates (and may re-stamp) FIRST
    // push the manifest's stamp safely into the past (mtime granularity)
    val cat = fs.listStatus(new org.apache.hadoop.fs.Path(s"$d/ht/_graft_catalog"))
      .filter(_.getPath.getName.matches("v\\d+\\.json"))
      .maxBy(_.getPath.getName.stripPrefix("v").stripSuffix(".json").toLong)
      .getPath
    fs.setTimes(cat, System.currentTimeMillis() - 5000, -1)
    // "crashed ingest": a fully committed chunk dir, no snapshot update.
    // Gen layout: the routed append commits `_chunk=K/_gen=0/...` (a bare
    // `_chunk=` shell without a generation is crash DEBRIS, deliberately
    // not listed), so the simulation copies the gen dir one level down
    val orphanStart = chunks.map(_.startMicros).max + 86400000000L
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(chunks.head.path), fs,
      new org.apache.hadoop.fs.Path(s"$d/ht/_chunk=$orphanStart/_gen=0"),
      false, spark.sparkContext.hadoopConfiguration)
    // the already-validated handle keeps serving its snapshot (no listing
    // per query); a NEW handle runs the cue and heals
    val reopened = Hypertable.at(spark, s"$d/ht")
    assert(reopened.showChunks().exists(_.startMicros == orphanStart),
      "stale catalog must self-heal on next open")
    assert(reopened.showChunks().size === chunks.size + 1)
  }
}
