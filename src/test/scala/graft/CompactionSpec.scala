package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Columnstore, CompactionPolicy, Hypertable, Jobs}

/** compact_chunk / add_compaction_policy (`sql/maintenance_utils.sql:92-95`,
  * `sql/policy_internal.sql:25-95`) and freeze_chunk / chunk_status
  * (`sql/chunk.sql:10-14,40-46`, `src/chunk.c:3554-3598,4113`).
  */
class CompactionSpec extends AnyFunSuite {
  lazy val spark = Graft.session("compaction-spec", "local[4]", 4)

  private def events = Tables.table(spark, "/root/testdata/sf0.001", "events")

  /** A hypertable whose chunks are FRAGMENTED: four separate appends, each
    * split across 4 writer tasks → up to 16 small files per chunk.
    */
  private def fragmentedHt(): Hypertable = {
    val dir = Files.createTempDirectory("graft_compact").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    (0 until 4).foreach { i =>
      ht.write(events.where(pmod(col("event_id"), lit(4)) === i), filesPerChunk = 4)
    }
    ht
  }

  private def fileCount(ht: Hypertable, path: String): Int = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(path), true)
    var n = 0
    while (it.hasNext) {
      val f = it.next().getPath.getName
      if (!f.startsWith("_") && !f.startsWith(".")) n += 1
    }
    n
  }

  test("compactChunk merges a fragmented chunk's files; rows and answers survive") {
    val ht = fragmentedHt()
    val c = ht.showChunks().head
    val before = fileCount(ht, c.path)
    assert(before > 2, s"fixture not fragmented: $before files")
    assert(ht.chunkStatusText(c.startMicros).contains("UNORDERED"))
    val beforeRows = spark.read.parquet(c.path).count()
    val beforeAgg = spark.read.parquet(c.path)
      .groupBy("event_type").agg(sum("value").cast("decimal(30,6)").as("s"))
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    val after = Columnstore.compactChunk(spark, c.path)
    assert(after >= 1 && after < before)
    assert(spark.read.parquet(c.path).count() === beforeRows)
    val afterAgg = spark.read.parquet(c.path)
      .groupBy("event_type").agg(sum("value").cast("decimal(30,6)").as("s"))
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    assert(afterAgg === beforeAgg)
    assert(!ht.chunkStatusText(c.startMicros).contains("UNORDERED"))
    // idempotent: second call is a no-op
    assert(Columnstore.compactChunk(spark, c.path) === -1)
  }

  test("compactChunk on a COMPRESSED multi-file chunk: marker survives, " +
      "files merge, PARTIAL chunks are refused then recompressed by policy") {
    val ht = fragmentedHt()
    val all = ht.showChunks()
    val c = all(1)
    // segmentby forces a multi-file compressed layout (segments spread
    // across shuffle partitions) so the compressed-compact path is NOT a
    // no-op; AQE would coalesce the tiny test shuffle back to one file,
    // so it is off for the compress only
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Columnstore.compressChunk(spark, c.path,
      Columnstore.Options(segmentBy = Seq("user_id"), orderBy = Seq("ts")))
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(Columnstore.isCompressed(spark, c.path))
    val before = fileCount(ht, c.path)
    assert(before > 1, s"segmented compression produced $before file(s)")
    val rows = spark.read.parquet(c.path).count()
    val n = Columnstore.compactChunk(spark, c.path)
    assert(n >= 1 && n < before, s"expected a real merge: $before -> $n")
    // marker survived (a regression dropping the re-touch would read as
    // uncompressed here) and so did the data
    assert(Columnstore.isCompressed(spark, c.path))
    assert(!ht.chunkStatusText(c.startMicros).contains("PARTIAL"))
    assert(spark.read.parquet(c.path).count() === rows)

    // appends after compression → PARTIAL: compact refuses, pointing at
    // recompression; the columnstore policy then repairs it
    ht.write(events
      .where(col("ts") >= new java.sql.Timestamp(c.startMicros / 1000))
      .where(col("ts") < new java.sql.Timestamp(c.endMicros / 1000))
      .withColumn("event_id", col("event_id") + lit(1000000)))
    assert(ht.chunkStatusText(c.startMicros).contains("PARTIAL"))
    intercept[IllegalArgumentException] {
      Columnstore.compactChunk(spark, c.path)
    }
    val recompressed = Columnstore.compress(ht,
      Columnstore.Options(orderBy = Seq("ts")))
    assert(recompressed.exists(_.startMicros == c.startMicros))
    assert(!ht.chunkStatusText(c.startMicros).contains("PARTIAL"))
  }

  test("space-partitioned chunks compact per leaf and CONVERGE (no " +
      "perpetual re-selection)") {
    val dir = Files.createTempDirectory("graft_compact_space").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days",
      spaceCol = Some("user_id"), spacePartitions = 4)
    (0 until 4).foreach { i =>
      ht.write(events.where(pmod(col("event_id"), lit(4)) === i))
    }
    val c = ht.showChunks().head
    assert(ht.chunkStatusText(c.startMicros).contains("UNORDERED"))
    val rows = spark.read.parquet(c.path).count()
    val n = Columnstore.compactChunk(spark, c.path)
    assert(n >= 1)
    // the partitionBy layout means a whole-chunk file target is
    // unreachable; the per-leaf targets ARE reached, so the chunk must
    // stop reading as fragmented — else the policy rewrites it forever
    assert(!ht.chunkStatusText(c.startMicros).contains("UNORDERED"))
    assert(Columnstore.compactChunk(spark, c.path) === -1)
    assert(spark.read.parquet(c.path).count() === rows)
    // space layout survived: the _space dirs still partition the data
    val fs = new org.apache.hadoop.fs.Path(c.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(c.path))
      .count(_.getPath.getName.startsWith("_space=")) > 0)
    assert(ht.read().where(col("user_id") === 1).count() ===
      events.where(col("user_id") === 1).count() * 1)
  }

  test("CompactionPolicy compacts fragmented chunks, honors caps and gates") {
    val ht = fragmentedHt()
    val all = ht.showChunks()
    assert(all.forall(c => ht.chunkStatusText(c.startMicros).contains("UNORDERED")))
    // freeze one chunk: the policy must skip it
    ht.freezeChunk(all.head.startMicros)
    // inactive_for bigger than the fixture age: nothing qualifies
    assert(CompactionPolicy.run(ht,
      inactiveForMicros = Some(365L * 86400 * 1000000)).isEmpty)
    // max_chunks caps the sweep
    val one = CompactionPolicy.run(ht, maxChunks = 1)
    assert(one.size === 1)
    assert(one.head.startMicros !== all.head.startMicros)
    val rest = CompactionPolicy.run(ht)
    assert(!rest.exists(_.startMicros == all.head.startMicros))
    // frozen chunk untouched, others compacted
    assert(ht.chunkStatusText(all.head.startMicros).contains("UNORDERED"))
    assert(all.tail.forall(c =>
      !ht.chunkStatusText(c.startMicros).contains("UNORDERED")))
    // total rows unchanged
    assert(ht.read().count() === events.count())
  }

  test("frozen chunks refuse DML, maintenance, and inserts; drop skips them") {
    val ht = fragmentedHt()
    val all = ht.showChunks()
    val c = all.head
    assert(ht.freezeChunk(c.startMicros))
    assert(!ht.freezeChunk(c.startMicros)) // already frozen → false
    assert(ht.chunkStatusText(c.startMicros) === Seq("UNORDERED", "FROZEN"))
    // DML hitting the frozen chunk errors
    intercept[IllegalStateException] {
      ht.deleteWhere(col("event_type") === "click",
        timeRange = Some((c.startMicros, c.endMicros)))
    }
    intercept[IllegalStateException] {
      ht.updateWhere(col("event_type") === "click",
        Map("value" -> lit(0.0)), timeRange = Some((c.startMicros, c.endMicros)))
    }
    // maintenance refuses
    intercept[IllegalArgumentException] {
      Columnstore.compactChunk(spark, c.path)
    }
    intercept[IllegalArgumentException] {
      Columnstore.compressChunk(spark, c.path, Columnstore.Options())
    }
    intercept[IllegalArgumentException] {
      ht.mergeChunks(all(0).startMicros, all(1).startMicros)
    }
    intercept[IllegalArgumentException] {
      ht.splitChunk(c.startMicros, (c.startMicros + c.endMicros) / 2)
    }
    // inserts routing into the frozen chunk error
    intercept[IllegalArgumentException] {
      ht.write(events
        .where(col("ts") < new java.sql.Timestamp(c.endMicros / 1000)))
    }
    // drop SKIPS the frozen chunk (chunk.c:4113)
    val dropped = ht.dropChunks(Some(all(1).endMicros), None)
    assert(dropped.map(_.startMicros) === Seq(all(1).startMicros))
    assert(ht.showChunks().exists(_.startMicros == c.startMicros))
    // unfreeze: DML works again
    assert(ht.unfreezeChunk(c.startMicros))
    assert(!ht.unfreezeChunk(c.startMicros))
    assert(ht.deleteWhere(col("event_type") === "click",
      timeRange = Some((c.startMicros, c.endMicros))) > 0)
  }

  test("policy_compaction runs through the job API") {
    val ht = fragmentedHt()
    val root = Files.createTempDirectory("graft_compact_jobs").toString
    val id = Jobs.add(spark, root, "policy_compaction",
      scheduleIntervalMicros = 3600L * 1000000, nowMicros = 0L,
      config = Map("hypertable" -> ht.path, "max_chunks" -> "2"),
      initialStartMicros = Some(0L))
    Jobs.run(spark, root, id, nowMicros = 1L)
    val compacted = ht.showChunks()
      .count(c => !ht.chunkStatusText(c.startMicros).contains("UNORDERED"))
    assert(compacted === 2)
  }

  test("show/drop chunks by CREATION time (created_before/created_after)") {
    val ht = fragmentedHt()
    val all = ht.showChunks()
    val now = System.currentTimeMillis * 1000L
    // everything in this fixture was just created
    assert(ht.showChunksCreated(Some(now + 60_000_000L), None).size === all.size)
    assert(ht.showChunksCreated(None, Some(now + 60_000_000L)).isEmpty)
    assert(ht.showChunksCreated(Some(now + 60_000_000L),
      Some(now - 3600_000_000L)).size === all.size)
    intercept[IllegalArgumentException] { ht.showChunksCreated(None, None) }
    // frozen chunks survive a creation-time drop like a dimension-time one
    ht.freezeChunk(all.head.startMicros)
    val dropped = ht.dropChunksCreated(Some(now + 60_000_000L), None)
    assert(dropped.size === all.size - 1)
    assert(ht.showChunks().map(_.startMicros) === Seq(all.head.startMicros))
  }

  test("Info.chunks surfaces chunk_status") {
    val ht = fragmentedHt()
    val c = ht.showChunks().head
    ht.freezeChunk(c.startMicros)
    val rows = graft.operators.Info.chunks(ht)
      .where(col("chunk_name") === s"_chunk=${c.startMicros}")
      .select("chunk_status").collect()
    assert(rows.length === 1)
    assert(rows.head.getSeq[String](0).contains("FROZEN"))
  }

  test("gen-layout compactChunk via an UNQUALIFIED path on a " +
    "space-partitioned chunk: staged generation is complete, no leaf " +
    "clobbered in place") {
    // regression: leaf paths from listings are scheme-qualified while a
    // caller (e.g. SQL compact_chunk('/path')) may pass a bare path; an
    // unqualified prefix strip once resolved staging targets back to the
    // LIVE leaves, overwriting them in place and publishing a generation
    // missing every rewritten leaf's data
    val dir = Files.createTempDirectory("graft_compact_gen").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days",
      spaceCol = Some("event_type"), spacePartitions = 3, catalog = "table")
    (0 until 4).foreach { i =>
      ht.write(events.where(pmod(col("event_id"), lit(4)) === i), filesPerChunk = 4)
    }
    val c = ht.showChunks().head
    assert(c.path.contains("_gen="), s"fixture must be gen-layout: ${c.path}")
    val beforeRows = ht.between(c.startMicros, c.endMicros).count()
    val before = fileCount(ht, c.path)
    assert(before > 3, s"fixture not fragmented: $before files")
    // strip the scheme: the unqualified form a SQL caller would pass
    val bare = c.path.stripPrefix("file:")
    assert(!bare.contains(":"))
    val after = Columnstore.compactChunk(spark, bare)
    assert(after >= 1 && after < before)
    val c2 = ht.showChunks().head
    assert(c2.path != c.path, "compact must publish a NEW generation")
    assert(ht.between(c.startMicros, c.endMicros).count() === beforeRows)
    assert(ht.read().count() === events.count())
  }

  test("gen-layout rebirth after drop is structural: heals even when the " +
    "tombstone and the rebirth share one mtime tick") {
    // regression: an mtime-compared rebirth check silently superseded
    // acked re-ingested rows when drop and append landed within the
    // filesystem's mtime granularity; the tombstone now RECORDS the
    // drop-time max generation and rebirth = gen number above it
    val dir = Files.createTempDirectory("graft_rebirth").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days",
      catalog = "table")
    ht.write(events)
    val first = ht.showChunks().head
    val slice = events.where(col("ts") >= timestamp_micros(lit(first.startMicros)) &&
      col("ts") < timestamp_micros(lit(first.endMicros)))
    val sliceN = slice.count()
    ht.dropChunks(Some(first.endMicros), None)
    assert(ht.read().count() === events.count() - sliceN)
    // crashed re-ingesting writer: its rebirth generation landed (routed
    // ABOVE the tombstone's recorded max) but the writer died before its
    // own healRebirth ran. Build that state by hand, then force every
    // mtime in the chunk dir onto ONE tick — the worst-case coarse
    // granularity tie an mtime-based heal mis-classifies as dead data.
    val chunkDirP = graft.sources.Hypertable.chunkDirOf(
      new org.apache.hadoop.fs.Path(first.path))
    val chunkDir = new java.io.File(chunkDirP.toUri.getPath)
    val tombContent = scala.io.Source.fromFile(
      new java.io.File(chunkDir, ".graft_dropped")).mkString.trim
    val deadMax = tombContent.toInt
    val refCols = spark.read.parquet(ht.showChunks().head.path).columns
    slice.select(refCols.map(col): _*).coalesce(1).write
      .parquet(s"${chunkDir.getPath}/_gen=${deadMax + 1}")
    // the writer stamps the rebirth COMPLETE right after its job commit
    // (before its own heal) — this crash happened after that point; an
    // unmarked generation would be a partial commit the heal refuses
    new java.io.File(chunkDir, s"_gen=${deadMax + 1}/.graft_rebirth_ok")
      .createNewFile()
    val tick = (System.currentTimeMillis() / 1000L) * 1000L
    def setAll(f: java.io.File): Unit = {
      f.setLastModified(tick)
      Option(f.listFiles()).foreach(_.foreach(setAll))
    }
    setAll(chunkDir)
    // the next mutator-side catalog refresh heals the rebirth
    ht.refreshChunkCatalog()
    assert(ht.read().count() === events.count(),
      "crashed writer's re-ingested rows lost to the tombstone heal")
    assert(ht.showChunks().exists(_.startMicros === first.startMicros))
    assert(!new java.io.File(chunkDir, ".graft_dropped").exists())
  }

  test("a crashed append's UNMARKED partial rebirth generation is never " +
    "committed, and the next append's acked rows survive above it") {
    // ADVICE r8: routing keyed rebirths off the LISTED max gen while the
    // heal keyed off the tombstone's RECORDED max — a crashed partial
    // _gen=M+1 then made the heal land liveness on the partial and GC
    // delete the acked _gen=M+2. Now: the write path normalizes the
    // recorded max over every listed generation BEFORE routing, and the
    // heal commits only generations carrying the completion marker.
    val dir = Files.createTempDirectory("graft_partial_rebirth").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days",
      catalog = "table")
    ht.write(events)
    val first = ht.showChunks().minBy(_.startMicros)
    val slice = events.where(col("ts") >= timestamp_micros(lit(first.startMicros)) &&
      col("ts") < timestamp_micros(lit(first.endMicros)))
    val sliceN = slice.count()
    ht.dropChunks(Some(first.endMicros), None)
    val chunkDirP = graft.sources.Hypertable.chunkDirOf(
      new org.apache.hadoop.fs.Path(first.path))
    val chunkDir = new java.io.File(chunkDirP.toUri.getPath)
    val deadMax = scala.io.Source.fromFile(
      new java.io.File(chunkDir, ".graft_dropped")).mkString.trim.toInt
    // crashed mid-job-commit partial: SOME of the slice's rows landed in
    // _gen=deadMax+1, no completion marker ever written
    val refCols = spark.read.parquet(ht.showChunks().head.path).columns
    slice.limit(3).select(refCols.map(col): _*).coalesce(1).write
      .parquet(s"${chunkDir.getPath}/_gen=${deadMax + 1}")
    // a GC/refresh pass must NOT resurrect the partial
    ht.refreshChunkCatalog()
    assert(ht.read().count() === events.count() - sliceN,
      "an unmarked partial rebirth generation was committed as live")
    // the next append re-ingests the full slice: its rows must route ABOVE
    // the partial remnant, commit, and be fully visible — while the
    // partial's 3 rows stay dead (total is exact, no over-count)
    ht.write(slice)
    assert(ht.read().count() === events.count(),
      "acked re-ingested rows lost to the partial-remnant interleaving")
    val tomb = new java.io.File(chunkDir, ".graft_dropped")
    assert(!tomb.exists(), "rebirth did not lift the tombstone")
    val partial = new java.io.File(chunkDir, s"_gen=${deadMax + 1}")
    assert(!partial.exists() ||
      new java.io.File(partial, ".graft_superseded").exists(),
      "the crashed partial generation must be dead (stamped or GC'd)")
  }

  test("a bare generation-less chunk shell (crashed rewrite) is never " +
    "listed as a live chunk") {
    val dir = Files.createTempDirectory("graft_shell").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days",
      catalog = "table")
    ht.write(events)
    val n = ht.showChunks().size
    // crash debris of a new chunk's rewrite: died between mkdirs and
    // its tombstone (a bare shell), or mid-write behind the tombstone (an
    // aborted job's empty `_gen=0`)
    val shell = new java.io.File(s"$dir/ht/_chunk=99999999000000")
    assert(shell.mkdirs())
    val torn = new java.io.File(s"$dir/ht/_chunk=99999998000000")
    assert(new java.io.File(torn, "_gen=0").mkdirs())
    java.nio.file.Files.write(new java.io.File(torn, ".graft_dropped").toPath,
      "-1".getBytes("UTF-8"))
    ht.refreshChunkCatalog()
    assert(ht.showChunks().size === n,
      "phantom shell must not enter the manifest")
    assert(Hypertable.at(spark, s"$dir/ht").showChunks().size === n)
    assert(ht.read().count() === events.count())
  }
}
