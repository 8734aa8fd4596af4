package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables
import graft.sources.{Hypertable, ReaderEpochs}

/** Round 13: the cagg materialization's live-generation pointers live in
  * a versioned `_mat_catalog/v<N>.json` written at publish time (the same
  * move round 5 made for raw chunks with `_graft_chunks.json`), so
  * `materialized`/`realtime` construction reads ONE snapshot instead of
  * ~2 listStatus per mat chunk — the last O(chunks)-metadata-per-query
  * path. Retired content dirs carry their grace clock IN the catalog
  * (started at the catalog write that dereferenced them), and drops
  * retire through the same grace instead of deleting under readers
  * (round-12 advisor low).
  */
class MatCatalogSpec extends AnyFunSuite {
  lazy val spark = graft.Graft.session("mat-catalog-spec", "local[4]", 4)
  import spark.implicits._

  private val defn = CaggDef("1 hour", Seq("event_type"),
    Seq(count(lit(1)).as("n"), max(col("value")).as("max_value")),
    matChunkWidth = "7 days")

  private def us(s: String): Long = Timestamp.valueOf(s).getTime * 1000L

  private def fresh(scheme: String = "")
      : (String, Hypertable, ContinuousAggregate) = {
    val dir = scheme + Files.createTempDirectory("graft_matcat").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(Tables.table(spark, "/root/testdata/sf0.001", "events"))
    val cagg = ContinuousAggregate.create(spark, s"$dir/cagg", ht, defn)
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    (dir, ht, cagg)
  }

  test("refresh writes the catalog; a bucket-bounded realtime query " +
      "resolves generations with ZERO per-chunk listings") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountFs].getName)
    val (_, _, cagg) = fresh("countfs://")
    val cat = cagg.readMatCatalog()
    assert(cat.isDefined, "refresh must write the mat catalog")
    assert(cat.get.chunks.nonEmpty &&
      cat.get.chunks.forall(e => e.rel.contains("_mat_gen=") && e.hasData))
    // warm the catalog-version-keyed scan memo (first construction pays
    // Spark's one-time parallel listing of the live dirs — the same
    // contract as a raw hypertable's manifest-pinned scan)
    cagg.realtime.where(col("bucket") < lit("2024-01-08").cast("timestamp"))
      .collect()
    CountFs.reset()
    val n = cagg.realtime
      .where(col("bucket") < lit("2024-01-08").cast("timestamp")).count()
    assert(n > 0)
    val perChunk = CountFs.listed.toArray(Array.empty[String])
      .filter(p => p.contains("/cagg/") && p.contains("_mat_chunk="))
    assert(perChunk.isEmpty,
      s"catalog-backed read must not list mat chunk dirs, saw: ${perChunk.take(5).mkString(", ")}")
  }

  test("graced reader: a plan built before a refresh AND a drop still " +
      "collects its files (retired content outlives the catalog write)") {
    val (_, _, cagg) = fresh()
    val before = cagg.materialized.collect().toSet
    val pinned = cagg.materialized // plans against the current generations
    // late row -> repair refresh publishes new generations, retiring the
    // pinned ones in the catalog
    val late = Seq((910000L, Timestamp.valueOf("2024-01-03 07:30:00"), 9L,
      "click", 999.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    cagg.ingest(late)
    cagg.refreshInvalidated()
    // fresh plans see the repaired state at once
    assert(cagg.materialized.where(col("max_value") === 999.0).count() === 1)
    // and a retention drop removes the oldest chunk from the catalog
    val dropped = cagg.dropMatChunks(cagg.matChunks.drop(1).head)
    assert(dropped.nonEmpty)
    // the pinned plan still reads the content it planned — old
    // generations and dropped-chunk content are grace-retained
    assert(pinned.collect().toSet === before)
    assert(!cagg.matChunks.exists(dropped.contains))
  }

  test("dropped/retired content is deleted only after the grace expires; " +
      "the emptied chunk-dir shell is reaped") {
    val (dir, _, cagg) = fresh()
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cut = cagg.matChunks.last
    val dropped = cagg.dropMatChunks(cut)
    assert(dropped.nonEmpty)
    val droppedDirs = dropped.map(k => new Path(s"$dir/cagg/mat/_mat_chunk=$k"))
    // within the grace: content still on disk (readers may have planned it)
    droppedDirs.foreach(d => assert(fs.exists(d), s"grace must retain $d"))
    try {
      spark.conf.set("spark.graft.gc.graceMs", "50")
      Thread.sleep(120)
      // any catalog sync GCs expired retirements (here: a no-op drop)
      cagg.dropMatChunks(Long.MinValue)
      droppedDirs.foreach(d =>
        assert(!fs.exists(d), s"expired retired chunk must be reaped: $d"))
    } finally spark.conf.unset("spark.graft.gc.graceMs")
    assert(cagg.materialized.collect().nonEmpty)
  }

  test("crash-remnant generation (published, catalog write never landed) " +
      "is retired by the next publish, and the catalog — not the newest " +
      "dir — names the live generation") {
    val (dir, ht, cagg) = fresh()
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = cagg.matChunks.head
    val chunkDir = new Path(s"$dir/cagg/mat/_mat_chunk=$key")
    // a crashed publish: a generation dir NEWER than every cataloged one,
    // never referenced by any catalog version
    val orphan = new Path(chunkDir, "_mat_gen=9999999999999")
    fs.mkdirs(orphan)
    val before = cagg.materialized.collect().toSet
    assert(cagg.readMatCatalog().get.chunks
      .forall(e => !e.rel.contains("9999999999999")),
      "an orphan gen must never become the live pointer")
    assert(cagg.materialized.collect().toSet === before)
    // the next publish to that chunk retires the orphan
    val late = Seq((910001L, Timestamp.valueOf("2024-01-01 01:30:00"), 9L,
      "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    cagg.ingest(late)
    cagg.refreshInvalidated()
    assert(!fs.exists(orphan), "the next publish must reap the orphan")
    try {
      spark.conf.set("spark.graft.gc.graceMs", "50")
      Thread.sleep(120)
      cagg.dropMatChunks(Long.MinValue) // sync -> GC
      assert(!fs.exists(orphan), "expired orphan gen must be deleted")
    } finally spark.conf.unset("spark.graft.gc.graceMs")
    assert(cagg.realtime.collect().toSet ===
      ht.read().groupBy(graft.functions.time_bucket("1 hour", $"ts")
          .as("bucket"), $"event_type")
        .agg(count(lit(1)).as("n"), max($"value").as("max_value"))
        .collect().toSet)
  }

  test("a LIVE reader epoch blocks generation GC past the grace; a stale " +
      "or later-registered epoch does not (round-13 exactness)") {
    val (dir, _, cagg) = fresh()
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rdir = new Path(s"$dir/cagg/${ReaderEpochs.DIR}")
    fs.mkdirs(rdir)
    val foreign = new Path(rdir, "r_foreign-process")
    // a foreign process's epoch registered BEFORE the drop retires dirs
    Hypertable.writeSmallFile(fs, foreign,
      (System.currentTimeMillis() - 5000).toString)
    val cut = cagg.matChunks.last
    val dropped = cagg.dropMatChunks(cut)
    assert(dropped.nonEmpty)
    val droppedDirs = dropped.map(k => new Path(s"$dir/cagg/mat/_mat_chunk=$k"))
    try {
      spark.conf.set("spark.graft.gc.graceMs", "50")
      Thread.sleep(120)
      cagg.dropMatChunks(Long.MinValue) // sync -> GC pass
      droppedDirs.foreach(d => assert(fs.exists(d),
        s"a live pre-retire reader epoch must block GC of $d"))
      // STALE epoch (no heartbeat — crashed reader): grace floor returns
      fs.setTimes(foreign, 1000L, 1000L)
      cagg.dropMatChunks(Long.MinValue)
      droppedDirs.foreach(d => assert(!fs.exists(d),
        s"a stale epoch must not block GC of $d"))
      // an epoch registered AFTER a retire cannot have planned it — with
      // no skew pad it does not block
      spark.conf.set("spark.graft.gc.epochSkewMs", "0")
      val dropped2 = cagg.dropMatChunks(Long.MaxValue) // the remaining chunk
      assert(dropped2.nonEmpty)
      val dirs2 = dropped2.map(k => new Path(s"$dir/cagg/mat/_mat_chunk=$k"))
      Hypertable.writeSmallFile(fs, foreign,
        (System.currentTimeMillis() + 60000).toString)
      Thread.sleep(120)
      cagg.dropMatChunks(Long.MinValue)
      dirs2.foreach(d => assert(!fs.exists(d),
        s"a post-retire epoch must not block GC of $d"))
    } finally {
      spark.conf.unset("spark.graft.gc.graceMs")
      spark.conf.unset("spark.graft.gc.epochSkewMs")
      fs.delete(foreign, false)
    }
  }

  test("a materialized read registers this process's epoch file before " +
      "the catalog read; the sweeper drops it once no plan holds it") {
    val (dir, _, cagg) = fresh()
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val f = new Path(
      s"$dir/cagg/${ReaderEpochs.DIR}/r_${Hypertable.processId}")
    val df = cagg.materialized
    assert(fs.exists(f),
      "the plan must write the reader epoch before resolving the catalog")
    val ts0 = Hypertable.readSmallFile(fs, f).trim.toLong
    assert(ts0 <= System.currentTimeMillis())
    // heartbeat keeps the file while the plan is reachable
    ReaderEpochs.sweepNow()
    assert(fs.exists(f))
    assert(df.count() > 0)
    // all plans gone -> the sweep drops the file; reads still work (the
    // grace floor is the contract again)
    ReaderEpochs.expireAll()
    assert(!fs.exists(f), "an emptied epoch set must drop its file")
    assert(cagg.materialized.count() > 0)
  }

  test("a catalog-less cagg with mat chunk dirs is refused") {
    val (dir, _, cagg) = fresh()
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a layout older than the catalog: chunk dirs, no `_mat_catalog`
    fs.delete(new Path(s"$dir/cagg/_mat_catalog"), true)
    val e = intercept[IllegalStateException](cagg.materialized.collect())
    assert(e.getMessage.contains("re-create"), e.getMessage)
    assert(intercept[IllegalStateException](
      cagg.refresh(us("2024-01-22 00:00:00"), us("2024-01-23 00:00:00"),
        force = true)).getMessage.contains("re-create"))
  }

  private def matFiles(dir: String): Seq[Path] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new Path(s"$dir/cagg/mat"), true)
    val out = Seq.newBuilder[Path]
    while (it.hasNext) out += it.next().getPath
    out.result()
  }

  private def matChunkDirs(dir: String): Seq[Path] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(s"$dir/cagg/mat")).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_mat_chunk="))
      .map(_.getPath)
  }

  private def withGrace[T](ms: Long)(body: => T): T =
    try { spark.conf.set("spark.graft.gc.graceMs", ms.toString); body }
    finally spark.conf.unset("spark.graft.gc.graceMs")

  private def armCrash(point: String): Unit =
    Hypertable.crashHook = n =>
      if (n == point) throw new Hypertable.InjectedCrash(n)

  private def disarm(): Unit = Hypertable.crashHook = _ => ()

  private def lateRow(id: Long, ts: String, value: Double) =
    Seq((id, Timestamp.valueOf(ts), 9L, "click", value, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  private def expected(ht: Hypertable) =
    ht.read().groupBy(graft.functions.time_bucket("1 hour", $"ts")
        .as("bucket"), $"event_type")
      .agg(count(lit(1)).as("n"), max($"value").as("max_value"))
      .collect().toSet

  test("compress, decompress and a drop leave no staging marker or chunk dir") {
    val (dir, _, cagg) = fresh()
    assert(cagg.compressMaterialization().nonEmpty)
    assert(cagg.decompressMaterialization().nonEmpty)
    def markers = matFiles(dir).filter(_.getName.startsWith(".staging_"))
    assert(markers.isEmpty, s"staging markers left behind: $markers")
    withGrace(50) {
      assert(cagg.dropMatChunks(Long.MaxValue).nonEmpty)
      Thread.sleep(120)
      cagg.dropMatChunks(Long.MinValue) // a publish: GC pass
      assert(markers.isEmpty, s"staging markers left behind: $markers")
      assert(matChunkDirs(dir).isEmpty,
        s"dropped chunk dirs left behind: ${matChunkDirs(dir)}")
    }
  }

  test("crash after staging, before the catalog write: reads unchanged, " +
      "the next publish reaps the remnant") {
    val (dir, ht, cagg) = fresh()
    val before = cagg.materialized.collect().toSet
    val catBefore = cagg.readMatCatalog().get
    cagg.ingest(lateRow(910002L, "2024-01-03 07:30:00", 777.0))
    armCrash("mat.staged")
    try intercept[Hypertable.InjectedCrash](cagg.refreshInvalidated())
    finally disarm()
    assert(cagg.readMatCatalog().get.v === catBefore.v)
    assert(cagg.materialized.collect().toSet === before)
    val live = catBefore.chunks.map(_.rel).toSet
    val remnant = matFiles(dir).filter(f => f.getName.endsWith(".parquet") &&
      !live.exists(r => f.toString.contains(s"/$r/")))
    assert(remnant.nonEmpty, "the crashed publish must leave its stage")
    withGrace(50) {
      ReaderEpochs.expireAll()
      cagg.refreshInvalidated() // rolls back, reaps, publishes again
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      remnant.foreach(f => assert(!fs.exists(f), s"remnant file kept: $f"))
    }
    assert(cagg.materialized.where(col("max_value") === 777.0).count() === 1)
    assert(cagg.realtime.collect().toSet === expected(ht))
  }

  test("crash after the catalog write, before the stamps: rolled forward; " +
      "old generations go after the grace and the last epoch") {
    val (dir, ht, cagg) = fresh()
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = cagg.materialized.collect().toSet
    val pinned = cagg.materialized // registers this process's epoch
    val oldRels = cagg.readMatCatalog().get.chunks.map(_.rel).toSet
    cagg.ingest(lateRow(910003L, "2024-01-03 07:30:00", 888.0))
    armCrash("mat.after_catalog")
    try intercept[Hypertable.InjectedCrash](cagg.refreshInvalidated())
    finally disarm()
    // the catalog write is the commit: readers see the repair at once
    assert(cagg.materialized.where(col("max_value") === 888.0).count() === 1)
    val cat = cagg.readMatCatalog().get
    val newRels = cat.chunks.map(_.rel).filterNot(oldRels)
    val supersededRels = oldRels -- cat.chunks.map(_.rel)
    assert(newRels.nonEmpty && supersededRels.nonEmpty)
    def exists(rel: String) = fs.exists(new Path(s"$dir/cagg/mat/$rel"))
    withGrace(50) {
      Thread.sleep(120)
      cagg.dropMatChunks(Long.MinValue) // roll forward, then GC
      Thread.sleep(120)
      cagg.dropMatChunks(Long.MinValue)
      // the live epoch of `pinned` predates the stamps: GC yields
      supersededRels.foreach(r => assert(exists(r), s"epoch-pinned $r reaped"))
      newRels.foreach(r => assert(exists(r), s"committed generation $r reaped"))
      assert(pinned.collect().toSet === before)
      ReaderEpochs.expireAll()
      cagg.dropMatChunks(Long.MinValue)
      supersededRels.foreach(r => assert(!exists(r), s"$r kept past the grace"))
      newRels.foreach(r => assert(exists(r), s"committed generation $r reaped"))
    }
    assert(cagg.realtime.collect().toSet === expected(ht))
  }

  test("crash between a drop's catalog write and its tombstones") {
    val (dir, _, cagg) = fresh()
    val cut = cagg.matChunks.last
    armCrash("mat.after_catalog")
    try intercept[Hypertable.InjectedCrash](cagg.dropMatChunks(cut))
    finally disarm()
    val dropped = matChunkDirs(dir).filter(d =>
      !cagg.matChunks.exists(k => d.getName == s"_mat_chunk=$k"))
    assert(dropped.nonEmpty, "the drop must have left the catalog")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    withGrace(50) {
      ReaderEpochs.expireAll()
      cagg.dropMatChunks(Long.MinValue) // roll forward: tombstones
      dropped.foreach(d => assert(fs.exists(new Path(d, ".graft_dropped"))))
      Thread.sleep(120)
      cagg.dropMatChunks(Long.MinValue) // GC
      dropped.foreach(d => assert(!fs.exists(d), s"dropped dir kept: $d"))
    }
    assert(cagg.materialized.collect().nonEmpty)
  }

  test("a cagg written with the retire-list catalog converts and reads " +
      "the same rows") {
    val (dir, _, cagg) = fresh()
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cat = cagg.readMatCatalog().get
    val Seq(a, b) = cat.chunks.take(2)
    // the earlier layout: publish-ts generation names, and a `retired`
    // list — an older generation of `a` and the dropped chunk `b`
    def rename(rel: String, ts: Long): String = {
      val to = rel.replaceAll("_mat_gen=\\d+$", s"_mat_gen=$ts")
      assert(fs.rename(new Path(s"$dir/cagg/mat/$rel"),
        new Path(s"$dir/cagg/mat/$to")))
      to
    }
    val aLive = rename(a.rel, 1792000000000L)
    val aOld = aLive.replace("1792000000000", "1791000000000")
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(s"$dir/cagg/mat/$aLive"),
      fs, new Path(s"$dir/cagg/mat/$aOld"), false, spark.sparkContext.hadoopConfiguration)
    val bDead = rename(b.rel, 1792000000001L)
    val chunks = cat.chunks.filterNot(_ == b).map(e =>
      if (e == a) e.copy(rel = aLive) else e)
    def entry(e: ContinuousAggregate.MatEntry) =
      s"""{"k":${e.key},"d":"${e.rel}","f":${e.hasData},"c":${e.compressed}}"""
    val body = s"""{"v":${cat.v + 1},"chunks":[${chunks.map(entry).mkString(",")}],""" +
      s""""retired":[{"x":"g","d":"$aOld","t":1},{"x":"g","d":"$bDead","t":1}]}"""
    Hypertable.writeSmallFile(fs,
      new Path(s"$dir/cagg/_mat_catalog/v${cat.v + 1}.json"), body)
    val rows = cagg.materialized.collect().toSet
    assert(rows.nonEmpty)
    withGrace(50) {
      ReaderEpochs.expireAll()
      cagg.dropMatChunks(Long.MinValue) // the first refresh-lock holder converts
      val conv = cagg.readMatCatalog().get
      assert(conv.legacyRetired.isEmpty && conv.gc.toSet === Set(a.key, b.key))
      assert(fs.exists(new Path(s"$dir/cagg/mat/$aOld/.graft_superseded")))
      assert(fs.exists(new Path(s"$dir/cagg/mat/_mat_chunk=${b.key}/.graft_dropped")))
      assert(cagg.materialized.collect().toSet === rows)
      Thread.sleep(120)
      ReaderEpochs.expireAll()
      cagg.dropMatChunks(Long.MinValue) // GC
      assert(!fs.exists(new Path(s"$dir/cagg/mat/$aOld")))
      assert(!fs.exists(new Path(s"$dir/cagg/mat/_mat_chunk=${b.key}")))
      assert(fs.exists(new Path(s"$dir/cagg/mat/$aLive")))
      assert(cagg.readMatCatalog().get.gc.isEmpty)
    }
    assert(cagg.materialized.collect().toSet === rows)
  }
}

/** Local FS that records every listStatus target — the IO assertion for
  * the catalog-backed resolution (probe-only, test scope).
  */
class CountFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "countfs"
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def listStatus(p: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] = {
    CountFs.listed.add(p.toString)
    super.listStatus(p)
  }
}

object CountFs {
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def reset(): Unit = listed.clear()
}
