package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Columnstore, Hypertable}

/** Stage-and-stamp, the one generation publish (SCALE.md §15): a chunk
  * rewrite stages IN the final `_gen=N+1` dir and COMMITS with a single
  * superseded-stamp PUT on the old generation, so no publish depends on
  * an atomic directory rename (S3/GCS rename is per-file copy+delete,
  * non-atomic). Readers must never see a torn generation: mid-write the
  * unstamped new dir is invisible (manifest points at the old path;
  * listing liveness is "lowest unstamped"; a NEW chunk stages behind a
  * tombstone), a crash mid-write leaves a remnant the next maintenance
  * GC deletes, and a crash after the stamp heals FORWARD. Reference analogue: the catalog is the truth in
  * Postgres (`src/ts_catalog/catalog.h`) — data files never need renames.
  */
class DirectPublishSpec extends AnyFunSuite {
  lazy val spark = Graft.session("direct-publish-spec", "local[4]", 4)

  private def events = Tables.table(spark, "/root/testdata/sf0.001", "events")

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def fresh(): (Hypertable, String) = {
    val dir = Files.createTempDirectory("graft_direct").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts",
      chunkWidth = "7 days", catalog = "table")
    ht.write(events)
    (ht, dir)
  }

  test("compress/decompress commit by stamp, not rename: rows exact, " +
    "old generation graced, new one live") {
    val (ht, _) = fresh()
    val n = ht.read().count()
    val fs = fsOf(ht.path)
    val c = ht.showChunks().head
    assert(c.path.contains("_gen=0"))
    val opts = Columnstore.Options(orderBy = Seq("ts"))
    Columnstore.compressChunk(spark, c.path, opts)
    val c1 = ht.showChunks().find(_.startMicros == c.startMicros).get
    assert(c1.path.contains("_gen=1"),
      s"the publish must land in the staged final dir: ${c1.path}")
    assert(Columnstore.isCompressed(spark, c1.path))
    // old generation superseded in place, grace-retained for pinned readers
    val gen0 = new Path(c.path)
    assert(fs.exists(gen0) && fs.exists(new Path(gen0, ".graft_superseded")))
    assert(ht.read().count() === n)
    Columnstore.decompressChunk(spark, c1.path)
    val c2 = ht.showChunks().find(_.startMicros == c.startMicros).get
    assert(c2.path.contains("_gen=2"))
    assert(ht.read().count() === n)
  }

  test("DML + merge + split all publish direct: rowset oracle holds") {
    val (ht, _) = fresh()
    val ids = ht.read().select("event_id").collect()
      .map(_.getLong(0)).toSet
    val victims = ids.filter(_ % 7 == 3)
    assert(ht.deleteWhere(pmod(col("event_id"), lit(7)) === 3)
      === victims.size)
    val cs = ht.showChunks().sortBy(_.startMicros)
    ht.mergeChunks(cs(0).startMicros, cs(1).startMicros)
    ht.splitChunk(cs(0).startMicros)
    val got = ht.read().select("event_id").collect()
      .map(_.getLong(0)).toSet
    assert(got === ids -- victims)
    assert(ht.updateWhere(pmod(col("event_id"), lit(7)) === 1,
      Map("value" -> lit(-1.0))) > 0)
    assert(ht.read().where(col("value") === -1.0).count()
      === (ids -- victims).count(_ % 7 == 1))
  }

  test("a TORN direct stage (crash mid-write: partial files, no stamp) is " +
    "invisible to readers and reaped by the next maintenance GC") {
    val (ht, _) = fresh()
    val n = ht.read().count()
    val fs = fsOf(ht.path)
    val c = ht.showChunks().head
    val gen0 = new Path(c.path)
    val chunkDir = gen0.getParent
    // simulate a rewrite that died mid-job: SOME data files
    // copied into the final _gen=1 dir, no sidecars, no superseded stamp
    val gen1 = new Path(chunkDir, "_gen=1")
    fs.mkdirs(gen1)
    val firstFile = fs.listStatus(gen0)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")).head
    org.apache.hadoop.fs.FileUtil.copy(fs, firstFile.getPath, fs,
      new Path(gen1, firstFile.getPath.getName), false,
      spark.sparkContext.hadoopConfiguration)
    // readers (fresh handle included) never see the torn generation
    assert(ht.read().count() === n)
    assert(Hypertable.at(spark, ht.path).read().count() === n)
    assert(Hypertable.at(spark, ht.path).showChunks()
      .find(_.startMicros == c.startMicros).get.path.contains("_gen=0"))
    // the next maintenance op's GC (exclusive-lease holder) deletes the
    // never-acked remnant
    ht.updateWhere(col("event_id") === -1L, Map("value" -> lit(0.0)))
    ht.refreshChunkCatalog()
    assert(!fs.exists(gen1), "crashed direct stage must be reaped")
    assert(ht.read().count() === n)
  }

  test("a split whose upper half dies mid-write keeps every parent row: a " +
    "new chunk's stage stays unlisted until its commit") {
    val (ht, _) = fresh()
    val fs = fsOf(ht.path)
    def counts(h: Hypertable) = h.read().groupBy("event_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = counts(ht)
    val c = ht.showChunks().minBy(_.startMicros)
    val at = c.startMicros + (c.endMicros - c.startMicros) / 2
    val upper = new Path(ht.path, s"_chunk=$at")
    // the upper half's write job fails: an aborted job leaves its output
    // `_gen=` dir behind with no data files and no `_range`
    var fired = false
    Hypertable.crashHook = name => if (!fired && name == "rewrite.staged") {
      fired = true
      fs.listStatus(upper).filter(_.getPath.getName.startsWith("_gen="))
        .foreach(g => fs.listStatus(g.getPath)
          .foreach(f => fs.delete(f.getPath, true)))
      throw new Hypertable.InjectedCrash(name)
    }
    try intercept[Hypertable.InjectedCrash](ht.splitChunk(c.startMicros, at))
    finally Hypertable.crashHook = _ => ()
    assert(fired)
    // a fresh handle, then a settle write (heals the torn split's marker)
    val h = Hypertable.at(spark, ht.path)
    assert(!h.showChunks().exists(_.startMicros == at),
      "a torn new-chunk stage must not be listed")
    h.write(events.limit(0))
    h.refreshChunkCatalog()
    assert(h.showChunks().find(_.startMicros == c.startMicros)
      .map(_.endMicros) === Some(c.endMicros), "the parent must not shrink")
    assert(counts(h) === before)
    // the split then runs cleanly over the debris
    h.splitChunk(c.startMicros, at)
    assert(h.showChunks().exists(_.startMicros == at))
    assert(counts(Hypertable.at(spark, ht.path)) === before)
  }

  test("a crash AFTER the stamp commit but BEFORE the manifest sync heals " +
    "FORWARD: the completed generation is served") {
    val (ht, _) = fresh()
    val n = ht.read().count()
    val fs = fsOf(ht.path)
    val c = ht.showChunks().head
    val gen0 = new Path(c.path)
    val chunkDir = gen0.getParent
    // complete publish by hand: full copy (data + sidecars) into
    // _gen=1, content stamp bumped, old generation stamped — then "crash"
    // before syncCatalogForChunk
    val gen1 = new Path(chunkDir, "_gen=1")
    fs.mkdirs(gen1)
    fs.listStatus(gen0).filter(_.isFile).foreach { s =>
      org.apache.hadoop.fs.FileUtil.copy(fs, s.getPath, fs,
        new Path(gen1, s.getPath.getName), false,
        spark.sparkContext.hadoopConfiguration)
    }
    // publish order: content stamp, then the superseded stamp (commit)
    val stamp = new Path(ht.path, "_graft_content_stamp")
    val out = fs.create(stamp, true)
    out.write("999999".getBytes("UTF-8")); out.close()
    fs.create(new Path(gen0, ".graft_superseded"), true).close()
    // a FRESH handle's staleness cue re-lists and serves the committed
    // generation — heal is forward, never a torn mix
    val healed = Hypertable.at(spark, ht.path)
    val cNew = healed.showChunks().find(_.startMicros == c.startMicros).get
    assert(cNew.path.contains("_gen=1"),
      s"heal must land on the committed generation: ${cNew.path}")
    assert(healed.read().count() === n)
  }
}
