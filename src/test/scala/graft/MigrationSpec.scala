package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Columnstore, Hypertable}

/** Flat→generational layout migration (`migrateToGenLayout`): the upgrade
  * path that gives pre-existing tables the SCALE.md §14 snapshot-isolation
  * contract. The reference needs no equivalent (MVCC is ambient in
  * Postgres); graft's migration must relocate every chunk's data AND
  * sidecar state without a rewrite, survive a crash at any point, and
  * leave a table whose subsequent rewrites are generational.
  */
class MigrationSpec extends AnyFunSuite {
  lazy val spark = Graft.session("migration-spec", "local[4]", 4)
  import spark.implicits._

  private def mkFlat(d: String): Hypertable = {
    val ht = Hypertable.create(spark, s"$d/ht", "t", chunkWidth = "100",
      timeKind = "bigint")
    ht.write((0L until 300L).map(i => (i, i % 17, s"r$i"))
      .toDF("t", "v", "s"))
    assert(ht.showChunks().size === 3)
    ht
  }

  test("migration preserves rows, sidecar state, and flips the catalog") {
    val d = Files.createTempDirectory("graft_mig").toString
    val ht = mkFlat(d)
    val before = ht.read().select("t", "v", "s").collect().toSet
    ht.enableChunkSkipping("v")
    val cs = ht.showChunks()
    // one compressed chunk, one tablespace-resident chunk, one frozen
    Columnstore.compressChunk(spark, cs(0).path,
      Columnstore.Options(orderBy = Seq("t")))
    ht.attachTablespace(s"$d/cold")
    ht.moveChunk(cs(1).startMicros, Some(s"$d/cold"))
    ht.freezeChunk(cs(2).startMicros)

    val mig = ht.migrateToGenLayout()
    assert(mig.genLayout && mig.catalogMode === "table")
    assert(mig.read().select("t", "v", "s").collect().toSet === before)
    val migChunks = mig.showChunks()
    assert(migChunks.size === 3)
    assert(migChunks.forall(_.path.contains(s"${"_gen"}=0")),
      s"expected every chunk at _gen=0: ${migChunks.map(_.path)}")
    // sidecars rode the rename: columnstore marker, frozen sentinel,
    // tablespace residence, skip stats
    val byStart = migChunks.map(c => c.startMicros -> c).toMap
    assert(Columnstore.isCompressed(spark, byStart(cs(0).startMicros).path))
    assert(byStart(cs(1).startMicros).path.contains("/cold/"))
    assert(mig.isFrozen(cs(2).startMicros))
    assert(mig.columnStatsCatalog().nonEmpty, "skip stats lost in migration")
    // migrating again refuses
    intercept[IllegalArgumentException] { mig.migrateToGenLayout() }
    // and the first post-migration rewrite is GENERATIONAL: a new _gen=1
    // publishes while a pre-rewrite plan keeps reading _gen=0 (grace)
    mig.unfreezeChunk(cs(2).startMicros)
    val pinned = mig.read().where(col("t") >= 200L)
    Columnstore.compressChunk(spark, byStart(cs(2).startMicros).path,
      Columnstore.Options(orderBy = Seq("t")))
    assert(pinned.count() === 100L, "pinned reader lost rows across rewrite")
    assert(mig.showChunks().find(_.startMicros == cs(2).startMicros).get
      .path.contains(s"${"_gen"}=1"))
    // a PRE-migration saved chunk path (flat _chunk= dir) still works for
    // per-chunk primitives: liveChunkTarget redirects it to the live
    // generation instead of reading the now-gen-holding dir itself
    Columnstore.compressChunk(spark, cs(0).path,
      Columnstore.Options(orderBy = Seq("t")))
    assert(mig.showChunks().find(_.startMicros == cs(0).startMicros).get
      .path.contains(s"${"_gen"}=1"),
      "flat-path compress did not publish the next generation")
    assert(mig.read().count() === 300)
    // the pre-migration handle itself must REFUSE mutations — a flat
    // write would land beside the generations, acked but invisible
    val stale = intercept[IllegalStateException] {
      ht.write(Seq((900L, 1L, "x")).toDF("t", "v", "s"))
    }
    assert(stale.getMessage.contains("re-open"),
      s"stale-handle refusal missing: ${stale.getMessage}")
    // ...and its READS too: root discovery through the flat handle would
    // list every _gen= dir and double-count each rewritten chunk's rows
    intercept[IllegalStateException] { ht.read() }
    intercept[IllegalStateException] { ht.showChunks() }
    assert(mig.read().count() === 300)
  }

  test("a rewrite racing drop_chunks cannot resurrect the dropped chunk") {
    // the stale-snapshot interleaving: a sweep captures showChunks, the
    // chunk is dropped (tombstoned), the sweep's compress then completes —
    // its publish must be DISCARDED, not committed above the tombstone
    // where the rebirth heal would mistake it for re-ingested data and
    // remove the tombstone (silently undoing retention)
    val d = Files.createTempDirectory("graft_mig_race").toString
    val ht = Hypertable.create(spark, s"$d/ht", "t", chunkWidth = "100",
      timeKind = "bigint", catalog = "table")
    ht.write((0L until 300L).map(i => (i, i % 17, s"r$i")).toDF("t", "v", "s"))
    val victim = ht.showChunks().minBy(_.startMicros)
    ht.dropChunks(Some(victim.endMicros), None)
    val afterDrop = ht.read().count()
    Columnstore.compressChunk(spark, victim.path,
      Columnstore.Options(orderBy = Seq("t")))
    assert(ht.showChunks().size === 2 && ht.read().count() === afterDrop,
      "stale compress resurrected a dropped chunk")
    val fs = new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val chunkDir = new Path(victim.path).getParent
    assert(fs.exists(new Path(chunkDir, ".graft_dropped")),
      "the drop tombstone must survive the refused publish")
  }

  test("a crashed migration completes on the next open, from any point") {
    val d = Files.createTempDirectory("graft_mig_crash").toString
    val ht = mkFlat(d)
    val before = ht.read().select("t", "v", "s").collect().toSet
    val fs = new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a crash mid-migration: marker down, one chunk converted,
    // one stranded in its dot-tmp, one untouched
    Hypertable.writeSmallFile(fs, new Path(s"$d/ht", "_graft_migrating"), "gen")
    val dirs = fs.listStatus(new Path(s"$d/ht")).map(_.getPath)
      .filter(_.getName.startsWith("_chunk=")).sortBy(_.getName)
    assert(dirs.length === 3)
    // fully converted chunk
    val done = dirs(0)
    val tmp0 = new Path(done.getParent, s".${done.getName}.mig")
    assert(fs.rename(done, tmp0)); fs.mkdirs(done)
    assert(fs.rename(tmp0, new Path(done, "_gen=0")))
    // stranded mid-conversion (crash between the two renames)
    val half = dirs(1)
    assert(fs.rename(half, new Path(half.getParent, s".${half.getName}.mig")))

    val healed = Hypertable.at(spark, s"$d/ht")
    assert(healed.genLayout && healed.catalogMode === "table")
    assert(healed.read().select("t", "v", "s").collect().toSet === before)
    assert(healed.showChunks().forall(_.path.contains("_gen=0")))
    assert(!fs.exists(new Path(s"$d/ht", "_graft_migrating")))
  }

  test("a bare marker (crash before any conversion) migrates on open, and " +
    "a reader-only healer releases the lease it had to claim") {
    val d = Files.createTempDirectory("graft_mig_bare").toString
    val ht = mkFlat(d)
    val before = ht.read().count()
    val fs = new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the healer being a DIFFERENT process than the crashed
    // migrator: this JVM does not hold the lease when it opens the table
    Hypertable.releaseMutatorLease(spark, s"$d/ht")
    Hypertable.writeSmallFile(fs, new Path(s"$d/ht", "_graft_migrating"), "gen")
    val healed = Hypertable.at(spark, s"$d/ht")
    assert(healed.genLayout && healed.read().count() === before)
    // the heal claimed the lease to run; a read-only session keeping it
    // would lock every writer out for its lifetime — it must hand it back
    assert(!fs.exists(new Path(s"$d/ht", "_graft_mutator_lease")),
      "reader-only healer retained the mutator lease")
  }

  test("a table-catalog flat table opens as a list table: a stale " +
    "single-file snapshot is never served, and migration still reaches " +
    "the generation layout") {
    val d = Files.createTempDirectory("graft_mig_tableflat").toString
    val ht = mkFlat(d)
    val before = ht.read().select("t", "v", "s").collect().toSet
    val cs = ht.showChunks()
    val fs = new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new Path(s"$d/ht")
    // an older version's meta: "catalog":"table" over the flat layout,
    // with no genLayout key at all
    val metaP = new Path(root, "_graft_hypertable.json")
    val meta = Hypertable.readSmallFile(fs, metaP)
      .replace("\"genLayout\":false,", "").replace("\"catalog\":\"list\"",
        "\"catalog\":\"table\"")
    assert(meta.contains("\"catalog\":\"table\"") && !meta.contains("genLayout"))
    Hypertable.writeSmallFile(fs, metaP, meta)
    // its single-file chunk snapshot, missing the last chunk and stamped
    // NEWER than the root — an mtime freshness cue would serve it
    val legacy = new Path(root, "_graft_chunks.json")
    Hypertable.writeSmallFile(fs, legacy, cs.dropRight(1).map(c =>
      s"""{"s":${c.startMicros},"e":${c.endMicros},"p":"${c.path}"}""")
      .mkString("""{"chunks":[""", ",", "]}"))
    val newest = (fs.listStatus(root).map(_.getModificationTime) :+
      fs.getFileStatus(root).getModificationTime).max
    fs.setTimes(legacy, newest + 60000L, -1)

    val opened = Hypertable.at(spark, s"$d/ht")
    assert(!opened.genLayout && opened.catalogMode === "list")
    assert(opened.showChunks().map(_.startMicros) === cs.map(_.startMicros),
      "every flat chunk must be listed")
    assert(opened.read().select("t", "v", "s").collect().toSet === before)
    val mig = opened.migrateToGenLayout()
    assert(mig.genLayout && mig.catalogMode === "table")
    assert(!fs.exists(legacy), "migration removes the dead snapshot file")
    assert(mig.showChunks().size === cs.size)
    assert(mig.read().select("t", "v", "s").collect().toSet === before)
    assert(Hypertable.at(spark, s"$d/ht").read().select("t", "v", "s")
      .collect().toSet === before)

    // create(catalog = "table") over an existing list table keeps it a
    // list table rather than pairing the table catalog with flat dirs
    val d2 = Files.createTempDirectory("graft_mig_tablecreate").toString
    val flat = mkFlat(d2)
    val rows = flat.read().select("t", "v", "s").collect().toSet
    val again = Hypertable.create(spark, s"$d2/ht", "t", chunkWidth = "100",
      timeKind = "bigint", catalog = "table")
    for (h <- Seq(again, Hypertable.at(spark, s"$d2/ht"))) {
      assert(!h.genLayout && h.catalogMode === "list")
      assert(h.showChunks().size === 3)
      assert(h.read().select("t", "v", "s").collect().toSet === rows)
    }
  }
}
