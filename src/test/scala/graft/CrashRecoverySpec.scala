package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GenStore, Hypertable}
import graft.streaming.{CaggDef, ContinuousAggregate}
import graft.{functions => gf}

/** Crash-recovery coverage: the reference recovers from WAL + MVCC; graft's
  * contract is idempotent re-runs over atomic per-file/per-dir swaps, plus
  * explicit healing cues. Each test plants the exact debris a crash at a
  * documented point leaves behind and asserts the next normal operation
  * recovers — no manual surgery, no wrong answers served meanwhile.
  */
class CrashRecoverySpec extends AnyFunSuite {
  lazy val spark = Graft.session("crash-recovery-spec", "local[4]", 4)

  private def events = Tables.table(spark, "/root/testdata/sf0.001", "events")
  private def us(s: String): Long = Timestamp.valueOf(s).getTime * 1000L

  private val defn = CaggDef("1 hour", Seq("event_type"), Seq(
    count(lit(1)).as("n"),
    min(col("value")).as("min_value"),
    max(col("value")).as("max_value")))

  private def directAgg(ht: Hypertable) =
    ht.read()
      .groupBy(gf.time_bucket("1 hour", col("ts")).as("bucket"), col("event_type"))
      .agg(defn.aggs.head, defn.aggs.tail: _*)

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("a refresh lock abandoned by a crashed process is taken over once " +
    "stale, and the re-run converges") {
    val dir = Files.createTempDirectory("graft_crash_lock").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(events)
    val cagg = ContinuousAggregate.create(spark, s"$dir/cagg", ht, defn)
    // the crashed holder: a lock file whose mtime is 2 h old (staleMs = 1 h)
    val fs = fsOf(s"$dir/cagg")
    val lock = new Path(s"$dir/cagg", "_refresh_lock")
    fs.create(lock, true).close()
    fs.setTimes(lock, System.currentTimeMillis() - 2 * 3600 * 1000L, -1)
    // refresh must break the stale lock (rename-takeover), run, and release
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    assert(!fs.exists(lock), "refresh did not release the lock it took over")
    assert(cagg.materialized.collect().toSet === directAgg(ht).collect().toSet)
  }

  test("a refresh crash leaves staged generations; the re-run retires them") {
    val dir = Files.createTempDirectory("graft_crash_tmp").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(events)
    val cagg = ContinuousAggregate.create(spark, s"$dir/cagg", ht, defn)
    val (s, e) = (us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    // a crash after the write job staged the window's generations but
    // before the catalog commit: threshold moved (it advances at refresh
    // START), watermark NOT moved, nothing readable
    val fs = fsOf(s"$dir/cagg")
    Hypertable.crashHook = n =>
      if (n == "mat.staged") throw new Hypertable.InjectedCrash(n)
    try intercept[Hypertable.InjectedCrash](cagg.refresh(s, e, force = true))
    finally Hypertable.crashHook = _ => ()
    assert(cagg.invalidationThreshold === e)
    assert(cagg.watermark === Long.MinValue)
    assert(cagg.materialized.collect().isEmpty)
    val it = fs.listFiles(new Path(s"$dir/cagg/mat"), true)
    val staged = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.getParent).toSet
    assert(staged.nonEmpty)
    // the re-run rolls the crashed publish back (its stages are retired
    // under the grace, never served) and materializes the window
    cagg.refresh(s, e, force = true)
    assert(cagg.watermark === e)
    staged.foreach(d => assert(fs.exists(new Path(d, ".graft_superseded")),
      s"re-run did not retire the crashed stage $d"))
    assert(cagg.materialized.collect().toSet === directAgg(ht).collect().toSet)
  }

  test("a DML rewrite that died mid-swap leaves a dot-prefixed tmp chunk " +
    "dir: reads never see it, the next rewrite replaces it") {
    // flat layout: its copy-on-write stages in a dot-prefixed dir next to
    // the chunk (a generation table stages its next `_gen=` dir instead —
    // DirectPublishSpec covers that stage's crash debris)
    val dir = Files.createTempDirectory("graft_crash_dml").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(events)
    val total = events.count()
    val first = ht.showChunks().head
    // debris: the copy-on-write tmp dir of a crashed deleteWhere
    val fs = fsOf(s"$dir/ht")
    val tmp = new Path(new Path(first.path).getParent, s".tmp_chunk_${first.startMicros}")
    fs.mkdirs(tmp)
    Hypertable.writeSmallFile(fs, new Path(tmp, "garbage"), "not parquet")
    // invisible to scans (dot prefix) and to the chunk catalog
    assert(ht.read().count() === total)
    assert(ht.showChunks().size === 5)
    // the next DML of the same chunk overwrites the debris and succeeds
    val pred = pmod(col("event_id"), lit(11)) === 3
    val deleted = ht.deleteWhere(pred)
    assert(deleted > 0 && ht.read().count() === total - deleted)
    assert(!fs.exists(tmp), "rewrite did not replace the crashed tmp dir")
  }

  test("a dot-prefixed tmp chunk dir inside a live generation chunk (an " +
    "older version's rename-publish debris) stays invisible to reads, the " +
    "manifest and the next DML") {
    val dir = Files.createTempDirectory("graft_crash_dml_gen").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts",
      chunkWidth = "7 days", catalog = "table")
    ht.write(events)
    val total = events.count()
    val n = ht.showChunks().size
    val first = ht.showChunks().head
    val fs = fsOf(s"$dir/ht")
    val tmp = new Path(Hypertable.chunkDirOf(new Path(first.path)),
      s".tmp_chunk_${first.startMicros}")
    fs.mkdirs(tmp)
    Hypertable.writeSmallFile(fs, new Path(tmp, "garbage"), "not parquet")
    assert(ht.read().count() === total)
    assert(ht.showChunks().size === n)
    assert(Hypertable.at(spark, s"$dir/ht").showChunks() === ht.showChunks())
    val pred = pmod(col("event_id"), lit(11)) === 3
    val deleted = ht.deleteWhere(pred)
    assert(deleted > 0 && ht.read().count() === total - deleted)
    assert(ht.showChunks().size === n)
    assert(Hypertable.at(spark, s"$dir/ht").read().count() === total - deleted)
  }

  test("a crash between the data commit and the catalog snapshot heals on " +
    "the next handle; explicit refreshChunkCatalog is the manual override") {
    val dir = Files.createTempDirectory("graft_crash_cat").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts",
      chunkWidth = "7 days", catalog = "table")
    ht.write(events.where(col("ts") < lit(Timestamp.valueOf("2024-01-15 00:00:00"))))
    val early = ht.read().count()
    // crash simulation: data for NEW chunks lands, the snapshot doesn't —
    // with the versioned manifest the equivalent regression is deleting
    // every manifest version the (would-have-crashed) write published,
    // leaving the pre-write version as latest, mtime and all
    val fs = fsOf(s"$dir/ht")
    val catDir = new Path(s"$dir/ht", "_graft_catalog")
    def versions() = fs.listStatus(catDir).toSeq
      .filter(_.getPath.getName.matches("v\\d+\\.json"))
      .map(s => s.getPath.getName.stripPrefix("v").stripSuffix(".json").toLong ->
        s.getPath)
    val preMax = versions().map(_._1).max
    ht.write(events.where(col("ts") >= lit(Timestamp.valueOf("2024-01-15 00:00:00"))))
    versions().filter(_._1 > preMax).foreach(v => fs.delete(v._2, false))
    // a FRESH handle's first use sees root mtime > catalog mtime and heals
    val healed = Hypertable.at(spark, s"$dir/ht")
    assert(healed.read().count() === events.count())
    assert(healed.showChunks().size === 5)
    // the stale-handle path: the ORIGINAL handle already validated its
    // catalog this session, so the explicit refresh is the manual override
    ht.refreshChunkCatalog()
    assert(ht.read().count() === events.count())
    assert(early < events.count()) // the regression actually hid chunks
  }

  test("a second mutating process is refused LOUDLY while the lease is " +
    "fresh; reads are unaffected; release hands the table off") {
    val dir = Files.createTempDirectory("graft_crash_lease").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(events) // appends take the SHARED lease class (lease split)
    // a rewrite-class op claims the EXCLUSIVE mutator lease
    ht.updateWhere(col("event_id") === -1L, Map("value" -> lit(0.0)))
    val fs = fsOf(s"$dir/ht")
    val lease = new Path(s"$dir/ht", "_graft_mutator_lease")
    assert(Hypertable.readSmallFile(fs, lease).trim.linesIterator.next()
      === Hypertable.processId)
    // graceful handoff, then "another process" claims (fresh heartbeat)
    Hypertable.releaseMutatorLease(spark, s"$dir/ht")
    assert(!fs.exists(lease), "release must delete the held lease")
    val out = fs.create(lease, true)
    out.write("pid-of-some-other-driver".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalStateException] {
      ht.updateWhere(col("event_id") === 1, Map("value" -> lit(0.0)))
    }
    assert(e.getMessage.contains("pid-of-some-other-driver"),
      s"refusal must name the holder: ${e.getMessage}")
    assert(e.getMessage.contains("another process"))
    // readers never touch the lease
    assert(ht.read().count() === events.count())
  }

  test("a crashed holder's stale lease is broken by arbitrated takeover " +
    "and the next mutation proceeds as the new holder") {
    val dir = Files.createTempDirectory("graft_crash_lease2").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(events)
    Hypertable.releaseMutatorLease(spark, s"$dir/ht")
    val fs = fsOf(s"$dir/ht")
    val lease = new Path(s"$dir/ht", "_graft_mutator_lease")
    val out = fs.create(lease, true)
    out.write("crashed-driver".getBytes("UTF-8")); out.close()
    val staleMs = graft.sources.MutationGate.staleMs(spark)
    fs.setTimes(lease, System.currentTimeMillis() - 2 * staleMs, -1)
    val n = ht.updateWhere(col("event_id") === 1, Map("value" -> lit(0.0)))
    assert(n > 0)
    assert(Hypertable.readSmallFile(fs, lease).trim.linesIterator.next()
      === Hypertable.processId,
      "takeover must leave this process as the recorded holder")
    assert(ht.read().count() === events.count())
  }

  test("a half-migrated table refuses to open while another process holds " +
    "a fresh mutator lease, and completes the migration once it goes stale") {
    // the gen-layout migration window is LOUD: opening a table whose
    // _graft_migrating marker is down requires finishing the migration,
    // which claims the lease — a fresh foreign lease means the migrating
    // process may still be mid-rename, so the open must refuse rather
    // than read the mixed layout or race the conversion
    val dir = Files.createTempDirectory("graft_crash_mig").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(events)
    val total = events.count()
    Hypertable.releaseMutatorLease(spark, s"$dir/ht")
    val fs = fsOf(s"$dir/ht")
    Hypertable.writeSmallFile(fs,
      new Path(s"$dir/ht", "_graft_migrating"), "gen")
    val lease = new Path(s"$dir/ht", "_graft_mutator_lease")
    val out = fs.create(lease, true)
    out.write("other-driver-mid-migration".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalStateException] {
      Hypertable.at(spark, s"$dir/ht")
    }
    assert(e.getMessage.contains("other-driver-mid-migration"),
      s"refusal must name the holder: ${e.getMessage}")
    // the migrating process "crashes": once its lease is stale, the next
    // open takes over and completes the conversion
    fs.setTimes(lease,
      System.currentTimeMillis() - 2 * graft.sources.MutationGate.staleMs(spark),
      -1)
    val healed = Hypertable.at(spark, s"$dir/ht")
    assert(healed.genLayout && healed.catalogMode === "table")
    assert(healed.read().count() === total)
    assert(healed.showChunks().forall(_.path.contains("_gen=0")))
  }

  test("a displaced holder (lease taken over while this JVM stalled) " +
    "notices at the next heartbeat and its next mutation refuses") {
    val dir = Files.createTempDirectory("graft_crash_lease3").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(events)
    // hold the EXCLUSIVE lease (appends alone no longer claim it)
    ht.updateWhere(col("event_id") === -1L, Map("value" -> lit(0.0)))
    val fs = fsOf(s"$dir/ht")
    val lease = new Path(s"$dir/ht", "_graft_mutator_lease")
    // another process deemed us crashed and took over (fresh foreign lease)
    val out = fs.create(lease, true)
    out.write("usurper-driver".getBytes("UTF-8")); out.close()
    // the heartbeat sees a lease that is no longer ours and drops it from
    // the held set — LATER mutations re-resolve and refuse
    graft.sources.MutationGate.heartbeatNow()
    val e = intercept[IllegalStateException] {
      ht.updateWhere(col("event_id") === 1, Map("value" -> lit(0.0)))
    }
    assert(e.getMessage.contains("usurper-driver"))
  }

  test("object-store mode: content-stamp COUNTERS drive catalog freshness") {
    // SCALE.md FS matrix: on stores without settable mtimes the freshness
    // cue is a counter embedded in the stamp file, compared against the
    // value the latest manifest recorded at sync time
    Hypertable.counterFreshnessForTests = true
    try {
      val dir = Files.createTempDirectory("graft_crash_counter").toString
      val ht = Hypertable.create(spark, s"$dir/ht", "ts",
        chunkWidth = "7 days", catalog = "table")
      ht.write(events)
      val fs = fsOf(s"$dir/ht")
      val root = new Path(s"$dir/ht")
      // a DML rewrite bumps the counter and its sync records it in the
      // manifest — the two sides of the comparison must agree
      ht.deleteWhere(col("event_id") === 1)
      val c1 = Hypertable.readContentCounter(fs, root)
      assert(c1 >= 1, "DML publish must bump the content counter")
      val manifests = fs.listStatus(new Path(s"$dir/ht/_graft_catalog")).toSeq
        .filter(_.getPath.getName.matches("v\\d+\\.json"))
        .sortBy(_.getPath.getName.stripPrefix("v").stripSuffix(".json").toLong)
      val tree = Hypertable.jsonMapper.readTree(
        Hypertable.readSmallFile(fs, manifests.last.getPath))
      val recorded = tree.get("cs").get(fs.makeQualified(root).toString)
      assert(recorded != null && recorded.asLong() === c1,
        "manifest sync must record the root's counter")
      // crash window: a publish whose manifest sync never ran — the
      // counter advances past the manifest record, and a FRESH handle
      // must detect staleness WITHOUT any mtime and heal to the rewrite
      val expected = ht.read().count()
      val c = ht.showChunks().head
      val liveP = new Path(c.path)
      val tmp = GenStore.chunks.stageGenDir(fs, Hypertable.chunkDirOf(liveP))
      // the rewrite drops 5 more rows, so healing is observable by count
      val chunkRows = spark.read.parquet(c.path)
      val victims = chunkRows.select("event_id").limit(5)
        .collect().map(_.getLong(0)).toSet
      chunkRows.where(!col("event_id").isInCollection(victims))
        .write.parquet(tmp.toString)
      assert(Hypertable.publishChunkRewrite(spark, fs, liveP, tmp).nonEmpty)
      assert(Hypertable.readContentCounter(fs, root) > c1)
      val healed = Hypertable.at(spark, s"$dir/ht")
      assert(healed.read().count() === expected - victims.size,
        "counter-mode freshness missed the unsynced publish")
    } finally Hypertable.counterFreshnessForTests = false
  }

  test("the lease is a gate marker: its heartbeat advances the EMBEDDED " +
    "clock; a holder stale on both clocks is taken over, one fresh on " +
    "either clock refuses") {
    // the marker liveness rule (the later of the embedded heartbeat and
    // the file mtime) holds on every store: on object stores setTimes is
    // a no-op, so the embedded clock keeps a live holder fresh; an mtime
    // the store refreshed on the holder's last write does the same for a
    // holder whose embedded clock lags
    val dir = Files.createTempDirectory("graft_crash_lease_ctr").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(events)
    // a rewrite-class op claims the exclusive lease:
    // body = owner \n created \n heartbeat-clock
    ht.updateWhere(col("event_id") === -1L, Map("value" -> lit(0.0)))
    val fs = fsOf(s"$dir/ht")
    val lease = new Path(s"$dir/ht", "_graft_mutator_lease")
    val body = Hypertable.readSmallFile(fs, lease).trim.linesIterator.toSeq
    assert(body.head === Hypertable.processId)
    val ts1 = body(2).toLong
    Thread.sleep(5)
    graft.sources.MutationGate.heartbeatNow()
    val ts2 = Hypertable.readSmallFile(fs, lease).trim
      .linesIterator.toSeq(2).toLong
    assert(ts2 > ts1, "heartbeat must advance the embedded clock " +
      "(setTimes is a no-op on object stores)")
    val staleMs = graft.sources.MutationGate.staleMs(spark)
    def foreign(owner: String, hb: Long, mtime: Long): Unit = {
      Hypertable.releaseMutatorLease(spark, s"$dir/ht")
      Hypertable.writeSmallFile(fs, lease, s"$owner\n$hb\n$hb")
      fs.setTimes(lease, mtime, -1)
    }
    val now = System.currentTimeMillis()
    // STALE embedded clock AND stale mtime: a crashed holder — taken over
    foreign("crashed-peer", now - 2 * staleMs, now - 2 * staleMs)
    assert(ht.updateWhere(col("event_id") === 2,
      Map("value" -> lit(0.0))) > 0)
    assert(Hypertable.readSmallFile(fs, lease).trim.linesIterator.next()
      === Hypertable.processId)
    // FRESH embedded clock, ANCIENT mtime (an object store): refuses
    foreign("live-peer", System.currentTimeMillis(), now - 2 * staleMs)
    val e = intercept[IllegalStateException] {
      ht.deleteWhere(col("event_id") === 3)
    }
    assert(e.getMessage.contains("live-peer"))
    // STALE embedded clock, FRESH mtime: refuses too
    foreign("lagging-peer", now - 2 * staleMs, System.currentTimeMillis())
    val e2 = intercept[IllegalStateException] {
      ht.deleteWhere(col("event_id") === 3)
    }
    assert(e2.getMessage.contains("lagging-peer"))
    // leave no foreign lease behind for later suites reusing the temp FS
    fs.delete(lease, false)
  }
}
