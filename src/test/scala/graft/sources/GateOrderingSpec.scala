package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables

/** The intent/seal gate's ORDERING and the torn-op healers' OWNERSHIP
  * rules, pinned against simulated foreign processes (hand-written marker
  * files with foreign owners and deliberately skewed clocks).
  *
  *  - Round 11 replaced the drain's created-ts horizon (`skewMs` wall
  *    clock comparison) with a snapshot wait: the rewriter waits for
  *    exactly the foreign intents VISIBLE once its seal is in place — no
  *    cross-host clock enters the ordering. The first test is the one the
  *    old scheme FAILS: an appender with a fast clock writes an intent
  *    created-ts far in the future; the horizon comparison would skip it
  *    and read the rewrite input while the append is in flight.
  *  - healRewriteIntents must not resolve a merge/split marker whose
  *    owner still holds a live seal (a RUNNING op in another process) —
  *    the round-10 advisor's finding.
  *  - gcChunkDir must not reap an above-live unstamped generation (a
  *    direct-mode stage) while a foreign staging marker heartbeat is
  *    live.
  */
class GateOrderingSpec extends AnyFunSuite {
  lazy val spark = graft.Graft.session("gate-ordering-spec", "local[4]", 4)

  private def events = Tables.table(spark, "/root/testdata/sf0.001", "events")

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A gate-format marker file owned by a pretend foreign process. */
  private def foreignMarker(dir: String, rel: String, owner: String,
      created: Long, hb: Long): Path = {
    val fs = fsOf(dir)
    val p = new Path(dir, rel)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    out.write(s"$owner\n$created\n$hb".getBytes("UTF-8")); out.close()
    p
  }

  test("drain is clock-skew-free: a foreign intent with a FUTURE created-ts " +
    "(fast appender clock) is still drained — the seal claim waits on it") {
    val dir = Files.createTempDirectory("graft_gate_skew").toString
    val fs = fsOf(dir)
    val root = fs.makeQualified(new Path(dir)).toString
    val now = System.currentTimeMillis()
    // an in-flight foreign append batch whose clock runs 10 min fast: the
    // pre-round-11 horizon (sealTs + skewMs) read this as created AFTER
    // the seal and skipped the wait entirely
    val intent = foreignMarker(dir, "_graft_intents/i_fake_1", "fake-appender",
      now + 600000, now + 600000)
    spark.conf.set("spark.graft.gate.timeoutMs", "2500")
    try {
      val e = intercept[IllegalStateException] {
        MutationGate.withSeals(spark, fs, root, Seq(Some(0L))) { () }
      }
      assert(e.getMessage.contains("draining append intents"),
        s"seal claim must wait on the future-dated intent: ${e.getMessage}")
    } finally spark.conf.unset("spark.graft.gate.timeoutMs")
    // the batch finishes (intent removed) -> the same claim proceeds
    val remover = new Thread(() => {
      Thread.sleep(700); fs.delete(intent, false); ()
    })
    remover.start()
    var ran = false
    MutationGate.withSeals(spark, fs, root, Seq(Some(0L))) { ran = true }
    remover.join()
    assert(ran, "drain must complete once the snapshot intent clears")
  }

  test("healRewriteIntents skips a merge marker whose owner's seal is LIVE " +
    "(running foreign op), and resolves it once the seal is gone (crash)") {
    val dir = Files.createTempDirectory("graft_gate_heal").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts",
      chunkWidth = "7 days", catalog = "table")
    ht.write(events)
    val fs = fsOf(s"$dir/ht")
    val cs = ht.showChunks().sortBy(_.startMicros)
    val start = cs.head.startMicros
    val now = System.currentTimeMillis()
    // a foreign merge mid-flight: its seal on the head chunk is live, its
    // intent marker records a merge that has NOT committed (head's range
    // unchanged) — pre-round-11 any append would "heal" (delete) it
    foreignMarker(s"$dir/ht", s"_graft_seals/s$start", "fake-maint", now, now)
    val marker = new Path(s"$dir/ht", s"${Hypertable.MERGING}$start")
    Hypertable.writeSmallFile(fs, marker,
      s"${cs(1).endMicros}\n${cs(1).path}")
    // an append routed to a DIFFERENT chunk passes the gate (no conflict)
    // and must leave the running op's marker alone
    val lastSlice = events.where(col("ts") >= lit(new java.sql.Timestamp(
      cs.last.startMicros / 1000))).limit(20)
    assert(lastSlice.count() > 0)
    ht.write(lastSlice)
    assert(fs.exists(marker),
      "an appender healed a LIVE foreign merge's intent marker")
    // the foreign op crashes: seal heartbeat goes stale -> the next batch
    // resolves the marker (not committed => dropped, state unchanged)
    val seal = new Path(s"$dir/ht", s"_graft_seals/s$start")
    val out = fs.create(seal, true)
    out.write(s"fake-maint\n${now - 900000}\n${now - 900000}".getBytes("UTF-8"))
    out.close()
    fs.setTimes(seal, now - 900000, -1)
    ht.write(lastSlice.limit(1))
    assert(!fs.exists(marker),
      "a crashed foreign merge's marker must heal once its seal is stale")
  }

  test("gcChunkDir spares an above-live unstamped generation with a LIVE " +
    "foreign staging marker (direct-mode stage of a zombie rewriter), and " +
    "reaps it once the marker is stale") {
    val dir = Files.createTempDirectory("graft_gate_stage").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts",
      chunkWidth = "7 days", catalog = "table")
    ht.write(events)
    // the GC walk runs only in the EXCLUSIVE-lease holder; a no-hit
    // rewrite-class op claims it for this process
    ht.updateWhere(col("event_id") === -1L, Map("value" -> lit(0.0)))
    val fs = fsOf(s"$dir/ht")
    val c = ht.showChunks().sortBy(_.startMicros).head
    val chunkDir = Hypertable.chunkDirOf(new Path(c.path))
    val liveGen = GenStore.chunks.genOf(new Path(c.path))
    val staged = new Path(chunkDir, s"${Hypertable.GEN}=${liveGen + 1}")
    fs.mkdirs(staged)
    val now = System.currentTimeMillis()
    val marker = foreignMarker(chunkDir.toString,
      s".staging_${Hypertable.GEN}=${liveGen + 1}", "fake-rewriter", now, now)
    ht.refreshChunkCatalog() // runs the GC walk under the held lease
    assert(fs.exists(staged),
      "GC reaped a foreign process's live direct-mode stage")
    // the rewriter dies: heartbeat stops -> stale -> the stage is a remnant
    val out = fs.create(marker, true)
    out.write(s"fake-rewriter\n${now - 900000}\n${now - 900000}"
      .getBytes("UTF-8"))
    out.close()
    fs.setTimes(marker, now - 900000, -1)
    fs.setTimes(staged, now - 900000, -1)
    ht.refreshChunkCatalog()
    assert(!fs.exists(staged),
      "a stale (crashed) stage must still be rolled back")
    assert(!fs.exists(marker), "the stale staging marker must be reaped")
    assert(ht.read().count() === events.count())
  }

  test("claimExclusive on an atomic-create store decides in ONE create: " +
    "no settle sleep is paid even with alwaysSettle (verdict r11 item 2)") {
    val dir = Files.createTempDirectory("graft_gate_atomic").toString
    val fs = fsOf(dir)
    val p = new Path(dir, "_claim")
    spark.conf.set("spark.graft.gate.settleMs", "3000")
    try {
      val t0 = System.nanoTime()
      MutationGate.claimExclusive(spark, fs, p, None, alwaysSettle = true)
      val ms = (System.nanoTime() - t0) / 1000000
      MutationGate.removeMarker(fs, p)
      assert(ms < 1500,
        s"atomic-create claim must skip the settle window (took $ms ms)")
      // the blind-PUT path (forced) DOES pay it — the belt still exists
      MutationGate.blindPutClaimsForTests = true
      val t1 = System.nanoTime()
      MutationGate.claimExclusive(spark, fs, p, None, alwaysSettle = true)
      val ms1 = (System.nanoTime() - t1) / 1000000
      MutationGate.removeMarker(fs, p)
      assert(ms1 >= 3000,
        s"forced blind-PUT claim must pay the settle window (took $ms1 ms)")
    } finally {
      spark.conf.unset("spark.graft.gate.settleMs")
      MutationGate.blindPutClaimsForTests = false
    }
  }

  test("conditional-PUT backend: a registered scheme decides claims in " +
    "ONE store call — zero settle latency, and same-instant claimants " +
    "never double-enter (verdict r12 item 2)") {
    val dir = Files.createTempDirectory("graft_gate_condput").toString
    spark.sparkContext.hadoopConfiguration
      .set("fs.condfs.impl", classOf[CondPutFs].getName)
    val fs = new Path(s"condfs://$dir")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(s"condfs://$dir/_claim")
    // the shim emulates S3's If-None-Match PUT: one store-side atomic
    // exists?+create (a JVM lock stands in for the store's atomicity)
    MutationGate.registerConditionalPut("condfs",
      new ConditionalPutBackend {
        private val storeLock = new Object
        override def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
            p: Path, bytes: Array[Byte]): Boolean = storeLock.synchronized {
          if (fs.exists(p)) false
          else {
            fs.mkdirs(p.getParent)
            val out = fs.create(p, false)
            out.write(bytes); out.close()
            true
          }
        }
      })
    spark.conf.set("spark.graft.gate.settleMs", "3000")
    try {
      // zero settle: the claim decides in the one conditional create even
      // with alwaysSettle (the belt is for blind-PUT stores only)
      val t0 = System.nanoTime()
      MutationGate.claimExclusive(spark, fs, p, None, alwaysSettle = true)
      val ms = (System.nanoTime() - t0) / 1000000
      MutationGate.removeMarker(fs, p)
      assert(ms < 1500,
        s"conditional-PUT claim must skip the settle window (took $ms ms)")
      // same-instant claimants: the store's conditional create admits
      // exactly one
      val inside = new java.util.concurrent.atomic.AtomicInteger(0)
      val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      (1 to 4).foreach { round =>
        val barrier = new java.util.concurrent.CyclicBarrier(4)
        val threads = (1 to 4).map { i =>
          new Thread(() => {
            try {
              MutationGate.claimOwnerOverride.set(s"cp-$round-$i")
              barrier.await()
              MutationGate.claimExclusive(spark, fs, p, None)
              val n = inside.incrementAndGet()
              maxInside.updateAndGet(m => math.max(m, n))
              Thread.sleep(5)
              inside.decrementAndGet()
              MutationGate.removeMarker(fs, p)
            } catch { case t: Throwable => errs.add(t) }
            finally MutationGate.claimOwnerOverride.remove()
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join(60000))
      }
      assert(errs.isEmpty, s"conditional-PUT claimant failed: ${errs.peek()}")
      assert(maxInside.get() === 1,
        s"two same-instant claimants entered (max=${maxInside.get()})")
    } finally {
      spark.conf.unset("spark.graft.gate.settleMs")
      MutationGate.unregisterConditionalPut("condfs")
    }
  }

  test("stale-holder takeover is sidecar-arbitrated: waiters recovering a " +
    "crashed holder's marker never double-enter (round-11 ADVICE high)") {
    val dir = Files.createTempDirectory("graft_gate_takeover").toString
    val fs = fsOf(dir)
    val root = fs.makeQualified(new Path(dir)).toString
    val p = new Path(dir, "_claim")
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to 8).foreach { round =>
      // seed a crashed foreign holder: stale heartbeat AND stale mtime
      val now = System.currentTimeMillis()
      foreignMarker(dir, "_claim", s"crashed-$round", now - 900000,
        now - 900000)
      fs.setTimes(p, now - 900000, -1)
      val barrier = new java.util.concurrent.CyclicBarrier(4)
      val threads = (1 to 4).map { i =>
        new Thread(() => {
          try {
            // distinct claim identity per thread: claimExclusive's contract
            // is one claimant per PROCESS (in-process callers serialize on
            // JVM locks first) — this simulates four processes
            MutationGate.claimOwnerOverride.set(s"proc-$round-$i")
            barrier.await()
            MutationGate.claimExclusive(spark, fs, p, Some((fs, root)))
            val n = inside.incrementAndGet()
            maxInside.updateAndGet(m => math.max(m, n))
            Thread.sleep(5)
            inside.decrementAndGet()
            MutationGate.removeMarker(fs, p)
          } catch { case t: Throwable => errs.add(t) }
          finally MutationGate.claimOwnerOverride.remove()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(60000))
    }
    assert(errs.isEmpty, s"takeover worker failed: ${errs.peek()}")
    assert(maxInside.get() === 1,
      s"two waiters entered after a stale takeover (max=${maxInside.get()})")
  }

  test("heartbeat re-checks ownership: a marker taken over while this " +
    "process was presumed stale is NOT stomped by its old holder's " +
    "heartbeat (round-11 ADVICE high, second half)") {
    val dir = Files.createTempDirectory("graft_gate_hbsteal").toString
    val fs = fsOf(dir)
    val p = new Path(dir, "_claim")
    MutationGate.claimExclusive(spark, fs, p, None)
    // a foreign process took the marker over (our heartbeat was frozen and
    // the claim read as stale): the file now names the NEW holder
    val now = System.currentTimeMillis()
    foreignMarker(dir, "_claim", "new-holder", now, now)
    MutationGate.heartbeatNow()
    val body = Hypertable.readSmallFile(fs, p)
    assert(body.startsWith("new-holder"),
      s"old holder's heartbeat stomped the takeover: $body")
    // and the old holder no longer refreshes it at all
    fs.setTimes(p, now - 50000, -1)
    MutationGate.heartbeatNow()
    assert(Hypertable.readSmallFile(fs, p).startsWith("new-holder"))
  }

  test("withCatalogFsLock is exclusive BETWEEN THREADS of one JVM (the " +
    "pre-round-11 depth map admitted a second thread as re-entrant)") {
    val dir = Files.createTempDirectory("graft_gate_flock").toString
    val fs = fsOf(dir)
    val root = fs.makeQualified(new Path(dir)).toString
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        try (1 to 5).foreach { _ =>
          MutationGate.withCatalogFsLock(spark, fs, root) {
            val n = inside.incrementAndGet()
            maxInside.updateAndGet(m => math.max(m, n))
            Thread.sleep(15)
            // re-entrancy within the holding thread must still work
            MutationGate.withCatalogFsLock(spark, fs, root) { () }
            inside.decrementAndGet()
          }
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(errs.isEmpty, s"flock worker failed: ${errs.peek()}")
    assert(maxInside.get() === 1,
      s"two threads held the catalog FS lock at once (max=${maxInside.get()})")
  }
  test("gcChunkDir keeps a graced-out superseded generation while a LIVE " +
    "reader epoch predates its stamp; a stale or post-stamp epoch frees it") {
    // the raw-side reader-epoch gate (ReaderEpochs / round 13): the
    // two deletion classes a manifest reader can have planned — superseded
    // generations and tombstoned dirs — wait past the grace for any live
    // epoch registered before the retirement. Foreign epochs are plain
    // files here, like the other simulated-process cases in this suite.
    val dir = Files.createTempDirectory("graft_gate_epoch").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts",
      chunkWidth = "7 days", catalog = "table")
    ht.write(events)
    val fs = fsOf(s"$dir/ht")
    // GC walk runs only in the exclusive-lease holder
    ht.updateWhere(col("event_id") === -1L, Map("value" -> lit(0.0)))
    val victim = ht.showChunks().sortBy(_.startMicros).head
    val oldGen = new Path(victim.path)
    // a foreign reader registered BEFORE the rewrite stamps the old gen
    val epochFile = new Path(s"$dir/ht/_graft_readers/r_foreign")
    fs.mkdirs(epochFile.getParent)
    Hypertable.writeSmallFile(fs, epochFile,
      (System.currentTimeMillis() - 5000).toString)
    Columnstore.compressChunk(spark, victim.path,
      Columnstore.Options(orderBy = Seq("ts")))
    assert(fs.exists(new Path(oldGen, ".graft_superseded")))
    try {
      spark.conf.set("spark.graft.gc.graceMs", "50")
      Thread.sleep(120)
      ReaderEpochs.expireAll() // only the foreign FILE must count
      ht.refreshChunkCatalog()
      assert(fs.exists(oldGen),
        "a live pre-stamp reader epoch must block the superseded-gen reap")
      // a LATER epoch (registered after the stamp) does not block, with
      // no skew pad
      spark.conf.set("spark.graft.gc.epochSkewMs", "0")
      Hypertable.writeSmallFile(fs, epochFile,
        (System.currentTimeMillis() + 60000).toString)
      ReaderEpochs.expireAll()
      ht.refreshChunkCatalog()
      assert(!fs.exists(oldGen),
        "a post-stamp epoch must not block the reap")
    } finally {
      spark.conf.unset("spark.graft.gc.graceMs")
      spark.conf.unset("spark.graft.gc.epochSkewMs")
      fs.delete(epochFile, false)
    }
    assert(ht.read().count() === events.count())
  }

  test("mutator lease claim: a second process that claims between this " +
    "process's liveness read and its create keeps the lease, and the " +
    "mutation refuses naming it") {
    // the interleaving the pre-gate lease admitted: both processes read
    // "no lease", both write and read back their own id one after the
    // other, and both hold the table until the next heartbeat
    val dir = Files.createTempDirectory("graft_gate_lease_race").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts", chunkWidth = "7 days")
    ht.write(events) // appends take the shared lease class only
    Hypertable.releaseMutatorLease(spark, s"$dir/ht")
    val fs = fsOf(dir)
    val lease = new Path(s"$dir/ht", "_graft_mutator_lease")
    assert(!fs.exists(lease))
    MutationGate.claimHook = p =>
      if (p.getName == "_graft_mutator_lease") {
        // the second process found no lease too, claimed and read back
        val now = System.currentTimeMillis()
        foreignMarker(s"$dir/ht", "_graft_mutator_lease", "racing-driver",
          now, now)
      }
    val e =
      try intercept[IllegalStateException] {
        ht.updateWhere(col("event_id") === 1L, Map("value" -> lit(0.0)))
      } finally MutationGate.claimHook = _ => ()
    assert(e.getMessage.contains("another process") &&
      e.getMessage.contains("racing-driver"),
      s"refusal must name the racing holder: ${e.getMessage}")
    assert(Hypertable.readSmallFile(fs, lease).linesIterator.next() ===
      "racing-driver", "the losing claimant overwrote the holder's lease")
    fs.delete(lease, false)
  }
}

/** Local FS under a scheme the built-in atomic-create list does NOT cover
  * (so claims would take the blind-PUT path without the registered
  * conditional-PUT backend) — test scope only.
  */
class CondPutFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "condfs"
  override def getUri: java.net.URI = java.net.URI.create("condfs:///")
}
