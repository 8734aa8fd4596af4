package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import Hypertable.{readSmallFile, touchFile, writeSmallFileDirect}

// ------------------------------------------------- generational chunk dirs
// A generation store versions each chunk's CONTENT in `<prefix>=<n>`
// subdirs of the chunk's identity dir. Gen-layout tables
// (catalog="table") use `_gen`:
//   root/_chunk=<start>/_gen=<n>[/_space=<b>]/part-*.parquet
// and a continuous aggregate's materialization uses `_mat_gen`:
//   cagg/mat/_mat_chunk=<key>/_mat_gen=<n>/part-*.parquet
// A rewrite (DML copy-on-write, compress/decompress, merge/split,
// compact, cagg refresh) writes the next generation in place
// (stageGenDir), then stamps the old generation `.graft_superseded` —
// the COMMIT POINT — and re-snapshots the manifest (publishChunkRewrite;
// the materialization commits by its catalog write first and stamps
// right after it, see commitStage). Superseded
// generations stay on disk for a grace window, so a reader pinned to an
// older manifest keeps reading exactly the files it planned — the
// file-listing equivalent of the reference's MVCC snapshot
// (`src/ts_catalog/catalog.c` consistent chunk-set reads; every
// `test/isolation/specs/*.spec` reader relies on it). Liveness is the
// LOWEST unstamped generation: an unstamped dir ABOVE it is an
// in-flight stage or, once its staging marker is gone or stale, the
// remnant of a rewrite that crashed before its stamp (never committed),
// which GC rolls back. Drops write a
// `.graft_dropped` tombstone instead of deleting, with the same grace.
// This module is the only code that stamps, tombstones or deletes a
// generation; both stores call it.

/** One generation store: the protocol above over `<prefix>=<n>` dirs. */
private[graft] final class GenStore(val prefix: String) {
  import GenStore._

  def isGenPath(p: Path): Boolean =
    p.getName.startsWith(s"$prefix=")

  def genOf(p: Path): Long =
    if (isGenPath(p)) p.getName.stripPrefix(s"$prefix=").toLong else 0L

  def listGenDirs(fs: FileSystem,
      chunkDir: Path): Seq[(Long, Path)] =
    fs.listStatus(chunkDir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$prefix="))
      .map(s => s.getPath.getName.stripPrefix(s"$prefix=").toLong -> s.getPath)
      .sortBy(_._1)

  /** The LIVE data dir of a chunk dir under the GEN layout: the lowest
    * unstamped generation (see the layout note above); None when
    * tombstoned, fully superseded (dropped / merged away, awaiting GC),
    * or a BARE shell with no generations at all — every live gen-table
    * chunk is born with a `_gen=` dir (append routing, rewriteChunkDir,
    * attachChunk all create one), so a generation-less shell is the
    * remnant of a rewrite that crashed between `mkdirs(chunkDir)` and its
    * publish, or a sub-millisecond commit window; listing it as a flat
    * chunk would put a phantom (empty, default-ranged) chunk in the
    * manifest and send later rewrites down the flat in-place-swap path
    * inside a gen table.
    */
  def liveDataDir(fs: FileSystem,
      chunkDir: Path): Option[Path] = {
    if (isTombstoned(fs, chunkDir)) return None
    listGenDirs(fs, chunkDir)
      .collectFirst { case (_, d) if !isSuperseded(fs, d) => d }
  }

  /** Staging target of a chunk rewrite: the chunk's NEXT
    * generation dir itself (above every live or dead generation),
    * registered in flight so no GC touches it. See
    * [[Hypertable.publishChunkRewrite]] for the commit. Callers hold the per-chunk
    * serialization (table write lock, chunk monitor or cagg refresh
    * lock), so the max-gen
    * read is stable; appends only ever write into the LIVE (lower)
    * generation. The caller unregisters the stage when its publish ends.
    */
  def stageGenDir(fs: FileSystem, chunkDir: Path): Path = {
    fs.mkdirs(chunkDir)
    val next = listGenDirs(fs, chunkDir).map(_._1).maxOption.getOrElse(-1L) + 1
    registerRewriteTmp(fs, new Path(chunkDir, s"$prefix=$next"))
  }

  /** Tombstone a whole chunk dir (drop/merge-away): readers pinned to a
    * manifest that still lists its live generation keep reading it for the
    * grace window; new manifests exclude it; GC deletes the dir after
    * grace. The tombstone RECORDS the highest generation present at drop
    * time, so a later re-ingest's rebirth generation is recognized
    * structurally (gen number > recorded max) — an mtime comparison would
    * mis-classify a drop and an append landing within one mtime tick on
    * coarse-granularity stores, silently superseding acked rows.
    */
  def tombstoneChunk(fs: FileSystem, chunkDir: Path): Unit = {
    val deadMax = listGenDirs(fs, chunkDir).map(_._1).maxOption.getOrElse(-1L)
    writeSmallFileDirect(fs, new Path(chunkDir, DROP_TOMB),
      deadMax.toString)
  }

  /** Commit `stage` as the chunk's live generation: every unstamped
    * generation below it is stamped superseded, then a tombstone comes
    * off (a new chunk staged behind one, or a dropped chunk whose
    * materialization is written again). Stamps first, tombstone last, so
    * a crash mid-commit leaves the old state in force. Generations above
    * `stage` are left to GC's crash-remnant rule.
    */
  def commitStage(fs: FileSystem, chunkDir: Path, stage: Path): Unit = {
    val next = genOf(stage)
    listGenDirs(fs, chunkDir).foreach { case (g, d) =>
      if (g < next && !isSuperseded(fs, d)) stampSuperseded(fs, d)
    }
    fs.delete(new Path(chunkDir, DROP_TOMB), false)
    ()
  }

  /** Retire a chunk whose catalog no longer lists it: tombstone its dir
    * so GC reaps it after the grace. A tombstone that does not cover every
    * generation (a crashed stage above its recorded max) is rewritten, or
    * GC would keep the dir for a rebirth that never comes.
    */
  def retireChunk(fs: FileSystem, chunkDir: Path): Unit =
    if (fs.exists(chunkDir)) {
      val top = listGenDirs(fs, chunkDir).map(_._1).maxOption.getOrElse(-1L)
      if (readTombMax(fs, chunkDir).forall(_ < top)) tombstoneChunk(fs, chunkDir)
    }

  /** GC one chunk dir: graced-out superseded generations, graced-out
    * tombstoned dirs, crash-remnant generations above the live one
    * (uncommitted publishes — rolled back immediately: no manifest ever
    * pointed at them), and stale in-flight tmp dirs. Callers hold the
    * table's catalog lock or the cagg's refresh lock (publish stamps also
    * run under it, so a remnant here is never an in-flight publish).
    *
    * One listing of the chunk dir per visit yields the tombstone, the
    * generations, the dot-dirs and the staging markers; each generation
    * costs one stat of its stamp (absent = unstamped, present = its mtime
    * is the grace clock). Returns whether the dir still holds content a
    * later pass must reap — a tombstone, a superseded generation, more
    * than one generation, or a staging marker; false once the dir is gone.
    */
  def gcChunkDir(fs: FileSystem, chunkDir: Path,
      graceMs: Long, epochFloor: Long = Long.MaxValue,
      epochSkewMs: Long = 0L): Boolean = {
    val now = System.currentTimeMillis()
    // `graced` gates the two deletion classes a MANIFEST READER can have
    // planned (superseded generations, tombstoned dirs): grace expired AND
    // no live reader epoch predates the retirement (ReaderEpochs —
    // callers pass the primary root's liveFloor; the default MaxValue
    // keeps legacy callers grace-only). Crash remnants, stale tmps and
    // bare shells below were never manifest-live and stay age-gated.
    def graced(markMtime: Long): Boolean =
      now - markMtime >= graceMs && epochFloor > markMtime + epochSkewMs
    val entries =
      try fs.listStatus(chunkDir).toSeq
      catch { case _: java.io.FileNotFoundException => return false }
    if (entries.exists(_.getPath.getName == DROP_TOMB)) {
      // an appender PROCESS is mid-rebirth into this dir (lease split:
      // appends run concurrently with the maintenance process doing this
      // GC) — hands off entirely; its own heal commits the rebirth
      if (MutationGate.rebirthLockLive(fs, chunkDir)) return true
      // a write that re-ingested this range routed its rows into a fresh
      // rebirth generation (created AFTER the tombstone); finish the
      // rebirth if the writer crashed before its own heal ran
      if (!healRebirth(fs, chunkDir) &&
          (try graced(fs.getFileStatus(new Path(chunkDir, DROP_TOMB))
            .getModificationTime)
          catch { case _: Exception => false })) {
        // never reap while ANY generation sits above the recorded max:
        // it is either an append's just-committed rebirth racing this GC
        // (its completion marker lands momentarily — the write path also
        // refreshes the tombstone's grace clock at routing, so this arm
        // needs an append older than the grace window to even arrive
        // here) or a crashed partial the next append will normalize into
        // the dead set. Deleting would lose the former's acked rows.
        val deadMax = readTombMax(fs, chunkDir).getOrElse(Long.MaxValue)
        if (!listGenDirs(fs, chunkDir).exists(_._1 > deadMax)) {
          fs.delete(chunkDir, true)
          return false
        }
      }
      // still tombstoned, or a healed rebirth whose dead generations now
      // carry stamps: a later pass settles it
      return true
    }
    val gens = entries.filter(s => s.isDirectory && isGenPath(s.getPath))
      .map(s => genOf(s.getPath) -> s.getPath).sortBy(_._1)
      .map { case (g, d) =>
        val stamp =
          try Some(fs.getFileStatus(new Path(d, SUPERSEDED)).getModificationTime)
          catch { case _: java.io.FileNotFoundException => None }
        (g, d, stamp)
      }
    val live = gens.collectFirst { case (g, _, None) => g }
    val reaped = scala.collection.mutable.Set.empty[String]
    def reap(d: Path): Unit = {
      fs.delete(d, true)
      try fs.delete(stagingMarkerPath(d), false)
      catch { case _: java.io.IOException => () }
      reaped += d.getName += stagingMarkerPath(d).getName
    }
    gens.foreach {
      case (_, d, Some(stampedAt)) =>
        if (graced(stampedAt)) { fs.delete(d, true); reaped += d.getName }
      case (g, d, None) =>
        if (live.exists(g > _) && !isInFlightTmp(fs, d) &&
            !MutationGate.fileMarkerLiveAny(fs, stagingMarkerPath(d)))
          // crash remnant — but only when no process advertises the dir
          // as a stage in flight: the JVM-local registration covers OUR
          // stages, the heartbeated on-disk marker covers a FOREIGN
          // process's stage (a lease takeover's GC must not delete a
          // zombie rewriter's stage mid-write; the remnant reaps once the
          // marker's heartbeat goes stale)
          reap(d)
    }
    // stale dot-prefixed staging dirs (a crashed rewrite's tmp). NEVER one
    // registered as in flight (JVM set or live on-disk staging marker):
    // the age heuristic reads the dir mtime, which for a running Spark
    // write is the job START — see [[registerRewriteTmp]]
    entries
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".") &&
        !isInFlightTmp(fs, s.getPath) &&
        !MutationGate.fileMarkerLiveAny(fs, stagingMarkerPath(s.getPath)) &&
        now - s.getModificationTime >= math.max(graceMs, 3600000L))
      .foreach(s => reap(s.getPath))
    // orphaned staging markers (their staged dir never appeared, or was
    // consumed by a publish whose unregister raced a crash): reap once
    // stale — a live one may precede its dir (registration runs before
    // the write job creates it)
    val names = entries.map(_.getPath.getName).toSet -- reaped
    entries
      .filter(s => s.isFile && names(s.getPath.getName) &&
        s.getPath.getName.startsWith(".staging_") &&
        !MutationGate.fileMarkerLiveAny(fs, s.getPath) &&
        !names(s.getPath.getName.stripPrefix(".staging_")))
      .foreach { s =>
        try fs.delete(s.getPath, false)
        catch { case _: java.io.IOException => () }
        reaped += s.getPath.getName
      }
    // a long-dead BARE shell (no generations, no tombstone, nothing but
    // stale dot-entries — a rewrite that crashed between mkdirs and its
    // publish; liveDataDir already refuses to list it): delete once old
    // enough that it cannot be a commit in flight
    if (gens.isEmpty &&
        (try now - fs.getFileStatus(chunkDir).getModificationTime >=
          math.max(graceMs, 3600000L)
        catch { case _: Exception => false }) &&
        !entries.exists(s => !s.getPath.getName.startsWith("."))) {
      fs.delete(chunkDir, true)
      return false
    }
    val left = gens.filterNot { case (_, d, _) => reaped(d.getName) }
    left.size > 1 || left.exists(_._3.nonEmpty) ||
      names.exists(n => !reaped(n) && n.startsWith(".staging_"))
  }

  /** GC `chunkDirs` with the session's grace and the reader epochs
    * registered at `epochRoot` (one epoch read for all of them); returns
    * the dirs that still hold content a later pass must reap (see
    * [[gcChunkDir]]).
    */
  def gcChunkDirs(spark: SparkSession, fs: FileSystem, chunkDirs: Seq[Path],
      epochRoot: Path): Seq[Path] = {
    if (chunkDirs.isEmpty) return Nil
    val floor = ReaderEpochs.liveFloor(spark,
      epochRoot.getFileSystem(spark.sparkContext.hadoopConfiguration),
      epochRoot)
    val skew = ReaderEpochs.skewMs(spark)
    val grace = graceMs(spark)
    chunkDirs.filter { d =>
      try gcChunkDir(fs, d, grace, floor, skew)
      catch { case _: java.io.FileNotFoundException => false }
    }
  }

  /** Complete the rebirth of a tombstoned chunk a write re-ingested into:
    * generations numbered ABOVE the tombstone's recorded drop-time max
    * (the routed append created them — see [[tombstoneChunk]]; structural,
    * no mtime comparison) AND carrying the [[REBIRTH_OK]] completion
    * marker are the new life; everything else is dead — the dropped data
    * at or below the recorded max, plus any UNMARKED generation above it,
    * which can only be a crashed append's partial job commit (the write
    * path normalizes the recorded max over every listed generation before
    * routing, so an unmarked survivor above it is never acked data).
    * All dead generations are stamped superseded so liveness (lowest
    * UNstamped) lands on the marked rebirth generation, then the
    * tombstone comes off. Ordered so a crash at any point leaves the drop
    * in force (stamps first, tombstone last); re-ingested rows wait in
    * the still-tombstoned dir until the next heal finishes the job.
    * Without a marked complete rebirth nothing heals: the tombstone (and
    * its graced GC) stays in force. Returns true when a rebirth committed.
    */
  def healRebirth(fs: FileSystem, chunkDir: Path): Boolean = {
    val deadMax = readTombMax(fs, chunkDir) match {
      case Some(m) => m
      case None => return false // absent or unreadable: nothing healable yet
    }
    val gens = listGenDirs(fs, chunkDir)
    val ok = gens.filter { case (g, d) =>
      g > deadMax && fs.exists(new Path(d, REBIRTH_OK))
    }
    if (ok.isEmpty) return false
    // two marked generations cannot normally coexist (every append heals
    // pending rebirths before routing new ones); if crash interleavings
    // ever produce both, the HIGHEST marked one is the latest finished
    // commit — everything below it is stale
    val liveG = ok.map(_._1).max
    gens.foreach { case (g, d) =>
      if (g != liveG && !isSuperseded(fs, d)) stampSuperseded(fs, d)
    }
    fs.delete(new Path(chunkDir, DROP_TOMB), false)
    true
  }

  /** Re-resolve a (possibly stale) gen data path to the chunk's CURRENT
    * live generation. A caller that captured a `showChunks` snapshot, then
    * waited on the chunk monitor while a DML publish advanced the chunk,
    * would otherwise read the SUPERSEDED generation as its rewrite input —
    * republishing pre-DML data and leaving the DML's generation stamped
    * while its own sat unstamped ABOVE it, which the crash-remnant GC
    * rule then deletes out from under any manifest pointing at it. Called
    * INSIDE the chunk monitor + root read lock, where the live set is
    * pinned. Tombstoned / no-live dirs return the given path (the op
    * proceeds on graced files; the manifest no longer lists the chunk).
    *
    * A FLAT chunk-identity path whose dir meanwhile gained `_gen=`
    * generations (a pre-migration `showChunks` path saved across
    * `migrateToGenLayout`) redirects to the live generation too —
    * otherwise the primitive would read the chunk dir itself, where
    * Spark's file index sees only underscore-prefixed subdirs and fails
    * with an unhelpful schema-inference error. One extra listing, paid
    * only by flat-path calls (gen tables hand out gen paths).
    */
  def liveChunkTarget(fs: FileSystem, p: Path): Path =
    if (isGenPath(p)) liveDataDir(fs, p.getParent).getOrElse(p)
    else if (p.getName.startsWith(s"${Hypertable.CHUNK}=") &&
        listGenDirs(fs, p).nonEmpty)
      liveDataDir(fs, p).getOrElse(p)
    else p
}

private[graft] object GenStore {

  /** The chunk store of gen-layout hypertables. */
  val chunks = new GenStore(Hypertable.GEN)

  private[sources] val SUPERSEDED = ".graft_superseded"
  private[sources] val DROP_TOMB = ".graft_dropped"
  private[sources] val REBIRTH_OK = ".graft_rebirth_ok"

  /** How long superseded generations / dropped chunk dirs stay readable
    * for pinned readers before GC deletes them. A query must finish within
    * this window of its planning (or re-plan); size it to the deployment's
    * longest query. 0 = eager delete (pre-round-8 behavior).
    */
  private[graft] def graceMs(spark: SparkSession): Long =
    spark.conf.get("spark.graft.gc.graceMs", "600000").toLong

  /** Stamp a rebirth generation COMPLETE — written by the re-ingesting
    * append immediately after its job commit, BEFORE its heal. The marker
    * is what lets [[GenStore.healRebirth]] distinguish a finished commit from a
    * crashed write's partial dynamic-partition job commit: committing the
    * latter would resurrect the dropped chunk with unacked partial data.
    */
  private[sources] def markRebirthComplete(fs: FileSystem, genDir: Path): Unit =
    touchFile(fs, new Path(genDir, REBIRTH_OK))

  private[graft] def isSuperseded(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, SUPERSEDED))

  private[graft] def isTombstoned(fs: FileSystem, chunkDir: Path): Boolean =
    fs.exists(new Path(chunkDir, DROP_TOMB))

  /** Stamp a generation superseded — the rewrite's commit point. The
    * stamp's mtime is GC's grace clock.
    */
  private[sources] def stampSuperseded(fs: FileSystem, genDir: Path): Unit =
    touchFile(fs, new Path(genDir, SUPERSEDED))

  /** The tombstone's recorded drop-time max generation: Some when present
    * and parsable, None when absent OR unreadable (a drop crashed between
    * create and write, or a concurrent heal removed it mid-read). Callers
    * choose the fallback — the policies genuinely differ: the write path
    * NORMALIZES an unreadable tombstone, [[GenStore.healRebirth]] treats it as
    * nothing-to-heal, the stream's dead-set walk re-probes existence to
    * split vanished from crashed.
    */
  private[sources] def readTombMax(fs: FileSystem, chunkDir: Path): Option[Long] =
    try Some(readSmallFile(fs, new Path(chunkDir, DROP_TOMB)).trim.toLong)
    catch { case _: Exception => None }

  /** Staging dirs of in-flight chunk rewrites (JVM scope — the mutator
    * lease allows at most one mutating process per table, and the refresh
    * lock one per cagg, so this IS the
    * real scope). The stale-tmp GC rule must skip them: its age heuristic
    * reads the dir mtime, which for a Spark write is the JOB START (task
    * files land under `_temporary/`, not the dir itself), so a rewrite
    * outliving max(grace, 1 h) — a multi-TB chunk — would otherwise have
    * its LIVE staging dir deleted out from under the running job by a
    * concurrent append's catalog sync (chunk rewrites hold only the root
    * READ lock, so table-level syncs interleave legally).
    */
  private val inFlightTmps =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The cross-process in-flight marker guarding a staged rewrite dir: a
    * heartbeated file NEXT TO the staged dir (inside it, the write job's
    * Overwrite would wipe it). [[GenStore.gcChunkDir]] refuses to reap any staged
    * dir — staged `_gen=` dir or dot-tmp — whose marker is live,
    * so a FOREIGN process's GC (a takeover after this process's heartbeat
    * stalled, or any future GC-running lease class) can never delete a
    * stage mid-write on the strength of its own JVM-local
    * [[inFlightTmps]] view alone (round-10 advisor finding). A crashed
    * stage's marker goes stale with its owner and the remnant reaps.
    */
  private[sources] def stagingMarkerPath(stagedDir: Path): Path =
    new Path(stagedDir.getParent, s".staging_${stagedDir.getName}")

  private[sources] def registerRewriteTmp(fs: FileSystem, tmp: Path): Path = {
    inFlightTmps.add(fs.makeQualified(tmp).toString)
    MutationGate.createMarker(fs, stagingMarkerPath(tmp))
    tmp
  }

  private[sources] def isInFlightTmp(fs: FileSystem, p: Path): Boolean =
    inFlightTmps.contains(fs.makeQualified(p).toString)

  private[graft] def unregisterRewriteTmp(fs: FileSystem, p: Path): Unit = {
    inFlightTmps.remove(fs.makeQualified(p).toString)
    MutationGate.removeMarker(fs, stagingMarkerPath(p))
  }

  /** Throw away a stage that will never be published (its chunk was
    * dropped mid-rewrite). The caller still unregisters it.
    */
  private[sources] def discardStage(fs: FileSystem, stage: Path): Unit = {
    fs.delete(stage, true); ()
  }
}
