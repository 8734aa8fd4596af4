package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Cross-process append/rewrite coordination — the lease split that lets a
  * standing ingest process and a maintenance/policy process mutate one
  * hypertable concurrently, the way the reference runs concurrent INSERTs
  * alongside compression/retention jobs (per-chunk locks,
  * `tsl/src/compression/api.c`; isolation coverage
  * `tsl/test/isolation/specs/compression_ddl_iso.spec`).
  *
  * Three cooperating primitives, all small marker files at the table's
  * PRIMARY root, all heartbeated by the gate daemon while held:
  *
  *  - APPEND LEASE (`_graft_append_leases/a_<owner>`): advertises a live
  *    appender process. Shared — any number may coexist, and they coexist
  *    with the exclusive maintenance lease (`_graft_mutator_lease`, an
  *    exclusive marker claimed through [[tryClaimExclusive]], which after
  *    the split serializes REWRITE-class processes only).
  *  - APPEND INTENT (`_graft_intents/i_<owner>_<n>`): one per in-flight
  *    append batch. A rewriter drains the intents VISIBLE when its seal
  *    is in place before reading its input, so no append started before
  *    the seal can land rows in a generation the rewrite is about to
  *    supersede.
  *  - SEAL (`_graft_seals/s<start>` / `s_ALL`): a rewriter's per-chunk
  *    (or, for DDL, table-wide) exclusion marker. An appender checks seals
  *    AFTER writing its intent; on overlap with its routed chunk set it
  *    YIELDS — removes its intent, waits for the seal to clear, re-creates
  *    the intent and re-checks. The write-intent-then-read-seal /
  *    write-seal-then-read-intent ordering means at least one side always
  *    sees the other. The drain is a SNAPSHOT wait (below) — no
  *    cross-host clock comparison anywhere in the ordering.
  *
  * Deadlock-freedom: rewriters never yield and wait only on the intents
  * captured in their post-seal snapshot; appenders always yield to any
  * live overlapping seal (dropping their intent while they wait). A
  * yielded appender's re-created intent appears only after the seal
  * clears, so the rewriter does not wait for it. Crash tolerance: every
  * marker embeds a creation ts and a heartbeat ts; a marker whose
  * heartbeat (and mtime) is older than `spark.graft.gate.staleMs` reads
  * as a crashed holder and is ignored (and reaped best-effort).
  *
  * File body layout: `owner \n createdTs \n heartbeatTs [\n payload…]`.
  * Heartbeats rewrite the whole body preserving the payload
  * (truncate-overwrite; readers treat an unparsable/empty body as
  * live-conservative within the mtime bound).
  */
private[graft] object MutationGate {
  import Hypertable.{readSmallFile, processId}

  private[sources] val APPEND_DIR = "_graft_append_leases"
  private[sources] val INTENT_DIR = "_graft_intents"
  private[sources] val SEAL_DIR = "_graft_seals"
  private[sources] val REBIRTH_LOCK = "_graft_rebirth_lock"
  private[sources] val CATALOG_FLOCK = "_graft_catalog_flock"
  private[sources] val HEAL_DIR = "_graft_healing"

  /** Liveness horizon for every marker, the mutator lease included: a
    * rewriter's drain (or an appender's yield) stalls for this long after
    * an appender (or rewriter) crash, and a crashed lease holder's table
    * is taken over after it. Must comfortably exceed the 30 s heartbeat
    * period.
    */
  private[graft] def staleMs(spark: SparkSession): Long =
    spark.conf.get("spark.graft.gate.staleMs", "120000").toLong

  /** How long a gate wait (drain / yield) may block before erroring. */
  private[graft] def timeoutMs(spark: SparkSession): Long =
    spark.conf.get("spark.graft.gate.timeoutMs", "600000").toLong

  /** Gate wait poll interval. */
  private[graft] val PollMs = 50L

  /** Settle window for exclusive-marker claims on stores without an
    * atomic create-exclusive (raw object stores): after winning the
    * create+readback, wait this long and read back AGAIN before declaring
    * the claim won — longer than one competing create+readback
    * round-trip, so of two same-instant claimants at most one survives
    * both readbacks. Paid only while ANOTHER process is known active on
    * the table ([[foreignActive]]); the single-process fast path keeps
    * the plain claim-readback. NOT consulted at all on stores with an
    * atomic create-exclusive ([[tryAtomicCreate]]) — there mutual
    * exclusion is structural and the claim is one create call.
    */
  private def settleMs(spark: SparkSession): Long =
    spark.conf.get("spark.graft.gate.settleMs", "60").toLong

  /** Test hook: force the blind-PUT (readback+settle) claim path even on
    * an atomic-create-capable store, to keep the settle belt's own
    * coverage.
    */
  @volatile private[graft] var blindPutClaimsForTests = false

  // ------------------------------------------- conditional-PUT claim hook

  /** Registered [[ConditionalPutBackend]]s by filesystem scheme. When a
    * scheme has one, exclusive claims decide in that ONE store round-trip
    * (structural mutual exclusion, like local/HDFS create-exclusive): the
    * blind-PUT readback + settle belt is skipped entirely, and the
    * stream-log seq claim's hold cost collapses accordingly (SCALE.md
    * §16's ~6-round-trip bound was the no-conditional-PUT worst case).
    */
  private val conditionalPutBackends = new java.util.concurrent
    .ConcurrentHashMap[String, ConditionalPutBackend]()

  private[graft] def registerConditionalPut(scheme: String,
      backend: ConditionalPutBackend): Unit = {
    conditionalPutBackends.put(scheme, backend); ()
  }

  private[graft] def unregisterConditionalPut(scheme: String): Unit = {
    conditionalPutBackends.remove(scheme); ()
  }

  // ------------------------------------------------------- marker plumbing

  /** Markers this process holds, refreshed by [[heartbeatNow]] every
    * 30 s: qualified path -> (fs, path, owner, createdTs, payload).
    */
  private val held = new java.util.concurrent.ConcurrentHashMap[
    String, (FileSystem, Path, String, Long, Option[String])]()

  private def hold(fs: FileSystem, p: Path, owner: String, created: Long,
      payload: Option[String] = None): Unit = {
    held.put(fs.makeQualified(p).toString, (fs, p, owner, created, payload))
    ensureDaemon()
  }

  /** Whether this process holds the marker at `p` (a map hit). */
  private[sources] def holds(fs: FileSystem, p: Path): Boolean =
    held.containsKey(fs.makeQualified(p).toString)

  /** Hold a live marker this process already owns on disk but no longer
    * tracks (the held set dropped it), instead of refusing ourselves.
    */
  private[sources] def adopt(fs: FileSystem, m: Marker): Unit =
    hold(fs, m.path, m.owner, m.created)

  @volatile private var daemonStarted = false

  /** The heartbeat daemon (one [[heartbeatNow]] pass every 30 s) and the
    * shutdown hook that releases every held marker — graceful exits hand
    * the table off immediately; only a crash pays the staleness window.
    * Started by the first held marker.
    */
  private def ensureDaemon(): Unit =
    if (!daemonStarted) synchronized {
      if (!daemonStarted) {
        val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
          r => { val t = new Thread(r, "graft-gate-heartbeat"); t.setDaemon(true); t })
        // belt over the per-entry catch: one thrown pass would cancel
        // every future scheduled run
        ex.scheduleWithFixedDelay(() =>
          try heartbeatNow()
          catch { case scala.util.control.NonFatal(_) => () }, 30, 30,
          java.util.concurrent.TimeUnit.SECONDS)
        Runtime.getRuntime.addShutdownHook(
          new Thread(() => releaseAll(), "graft-gate-release"))
        daemonStarted = true
      }
    }

  private def body(owner: String, created: Long, hb: Long,
      payload: Option[String]): String =
    s"$owner\n$created\n$hb" + payload.map("\n" + _).getOrElse("")

  // test seam: claim identity per thread, so multi-waiter protocol tests
  // can simulate DISTINCT PROCESSES in one JVM (claimExclusive's contract
  // is one claimant per process — in-process callers serialize on JVM
  // locks first). Production never sets it: the owner is processId.
  private[graft] val claimOwnerOverride = new ThreadLocal[String]()
  private def claimOwner: String =
    Option(claimOwnerOverride.get()).getOrElse(processId)

  private[graft] case class Marker(path: Path, owner: String, created: Long,
      hb: Long, mtime: Long) {
    def live(now: Long, stale: Long): Boolean =
      math.max(hb, mtime) > now - stale
  }

  /** The marker at `p`; None when missing or unreadable. */
  private[sources] def readMarker(fs: FileSystem, p: Path): Option[Marker] =
    try parse(fs, fs.getFileStatus(p))
    catch { case _: java.io.IOException => None }

  private[graft] def parse(fs: FileSystem,
      st: org.apache.hadoop.fs.FileStatus): Option[Marker] =
    try {
      val lines = readSmallFile(fs, st.getPath).linesIterator.toSeq
      val owner = lines.headOption.getOrElse("")
      val created = lines.lift(1).flatMap(l =>
        scala.util.Try(l.trim.toLong).toOption).getOrElse(0L)
      val hb = lines.lift(2).flatMap(l =>
        scala.util.Try(l.trim.toLong).toOption).getOrElse(created)
      // an empty/torn body (heartbeat's truncate-overwrite window) reads
      // as a LIVE marker with created=0 — the conservative direction for
      // both drains (wait) and yields (wait), bounded by the file's mtime
      Some(Marker(st.getPath, owner, created, hb, st.getModificationTime))
    } catch { case _: java.io.IOException => None } // vanished mid-list

  /** The payload lines (4th onward) of a held-style marker file; empty
    * string when none or unreadable.
    */
  private[graft] def payloadOf(fs: FileSystem, p: Path): String =
    try readSmallFile(fs, p).linesIterator.drop(3).mkString("\n")
    catch { case _: java.io.IOException => "" }

  private def writeMarker(fs: FileSystem, p: Path, created: Long,
      payload: Option[String], overwrite: Boolean,
      owner: String = processId): Unit = {
    // overwrite=false refuses an existing file (IOException)
    Hypertable.writeSmallFileDirect(fs, p,
      body(owner, created, System.currentTimeMillis(), payload),
      createNew = !overwrite)
  }

  private[graft] def createMarker(fs: FileSystem, p: Path,
      payload: Option[String] = None): Path = {
    val created = System.currentTimeMillis()
    writeMarker(fs, p, created, payload, overwrite = true)
    hold(fs, p, processId, created, payload)
    p
  }

  private[graft] def removeMarker(fs: FileSystem, p: Path): Unit = {
    held.remove(fs.makeQualified(p).toString)
    try fs.delete(p, false)
    catch { case _: java.io.IOException => () }
  }

  /** Stop heartbeating a marker WITHOUT deleting the file — for a holder
    * that discovered (post-write verify) its claim was taken over: the
    * file on disk is the new holder's now.
    */
  private[graft] def disownMarker(fs: FileSystem, p: Path): Unit = {
    held.remove(fs.makeQualified(p).toString); ()
  }

  /** Release a held marker: delete it only if it still names this
    * process — a taken-over marker is the new holder's file and must not
    * be deleted out from under it (it is only disowned).
    */
  private[graft] def releaseIfOurs(fs: FileSystem, p: Path): Unit = {
    val ours =
      try readMarker(fs, p).exists(_.owner == processId)
      catch { case scala.util.control.NonFatal(_) => false }
    if (ours) removeMarker(fs, p) else disownMarker(fs, p)
  }

  /** One heartbeat pass over every held marker (the gate daemon's 30 s
    * pass; exposed for deterministic spec coverage).
    *
    * Ownership is re-checked before each refresh: a marker whose body now
    * names ANOTHER process was taken over while this process was presumed
    * stale (a pause longer than `staleMs` froze this heartbeat too) — it
    * is no longer ours, and blindly rewriting it would stomp the new
    * holder's claim and put two processes inside one critical section
    * (the round-11 advisor's finding). An empty/torn body is skipped
    * (not rewritten, not dropped): it is either our own claim mid-fill
    * or a taker-over's — the next pass resolves it either way.
    */
  private[graft] def heartbeatNow(): Unit =
    held.forEach { (k, v) =>
      val (fs, p, _, created, payload) = v
      try {
        val st =
          try Some(fs.getFileStatus(p))
          catch { case _: java.io.FileNotFoundException => None }
        st match {
          // a vanished marker means the table was dropped (or an operator
          // cleaned up) — drop it rather than resurrecting the marker dir
          case None => held.remove(k)
          case Some(s) => parse(fs, s) match {
            case Some(m) if m.owner == v._3 =>
              writeMarker(fs, p, created, payload, overwrite = true,
                owner = v._3)
            case Some(m) if m.owner.nonEmpty => held.remove(k) // taken over
            case _ => () // empty/torn body: resolve next pass
          }
        }
      } catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Delete every marker this process still holds and still owns on disk
    * (shutdown hook belt — the per-op finally blocks are the braces). A
    * marker taken over since the last heartbeat is the new holder's and
    * is left alone, as in [[heartbeatNow]].
    */
  private[graft] def releaseAll(): Unit =
    held.forEach { (_, v) =>
      try {
        if (readMarker(v._1, v._2).exists(_.owner == v._3))
          v._1.delete(v._2, false)
      } catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Live markers under `dir` (missing dir = none). Stale markers are
    * reaped best-effort so crashed holders don't accumulate.
    */
  private[graft] def listLive(spark: SparkSession, fs: FileSystem,
      dir: Path): Seq[Marker] = {
    val stale = staleMs(spark)
    val now = System.currentTimeMillis()
    val all =
      try fs.listStatus(dir).toSeq.filter(_.isFile)
      catch { case _: java.io.FileNotFoundException => return Nil }
    all.flatMap(parse(fs, _)).flatMap { m =>
      if (m.live(now, stale)) Some(m)
      else { try fs.delete(m.path, false)
             catch { case _: java.io.IOException => () }; None }
    }
  }

  /** Is the single marker file at `p` held by a live (fresh-heartbeat)
    * process? Missing/unreadable = no.
    */
  private[sources] def fileMarkerLive(spark: SparkSession, fs: FileSystem,
      p: Path): Boolean =
    readMarker(fs, p).exists(_.live(System.currentTimeMillis(), staleMs(spark)))

  /** [[fileMarkerLive]] for session-less callers (GC helpers): staleness
    * from the active session when one exists, the config default else.
    */
  private[sources] def fileMarkerLiveAny(fs: FileSystem, p: Path): Boolean = {
    val stale = SparkSession.getActiveSession.map(staleMs).getOrElse(120000L)
    readMarker(fs, p).exists(_.live(System.currentTimeMillis(), stale))
  }

  // ------------------------------------------ foreign-activity observation

  // root -> (checkedAtMs, foreignProcessActive). Refreshed at most once
  // per heartbeat period: the EXCLUSIVE claim protocol only needs its
  // settle belt while a second process can actually contend, and probing
  // two marker locations per claim would put object-store latency on the
  // per-batch hot path. The residual window — a brand-new process inside
  // one TTL — is additionally covered by create-exclusive (atomic on
  // local/HDFS) and by the double readback below.
  private val activityCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Boolean)]()
  private val ACTIVITY_TTL_MS = 30000L

  private[sources] def foreignActive(spark: SparkSession, fs: FileSystem,
      qualifiedRoot: String): Boolean = {
    val now = System.currentTimeMillis()
    val cached = activityCache.get(qualifiedRoot)
    if (cached != null && now - cached._1 < ACTIVITY_TTL_MS) return cached._2
    val root = new Path(qualifiedRoot)
    val active =
      try listLive(spark, fs, new Path(root, APPEND_DIR))
        .exists(_.owner != processId) ||
        Hypertable.foreignMutatorLive(spark, fs, qualifiedRoot)
      catch { case scala.util.control.NonFatal(_) => true } // conservative
    activityCache.put(qualifiedRoot, (now, active))
    active
  }

  // ------------------------------------------------ exclusive marker claim

  /** Does this store give an ATOMIC create-exclusive? Local POSIX
    * (O_CREAT|O_EXCL via `File.createNewFile`) and HDFS/viewfs (the
    * namenode arbitrates `create(overwrite=false)`) do natively; any
    * scheme with a registered [[ConditionalPutBackend]] (S3
    * If-None-Match, GCS ifGenerationMatch=0, ABFS ETag) does through the
    * hook. Raw object stores without one (blind PUT) do not. On capable
    * stores the claim is one create call — structural mutual exclusion,
    * no readback, no settle sleep.
    */
  /** `fs.getUri.getScheme`, NOT `fs.getScheme`: the latter is optional API
    * that e.g. RawLocalFileSystem (a supported checksum-free local-FS
    * choice) never implemented — it throws UnsupportedOperationException.
    * The URI form is always present and equal where both exist.
    */
  private def schemeOf(fs: FileSystem): String = fs.getUri.getScheme

  private[sources] def atomicCreateCapable(spark: SparkSession,
      fs: FileSystem): Boolean =
    !blindPutClaimsForTests && (schemeOf(fs) match {
      case "file" | "hdfs" | "viewfs" => true
      case s => conditionalPutBackends.containsKey(s)
    })

  /** One atomic create-exclusive attempt; true iff THIS call created the
    * marker. On `file://` the decision is `File.createNewFile` (atomic on
    * POSIX; Hadoop's LocalFileSystem `create(overwrite=false)` is a
    * non-atomic exists-then-create) and the body is filled right after —
    * a reader catching the empty-body window parses it live-conservative
    * within the mtime bound, which is the waiting direction.
    */
  private def tryAtomicCreate(fs: FileSystem, p: Path, created: Long)
      : Boolean = {
    val backend = conditionalPutBackends.get(schemeOf(fs))
    if (backend != null)
      // object stores have no directories — no mkdirs round-trip; a
      // backend for a store that does need parents creates them itself
      return try backend.putIfAbsent(fs, p,
        body(claimOwner, created, System.currentTimeMillis(), None)
          .getBytes("UTF-8"))
      catch { case _: java.io.IOException => false }
    try Hypertable.localFileOf(fs, p) match {
      case Some(f) =>
        f.getParentFile.mkdirs()
        f.createNewFile() && {
          writeMarker(fs, p, created, None, overwrite = true,
            owner = claimOwner)
          true
        }
      case None => // HDFS/viewfs: atomic-exclusive at the namenode
        writeMarker(fs, p, created, None, overwrite = false,
          owner = claimOwner)
        true
    } catch { case _: java.io.IOException => false }
  }

  /** Arbitrate clearing a stale (crashed-holder) or own-leftover marker —
    * the pre-round-12 bare delete+create admitted two holders: both
    * waiters parse the file as stale, and the slower waiter's delayed
    * delete removes the faster waiter's freshly created, already-confirmed
    * marker (the round-11 advisor's HIGH finding). A plain
    * rename-to-unique has the same window (the delayed rename moves the
    * fresh marker instead). Here the takeover right is itself decided by
    * an ATOMIC CREATE-EXCLUSIVE of a sidecar whose name is keyed to the
    * stale marker's IDENTITY (owner + created ts):
    *
    *  1. only ONE waiter per stale incarnation wins `.tko_<name>_<id>`;
    *  2. the winner re-parses `p` and deletes it only if it still IS that
    *     incarnation — a fresh marker (different owner/created) is never
    *     touched;
    *  3. losers do nothing and re-poll; a crashed winner's sidecar goes
    *     stale by mtime and is reaped, re-opening the arbitration.
    *
    * Residual: the fresh-marker-deleted window now needs TWO independent
    * >staleMs pauses nested at exact points (winner stalls mid-takeover
    * past staleness AND its successor stalls between verify and delete) —
    * versus one ordinarily-delayed DELETE before. On blind-PUT stores the
    * sidecar create is not atomic and this whole routine stays
    * best-effort; the claim-side readback+settle belt remains the guard
    * there.
    */
  private def arbitrateStale(spark: SparkSession, fs: FileSystem, p: Path,
      m: Marker): Unit = {
    val id = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(s"${m.owner}|${m.created}"))
    val tko = new Path(p.getParent, s".tko_${p.getName}_$id")
    try {
      val st =
        try Some(fs.getFileStatus(tko))
        catch { case _: java.io.FileNotFoundException => None }
      st match {
        case Some(s)
            if System.currentTimeMillis() - s.getModificationTime
              > staleMs(spark) =>
          // crashed arbiter: reap its sidecar and re-poll (the NEXT pass
          // re-opens the arbitration)
          fs.delete(tko, false)
        case Some(_) => () // live arbitration in progress: re-poll
        case None =>
          val won =
            if (atomicCreateCapable(spark, fs)) tryAtomicCreate(fs, tko,
              System.currentTimeMillis())
            else
              try { writeMarker(fs, tko, System.currentTimeMillis(), None,
                overwrite = false, owner = claimOwner); true }
              catch { case _: java.io.IOException => false }
          if (won) try {
            val cur = readMarker(fs, p)
            // same incarnation AND still stale: a holder that resumed and
            // heartbeated between the caller's staleness read and this
            // verify keeps its marker (we re-poll and wait on it instead)
            if (cur.exists(c => c.owner == m.owner &&
                c.created == m.created &&
                !c.live(System.currentTimeMillis(), staleMs(spark))))
              fs.delete(p, false)
          } finally fs.delete(tko, false)
      }
    } catch { case _: java.io.IOException => () }
  }

  /** Claim the single-holder marker at `p`, waiting while a live foreign
    * holder exists: [[tryClaimExclusive]] until it wins, polling every
    * [[PollMs]]. Throws after `spark.graft.gate.timeoutMs`, naming the
    * live holder when there is one.
    */
  private[graft] def claimExclusive(spark: SparkSession, fs: FileSystem,
      p: Path, activityRoot: => Option[(FileSystem, String)],
      alwaysSettle: Boolean = false): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs(spark)
    while (!tryClaimExclusive(spark, fs, p, activityRoot, alwaysSettle)) {
      val now = System.currentTimeMillis()
      if (now > deadline)
        throw new IllegalStateException(readMarker(fs, p)
          .filter(m => m.owner != claimOwner && m.live(now, staleMs(spark)))
          .fold(s"timed out contending for exclusive marker $p")(m =>
            s"timed out waiting for exclusive marker $p held by ${m.owner}"))
      Thread.sleep(PollMs)
    }
  }

  // Test-only pause in [[tryClaimExclusive]] after the liveness read and
  // before the create, where a second claimant can slip in.
  @volatile private[graft] var claimHook: Path => Unit = _ => ()

  /** One claim attempt on the single-holder marker at `p`; false when a
    * live foreign holder exists or the claim race is lost. The mutator
    * lease (refuse, not queue) and opportunistic work (torn-op healing)
    * call it directly; [[claimExclusive]] waits on it. The attempt:
    *
    *  1. a stale/crashed holder's file is cleared by RENAME ARBITRATION
    *     ([[arbitrateStale]]) — never a bare delete, so no waiter can
    *     remove a winner's fresh marker.
    *  2. on atomic-create stores ([[atomicCreateCapable]]): one
    *     create-exclusive decides the claim — no settle, no readback.
    *  3. otherwise (blind-PUT object stores): `create(overwrite=false)` +
    *     read back — the LAST writer's bytes win and the readback demotes
    *     every other claimant; when another process is known active on
    *     the table ([[foreignActive]] vs `activityRoot`), sleep
    *     `spark.graft.gate.settleMs` and read back AGAIN — longer than a
    *     competing create+readback round-trip, so two same-instant PUT
    *     claimants cannot both survive. Without observed contention the
    *     second readback runs with no sleep. A lost readback leaves
    *     nothing of ours on disk (our bytes were overwritten), so nothing
    *     is deleted.
    *
    * `alwaysSettle` forces the settle-confirm readback regardless of the
    * activity probe (blind-PUT path only) — for claims whose contenders
    * advertise no lease (e.g. two processes' cagg refreshes) and whose
    * hold time dwarfs the settle cost.
    */
  private[graft] def tryClaimExclusive(spark: SparkSession, fs: FileSystem,
      p: Path, activityRoot: => Option[(FileSystem, String)],
      alwaysSettle: Boolean = false): Boolean = {
    val me = claimOwner
    readMarker(fs, p) match {
      case Some(m) if m.owner != me &&
          m.live(System.currentTimeMillis(), staleMs(spark)) =>
        false
      case other =>
        claimHook(p)
        other.foreach(m => arbitrateStale(spark, fs, p, m))
        val created = System.currentTimeMillis()
        val won =
          if (atomicCreateCapable(spark, fs)) tryAtomicCreate(fs, p, created)
          else {
            val put =
              try { writeMarker(fs, p, created, None, overwrite = false,
                owner = me); true }
              catch { case _: java.io.IOException => false } // exists: lost
            put && {
              def mine: Boolean = readMarker(fs, p).exists(_.owner == me)
              val settle = alwaysSettle || activityRoot.exists {
                case (afs, root) => foreignActive(spark, afs, root) }
              mine && { if (settle) Thread.sleep(settleMs(spark)); mine }
            }
          }
        if (won) hold(fs, p, me, created)
        won
    }
  }

  // ---------------------------------------------------------- append lease

  private val heldAppendLeases = new java.util.concurrent.ConcurrentHashMap[
    String, Path]()

  /** Whether THIS process holds an append lease on the table — the
    * "mutating process" test for paths appenders are allowed to run (e.g.
    * the catalog staleness write-heal).
    */
  private[sources] def holdsAppendLease(qualifiedRoot: String): Boolean =
    heldAppendLeases.containsKey(qualifiedRoot)

  /** Register this process as an appender of the table (idempotent; held
    * for the process lifetime like the exclusive lease). Never refuses:
    * appenders coexist with each other and with one maintenance process —
    * conflicts are fenced per-batch by the intent/seal gate instead.
    */
  private[graft] def acquireAppendLease(spark: SparkSession, fs: FileSystem,
      qualifiedRoot: String): Unit = {
    if (heldAppendLeases.containsKey(qualifiedRoot)) return
    val p = new Path(new Path(qualifiedRoot), s"$APPEND_DIR/a_$processId")
    createMarker(fs, p)
    heldAppendLeases.put(qualifiedRoot, p)
  }

  private[graft] def releaseAppendLease(fs: FileSystem,
      qualifiedRoot: String): Unit =
    Option(heldAppendLeases.remove(qualifiedRoot))
      .foreach(removeMarker(fs, _))

  // ------------------------------------------------------- seals (rewrite)

  private def sealScopeOf(name: String): Option[Long] =
    if (name == "s_ALL") None
    else scala.util.Try(name.stripPrefix("s").toLong).toOption

  private def sealPath(root: Path, scope: Option[Long]): Path =
    new Path(root, s"$SEAL_DIR/${scope.map(s => s"s$s").getOrElse("s_ALL")}")

  /** Run `body` with seals claimed on the given scopes (Some(start) =
    * one chunk; None = the whole table, DDL class), after draining the
    * live foreign append intents visible once the seals are in place.
    * The claimed seals exclude appends on the sealed chunks for the
    * duration — the cross-process analogue of the reference's per-chunk
    * locks.
    *
    * Only rewrite-class ops call this, and they already hold the table's
    * EXCLUSIVE mutator lease plus the JVM lock hierarchy, so seals never
    * contend with other seals.
    */
  private[sources] def withSeals[T](spark: SparkSession, fs: FileSystem,
      qualifiedRoot: String, scopes: Seq[Option[Long]])(body: => T): T = {
    if (scopes.isEmpty) return body
    val root = new Path(qualifiedRoot)
    val claimed = scopes.distinct.sortBy(_.getOrElse(Long.MinValue))
      .map(s => createMarker(fs, sealPath(root, s)))
    try {
      drainIntents(spark, fs, root)
      body
    } finally claimed.foreach(removeMarker(fs, _))
  }

  /** Snapshot-wait for in-flight appends — called by a rewriter AFTER its
    * seals are fully written. The uncertainty set is exactly the live
    * FOREIGN intents visible NOW: an appender that wrote its intent
    * before our seal landed may not have seen the seal (we wait for its
    * batch), while any intent created after this snapshot was written
    * after the seal was visible — its owner's subsequent seal check
    * (write-intent-then-read-seal, on a read-after-write-consistent
    * store) sees the seal and yields if it conflicts. No cross-host
    * clock enters the ordering; a skewed appender clock cannot slip a
    * pre-seal batch past the drain (GateOrderingSpec pins this with
    * deliberately future-dated intents).
    */
  private def drainIntents(spark: SparkSession, fs: FileSystem,
      root: Path): Unit = {
    val dir = new Path(root, INTENT_DIR)
    val pending = listLive(spark, fs, dir)
      .filter(_.owner != processId).map(_.path.getName).toSet
    if (pending.isEmpty) return
    val deadline = System.currentTimeMillis() + timeoutMs(spark)
    while (listLive(spark, fs, dir)
        .exists(m => m.owner != processId && pending.contains(m.path.getName))) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(
          s"timed out draining append intents under $dir — an appender " +
            "batch has been in flight longer than " +
            s"spark.graft.gate.timeoutMs (${timeoutMs(spark)} ms)")
      Thread.sleep(PollMs)
    }
  }

  // ------------------------------------------------------ appender's gate

  /** Per-batch append gate. Creates this batch's intent, then checks live
    * seals: none, or none overlapping the batch's routed chunk starts →
    * proceed; otherwise YIELD (drop the intent, wait for the overlapping
    * seals to clear, re-create the intent) and re-check. Returns the
    * intent path — the caller MUST remove it (removeMarker) after the
    * batch's data AND catalog sync are fully committed.
    *
    * `routedStarts` is invoked at most once, and only when a live seal
    * exists (it costs one distinct-aggregation action over the batch).
    */
  private[sources] def appendGate(spark: SparkSession, fs: FileSystem,
      qualifiedRoot: String, routedStarts: () => Set[Long]): Path = {
    val root = new Path(qualifiedRoot)
    val intentP = new Path(root,
      s"$INTENT_DIR/i_${processId}_${java.util.UUID.randomUUID().toString.take(8)}")
    var intent = createMarker(fs, intentP)
    val sealDir = new Path(root, SEAL_DIR)
    val deadline = System.currentTimeMillis() + timeoutMs(spark)
    var starts: Set[Long] = null
    var done = false
    while (!done) {
      val seals = listLive(spark, fs, sealDir).filter(_.owner != processId)
      if (seals.isEmpty) done = true
      else {
        if (starts == null) starts = routedStarts()
        val conflicts = seals.filter(m => sealScopeOf(m.path.getName)
          .forall(starts.contains)) // None (ALL) conflicts with everything
        if (conflicts.isEmpty) done = true
        else {
          // yield: our intent must not hold up the rewriter we are about
          // to wait for
          removeMarker(fs, intent)
          val names = conflicts.map(_.path.getName).toSet
          while (listLive(spark, fs, sealDir)
              .exists(m => m.owner != processId &&
                names.contains(m.path.getName))) {
            if (System.currentTimeMillis() > deadline)
              throw new IllegalStateException(
                s"timed out waiting for chunk seal(s) ${names.mkString(",")} " +
                  s"under $sealDir — a rewrite has held its seal longer " +
                  s"than spark.graft.gate.timeoutMs (${timeoutMs(spark)} ms)")
            Thread.sleep(PollMs)
          }
          intent = createMarker(fs, intentP)
        }
      }
    }
    intent
  }

  /** A live FOREIGN seal covering chunk `start` (or the table-wide
    * `s_ALL`) means a rewrite-class op in another process is mid-flight
    * on that chunk RIGHT NOW — its torn-op intent markers describe live
    * work, not a crash. Healers consult this before resolving a
    * merge/split marker ([[Hypertable]]'s healRewriteIntents): ops claim
    * their seals BEFORE writing intent markers and drop the markers
    * before releasing the seals, so marker-present-without-live-seal is
    * exactly the crashed case.
    */
  private[sources] def foreignSealLive(spark: SparkSession, fs: FileSystem,
      qualifiedRoot: String, start: Long): Boolean =
    listLive(spark, fs, new Path(new Path(qualifiedRoot), SEAL_DIR))
      .exists(m => m.owner != processId &&
        sealScopeOf(m.path.getName).forall(_ == start))

  // -------------------------------------------- rebirth lock (append path)

  /** Per-chunk mutual exclusion between APPENDERS re-ingesting into the
    * same tombstoned (dropped, grace-retained) chunk dir: two concurrent
    * rebirths would race the tombstone's drop-max normalization and could
    * stamp each other's just-committed generation dead. Exclusive claim
    * ([[claimExclusive]]) on a heartbeated marker INSIDE the chunk dir;
    * the GC also refuses to reap a dir whose rebirth lock is live
    * ([[GenStore.chunks.gcChunkDir]]). Returns the claimed paths; release via
    * [[removeMarker]]. `activityRoot` is the table's PRIMARY root — the
    * settle belt keys on table-level foreign activity.
    */
  private[sources] def claimRebirthLocks(spark: SparkSession,
      chunkDirs: Seq[Path], activityRoot: Option[(FileSystem, String)])
      : Seq[(FileSystem, Path)] =
    chunkDirs.sortBy(_.toString).map { d =>
      // each dir's OWN filesystem: a tombstoned chunk resident on a
      // cross-FS tablespace is locked where it lives
      val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val p = new Path(d, REBIRTH_LOCK)
      claimExclusive(spark, fs, p, activityRoot)
      (fs, p)
    }

  private[sources] def rebirthLockLive(fs: FileSystem,
      chunkDir: Path): Boolean =
    fileMarkerLiveAny(fs, new Path(chunkDir, REBIRTH_LOCK))

  // --------------------------------------------- catalog commit lock (FS)

  // in-JVM serialization + reentrancy for the catalog FS lock, keyed on
  // the qualified root. A ReentrantLock (not a depth map keyed per table)
  // so a SECOND THREAD of this process blocks instead of treating another
  // thread's hold as its own re-entry — the pre-round-11 depth map let
  // e.g. a heal on one thread run inside another thread's commit window.
  private val flockJvm = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.locks.ReentrantLock]()

  /** Serialize MANIFEST commits (full refresh, per-chunk patch, and the
    * gen-publish stamps they index) across processes: without it a
    * standing appender's full refresh and the maintenance process's
    * publish/patch could interleave — a torn listing (content stamp
    * bumped, superseded stamp not yet visible) or a version-number
    * collision whose last writer persists the older view. Exclusive claim
    * ([[claimExclusive]]: create-exclusive + readback + contention-gated
    * settle) on a heartbeated marker at the primary root; held only for
    * the metadata commit (listing + one small-file write), never across
    * a data job. In-JVM, threads serialize on a per-root ReentrantLock
    * (re-entrant within one thread).
    */
  private[sources] def withCatalogFsLock[T](spark: SparkSession,
      fs: FileSystem, qualifiedRoot: String)(body: => T): T = {
    val l = flockJvm.computeIfAbsent(qualifiedRoot,
      _ => new java.util.concurrent.locks.ReentrantLock())
    l.lock()
    try {
      if (l.getHoldCount > 1) body // re-entrant: this thread already claimed
      else {
        val p = new Path(new Path(qualifiedRoot), CATALOG_FLOCK)
        claimExclusive(spark, fs, p, Some((fs, qualifiedRoot)))
        try body
        finally removeMarker(fs, p)
      }
    } finally l.unlock()
  }
}

/** Backend hook for stores offering an atomic CONDITIONAL CREATE — S3's
  * `If-None-Match: *` PUT (native since 2024), GCS `ifGenerationMatch=0`
  * preconditions, ABFS ETag preconditions. Hadoop's FileSystem API
  * exposes no conditional PUT, so the hook receives the marker bytes and
  * talks to the store client directly. Register per scheme via
  * [[graft.Graft.registerConditionalPutClaims]]; once registered,
  * exclusive claims (including the stream-log seq claim) decide in this
  * ONE round-trip and the blind-PUT readback + settle belt retires for
  * that scheme.
  */
trait ConditionalPutBackend {

  /** Write `bytes` at `p` iff no object exists there, atomically AT THE
    * STORE. Returns true iff THIS call created the object; false when it
    * already exists (failed precondition). Throw IOException only for
    * transport errors — the claim loop treats a throw as a lost attempt
    * and re-polls.
    */
  def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, bytes: Array[Byte]): Boolean
}
