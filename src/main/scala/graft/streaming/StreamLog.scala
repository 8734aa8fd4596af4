package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.sources.{Hypertable, MutationGate}
import graft.sources.Hypertable.{crashPoint, processId, readSmallFile, writeSmallFile}

/** The hypertable change feed, `_graft_stream_log/`: the only code that
  * knows its format and protocol. Writers ([[Hypertable.write]],
  * [[Hypertable.attachChunk]]) log each committed batch through
  * [[begin]], one entry naming EXACTLY the files the batch committed,
  * but only while the log dir exists — the first stream enables it;
  * tables nobody tails pay two `exists` per batch and nothing else. The
  * streaming source ([[Hypertable.readStream]] /
  * [[org.apache.spark.sql.graftstream.GraftStreamSource]], which lives
  * under Spark's package tree for its `private[sql]` V1 streaming SPI, so
  * the reader side here is public) reads it through [[logHighSeq]],
  * [[snapshotFiles]] and [[newLogEntries]].
  *
  * Why a custom source at all: Spark's `FileStreamSource` re-lists the
  * table's entire file set every micro-batch (and at start) — measured
  * 14.2 s at 10,080 chunks, SCALE.md §16, and O(files) per trigger
  * forever after. Tailing the log makes per-trigger discovery O(new
  * files + the frontier bucket): entries bucket by SEQUENCE into
  * `s<seq/512>` subdirs, buckets wholly at/below the
  * contiguously-processed floor are skipped without listing, and buckets
  * past retention are deleted whole — independent of table width AND of
  * how long the log has accumulated. The floor is LOGICAL (round 12): a
  * seq is allocated under the log's exclusive claim with the entry write
  * inside the critical section, and the floor advances only across seqs
  * the reader actually processed, so no writer clock skew can floor an
  * entry out. The one-time initial snapshot (earliest start) enumerates
  * live chunks from the MANIFEST — dead/graced generations and
  * tombstoned dirs are never listed. Rewrites (compress/merge/DML) never
  * appear in the log, so their re-encoded files never re-emit.
  */
object StreamLog {

  private[graft] val STREAM_LOG = "_graft_stream_log"

  private[graft] def streamLogEnabled(fs: FileSystem, tablePath: String): Boolean =
    fs.exists(new Path(tablePath, STREAM_LOG))

  /** Make writers log from now on; a stream calls this before its start
    * snapshot.
    */
  def enableStreamLog(spark: SparkSession, tablePath: String): Unit = {
    fsOf(spark, tablePath).mkdirs(new Path(tablePath, STREAM_LOG)); ()
  }

  /** Data files under a chunk data dir, recursing through `_space=` levels
    * (never into dot/tmp dirs), qualified. Missing dir = empty.
    */
  private[graft] def listDataFilesRec(fs: FileSystem, dir: Path): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(d: Path): Unit =
      try fs.listStatus(d).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && !n.startsWith(".") && n.contains("=")) walk(st.getPath)
        else if (st.isFile && !n.startsWith(".") && !n.startsWith("_"))
          out += fs.makeQualified(st.getPath).toString
      } catch { case _: java.io.FileNotFoundException => () }
    walk(dir)
    out.toSeq
  }

  /** Entries bucket by SEQUENCE into `s<seq/512>/` subdirs. The sequence
    * is the load-bearing change of round 12: entries used to be named and
    * floored by each WRITER's wall clock, so an appender host skewed more
    * than the floor window (10 min default) was silently floored out of
    * every tailing stream — the one remaining NTP-violation → data-loss
    * path (round-11 verdict item 1). Seqs are allocated under the
    * `.seq_claim` exclusive marker with the entry WRITE inside the
    * critical section, so verified entries are CONSECUTIVE (each
    * allocation is max-visible+1) and become visible in seq order — a
    * reader's floor of "max contiguously processed seq" is exact with no
    * clock anywhere. Constant (not conf): readers derive each bucket's
    * seq range from its name, so writer/reader must agree.
    */
  private[graft] val STREAM_LOG_BUCKET_SEQS = 512L

  private[graft] def streamLogBucketOf(seq: Long): String =
    s"s${seq / STREAM_LOG_BUCKET_SEQS}"

  /** `s<idx>` → idx; anything else (dot dirs) → -1. */
  private[graft] def streamBucketIdxOf(name: String): Long =
    if (name.length > 1 && name.charAt(0) == 's' &&
        name.drop(1).forall(_.isDigit)) name.drop(1).toLong
    else -1L

  /** V2 entry name: `e_<seq zero-padded>_<ts>_<rand>`. The ts is the
    * writer's clock and feeds RETENTION ONLY (never ordering or floors).
    */
  private[graft] def streamEntryName(seq: Long, ts: Long): String =
    f"e_$seq%012d_${ts}_${java.util.UUID.randomUUID().toString.take(6)}"

  /** The sequence a v2 entry name embeds; -1 when unparsable. */
  private[graft] def streamEntrySeq(name: String): Long = {
    val s = name.stripPrefix("e_").takeWhile(_.isDigit)
    if (s.isEmpty || !name.startsWith("e_")) -1L else s.toLong
  }

  /** The writer wall clock a v2 entry name embeds (retention only). */
  private[graft] def streamEntryTs(name: String): Long =
    scala.util.Try(name.split('_')(2).toLong).getOrElse(-1L)

  def streamLogRetainMs(spark: SparkSession): Long =
    spark.conf.get("spark.graft.stream.logRetainMs", "604800000").toLong

  /** Highest seq visible in the log's sequence buckets, -1 when none —
    * walks bucket indices DESC, returning the first non-empty bucket's
    * max (an empty higher dir is a crashed mkdirs remnant, not an
    * allocation: seqs are allocated only by an entry existing).
    */
  private def maxStreamSeq(fs: FileSystem, logDir: Path,
      bucketIdxs: Seq[Long]): Long = {
    bucketIdxs.sorted(Ordering[Long].reverse).foreach { idx =>
      val seqs =
        try fs.listStatus(new Path(logDir, s"s$idx")).toSeq.filter(_.isFile)
          .map(st => streamEntrySeq(st.getPath.getName)).filter(_ >= 0)
        catch { case _: java.io.FileNotFoundException => Nil }
      if (seqs.nonEmpty) return seqs.max
    }
    -1L
  }

  /** Highest seq ever allocated in the log: the max of the visible
    * entries and the pruning-surviving high-water, -1 for an empty log.
    * Every entry at or below it was written after the files it names were
    * committed. Writers allocate the next seq from it (under the seq
    * claim); a fresh stream reads it before its snapshot listing and
    * starts its floor there, so its snapshot stands in for those entries.
    *
    * The same listing warns once per table and JVM about pre-sequence
    * entries (root-flat `e_<ts>_*` files, `t<hour>` buckets): readers
    * ignore them, so a checkpoint that had not consumed them must restart
    * fresh to get their rows (from its snapshot).
    */
  private[graft] def streamLogHighSeq(fs: FileSystem, tablePath: String): Long = {
    val logDir = new Path(tablePath, STREAM_LOG)
    val top =
      try fs.listStatus(logDir).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val preSeq = top.exists { st =>
      val n = st.getPath.getName
      if (st.isDirectory) n.length > 1 && n.charAt(0) == 't' && n.drop(1).forall(_.isDigit)
      else n.startsWith("e_")
    }
    if (preSeq && preSequenceLogWarned.add(fs.makeQualified(logDir).toString))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$logDir holds pre-sequence stream-log entries, which no stream " +
          "reads any more: restart streams whose checkpoint predates the " +
          "sequence layout with a fresh checkpoint, whose snapshot covers " +
          "those files.")
    val sIdxs = top.filter(_.isDirectory)
      .map(s => streamBucketIdxOf(s.getPath.getName)).filter(_ >= 0)
    math.max(maxStreamSeq(fs, logDir, sIdxs), readStreamHw(fs, logDir))
  }

  private val preSequenceLogWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Pruning-surviving seq high-water (`_hw` in the log dir): without it,
    * a table idle past retention would have ALL its buckets GC'd, the
    * next writer would restart the sequence at 0, and a standing reader's
    * floor (still at the old high seq) would silently skip every future
    * entry. Read at allocation (seq base = max(maxVisible, hw)) and by a
    * fresh stream's start; written MONOTONICALLY after the claim verify;
    * raised by the GC before a bucket delete. All writes happen under the
    * `.seq_claim` hold.
    */
  private def readStreamHw(fs: FileSystem, logDir: Path): Long =
    try readSmallFile(fs, new Path(logDir, "_hw")).trim.toLong
    catch { case _: java.io.IOException | _: NumberFormatException => -1L }

  private def raiseStreamHw(fs: FileSystem, logDir: Path, seq: Long): Unit =
    if (seq > readStreamHw(fs, logDir))
      try writeSmallFile(fs, new Path(logDir, "_hw"), seq.toString)
      catch { case _: java.io.IOException => () }

  /** Whole-bucket retention GC, lowest bucket first, stopping at the
    * first bucket holding a young entry (buckets fill in seq order, so
    * everything prunable is a prefix). Entry age is the writer-named ts —
    * the same loose contract as before (a stream down longer than
    * retention may miss entries; writer clock skew shifts an entry's
    * pruning time by the skew, never its DELIVERY — floors are
    * seq-based). Runs opportunistically: writers every 64th seq, readers
    * at checkpoint-compaction cadence. Bounded: at most `maxBuckets`
    * bucket listings per call.
    */
  private[graft] def gcStreamLogBuckets(fs: FileSystem, logDir: Path,
      retainMs: Long, maxBuckets: Int = 8): Unit = {
    val now = System.currentTimeMillis()
    val idxs =
      try fs.listStatus(logDir).toSeq.filter(_.isDirectory)
        .map(s => streamBucketIdxOf(s.getPath.getName)).filter(_ >= 0).sorted
      catch { case _: java.io.FileNotFoundException => return }
    var checked = 0
    idxs.iterator.takeWhile(_ => checked < maxBuckets).foreach { idx =>
      checked += 1
      val d = new Path(logDir, s"s$idx")
      val (entries, mtime) =
        try {
          val st = fs.listStatus(d).toSeq.filter(_.isFile)
          (st, fs.getFileStatus(d).getModificationTime)
        } catch { case _: java.io.FileNotFoundException => return }
      val allOld =
        if (entries.isEmpty) now - mtime > retainMs // crashed-mkdirs remnant
        else entries.forall { st =>
          val ts = streamEntryTs(st.getPath.getName)
          ts >= 0 && now - ts > retainMs
        }
      if (!allOld) return // first young bucket: everything above is younger
      // the high-water must cover every pruned seq BEFORE the delete, or
      // a fully-idle-past-retention table would restart its sequence at 0
      // under standing readers' floors
      val maxSeqIn = entries.map(st => streamEntrySeq(st.getPath.getName))
        .filter(_ >= 0).maxOption.getOrElse(-1L)
      if (maxSeqIn >= 0) raiseStreamHw(fs, logDir, maxSeqIn)
      try fs.delete(d, true)
      catch { case _: java.io.IOException => () }
    }
  }

  /** Reader-side opportunistic log GC (covers tables whose writers went
    * away), run at stream start and at the source's checkpoint-compaction
    * cadence: same walk as the writers', but under a NON-BLOCKING claim —
    * skipped when an appender holds the log (its own GC pass covers it).
    *
    * Also heals stale stream-log journals FIRST (round-12 advisor low):
    * the journal heal otherwise runs only on the next WRITE to the table,
    * so an appender that crashed mid-batch (or mid-takeover-redo) on a
    * table that then goes permanently idle would silently lose that
    * batch's entry. The heal runs OUTSIDE the claim —
    * [[healStreamLogJournals]] appends via [[appendStreamLog]], which
    * takes the seq claim itself (holding it here would self-deadlock) —
    * and skips live foreign journals, so a mid-batch appender is never
    * raced.
    */
  def gcExpiredBuckets(spark: SparkSession, tablePath: String): Unit = {
    val fs = fsOf(spark, tablePath)
    try healStreamLogJournals(spark, fs, tablePath)
    catch { case scala.util.control.NonFatal(_) => () } // retried next cycle
    val logDir = new Path(tablePath, STREAM_LOG)
    val claim = new Path(logDir, ".seq_claim")
    val qRoot = fs.makeQualified(new Path(tablePath)).toString
    if (MutationGate.tryClaimExclusive(spark, fs, claim, Some((fs, qRoot))))
      try gcStreamLogBuckets(fs, logDir, streamLogRetainMs(spark))
      finally MutationGate.removeMarker(fs, claim)
  }

  // one appendStreamLog critical section per process per log (the
  // exclusive claim's contract is one claimant per process)
  private val streamLogJvmLocks = new java.util.concurrent.ConcurrentHashMap[
    String, Object]()

  /** How long an appender may keep the seq claim HELD between consecutive
    * batches. Holding amortizes the claim acquire/release AND the seq
    * re-listing across a streaming writer's back-to-back batches (the
    * round-12 verdict's q69-class regression: ~6 small-FS ops per batch);
    * the steady held-path cost is one `.seq_want` stat + the entry write
    * + the ownership verify + the high-water raise. A competing appender
    * signals with the `.seq_want` marker and is yielded to at the
    * holder's next batch — or by the ~1 s idle releaser, whichever fires
    * first — so a writer that stops streaming cannot starve other
    * appenders (or the reader-side GC's non-blocking claim) until process
    * exit. A crashed/paused holder is taken over by the normal staleness
    * arbitration: holding changes nothing there, because the claim's
    * heartbeat stops with the process.
    */
  private[graft] val SeqClaimHoldMs = 2000L

  /** Test-only: acquire and release the seq claim per batch (the round-12
    * behavior), for tests that splice entries into the log between
    * writes — external log surgery a held claim's cached allocation is
    * (correctly) blind to.
    */
  @volatile private[graft] var perBatchClaimsForTests = false

  // held-across-batches seq claims: qualified logDir ->
  // (fs, claim path, next seq, last-used ms)
  private val heldSeqClaims = new java.util.concurrent.ConcurrentHashMap[
    String, (FileSystem, Path, Long, Long)]()

  private def releaseIdleSeqClaims(): Unit =
    heldSeqClaims.forEach { (k, v) =>
      if (System.currentTimeMillis() - v._4 > SeqClaimHoldMs &&
          heldSeqClaims.remove(k, v))
        MutationGate.releaseIfOurs(v._1, v._2)
    }

  /** Tests/probes: force-release every held-across-batches seq claim now
    * (the production path releases on idle via the 500 ms daemon).
    */
  private[graft] def releaseAllSeqClaims(): Unit =
    heldSeqClaims.forEach { (k, v) =>
      if (heldSeqClaims.remove(k, v)) MutationGate.releaseIfOurs(v._1, v._2)
    }

  @volatile private var seqClaimReleaserStarted = false
  private def ensureSeqClaimReleaser(): Unit =
    if (!seqClaimReleaserStarted) synchronized {
      if (!seqClaimReleaserStarted) {
        val ex = java.util.concurrent.Executors
          .newSingleThreadScheduledExecutor { r =>
            val t = new Thread(r, "graft-seq-claim-releaser")
            t.setDaemon(true); t
          }
        ex.scheduleWithFixedDelay(() => releaseIdleSeqClaims(),
          500, 500, java.util.concurrent.TimeUnit.MILLISECONDS)
        seqClaimReleaserStarted = true
      }
    }

  /** One committed-batch entry: file paths, one per line, under the next
    * sequence's bucket. The allocation protocol (all inside the
    * `.seq_claim` exclusive hold):
    *
    *  1. list the log root's `s*` buckets;
    *  2. `seq = maxVisibleSeq + 1` — the entry itself IS the allocation
    *     (no counter file to clobber);
    *  3. write the entry (tmp+rename, atomic appearance);
    *  4. re-verify the claim is still ours. A process paused past
    *     `gate.staleMs` loses the claim to a takeover, and its late entry
    *     may duplicate a successor's seq or sit below the readers' floor
    *     — so on verify failure the whole allocation REDOES under a fresh
    *     claim (the retry entry carries the same file list; the stale
    *     twin is harmless: readers skip processed seqs and dedup by file
    *     path).
    *
    * Entry-write-before-release means verified entries appear in seq
    * order with no gaps (each allocation is its predecessor + 1), which
    * is what makes the reader's contiguous-seq floor exact —
    * clock-free, unlike the pre-round-12 wall-clock floor window.
    * Entries may still OVERLAP across appenders after crash-heals; the
    * source dedups by path. Cost: ~6 small-FS ops on a fresh acquisition;
    * a streaming writer's back-to-back batches keep the claim and the
    * next seq cached ([[SeqClaimHoldMs]]) and pay only the want-stat +
    * entry write + verify + high-water raise. Serialized across the
    * table's appender processes either way.
    *
    * WHY THE READER'S SEQ-KEYED SKIP CANNOT DROP A VERIFIED ENTRY
    * (duplicate-seq twins): a twin at seq N exists only on the takeover
    * path — the paused loser wrote its entry AFTER the successor claimed,
    * allocated N, wrote, and VERIFIED (the loser's verify then fails and
    * it redoes at a fresh seq). Ordering is forced by the protocol: the
    * successor can allocate N only after the loser's claim was taken over
    * (stale), and the loser's twin write happens after its pause — i.e.
    * strictly after the successor's verified entry at N is already
    * visible. So a reader listing seq N either sees the verified entry
    * first (processes it; the later twin is skipped by
    * `processedSeqs.contains(N)` — its files re-arrive via the loser's
    * redo at a fresh seq, or via the journal heal, now also run from the
    * reader-side GC pass) or sees both in one listing (processes one,
    * dedups the other's files by path plus the redo/heal). There is no
    * interleaving where the TWIN is processed in an earlier trigger and
    * the VERIFIED entry at the same seq is then skipped, because the twin
    * cannot exist before the verified entry does. Pinned by
    * CatalogStreamSpec's winner-commits-then-loser-twin case.
    */
  private[graft] def appendStreamLog(spark: SparkSession, fs: FileSystem,
      tablePath: String, files: Seq[String]): Unit = {
    if (files.isEmpty) return
    val logDir = new Path(tablePath, STREAM_LOG)
    val qRoot = fs.makeQualified(new Path(tablePath)).toString
    val qLog = fs.makeQualified(logDir).toString
    val lock = streamLogJvmLocks.computeIfAbsent(qLog, _ => new Object)
    lock.synchronized {
      val claim = new Path(logDir, ".seq_claim")
      val want = new Path(logDir, ".seq_want")
      var committed = false
      while (!committed) {
        // held-across-batches fast path (round 13, [[SeqClaimHoldMs]]):
        // the previous batch kept the claim and the next seq — skip both
        // the acquire and the log re-listing. A competing appender's
        // `.seq_want` yields the hold here; the post-write verify still
        // guards the cached path like any other (a takeover while idle
        // redoes under a fresh claim, the documented twin protocol).
        val cached = Option(heldSeqClaims.remove(qLog)).flatMap {
          case (_, _, next, _) =>
            val wanted =
              try { fs.getFileStatus(want); true }
              catch { case _: java.io.FileNotFoundException => false
                      case _: java.io.IOException => true }
            if (wanted) { MutationGate.releaseIfOurs(fs, claim); None }
            else Some(next)
        }
        if (cached.isEmpty) {
          // acquisition loop that keeps the yield request STANDING: the
          // acquirer consumes `.seq_want` on winning, so a blocked
          // claimExclusive waiter whose one-shot want was consumed by a
          // racing winner would starve under a held claim with
          // back-to-back batches (continuous two-writer liveness) — each
          // loser here re-creates the want within one poll instead, and
          // two continuous writers ALTERNATE batches. A stale want
          // (crashed waiter) cannot pin the log in per-batch mode: the
          // next acquirer consumes it.
          val deadline =
            System.currentTimeMillis() + MutationGate.timeoutMs(spark)
          var won = false
          while (!won) {
            won = MutationGate.tryClaimExclusive(spark, fs, claim,
              Some((fs, qRoot)))
            if (!won) {
              if (System.currentTimeMillis() > deadline)
                throw new IllegalStateException(
                  s"timed out contending for stream-log seq claim $claim")
              val wantAbsent =
                try { fs.getFileStatus(want); false }
                catch { case _: java.io.FileNotFoundException => true
                        case _: java.io.IOException => false }
              if (wantAbsent)
                try writeSmallFile(fs, want, processId)
                catch { case _: java.io.IOException => () }
              Thread.sleep(MutationGate.PollMs)
            }
          }
          try fs.delete(want, false)
          catch { case _: java.io.IOException => () }
        }
        // any failure inside the hold must RELEASE (the claim is
        // heartbeated — a leaked one from a thrown exception would block
        // every other appender for this JVM's lifetime)
        try {
          val seq = cached.getOrElse(streamLogHighSeq(fs, tablePath) + 1)
          writeSmallFile(fs,
            new Path(new Path(logDir, streamLogBucketOf(seq)),
              streamEntryName(seq, System.currentTimeMillis())),
            files.mkString("\n"))
          // a crash here: entry visible, high-water behind by one, claim
          // released by the catch below, journal still pending — the next
          // logging batch heals (re-emits; readers dedup by path)
          crashPoint("write.streamlog.after_entry")
          val stillOurs =
            try MutationGate.parse(fs, fs.getFileStatus(claim))
              .exists(_.owner == processId)
            catch { case _: java.io.IOException => false }
          if (stillOurs) {
            committed = true
            raiseStreamHw(fs, logDir, seq)
            if (seq % 64 == 0)
              gcStreamLogBuckets(fs, logDir, streamLogRetainMs(spark))
            if (!perBatchClaimsForTests) {
              ensureSeqClaimReleaser()
              heldSeqClaims.put(qLog,
                (fs, claim, seq + 1, System.currentTimeMillis()))
            } else MutationGate.removeMarker(fs, claim)
          } else MutationGate.disownMarker(fs, claim) // taken over: redo
        } catch {
          case t: Throwable =>
            MutationGate.releaseIfOurs(fs, claim)
            throw t
        }
      }
    }
  }

  /** Journal the INTENT of a stream-log entry before the batch's write
    * job: touched final dirs + their pre-listing, as the payload of a
    * heartbeated marker under `_graft_stream_log/.pending/`. A crash
    * between the parquet job commit and [[appendStreamLog]] would
    * otherwise leave the batch's committed files permanently absent from
    * the log — the catalog-backed source snapshots only at first start,
    * so a catalog stream would silently diverge from the table (round-10
    * advisor finding). [[healStreamLogJournals]] re-diffs and emits the
    * missing entry on the next logging batch.
    */
  private def journalStreamLog(fs: FileSystem, tablePath: String,
      dirs: Seq[Path], pre: Set[String]): Path = {
    val p = new Path(new Path(tablePath, STREAM_LOG),
      s".pending/j_${System.currentTimeMillis()}_${java.util.UUID.randomUUID().toString.take(8)}")
    MutationGate.createMarker(fs, p, Some(
      (dirs.map(d => s"d:$d") ++ pre.toSeq.sorted.map(f => s"f:$f"))
        .mkString("\n")))
    p
  }

  /** Emit the stream-log entries of crashed (or same-process failed)
    * batches: every `.pending` journal whose owner is this process (the
    * write lock serializes our batches, so an own journal found at batch
    * start is never in flight) or whose heartbeat went stale is re-diffed
    * — current files of the journaled dirs minus the journaled
    * pre-listing — and appended as a normal entry. Over-inclusive is safe
    * (later batches' files carry their own entries; the source dedups by
    * path); a live FOREIGN journal is an appender mid-batch — skipped.
    * Called once per logging batch; one listing of the tiny pending dir.
    */
  private def healStreamLogJournals(spark: SparkSession,
      fs: FileSystem, tablePath: String): Unit = {
    val dir = new Path(new Path(tablePath, STREAM_LOG), ".pending")
    val sts =
      try fs.listStatus(dir).toSeq.filter(_.isFile)
      catch { case _: java.io.FileNotFoundException => return }
    val now = System.currentTimeMillis()
    sts.foreach { st =>
      val m = MutationGate.parse(fs, st)
      val ours = m.exists(_.owner == processId)
      val live = m.exists(_.live(now, MutationGate.staleMs(spark)))
      if (ours || !live) {
        val lines = MutationGate.payloadOf(fs, st.getPath)
          .linesIterator.toSeq
        val dirs = lines.filter(_.startsWith("d:"))
          .map(s => new Path(s.stripPrefix("d:")))
        val pre = lines.filter(_.startsWith("f:"))
          .map(_.stripPrefix("f:")).toSet
        val fresh = dirs.flatMap { d =>
          listDataFilesRec(
            d.getFileSystem(spark.sparkContext.hadoopConfiguration), d)
        }.filterNot(pre)
        appendStreamLog(spark, fs, tablePath, fresh)
        MutationGate.removeMarker(fs, st.getPath)
      }
    }
  }


  // ------------------------------------------------- one logged batch
  // Every writer that commits files a stream must see goes through the
  // same protocol: name the dirs the batch lands in BEFORE its data
  // commit ([[begin]]), finish AFTER it ([[LoggedBatch.commit]]). Nothing
  // else decides how a committed batch reaches tailing streams.

  /** Start a batch whose files will land in `dirs` (evaluated at most
    * once: here when the log is enabled, else at [[LoggedBatch.commit]]
    * if a stream enabled it meanwhile). `logging` is the log-dir probe,
    * passed in by a caller that already made it. While the log is
    * enabled this heals earlier batches' journals (so their files
    * surface before this batch's diff, which would otherwise fold them
    * into its own pre-listing), lists `dirs`, and journals the intent: a
    * crash in the commit-to-entry window heals forward (the next logging
    * batch re-diffs and emits) instead of silently dropping the batch.
    */
  private[graft] def begin(spark: SparkSession, fs: FileSystem,
      tablePath: String)(dirs: => Seq[Path],
      logging: Boolean = streamLogEnabled(fs, tablePath)): LoggedBatch =
    new LoggedBatch(spark, fs, tablePath, () => dirs, logging)

  private[graft] final class LoggedBatch private[StreamLog] (
      spark: SparkSession, fs: FileSystem, tablePath: String,
      dirs: () => Seq[Path], logging: Boolean) {

    private def filesOf(d: Path): Seq[String] =
      listDataFilesRec(d.getFileSystem(spark.sparkContext.hadoopConfiguration), d)

    private val (pre, journal): (Seq[(Path, Set[String])], Option[Path]) =
      if (!logging) (Nil, None)
      else {
        healStreamLogJournals(spark, fs, tablePath)
        val pre = dirs().map(d => d -> filesOf(d).toSet)
        (pre, Some(journalStreamLog(fs, tablePath, pre.map(_._1),
          pre.flatMap(_._2).toSet)))
      }

    /** Append the batch's entry once its data commit is visible: exactly
      * the files that appeared in the dirs since [[begin]], then drop
      * the journal. When the log was enabled WHILE the batch ran (a
      * stream starting concurrently) there is no pre-listing, so every
      * file of the dirs is logged — over-inclusive is safe (the source
      * dedups by path against its snapshot/seen set), silence would lose
      * the batch if the stream's snapshot listed before the commit.
      */
    def commit(): Unit =
      if (logging) {
        appendStreamLog(spark, fs, tablePath,
          pre.flatMap { case (d, before) => filesOf(d).filterNot(before) })
        journal.foreach(MutationGate.removeMarker(fs, _))
      } else if (streamLogEnabled(fs, tablePath))
        appendStreamLog(spark, fs, tablePath, dirs().flatMap(filesOf))
  }

  // ------------------------------------------------------ reader side

  private def fsOf(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (output schema, relation schema, partition cols, the opened handle —
    * reuse it for the snapshot; each fresh open re-resolves the manifest).
    * The relation schema feeds the per-root parquet relation (includes
    * the `_gen` physical column on gen layouts); the output schema is
    * what the stream emits: data + `_chunk` [+ `_space`], no `_gen`.
    */
  def schemas(spark: SparkSession, tablePath: String,
      userSchema: Option[StructType], handle: Option[Hypertable] = None)
      : (StructType, StructType, Seq[String], Hypertable) = {
    val ht = handle.getOrElse(Hypertable.at(spark, tablePath))
    val (out, rel) = userSchema match {
      case Some(s) =>
        (s, if (ht.genLayout && !s.fieldNames.contains("_gen"))
          StructType(s.fields :+ org.apache.spark.sql.types.StructField(
            "_gen", org.apache.spark.sql.types.IntegerType))
        else s)
      case None =>
        val cs = ht.showChunks()
        require(cs.nonEmpty,
          "hypertable has no chunks yet — pass an explicit schema to " +
            "readStream (parquet cannot infer one from an empty table)")
        val c = new Path(cs.head.path)
        val root = Hypertable.storageRootOf(c)
        val rel = spark.read.option("basePath", root.toString)
          .parquet(c.toString).schema
        (StructType(rel.fields.filterNot(_.name == "_gen")), rel)
    }
    val parts = rel.fieldNames.filter(n =>
      n == "_chunk" || n == "_gen" || n.startsWith("_space")).toSeq
    (out, rel, parts, ht)
  }

  /** The log's highest allocated seq (-1 when empty): a fresh stream's
    * starting floor, read before [[snapshotFiles]].
    */
  def logHighSeq(spark: SparkSession, tablePath: String): Long =
    streamLogHighSeq(fsOf(spark, tablePath), tablePath)

  /** One-time initial snapshot: every LIVE chunk's data files, resolved
    * from the manifest (graced/tombstoned generations never listed) —
    * parallel per-chunk listings, the only O(chunks) step in the source's
    * life (first start only; per-trigger work is O(new files)).
    */
  def snapshotFiles(spark: SparkSession, tablePath: String,
      handle: Option[Hypertable] = None): Seq[String] = {
    val ht = handle.getOrElse(Hypertable.at(spark, tablePath))
    // wide parallelism: these are tiny metadata calls (one listStatus per
    // chunk), so the listing is latency-bound, not CPU-bound — 32 threads
    // cut the 10k-chunk snapshot to ~1 s (ScaleProbe stream_start_catalog)
    graft.Par.map(ht.showChunks(), parallelism = 32) { c =>
      val d = new Path(c.path)
      listDataFilesRec(
        d.getFileSystem(spark.sparkContext.hadoopConfiguration), d)
    }.flatten
  }

  /** Pads the source's seen-set age-out past [[streamLogRetainMs]]: a
    * path may be aged out only once no log entry can re-surface it, and
    * entry PRUNING (never delivery, whose floors are seq-based) keys on
    * the writer-named ts — a writer whose clock runs ahead by more than
    * this keeps its entries past the reader's age-out, risking a
    * duplicate re-emission (never a loss).
    */
  val SeenAgeOutPadMs: Long = 600000L

  /** Unprocessed log entries, oldest first, as (name, seq, files), plus
    * the highest seq below the lowest EXISTING bucket (-1 when none):
    * everything at or below it was pruned by retention, which lets the
    * source snap its floor past pruned history.
    *
    * The listing is exact and clock-free: one listStatus of the log root
    * yields the `s<seq/512>` bucket dirs; buckets whose whole seq range
    * is ≤ `floorSeq` are skipped unread (every verified entry in them is
    * processed — the contiguous-floor invariant), and only the frontier
    * buckets are descended into. Within a listed bucket, entries with
    * seq ≤ floorSeq or in `processedSeqs` are skipped.
    *
    * Only `s<idx>` buckets are read: pre-sequence log layouts (root-flat
    * `e_<ts>_*` entries, `t<hour>` buckets) are ignored by readers and
    * writers alike; a NEW checkpoint's initial snapshot covers their
    * files.
    */
  def newLogEntries(spark: SparkSession, tablePath: String,
      floorSeq: Long, processedSeqs: java.util.Set[java.lang.Long])
      : (Seq[(String, Long, Seq[String])], Long) = {
    val fs = fsOf(spark, tablePath)
    val dir = new Path(tablePath, STREAM_LOG)
    val bucketSeqs = STREAM_LOG_BUCKET_SEQS
    val top =
      try fs.listStatus(dir).toSeq
      catch { case _: java.io.FileNotFoundException => return (Nil, -1L) }
    val sIdxs = top.filter(_.isDirectory)
      .map(s => streamBucketIdxOf(s.getPath.getName))
      .filter(_ >= 0)
    val prunedHigh = if (sIdxs.isEmpty) -1L else sIdxs.min * bucketSeqs - 1
    val v2 = sIdxs
      .filter(idx => (idx + 1) * bucketSeqs - 1 > floorSeq) // frontier only
      .flatMap { idx =>
        try fs.listStatus(new Path(dir, s"s$idx")).toSeq.filter(_.isFile)
        catch { case _: java.io.FileNotFoundException => Nil }
      }
      .flatMap { st =>
        val name = st.getPath.getName
        val seq = streamEntrySeq(name)
        if (seq < 0 || seq <= floorSeq || processedSeqs.contains(seq)) None
        else
          try Some((name, seq, readSmallFile(fs, st.getPath)
            .linesIterator.filter(_.nonEmpty).toSeq))
          catch { case _: java.io.IOException => None } // racing writer/prune
      }
    (v2.sortBy(e => (e._2, e._1)), prunedHigh)
  }
}
