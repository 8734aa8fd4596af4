package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Reader-epoch registration: makes grace-based GC of superseded content
  * EXACT for live readers instead of purely wall-clock (SCALE.md §15/§18).
  * One registry serves both users of [[GenStore]], keyed by root: the raw
  * hypertable (registered by the public read surfaces — `read`,
  * `between`, `orderedRead`, `whereTimeIn` — in every storage root they
  * may plan from) and the cagg materialization (registered by
  * `ContinuousAggregate.readMatLive` and `CaggSource.timeBounds` at the
  * cagg root). [[GenStore.gcChunkDir]] consults it, with GenStore's
  * grace, before reaping a graced-out SUPERSEDED generation or
  * tombstoned chunk dir. Crash remnants, stale tmps and bare shells
  * were never snapshot-live and stay grace-only. The protocol:
  *
  *  - before reading the snapshot it will plan from (mat catalog / chunk
  *    manifest), a reader registers an epoch (ts = now) and — when this
  *    process had no standing epoch for the root — synchronously writes
  *    `<root>/_graft_readers/r_<processId>` whose body is the oldest active
  *    epoch ts of this process. Order matters: the file is on disk BEFORE
  *    the snapshot read, so any dir the reader can plan (live in the
  *    snapshot it then reads) is only retired by a LATER write, whose
  *    retire-ts is ≥ the epoch ts and therefore blocked.
  *  - the epoch's lifetime is tied to the planned scan's REACHABILITY
  *    ([[Epoch.attach]] keeps weak references): as long as the plan could
  *    be (re-)executed the epoch stands; once collected, the next sweep
  *    drops it. No explicit "read finished" signal exists for a
  *    DataFrame, and reachability is the conservative superset.
  *  - one daemon heartbeats each registered file every
  *    [[heartbeatMs]] (rewriting it — fresh mtime, body = min active ts)
  *    and deletes it when the last epoch of a root is gone; a JVM
  *    shutdown hook best-effort deletes all files. A root deleted out
  *    from under a standing epoch (dropped table) drops the set rather
  *    than resurrecting the directory.
  *  - GC side: a retired dir is deletable only when its grace expired AND
  *    no LIVE epoch file (mtime within `…StaleMs` of the
  *    `spark.graft.gc.epoch` prefix) carries a ts ≤ retire-ts +
  *    `…SkewMs`. A crashed reader's file stops
  *    heartbeating and goes stale, restoring the plain grace contract;
  *    the skew pad makes cross-process clock skew degrade toward
  *    over-retention, never under.
  *
  * Bounds: one epoch entry per DISTINCT planned scan (weak-keyed,
  * earliest ts wins), one file per (process, root). A standing process
  * holding a plan forever (e.g. a version-memoized scan of an idle
  * handle) must not block GC indefinitely, so an epoch stops protecting
  * after `…MaxMs` (default 1 h) — past that, the documented
  * contract reverts to "raise the grace above the longest read".
  */
private[graft] object ReaderEpochs {

  private[graft] val DIR = "_graft_readers"
  private val confPrefix = "spark.graft.gc.epoch"

  private[graft] def heartbeatMs: Long = 10000L

  private[graft] def staleMs(spark: SparkSession): Long =
    spark.conf.get(s"${confPrefix}StaleMs", "60000").toLong

  private[graft] def skewMs(spark: SparkSession): Long =
    spark.conf.get(s"${confPrefix}SkewMs", "60000").toLong

  private[graft] def maxMs(spark: SparkSession): Long =
    spark.conf.get(s"${confPrefix}MaxMs", "3600000").toLong

  /** One root's registered epochs in this process: planned-scan holder ->
    * registration ts, weak-keyed so a collected plan drops out.
    */
  private final class EpochSet(val fs: FileSystem, val dir: Path,
      val spark: SparkSession) {
    val entries = new java.util.WeakHashMap[AnyRef, java.lang.Long]()
  }

  // qualified epoch-dir path -> set; the daemon sweeps this map
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, EpochSet]()

  private def fileOf(set: EpochSet): Path =
    new Path(set.dir, s"r_${Hypertable.processId}")

  /** Oldest still-protecting ts of the set, dropping capped entries.
    * None when no live entry remains (caller deletes the file).
    */
  private def minTs(set: EpochSet): Option[Long] = {
    val cap = System.currentTimeMillis() - maxMs(set.spark)
    set.entries.synchronized {
      import scala.jdk.CollectionConverters._
      val ts = set.entries.values.asScala.map(_.longValue).filter(_ >= cap)
      if (ts.isEmpty) None else Some(ts.min)
    }
  }

  private def writeFile(set: EpochSet, ts: Long): Unit =
    try Hypertable.writeSmallFile(set.fs, fileOf(set), ts.toString)
    catch { case _: java.io.IOException => () } // advisory: grace floor stands

  private def dropFile(set: EpochSet): Unit =
    try { set.fs.delete(fileOf(set), false); () }
    catch { case _: java.io.IOException => () }

  /** An in-flight registration. From [[begin]] it sits in the set keyed
    * by ITSELF (weak — an abandoned Epoch, e.g. the snapshot read threw,
    * auto-drops once unreachable), so a sweep between begin and attach
    * cannot see an empty set and delete the epoch file mid-plan;
    * [[attach]] re-keys it to the planned scan, [[cancel]] discards it
    * (nothing was planned). [[attachPlan]] is the standard holder set for
    * a DataFrame: derived frames retain the analyzed plan NODES (not the
    * Dataset wrapper), and re-analysis of a derived tree can copy
    * interior nodes while the resolved LEAF relations survive — any one
    * surviving holder keeps the epoch.
    */
  private[graft] final class Epoch private[ReaderEpochs] (set: EpochSet,
      ts: Long) {
    def attach(holder: AnyRef): Unit = set.entries.synchronized {
      set.entries.remove(this)
      val prev = set.entries.get(holder)
      if (prev == null || prev.longValue > ts)
        set.entries.put(holder, java.lang.Long.valueOf(ts))
      ()
    }
    def attachPlan(df: org.apache.spark.sql.DataFrame): Unit = {
      val analyzed = df.queryExecution.analyzed
      attach(analyzed)
      analyzed.collectLeaves().foreach(attach)
      attach(df)
    }
    def cancel(): Unit = set.entries.synchronized {
      set.entries.remove(this); ()
    }
  }

  /** Register an epoch for a read under `root` — call BEFORE reading the
    * snapshot the plan resolves from. Synchronously writes the epoch file
    * only when this process has no standing (earlier) epoch for the root;
    * otherwise the standing heartbeat already covers this ts.
    */
  private[graft] def begin(spark: SparkSession, fs: FileSystem,
      root: Path): Epoch = {
    val dir = new Path(root, DIR)
    val key = fs.makeQualified(dir).toString
    val set = registry.computeIfAbsent(key, _ => new EpochSet(fs, dir, spark))
    startSweeper()
    val ts = System.currentTimeMillis()
    val standing = minTs(set)
    val epoch = new Epoch(set, ts)
    set.entries.synchronized {
      set.entries.put(epoch, java.lang.Long.valueOf(ts)); ()
    }
    if (standing.isEmpty) writeFile(set, ts)
    epoch
  }

  /** One sweep: heartbeat every set with live entries (fresh mtime, body
    * = min active ts), delete the file and registry entry of emptied
    * sets. A set whose ROOT vanished (dropped table / reaped temp dir) is
    * dropped instead of heartbeated — rewriting would resurrect the
    * directory. Exposed for tests.
    */
  private[graft] def sweepNow(): Unit = {
    val it = registry.entrySet().iterator()
    while (it.hasNext) {
      val set = it.next().getValue
      minTs(set) match {
        case Some(ts) =>
          val rootGone =
            try !set.fs.exists(set.dir.getParent)
            catch { case _: java.io.IOException => false }
          if (rootGone) it.remove() else writeFile(set, ts)
        case None => dropFile(set); it.remove()
      }
    }
  }

  /** Tests: drop every registered epoch (as if all plans were collected)
    * and sweep — epoch files disappear, GC returns to the grace floor.
    */
  private[graft] def expireAll(): Unit = {
    val it = registry.values().iterator()
    while (it.hasNext) {
      val set = it.next()
      set.entries.synchronized { set.entries.clear() }
    }
    sweepNow()
  }

  @volatile private var sweeperStarted = false
  private def startSweeper(): Unit =
    if (!sweeperStarted) synchronized {
      if (!sweeperStarted) {
        val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor {
          r =>
            val t = new Thread(r, "graft-reader-epochs")
            t.setDaemon(true); t
        }
        ex.scheduleWithFixedDelay(() => sweepNow(),
          heartbeatMs, heartbeatMs, java.util.concurrent.TimeUnit.MILLISECONDS)
        Runtime.getRuntime.addShutdownHook(new Thread(() => {
          val it = registry.values().iterator()
          while (it.hasNext) dropFile(it.next())
        }, "graft-reader-epochs-shutdown"))
        sweeperStarted = true
      }
    }

  /** GC side: the oldest ts any LIVE foreign-or-local epoch file under
    * `root` protects — a retired dir with retire-ts ≥ (this − skew) must
    * be kept. `Long.MaxValue` when no live epoch exists. Also reaps
    * long-dead epoch files (mtime older than `…MaxMs` — a live
    * reader's file is heartbeated every [[heartbeatMs]], so nothing that
    * old can belong to one; reaping at the much-larger cap instead of
    * `…StaleMs` keeps a delete from racing a fresh heartbeat
    * rewrite).
    */
  private[graft] def liveFloor(spark: SparkSession, fs: FileSystem,
      root: Path): Long = {
    val dir = new Path(root, DIR)
    val now = System.currentTimeMillis()
    val stale = staleMs(spark)
    val reapAge = maxMs(spark)
    val sts =
      try fs.listStatus(dir).toSeq.filter(st =>
        st.isFile && st.getPath.getName.startsWith("r_"))
      catch { case _: java.io.IOException => return Long.MaxValue }
    sts.foldLeft(Long.MaxValue) { (acc, st) =>
      val age = now - st.getModificationTime
      if (age > reapAge) {
        try fs.delete(st.getPath, false)
        catch { case _: java.io.IOException => () }
        acc
      } else if (age > stale) acc
      else {
        // unreadable/garbled body: treat as protecting everything — the
        // stale window bounds how long, and over-retention is the safe
        // direction
        val ts =
          try Hypertable.readSmallFile(fs, st.getPath).trim.toLong
          catch {
            case _: java.io.IOException | _: NumberFormatException => 0L
          }
        math.min(acc, ts)
      }
    }
  }
}
