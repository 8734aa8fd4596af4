package graft.tools

import org.apache.spark.sql.functions._

import graft.sources.Hypertable

/** Second-PROCESS driver for the real cross-JVM isolation specs
  * (RealProcessIsolationSpec): a genuinely separate JVM with its own
  * SparkSession, exercising the mutator lease and reader snapshot
  * isolation against a table another process owns. This is the
  * reference's `test/isolation/` model — real concurrent sessions —
  * which the same-JVM simulations in CrashRecoverySpec/ConcurrencySpec
  * cannot fully prove (their locks and held markers are JVM-global).
  *
  * Modes (argv):
  *  - `mutate <table>` — attempt one updateWhere. Prints `MUTATED <n>`
  *    (exit 0) or `REFUSED <message>` (exit 3, the lease refusal).
  *  - `read-loop <table> <iters>` — pure reader: re-opens the handle and
  *    re-counts `iters` times while the parent process churns pure
  *    rewrites (compress/decompress). Snapshot isolation promises every
  *    count equals the first; prints `READS_OK <count>` (exit 0) or
  *    `INCONSISTENT ...` (exit 4).
  *  - `hold <table> <ms>` — mutate once (claiming the lease), print
  *    `HELD <owner>`, keep the process (and its heartbeat daemon) alive
  *    for `ms`, then exit gracefully (the shutdown hook releases the
  *    lease). The parent asserts ITS mutations are refused while this
  *    runs — the mirror direction of `mutate`.
  *
  * Output protocol is line-oriented on stdout; the spec asserts on the
  * exit code first and the lines second.
  */
object IsolationChild {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val table = args(1)
    val spark = graft.Graft.session("graft-isolation-child", "local[2]", 4)
    spark.sparkContext.setLogLevel("WARN")
    var code = 0
    try {
      mode match {
        case "mutate" =>
          val ht = Hypertable.at(spark, table)
          try {
            val n = ht.updateWhere(col("event_id") === 1,
              Map("value" -> lit(0.0)))
            println(s"MUTATED $n")
          } catch {
            case e: IllegalStateException =>
              println(s"REFUSED ${e.getMessage}")
              code = 3
          }
        case "read-loop" =>
          val iters = args(2).toInt
          val first = Hypertable.at(spark, table).read().count()
          var i = 1
          while (i < iters && code == 0) {
            // a fresh handle per read: each one re-resolves the manifest,
            // so this exercises the cross-process snapshot contract, not
            // a memoized plan
            val c = Hypertable.at(spark, table).read().count()
            if (c != first) {
              println(s"INCONSISTENT $c != $first at iteration $i")
              code = 4
            }
            i += 1
          }
          if (code == 0) println(s"READS_OK $first")
        case "hold" =>
          val ms = args(2).toLong
          val ht = Hypertable.at(spark, table)
          ht.updateWhere(col("event_id") === 1, Map("value" -> lit(1.0)))
          println(s"HELD ${Hypertable.processId}")
          System.out.flush()
          Thread.sleep(ms) // the heartbeat daemon keeps the lease fresh
          println("DONE")
        case "policy" =>
          // columnstore-policy churn for the lease-split spec: claim the
          // EXCLUSIVE lease, then compress+decompress chunks in rounds
          // until the parent drops the stop marker. Any refusal (the
          // pre-split behavior) exits 3; the parent's concurrent appends
          // must never be refused either.
          val stopMarker = new java.io.File(args(2))
          val maxMs = args(3).toLong
          // optional cap on chunks churned per round (ScaleProbe's
          // append-under-churn measurement at 10⁴-chunk width)
          val maxChunks = if (args.length > 4) args(4).toInt else Int.MaxValue
          val opts = graft.sources.Columnstore.Options(orderBy = Seq("ts"))
          try {
            // claim the exclusive lease up front — directly, not via a
            // no-hit DML probe: at 10⁴-chunk width (ScaleProbe's
            // append-under-churn measurement) a whole-table probe scan
            // would take minutes before the first round
            val tfs = new org.apache.hadoop.fs.Path(table)
              .getFileSystem(spark.sparkContext.hadoopConfiguration)
            Hypertable.acquireMutatorLease(spark, tfs,
              tfs.makeQualified(new org.apache.hadoop.fs.Path(table)).toString)
            println(s"POLICY_START ${Hypertable.processId}")
            System.out.flush()
            var rounds = 0
            val deadline = System.currentTimeMillis() + maxMs
            while (!stopMarker.exists() &&
                System.currentTimeMillis() < deadline) {
              val cs = Hypertable.at(spark, table).showChunks()
                .take(maxChunks)
              cs.foreach { c =>
                graft.sources.Columnstore.compressChunk(spark, c.path, opts)
                val c2 = Hypertable.at(spark, table).showChunks()
                  .find(_.startMicros == c.startMicros).get
                graft.sources.Columnstore.decompressChunk(spark, c2.path)
              }
              rounds += 1
              println(s"ROUND $rounds")
              System.out.flush()
            }
            println(s"POLICY_OK $rounds")
          } catch {
            case e: IllegalStateException =>
              println(s"POLICY_REFUSED ${e.getMessage}")
              code = 3
          }
        case "append-loop" =>
          // cross-process appender: write `batches` slices of
          // event_id % 5 == (offset + i) — offsets keep several appender
          // PROCESSES (and the parent's seed slice) disjoint, so
          // exactly-once is assertable by id distinctness
          val batches = args(2).toInt
          val offset = if (args.length > 3) args(3).toInt else 0
          val ht = Hypertable.at(spark, table)
          val events = graft.Tables.table(spark,
            "/root/testdata/sf0.001", "events")
          (offset until offset + batches).foreach { k =>
            ht.write(events.where(pmod(col("event_id"), lit(5)) === k))
            println(s"APPENDED $k")
            System.out.flush()
          }
          println("APPEND_DONE")
        case "cagg-refresh" =>
          // cagg_concurrent_refresh.spec port: re-open the cagg (create is
          // an idempotent re-open with the same definition) and run
          // FORCED whole-window refreshes racing the parent process's
          // ingest+refresh. The cross-process refresh lock must
          // serialize the mat-chunk swaps; a torn swap surfaces here as
          // an exception (exit 7) or in the parent's convergence check.
          val htPath = args(2)
          val iters = args(3).toInt
          val ht = Hypertable.at(spark, htPath)
          val defn = graft.streaming.CaggDef("1 hour", Seq("event_type"),
            Seq(count(lit(1)).as("n")))
          val cagg = graft.streaming.ContinuousAggregate.create(
            spark, table, ht, defn)
          try {
            (1 to iters).foreach { i =>
              cagg.refreshAll(force = true)
              println(s"CAGG_ROUND $i")
              System.out.flush()
            }
            println("CAGG_OK")
          } catch {
            case e: Exception =>
              println(s"CAGG_FAIL ${e.getMessage}")
              code = 7
          }
        case "cagg-read-loop" =>
          // cagg invalidation isolation reader (the SELECT role of
          // tsl/test/isolation/specs/cagg_drop_chunks_iso.spec and the
          // invalidation-log txn dance, tsl/src/continuous_aggs/
          // invalidation.c): while one process ingests LATE rows and
          // another force-refreshes, every REALTIME read must count each
          // row exactly once. A bucket counted both materialized AND live
          // (a torn seam mid-swap) shows up as realtime > a raw read
          // taken AFTER it (append-only ingest: raw-after ≥ anything the
          // realtime snapshot could legally contain); a swap that loses
          // rows shows up as a bucket count shrinking below an earlier
          // read (counts are monotone under append-only + repair).
          val htPath = args(2)
          val iters = args(3).toInt
          val prev = scala.collection.mutable.Map[(String, String), Long]()
          // cagg_watermark_concurrent_update.spec.in's reader invariant:
          // the watermark another process's refreshes advance must never
          // RECEDE from a concurrent session's view (a torn watermark
          // write, or a refresh publishing an older seam, would shrink
          // the materialized span a realtime read trusts)
          var prevWm = Long.MinValue
          var i = 0
          while (i < iters && code == 0) {
            val ht = Hypertable.at(spark, htPath)
            val defn = graft.streaming.CaggDef("1 hour", Seq("event_type"),
              Seq(count(lit(1)).as("n")))
            val cagg = graft.streaming.ContinuousAggregate.create(
              spark, table, ht, defn)
            val rt = cagg.realtime
              .select(col("bucket").cast("string"), col("event_type"),
                col("n"))
              .collect()
              .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
              .toMap
            val raw = ht.read()
              .groupBy(graft.functions.time_bucket("1 hour", col("ts"))
                .as("bucket"), col("event_type"))
              .agg(count(lit(1)).as("n"))
              .select(col("bucket").cast("string"), col("event_type"),
                col("n"))
              .collect()
              .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
              .toMap
            rt.foreach { case (k, n) =>
              if (n > raw.getOrElse(k, 0L)) {
                println(s"DOUBLE_COUNT $k realtime=$n " +
                  s"raw=${raw.getOrElse(k, 0L)} at iteration $i")
                code = 8
              } else if (n < prev.getOrElse(k, 0L)) {
                println(s"SHRUNK $k $n < ${prev(k)} at iteration $i")
                code = 8
              }
              prev(k) = math.max(prev.getOrElse(k, 0L), n)
            }
            val wm = cagg.watermark
            if (wm < prevWm) {
              println(s"WM_RECEDED $wm < $prevWm at iteration $i")
              code = 8
            }
            prevWm = math.max(prevWm, wm)
            println(s"CAGG_READ $i")
            System.out.flush()
            i += 1
          }
          if (code == 0) println(s"CAGG_READS_OK $iters")
        case "cagg-repair-loop" =>
          // the refresh role of cagg_drop_chunks_iso's DROP arm
          // (tsl/test/isolation/specs/cagg_drop_chunks_iso.spec): process
          // repair-refreshes the cagg's PENDING invalidations in a loop
          // while the parent drops RAW chunks (whose drop logs the
          // removed ranges — src/chunk.c:4064-4101) and a third process
          // reads the realtime view. The invalidation-log snapshot cut
          // must neither lose a logged range nor double-apply one.
          val htPath = args(2)
          val iters = args(3).toInt
          val ht = Hypertable.at(spark, htPath)
          val defn = graft.streaming.CaggDef("1 hour", Seq("event_type"),
            Seq(count(lit(1)).as("n")))
          val cagg = graft.streaming.ContinuousAggregate.create(
            spark, table, ht, defn)
          try {
            (1 to iters).foreach { i =>
              cagg.refreshInvalidated()
              println(s"CAGG_REPAIR $i")
              System.out.flush()
              Thread.sleep(300)
            }
            println("CAGG_REPAIR_OK")
          } catch {
            case e: Exception =>
              println(s"CAGG_REPAIR_FAIL ${e.getMessage}")
              code = 7
          }
        case "cagg-read-drop" =>
          // the SELECT role of cagg_drop_chunks_iso's DROP arm: with NO
          // ingest anywhere, every realtime bucket count is ALL-OR-NOTHING
          // through a raw drop_chunks + repair — each (bucket, key) shows
          // its original value until the repair refresh re-materializes
          // the dropped range from the (now empty) raw side, after which
          // it is absent; a partial count is a torn read, a reappearance
          // is a double-apply of the cut invalidation.
          val htPath = args(2)
          val iters = args(3).toInt
          val first = scala.collection.mutable.Map[(String, String), Long]()
          val dead = scala.collection.mutable.Set[(String, String)]()
          var i = 0
          while (i < iters && code == 0) {
            val ht = Hypertable.at(spark, htPath)
            val defn = graft.streaming.CaggDef("1 hour", Seq("event_type"),
              Seq(count(lit(1)).as("n")))
            val cagg = graft.streaming.ContinuousAggregate.create(
              spark, table, ht, defn)
            val rt = cagg.realtime
              .select(col("bucket").cast("string"), col("event_type"),
                col("n"))
              .collect()
              .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
              .toMap
            rt.foreach { case (k, n) =>
              first.get(k) match {
                case None => first(k) = n
                case Some(orig) if dead(k) =>
                  println(s"RESURRECTED $k=$n at iteration $i")
                  code = 9
                case Some(orig) if n != orig =>
                  println(s"TORN $k $n != original $orig at iteration $i")
                  code = 9
                case _ => ()
              }
            }
            first.keys.filterNot(rt.contains).foreach(k => dead += k)
            println(s"CAGG_DROP_READ $i")
            System.out.flush()
            i += 1
            Thread.sleep(250)
          }
          if (code == 0) println(s"CAGG_DROP_READS_OK $iters")
        case "slow-read" =>
          // raw-hypertable reader-epoch exactness (ReaderEpochs):
          // plan a read, hold it PAST the parent's gc.graceMs while the
          // parent rewrites a chunk (superseding the planned generation)
          // and runs the GC walk, then execute the plan — the epoch this
          // process registered at plan time must keep every planned file
          // on disk, so both collects agree exactly.
          val signalFile = new java.io.File(args(2))
          val ht = Hypertable.at(spark, table)
          val planned = ht.read()
          def snap() = {
            val r = planned.agg(count(lit(1)), sum(col("event_id")))
              .collect()(0)
            (r.getLong(0), r.getLong(1))
          }
          val before = snap()
          println(s"RAW_PLANNED ${before._1}")
          System.out.flush()
          val holdDeadline = System.currentTimeMillis() + 120000L
          while (!signalFile.exists() &&
              System.currentTimeMillis() < holdDeadline)
            Thread.sleep(200)
          try {
            val after = snap()
            if (after == before) println(s"SLOW_RAW_OK ${after._1}")
            else {
              println(s"SLOW_RAW_CHANGED $after != $before")
              code = 9
            }
          } catch {
            case e: Exception =>
              println(s"SLOW_RAW_FAIL ${e.getMessage}")
              code = 9
          }
        case "cagg-slow-read" =>
          // reader-epoch exactness (ReaderEpochs): plan a materialized
          // read, hold it PAST the parent's gc.graceMs while the parent
          // refreshes (retiring the planned generations) and runs GC,
          // then execute the plan — the epoch this process registered at
          // plan time must keep every planned file on disk, so both
          // collects agree exactly. Without epochs this is the documented
          // Delta-vacuum-class loss: the second collect throws or shrinks.
          val htPath = args(2)
          val signalFile = new java.io.File(args(3))
          val ht = Hypertable.at(spark, htPath)
          val defn = graft.streaming.CaggDef("1 hour", Seq("event_type"),
            Seq(count(lit(1)).as("n")))
          val cagg = graft.streaming.ContinuousAggregate.create(
            spark, table, ht, defn)
          val planned = cagg.materialized // plans + registers the epoch
          val before = planned.collect().map(_.toString).sorted.toSeq
          println(s"MAT_PLANNED ${before.length}")
          System.out.flush()
          // hold the plan until the parent has refreshed + GC'd (signal
          // file), bounded so a crashed parent can't hang the child
          val holdDeadline = System.currentTimeMillis() + 120000L
          while (!signalFile.exists() &&
              System.currentTimeMillis() < holdDeadline)
            Thread.sleep(200)
          try {
            val after = planned.collect().map(_.toString).sorted.toSeq
            if (after == before) println(s"SLOW_READ_OK ${after.length}")
            else {
              println(s"SLOW_READ_CHANGED ${after.length} != ${before.length}")
              code = 9
            }
          } catch {
            case e: Exception =>
              println(s"SLOW_READ_FAIL ${e.getMessage}")
              code = 9
          }
        case "read-snapshot" =>
          // three-way isolation reader (compression_ddl_iso.spec's SELECT
          // role): while ANOTHER process appends and a THIRD runs
          // compress/decompress churn, every fresh-handle read must be a
          // consistent snapshot — no row ever twice (a torn generation
          // listing duplicates), and the visible rowset never shrinks
          // (append-only history; rewrites are row-preserving)
          val iters = args(2).toInt
          var prev = -1L
          var i = 0
          while (i < iters && code == 0) {
            val r = Hypertable.at(spark, table).read()
              .agg(count(lit(1)), countDistinct(col("event_id")))
              .collect()(0)
            val (n, d) = (r.getLong(0), r.getLong(1))
            if (n != d) {
              println(s"SNAP_DUP $n rows vs $d distinct at iteration $i")
              code = 6
            } else if (n < prev) {
              println(s"SNAP_SHRUNK $n < $prev at iteration $i")
              code = 6
            }
            prev = math.max(prev, n)
            i += 1
          }
          if (code == 0) println(s"SNAP_OK $prev")
        case "read-expect" =>
          // read_committed_insert port (test/isolation/specs/
          // read_committed_insert.spec): a FRESH session must see exactly
          // the rows every committed insert produced — no fewer (lost
          // commit), no more (torn/partial batch).
          val expected = args(2).toLong
          val got = Hypertable.at(spark, table).read().count()
          if (got == expected) println(s"COUNT_OK $got")
          else { println(s"COUNT_MISMATCH $got != $expected"); code = 5 }
        case other =>
          System.err.println(s"unknown mode $other")
          code = 2
      }
    } finally {
      System.out.flush()
      spark.stop()
    }
    sys.exit(code)
  }
}
