package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Columnstore, Hypertable}

/** Crash-POINT fuzz: seeded random maintenance/ingest sequences with a
  * process kill injected BETWEEN publish steps (staged write / content
  * stamp / superseded stamp / tombstone / manifest sync — the
  * [[Hypertable.crashPoint]] boundaries), then a simulated restart
  * (fresh handle + settle write) and a MULTISET rowset check against the
  * only states a crash at that boundary may legally leave:
  *
  *  - row-preserving rewrites (compress/decompress/merge/split): the
  *    multiset must be EXACTLY the pre-state — a crashed rewrite may
  *    never lose a row or surface one twice (torn merge/split windows
  *    are the classic failure here);
  *  - DELETE: per-chunk all-or-nothing — every non-victim keeps its
  *    count, every victim is present or absent;
  *  - drop_chunks: the missing rows must be exactly a union of whole
  *    candidate-chunk rowsets;
  *  - write: pre ⊆ got ⊆ pre ∪ slice (job commit is the atomicity unit;
  *    an unhealed rebirth's rows may legally normalize dead — unacked).
  *
  * After a crash the fuzz CONTINUES from the observed state, so heals
  * compose across the remaining ops. Complements MaintenanceFuzzSpec
  * (crash-free sequences) and CrashRecoverySpec (curated crash states).
  * `SPARK_GRAFT_CRASH_FUZZ_SEEDS` scales the seed count (default 10;
  * the round-10 evidence run used 200 — SCALE.md §14).
  */
class CrashPointFuzzSpec extends AnyFunSuite {
  lazy val spark = Graft.session("crash-fuzz-spec", "local[4]", 4)

  private lazy val events =
    Tables.table(spark, "/root/testdata/sf0.001", "events").cache()

  private def counts(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.groupBy("event_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Arm the hook: throw at the `target`-th crash-point call of this op. */
  private def arm(target: Int): java.util.concurrent.atomic.AtomicBoolean = {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    Hypertable.crashHook = name => {
      if (calls.getAndIncrement() == target) {
        fired.set(true)
        throw new Hypertable.InjectedCrash(name)
      }
    }
    fired
  }

  private def disarm(): Unit = Hypertable.crashHook = _ => ()

  private def injected(t: Throwable): Boolean = pointOf(t).isDefined

  private def pointOf(t: Throwable): Option[String] = {
    var c: Throwable = t
    while (c != null) {
      c match {
        case ic: Hypertable.InjectedCrash => return Some(ic.point)
        case _ => ()
      }
      c = c.getCause
    }
    None
  }

  private def runSeed(seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val dir = Files.createTempDirectory(s"graft_crashfuzz_$seed").toString
    try {
      var ht = Hypertable.create(spark, s"$dir/ht", "ts",
        chunkWidth = "7 days", catalog = "table")
      ht.attachTablespace(s"$dir/cold")
      def slice(k: Int) = events.where(pmod(col("event_id"), lit(4)) === k)
      ht.write(slice(0))
      var expected: Map[Long, Long] = counts(slice(0))
      var unwritten = rnd.shuffle(List(1, 2, 3))
      val trace = new StringBuilder
      val opts = Columnstore.Options(orderBy = Seq("ts"))

      (1 to 10).foreach { i =>
        val cs = ht.showChunks().sortBy(_.startMicros)
        val pre = expected
        // candidate whole-chunk rowsets for the drop acceptance check
        def chunkIds(c: graft.sources.ChunkInfo): Set[Long] =
          spark.read.parquet(c.path).select("event_id").collect()
            .map(_.getLong(0)).toSet
        var acceptable: Map[Long, Long] => Boolean = got => got == pre
        var post: Map[Long, Long] = pre
        val crash = rnd.nextInt(10) < 6
        val fired = if (crash) arm(rnd.nextInt(4))
          else { disarm(); new java.util.concurrent.atomic.AtomicBoolean(false) }
        val branch = rnd.nextInt(10)
        val name = try {
          branch match {
            case 0 if unwritten.nonEmpty =>
              val k = unwritten.head
              // consumed even on a crash: the slice may have (partially)
              // committed, and a blind re-append would duplicate it —
              // the caller-retry contract is dedupe-or-don't, so the
              // fuzz models the "don't" side and continues from the
              // observed state
              unwritten = unwritten.tail
              val ids = counts(slice(k))
              post = pre ++ ids
              acceptable = got => got.forall { case (id, n) =>
                n == 1 && (pre.contains(id) || ids.contains(id)) } &&
                pre.keySet.subsetOf(got.keySet)
              ht.write(slice(k))
              s"write($k)"
            case 1 if cs.nonEmpty =>
              val c = cs(rnd.nextInt(cs.size))
              Columnstore.compressChunk(spark, c.path, opts); "compress"
            case 2 if cs.nonEmpty =>
              val c = cs(rnd.nextInt(cs.size))
              Columnstore.decompressChunk(spark, c.path); "decompress"
            case 3 =>
              val pairs = cs.sliding(2).filter {
                case Seq(a, b) => a.endMicros == b.startMicros
                case _ => false
              }.toSeq
              if (pairs.isEmpty) "merge(skip)"
              else {
                val Seq(a, b) = pairs(rnd.nextInt(pairs.size)): @unchecked
                ht.mergeChunks(a.startMicros, b.startMicros); "merge"
              }
            case 4 if cs.nonEmpty =>
              val c = cs(rnd.nextInt(cs.size))
              if (c.endMicros - c.startMicros >= 2) {
                ht.splitChunk(c.startMicros); "split"
              } else "split(skip)"
            case 6 if cs.nonEmpty =>
              // row-preserving recompress dispatch: segmentwise (the
              // stage+stamp per-leaf swap) when the chunk is partial,
              // full compression when raw — both must heal to exactly
              // the pre multiset from any injected boundary
              val c = cs(rnd.nextInt(cs.size))
              Columnstore.recompressChunk(spark, c.path, opts)
              "recompress"
            case 5 =>
              val k = rnd.nextInt(53)
              val victims = pre.keySet.filter(id => math.floorMod(id, 53) == k)
              post = pre -- victims
              acceptable = got =>
                (pre -- victims).forall { case (id, n) => got.get(id).contains(n) } &&
                got.forall { case (id, n) =>
                  pre.get(id).contains(n) &&
                    (got.keySet -- (pre.keySet -- victims)).subsetOf(victims) }
              ht.deleteWhere(pmod(col("event_id"), lit(53)) === k)
              s"delete($k)"
            case 7 if cs.nonEmpty =>
              // row-preserving relocation: the chunk travels whole
              val c = cs(rnd.nextInt(cs.size))
              if (c.path.contains("/cold/")) {
                ht.moveChunk(c.startMicros, None); "move(home)"
              } else {
                ht.moveChunk(c.startMicros, Some(s"$dir/cold")); "move(cold)"
              }
            case 8 if cs.nonEmpty =>
              // whole-chunk compaction (row-preserving; -1 = already
              // compact; partial-chunk refusals surface as refused())
              Columnstore.compactChunk(spark, cs(rnd.nextInt(cs.size)).path)
              "compact"
            case _ if cs.size > 2 =>
              val end = cs.head.endMicros
              val droppable = cs.filter(_.endMicros <= end).map(chunkIds)
              post = pre -- droppable.flatten
              acceptable = got => {
                val missing = pre.keySet -- got.keySet
                got.forall { case (id, n) => pre.get(id).contains(n) } &&
                  // missing = a union of complete candidate-chunk rowsets
                  droppable.forall(s =>
                    s.subsetOf(missing) || s.intersect(missing).isEmpty) &&
                  missing.subsetOf(droppable.flatten.toSet)
              }
              ht.dropChunks(Some(end), None)
              "drop"
            case _ => "noop"
          }
        } catch {
          case t: Throwable if injected(t) =>
            s"CRASHED[b$branch@${pointOf(t).getOrElse("?")}]"
          case _: IllegalArgumentException =>
            // a legal refusal (e.g. split point colliding with an
            // overlapping sibling's start, frozen-chunk guards): the op
            // performed nothing, the state must be exactly pre
            post = pre
            acceptable = got => got == pre
            s"refused(b$branch)"
        } finally disarm()

        // simulated restart: fresh handle (staleness heal) + a settle
        // write (commits marked rebirths, normalizes unmarked ones) + an
        // explicit refresh under the held exclusive lease (runs GC)
        val dbg = sys.env.contains("SPARK_GRAFT_CRASH_FUZZ_DEBUG")
        def dump(tag: String): Unit = if (dbg && fired.get()) {
          import scala.sys.process._
          println(s"== $tag ==\n${Seq("bash", "-c",
            s"find $dir/ht -maxdepth 2 | grep -v crc | sort").!!}")
        }
        dump(s"post-crash op#$i")
        ht = Hypertable.at(spark, s"$dir/ht")
        ht.write(events.limit(0))
        dump(s"post-settle op#$i")
        ht.refreshChunkCatalog()
        dump(s"post-refresh op#$i")
        val got = counts(ht.read())
        val label = if (fired.get()) s"$name!" else name
        trace ++= label += ' '
        if (dbg) println(s"[fuzz] op#$i $label chunks=${
          ht.showChunks().map(c => s"${c.startMicros}-${c.endMicros}@${
            c.path.split('/').takeRight(2).mkString("/")}").mkString(" ")}")
        if (!fired.get() && !name.startsWith("CRASHED")) {
          assert(got == post,
            s"[seed=$seed op#$i trace=$trace] " +
              s"completed op diverged: ${diff(got, post)}")
          expected = post
        } else {
          if (!acceptable(got) &&
              sys.env.contains("SPARK_GRAFT_CRASH_FUZZ_DEBUG")) {
            import scala.sys.process._
            println(s"== DISK STATE ==\n${Seq("find", s"$dir/ht",
              "-maxdepth", "3").!!}")
            println(s"== CHUNKS ==\n${ht.showChunks().mkString("\n")}")
          }
          assert(acceptable(got),
            s"[seed=$seed op#$i trace=$trace] " +
              s"post-crash state is neither pre nor a legal partial: " +
              s"${diff(got, pre)} (vs pre)")
          expected = got
        }
      }
    } finally disarm()
  }

  private def diff(got: Map[Long, Long], want: Map[Long, Long]): String = {
    val extra = got.toSet -- want.toSet
    val missing = want.toSet -- got.toSet
    s"extra=${extra.take(5)}${if (extra.size > 5) "…" else ""} " +
      s"missing=${missing.take(5)}${if (missing.size > 5) "…" else ""} " +
      s"(sizes got=${got.values.sum} want=${want.values.sum})"
  }

  private val nSeeds =
    sys.env.getOrElse("SPARK_GRAFT_CRASH_FUZZ_SEEDS", "10").toInt
  private val seed0 =
    sys.env.getOrElse("SPARK_GRAFT_CRASH_FUZZ_SEED0", "9100").toInt

  test(s"crash-point fuzz: $nSeeds seeded op sequences with injected kills " +
    "between publish steps heal to a legal rowset (stage-and-stamp publish)") {
    (0 until nSeeds).foreach(s => runSeed(seed0 + s))
  }
}
