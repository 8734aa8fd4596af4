package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Columnstore, Hypertable}

/** Differential fuzz of the MAINTENANCE surface: seeded random
  * interleavings of merge / split / move_chunk / detach / attach /
  * migrate-to-gen-layout — the chunk-identity-changing ops — mixed with
  * the stream fuzz's write/compress/decompress/drop/DML families, with a
  * driver-side expected-rowset oracle checked against the batch reader
  * after EVERY op. Any misrouted generation, resurrected tombstone,
  * double-listed chunk, or lost sidecar shows up as a multiset diff at
  * the op that caused it (the op trace is in the failure message).
  *
  * One seed starts FLAT (`catalog="list"`) with `migrateToGenLayout` in
  * its op pool, one runs space-partitioned (ops must preserve `_space`
  * routing), one runs the plain gen layout.
  */
class MaintenanceFuzzSpec extends AnyFunSuite {
  lazy val spark = Graft.session("maintenance-fuzz-spec", "local[4]", 4)

  private lazy val events = Tables.table(spark, "/root/testdata/sf0.001", "events")
  // id -> event time, for the oracle's range-keyed removals
  private lazy val idTs: Map[Long, Long] = events
    .select(col("event_id"), unix_micros(col("ts")))
    .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // seed 57 runs the whole interleaving in OBJECT-STORE mode (the
  // counter freshness cue of stores without settable mtimes): every
  // publish/sync in the sequence exercises it instead of mtimes
  // seed 83 starts FLAT **and** space-partitioned: the mid-sequence
  // migration must carry `_space=` subtrees through the gen conversion
  for ((seed, startFlat, space, objectStore) <- Seq(
      (11L, true, false, false), (23L, false, true, false),
      (42L, false, false, false), (57L, false, false, true),
      (83L, true, true, false)))
    test("maintenance-op interleavings match the expected-rowset oracle " +
      s"after every op (seed=$seed, startFlat=$startFlat, space=$space" +
      s"${if (objectStore) ", mtimeReliable=false" else ""})") {
      Hypertable.counterFreshnessForTests = objectStore
      try runInterleaving(seed, startFlat, space)
      finally Hypertable.counterFreshnessForTests = false
    }

  private def runInterleaving(seed: Long, startFlat: Boolean,
      space: Boolean): Unit = {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"graft_mfuzz$seed").toString
      var ht = Hypertable.create(spark, s"$dir/ht", "ts",
        chunkWidth = "7 days",
        catalog = if (startFlat) "list" else "table",
        spaceCol = if (space) Some("user_id") else None, spacePartitions = 2)
      ht.attachTablespace(s"$dir/cold")
      val expected = scala.collection.mutable.ArrayBuffer.empty[Long]
      def writeSlice(k: Int): Unit = {
        ht.write(events.where(pmod(col("event_id"), lit(4)) === k))
        expected ++= idTs.keys.filter(id => math.floorMod(id, 4) == k)
      }
      writeSlice(0)
      val detached =
        scala.collection.mutable.Stack.empty[(String, Long, Long, Seq[Long])]
      var nDetach = 0
      val ops = new StringBuilder
      def check(i: Int): Unit = {
        val got = ht.read().select("event_id").collect()
          .map(_.getLong(0)).sorted.toSeq
        assert(got === expected.sorted.toSeq,
          s"[seed=$seed op#$i trace: $ops] reader disagrees with oracle " +
            s"(got ${got.size} rows, expected ${expected.size})")
      }
      var unwritten = rnd.shuffle(List(1, 2, 3))
      // frozen chunks: writes/DML/maintenance must refuse or skip them —
      // candidate picks below exclude them, the delete op exercises the
      // atomic refusal, and the drop oracle pins drop-SKIPS-frozen
      val frozen = scala.collection.mutable.Set.empty[Long]
      val opts = Columnstore.Options(orderBy = Seq("ts"))
      (1 to 16).foreach { i =>
        val all = ht.showChunks().sortBy(_.startMicros)
        val cs = all.filterNot(c => frozen(c.startMicros))
        val name = rnd.nextInt(11) match {
          case 0 if unwritten.nonEmpty && frozen.isEmpty =>
            val k = unwritten.head; unwritten = unwritten.tail
            writeSlice(k); s"write($k)"
          case 0 | 1 if cs.nonEmpty =>
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
          case 5 if cs.nonEmpty =>
            val c = cs(rnd.nextInt(cs.size))
            if (c.path.contains("/cold/")) {
              ht.moveChunk(c.startMicros, None); "move(home)"
            } else { ht.moveChunk(c.startMicros, s"$dir/cold"); "move(cold)" }
          case 6 if cs.size > 1 =>
            val c = cs(rnd.nextInt(cs.size))
            val dest = s"$dir/detached_$nDetach"; nDetach += 1
            // PHYSICAL rows, not the recorded range: a post-merge append
            // routes by arithmetic chunk key and creates a sibling chunk
            // INSIDE the merged chunk's recorded range — detaching the
            // merged chunk leaves the sibling's rows in place (reads stay
            // correct; pruning is by recorded ranges)
            val ids = spark.read.parquet(c.path).select("event_id")
              .collect().map(_.getLong(0)).toSeq
            ht.detachChunk(c.startMicros, dest)
            expected --= ids
            detached.push((dest, c.startMicros, c.endMicros, ids)); "detach"
          case 7 if detached.nonEmpty =>
            val (p, s0, e0, ids) = detached.top
            // a later write may have re-created a chunk in the freed
            // range — attaching over it must be skipped, like a user
            // would (overlap check against ALL chunks, frozen included:
            // attachChunk's own overlap require does not care)
            if (all.exists(c => c.startMicros < e0 && c.endMicros > s0))
              "attach(skip-overlap)"
            else {
              detached.pop()
              ht.attachChunk(p, s0, e0)
              expected ++= ids; "attach"
            }
          case 8 =>
            val k = rnd.nextInt(53)
            val victims = expected.filter(id => math.floorMod(id, 53) == k).toSeq
            // the refusal on a frozen hit is ATOMIC (probed before any
            // rewrite) — on refusal nothing changes, and the per-op check
            // below proves exactly that
            try {
              ht.deleteWhere(pmod(col("event_id"), lit(53)) === k)
              expected --= victims; s"delete($k)"
            } catch {
              case _: IllegalArgumentException => s"delete($k,frozen-refused)"
            }
          case 9 if startFlat && !ht.genLayout =>
            ht = ht.migrateToGenLayout(); "migrate"
          case 9 if cs.size > 2 =>
            val end = cs.head.endMicros
            // physical rows of the UNFROZEN chunks the drop covers (see
            // the detach note on recorded-range overlap); frozen chunks
            // are SKIPPED, not dropped (src/chunk.c:4113) — their rows
            // stay in the oracle
            val victims = cs.filter(_.endMicros <= end).flatMap(c =>
              spark.read.parquet(c.path).select("event_id")
                .collect().map(_.getLong(0)))
            ht.dropChunks(Some(end), None)
            expected --= victims; "drop"
          case 10 if frozen.nonEmpty && rnd.nextBoolean() =>
            val s0 = frozen.head
            ht.unfreezeChunk(s0); frozen -= s0; "unfreeze"
          case 10 if cs.nonEmpty && unwritten.isEmpty =>
            // freeze only once every write slice landed (a routed batch
            // refuses whole if ANY row targets a frozen chunk)
            val c = cs(rnd.nextInt(cs.size))
            ht.freezeChunk(c.startMicros); frozen += c.startMicros
            "freeze"
          case _ => "noop"
        }
        ops ++= name + " "
        check(i)
      }
      // quiesce: a fresh handle converges to the same multiset
      assert(Hypertable.at(spark, s"$dir/ht").read().count() === expected.size.toLong)
  }
}
