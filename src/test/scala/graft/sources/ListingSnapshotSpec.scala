package graft.sources

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A pure reader's chunk listing is a snapshot of one moment even when a
  * whole merge or split publishes while it lists. The rewrite runs at a
  * forced point — after the reader resolved its first chunk dir and
  * before the next — so the interleaving does not depend on load. Both
  * rewrites leave no intent marker behind, so a listing resolved by its
  * markers alone mixes the states before and after: a merge double-lists
  * or drops the absorbed chunk's rows, a split drops an upper half.
  */
class ListingSnapshotSpec extends AnyFunSuite {
  lazy val spark = graft.Graft.session("listing-snapshot-spec", "local[4]", 4)

  private val T0 = 1699228800000000L // Monday 2023-11-06 00:00 UTC, a 7-day chunk start
  private val HourUs = 3600000000L
  private val WeekUs = 7 * 24 * HourUs

  /** A gen-layout table of two adjacent 7-day chunks, its row count, and a
    * handle this process reads it through as a pure reader: it holds no
    * lease, and the manifest is gone (a writer that crashed before its
    * first catalog refresh), so the handle serves its own listing.
    */
  private def twoChunkTable(): (String, Long, Hypertable) = {
    val root = Files.createTempDirectory("graft_listing").toString + "/ht"
    val ht = Hypertable.create(spark, root, "ts", chunkWidth = "7 days",
      catalog = "table")
    ht.write(spark.range(0, 14 * 24L).select(
      timestamp_micros(lit(T0) + col("id") * HourUs).as("ts"),
      col("id").cast("double").as("value")))
    assert(ht.showChunks().map(c => (c.startMicros, c.endMicros)) ===
      Seq((T0, T0 + WeekUs), (T0 + WeekUs, T0 + 2 * WeekUs)))
    val n = ht.read().count()
    val reader = Hypertable.at(spark, root)
    reader.showChunks()
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val q = fs.makeQualified(new Path(root)).toString
    Hypertable.releaseMutatorLease(spark, root)
    MutationGate.releaseAppendLease(fs, q)
    fs.delete(VersionedCatalog.chunks(fs, new Path(root)).dir, true)
    (root, n, reader)
  }

  /** `listing`, with `rewrite` run once, complete, right after the listing
    * resolved its first chunk dir.
    */
  private def during(rewrite: => Unit)(listing: => Seq[ChunkInfo]): Seq[ChunkInfo] = {
    val armed = new AtomicBoolean(true)
    Hypertable.listingHook = () => if (armed.getAndSet(false)) rewrite
    try listing
    finally Hypertable.listingHook = () => ()
  }

  private def rows(cs: Seq[ChunkInfo]): Long =
    spark.read.parquet(cs.map(_.path): _*).count()

  test("a merge that runs entirely inside a reader's listing is not served torn") {
    val (root, n, reader) = twoChunkTable()
    val listed = during {
      Hypertable.at(spark, root).mergeChunks(T0, T0 + WeekUs)
    }(reader.showChunks())
    assert(listed.map(c => (c.startMicros, c.endMicros)) ===
      Seq((T0, T0 + 2 * WeekUs)), listed.mkString("\n"))
    assert(rows(listed) === n)
  }

  test("splits that run entirely inside a reader's listing are not served torn") {
    val (root, n, reader) = twoChunkTable()
    val listed = during {
      val h = Hypertable.at(spark, root)
      h.splitChunk(T0)
      h.splitChunk(T0 + WeekUs)
    }(reader.showChunks())
    assert(listed.map(_.startMicros) ===
      (0 until 4).map(i => T0 + i * WeekUs / 2), listed.mkString("\n"))
    assert(rows(listed) === n)
  }
}
