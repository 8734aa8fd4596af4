package graft.sources

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{OpCountFs, Tables}
import graft.streaming.{CaggDef, ContinuousAggregate}

/** Golden metadata-op count of resolving each versioned catalog: one
  * listing of the catalog dir and one open of the latest version, for the
  * hypertable's chunk manifest and the cagg's materialization catalog
  * alike. A hypertable handle whose memo is stale pays one more listing
  * (the memo-key check) before that resolve. Counted through
  * [[OpCountFs]] on tables built under `opcount://`.
  */
class CatalogResolveCountSpec extends AnyFunSuite {
  lazy val spark = graft.Graft.session("catalog-resolve-count-spec",
    "local[2]", 2)

  private def us(s: String): Long = Timestamp.valueOf(s).getTime * 1000L

  test("one resolve of each catalog is one list and one get") {
    spark.sparkContext.hadoopConfiguration.set("fs.opcount.impl",
      classOf[OpCountFs].getName)
    val dir = "opcount://" +
      Files.createTempDirectory("graft_catcount").toString
    val ht = Hypertable.create(spark, s"$dir/ht", "ts",
      chunkWidth = "7 days", catalog = "table")
    ht.write(Tables.table(spark, "/root/testdata/sf0.001", "events"))
    val cagg = ContinuousAggregate.create(spark, s"$dir/cagg", ht,
      CaggDef("1 hour", Seq("event_type"), Seq(count(lit(1)).as("n")),
        matChunkWidth = "7 days"))
    cagg.refresh(us("2024-01-01 00:00:00"), us("2024-02-01 00:00:00"))
    val root = new org.apache.hadoop.fs.Path(s"$dir/ht")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    def counted[T](body: => T): (T, Int, Int, Int, String) = {
      OpCountFs.reset()
      val r = body
      (r, OpCountFs.count("list"), OpCountFs.count("get"), OpCountFs.total(),
        OpCountFs.breakdown())
    }

    val (m, l1, g1, t1, ops1) =
      counted(VersionedCatalog.chunks(fs, root).latest())
    assert(m.exists(l => ChunkManifest.decode(l._2).chunks.nonEmpty))
    assert(l1 === 1 && g1 === 1 && t1 === 2, ops1)

    val (cat, l2, g2, t2, ops2) = counted(cagg.readMatCatalog())
    assert(cat.exists(_.chunks.nonEmpty))
    assert(l2 === 1 && g2 === 1 && t2 === 2, ops2)

    // a handle's memo goes stale when another handle publishes
    val reader = Hypertable.at(spark, s"$dir/ht")
    val before = reader.showChunks()
    ht.refreshChunkCatalog()
    val (after, l3, g3, t3, ops3) = counted(reader.showChunks())
    assert(after === before)
    assert(l3 === 2 && g3 === 1 && t3 === 3, ops3)
  }
}
