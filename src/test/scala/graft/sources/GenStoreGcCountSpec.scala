package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.OpCountFs

/** Golden metadata-op count of one GC visit of a generation chunk dir
  * (`GenStore.gcChunkDirs`, which every materialization publish runs):
  * one listing of the dir, then one stat per generation's stamp. The
  * dir holds three generations, the lower two superseded inside the
  * grace, so nothing is reaped and the dir stays pending. Counted
  * through [[OpCountFs]]; the reader epochs are read from a plain local
  * root, outside the count.
  */
class GenStoreGcCountSpec extends AnyFunSuite {
  lazy val spark = graft.Graft.session("genstore-gc-count-spec", "local[1]", 1)

  test("one GC visit of a three-generation chunk dir: one list, one stat " +
    "per generation") {
    spark.sparkContext.hadoopConfiguration.set("fs.opcount.impl",
      classOf[OpCountFs].getName)
    val base = Files.createTempDirectory("graft_gencount").toString
    val chunkDir = new Path(s"opcount://$base/cagg/mat/_mat_chunk=0")
    val fs = chunkDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store = new GenStore("_mat_gen")
    val gens = (0 to 2).map(g => new Path(chunkDir, s"_mat_gen=$g"))
    gens.foreach { d =>
      fs.mkdirs(d)
      Hypertable.writeSmallFile(fs, new Path(d, "part-0.parquet"), "x")
    }
    gens.take(2).foreach(GenStore.stampSuperseded(fs, _))
    OpCountFs.reset()
    val left = store.gcChunkDirs(spark, fs, Seq(chunkDir),
      new Path(s"file://$base/cagg"))
    val (lists, stats, total) =
      (OpCountFs.count("list"), OpCountFs.count("stat"), OpCountFs.total())
    val ops = OpCountFs.breakdown()
    assert(left === Seq(chunkDir))
    assert(gens.forall(fs.exists), "nothing inside the grace is reaped")
    assert(lists === 1 && stats === 3 && total === 4, ops)
  }
}
