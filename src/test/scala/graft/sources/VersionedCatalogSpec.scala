package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** [[VersionedCatalog]]'s version protocol for both catalogs (keep
  * counts, the pruned-between-list-and-open re-resolve) and
  * [[ChunkManifest]]'s wire format, which must stay readable both ways
  * across versions of this code.
  */
class VersionedCatalogSpec extends AnyFunSuite {
  private def localFs: FileSystem = FileSystem.getLocal(new Configuration())

  private def names(fs: FileSystem, cat: VersionedCatalog): Seq[String] =
    fs.listStatus(cat.dir).toSeq.map(_.getPath.getName)
      .filterNot(_.startsWith(".")).sorted

  test("publishing more than keep versions leaves exactly keep: 4 chunk " +
    "manifests, 3 materialization catalogs") {
    val fs = localFs
    val base = new Path(Files.createTempDirectory("graft_vcat_keep").toString)
    for ((cat, keep) <- Seq(VersionedCatalog.chunks(fs, base) -> 4,
        VersionedCatalog.materialization(fs, base) -> 3)) {
      assert(cat.version() === -1L && cat.latest().isEmpty)
      (1L to 7L).foreach(v => cat.publish(v, s"body$v"))
      assert(names(fs, cat) === ((8 - keep) to 7).map(v => s"v$v.json").sorted)
      assert(cat.version() === 7L)
      assert(cat.latest() === Some(7L -> "body7"))
    }
  }

  test("a version deleted between the listing and the open resolves to " +
    "the newer one") {
    val base = Files.createTempDirectory("graft_vcat_race").toString
    val fs = new OpenHookFs()
    fs.initialize(java.net.URI.create("openhookfs:///"), new Configuration())
    val root = new Path(s"openhookfs://$base")
    for (cat <- Seq(VersionedCatalog.chunks(fs, root),
        VersionedCatalog.materialization(fs, root))) {
      cat.publish(1L, "one")
      cat.publish(2L, "two")
      // a racing publisher writes v3 and prunes v2 after this reader
      // listed v2 as the latest and before it opens it
      fs.beforeOpen = p => if (p.getName == "v2.json") {
        fs.beforeOpen = _ => ()
        cat.publish(3L, "three")
        fs.delete(p, false)
      }
      assert(cat.latest() === Some(3L -> "three"))
    }
  }

  // a body as the previous code's full refresh wrote it ("v" after the
  // chunks, "cs" last), and one as its append patch wrote it when the
  // manifest it patched had no "cs"
  private val refreshBody =
    """{"chunks":[{"s":604800000000,"e":1209600000000,""" +
      """"p":"file:/t/ht/_chunk=604800000000/_gen=1"},""" +
      """{"s":0,"e":604800000000,"p":"file:/t/ht/_chunk=0/_gen=0"}],""" +
      """"v":3,"cs":{"file:/t/ht":7,"file:/t/cold/ht":2}}"""
  private val patchBody =
    """{"chunks":[{"s":0,"e":100,"p":"file:/t/ht/_chunk=0/_gen=0"}],"v":9}"""

  test("a manifest body the previous code wrote decodes to the same chunks " +
    "and cs") {
    val m = ChunkManifest.decode(refreshBody)
    assert(m.v === 3L)
    assert(m.chunks === Seq(
      ChunkInfo(0L, 604800000000L, "file:/t/ht/_chunk=0/_gen=0"),
      ChunkInfo(604800000000L, 1209600000000L,
        "file:/t/ht/_chunk=604800000000/_gen=1")))
    assert(m.cs === Map("file:/t/ht" -> 7L, "file:/t/cold/ht" -> 2L))
    val p = ChunkManifest.decode(patchBody)
    assert(p.v === 9L && p.cs.isEmpty &&
      p.chunks === Seq(ChunkInfo(0L, 100L, "file:/t/ht/_chunk=0/_gen=0")))
    // and a re-encode round-trips
    assert(ChunkManifest.decode(m.encode) === m)
  }

  test("an encoded manifest reads as the previous code read it") {
    val m = ChunkManifest.decode(refreshBody)
    // the previous readers: chunks from "chunks" s/e/p, the content
    // counters from the "cs" object's fields
    val t = Hypertable.jsonMapper.readTree(m.encode)
    val chunks = t.get("chunks").elements().asScala.map(n =>
      ChunkInfo(n.get("s").asLong, n.get("e").asLong, n.get("p").asText))
      .toSeq.sortBy(_.startMicros)
    val cs = t.get("cs").fields().asScala
      .map(e => e.getKey -> e.getValue.asLong()).toMap
    assert(chunks === m.chunks && cs === m.cs && t.get("v").asLong === 3L)
  }
}

/** Local FS that runs a hook before each `open` — test scope only. */
class OpenHookFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  @volatile var beforeOpen: Path => Unit = _ => ()
  override def getScheme: String = "openhookfs"
  override def getUri: java.net.URI = java.net.URI.create("openhookfs:///")
  override def open(p: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    beforeOpen(p)
    super.open(p, bufferSize)
  }
}
