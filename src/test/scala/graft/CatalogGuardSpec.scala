package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One versioned-catalog protocol: `graft.sources.VersionedCatalog` alone
  * knows the `v<N>.json` scheme and the two catalog dirs (the hypertable's
  * chunk manifest and the cagg's materialization catalog), lists, resolves,
  * writes and prunes their versions, and holds the chunk manifest's one
  * encoder and one decoder. A file under `src/main` other than that module
  * which names a catalog dir or the version-file pattern, lists or prunes
  * versions, or reads or writes a manifest field fails here, so a second
  * copy of the protocol cannot grow back unnoticed.
  */
class CatalogGuardSpec extends AnyFunSuite {
  private val module =
    Paths.get("src/main/scala/graft/sources/VersionedCatalog.scala")

  private lazy val others: Seq[(Path, Seq[String])] = {
    val s = Files.walk(Paths.get("src/main"))
    try s.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != module)
      .map(p => p -> Files.readAllLines(p).asScala.toSeq).toList
    finally s.close()
  }

  private def hits(matches: String => Boolean): Seq[String] =
    for {
      (p, lines) <- others
      (l, i) <- lines.zipWithIndex if matches(l)
    } yield s"$p:${i + 1}: ${l.trim}"

  test("only VersionedCatalog names the catalog dirs or the v<N>.json scheme") {
    assert(Files.exists(module))
    val Dirs = """_graft_catalog\b|_mat_catalog\b""".r.unanchored
    // `v` then an interpolation, a regex group or an escape, on a line
    // naming a .json file: s"v$n.json", "v(\d+)\.json", "v\\d+\\.json"
    val VersionFile = """(?<![A-Za-z0-9_])v[$(\\]""".r.unanchored
    val found = hits(l => Dirs.matches(l) ||
      (l.contains(".json") && VersionFile.matches(l)))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("only VersionedCatalog lists or prunes catalog versions") {
    val names = Seq("listManifests", "manifestVersions", "catalogStampNow",
      "CATALOG_KEEP")
    val CatListing = """(?i)listStatus\(.*cat""".r.unanchored
    val found = hits(l => names.exists(l.contains) || CatListing.matches(l))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the chunk manifest has one encoder and one decoder") {
    val Field = """(put|get|putObject|putArray)\("(s|e|p|cs)"""".r.unanchored
    val found = hits(l => Field.matches(l))
    assert(found.isEmpty, found.mkString("\n"))
    val src = Files.readAllLines(module).asScala
    assert(src.count(_.contains("""n.put("p"""")) === 1)
    assert(src.count(_.contains("""n.get("p")""")) === 1)
  }
}
