package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One generation store: `graft.sources.GenStore` alone stamps
  * generations superseded, tombstones chunk dirs, decides the grace and
  * deletes generation dirs; the hypertable chunk store and the cagg
  * materialization both call it. A file under `src/main` other than
  * GenStore that names the stamp or tombstone file, reads the grace conf,
  * or deletes a generation dir fails here, so a third generation store
  * cannot grow back unnoticed.
  */
class GenStoreGuardSpec extends AnyFunSuite {
  private val genStore = Paths.get("src/main/scala/graft/sources/GenStore.scala")

  private lazy val others: Seq[(Path, Seq[String])] = {
    val s = Files.walk(Paths.get("src/main"))
    try s.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != genStore)
      .map(p => p -> Files.readAllLines(p).asScala.toSeq).toList
    finally s.close()
  }

  private def hits(matches: String => Boolean): Seq[String] =
    for {
      (p, lines) <- others
      (l, i) <- lines.zipWithIndex if matches(l)
    } yield s"$p:${i + 1}: ${l.trim}"

  test("only GenStore names the stamp and tombstone files or the grace conf") {
    assert(Files.exists(genStore))
    val names = Seq(".graft_superseded", ".graft_dropped", "spark.graft.gc.graceMs")
    val found = hits(l => names.exists(l.contains))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("only GenStore deletes a generation dir") {
    // the argument of a delete call naming a generation, a stage or a
    // generation marker
    val Delete = """\.delete\((.*)""".r.unanchored
    val GenRef = """(?i)gen|stage|superseded|tomb""".r.unanchored
    val found = hits {
      case Delete(arg) => GenRef.matches(arg)
      case _ => false
    }
    assert(found.isEmpty, found.mkString("\n"))
  }
}
