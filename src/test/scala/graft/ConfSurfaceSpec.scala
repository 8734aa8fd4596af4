package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The configuration surface and its documentation move together: every
  * `spark.graft.*` conf and `SPARK_GRAFT_*` environment variable named in
  * `src/main` has a row in README's "Configuration" table, and every row
  * names something `src/main` still reads. Adding or deleting a knob
  * without its doc fails here.
  */
class ConfSurfaceSpec extends AnyFunSuite {
  private val Name = """spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]|SPARK_GRAFT_[A-Z0-9_]*[A-Z0-9]""".r

  private def sources(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  private lazy val inMain: Set[String] = sources(Paths.get("src/main"))
    .flatMap(p => Name.findAllIn(Files.readString(p))).toSet

  /** First-column keys of the table under README's "## Configuration". */
  private lazy val documented: Seq[String] = {
    val lines = Files.readAllLines(Paths.get("README.md")).asScala
    lines.dropWhile(_ != "## Configuration").drop(1).takeWhile(!_.startsWith("## "))
      .collect { case l if l.startsWith("| `") => l.drop(3).takeWhile(_ != '`') }
      .toSeq
  }

  test("README's configuration table lists exactly the names src/main reads") {
    assert(inMain.nonEmpty && documented.nonEmpty)
    assert(documented.distinct.size === documented.size,
      documented.diff(documented.distinct).mkString(", "))
    val undocumented = inMain -- documented
    val stale = documented.toSet -- inMain
    assert(undocumented.isEmpty, s"read in src/main, missing from README: ${undocumented.toSeq.sorted.mkString(", ")}")
    assert(stale.isEmpty, s"in README, read nowhere in src/main: ${stale.toSeq.sorted.mkString(", ")}")
  }
}
