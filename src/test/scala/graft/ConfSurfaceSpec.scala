package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The configuration surface and its documentation move together: every
  * `spark.graft.*` conf and `SPARK_GRAFT_*` environment variable named in
  * `src/main` has a row in README's "Configuration" table, and every row
  * names something `src/main` still reads. Adding or deleting a knob
  * without its doc fails here, and so does a test that still sets a
  * `spark.graft.*` conf nothing reads (a silent no-op).
  */
class ConfSurfaceSpec extends AnyFunSuite {
  private val Name = """spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]|SPARK_GRAFT_[A-Z0-9_]*[A-Z0-9]""".r

  private def sources(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  private def names(dir: String): Set[String] = sources(Paths.get(dir))
    .flatMap(p => Name.findAllIn(Files.readString(p))).toSet

  private lazy val inMain: Set[String] = names("src/main")

  /** (key, default) of each row of the table under README's
    * "## Configuration".
    */
  private lazy val rows: Seq[(String, String)] = {
    val lines = Files.readAllLines(Paths.get("README.md")).asScala
    lines.dropWhile(_ != "## Configuration").drop(1).takeWhile(!_.startsWith("## "))
      .collect { case l if l.startsWith("| `") =>
        (l.drop(3).takeWhile(_ != '`'), l.split('|')(2).trim)
      }
      .toSeq
  }

  private lazy val documented: Seq[String] = rows.map(_._1)

  test("README's configuration table lists exactly the names src/main reads") {
    assert(inMain.nonEmpty && documented.nonEmpty)
    assert(documented.distinct.size === documented.size,
      documented.diff(documented.distinct).mkString(", "))
    val undocumented = inMain -- documented
    val stale = documented.toSet -- inMain
    assert(undocumented.isEmpty, s"read in src/main, missing from README: ${undocumented.toSeq.sorted.mkString(", ")}")
    assert(stale.isEmpty, s"in README, read nowhere in src/main: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("every spark.graft conf a test names is one src/main reads") {
    // a prefix row (default "prefix") covers the confs built from it
    val prefixes = rows.collect { case (k, "prefix") => k }
    assert(prefixes.nonEmpty)
    val unread = names("src/test").filter(_.startsWith("spark.graft."))
      .filterNot(n => inMain(n) || prefixes.exists(n.startsWith))
    assert(unread.isEmpty, s"named in src/test, read nowhere in src/main: ${unread.toSeq.sorted.mkString(", ")}")
  }
}
