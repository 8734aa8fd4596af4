package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One change feed: `graft.streaming.StreamLog` alone knows the stream
  * log's layout (the log dir, the seq claim and its yield marker, the
  * journal dir) and reads its retention conf; `Hypertable`'s writers and
  * the streaming source call it. A file under `src/main` other than
  * StreamLog that names any of them fails here, so a second copy of the
  * log protocol cannot grow back unnoticed.
  */
class StreamLogGuardSpec extends AnyFunSuite {
  private val streamLog = Paths.get("src/main/scala/graft/streaming/StreamLog.scala")

  test("only StreamLog names the stream log's files or its retention conf") {
    assert(Files.exists(streamLog))
    val names = Seq("_graft_stream_log", ".seq_claim", ".seq_want", ".pending/",
      "spark.graft.stream.logRetainMs")
    val s = Files.walk(Paths.get("src/main"))
    val found =
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p != streamLog)
        .toList
        .flatMap { (p: Path) =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (l, i) if names.exists(l.contains) => s"$p:${i + 1}: ${l.trim}"
          }
        }
      finally s.close()
    assert(found.isEmpty, found.mkString("\n"))
  }
}
