package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** `OpCountFs` counts every top-level FS call once by kind, including
  * the two RawLocalFileSystem answers without its other overloads.
  */
class OpCountFsSpec extends AnyFunSuite {
  test("one exists and one mkdirs(dir) each count once") {
    val fs = new OpCountFs
    fs.initialize(java.net.URI.create("opcount:///"), new Configuration())
    val dir = new Path(Files.createTempDirectory("graft_opcount").toString,
      "sub")
    OpCountFs.reset()
    assert(!fs.exists(dir))
    assert(OpCountFs.count("exists") === 1 && OpCountFs.total() === 1,
      OpCountFs.breakdown())
    OpCountFs.reset()
    assert(fs.mkdirs(dir))
    assert(OpCountFs.count("mkdirs") === 1 && OpCountFs.total() === 1,
      OpCountFs.breakdown())
  }
}
