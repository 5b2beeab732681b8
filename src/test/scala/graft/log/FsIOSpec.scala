package graft.log

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The control plane's two storage primitives: exclusive create and atomic
  * replace. */
class FsIOSpec extends AnyFunSuite {

  private def freshDir(): Path =
    new Path(Files.createTempDirectory("polar_fsio_spec").toString)

  test("create refuses an existing path and leaves its content") {
    val p = new Path(freshDir(), "doc.json")
    FsIO.create(p, "first")
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](FsIO.create(p, "second"))
    assert(FsIO.read(p) === "first")
  }

  test("create makes missing parents") {
    val p = new Path(freshDir(), "a/b/c/doc.json")
    FsIO.create(p, "{}")
    assert(FsIO.read(p) === "{}")
  }

  test("replace leaves exactly the new text and no .tmp- sibling") {
    val d = freshDir()
    val p = new Path(d, "doc.json")
    FsIO.replace(p, "one")
    FsIO.replace(p, "two, longer than one")
    FsIO.replace(p, "3")
    assert(FsIO.read(p) === "3")
    val names = new java.io.File(d.toString).list().toSeq
    assert(!names.exists(_.contains(".tmp-")), names)
    assert(names.filterNot(_.endsWith(".crc")) === Seq("doc.json"))
  }
}
