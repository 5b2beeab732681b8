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

  test("two threads racing create on one file: path: exactly one wins each round") {
    val d = freshDir()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try (0 until 500).foreach { round =>
      val p = new Path(d, s"arbiter-$round.json")
      val gate = new java.util.concurrent.CyclicBarrier(2)
      val tries = Seq("a", "b").map { who =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            gate.await()
            try { FsIO.create(p, who); true }
            catch { case _: java.io.IOException => false }
          }
        })
      }
      val won = tries.map(_.get())
      assert(won.count(identity) === 1, s"round $round: winners $won")
      assert(FsIO.read(p) === (if (won.head) "a" else "b"), s"round $round")
    } finally pool.shutdownNow()
  }

  test("a reader looping read during 500 replaces always sees a whole doc") {
    val p = new Path(freshDir(), "doc.json")
    FsIO.replace(p, "v0")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() =>
      while (!stop.get()) {
        try {
          val s = FsIO.read(p)
          if (!s.startsWith("v")) failures.add(s"torn read '$s'")
        } catch { case e: java.io.IOException => failures.add(e.toString) }
      })
    reader.start()
    try (1 to 500).foreach(i => FsIO.replace(p, s"v$i"))
    finally { stop.set(true); reader.join() }
    val failed = failures.size
    assert(failed === 0, s"$failed failed reads, first: ${failures.peek()}")
    assert(FsIO.read(p) === "v500")
  }

  test("a doc written by Hadoop's checksummed local FS reads back new after replace") {
    val cfg = TopicConfig(freshDir().toString, "crc_doc")
    val p = new Path(cfg.metadataPath)
    // an older root: the doc and its .crc sidecar, both through Hadoop
    val local = org.apache.hadoop.fs.FileSystem.getLocal(HadoopConf.shared)
    val out = local.create(p)
    try out.write(LogMetadata.render(LogMetadata.empty(cfg)).getBytes("UTF-8"))
    finally out.close()
    assert(local.exists(local.getChecksumFile(p)))
    val next = LogMetadata.render(LogMetadata.empty(cfg).copy(version = 7L))
    FsIO.replace(p, next)
    assert(FsIO.read(p) === next)
    assert(LogMetadata.read(cfg).version === 7L)
    // and so does a reader that still verifies sidecars through Hadoop
    val in = local.open(p)
    try assert(new String(in.readAllBytes(), "UTF-8") === next) finally in.close()
  }
}
