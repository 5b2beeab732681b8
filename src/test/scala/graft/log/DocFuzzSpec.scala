package graft.log

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/**
 * Seeded hostile-input fuzz for the ON-DISK control-plane doc parsers —
 * the disk-side twin of `WireFuzzSpec` (VERDICT r15 directive 7). The two
 * doc kinds the r15 lease work added get the same treatment the root doc
 * got in r12: truncated, garbage, overflowing and oversized files must
 * refuse LOUDLY or resolve CONSERVATIVELY — never crash with a stray
 * parse exception, never adopt a partial position, and never make a
 * leased root look unleased.
 */
class DocFuzzSpec extends AnyFunSuite {

  private def freshRoot(): String =
    Files.createTempDirectory("polar_docfuzz").toString

  private def fs(p: Path) = p.getFileSystem(HadoopConf.shared)

  private def plant(p: Path, bytes: Array[Byte]): Unit = {
    val out = fs(p).create(p, true)
    try out.write(bytes) finally out.close()
  }

  private val validLease =
    """{"format":1,"holder":"driver-x","deadlineMs":9999999999999,"ttlMs":30000,"ms":1}"""

  test("lease epoch file content fuzz: every input resolves to a lease or a bounded conservative hold") {
    val rnd = new scala.util.Random(0x1ea5e)
    val root = freshRoot()
    val d = new Path(WriterLease.leaseDir(root))
    fs(d).mkdirs(d)
    val p = new Path(d, "e7.json")
    val hostile: Seq[Array[Byte]] =
      // random bytes (binary garbage)
      (1 to 12).map { _ =>
        val b = new Array[Byte](rnd.nextInt(200)); rnd.nextBytes(b); b
      } ++
      // truncated prefixes of a valid doc (torn create)
      (1 to 12).map(_ =>
        validLease.take(rnd.nextInt(validLease.length)).getBytes("UTF-8")) ++
      Seq(
        Array.emptyByteArray, // crashed between create and close
        // numeric overflow: digit runs too long for a Long must not
        // escape as NumberFormatException from the probe path
        """{"holder":"h","deadlineMs":99999999999999999999999999,"ttlMs":1}"""
          .getBytes("UTF-8"),
        """{"holder":"h","deadlineMs":5,"ttlMs":88888888888888888888888888}"""
          .getBytes("UTF-8"),
        // a holder whose deadline was torn off: must NOT read as
        // deadline-0 (instantly seizable) — conservative hold instead
        """{"format":1,"holder":"torn-holder","deadl""".getBytes("UTF-8"),
        ("{" + "\"x\":1," * 5000 + "\"y\":2}").getBytes("UTF-8")) // big junk
    hostile.zipWithIndex.foreach { case (bytes, i) =>
      plant(p, bytes)
      val got = WriterLease.current(root)
      assert(got.isDefined,
        s"case $i: an epoch file stands — the root must never look unleased")
      val l = got.get
      assert(l.epoch === 7L, s"case $i: epoch comes from the file name")
      if (l.holderId == "<unreadable>") {
        // conservative: bounded hold, about one default TTL from mtime
        assert(l.deadlineMs <= System.currentTimeMillis() +
          WriterLease.DefaultTtlMs + 60000L,
          s"case $i: conservative hold must be bounded, got ${l.deadlineMs}")
      } else {
        // adopted as a real lease: both fields must actually have parsed
        assert(bytes.nonEmpty && new String(bytes, "UTF-8").contains("holder"),
          s"case $i: garbage must not parse to holder '${l.holderId}'")
      }
    }
    // the torn-holder case specifically: conservative, never deadline-0
    plant(p, """{"format":1,"holder":"torn-holder","deadl""".getBytes("UTF-8"))
    val torn = WriterLease.current(root).get
    assert(torn.holderId === "<unreadable>",
      "holder-intact-deadline-torn must take the conservative path")
    // torn MID-DIGITS: the deadline regex alone would 'parse' the
    // truncated run as a bogus EARLIER deadline (instantly seizable) —
    // the full-shape anchor must force the conservative path instead
    plant(p, """{"format":1,"holder":"h","deadlineMs":17654""".getBytes("UTF-8"))
    val tornDigits = WriterLease.current(root).get
    assert(tornDigits.holderId === "<unreadable>",
      "a deadline truncated mid-digits must never be adopted")
    assert(tornDigits.deadlineMs > 17654L)
    // and a valid doc still parses exactly
    plant(p, validLease.getBytes("UTF-8"))
    val ok = WriterLease.current(root).get
    assert(ok.holderId === "driver-x" && ok.deadlineMs === 9999999999999L &&
      ok.ttlMs === 30000L)
  }

  test("lease dir name fuzz: junk names never crash resolution or mask the real lease") {
    val root = freshRoot()
    val d = new Path(WriterLease.leaseDir(root))
    fs(d).mkdirs(d)
    // the real lease
    plant(new Path(d, "e100.json"), validLease.getBytes("UTF-8"))
    // planted junk: overflow epochs, non-epoch names, near-misses
    Seq("e99999999999999999999999999.json", "e.json", "e12x.json",
      "foo.txt", "e-5.json", "E9.json", "e101.json.tmp")
      .foreach(n => plant(new Path(d, n), "junk".getBytes("UTF-8")))
    val got = WriterLease.current(root)
    assert(got.exists(_.epoch === 100L),
      s"junk names must be skipped, real lease resolved: $got")
    assert(got.exists(_.holderId === "driver-x"))
  }

  test("group doc fuzz: every non-canonical input refuses loudly, never adopts a partial position") {
    val rnd = new scala.util.Random(0x9f0d0c)
    val root = freshRoot()
    val cfg = TopicConfig(root, "fuzzed", 1, 2)
    val gpath = new Path(s"${cfg.groupsDir}/g.json")
    fs(gpath).mkdirs(new Path(cfg.groupsDir))
    val valid = ConsumerGroups.render(Map(0 -> 17L, 1 -> 4L))
    val hostile: Seq[Array[Byte]] =
      (1 to 12).map { _ =>
        val b = new Array[Byte](rnd.nextInt(120)); rnd.nextBytes(b); b
      } ++
      // truncated prefixes of the canonical doc (crashed rename on an
      // exotic store) — every strict prefix must refuse
      (1 until valid.length).map(n => valid.take(n).getBytes("UTF-8")) ++
      Seq(
        Array.emptyByteArray,
        // shape-valid but value-overflowing: digit runs beyond Int/Long
        """{"offsets":{"99999999999":5}}""".getBytes("UTF-8"),
        """{"offsets":{"1":99999999999999999999999999}}""".getBytes("UTF-8"),
        ConsumerGroups.render(Map(0 -> 1L), 5L)
          .replace(""""writerEpoch":5""", """"writerEpoch":99999999999999999999999999""")
          .getBytes("UTF-8"),
        // trailing garbage after a canonical doc
        (valid + "garbage").getBytes("UTF-8"))
    hostile.zipWithIndex.foreach { case (bytes, i) =>
      plant(gpath, bytes)
      val e = intercept[IllegalStateException](ConsumerGroups.committed(cfg, "g"))
      assert(e.getMessage.contains("corrupt") &&
        e.getMessage.contains("refusing"),
        s"case $i: must refuse loudly with the repair action, got ${e.getMessage}")
    }
    // canonical docs (with and without the stamp) still round-trip
    plant(gpath, valid.getBytes("UTF-8"))
    assert(ConsumerGroups.committed(cfg, "g") === Some(Map(0 -> 17L, 1 -> 4L)))
    plant(gpath, ConsumerGroups.render(Map(3 -> 9L), 42L).getBytes("UTF-8"))
    assert(ConsumerGroups.committed(cfg, "g") === Some(Map(3 -> 9L)))
  }

  test("group doc render/parse round-trip holds under random maps and stamps") {
    val rnd = new scala.util.Random(0x0ff5e75)
    (1 to 200).foreach { i =>
      val offsets = (0 until rnd.nextInt(8)).map(_ =>
        rnd.nextInt(64) -> math.abs(rnd.nextLong())).toMap
      val epoch = if (rnd.nextBoolean()) 0L else math.abs(rnd.nextLong()) | 1L
      val doc = ConsumerGroups.render(offsets, epoch)
      assert(ConsumerGroups.parseOffsets(doc) === offsets, s"round $i: $doc")
      if (epoch == 0L) assert(!doc.contains("writerEpoch"), s"round $i: $doc")
    }
  }

  // every strict prefix of `doc` (a torn write) plus `doc` with trailing
  // garbage: the hostile shapes a control-plane doc read must never
  // mistake for a smaller epoch, a different kind or a partial map
  private def tornAndPadded(doc: String): Seq[String] =
    (0 until doc.length).map(doc.take) :+ (doc + "garbage")

  private def txnDir(root: String, id: String) =
    new Path(s"${Transactions.dir(root)}/${LogMetadata.hexEncode(id)}")

  test("txn open.json fuzz: a torn doc never reads as a smaller epoch") {
    val root = freshRoot()
    val epoch = 1755000000123L
    val open = s"""{"format":1,"epoch":$epoch,"timeoutMs":45000,"startMs":1}"""
    tornAndPadded(open).zipWithIndex.foreach { case (text, i) =>
      val id = s"open-$i"
      plant(new Path(txnDir(root, id), "open.json"), text.getBytes("UTF-8"))
      Transactions.state(root, id) match {
        case Transactions.Open(e, _, t) =>
          assert(e === epoch && t === 45000L, s"case $i: '$text' read as epoch $e")
        // a begin torn mid-write resolves like one that never wrote it
        case Transactions.Aborted(e) =>
          assert(e === -1L && text != open, s"case $i: '$text' read as aborted($e)")
        case other => fail(s"case $i: '$text' read as $other")
      }
    }
    plant(new Path(txnDir(root, "whole"), "open.json"), open.getBytes("UTF-8"))
    assert(Transactions.state(root, "whole").isInstanceOf[Transactions.Open])
  }

  test("txn terminal marker fuzz: a torn marker never reads as another epoch or kind") {
    val root = freshRoot()
    val epoch = 1755000000456L
    val marker =
      s"""{"format":1,"kind":"commit","reason":"user","epoch":$epoch,"ms":1}"""
    tornAndPadded(marker).zipWithIndex.foreach { case (text, i) =>
      val id = s"term-$i"
      plant(new Path(txnDir(root, id), "open.json"),
        s"""{"format":1,"epoch":$epoch,"timeoutMs":60000,"startMs":1}""".getBytes("UTF-8"))
      plant(new Path(txnDir(root, id), "terminal.json"), text.getBytes("UTF-8"))
      Transactions.state(root, id) match {
        case Transactions.Committed(e) =>
          assert(e === epoch, s"case $i: '$text' read as committed at $e")
        // unreadable marker: the live open.json stands, the arbiter retries
        case Transactions.Open(e, _, _) =>
          assert(e === epoch && text != marker, s"case $i: '$text' read as open($e)")
        case other => fail(s"case $i: '$text' read as $other")
      }
    }
  }

  test("txn staged offsets fuzz: a torn staging refuses, never applies a prefix") {
    val root = freshRoot()
    val cfg = TopicConfig(root, "staged", 1, 2)
    LogMetadata.write(cfg, LogMetadata.empty(cfg))
    val want = Map(0 -> 12L, 1 -> 7L)
    val h0 = Transactions.begin(root, "shape")
    Transactions.sendOffsets(h0, cfg, "shape", want)
    def gFile(id: String) = fs(txnDir(root, id)).listStatus(txnDir(root, id))
      .map(_.getPath).find(_.getName.startsWith("g-")).get
    val staged = FsIO.read(gFile("shape"))
    Transactions.abort(h0)
    tornAndPadded(staged).zipWithIndex.foreach { case (text, i) =>
      val (id, group) = (s"staged-$i", s"g$i")
      val h = Transactions.begin(root, id)
      Transactions.sendOffsets(h, cfg, group,
        want.map { case (p, o) => p -> (o + 100) }) // overwritten below
      plant(gFile(id), text.replace(s"${h0.epoch}", s"${h.epoch}").getBytes("UTF-8"))
      val committed = scala.util.Try(Transactions.commit(h))
      if (committed.isSuccess)
        assert(ConsumerGroups.committed(cfg, group) === Some(want),
          s"case $i: '$text' applied a partial staging")
      else assert(committed.failed.get.getMessage.contains("staged offsets"),
        s"case $i: must refuse loudly, got ${committed.failed.get}")
    }
  }

  test("journal txn.json fuzz: a torn commit point is an incomplete intent, never a lost txn") {
    val root = freshRoot()
    val entry = FileEntry(0, "j.parquet", 0, 9, 10, 400, 1700000000000L)
    val jdir = TxnJournal.write(root, Map("jt" -> Seq(entry)), Some(("sink-1", 12L)))
    val commitPoint = new Path(jdir, "txn.json")
    val whole = FsIO.read(commitPoint)
    tornAndPadded(whole).zipWithIndex.foreach { case (text, i) =>
      plant(commitPoint, text.getBytes("UTF-8"))
      val j = TxnJournal.list(root).head
      assert(j.topics === Map("jt" -> Vector(entry)))
      assert((!j.complete && j.txn.isEmpty) ||
        (j.complete && j.txn === Some(("sink-1", 12L))),
        s"case $i: '$text' read as complete=${j.complete} txn=${j.txn}")
    }
    plant(commitPoint, whole.getBytes("UTF-8"))
    val j = TxnJournal.list(root).head
    assert(j.complete && j.txn === Some(("sink-1", 12L)))
  }
}
