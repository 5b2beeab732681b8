package graft.log

import graft.GraftSession
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** Producer transactions: visibility, fencing, crash convergence (the
  * kill-mid-txn states recovery must drive to all-or-none), and the
  * maintenance guards that keep uncommitted segments out of retention,
  * compaction and the key cleaner. */
class TransactionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var root: String = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder(master = "local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    root = Files.createTempDirectory("polar_txn_spec").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def rows(n: Int, tag: String) =
    spark.range(n).selectExpr("cast(id as string) as partitionKey",
      "timestamp_micros(id) as timestamp", s"cast(concat('$tag', id) as binary) as value")

  private def rcCount(cfg: TopicConfig): Long =
    PolarLog.consume(spark, cfg, isolation = "read_committed").count()
  private def ruCount(cfg: TopicConfig): Long = PolarLog.consume(spark, cfg).count()

  private def txnDirPath(id: String) =
    new Path(s"${Transactions.dir(root)}/${LogMetadata.hexEncode(id)}")
  private def fs = new Path(root).getFileSystem(HadoopConf.shared)

  test("commit makes staged produces stable; abort reclaims them (offsets gap)") {
    val cfg = TopicConfig(root, "t_basic", 1, 2)
    PolarLog.produce(rows(10, "base"), cfg)
    val h = Transactions.begin(root, "basic")
    PolarLog.produce(rows(6, "txn"), cfg, producerTxn = Some(h))
    assert(rcCount(cfg) === 10L)
    assert(ruCount(cfg) === 16L)
    Transactions.commit(h)
    assert(rcCount(cfg) === 16L)
    // marks are cleared: the manifests revert below the txn format
    assert(LogMetadata.read(cfg).files.forall(_.txn.isEmpty))
    assert(Transactions.state(root, "basic") === Transactions.Unknown)
    // abort: staged files unregistered AND physically reclaimed; the
    // offsets stay consumed (a gap), later produces continue past them
    val h2 = Transactions.begin(root, "basic2")
    PolarLog.produce(rows(5, "gone"), cfg, producerTxn = Some(h2))
    val tailsBefore = PolarLog.tails(cfg)
    Transactions.abort(h2)
    assert(rcCount(cfg) === 16L)
    assert(ruCount(cfg) === 16L)
    assert(PolarLog.tails(cfg) === tailsBefore, "abort must not rewind tails")
    PolarLog.produce(rows(3, "after"), cfg)
    assert(ruCount(cfg) === 19L)
    // the admission walks serve across the abort gap
    assert(PolarLog.consume(spark, cfg)
      .filter(col("value").cast("string").startsWith("after")).count() === 3L)
  }

  test("LSO: committed records behind an open transaction stay held back") {
    val cfg = TopicConfig(root, "t_lso", 1, 1)
    PolarLog.produce(rows(4, "a"), cfg)
    val h = Transactions.begin(root, "lso")
    PolarLog.produce(rows(4, "b"), cfg, producerTxn = Some(h))
    PolarLog.produce(rows(4, "c"), cfg) // plain, but beyond the LSO
    assert(rcCount(cfg) === 4L, "read_committed must stop at the LSO")
    assert(ruCount(cfg) === 12L)
    // registry-stat agg pushdown answers from the SAME view
    val rcDf = spark.read.format("polar").option("root", root)
      .option("topic", "t_lso").option("clusterSize", "1")
      .option("rangesPerToken", "1")
      .option("isolation.level", "read_committed").load()
    assert(rcDf.agg(count(lit(1))).head.getLong(0) === 4L)
    Transactions.commit(h)
    assert(rcCount(cfg) === 12L)
  }

  test("fencing: a re-begun transactional.id refuses the old handle everywhere") {
    val cfg = TopicConfig(root, "t_fence", 1, 2)
    val h1 = Transactions.begin(root, "fence")
    PolarLog.produce(rows(3, "old"), cfg, producerTxn = Some(h1))
    val h2 = Transactions.begin(root, "fence") // fences h1, aborts its staging
    assert(h2.epoch > h1.epoch)
    assert(ruCount(cfg) === 0L, "fencing must abort the old incarnation's staging")
    val e1 = intercept[Exception] {
      PolarLog.produce(rows(1, "z"), cfg, producerTxn = Some(h1)) }
    assert(e1.getMessage.contains("fenced"), e1.getMessage)
    intercept[IllegalStateException] { Transactions.commit(h1) }
    PolarLog.produce(rows(2, "new"), cfg, producerTxn = Some(h2))
    Transactions.commit(h2)
    assert(rcCount(cfg) === 2L)
    // terminal-state sanity: once fully finalized the id reads Unknown —
    // a second commit refuses (Kafka's "no transaction in progress"), and
    // abort is a no-op
    intercept[IllegalStateException] { Transactions.commit(h2) }
    Transactions.abort(h2) // Unknown: nothing staged, nothing to do
  }

  test("kill mid-txn converges: timeout abort, torn commit, torn abort") {
    // 1) crashed producer: open txn with staged data, no marker — the
    // sweep aborts it once idle past its timeout
    val cfg = TopicConfig(root, "t_kill", 1, 2)
    PolarLog.produce(rows(5, "base"), cfg)
    val h = Transactions.begin(root, "kill", timeoutMs = 60000L)
    PolarLog.produce(rows(5, "doomed"), cfg, producerTxn = Some(h))
    assert(Transactions.recover(root) === 0, "within timeout: not touched")
    // drive the sweep's clock past the timeout instead of sleeping
    assert(Transactions.recover(root,
      nowMs = System.currentTimeMillis() + 120000L) === 1)
    assert(ruCount(cfg) === 5L)
    assert(Transactions.state(root, "kill") === Transactions.Unknown)
    // 2) torn COMMIT: marker durable, crash before mark-clearing — readers
    // already treat the marks as committed; recovery finishes the clearing
    val h2 = Transactions.begin(root, "kill2")
    PolarLog.produce(rows(4, "ok"), cfg, producerTxn = Some(h2))
    val d2 = txnDirPath("kill2")
    val out = fs.create(new Path(d2, "terminal.json"), false)
    out.write("""{"format":1,"kind":"commit"}""".getBytes("UTF-8")); out.close()
    assert(rcCount(cfg) === 9L, "commit marker alone decides visibility")
    assert(Transactions.recover(root) === 1)
    assert(!fs.exists(d2))
    assert(LogMetadata.read(cfg).files.forall(_.txn.isEmpty))
    // 3) torn ABORT: marker durable, entries still registered — readers
    // exclude them now; recovery unregisters and reclaims
    val h3 = Transactions.begin(root, "kill3")
    PolarLog.produce(rows(4, "doom2"), cfg, producerTxn = Some(h3))
    val d3 = txnDirPath("kill3")
    val out3 = fs.create(new Path(d3, "terminal.json"), false)
    out3.write("""{"format":1,"kind":"abort"}""".getBytes("UTF-8")); out3.close()
    assert(rcCount(cfg) === 9L)
    assert(Transactions.recover(root) === 1)
    assert(ruCount(cfg) === 9L)
    assert(!fs.exists(d3))
  }

  test("marks with a MISSING txn directory read as committed (abort removes entries first)") {
    val cfg = TopicConfig(root, "t_orphanmark", 1, 1)
    val h = Transactions.begin(root, "orphan")
    PolarLog.produce(rows(3, "x"), cfg, producerTxn = Some(h))
    // simulate the crash window after finalizeCommit cleared... nothing
    // yet: delete the directory OUT FROM UNDER the open txn (the one state
    // the invariant must still read safely)
    fs.delete(txnDirPath("orphan"), true)
    assert(rcCount(cfg) === 3L, "Unknown state = committed leftovers")
  }

  test("maintenance guards: retention, size cap, compaction and cleaner skip open-txn segments") {
    val cfg = TopicConfig(root, "t_guard", 1, 1)
    PolarLog.produce(rows(8, "old"), cfg)
    val h = Transactions.begin(root, "guard")
    PolarLog.produce(rows(8, "staged"), cfg, producerTxn = Some(h))
    val marked = LogMetadata.read(cfg).files.filter(_.txn.isDefined)
    assert(marked.nonEmpty)
    // time retention with cutoff in the future would doom EVERYTHING —
    // marked entries must survive
    val aged = PolarLog.cleanRetention(cfg, retentionMs = 0L,
      nowMs = System.currentTimeMillis() + 10000L)
    val after = LogMetadata.read(cfg)
    assert(after.files.nonEmpty && after.files.forall(_.txn.isDefined),
      s"retention deleted $aged files but must keep the marked ones")
    // size-cap walk stops at a marked head file
    assert(PolarLog.cleanRetentionBytes(cfg, 1L) === 0,
      "retention.bytes must not delete an open-txn prefix file")
    // compaction never merges marked runs: both files here are tiny and
    // adjacent — only the guard keeps the merge count at zero
    assert(graft.sources.PolarCompaction.compact(spark, cfg) === 0,
      "marked segments must not form merge runs")
    Transactions.abort(h)
  }

  test("abort honors file.delete.delay.ms via the pendingDeletes ledger") {
    val cfg = TopicConfig(root, "t_delay", 1, 1)
    PolarLog.produce(rows(3, "base"), cfg)
    LogMetadata.updateProps(cfg)(_ + (TopicProps.FileDeleteDelayMs -> "600000"))
    val h = Transactions.begin(root, "delay")
    PolarLog.produce(rows(3, "held"), cfg, producerTxn = Some(h))
    val stagedPaths = LogMetadata.read(cfg).files
      .filter(_.txn.isDefined).map(_.path(cfg))
    Transactions.abort(h)
    val meta = LogMetadata.read(cfg)
    assert(meta.files.forall(_.txn.isEmpty))
    assert(meta.pendingDeletes.size === stagedPaths.size,
      "aborted files must enter the deferred-deletion ledger")
    stagedPaths.foreach(p => assert(fs.exists(new Path(p)),
      "deferred files stay on disk until vacuum's deadline"))
  }

  test("arbiter: an abort marker that landed first beats a later commit call") {
    val cfg = TopicConfig(root, "t_arb", 1, 1)
    val h = Transactions.begin(root, "arb")
    PolarLog.produce(rows(3, "r"), cfg, producerTxn = Some(h))
    // a cross-process timeout abort won the terminal race
    val out = fs.create(new Path(txnDirPath("arb"), "terminal.json"), false)
    out.write("""{"format":1,"kind":"abort","reason":"timeout"}""".getBytes("UTF-8"))
    out.close()
    val e = intercept[IllegalStateException] { Transactions.commit(h) }
    assert(e.getMessage.contains("Aborted") || e.getMessage.contains("aborted"),
      e.getMessage)
    assert(Transactions.recover(root) === 1)
    assert(ruCount(cfg) === 0L, "the abort decision must be fully applied")
  }

  test("INSERT OVERWRITE refuses while open transactions hold staged segments") {
    val cfg = TopicConfig(root, "t_ow", 1, 1)
    PolarLog.produce(rows(3, "base"), cfg)
    val h = Transactions.begin(root, "ow")
    PolarLog.produce(rows(2, "staged"), cfg, producerTxn = Some(h))
    val e = intercept[Exception] {
      PolarLog.produce(rows(1, "new"), cfg, replaceAll = true) }
    assert(e.getMessage != null && e.getMessage.contains("refused"),
      s"unexpected: ${e.getMessage}")
    // the staged transaction is intact and still commits
    Transactions.commit(h)
    assert(rcCount(cfg) === 5L)
    // with the transaction resolved the overwrite proceeds
    PolarLog.produce(rows(1, "new"), cfg, replaceAll = true)
    assert(ruCount(cfg) === 1L)
  }

  test("cleaner winner map stops at the LSO: a plain head above an open txn never supersedes") {
    val cfg = TopicConfig(root, "t_lsoclean", 1, 1)
    LogMetadata.write(cfg, LogMetadata.empty(cfg)
      .copy(props = Map(TopicProps.CleanupPolicy -> "compact")))
    def kv(k: String, v: String) = spark.sql(
      s"SELECT '$k' as partitionKey, timestamp_micros(1) as timestamp, " +
        s"cast('$v' as binary) as value")
    PolarLog.produce(kv("K", "v1").unionAll(kv("other", "x")), cfg) // region
    val h = Transactions.begin(root, "lsoclean")
    PolarLog.produce(kv("pad", "p"), cfg, producerTxn = Some(h))    // marked
    PolarLog.produce(kv("K", "v2"), cfg)                            // head, beyond LSO
    graft.sources.PolarLogCleaner.cleanKeys(spark, cfg)
    // K=v1 is the latest COMMITTED pre-LSO value: the beyond-LSO head's
    // v2 must not have superseded it in the rewrite
    val v1Alive = PolarLog.consume(spark, cfg)
      .filter(col("value").cast("string") === "v1").count()
    assert(v1Alive === 1L,
      "pre-LSO committed value was cleaned away by a beyond-LSO winner")
    // and read_committed still resolves K (to v1) while the txn is open
    val rcK = PolarLog.consume(spark, cfg, isolation = "read_committed")
      .filter(col("partitionKey") === "K")
      .select(col("value").cast("string")).collect().map(_.getString(0))
    assert(rcK.toSeq === Seq("v1"))
    Transactions.abort(h)
  }

  test("unregisterEntries removes exactly the named entries (the compensation op)") {
    val cfg = TopicConfig(root, "t_comp", 1, 1)
    PolarLog.produce(rows(3, "a"), cfg)
    PolarLog.produce(rows(3, "b"), cfg)
    val files = LogMetadata.read(cfg).files
    assert(files.size === 2)
    val victim = files.last
    Transactions.unregisterEntries(cfg, Set((victim.part, victim.name)))
    val after = LogMetadata.read(cfg).files
    assert(after.map(_.name) === files.init.map(_.name))
    assert(!fs.exists(new Path(victim.path(cfg))))
    assert(ruCount(cfg) === 3L)
  }

  test("a read_committed STREAM stops at the LSO and resumes past it after commit") {
    val cfg = TopicConfig(root, "t_stream_rc", 1, 2)
    PolarLog.produce(rows(6, "base"), cfg)
    val h = Transactions.begin(root, "streamrc")
    PolarLog.produce(rows(4, "staged"), cfg, producerTxn = Some(h))
    val ckpt = Files.createTempDirectory("txn_rc_ckpt").toString
    val served = new java.util.concurrent.atomic.AtomicLong()
    def drain(): Long = {
      val q = spark.readStream.format("polar")
        .option("root", root).option("topic", "t_stream_rc")
        .option("clusterSize", "1").option("rangesPerToken", "2")
        .option("startingOffsets", "earliest")
        .option("isolation.level", "read_committed")
        .load()
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => {
          served.addAndGet(b.count()): Unit
        })
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      served.get()
    }
    assert(drain() === 6L, "an open transaction's records must not stream")
    Transactions.commit(h)
    assert(drain() === 10L,
      "after commit the stream resumes from its checkpoint past the old LSO")
  }

  test("group polls honor the consumer isolation.level (tails = LSO)") {
    val cfg = TopicConfig(root, "t_poll_rc", 1, 2)
    PolarLog.produce(rows(6, "base"), cfg)
    val h = Transactions.begin(root, "pollrc")
    PolarLog.produce(rows(4, "staged"), cfg, producerTxn = Some(h))
    PolarLog.produce(rows(2, "behind"), cfg) // committed, beyond the LSO
    // read_committed: only the pre-LSO records; the poll's end offsets ARE
    // the LSOs, so committing them never skips the held-back records
    val rc = ConsumerGroups.poll(spark, cfg, "g_rc",
      ConsumerGroups.Earliest, isolation = "read_committed")
    assert(rc.records.count() === 6L)
    ConsumerGroups.commit(cfg, "g_rc", rc.nextOffsets)
    // default consumer of the same topic sees everything
    val ru = ConsumerGroups.poll(spark, cfg, "g_ru", ConsumerGroups.Earliest)
    assert(ru.records.count() === 12L)
    Transactions.commit(h)
    // after commit the read_committed group resumes from its committed
    // position and drains the rest — nothing lost, nothing reserved
    val rc2 = ConsumerGroups.poll(spark, cfg, "g_rc",
      ConsumerGroups.Earliest, isolation = "read_committed")
    assert(rc2.records.count() === 6L)
  }

  test("Latest registration of a read_committed group pins at the LSO, not the raw tail") {
    val cfg = TopicConfig(root, "t_latest_rc", 1, 1)
    PolarLog.produce(rows(3, "early"), cfg)
    val h = Transactions.begin(root, "latestrc")
    PolarLog.produce(rows(4, "held"), cfg, producerTxn = Some(h))
    PolarLog.produce(rows(2, "post"), cfg) // committed, beyond the LSO
    // the pin: a raw-tail pin (9) would permanently skip offsets 3-8
    val p0 = ConsumerGroups.poll(spark, cfg, "g_lat",
      ConsumerGroups.Latest, isolation = "read_committed")
    assert(p0.records.count() === 0L)
    assert(p0.nextOffsets(0) === 3L, s"Latest must pin at the LSO: ${p0.nextOffsets}")
    ConsumerGroups.commit(cfg, "g_lat", p0.nextOffsets)
    Transactions.commit(h)
    val p1 = ConsumerGroups.poll(spark, cfg, "g_lat",
      ConsumerGroups.Latest, isolation = "read_committed")
    assert(p1.records.count() === 6L,
      "records held back at registration must be served after the txn commits")
    // no-rewind: a position committed at the raw tail (e.g. under
    // read_uncommitted) polled under read_committed gets an EMPTY window,
    // never nextOffsets below its committed start
    val h2 = Transactions.begin(root, "latestrc2")
    PolarLog.produce(rows(2, "held2"), cfg, producerTxn = Some(h2))
    val rawTail = PolarLog.tails(cfg)
    ConsumerGroups.commit(cfg, "g_tail", rawTail)
    val p2 = ConsumerGroups.poll(spark, cfg, "g_tail",
      ConsumerGroups.Earliest, isolation = "read_committed")
    assert(p2.records.count() === 0L)
    assert(p2.nextOffsets(0) === rawTail(0),
      s"rc poll must not rewind a committed position: ${p2.nextOffsets} vs $rawTail")
    Transactions.abort(h2)
  }

  test("epoch-exact commit never adopts a fenced zombie's staging under the same id") {
    val cfg = TopicConfig(root, "t_adopt", 1, 1)
    val h = Transactions.begin(root, "adopt")
    PolarLog.produce(rows(3, "mine"), cfg, producerTxn = Some(h))
    PolarLog.produce(rows(2, "zomb"), cfg, producerTxn = Some(h))
    // doctor the second produce's entry to an OLDER epoch — exactly the
    // staging a fenced prior incarnation's racing CAS would have
    // registered under the same transactional.id
    LogMetadata.casWithRetry(cfg) { cur =>
      cur.copy(filesByPart = cur.filesByPart.map { case (p, entries) =>
        p -> entries.map(f =>
          if (f.minOffset == 3L) f.copy(txnEpoch = h.epoch - 10) else f)
      })
    }
    Transactions.commit(h)
    // the commit cleared ITS OWN (id, epoch) marks and UNREGISTERED the
    // zombie's — it must never adopt entries it did not produce
    val after = LogMetadata.read(cfg)
    assert(after.files.forall(_.txn.isEmpty))
    assert(after.files.map(_.minOffset) === Vector(0L),
      s"zombie staging was adopted: ${after.files}")
    assert(rcCount(cfg) === 3L && ruCount(cfg) === 3L)
  }

  test("Unknown-state marks resolve by epoch: a zombie produce racing a finalized abort reads aborted") {
    val cfg = TopicConfig(root, "t_zombmark", 1, 1)
    PolarLog.produce(rows(4, "base"), cfg)
    val h = Transactions.begin(root, "zombm")
    PolarLog.produce(rows(3, "staged"), cfg, producerTxn = Some(h))
    val staged = LogMetadata.read(cfg).files.filter(_.txn.isDefined)
    Transactions.abort(h) // full finalize: entries removed, directory dropped
    assert(Transactions.state(root, "zombm") === Transactions.Unknown)
    // a zombie CAS that raced the finalize re-registers the marked entries
    LogMetadata.casWithRetry(cfg)(_.appendFiles(staged))
    def viewNames = Transactions
      .readCommittedView(root, LogMetadata.read(cfg))
      .files.map(_.name).toSet
    val plain = LogMetadata.read(cfg).files.filter(_.txn.isEmpty).map(_.name).toSet
    // r13 treated ALL dir-gone marks as committed; the finalize record
    // knows this epoch was aborted
    assert(viewNames === plain,
      "a zombie mark carrying the last-aborted epoch must read as aborted")
    // a mark NEWER than any finalized epoch (no live directory) is a
    // rolled-back race too
    LogMetadata.casWithRetry(cfg) { cur =>
      cur.copy(filesByPart = cur.filesByPart.map { case (p, entries) =>
        p -> entries.map(f =>
          if (f.txn.isDefined) f.copy(txnEpoch = h.epoch + 100) else f)
      })
    }
    assert(viewNames === plain)
    // but an UNKNOWN-epoch mark (r13 manifest) keeps the committed-leftover
    // rule — grandfathered, never hidden
    LogMetadata.casWithRetry(cfg) { cur =>
      cur.copy(filesByPart = cur.filesByPart.map { case (p, entries) =>
        p -> entries.map(f =>
          if (f.txn.isDefined) f.copy(txnEpoch = -1L) else f)
      })
    }
    assert(viewNames !== plain)
    // cleanup: drop the synthetic zombie entries
    Transactions.unregisterEntries(cfg,
      staged.map(f => (f.part, f.name)).toSet)
  }

  test("begin mints past the finalize record's epoch high-water mark (clock-step fencing)") {
    val far = System.currentTimeMillis() + 1000L * 86400 * 365
    // simulate an id whose last incarnation finalized at a FUTURE
    // wall-clock (the local clock has since stepped backwards)
    val p = new Path(s"${Transactions.dir(root)}/${LogMetadata.hexEncode("clock")}.last")
    val out = fs.create(p, false)
    out.write(s"""{"format":1,"kind":"commit","epoch":$far}""".getBytes("UTF-8"))
    out.close()
    val h = Transactions.begin(root, "clock")
    assert(h.epoch > far,
      s"epoch ${h.epoch} must exceed the finalized high-water mark $far")
    // and this incarnation's finalize advances the record (never regresses)
    Transactions.abort(h)
    assert(Transactions.lastRecord(root, "clock") === Some((h.epoch, "abort")))
  }

  test("arbiter loser with an unreadable marker throws — never proceeds with its own kind") {
    val cfg = TopicConfig(root, "t_unread", 1, 1)
    val h = Transactions.begin(root, "unread")
    PolarLog.produce(rows(2, "r"), cfg, producerTxn = Some(h))
    // a marker that exists but never resolves to a kind (torn write whose
    // content is lost): the loser must refuse, not guess
    val out = fs.create(new Path(txnDirPath("unread"), "terminal.json"), false)
    out.write("""{"format":1}""".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalStateException] { Transactions.commit(h) }
    assert(e.getMessage.contains("refusing to guess"), e.getMessage)
    // nothing half-applied: the staging is intact
    assert(LogMetadata.read(cfg).files.forall(_.txn.isDefined))
    // repair the marker; the decision then follows it
    fs.delete(new Path(txnDirPath("unread"), "terminal.json"), false)
    Transactions.abort(h)
    assert(ruCount(cfg) === 0L)
  }

  test("sendOffsetsToTransaction: group offsets commit atomically with the produces") {
    val a = TopicConfig(root, "t_eos_src", 1, 2)
    val b = TopicConfig(root, "t_eos_dst", 1, 2)
    PolarLog.produce(rows(10, "in"), a)
    val p0 = ConsumerGroups.poll(spark, a, "eos", ConsumerGroups.Earliest)
    assert(p0.records.count() === 10L)
    val h = Transactions.begin(root, "eos-txn")
    PolarLog.produce(rows(10, "out"), b, producerTxn = Some(h))
    Transactions.sendOffsets(h, a, "eos", p0.nextOffsets)
    // pre-commit: neither the produce nor the position moved
    assert(rcCount(b) === 0L)
    assert(ConsumerGroups.committed(a, "eos").get.values.sum === 0L)
    Transactions.commit(h)
    assert(rcCount(b) === 10L)
    assert(ConsumerGroups.committed(a, "eos") === Some(p0.nextOffsets))
    assert(ConsumerGroups.poll(spark, a, "eos", ConsumerGroups.Earliest)
      .records.count() === 0L, "committed offsets end redelivery")
    // ABORT: the produce is reclaimed AND the position is unchanged — the
    // records get re-processed, never half-committed
    PolarLog.produce(rows(4, "in2"), a)
    val p1 = ConsumerGroups.poll(spark, a, "eos", ConsumerGroups.Earliest)
    assert(p1.records.count() === 4L)
    val h2 = Transactions.begin(root, "eos-txn")
    PolarLog.produce(rows(4, "out2"), b, producerTxn = Some(h2))
    Transactions.sendOffsets(h2, a, "eos", p1.nextOffsets)
    Transactions.abort(h2)
    assert(rcCount(b) === 10L)
    assert(ConsumerGroups.committed(a, "eos") === Some(p0.nextOffsets))
    assert(ConsumerGroups.poll(spark, a, "eos", ConsumerGroups.Earliest)
      .records.count() === 4L, "aborted offsets must re-serve the batch")
  }

  test("kill between the commit point and finalize: the sweep converges records AND offsets") {
    val a = TopicConfig(root, "t_teos_src", 1, 1)
    val b = TopicConfig(root, "t_teos_dst", 1, 1)
    PolarLog.produce(rows(6, "in"), a)
    val p0 = ConsumerGroups.poll(spark, a, "teos", ConsumerGroups.Earliest)
    val h = Transactions.begin(root, "teos-txn")
    PolarLog.produce(rows(6, "out"), b, producerTxn = Some(h))
    Transactions.sendOffsets(h, a, "teos", p0.nextOffsets)
    // the commit point lands; the committer dies before finalize
    val out = fs.create(new Path(txnDirPath("teos-txn"), "terminal.json"), false)
    out.write(s"""{"format":1,"kind":"commit","epoch":${h.epoch}}"""
      .getBytes("UTF-8")); out.close()
    // records are visible from the marker alone; offsets converge via sweep
    assert(rcCount(b) === 6L)
    assert(ConsumerGroups.committed(a, "teos").get.values.sum === 0L)
    assert(Transactions.recover(root) === 1)
    assert(ConsumerGroups.committed(a, "teos") === Some(p0.nextOffsets))
    assert(LogMetadata.read(b).files.forall(_.txn.isEmpty))
    assert(!fs.exists(txnDirPath("teos-txn")))
    assert(Transactions.recover(root) === 0, "finalize replay is idempotent")
  }

  test("one registry read and one isolation resolution per poll — first poll included") {
    val cfg = TopicConfig(root, "t_oneview", 1, 2)
    PolarLog.produce(rows(6, "base"), cfg)
    val h = Transactions.begin(root, "oneview")
    PolarLog.produce(rows(2, "held"), cfg, producerTxn = Some(h))
    val r0 = LogMetadata.rootReads.get()
    val v0 = Transactions.viewResolutions.get()
    val p = ConsumerGroups.poll(spark, cfg, "g_one",
      ConsumerGroups.Latest, isolation = "read_committed")
    assert(LogMetadata.rootReads.get() - r0 === 1L,
      "a first poll must read the registry exactly once")
    assert(Transactions.viewResolutions.get() - v0 === 1L,
      "a poll must resolve isolation exactly once")
    assert(p.nextOffsets.values.sum === 6L,
      "the Latest pin must come from the same (LSO-capped) view")
    Transactions.abort(h)
  }

  test("a raw DSv2 transactional.id write without transactional.epoch refuses (fencing)") {
    val h = Transactions.begin(root, "rawopt")
    val e = intercept[Exception] {
      rows(2, "x").write.format("polar")
        .option("root", root).option("topic", "t_rawopt")
        .option("transactional.id", "rawopt")
        .mode("append").save()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("transactional.epoch")), msgs(e).mkString(" | "))
    Transactions.abort(h)
  }

  test("arbiter resurrection guard: a create landing after full finalize follows the record") {
    val h = Transactions.begin(root, "resur")
    Transactions.abort(h) // the "winner" fully finalizes: directory gone
    assert(!fs.exists(txnDirPath("resur")))
    // the stalled loser's exclusive create now SUCCEEDS in a resurrected
    // directory (Hadoop's create auto-creates parents) — the guard must
    // undo the marker and follow the finalize record, never stand a
    // commit over an applied abort
    val kind = Transactions.decideTerminal(root, "resur", "commit", "explicit", h.epoch)
    assert(kind === "abort")
    assert(!fs.exists(new Path(txnDirPath("resur"), "terminal.json")),
      "the resurrected marker must be undone")
    // a record from a NEWER incarnation fences the stale handle outright
    val h2 = Transactions.begin(root, "resur")
    Transactions.abort(h2)
    val e = intercept[IllegalStateException] {
      Transactions.decideTerminal(root, "resur", "commit", "explicit", h.epoch) }
    assert(e.getMessage.contains("fenced"), e.getMessage)
  }

  test("finalize replay never regresses a group position advanced in between") {
    val a = TopicConfig(root, "t_noregress", 1, 1)
    PolarLog.produce(rows(8, "in"), a)
    ConsumerGroups.poll(spark, a, "nrg", ConsumerGroups.Earliest) // registers {0:0}
    val h = Transactions.begin(root, "nrg-txn")
    Transactions.sendOffsets(h, a, "nrg", Map(0 -> 4L))
    // the commit point lands; the committer dies before applying offsets
    val out = fs.create(new Path(txnDirPath("nrg-txn"), "terminal.json"), false)
    out.write(s"""{"format":1,"kind":"commit","epoch":${h.epoch}}"""
      .getBytes("UTF-8")); out.close()
    // the group advances on its own before the sweep replays the finalize
    ConsumerGroups.commit(a, "nrg", Map(0 -> 8L))
    assert(Transactions.recover(root) >= 1)
    assert(ConsumerGroups.committed(a, "nrg") === Some(Map(0 -> 8L)),
      "a stale staged offset must never rewind an advanced group")
  }

  test("idle finalize records expire after the id-expiration window; live ids keep theirs") {
    val h = Transactions.begin(root, "expire")
    Transactions.abort(h)
    val p = new Path(s"${Transactions.dir(root)}/${LogMetadata.hexEncode("expire")}.last")
    assert(fs.exists(p))
    val old = System.currentTimeMillis() - Transactions.IdExpirationMs - 60000L
    fs.setTimes(p, old, -1)
    assert(Transactions.expireIdleRecords(root) >= 1)
    assert(!fs.exists(p), "an idle id's finalize record must expire")
    // a LIVE incarnation's record survives the window (the epoch floor of
    // an active id must not be pruned out from under it)
    val h2 = Transactions.begin(root, "expire")
    Transactions.abort(h2)
    val h3 = Transactions.begin(root, "expire") // directory live again
    fs.setTimes(p, old, -1)
    Transactions.expireIdleRecords(root)
    assert(fs.exists(p), "a live id's finalize record must survive")
    Transactions.abort(h3)
  }

  test("sweep mark-reconciliation materializes gone-txn marks; successor marks untouched") {
    val cfg = TopicConfig(root, "t_reconcile", 1, 1)
    PolarLog.produce(rows(4, "base"), cfg)
    val h = Transactions.begin(root, "recon")
    PolarLog.produce(rows(3, "staged"), cfg, producerTxn = Some(h))
    val staged = LogMetadata.read(cfg).files.filter(_.txn.isDefined)
    Transactions.abort(h) // entries removed, dir dropped, .last = (e, abort)
    // a zombie CAS re-registers the aborted incarnation's marks...
    LogMetadata.casWithRetry(cfg)(_.appendFiles(staged))
    // ...plus an r13-legacy mark (epoch unknown = committed leftover) and
    // a successor-shaped mark NEWER than the last finalize (must be left
    // to its own transaction)
    val legacy = staged.head.copy(name = "legacy.parquet",
      minOffset = 100L, maxOffset = 100L, count = 1L, txnEpoch = -1L)
    val newer = staged.head.copy(name = "newer.parquet",
      minOffset = 200L, maxOffset = 200L, count = 1L, txnEpoch = h.epoch + 50)
    LogMetadata.casWithRetry(cfg)(_.appendFiles(Vector(legacy, newer)))
    val n = Transactions.reconcileMarks(cfg)
    assert(n === staged.size + 1, "aborted zombies unregister + legacy clears")
    val after = LogMetadata.read(cfg).files
    val stagedNames = staged.map(_.name).toSet
    assert(!after.exists(f => stagedNames(f.name)),
      "aborted-class marks must unregister")
    assert(after.exists(f => f.name == "legacy.parquet" && f.txn.isEmpty),
      "legacy (unknown-epoch) marks clear to plain committed entries")
    assert(after.exists(f => f.name == "newer.parquet" && f.txn.isDefined),
      "marks newer than the last finalize belong to a successor — untouched")
    assert(Transactions.reconcileMarks(cfg) === 0, "reconcile is idempotent")
    Transactions.unregisterEntries(cfg,
      Set((0, "legacy.parquet"), (0, "newer.parquet")))
  }

  test("persistently failing recovery escalates into the failed inventory") {
    val sickRoot = Files.createTempDirectory("polar_txn_sick").toString
    // a topic whose metadata is GARBAGE: every finalize against it throws
    val badCfg = TopicConfig(sickRoot, "bad", 1, 1)
    val badMeta = new Path(badCfg.metadataPath)
    val bfs = badMeta.getFileSystem(HadoopConf.shared)
    val o1 = bfs.create(badMeta, true)
    o1.write("""{"corrupt": true""".getBytes("UTF-8")); o1.close()
    val h = Transactions.begin(sickRoot, "sick")
    Transactions.touchTopic(sickRoot, "sick", "bad")
    val t = bfs.create(new Path(
      s"${Transactions.dir(sickRoot)}/${LogMetadata.hexEncode("sick")}/terminal.json"), false)
    t.write(s"""{"format":1,"kind":"abort","epoch":${h.epoch}}""".getBytes("UTF-8"))
    t.close()
    (1 to Transactions.FailedSweepThreshold).foreach { i =>
      Transactions.recover(sickRoot)
      val failed = Transactions.recoveryFailures(sickRoot)
      if (i < Transactions.FailedSweepThreshold)
        assert(!failed.contains("sick"), s"escalated too early at sweep $i")
      else {
        assert(failed.contains("sick"))
        assert(failed("sick")._1 >= Transactions.FailedSweepThreshold)
      }
    }
    // the operator repairs the topic; the next sweep resolves and clears
    bfs.delete(badMeta, false)
    assert(Transactions.recover(sickRoot) === 1)
    assert(!Transactions.recoveryFailures(sickRoot).contains("sick"))
  }

  test("a zombie's staged offsets landing in a successor's directory never apply") {
    val a = TopicConfig(root, "t_zoff_src", 1, 1)
    PolarLog.produce(rows(8, "in"), a)
    ConsumerGroups.poll(spark, a, "zg", ConsumerGroups.Earliest) // registers {0:0}
    val h1 = Transactions.begin(root, "zoff")
    val h2 = Transactions.begin(root, "zoff") // fences h1
    // cross-process zombie: h1's requireOpen raced the fencing begin and
    // passed before h2's directory landed — simulate the post-race write
    // (the g-file lands inside h2's directory, stamped with h1's epoch)
    val gName = s"g-${LogMetadata.hexEncode(a.topic)}-${LogMetadata.hexEncode("zg")}.json"
    val out = fs.create(new Path(txnDirPath("zoff"), gName), true)
    out.write(s"""{"epoch":${h1.epoch},"offsets":{"0":8}}""".getBytes("UTF-8"))
    out.close()
    Transactions.commit(h2)
    assert(ConsumerGroups.committed(a, "zg") === Some(Map(0 -> 0L)),
      "a fenced incarnation's staged offsets must be discarded, not applied")
    // the successor's OWN staging (matching epoch) applies normally
    val h3 = Transactions.begin(root, "zoff")
    Transactions.sendOffsets(h3, a, "zg", Map(0 -> 5L))
    Transactions.commit(h3)
    assert(ConsumerGroups.committed(a, "zg") === Some(Map(0 -> 5L)))
  }

  test("re-sent staged offsets swap whole: a concurrent reader never parses a torn doc") {
    val a = TopicConfig(root, "t_resend", 1, 2)
    LogMetadata.write(a, LogMetadata.empty(a))
    val h = Transactions.begin(root, "resend")
    Transactions.sendOffsets(h, a, "rg", Map(0 -> 0L, 1 -> 0L))
    val staged = new Path(txnDirPath("resend"),
      s"g-${LogMetadata.hexEncode(a.topic)}-${LogMetadata.hexEncode("rg")}.json")
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val torn = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var parsed = 0
    val reader = new Thread(() => while (!done.get) {
      try {
        val text = FsIO.read(staged)
        try { graft.functions.JsonText.parseObject(text); parsed += 1 }
        catch { case _: IllegalArgumentException => torn.add(text): Unit }
      } catch { case _: java.io.IOException => () } // mid-swap: read again
    })
    reader.start()
    try (1 to 200).foreach(i =>
      Transactions.sendOffsets(h, a, "rg", Map(0 -> i.toLong, 1 -> 2L * i)))
    finally { done.set(true); reader.join() }
    assert(torn.size === 0, s"torn reads, e.g. '${torn.peek}'")
    assert(parsed > 0, "the reader must have parsed the staged doc")
    Transactions.commit(h)
    assert(ConsumerGroups.committed(a, "rg") === Some(Map(0 -> 200L, 1 -> 400L)))
  }

  test("a stale lower-epoch terminal marker inside a live txn reads as Open and is cleared") {
    val h0 = Transactions.begin(root, "stalemark")
    Transactions.abort(h0)
    val h1 = Transactions.begin(root, "stalemark") // live successor
    // a failed resurrection-undo leftover: the OLD incarnation's marker
    // standing inside the successor's directory (all delete retries lost)
    val out = fs.create(new Path(txnDirPath("stalemark"), "terminal.json"), false)
    out.write(s"""{"format":1,"kind":"abort","epoch":${h0.epoch}}""".getBytes("UTF-8"))
    out.close()
    Transactions.state(root, "stalemark") match {
      case Transactions.Open(e, _, _) => assert(e === h1.epoch)
      case other => fail(s"stale marker must not mask the live txn: $other")
    }
    assert(!fs.exists(new Path(txnDirPath("stalemark"), "terminal.json")),
      "the stale marker must be cleared (it wedges the live txn's arbiter)")
    // recover() must NOT apply the stale abort over the live transaction
    assert(Transactions.recover(root) === 0)
    Transactions.commit(h1) // the un-wedged arbiter accepts the live commit
    assert(Transactions.state(root, "stalemark") === Transactions.Unknown)
    assert(Transactions.lastRecord(root, "stalemark") === Some((h1.epoch, "commit")))
  }

  test("a stale-looking marker WITHOUT finalize-record proof is ignored but never deleted") {
    // the review-found race: deleting on the epoch comparison alone could
    // remove a LIVE successor's just-created marker (whose .last is only
    // written by finalize) — the guard must demand durable proof
    val h1 = Transactions.begin(root, "noproof")
    val out = fs.create(new Path(txnDirPath("noproof"), "terminal.json"), false)
    out.write(s"""{"format":1,"kind":"abort","epoch":${h1.epoch - 10}}""".getBytes("UTF-8"))
    out.close()
    assert(Transactions.lastRecord(root, "noproof").isEmpty, "fixture: no record")
    Transactions.state(root, "noproof") match {
      case Transactions.Open(e, _, _) => assert(e === h1.epoch)
      case other => fail(s"must ignore the unproven marker as state: $other")
    }
    assert(fs.exists(new Path(txnDirPath("noproof"), "terminal.json")),
      "without finalize-record proof the marker must NOT be deleted")
    // the wedged arbiter fails the live commit LOUDLY (operator-visible),
    // never mis-resolves it
    intercept[IllegalStateException] { Transactions.commit(h1) }
    fs.delete(new Path(txnDirPath("noproof"), "terminal.json"), false)
    Transactions.abort(h1)
  }

  test("admin inventory lists producer transactions with state and age") {
    val h = Transactions.begin(root, "inv")
    val listed = Transactions.list(root)
    assert(listed.exists { case (id, st) =>
      id == "inv" && st.isInstanceOf[Transactions.Open] })
    Transactions.abort(h)
    assert(!Transactions.list(root).exists(_._1 == "inv"))
  }
}
