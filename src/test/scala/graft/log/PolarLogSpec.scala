package graft.log

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** Produce→consume round-trips over the real testdata, asserting the
  * FIXTURES.md §5 invariant checklist. */
class PolarLogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var root: String = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = GraftSession.builder(master = "local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    root = Files.createTempDirectory("polar_log_spec").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def eventsAsRecords = graft.Tables.events(spark, sfDir)
    .select(col("user_id").cast("string").as("partitionKey"),
      col("ts").as("timestamp"),
      to_json(struct(col("event_id"), col("event_type"), col("value"))).as("value"),
      col("event_id"))

  test("produce assigns dense offsets per partition from 0") {
    val cfg = TopicConfig(root, "t_dense")
    val res = PolarLog.produce(eventsAsRecords.drop("event_id"), cfg,
      orderBy = Seq(col("timestamp"), col("value")))
    assert(res.recordsWritten === 1000)
    val log = PolarLog.consume(spark, cfg)
    val perPart = log.groupBy("part")
      .agg(count(lit(1)).as("n"), min("offset").as("lo"), max("offset").as("hi"),
        countDistinct("offset").as("distinct_offsets"))
      .collect()
    perPart.foreach { r =>
      assert(r.getAs[Long]("lo") === 0L, s"partition ${r.get(0)} must start at 0")
      assert(r.getAs[Long]("hi") === r.getAs[Long]("n") - 1)
      assert(r.getAs[Long]("distinct_offsets") === r.getAs[Long]("n"))
    }
    assert(perPart.map(_.getAs[Long]("n")).sum === 1000)
  }

  test("a produce on a file: root writes no .crc sidecar; its data files are its segments") {
    val cfg = TopicConfig(root, "t_no_crc")
    assert(cfg.numPartitions === 12)
    PolarLog.produce(eventsAsRecords.drop("event_id").limit(64), cfg)
    val files = {
      val s = Files.walk(java.nio.file.Paths.get(cfg.dir))
      try s.filter(Files.isRegularFile(_)).toArray.toSeq
        .map(f => java.nio.file.Paths.get(cfg.dir).relativize(
          f.asInstanceOf[java.nio.file.Path]).toString)
      finally s.close()
    }
    assert(!files.exists(_.endsWith(".crc")), files)
    val segments = LogMetadata.read(cfg).files.map(f => s"part=${f.part}/${f.name}")
    assert(segments.map(n => n.take(n.indexOf('/'))).distinct.size > 1)
    assert(files.filter(_.endsWith(".parquet")).toSet === segments.toSet)
  }

  test("planning a consume over more than 32 segments on a file: root runs no Spark job") {
    val cfg = TopicConfig(root, "t_plan_no_job")
    (0 until 6).foreach(_ => PolarLog.produce(eventsAsRecords.drop("event_id").limit(64), cfg))
    assert(LogMetadata.read(cfg).files.size > 32)
    // job starts by the "probe" local property of the thread that ran them
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("probe"))).foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("probe", "plan")
      val log = PolarLog.consume(spark, cfg)
      // a marker job: listener events arrive in order, so once it is seen
      // every job the planning started has been seen too
      sc.setLocalProperty("probe", "marker")
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty("probe", null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains("marker"))
      assert(!seen.contains("plan"), "planning listed the segments with a Spark job")
      assert(log.count() === 384)
    } finally sc.removeSparkListener(listener)
  }

  test("a segment scan with missingOk skips deleted segments, and all of them") {
    val cfg = TopicConfig(root, "t_scan_missing")
    PolarLog.produce(eventsAsRecords.drop("event_id").limit(64), cfg)
    val files = LogMetadata.read(cfg).files
    val gone = files.head
    Files.delete(java.nio.file.Paths.get(gone.path(cfg)))
    val paths = files.map(_.path(cfg))
    assert(PolarLog.scanSegments(spark, cfg, paths, missingOk = true).count() ===
      64L - gone.count)
    intercept[java.io.FileNotFoundException](PolarLog.scanSegments(spark, cfg, paths))
    assert(PolarLog.scanSegments(spark, cfg, Seq(gone.path(cfg)), missingOk = true)
      .count() === 0L)
  }

  test("same key always lands in the same partition; placement matches kernel") {
    val cfg = TopicConfig(root, "t_placement")
    PolarLog.produce(eventsAsRecords.drop("event_id"), cfg)
    val byKey = PolarLog.consume(spark, cfg)
      .groupBy("partitionKey").agg(countDistinct("part").as("nparts")).collect()
    byKey.foreach(r => assert(r.getAs[Long]("nparts") === 1L))
    // spot-check against driver-side kernel math
    val sample = PolarLog.consume(spark, cfg)
      .select("partitionKey", "token", "part").distinct().collect()
    sample.foreach { r =>
      val expectTok = graft.functions.Murmur3.hashString(r.getString(0))
      assert(r.getLong(1) === expectTok)
      assert(r.getInt(2) ===
        graft.functions.TokenMath.partitionForToken(expectTok, 3, 4))
    }
  }

  test("per-key read order equals produce order (offsets monotone in event order)") {
    val cfg = TopicConfig(root, "t_order")
    PolarLog.produce(eventsAsRecords.drop("event_id"), cfg,
      orderBy = Seq(col("timestamp"), col("value")))
    val w = Window.partitionBy("part").orderBy("offset")
    val violations = PolarLog.consume(spark, cfg)
      .withColumn("prev_ts", lag(col("timestamp"), 1).over(w))
      .filter(col("prev_ts").isNotNull && col("prev_ts") > col("timestamp"))
      .count()
    assert(violations === 0L, "offset order must respect produce order per partition")
  }

  test("metadata doc round-trips sink txn timestamps; legacy 2-tuple entries parse") {
    // pre-r9 docs carry ["hex",batch] sink entries (no timestamp): they
    // must parse with an empty sinkCommitMs and be stamped lazily later
    val legacy = """{"version":1,"clusterSize":3,"rangesPerToken":4,""" +
      """"commitMs":5,"producerOffsets":[0,0,0,0,0,0,0,0,0,0,0,0],""" +
      """"sinkCommits":[["6162",3]],"manifests":[]}"""
    val m = LogMetadata.parse(legacy)
    assert(m.sinkCommits === Map("ab" -> 3L))
    assert(m.sinkCommitMs.isEmpty)
    // current render carries the timestamp and round-trips exactly
    val stamped = m.copy(sinkCommitMs = Map("ab" -> 42L))
    val back = LogMetadata.parse(LogMetadata.render(stamped))
    assert(back.sinkCommits === stamped.sinkCommits)
    assert(back.sinkCommitMs === stamped.sinkCommitMs)
  }

  test("second produce continues offsets (append, not restart)") {
    val cfg = TopicConfig(root, "t_append")
    val firstHalf = eventsAsRecords.filter(col("event_id") <= 500).drop("event_id")
    val secondHalf = eventsAsRecords.filter(col("event_id") > 500).drop("event_id")
    val r1 = PolarLog.produce(firstHalf, cfg)
    val r2 = PolarLog.produce(secondHalf, cfg)
    r2.newTails.foreach { case (p, tail) =>
      assert(tail >= r1.newTails.getOrElse(p, 0L))
    }
    val log = PolarLog.consume(spark, cfg)
    assert(log.count() === 1000)
    // still dense after append
    val bad = log.groupBy("part")
      .agg(count(lit(1)).as("n"), max("offset").as("hi"))
      .filter(col("hi") =!= col("n") - 1).count()
    assert(bad === 0L)
  }

  test("null keys spread across partitions without a key column") {
    val cfg = TopicConfig(root, "t_nullkey")
    val df = graft.Tables.events(spark, sfDir)
      .select(col("ts").as("timestamp"), col("props").as("value"))
    PolarLog.produce(df, cfg)
    val parts = PolarLog.consume(spark, cfg).select("part").distinct().count()
    assert(parts >= 6, s"null-key records should spread widely, got $parts partitions")
  }

  test("offset-range consume prunes and bounds correctly") {
    val cfg = TopicConfig(root, "t_range")
    PolarLog.produce(eventsAsRecords.drop("event_id"), cfg)
    val tails = PolarLog.tails(cfg)
    val p0 = tails.keys.min
    val slice = PolarLog.consume(spark, cfg,
      startOffsets = Map(p0 -> 2L), endOffsets = Map(p0 -> 5L))
      .filter(col("part") === p0)
    assert(slice.select("offset").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(2L, 3L, 4L))
  }

  test("consumer groups: earliest sees all, latest sees only new, redelivery until commit") {
    val cfg = TopicConfig(root, "t_groups")
    PolarLog.produce(eventsAsRecords.filter(col("event_id") < 600).drop("event_id"), cfg)

    // earliest: new group reads from 0
    val pEarly = ConsumerGroups.poll(spark, cfg, "g_early", ConsumerGroups.Earliest)
    assert(pEarly.records.count() === 600)
    // no commit -> redelivery of the same records
    val pAgain = ConsumerGroups.poll(spark, cfg, "g_early", ConsumerGroups.Earliest)
    assert(pAgain.records.count() === 600)
    ConsumerGroups.commit(cfg, "g_early", pAgain.nextOffsets)
    assert(ConsumerGroups.poll(spark, cfg, "g_early").records.count() === 0)

    // latest: new group registered now sees only post-registration records
    val pLate = ConsumerGroups.poll(spark, cfg, "g_late", ConsumerGroups.Latest)
    assert(pLate.records.count() === 0)
    ConsumerGroups.commit(cfg, "g_late", pLate.nextOffsets)
    PolarLog.produce(eventsAsRecords.filter(col("event_id") >= 600).drop("event_id"), cfg)
    val pLate2 = ConsumerGroups.poll(spark, cfg, "g_late")
    assert(pLate2.records.count() === 400)
    // committed earliest group also sees exactly the delta
    assert(ConsumerGroups.poll(spark, cfg, "g_early").records.count() === 400)
  }

  test("latest-policy registration pins the start: uncommitted polls re-serve, never skip") {
    val cfg = TopicConfig(root, "t_pin")
    PolarLog.produce(eventsAsRecords.filter(col("event_id") < 300).drop("event_id"), cfg)
    // registration at current tails
    assert(ConsumerGroups.poll(spark, cfg, "g_pin", ConsumerGroups.Latest)
      .records.count() === 0)
    // new data lands; TWO uncommitted polls must both serve it (at-least-once)
    PolarLog.produce(eventsAsRecords.filter(col("event_id") >= 300 &&
      col("event_id") < 500).drop("event_id"), cfg)
    val p1 = ConsumerGroups.poll(spark, cfg, "g_pin")
    val p2 = ConsumerGroups.poll(spark, cfg, "g_pin")
    assert(p1.records.count() === 200)
    assert(p2.records.count() === 200, "uncommitted poll must re-serve, not skip")
  }

  test("goodbye unregisters: a reborn group starts fresh from its policy") {
    val cfg = TopicConfig(root, "t_bye")
    PolarLog.produce(eventsAsRecords.filter(col("event_id") < 400).drop("event_id"), cfg)
    val p = ConsumerGroups.poll(spark, cfg, "g_bye", ConsumerGroups.Earliest)
    assert(p.records.count() === 400)
    ConsumerGroups.goodbye(cfg, "g_bye", p.nextOffsets)
    assert(ConsumerGroups.committed(cfg, "g_bye").isEmpty, "state file must be gone")
    // reborn with Earliest: full replay, not resume
    assert(ConsumerGroups.poll(spark, cfg, "g_bye", ConsumerGroups.Earliest)
      .records.count() === 400)
  }

  test("ndjson ingestion normalizes CRLF line endings") {
    val cfg = TopicConfig(root, "t_crlf")
    val reqs = spark.createDataFrame(Seq(("k1", "{\"a\":1}\r\n{\"a\":2}\r\n")))
      .toDF("partitionKey", "body")
    val res = PolarLog.ingestNdjson(reqs, cfg)
    assert(res.recordsWritten === 2)
    val vals = PolarLog.consume(spark, cfg)
      .select(col("value").cast("string")).collect().map(_.getString(0)).toSet
    assert(vals === Set("{\"a\":1}", "{\"a\":2}"), "no trailing CR bytes")
  }

  test("ndjson ingestion splits lines into records") {
    val cfg = TopicConfig(root, "t_ndjson")
    val reqs = spark.createDataFrame(Seq(
      ("k1", "{\"a\":1}\n{\"a\":2}\n{\"a\":3}"),
      ("k2", "{\"b\":1}\n\n{\"b\":2}\n"))) // blank lines dropped
      .toDF("partitionKey", "body")
    val res = PolarLog.ingestNdjson(reqs, cfg)
    assert(res.recordsWritten === 5)
    val vals = PolarLog.consume(spark, cfg)
      .select(col("value").cast("string")).collect().map(_.getString(0)).toSet
    assert(vals === Set("{\"a\":1}", "{\"a\":2}", "{\"a\":3}", "{\"b\":1}", "{\"b\":2}"))
  }

  test("retention GC deletes aged files and leaves fresh ones") {
    val cfg = TopicConfig(root, "t_gc")
    PolarLog.produce(eventsAsRecords.drop("event_id"), cfg)
    val none = PolarLog.cleanRetention(cfg, retentionMs = 60_000L)
    assert(none === 0)
    val all = PolarLog.cleanRetention(cfg, retentionMs = 0L,
      nowMs = System.currentTimeMillis() + 120_000L)
    assert(all > 0)
    assert(PolarLog.consume(spark, cfg).count() === 0L)
  }

  test("multi-consumer assignment: deterministic round-robin, disjoint and complete (A16)") {
    val cfg = TopicConfig(root, "t_rebal")
    PolarLog.produce(eventsAsRecords.drop("event_id"), cfg)
    val total = PolarLog.consume(spark, cfg).count()

    // unit p -> member p % n over SORTED ids, independent of input order
    val a = ConsumerGroups.assignment(cfg, Seq("b", "a", "c"))
    assert(a === ConsumerGroups.assignment(cfg, Seq("c", "b", "a", "a")))
    assert(a("a") === (0 until cfg.numPartitions by 3))
    assert(a("b") === (1 until cfg.numPartitions by 3))
    // members beyond the unit count receive nothing
    val many = ConsumerGroups.assignment(cfg, (0 until 20).map(i => f"m$i%02d"))
    assert(many.values.map(_.size).sum === cfg.numPartitions)
    assert(many(f"m${19}%02d") === Seq.empty)

    // two members: polls are disjoint and their union is the whole log
    val members = Seq("c1", "c2")
    val p1 = ConsumerGroups.pollAs(spark, cfg, "g", "c1", members, ConsumerGroups.Earliest)
    val p2 = ConsumerGroups.pollAs(spark, cfg, "g", "c2", members, ConsumerGroups.Earliest)
    assert(p1.records.count() + p2.records.count() === total)
    assert(p1.records.select("part").intersect(p2.records.select("part")).count() === 0)

    // partial commit of c1 leaves c2's backlog intact
    ConsumerGroups.commitPartial(cfg, "g", p1.nextOffsets)
    assert(ConsumerGroups.pollAs(spark, cfg, "g", "c1", members).records.count() === 0)
    assert(ConsumerGroups.pollAs(spark, cfg, "g", "c2", members).records.count() ===
      p2.records.count())
  }

  test("pollAs plans only the member's files") {
    val cfg = TopicConfig(root, "t_rebal_files")
    val members = Seq("c1", "c2")
    val mine = ConsumerGroups.assignment(cfg, members)("c1").toSet
    def planned(p: ConsumerGroups.Poll): Set[String] =
      p.records.inputFiles.map(f => new org.apache.hadoop.fs.Path(f))
        .map(f => s"${f.getParent.getName}/${f.getName}").toSet
    def registered(keep: FileEntry => Boolean): Set[String] =
      LogMetadata.read(cfg).files.filter(keep).map(f => s"part=${f.part}/${f.name}").toSet
    PolarLog.produce(eventsAsRecords.drop("event_id"), cfg)
    PolarLog.produce(eventsAsRecords.drop("event_id"), cfg)
    // a new group: every file of the member's partitions, none of the others'
    val first = ConsumerGroups.pollAs(spark, cfg, "g", "c1", members, ConsumerGroups.Earliest)
    assert(planned(first) === registered(f => mine(f.part)))
    // a committed position: the other member's empty windows start
    // mid-log, and still plan none of its files
    val tails = PolarLog.tails(cfg)
    ConsumerGroups.commit(cfg, "g", tails)
    PolarLog.produce(eventsAsRecords.drop("event_id"), cfg)
    val next = ConsumerGroups.pollAs(spark, cfg, "g", "c1", members)
    assert(planned(next) ===
      registered(f => mine(f.part) && f.maxOffset >= tails.getOrElse(f.part, 0L)))
    assert(next.records.count() === PolarLog.consume(spark, cfg,
      startOffsets = tails).filter(col("part").isin(mine.toSeq: _*)).count())
  }

  test("concurrent producer is rejected by metadata CAS") {
    val cfg = TopicConfig(root, "t_cas")
    PolarLog.produce(eventsAsRecords.drop("event_id").limit(10), cfg)
    val stale = LogMetadata.read(cfg).copy(version = 99L)
    intercept[IllegalStateException] {
      LogMetadata.compareAndSet(cfg, stale)(identity)
    }
  }

  test("empty produce is a no-op that leaves metadata untouched") {
    val cfg = TopicConfig(root, "t_empty")
    PolarLog.produce(eventsAsRecords.drop("event_id").limit(5), cfg)
    val before = LogMetadata.read(cfg)
    val res = PolarLog.produce(
      eventsAsRecords.drop("event_id").filter(col("partitionKey") === "no_such_key"), cfg)
    assert(res.recordsWritten === 0)
    val after = LogMetadata.read(cfg)
    assert(after.producerOffsets === before.producerOffsets)
    assert(PolarLog.consume(spark, cfg).count() === 5)
  }

  test("a single-topic produce reads the topic's root doc a bounded number of times") {
    val cfg = TopicConfig(root, "t_root_reads")
    val df = spark.createDataFrame(Seq(("k1", "a"), ("k2", "b")))
      .toDF("partitionKey", "value")
    PolarLog.produce(df, cfg) // the topic exists from here on, like a flush target
    val before = LogMetadata.rootReads.get()
    PolarLog.produce(df, cfg)
    val reads = LogMetadata.rootReads.get() - before
    assert(reads <= 4L, s"$reads root-doc reads for one produce")
  }

  test("per-topic max.message.bytes caps the produce path (topic config wins)") {
    val cfg = TopicConfig(root, "t_maxmsg")
    val df = spark.createDataFrame(Seq(("k1", "0123456789")))
      .toDF("partitionKey", "value")
    // no prop: the 10-byte value passes under the server default
    PolarLog.produce(df, cfg)
    LogMetadata.compareAndSet(cfg, LogMetadata.read(cfg))(m =>
      m.copy(props = Map(TopicProps.MaxMessageBytes -> "4")))
    // the topic prop overrides the (wider) caller value — Kafka semantics
    val e = intercept[Exception] {
      PolarLog.produce(df, cfg, maxMessageSize = 1 << 20)
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")) ++ Iterator("")).mkString(" ")
    assert(rootMsg(e).contains("maxMessageSize=4"), rootMsg(e))
    // nothing half-registered
    assert(PolarLog.consume(spark, cfg).count() === 1)
    // a value inside the cap still produces
    PolarLog.produce(spark.createDataFrame(Seq(("k2", "ok")))
      .toDF("partitionKey", "value"), cfg)
    assert(PolarLog.consume(spark, cfg).count() === 2)
    // validator guards the SQL/admin faces
    intercept[IllegalArgumentException] {
      TopicProps.validate(TopicProps.MaxMessageBytes, "0")
    }
  }

  test("case-variant producer columns keep their keys and timestamps (resolver parity)") {
    val cfg = TopicConfig(root, "t_casing")
    val ts = java.sql.Timestamp.valueOf("2020-03-04 05:06:07")
    val df = spark.createDataFrame(Seq(("k1", ts, "v1"), ("k2", ts, "v2")))
      .toDF("PARTITIONKEY", "TIMESTAMP", "VALUE")
    // pre-fix, withColumn's case-insensitive replace silently NULLed every
    // key and swapped the event times for wall clock
    PolarLog.produce(df, cfg)
    val rows = PolarLog.consume(spark, cfg)
      .selectExpr("partitionKey", "timestamp", "CAST(value AS STRING)")
      .collect()
    assert(rows.length === 2)
    assert(rows.forall(_.getString(0) != null), "keys must survive casing")
    assert(rows.forall(_.getTimestamp(1) === ts), "event times must survive casing")
    // and the merge path preserves a case-variant source timestamp
    val mcfg = TopicConfig(root, "t_casing_m")
    PolarLog.produce(df.limit(1), mcfg)
    PolarLog.merge(spark, mcfg, spark.createDataFrame(Seq(("k9", ts, "v9")))
      .toDF("PARTITIONKEY", "TIMESTAMP", "VALUE")
      .selectExpr("PARTITIONKEY", "TIMESTAMP", "CAST(VALUE AS BINARY) AS VALUE"))
    val merged = PolarLog.consume(spark, mcfg)
      .filter(col("partitionKey") === "k9").head()
    assert(merged.getTimestamp(merged.fieldIndex("timestamp")) === ts,
      "merge must carry the source event time, not wall clock")
  }

  test("unicode and empty-string keys route deterministically") {
    val cfg = TopicConfig(root, "t_unicode")
    val df = spark.createDataFrame(Seq(
      ("日本語キー", "v1"), ("ключ", "v2"), ("", "v3"), ("emoji🔥", "v4")))
      .toDF("partitionKey", "value")
    PolarLog.produce(df, cfg)
    val rows = PolarLog.consume(spark, cfg)
      .select("partitionKey", "token", "part").collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      val expect = graft.functions.Murmur3.hashString(r.getString(0))
      assert(r.getLong(1) === expect)
      assert(r.getInt(2) ===
        graft.functions.TokenMath.partitionForToken(expect, 3, 4))
    }
  }

  test("metadata json round-trips") {
    val m = LogMetadata(7L, 3, 4, Vector.tabulate(12)(_.toLong * 5))
    assert(LogMetadata.parse(LogMetadata.render(m)) === m)
    val o = Map(0 -> 5L, 3 -> 11L)
    assert(ConsumerGroups.parseOffsets(ConsumerGroups.render(o)) === o)
    // per-topic config props round-trip; absent props parse as empty
    val withProps = m.copy(props = Map(
      "retention.ms" -> "3600000", "cleanup.policy" -> "compact"))
    assert(LogMetadata.parse(LogMetadata.render(withProps)) === withProps)
  }

  test("root-doc fields round-trip over randomized docs (ledger, props, logStarts)") {
    // deterministic fuzz of the ROOT-doc regex serde: any combination of
    // optional sections (props / logStarts / pendingDeletes) must parse
    // back identically — the section extractors are hand-rolled regexes,
    // and a new section leaking into a neighbor's match is exactly the
    // class of bug this catches
    val rnd = new scala.util.Random(20260816L)
    def randName() = {
      val pfx = Seq("", "kc", "cp", "rb3-")(rnd.nextInt(4))
      f"$pfx${rnd.nextInt(1 << 20)}%011d-${rnd.alphanumeric.take(8).mkString}.parquet"
    }
    (1 to 200).foreach { _ =>
      val parts = 1 + rnd.nextInt(24)
      val m = LogMetadata(
        rnd.nextInt(1000).toLong, 1 + rnd.nextInt(8), 1 + rnd.nextInt(4),
        Vector.fill(parts)(rnd.nextLong(1L << 40)),
        commitMs = rnd.nextLong(1L << 45),
        props =
          if (rnd.nextBoolean()) Map.empty
          else Map("retention.ms" -> rnd.nextInt(1 << 30).toString,
            "file.delete.delay.ms" -> rnd.nextInt(1 << 30).toString),
        logStarts =
          if (rnd.nextBoolean()) Vector.empty
          else Vector.fill(parts)(rnd.nextLong(1L << 40)),
        pendingDeletes =
          if (rnd.nextBoolean()) Vector.empty
          else Vector.fill(1 + rnd.nextInt(40))(PendingDelete(
            rnd.nextInt(parts), randName(),
            if (rnd.nextInt(10) == 0) Long.MaxValue else rnd.nextLong(1L << 45))))
      val doc = LogMetadata.render(m)
      assert(LogMetadata.parse(doc) === m, s"round-trip failed for: $doc")
      // the conditional format stamp: ledger-bearing docs refuse older
      // readers, plain docs stay compatible
      val fmt = """"format":(\d+)""".r.findFirstMatchIn(doc).get.group(1).toInt
      assert(fmt === (if (m.pendingDeletes.nonEmpty) 5 else 2))
    }
  }

  test("format-versioned docs: current stamp round-trips, newer formats refuse loudly") {
    val m = LogMetadata(7L, 3, 4, Vector.tabulate(12)(_.toLong * 5))
    val doc = LogMetadata.render(m)
    // root docs and dense manifests stamp the DENSE format (older readers
    // handle them correctly); readers accept anything <= CurrentFormat
    assert(doc.contains(s""""format":${LogMetadata.DenseFormat}"""))
    assert(LogMetadata.parse(doc) === m)
    // a FUTURE format (new tuple shapes this reader's regexes would
    // silently zero-match) must refuse, never fabricate an empty topic
    val future = doc.replaceFirst(
      s""""format":${LogMetadata.DenseFormat}""",
      s""""format":${LogMetadata.CurrentFormat + 1}""")
    val e = intercept[IllegalStateException](LogMetadata.parse(future))
    assert(e.getMessage.contains("format"))
    // dense manifests stay at the dense stamp...
    val man = LogMetadata.renderManifest(
      Vector(FileEntry(0, "a.parquet", 0, 1, 2, 100, 1L)))
    assert(man.contains(s""""format":${LogMetadata.DenseFormat}"""))
    // ...but a manifest holding an offset-SPARSE entry (key compaction)
    // stamps the SPARSE format: a pre-r10 reader would silently return
    // short LIMIT/top-N answers over it, so it must refuse instead
    val sparse = LogMetadata.renderManifest(
      Vector(FileEntry(0, "kc.parquet", 0, 9, 4, 100, 1L)))
    assert(sparse.contains(s""""format":${LogMetadata.SparseFormat}"""))
    assert(LogMetadata.parseManifestDoc(sparse).files.head.count === 4)
    // a structural cleanedMs (KIP-534 horizon) round-trips and stamps the
    // CLEANED format — a pre-r12 reader's entry regex would zero-match the
    // 11-element tuple and fabricate an empty topic, so it must refuse
    val cleanedEntry = FileEntry(0, "kc00000000000-c1234-x.parquet",
      0, 9, 4, 100, 1L, 5L, 9L, 0L, cleanedMs = 1234L)
    val cleaned = LogMetadata.renderManifest(Vector(cleanedEntry))
    assert(cleaned.contains(s""""format":${LogMetadata.CleanedFormat}"""))
    assert(LogMetadata.parseManifestDoc(cleaned).files.head === cleanedEntry)
    // entries WITHOUT a horizon keep the shorter tuple (-1 on parse), and a
    // mixed manifest parses both shapes
    val mixed = LogMetadata.renderManifest(Vector(cleanedEntry,
      FileEntry(0, "b.parquet", 10, 11, 2, 100, 1L)))
    val parsed = LogMetadata.parseManifestDoc(mixed).files
    assert(parsed.map(_.cleanedMs) === Vector(1234L, -1L))
    val futureMan = man.replaceFirst(
      s""""format":${LogMetadata.DenseFormat}""",
      s""""format":${LogMetadata.CurrentFormat + 9}""")
    intercept[IllegalStateException](LogMetadata.parseManifestDoc(futureMan))
    // pre-stamp docs (no "format" field) keep parsing — all their tuple
    // shapes are <= the current format by construction
    val unstamped = doc.replaceFirst(
      s""""format":${LogMetadata.DenseFormat},""", "")
    assert(LogMetadata.parse(unstamped) === m)
  }

  test("legacy inline-files metadata docs still parse") {
    val doc = """{"version":3,"clusterSize":3,"rangesPerToken":4,""" +
      """"producerOffsets":[2,0,0,0,0,0,0,0,0,0,0,1],"sinkCommits":[],""" +
      """"files":[[0,"a.parquet",0,1,2,100,1700000000000],""" +
      """[11,"b.parquet",0,0,1,50,1700000000001]]}"""
    val m = LogMetadata.parse(doc)
    assert(m.version === 3 && m.filesOf(0).map(_.name) === Vector("a.parquet"))
    assert(m.filesOf(11).head.count === 1 && m.manifestNames.isEmpty)
    assert(m.files.size === 2)
  }

  test("manifest entries round-trip ts stats; legacy 7-field entries parse as unprunable") {
    val withStats = Vector(
      FileEntry(0, "a.parquet", 0, 9, 10, 400, 1700000000000L,
        tsMin = 1700000000000000L, tsMax = 1700000600000000L),
      FileEntry(0, "b.parquet", 10, 19, 10, 400, 1700000000001L))
    val back = LogMetadata.parseManifest(LogMetadata.renderManifest(withStats))
    assert(back === withStats)
    assert(back(1).tsMin === Long.MinValue && back(1).tsMax === Long.MaxValue)
    // a pre-round-4 manifest without the two ts fields
    val legacy = """{"files":[[0,"old.parquet",0,4,5,200,1699999999999]]}"""
    val lm = LogMetadata.parseManifest(legacy)
    assert(lm.head.name === "old.parquet" && lm.head.count === 5)
    assert(lm.head.tsMin === Long.MinValue && lm.head.tsMax === Long.MaxValue)
  }

  test("epoch-stamped txn marks round-trip (format 7); r13 epoch-less marks parse as -1") {
    val marked = Vector(
      FileEntry(0, "m.parquet", 0, 9, 10, 400, 1700000000000L,
        txn = Some("etl-txn"), txnEpoch = 1755000000123L),
      FileEntry(0, "plain.parquet", 10, 19, 10, 400, 1700000000001L))
    val rendered = LogMetadata.renderManifest(marked)
    assert(rendered.contains(""""format":7"""),
      s"marked manifests must stamp format 7: $rendered")
    val back = LogMetadata.parseManifest(rendered)
    assert(back === marked)
    // an r13-written mark (12-element tuple, format 6): epoch reads -1
    val r13 = """{"format":6,"files":[[0,"old.parquet",0,4,5,200,1699999999999,""" +
      s"""-9223372036854775808,9223372036854775807,-1,-1,"${LogMetadata.hexEncode("legacy-id")}"]]}"""
    val lm = LogMetadata.parseManifest(r13)
    assert(lm.head.txn === Some("legacy-id") && lm.head.txnEpoch === -1L)
    // mark-free manifests keep their older stamps (broadly readable)
    assert(!LogMetadata.renderManifest(marked.drop(1)).contains(""""format":7"""))
  }

  test("manifest root doc round-trips pointers") {
    val m = LogMetadata(9L, 3, 4, Vector.tabulate(12)(_ => 0L),
      manifestNames = Map(0 -> "part-00000-v9-abc12345.json",
        7 -> "part-00007-v9-def67890.json"))
    val back = LogMetadata.parse(LogMetadata.render(m))
    assert(back.manifestNames === m.manifestNames)
    assert(back.version === 9L)
  }

  test("manifest segment docs round-trip parent pointers and depth") {
    val seg = LogMetadata.ManifestDoc(Some("part-00000-v3-aaaa1111.json"), 5,
      Vector(FileEntry(0, "c.parquet", 20, 29, 10, 400, 1700000000002L)))
    val back = LogMetadata.parseManifestDoc(LogMetadata.renderManifestDoc(seg))
    assert(back === seg)
    // a full snapshot has no parent and depth 0 — also what every legacy
    // manifest parses as
    val full = LogMetadata.parseManifestDoc(
      LogMetadata.renderManifest(Vector(FileEntry(1, "d.parquet", 0, 0, 1, 10, 1L))))
    assert(full.parent === None && full.depth === 0)
  }

  test("commits write O(delta) manifest bytes; chains resolve and cap") {
    val cfg = TopicConfig(root, "chain_bytes")
    val mdir = new java.io.File(LogMetadata.manifestDir(cfg))
    def entry(i: Long) = FileEntry(0, f"f$i%06d.parquet", i * 10, i * 10 + 9,
      10, 1000, 1700000000000L + i)
    def manifests: Map[String, Long] =
      Option(mdir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".json")) // skip ChecksumFs .crc sidecars
        .filterNot(_.getName.startsWith("root-v")) // time-travel snapshots
        .map(f => f.getName -> f.length()).toMap
    // seed: one commit registering 2000 files (the big-partition state)
    LogMetadata.write(cfg, LogMetadata.empty(cfg))
    var cur = LogMetadata.read(cfg)
    cur = LogMetadata.compareAndSet(cfg, cur)(
      _.appendFiles((0L until 2000L).map(entry)))
    val seeded = manifests
    val fullBytes = seeded.values.max // the 2000-entry snapshot
    // a single-file commit writes one NEW manifest of O(1-entry) size
    cur = LogMetadata.compareAndSet(cfg, cur)(_.appendFiles(Seq(entry(2000L))))
    val delta = (manifests -- seeded.keys).values
    assert(delta.size === 1)
    assert(delta.head < fullBytes / 100,
      s"delta commit wrote ${delta.head}B vs full snapshot ${fullBytes}B")
    // resolution includes the whole chain, from a COLD cache too
    LogMetadata.clearManifestCachesForTest()
    assert(LogMetadata.read(cfg).filesOf(0).size === 2001)
    // many more single-file commits: depth caps, reads stay exact
    (2001L until 2040L).foreach { i =>
      cur = LogMetadata.compareAndSet(cfg, cur)(_.appendFiles(Seq(entry(i))))
    }
    LogMetadata.clearManifestCachesForTest()
    val resolved = LogMetadata.read(cfg).filesOf(0)
    assert(resolved.size === 2040)
    assert(resolved.map(_.minOffset) === resolved.map(_.minOffset).sorted)
    // a REMOVAL (retention/compaction shape) forces a full snapshot and
    // still reads back exactly
    cur = LogMetadata.compareAndSet(cfg, cur)(m =>
      m.copy(filesByPart = m.filesByPart.updated(0, m.filesOf(0).drop(2))))
    LogMetadata.clearManifestCachesForTest()
    assert(LogMetadata.read(cfg).filesOf(0).size === 2038)
    // vacuum keeps every live chain segment: a post-vacuum cold read works
    graft.log.PolarLog.vacuum(cfg, manifestGraceMs = 0L,
      nowMs = System.currentTimeMillis() + 10000)
    LogMetadata.clearManifestCachesForTest()
    assert(LogMetadata.read(cfg).filesOf(0).size === 2038)
  }

  test("compacted view: latest per key, tombstones remove, nulls-keys excluded") {
    val s = spark
    import s.implicits._
    val cfg = TopicConfig(root, "t_ktable")
    def rec(k: String, sec: Long, v: String) = (k, sec, v)
    // three versions of k1, two of k2, one null-key record
    val r1 = Seq(rec("k1", 10, "a"), rec("k2", 11, "x"), rec("k1", 12, "b"))
    val r2 = Seq(rec("k1", 20, "c"), rec("k2", 21, "y"))
    def produce(rows: Seq[(String, Long, String)]) =
      PolarLog.produce(rows.toDF("partitionKey", "sec", "v")
        .select(col("partitionKey"), timestamp_seconds(col("sec")).as("timestamp"),
          col("v").cast("binary").as("value")), cfg,
        orderBy = Seq(col("timestamp")))
    produce(r1); produce(r2)
    PolarLog.produce(Seq((null: String, 30L, "orphan")).toDF("partitionKey", "sec", "v")
      .select(col("partitionKey"), timestamp_seconds(col("sec")).as("timestamp"),
        col("v").cast("binary").as("value")), cfg, orderBy = Seq(col("timestamp")))
    val view1 = PolarLog.consumeCompacted(spark, cfg)
      .select(col("partitionKey"), col("value").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(view1.toSeq === Seq(("k1", "c"), ("k2", "y")))
    // tombstone for k1 → key disappears; k2 unaffected
    PolarLog.produce(Seq(("k1", 40L)).toDF("partitionKey", "sec")
      .select(col("partitionKey"), timestamp_seconds(col("sec")).as("timestamp"),
        lit(null).cast("binary").as("value")), cfg, orderBy = Seq(col("timestamp")))
    val view2 = PolarLog.consumeCompacted(spark, cfg)
      .select(col("partitionKey"), col("value").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(view2.toSeq === Seq(("k2", "y")))
    // the log itself is untouched: every version still addressable
    assert(PolarLog.consume(spark, cfg).count() === 7)
    // and the view composes with time travel: as of the pre-tombstone
    // commit, k1 is still materialized with its then-latest value
    val vPre = LogMetadata.read(cfg).version - 1
    val viewAt = PolarLog.consumeCompacted(spark, cfg, Some(vPre))
      .select(col("partitionKey"), col("value").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(viewAt.toSeq === Seq(("k1", "c"), ("k2", "y")))
  }

  test("249-255-char topic names: grandfathered topics read and write, new ones refuse") {
    val long249 = "g" * 249
    // the split rule itself: read paths accept up to the filesystem's 255,
    // creation caps at 248 (derived journal names add 7 bytes)
    assert(TopicConfig.validTopicName(long249))
    assert(!TopicConfig.validNewTopicName(long249))
    assert(TopicConfig.validNewTopicName("g" * 248))
    assert(!TopicConfig.validTopicName("g" * 256))
    // a PRE-EXISTING topic at 249 chars (created before the cap): its
    // metadata is on disk with version >= 1 — upgrade must not brick it
    val cfg = TopicConfig(root, long249, 1, 2)
    LogMetadata.write(cfg, LogMetadata.empty(cfg).copy(version = 3L))
    val rows = spark.range(4).selectExpr("cast(id as string) as partitionKey",
      "timestamp_micros(id) as timestamp", "cast(id as string) as value")
    PolarLog.produce(rows, cfg)
    assert(PolarLog.consume(spark, cfg).count() === 4L)
    // a FRESH 249-char topic refuses at first produce (= creation)
    val fresh = TopicConfig(root, "h" * 249, 1, 2)
    val e = intercept[Exception] { PolarLog.produce(rows, fresh) }
    assert(e.getMessage.contains("248"), s"unexpected: ${e.getMessage}")
  }
}
