package graft.sources

import graft.GraftSession
import graft.log.{PolarLog, TopicConfig}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** `df.write.format("polar")` — the DSv2 batch sink path. */
class PolarWriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder(master = "local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def records = graft.Tables.events(spark, "/root/testdata/sf0.001")
    .select(col("user_id").cast("string").as("partitionKey"),
      col("ts").as("timestamp"), col("props").as("value"))

  test("write.format(polar) == PolarLog.produce (same placement and counts)") {
    val root = Files.createTempDirectory("polar_write_spec").toString
    records.write.format("polar")
      .option("root", root).option("topic", "w")
      .mode("append").save()
    val viaWriter = PolarLog.consume(spark, TopicConfig(root, "w"))
      .groupBy(col("part")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    val root2 = Files.createTempDirectory("polar_write_spec2").toString
    PolarLog.produce(records, TopicConfig(root2, "w"))
    val viaProduce = PolarLog.consume(spark, TopicConfig(root2, "w"))
      .groupBy(col("part")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    assert(viaWriter === viaProduce)
    assert(viaWriter.values.sum === records.count())
  }

  test("row-routed write: a per-row topic column fans one frame out to its topics") {
    val root = Files.createTempDirectory("polar_routed").toString
    // route by event_type into 3 topics; no 'topic' option anywhere
    val routed = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("event_id") < 600)
      .select(
        concat(lit("t"), (col("event_id") % 3).cast("string")).as("topic"),
        col("user_id").cast("string").as("partitionKey"),
        col("ts").as("timestamp"), col("props").as("value"))
    routed.write.format("polar").option("root", root).mode("append").save()

    // each topic's drained content == the per-topic split of the source
    (0 until 3).foreach { i =>
      val t = s"t$i"
      val got = PolarLog.consume(spark, TopicConfig(root, t))
        .select(col("partitionKey"), col("value")).collect()
        .map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1)))).sorted
      val want = routed.filter(col("topic") === t)
        .select(col("partitionKey"), col("value").cast("binary")).collect()
        .map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1)))).sorted
      assert(got.length > 0 && got.toSeq === want.toSeq, s"topic $t content")
      // offsets dense per partition — the routed writer kept the
      // single-writer counter invariant per (topic, part)
      val m = graft.log.LogMetadata.read(TopicConfig(root, t))
      m.filesByPart.foreach { case (p, files) =>
        val sorted = files.sortBy(_.minOffset)
        assert(sorted.head.minOffset === 0L)
        sorted.sliding(2).foreach {
          case Seq(a, b) => assert(b.minOffset === a.maxOffset + 1)
          case _ => ()
        }
        assert(sorted.last.maxOffset + 1 === m.producerOffsets(p))
      }
    }
    // a second routed produce APPENDS (offsets continue per topic)
    routed.filter(col("topic") === "t0").limit(10)
      .write.format("polar").option("root", root).mode("append").save()
    val t0 = graft.log.LogMetadata.read(TopicConfig(root, "t0"))
    assert(t0.version === 2L)

    // null topic refuses; invalid topic name refuses; overwrite refuses
    val spark2 = spark; import spark2.implicits._
    val bad = Seq(("k", Array[Byte](1))).toDF("partitionKey", "value")
      .withColumn("timestamp", current_timestamp())
    intercept[Exception] {
      bad.withColumn("topic", lit(null).cast("string"))
        .write.format("polar").option("root", root).mode("append").save()
    }
    intercept[Exception] {
      bad.withColumn("topic", lit("no/slashes"))
        .write.format("polar").option("root", root).mode("append").save()
    }
    val e = intercept[Exception] {
      bad.withColumn("topic", lit("t0"))
        .write.format("polar").option("root", root).mode("overwrite").save()
    }
    assert(e.getMessage.contains("topic"), e.getMessage)
    // no topic option AND no topic column: instructive refusal
    val none = intercept[Exception] {
      bad.write.format("polar").option("root", root).mode("append").save()
    }
    assert(none.getMessage.contains("topic"), none.getMessage)
  }

  test("row-routed streaming sink: per-topic epoch idempotence") {
    val root = Files.createTempDirectory("polar_routed_stream").toString
    val ckpt = Files.createTempDirectory("polar_routed_ckpt").toString
    val src = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("event_id") < 300)
      .select(
        concat(lit("s"), (col("event_id") % 2).cast("string")).as("topic"),
        col("user_id").cast("string").as("partitionKey"),
        col("ts").as("timestamp"), col("props").as("value"))
    // drive through a rate-less one-shot: a memory-backed batch df via
    // AvailableNow over a parquet dir the test stages
    val stage = Files.createTempDirectory("polar_routed_src").toString
    src.write.parquet(stage + "/d")
    val stream = spark.readStream.schema(src.schema).parquet(stage + "/d")
    val q = PolarLog.produceStreamRouted(stream, graft.log.RingTemplate(root))
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val counts0 = (0 until 2).map { i =>
      PolarLog.consume(spark, TopicConfig(root, s"s$i")).count()
    }
    assert(counts0.sum === 300L, s"per-topic counts $counts0")
    // both topics recorded the stream's (queryId, epoch) txn
    val epochs = (0 until 2).map { i =>
      graft.log.LogMetadata.read(TopicConfig(root, s"s$i"))
        .sinkCommits(q.id.toString)
    }
    assert(epochs.forall(_ >= 0L))
    // simulate a post-crash replay of the SAME epoch with fresh files —
    // EACH topic's CAS must drop it independently
    val schema = PolarLog.ValueSchema
      .add(org.apache.spark.sql.types.StructField("topic",
        org.apache.spark.sql.types.StringType, nullable = false))
      .add(org.apache.spark.sql.types.StructField("part",
        org.apache.spark.sql.types.IntegerType, nullable = false))
    val before = (0 until 2).map(i =>
      graft.log.LogMetadata.read(TopicConfig(root, s"s$i")))
    val rbw = new PolarRoutedBatchWrite(graft.log.RingTemplate(root), schema,
      PolarWrite.DefaultMaxFileBytes, PolarLog.DefaultMaxMessageSize,
      Some((q.id.toString, epochs.max)), PolarWrite.DefaultTxnRetentionMs)
    rbw.commit(Array(PolarRoutedCommitMessage((0 until 2).map { i =>
      s"s$i" -> Seq(graft.log.FileEntry(0, "ghost.parquet",
        before(i).producerOffsets(0), before(i).producerOffsets(0), 1, 10,
        System.currentTimeMillis()))
    }.toMap)))
    (0 until 2).foreach { i =>
      val after = graft.log.LogMetadata.read(TopicConfig(root, s"s$i"))
      assert(after.producerOffsets === before(i).producerOffsets,
        s"topic s$i re-registered a replayed epoch")
      assert(after.files.map(_.name).toSet === before(i).files.map(_.name).toSet)
    }
  }

  test("routing equivalence property: routed produce == per-topic produces") {
    // over random key→topic assignments, ONE routed write must leave every
    // topic byte-identical (content AND per-partition placement/order) to
    // producing its slice separately — the law the one-pass fan-out claims
    val rnd = new scala.util.Random(7)
    val spark2 = spark; import spark2.implicits._
    val rows = (0 until 400).map { i =>
      (s"t${rnd.nextInt(4)}", s"k${rnd.nextInt(60)}", s"v$i")
    }
    def frame(rs: Seq[(String, String, String)]) = rs
      .toDF("topic", "partitionKey", "v")
      .selectExpr("topic", "partitionKey",
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,CAST(SUBSTRING(v,2) AS INT)) AS timestamp",
        "CAST(v AS BINARY) AS value")
    val rootA = Files.createTempDirectory("polar_route_prop_a").toString
    val rootB = Files.createTempDirectory("polar_route_prop_b").toString
    frame(rows).write.format("polar").option("root", rootA)
      .mode("append").save()
    rows.groupBy(_._1).foreach { case (t, rs) =>
      PolarLog.produce(frame(rs).drop("topic"), TopicConfig(rootB, t))
    }
    (0 until 4).foreach { i =>
      val t = s"t$i"
      def dump(root: String) = PolarLog.consume(spark, TopicConfig(root, t))
        .selectExpr("part", "offset", "partitionKey", "CAST(value AS STRING)")
        .collect().map(r =>
          (r.getInt(0), r.getLong(1), r.getString(2), r.getString(3)))
        .sortBy(x => (x._1, x._2))
      assert(dump(rootA).toSeq === dump(rootB).toSeq,
        s"topic $t diverged between routed and per-topic produces")
    }
  }

  test("routed streaming abort after a partial commit spares committed topics' files") {
    import graft.log.{FileEntry, LogMetadata, RingTemplate}
    val root = Files.createTempDirectory("polar_routed_abort").toString
    val template = RingTemplate(root)
    // topic 'b' pre-exists with DIFFERENT geometry: its per-topic commit
    // throws AFTER topic 'a' (sorted order) already landed its CAS
    val spark2 = spark; import spark2.implicits._
    PolarLog.produce(Seq(("k", Array[Byte](1))).toDF("partitionKey", "value")
      .withColumn("timestamp", current_timestamp()),
      TopicConfig(root, "b", clusterSize = 6))
    def plant(topic: String, name: String): java.nio.file.Path = {
      val dir = java.nio.file.Paths.get(root, topic, "part=0")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve(name), Array[Byte](1, 2, 3))
    }
    val fa = plant("a", "seg-a.parquet")
    val fb = plant("b", "seg-b.parquet")
    val schema = PolarLog.ValueSchema
    val now = System.currentTimeMillis()
    val msg = PolarRoutedCommitMessage(Map(
      "a" -> Seq(FileEntry(0, "seg-a.parquet", 0, 0, 1, 3, now)),
      "b" -> Seq(FileEntry(0, "seg-b.parquet", 0, 0, 1, 3, now))))
    val w = new PolarRoutedStreamingWrite(template, schema,
      PolarWrite.DefaultMaxFileBytes, PolarLog.DefaultMaxMessageSize,
      "qid-abort", PolarWrite.DefaultTxnRetentionMs)
    val e = intercept[Exception](w.commit(0L, Array(msg)))
    assert(e.getMessage.contains("ring layout"), e.getMessage)
    // topic a's CAS landed — its file is REGISTERED log data now
    assert(LogMetadata.read(TopicConfig(root, "a")).files.map(_.name)
      === Vector("seg-a.parquet"))
    w.abort(0L, Array(msg))
    assert(java.nio.file.Files.exists(fa),
      "abort deleted a REGISTERED file of an already-committed topic")
    assert(!java.nio.file.Files.exists(fb),
      "abort must reclaim the uncommitted topic's file")
  }

  test("writer custom metrics count sealed segments and appended records") {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("polar_write_metrics").toString
    val cfg = TopicConfig(root, "wm")
    val w = new PolarRoutedWrite(graft.log.RingTemplate(root), PolarLog.ValueSchema
      .add(StructField("part", IntegerType, nullable = false)),
      PolarWrite.DefaultMaxFileBytes, declared = Some(cfg.topic))
    assert(w.supportedCustomMetrics().map(_.name()).toSet ===
      Set("polarSegmentsWritten", "polarRecordsWritten"))
    val writer = new PolarDataWriter(cfg.dir, PolarLog.ValueSchema
      .add(StructField("part", IntegerType, nullable = false)),
      Array.fill(12)(0L), taskId = 1L)
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(6)
    (0 until 7).foreach { i =>
      row.update(0, org.apache.spark.unsafe.types.UTF8String.fromString(s"k$i"))
      row.update(1, i.toLong)   // token
      row.update(2, 0L)         // offset placeholder (writer assigns)
      row.update(3, 1000000L)   // timestamp micros
      row.update(4, Array[Byte](1, 2, 3))
      row.update(5, i % 3)      // part
      writer.write(row)
    }
    val m = writer.currentMetricsValues().map(x => x.name() -> x.value()).toMap
    assert(m("polarRecordsWritten") === 7L)
    assert(m("polarSegmentsWritten") === 3L) // three live parts, one open seg each
    writer.commit()
  }

  test("an empty producer frame written with overwrite empties the topic; offsets continue") {
    val root = Files.createTempDirectory("polar_write_empty_ovw").toString
    val cfg = TopicConfig(root, "w")
    PolarLog.produce(records.limit(40), cfg)
    val preTails = PolarLog.tails(cfg)
    assert(preTails.values.sum === 40L)
    records.limit(0).write.format("polar").option("root", root).option("topic", "w")
      .mode("overwrite").save()
    assert(PolarLog.consume(spark, cfg).count() === 0)
    assert(graft.log.LogMetadata.read(cfg).files.isEmpty)
    val s = spark
    import s.implicits._
    val r = PolarLog.produce(Seq(("u-next", "v")).toDF("partitionKey", "value"), cfg)
    assert(r.recordsWritten === 1L)
    val row = PolarLog.consume(spark, cfg).select(col("part"), col("offset")).first()
    assert(row.getLong(1) === preTails(row.getInt(0)),
      "the produce after an empty overwrite did not continue the offsets")
  }

  test("append twice extends offsets; overwrite replaces atomically, offsets continue") {
    val root = Files.createTempDirectory("polar_write_spec3").toString
    val few = records.limit(50)
    few.write.format("polar").option("root", root).option("topic", "w")
      .mode("append").save()
    few.write.format("polar").option("root", root).option("topic", "w")
      .mode("append").save()
    val cfg = TopicConfig(root, "w")
    val log = PolarLog.consume(spark, cfg)
    assert(log.count() === 100)
    // offsets stay dense across appends
    val dense = log.groupBy(col("part"))
      .agg(count(lit(1)).as("n"), (max(col("offset")) + 1).as("span"))
      .filter(col("n") =!= col("span")).count()
    assert(dense === 0)

    // mode("overwrite") = atomic replace: one CAS drops every prior
    // segment and registers the new produce; offsets never reset
    val preTails = PolarLog.tails(cfg)
    few.write.format("polar").option("root", root).option("topic", "w")
      .mode("overwrite").save()
    val after = PolarLog.consume(spark, cfg)
    assert(after.count() === 50)
    val minOffsets = after.groupBy(col("part"))
      .agg(min(col("offset")).as("lo")).collect()
    assert(minOffsets.forall(r => r.getLong(1) >= preTails(r.getInt(0))),
      "offsets restarted after overwrite")
    // the replaced segments are gone from disk (reclaimed post-CAS)
    val meta = graft.log.LogMetadata.read(cfg)
    assert(meta.files.forall(f => f.minOffset >= preTails(f.part)))
    // an overwrite DELETES the old range with intent: the explicit log
    // start advances to the new files' floor, so a checkpoint inside the
    // replaced range trips failOnDataLoss (it would otherwise be silently
    // skipped when a stale materialized logStarts vector sat below)
    preTails.filter(_._2 > 0).keys.foreach { p =>
      assert(meta.logStart(p) >= preTails(p),
        s"logStart(${p}) did not advance past the replaced range")
    }
  }

  test("oversize record values are rejected (MaxMessageSize parity)") {
    val root = Files.createTempDirectory("polar_write_max").toString
    val cfg = TopicConfig(root, "w")
    val s = spark
    import s.implicits._
    val big = Seq(("k", "x" * 2048)).toDF("partitionKey", "value")
    val ex = intercept[Exception] {
      PolarLog.produce(big, cfg, maxMessageSize = 1024)
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(ex).exists(_.contains("maxMessageSize")), chain(ex).mkString("; "))
    // the failed produce must not become visible
    assert(PolarLog.consume(spark, cfg).count() === 0)
    // within-limit values on the same topic still produce fine
    val ok = Seq(("k", "small")).toDF("partitionKey", "value")
    PolarLog.produce(ok, cfg, maxMessageSize = 1024)
    assert(PolarLog.consume(spark, cfg).count() === 1)
  }

  test("row-routed write honors per-topic max.message.bytes at the append") {
    import graft.log.{LogMetadata, RingTemplate, TopicProps}
    val root = Files.createTempDirectory("polar_routed_max").toString
    val s = spark
    import s.implicits._
    // pre-create the capped topic and set its prop; 'wide' stays uncapped
    val capped = TopicConfig(root, "cap4")
    PolarLog.produce(Seq(("seed", "x")).toDF("partitionKey", "value"), capped)
    LogMetadata.compareAndSet(capped, LogMetadata.read(capped))(m =>
      m.copy(props = Map(TopicProps.MaxMessageBytes -> "4")))
    val rows = Seq(("cap4", "k1", "0123456789"), ("wide", "k2", "0123456789"))
      .toDF("topic", "partitionKey", "value")
    val ex = intercept[Exception] {
      PolarLog.produceRouted(rows, RingTemplate(root))
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(ex).exists(_.contains("max.message.bytes")),
      chain(ex).mkString("; "))
    // nothing from the failed produce became visible on the capped topic
    assert(PolarLog.consume(spark, capped).count() === 1)
    // rows within every destination's cap route fine
    PolarLog.produceRouted(
      Seq(("cap4", "k1", "ok"), ("wide", "k2", "0123456789"))
        .toDF("topic", "partitionKey", "value"), RingTemplate(root))
    assert(PolarLog.consume(spark, capped).count() === 2)
    assert(PolarLog.consume(spark, TopicConfig(root, "wide")).count() === 1)
    // a topic cap WIDER than the server-level value is honored too — the
    // routed path must match single-topic authority (topic config wins),
    // not merely tighten
    val up = TopicConfig(root, "cap1k")
    PolarLog.produce(Seq(("seed", "x")).toDF("partitionKey", "value"), up)
    LogMetadata.compareAndSet(up, LogMetadata.read(up))(m =>
      m.copy(props = Map(TopicProps.MaxMessageBytes -> "1024")))
    PolarLog.produceRouted(
      Seq(("cap1k", "k3", "0123456789")).toDF("topic", "partitionKey", "value"),
      RingTemplate(root), maxMessageSize = 4)
    assert(PolarLog.consume(spark, up).count() === 2)
    // while an un-propped destination still enforces the server value
    val e2 = intercept[Exception] {
      PolarLog.produceRouted(
        Seq(("plain", "k4", "0123456789")).toDF("topic", "partitionKey", "value"),
        RingTemplate(root), maxMessageSize = 4)
    }
    assert(chain(e2).exists(_.contains("max.message.bytes")),
      chain(e2).mkString("; "))
  }

  test("invalid topic names are rejected at config time") {
    for (bad <- Seq("", "a/b", "_reserved", ".hidden", "sp ace")) {
      intercept[IllegalArgumentException] {
        TopicConfig("/tmp", bad)
      }
    }
    TopicConfig("/tmp", "ok-topic_1.v2") // sanity: valid name accepted
  }

  test("txn produce is idempotent: a replayed (sink, batch) registers nothing") {
    val root = Files.createTempDirectory("polar_write_txn").toString
    val cfg = TopicConfig(root, "w")
    val r1 = PolarLog.produce(records, cfg, txn = Some(("ckpt-a", 0L)))
    assert(r1.recordsWritten > 0)
    val metaAfter = graft.log.LogMetadata.read(cfg)
    // crash-replay of the same batch: same data, same txn marker
    val r2 = PolarLog.produce(records, cfg, txn = Some(("ckpt-a", 0L)))
    assert(r2.recordsWritten === 0, "replayed batch must not re-register")
    assert(graft.log.LogMetadata.read(cfg).version === metaAfter.version)
    assert(PolarLog.consume(spark, cfg).count() === records.count())
    // no orphan files left behind by the replay
    assert(graft.log.PolarLog.vacuum(cfg) === 0)
    // the NEXT batch goes through
    val r3 = PolarLog.produce(records, cfg, txn = Some(("ckpt-a", 1L)))
    assert(r3.recordsWritten === records.count())
    // a different sink's batch 0 is unrelated
    val r4 = PolarLog.produce(records, cfg, txn = Some(("ckpt-b", 0L)))
    assert(r4.recordsWritten === records.count())
    assert(PolarLog.consume(spark, cfg).count() === 3 * records.count())
  }

  test("sinkCommits registry is pruned by txn retention (bounded under churn)") {
    val root = Files.createTempDirectory("polar_txn_prune").toString
    val cfg = TopicConfig(root, "w")
    val few = records.limit(20)
    // ad-hoc queryId churn: distinct sink ids, each commit expiring idle
    // entries older than the (tiny) retention window
    (0 until 4).foreach { i =>
      PolarLog.produce(few, cfg, txn = Some((s"churn-$i", 0L)),
        txnRetentionMs = 100L)
      Thread.sleep(250)
    }
    val meta = graft.log.LogMetadata.read(cfg)
    assert(meta.sinkCommits.keySet === Set("churn-3"),
      s"stale txn entries must expire, got ${meta.sinkCommits.keySet}")
    assert(meta.sinkCommitMs.contains("churn-3"))
    // a replay of a RETAINED txn still drops (idempotence inside the window)
    val r = PolarLog.produce(few, cfg, txn = Some(("churn-3", 0L)),
      txnRetentionMs = 100L)
    assert(r.recordsWritten === 0)
    assert(PolarLog.consume(spark, cfg).count() === 4 * few.count())
  }

  test("a terminally failed commit reclaims its rebase-rewritten files") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val root = Files.createTempDirectory("polar_rb_orphans").toString
    val cfg = TopicConfig(root, "rb")
    PolarLog.produce(records.limit(30), cfg)
    val total = PolarLog.consume(spark, cfg).count()
    // a partition that already has data, so the stale-based batch MUST
    // rebase (rewriteShifted deletes the original and writes an rb* file)
    val busyPart = PolarLog.consume(spark, cfg).groupBy(col("part")).count()
      .orderBy(col("count").desc).first().getInt(0)
    val schema = PolarLog.ValueSchema
      .add(StructField("part", IntegerType, nullable = false))
    val writer = new PolarDataWriter(cfg.dir, schema,
      Array.fill(cfg.numPartitions)(0L), taskId = 9L)
    val row = new GenericInternalRow(6)
    (0 until 5).foreach { i =>
      row.update(0, UTF8String.fromString(s"k$i"))
      row.update(1, i.toLong)
      row.update(2, 0L)
      row.update(3, 1000000L)
      row.update(4, Array[Byte](1, 2))
      row.update(5, busyPart)
      writer.write(row)
    }
    val msg = writer.commit().asInstanceOf[PolarCommitMessage]
    // tamper the entry so the post-rebase density check fails TERMINALLY
    // (count != offset span): the commit rebases first — creating the rb*
    // replacement and deleting the original — then throws
    val bad = PolarCommitMessage(msg.files.map(f => f.copy(count = f.count + 1)))
    val bw = new PolarBatchWrite(cfg, schema)
    intercept[IllegalArgumentException] { bw.commit(Array(bad)) }
    // the failure path must have reclaimed the rb* file (the original is
    // gone — Spark's abort only knows the original names): zero orphans
    assert(PolarLog.vacuum(cfg, dryRun = true) === 0)
    // and the topic is untouched
    assert(PolarLog.consume(spark, cfg).count() === total)
  }

  test("segments roll at maxFileBytes: bounded files, dense offset chains") {
    val root = Files.createTempDirectory("polar_write_roll").toString
    records.write.format("polar")
      .option("root", root).option("topic", "w")
      .option("maxFileBytes", "4096") // tiny cap -> many segments
      .mode("append").save()
    val cfg = TopicConfig(root, "w")
    val meta = graft.log.LogMetadata.read(cfg)
    val perPart = meta.files.groupBy(_.part)
    assert(perPart.values.exists(_.size > 1),
      s"expected rolled segments, got ${perPart.view.mapValues(_.size).toMap}")
    // every partition's segments form a dense offset chain from 0
    perPart.foreach { case (p, fs) =>
      val sorted = fs.sortBy(_.minOffset)
      assert(sorted.head.minOffset === 0L)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(b.minOffset === a.maxOffset + 1, s"gap in part $p")
        case _ => ()
      }
    }
    // and the data reads back whole
    assert(PolarLog.consume(spark, cfg).count() === records.count())
    // single-writer invariant held even with rolling: offsets dense
    val bad = PolarLog.consume(spark, cfg).groupBy(col("part"))
      .agg(count(lit(1)).as("n"), (max(col("offset")) + 1).as("span"))
      .filter(col("n") =!= col("span")).count()
    assert(bad === 0)
  }

  test("per-topic segment.bytes governs the roll size on direct and routed produces") {
    import graft.log.{LogMetadata, RingTemplate, TopicProps}
    val root = Files.createTempDirectory("polar_segbytes").toString
    val cfg = TopicConfig(root, "segb")
    // padded values so every partition holds several roll units
    val fat = records.withColumn("value",
      rpad(col("value").cast("string"), 512, "x").cast("binary"))
    // create, then configure a tiny roll size on the TOPIC (no write option)
    PolarLog.produce(fat.limit(1), cfg)
    LogMetadata.compareAndSet(cfg, LogMetadata.read(cfg))(m =>
      m.copy(props = Map(TopicProps.SegmentBytes -> "4096")))
    PolarLog.produce(fat, cfg) // default maxFileBytes, prop must win
    val perPart = LogMetadata.read(cfg).files.groupBy(_.part)
    assert(perPart.values.exists(_.size > 2),
      s"prop roll size ignored: ${perPart.view.mapValues(_.size).toMap}")
    assert(PolarLog.consume(spark, cfg).count() === fat.count() + 1)
    // the routed path resolves the same prop per destination
    val routedRoot = Files.createTempDirectory("polar_segbytes_r").toString
    val rCfg = TopicConfig(routedRoot, "segr")
    PolarLog.produce(fat.limit(1), rCfg)
    LogMetadata.compareAndSet(rCfg, LogMetadata.read(rCfg))(m =>
      m.copy(props = Map(TopicProps.SegmentBytes -> "4096")))
    PolarLog.produceRouted(
      fat.withColumn("topic", lit("segr")), RingTemplate(routedRoot))
    val routedPerPart = LogMetadata.read(rCfg).files.groupBy(_.part)
    assert(routedPerPart.values.exists(_.size > 2),
      s"routed roll ignored: ${routedPerPart.view.mapValues(_.size).toMap}")
    assert(PolarLog.consume(spark, rCfg).count() === fat.count() + 1)
  }

  test("planning is metadata-only: unregistered files are invisible; vacuum reclaims them") {
    val root = Files.createTempDirectory("polar_write_orphan").toString
    val cfg = TopicConfig(root, "w")
    PolarLog.produce(records.limit(60), cfg)
    val before = PolarLog.consume(spark, cfg).count()

    // drop an orphan parquet into a partition dir, as an aborted task would
    val partDir = new java.io.File(s"${cfg.dir}/part=0")
    partDir.mkdirs()
    val orphanSrc = partDir.listFiles().find(_.getName.endsWith(".parquet"))
      .getOrElse(new java.io.File(s"${cfg.dir}").listFiles()
        .filter(_.isDirectory).flatMap(_.listFiles())
        .find(_.getName.endsWith(".parquet")).get)
    val orphan = new java.io.File(partDir, "worphan-deadbeef.parquet")
    java.nio.file.Files.copy(orphanSrc.toPath, orphan.toPath)

    // batch consume, DSv2 read and count all plan from the registry — the
    // duplicate bytes on disk change nothing
    assert(PolarLog.consume(spark, cfg).count() === before)
    val dsv2 = spark.read.format("polar")
      .option("root", cfg.root).option("topic", cfg.topic).load()
    assert(dsv2.count() === before)
    assert(dsv2.collect().length === before)

    assert(PolarLog.vacuum(cfg) === 1)
    assert(!orphan.exists())
    assert(PolarLog.consume(spark, cfg).count() === before)
  }

  test("concurrent producers: the CAS loser rebases its offsets and commits") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.connector.write.PhysicalWriteInfo
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val root = Files.createTempDirectory("polar_write_cc").toString
    val cfg = TopicConfig(root, "cc", clusterSize = 3, rangesPerToken = 4)
    graft.log.LogMetadata.write(cfg, graft.log.LogMetadata.empty(cfg))
    val schema = StructType(Seq(
      StructField("partitionKey", StringType), StructField("token", LongType),
      StructField("part", IntegerType), StructField("timestamp", TimestampType),
      StructField("value", BinaryType)))
    // both writes snapshot metadata v0 — a deterministic plan-time race
    val bw1 = new PolarBatchWrite(cfg, schema)
    val bw2 = new PolarBatchWrite(cfg, schema)
    def writeRows(bw: PolarBatchWrite, tag: String, n: Int) = {
      val factory = bw.createBatchWriterFactory(
        new PhysicalWriteInfo { override def numPartitions(): Int = 1 })
      val w = factory.createWriter(0, 0L)
      (0 until n).foreach { i =>
        val row = new GenericInternalRow(5)
        row.update(0, UTF8String.fromString(s"k${i % 2}"))
        row.update(1, java.lang.Long.valueOf(0L))
        row.update(2, java.lang.Integer.valueOf(i % 2))
        row.update(3, java.lang.Long.valueOf(1000000L * i))
        row.update(4, s"$tag-$i".getBytes("UTF-8"))
        w.write(row)
      }
      w.commit()
    }
    val m1 = writeRows(bw1, "a", 10)
    val m2 = writeRows(bw2, "b", 6)
    bw1.commit(Array(m1))
    bw2.commit(Array(m2)) // stale snapshot: must rebase, not throw

    val log = PolarLog.consume(spark, cfg)
    assert(log.count() === 16)
    val bad = log.groupBy(col("part"))
      .agg(count(lit(1)).as("n"), (max(col("offset")) + 1).as("span"),
        countDistinct(col("offset")).as("d"))
      .filter(col("n") =!= col("span") || col("n") =!= col("d")).count()
    assert(bad === 0, "offsets must stay dense and unique per partition")
    // the loser's records sit after the winner's in every partition
    val rows = log.select(col("part"), col("offset"), col("value").cast("string"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
    assert(rows.count(_._3.startsWith("b-")) === 6)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val aMax = rs.filter(_._3.startsWith("a-")).map(_._2).max
      val bMin = rs.filter(_._3.startsWith("b-")).map(_._2).min
      assert(aMax < bMin, s"rebased batch must follow the winner: $rs")
    }
  }

  test("a commit rewrites only the touched partitions' manifests") {
    val root = Files.createTempDirectory("polar_write_manifest").toString
    val cfg = TopicConfig(root, "m")
    PolarLog.produce(records, cfg)
    val meta1 = graft.log.LogMetadata.read(cfg)
    val names1 = meta1.manifestNames
    assert(names1.nonEmpty)
    // a single-key batch lands in exactly one partition
    val s = spark
    import s.implicits._
    val one = Seq(("u-solo", "v")).toDF("partitionKey", "value")
    PolarLog.produce(one, cfg)
    val meta2 = graft.log.LogMetadata.read(cfg)
    val touched = meta2.producerOffsets.zipWithIndex.collect {
      case (t, p) if t != meta1.producerOffsets(p) => p
    }
    assert(touched.size === 1)
    val changed = meta2.manifestNames.filter { case (p, n) =>
      !names1.get(p).contains(n)
    }.keySet
    assert(changed === touched.toSet,
      s"only partition ${touched.head}'s manifest may change, got $changed")
    // untouched partitions share the same file vectors byte-for-byte
    (0 until cfg.numPartitions).filterNot(touched.contains).foreach { p =>
      assert(meta2.filesOf(p) === meta1.filesOf(p))
    }
  }

  test("a small segment's partitionKey bloom stays small") {
    // 30 distinct keys fall back from dictionary to PLAIN, so the bloom is
    // written; with parquet's default 5 candidates under the 128 KiB cap
    // the smallest is 8 KiB, a footer larger than the segment's data
    val path = new org.apache.hadoop.fs.Path(
      Files.createTempDirectory("polar_bloom").toString, "part=0/w.parquet")
    val conf = PolarDataWriter.writeConf()
    val w = PolarDataWriter.open(path, conf)
    try (0 until 30).foreach { i =>
      w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(f"user-$i%05d"),
          i.toLong * 7919L, i.toLong, 1700000000000000L + i,
          s"""{"seq":$i,"body":"${"x" * 200}"}""".getBytes("UTF-8"))))
    } finally w.close()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
    val key = try reader.getFooter.getBlocks.get(0).getColumns.toArray.toSeq
      .map(_.asInstanceOf[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData])
      .find(_.getPath.toDotString == "partitionKey").get
    finally reader.close()
    assert(key.getBloomFilterLength > 0, "the bloom must be written")
    assert(key.getBloomFilterLength <= 2048, s"bloom ${key.getBloomFilterLength} B")
  }
}
