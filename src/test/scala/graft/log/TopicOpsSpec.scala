package graft.log

import graft.GraftSession
import graft.functions.TokenMath
import graft.streaming.GraftMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

class TopicOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var root: String = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = GraftSession.builder(master = "local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    root = Files.createTempDirectory("topic_ops_spec").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def frame(parts: Array[Byte]*): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    parts.foreach { p =>
      buf.write(Array[Byte]((p.length >>> 24).toByte, (p.length >>> 16).toByte,
        (p.length >>> 8).toByte, p.length.toByte))
      buf.write(p)
    }
    buf.toByteArray
  }

  test("framed ingestion splits big-endian length-prefixed bodies (A5)") {
    val cfg = TopicConfig(root, "t_frames")
    val body = frame("alpha".getBytes, "bb".getBytes, Array[Byte]())
    val df = spark.createDataFrame(Seq(("k1", 1)))
      .toDF("partitionKey", "ignore").drop("ignore")
      .withColumn("body", lit(body))
    val res = TopicOps.ingestFrames(df, cfg)
    assert(res.recordsWritten === 3)
    val vals = PolarLog.consume(spark, cfg)
      .select(col("value").cast("string")).collect().map(_.getString(0)).toSet
    assert(vals === Set("alpha", "bb", ""))
  }

  test("truncated frame body is rejected") {
    val cfg = TopicConfig(root, "t_frames_bad")
    val bad = Array[Byte](0, 0, 0, 9, 1, 2) // declares 9 bytes, has 2
    val df = spark.createDataFrame(Seq(Tuple1("k")))
      .toDF("partitionKey").withColumn("body", lit(bad))
    val e = intercept[Exception] { TopicOps.ingestFrames(df, cfg) }
    assert(e.getMessage.contains("truncated") ||
      Option(e.getCause).exists(_.getMessage.contains("truncated")))
  }

  test("pollJson emits the reference consumer response shape (A19)") {
    val cfg = TopicConfig(root, "t_json")
    val recs = graft.Tables.events(spark, sfDir)
      .filter(col("event_id") < 50)
      .select(col("user_id").cast("string").as("partitionKey"),
        col("ts").as("timestamp"), col("props").as("value"))
    PolarLog.produce(recs, cfg)
    val items = TopicOps.pollJson(cfg, PolarLog.consume(spark, cfg))
    assert(items.nonEmpty)
    items.foreach { json =>
      assert(json.contains("\"topic\":\"t_json\""))
      assert(json.contains("\"rangeIndex\":"))
      assert(json.contains("\"version\":1"))
      // int64s serialized as strings, reference-style
      assert("\"token\":\"-?\\d+\"".r.findFirstIn(json).isDefined, json.take(120))
      assert("\"startOffset\":\"\\d+\"".r.findFirstIn(json).isDefined)
      assert(json.contains("\"values\":["))
    }
  }

  test("ring repartition preserves records, per-key order, and placement (A22/A29)") {
    val cfg = TopicConfig(root, "t_scale", clusterSize = 3)
    val recs = graft.Tables.events(spark, sfDir)
      .select(col("user_id").cast("string").as("partitionKey"),
        col("ts").as("timestamp"), col("props").as("value"))
    PolarLog.produce(recs, cfg, orderBy = Seq(col("timestamp"), col("value")))

    val result = TopicOps.repartitionTopic(spark, cfg, "t_scale_v2", newClusterSize = 6)
    assert(result.recordsMoved === 1000)
    val newLog = PolarLog.consume(spark, result.newCfg)
    assert(newLog.count() === 1000)
    // placement matches the 6-ring kernel math for every key
    newLog.select("partitionKey", "part").distinct().collect().foreach { r =>
      val tok = graft.functions.Murmur3.hashString(r.getString(0))
      assert(r.getInt(1) === graft.functions.TokenMath.partitionForToken(tok, 6, 4))
    }
    // per-key event-time order preserved within new partitions
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("part").orderBy("offset")
    val violations = newLog
      .withColumn("prev_ts", lag(col("timestamp"), 1).over(w))
      .filter(col("prev_ts").isNotNull && col("prev_ts") > col("timestamp")).count()
    assert(violations === 0)
    // old broker tokens keep their keys: a key on broker i of the 3-ring
    // lands on broker 2i of the 6-ring unless it moved to the new
    // interleaved broker — both are in the projected range set
    val proj = graft.functions.TokenMath
      .projectRangeByClusterSize(graft.functions.TokenMath.tokenAtIndex(3, 0), 0, 4, 3, 6)
    assert(proj.nonEmpty)
  }

  test("ring scale-DOWN (6 -> 3) preserves records and placement (A30)") {
    val cfg = TopicConfig(root, "t_down", clusterSize = 6)
    val recs = graft.Tables.events(spark, sfDir)
      .select(col("user_id").cast("string").as("partitionKey"),
        col("ts").as("timestamp"), col("props").as("value"))
    PolarLog.produce(recs, cfg)
    val result = TopicOps.repartitionTopic(spark, cfg, "t_down_v2", newClusterSize = 3)
    assert(result.recordsMoved === 1000)
    val newLog = PolarLog.consume(spark, result.newCfg)
    assert(newLog.count() === 1000)
    newLog.select("partitionKey", "part").distinct().collect().foreach { r =>
      val tok = graft.functions.Murmur3.hashString(r.getString(0))
      assert(r.getInt(1) === graft.functions.TokenMath.partitionForToken(tok, 3, 4))
    }
  }

  test("caught-up groups project to new tails; lagging groups restart (A22)") {
    val cfg = TopicConfig(root, "t_scale_g", clusterSize = 3)
    val recs = graft.Tables.events(spark, sfDir)
      .select(col("user_id").cast("string").as("partitionKey"),
        col("ts").as("timestamp"), col("props").as("value"))
    PolarLog.produce(recs, cfg)
    // caught-up group
    val p = ConsumerGroups.poll(spark, cfg, "done", ConsumerGroups.Earliest)
    p.records.count()
    ConsumerGroups.commit(cfg, "done", p.nextOffsets)
    // lagging group: committed nothing past zero
    ConsumerGroups.commit(cfg, "lagging", Map(0 -> 0L))

    val result = TopicOps.repartitionTopic(spark, cfg, "t_scale_g_v2", 6)
    assert(result.groupsProjected.toSet === Set("done", "lagging"))
    assert(ConsumerGroups.poll(spark, result.newCfg, "done").records.count() === 0)
    assert(ConsumerGroups.poll(spark, result.newCfg, "lagging").records.count() === 1000)
  }

  test("pollBinary items decode back to the log's records (A18)") {
    val cfg = TopicConfig(root, "t_binary")
    val recs = graft.Tables.events(spark, sfDir)
      .select(col("user_id").cast("string").as("partitionKey"),
        col("ts").as("timestamp"), col("props").as("value"))
    PolarLog.produce(recs, cfg)
    val items = TopicOps.pollBinary(cfg, PolarLog.consume(spark, cfg))
    assert(items.nonEmpty)

    var decodedRecords = 0L
    var decodedBytes = 0L
    items.foreach { bytes =>
      val buf = java.nio.ByteBuffer.wrap(bytes) // big-endian by default
      buf.getLong // token
      val rangeIndex = buf.get() & 0xff
      assert(rangeIndex >= 0 && rangeIndex < cfg.rangesPerToken)
      assert(buf.getInt === 1) // version
      val topicLen = buf.get() & 0xff
      val topicBytes = new Array[Byte](topicLen)
      buf.get(topicBytes)
      assert(new String(topicBytes, "UTF-8") === "t_binary")
      assert(buf.getLong === 0L) // startOffset (full poll)
      val payloadLen = buf.getInt
      assert(payloadLen === buf.remaining())
      while (buf.hasRemaining) {
        val ts = buf.getLong
        assert(ts > 0L)
        val len = buf.getInt
        val body = new Array[Byte](len)
        buf.get(body)
        decodedRecords += 1
        decodedBytes += len
      }
    }
    val log = PolarLog.consume(spark, cfg)
    assert(decodedRecords === log.count())
    assert(decodedBytes ===
      log.agg(sum(length(col("value")))).head.getLong(0))
  }

  test("poll renderers match the column-expression rendering on awkward values") {
    val awkward: Seq[Array[Byte]] = Seq(
      "plain", "q\"uote", "back\\slash", "line\nbreak", "cr\rlf\n", "tab\tbed",
      "bs\bx", "ff\fx", "ctl\u0001x", "esc\u001bx", "héllo ✓ 日本", "",
      "{\"json\":[1,\"two\"]}").map(_.getBytes("UTF-8")) ++
      Seq(Array(0xC3, 0x28).map(_.toByte), Array(0xFF, 0x41, 0xE2, 0x82).map(_.toByte))
    val cfg = TopicConfig(root, "t_render")
    // plus one tombstone: JSON renders it null, the binary block leaves it out
    val rows = (awkward :+ (null: Array[Byte])).zipWithIndex.map { case (v, i) =>
      (s"k${i % 5}", new java.sql.Timestamp(1700000000000L + i * 1000L), v) }
    PolarLog.produce(spark.createDataFrame(rows)
      .toDF("partitionKey", "timestamp", "value"), cfg)
    val records = PolarLog.consume(spark, cfg)
    val ranges = cfg.rangesPerToken
    val tokens = (0 until cfg.clusterSize).map(TokenMath.tokenAtIndex(cfg.clusterSize, _))

    // the reference: the column expressions the renderers replaced
    def refJson(records: org.apache.spark.sql.DataFrame) = records.groupBy(col("part"))
      .agg(min(col("offset")).as("startOffset"),
        sort_array(collect_list(struct(col("offset"),
          col("value").cast("string").as("v")))).as("recs"))
      .select(col("part"), to_json(struct(
        lit(cfg.topic).as("topic"),
        element_at(array(tokens.map(t => lit(t.toString)): _*),
          floor(col("part") / ranges).cast("int") + 1).as("token"),
        (col("part") % ranges).as("rangeIndex"),
        lit(1).as("version"),
        col("startOffset").cast("string").as("startOffset"),
        transform(col("recs"), r => r.getField("v")).as("values"))))
      .collect().map(r => r.getInt(0) -> r.getString(1)).sortBy(_._1).map(_._2).toSeq
    val hexI64 = (c: org.apache.spark.sql.Column) => lpad(hex(c), 16, "0")
    def refBinary(records: org.apache.spark.sql.DataFrame) = records
      .withColumn("__rec", struct(col("offset"),
        concat(hexI64(unix_micros(col("timestamp"))),
          lpad(hex(length(col("value"))), 8, "0"), hex(col("value"))).as("h"),
        (length(col("value")) + 12L).as("bytes")))
      .groupBy(col("part"))
      .agg(min(col("offset")).as("startOffset"),
        sum(col("__rec.bytes")).as("payloadBytes"),
        sort_array(collect_list(col("__rec"))).as("recs"))
      .select(col("part"), concat(
        element_at(array(tokens.map(t => lit(f"$t%016X")): _*),
          floor(col("part") / ranges).cast("int") + 1),
        lpad(hex(col("part") % ranges), 2, "0"),
        lit("00000001"),
        lpad(hex(length(lit(cfg.topic))), 2, "0"),
        hex(lit(cfg.topic)),
        hexI64(col("startOffset")),
        lpad(hex(col("payloadBytes")), 8, "0"),
        array_join(transform(col("recs"), r => r.getField("h")), "")))
      .collect().map(r => r.getInt(0) -> r.getString(1)).sortBy(_._1)
      .map(_._2.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray).toSeq

    val binary = TopicOps.pollBinary(cfg, records)
    val want = refBinary(records)
    assert(binary.size > 1)
    assert(binary.size === want.size)
    binary.zip(want).foreach { case (got, w) => assert(got.sameElements(w)) }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(TopicOps.pollJson(cfg, records).map(mapper.readTree) ===
      refJson(records).map(mapper.readTree))
    // byte-equal where the escapes agree: no control character other than
    // \n, \r and \t (Jackson spells \b, \f and \u00XX its own way)
    val plain = records.filter(
      !col("value").cast("string").rlike("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"))
    assert(plain.count() === awkward.size - 4)
    assert(TopicOps.pollJson(cfg, plain) === refJson(plain))
  }

  test("mid-stream committed offsets project exactly on scale-up (A22)") {
    val cfg = TopicConfig(root, "t_proj_up", clusterSize = 3)
    val recs = graft.Tables.events(spark, sfDir)
      .select(col("user_id").cast("string").as("partitionKey"),
        col("ts").as("timestamp"), col("props").as("value"))
    PolarLog.produce(recs, cfg)
    val tails = PolarLog.tails(cfg)
    // commit exactly half of every partition
    val half = tails.map { case (p, t) => p -> t / 2 }
    ConsumerGroups.commit(cfg, "mid", half)
    val committedCount = half.values.sum
    val total = tails.values.sum

    val result = TopicOps.repartitionTopic(spark, cfg, "t_proj_up_v2", 6)
    val served = ConsumerGroups.poll(spark, result.newCfg, "mid").records
    // scale-up: each new partition has ONE source range -> projection is
    // exact, no re-served records
    assert(served.count() === total - committedCount)
    // and the served multiset is exactly the uncommitted suffixes
    val expected = PolarLog.consume(spark, cfg)
      .filter(col("offset") >= element_at(
        map(half.toSeq.flatMap { case (p, o) => Seq(lit(p), lit(o)) }: _*),
        col("part")))
      .agg(sum(crc32(col("value")))).head.getLong(0)
    assert(served.agg(sum(crc32(col("value")))).head.getLong(0) === expected)
  }

  test("scale-down projection never loses records, minimal redelivery (A22)") {
    val cfg = TopicConfig(root, "t_proj_down", clusterSize = 6)
    val recs = graft.Tables.events(spark, sfDir)
      .select(col("user_id").cast("string").as("partitionKey"),
        col("ts").as("timestamp"), col("props").as("value"))
    PolarLog.produce(recs, cfg)
    val tails = PolarLog.tails(cfg)
    val half = tails.map { case (p, t) => p -> t / 2 }
    ConsumerGroups.commit(cfg, "mid", half)
    val total = tails.values.sum
    val uncommitted = total - half.values.sum

    val result = TopicOps.repartitionTopic(spark, cfg, "t_proj_down_v2", 3)
    val servedN = ConsumerGroups.poll(spark, result.newCfg, "mid").records.count()
    // at-least-once: everything uncommitted is served; joins re-serve at
    // most the blocks after the first partial source
    assert(servedN >= uncommitted)
    assert(servedN < total)
  }

  test("many lagging groups project in ONE data pass, each exactly (A22)") {
    val cfg = TopicConfig(root, "t_proj_multi", clusterSize = 3)
    val recs = graft.Tables.events(spark, sfDir)
      .select(col("user_id").cast("string").as("partitionKey"),
        col("ts").as("timestamp"), col("props").as("value"))
    PolarLog.produce(recs, cfg)
    val tails = PolarLog.tails(cfg)
    val total = tails.values.sum
    // three groups at different lag points: 1/4, 1/2, 3/4 committed
    val cuts = Seq("g25" -> 4L, "g50" -> 2L, "g75" -> 4L)
    val committedOf = cuts.map { case (g, d) =>
      val m = tails.map { case (p, t) => p -> (if (g == "g75") 3 * (t / d) else t / d) }
      ConsumerGroups.commit(cfg, g, m)
      g -> m
    }.toMap
    // the single shared aggregation pass must count Spark jobs O(1) in the
    // number of groups: 3 lagging groups, one projection job
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    val result = try TopicOps.repartitionTopic(spark, cfg, "t_proj_multi_v2", 6)
      finally {
        // listener events are async; a short drain keeps the count stable
        Thread.sleep(300)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(result.groupsProjected.sorted === Seq("g25", "g50", "g75"))
    // produce (1-2 jobs) + one shared projection pass; per-group passes
    // would push this past 6
    assert(jobs.get() <= 5, s"expected O(1) jobs for 3 lagging groups, got ${jobs.get()}")
    // scale-up exactness per group: served = total - committed, each group
    cuts.foreach { case (g, _) =>
      val served = ConsumerGroups.poll(spark, result.newCfg, g).records.count()
      assert(served === total - committedOf(g).values.sum,
        s"group $g served $served")
    }
  }

  test("metrics listener counts polar stream consumption (A34)") {
    val cfg = TopicConfig(root, "t_metrics")
    val recs = graft.Tables.events(spark, sfDir)
      .select(col("user_id").cast("string").as("partitionKey"),
        col("ts").as("timestamp"), col("props").as("value"))
    PolarLog.produce(recs, cfg)
    val metrics = GraftMetrics.attach(spark)
    val q = graft.streaming.PolarStream.read(spark, cfg, startingOffsets = "earliest")
      .writeStream.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/ckpt_metrics")
      .format("memory").queryName("t_metrics_out").start()
    q.awaitTermination(120000)
    // listener events are async; give the bus a moment
    var tries = 0
    while (metrics.snapshot.getOrElse("records_consumed", 0L) < 1000 && tries < 50) {
      Thread.sleep(100); tries += 1
    }
    val snap = metrics.snapshot
    assert(snap.getOrElse("queries_started", 0L) >= 1)
    assert(snap.getOrElse("records_consumed", 0L) >= 1000)
    assert(snap.getOrElse("polar_records_consumed", 0L) >= 1000)
    spark.streams.removeListener(metrics)
  }
}
