package graft.sources

import graft.GraftSession
import graft.log.{FileEntry, LogMetadata, PolarLog, TopicConfig}
import graft.streaming.PolarStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** The native DSv2 streaming sink (`writeStream.format("polar")` via
  * [[graft.log.PolarLog.produceStream]]): per-epoch clustered writes with
  * executor-side offset bases, idempotent (queryId, epochId) CAS commits. */
class PolarStreamSinkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var root: String = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = GraftSession.builder(master = "local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    root = Files.createTempDirectory("polar_stream_sink").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def records(from: Int, until: Int) = graft.Tables.events(spark, sfDir)
    .filter(col("event_id") >= from && col("event_id") < until)
    .select(col("user_id").cast("string").as("partitionKey"),
      col("ts").as("timestamp"), col("props").as("value"))

  private def pipe(src: TopicConfig, dst: TopicConfig, ckpt: String,
      perTrigger: Long): org.apache.spark.sql.streaming.StreamingQuery = {
    val in = PolarStream.read(spark, src, startingOffsets = "earliest",
        maxRecordsPerTrigger = Some(perTrigger))
      .select(col("partitionKey"), col("timestamp"), col("value"))
    val q = PolarLog.produceStream(in, dst,
        orderBy = Seq(col("timestamp"), col("value")))
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    q.awaitTermination(120000)
    q
  }

  test("multi-epoch native sink: no loss/dup, dense offsets, commits recorded") {
    val src = TopicConfig(root, "sink_src")
    val dst = TopicConfig(root, "sink_dst")
    PolarLog.produce(records(0, 600), src)
    val q = pipe(src, dst, s"$root/ckpt1", perTrigger = 150) // ≥4 epochs

    val out = PolarLog.consume(spark, dst)
    assert(out.count() === 600)
    // multiset of (key, value) survives the pipe exactly
    val a = records(0, 600).select(col("partitionKey"), col("value").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    val b = out.select(col("partitionKey"), col("value").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(a.toSeq === b.toSeq)
    // dense offsets per partition ACROSS epoch boundaries
    val dens = out.groupBy(col("part"))
      .agg(count(lit(1)).as("n"), (max(col("offset")) + 1).as("tail"),
        countDistinct(col("offset")).as("nd"))
      .collect()
    dens.foreach(r => assert(r.getLong(1) === r.getLong(2) &&
      r.getLong(1) === r.getLong(3), r))
    // exactly-once bookkeeping: the stream's STABLE id at the CAS authority,
    // with multiple epochs committed
    val meta = LogMetadata.read(dst)
    assert(meta.sinkCommits.get(q.id.toString).exists(_ >= 2L),
      meta.sinkCommits)
  }

  test("sink metadata reads scale with epochs, not tasks (per-epoch bases)") {
    val dst = TopicConfig(root, "meta_dst")
    PolarLog.produce(records(0, 50), dst) // topic exists with real tails
    val schema = PolarLog.ValueSchema
      .add(org.apache.spark.sql.types.StructField("part",
        org.apache.spark.sql.types.IntegerType, nullable = false))
    val w = new PolarRoutedStreamingWrite(graft.log.RingTemplate(dst.root), schema,
      PolarWrite.DefaultMaxFileBytes, PolarLog.DefaultMaxMessageSize, "qid-meta",
      PolarWrite.DefaultTxnRetentionMs, declared = Some(dst.topic))
    val info = new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
      override def numPartitions(): Int = 8
    }
    // the per-EPOCH factory hook reads the doc exactly once (driver-side)…
    val before = LogMetadata.rootReads.get()
    val factory = w.createStreamingWriterFactory(info)
    assert(LogMetadata.rootReads.get() - before === 1L)
    // …and the per-TASK writer opens read ZERO metadata (was 1 per task
    // per epoch — 1,000 GETs/s of the same doc at 1,000-partition × 1 s
    // triggers); the bases ride the serialized factory instead
    val atFactory = LogMetadata.rootReads.get()
    val writers = (0 until 8).map(i => factory.createWriter(i, i.toLong, 0L))
    assert(LogMetadata.rootReads.get() === atFactory,
      "task-side writer open read the topic doc")
    writers.foreach(_.abort())
  }

  test("a replayed epoch is dropped at the CAS authority, not re-registered") {
    val src = TopicConfig(root, "replay_src")
    val dst = TopicConfig(root, "replay_dst")
    PolarLog.produce(records(0, 200), src)
    val q = pipe(src, dst, s"$root/ckpt_replay", perTrigger = 100)
    val before = LogMetadata.read(dst)
    val lastEpoch = before.sinkCommits(q.id.toString)
    // simulate a post-crash epoch replay: same (queryId, epochId) arrives
    // again with freshly-written files — the commit must register NOTHING
    val schema = PolarLog.ValueSchema
      .add(org.apache.spark.sql.types.StructField("part",
        org.apache.spark.sql.types.IntegerType, nullable = false))
    val bw = new PolarBatchWrite(dst, schema,
      txn = Some((q.id.toString, lastEpoch)))
    bw.commit(Array(PolarCommitMessage(Seq(
      FileEntry(0, "ghost.parquet", before.producerOffsets(0),
        before.producerOffsets(0), 1, 10, System.currentTimeMillis())))))
    val after = LogMetadata.read(dst)
    assert(after.producerOffsets === before.producerOffsets)
    assert(after.files.map(_.name).toSet === before.files.map(_.name).toSet)
  }

  test("external producer racing the stream: rebase keeps offsets dense, no loss") {
    val src = TopicConfig(root, "race_src")
    val dst = TopicConfig(root, "race_dst")
    PolarLog.produce(records(0, 400), src)
    // external producer thread fires batch produces into dst WHILE the
    // stream commits epochs — every CAS loser rebases its own files onto
    // the new tails; nothing is lost, offsets stay dense
    val external = new Thread(() => {
      (0 until 5).foreach { i =>
        PolarLog.produce(records(400 + i * 20, 400 + (i + 1) * 20), dst)
        Thread.sleep(50)
      }
    })
    external.start()
    val in = PolarStream.read(spark, src, startingOffsets = "earliest",
        maxRecordsPerTrigger = Some(50L))
      .select(col("partitionKey"), col("timestamp"), col("value"))
    val q = PolarLog.produceStream(in, dst,
        orderBy = Seq(col("timestamp"), col("value")))
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/ckpt_race")
      .start()
    q.awaitTermination(180000)
    external.join(60000)
    val out = PolarLog.consume(spark, dst)
    assert(out.count() === 500)
    val dens = out.groupBy(col("part"))
      .agg(count(lit(1)).as("n"), (max(col("offset")) + 1).as("tail"),
        countDistinct(col("offset")).as("nd")).collect()
    dens.foreach(r => assert(r.getLong(1) === r.getLong(2) &&
      r.getLong(1) === r.getLong(3), r))
  }

  test("checkpoint resume appends only new records (restart safety)") {
    val src = TopicConfig(root, "resume_src")
    val dst = TopicConfig(root, "resume_dst")
    val ckpt = s"$root/ckpt_resume"
    PolarLog.produce(records(0, 300), src)
    pipe(src, dst, ckpt, perTrigger = 100)
    assert(PolarLog.consume(spark, dst).count() === 300)
    // new source data, SAME checkpoint: only the delta lands
    PolarLog.produce(records(300, 500), src)
    pipe(src, dst, ckpt, perTrigger = 100)
    assert(PolarLog.consume(spark, dst).count() === 500)
    val dens = PolarLog.consume(spark, dst).groupBy(col("part"))
      .agg(count(lit(1)).as("n"), (max(col("offset")) + 1).as("tail")).collect()
    dens.foreach(r => assert(r.getLong(1) === r.getLong(2), r))
  }
}
