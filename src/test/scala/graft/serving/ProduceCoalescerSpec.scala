package graft.serving

import graft.GraftSession
import graft.log.{ConsumerGroups, LogMetadata, PolarLog, TopicConfig}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.TimeUnit

/** Liveness contract of the produce micro-batcher (review-found hangs):
  * a producer's future must COMPLETE — ack, error, or rejection — under
  * every stop/race shape; it must never block forever on a queue no
  * thread drains. Plus the group-doc corruption guard. */
class ProduceCoalescerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var root: String = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder(master = "local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    root = Files.createTempDirectory("polar_coalescer_spec").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("append before stop acks; append after stop fails fast instead of hanging") {
    val c = new ProduceCoalescer(spark, root, clusterSize = 1, rangesPerToken = 2)
    val ok = c.append("co_live", Some("k"), None, "application/json",
      """{"a":1}""".getBytes(UTF_8))
    ok.get(120, TimeUnit.SECONDS) // ack = durable commit
    assert(PolarLog.consume(spark, TopicConfig(root, "co_live", 1, 2)).count() === 1L)
    c.stop()
    val late = c.append("co_live", Some("k"), None, "application/json",
      """{"a":2}""".getBytes(UTF_8))
    val e = intercept[java.util.concurrent.ExecutionException] {
      late.get(10, TimeUnit.SECONDS)
    }
    assert(e.getCause.getMessage.contains("coalescer stopped"), e.getCause.getMessage)
    // nothing half-persisted by the rejected produce
    assert(PolarLog.consume(spark, TopicConfig(root, "co_live", 1, 2)).count() === 1L)
  }

  test("a flusher interrupt fails pending producers loudly, never leaves them blocked") {
    val c = new ProduceCoalescer(spark, root, clusterSize = 1, rangesPerToken = 2,
      lingerMs = 60000L) // huge linger: the item stays queued
    val pending = c.append("co_intr", None, None, "application/json",
      """{"x":1}""".getBytes(UTF_8))
    // kill the flusher the hard way (executor shutdown shape)
    val flusher = Thread.getAllStackTraces.keySet().toArray(Array.empty[Thread])
      .find(_.getName == "polar-produce-coalescer")
    assert(flusher.isDefined, "flusher thread must be alive")
    flusher.get.interrupt()
    val e = intercept[java.util.concurrent.ExecutionException] {
      pending.get(30, TimeUnit.SECONDS)
    }
    assert(e.getCause.getMessage.contains("not flushed"), e.getCause.getMessage)
  }

  test("a request reaching an idle flusher waits one linger, not two") {
    def ackMs(c: ProduceCoalescer, i: Int): Long = {
      val t0 = System.nanoTime()
      c.append("co_linger", Some("k"), None, "application/json",
        s"""{"i":$i}""".getBytes(UTF_8)).get(60, TimeUnit.SECONDS)
      (System.nanoTime() - t0) / 1000000L
    }
    // one warm flush, timed through a coalescer that barely lingers
    val quick = new ProduceCoalescer(spark, root, clusterSize = 1, rangesPerToken = 2,
      lingerMs = 1)
    val flushMs = try { ackMs(quick, 0); ackMs(quick, 1) } finally quick.stop()
    val linger = 3000L
    val c = new ProduceCoalescer(spark, root, clusterSize = 1, rangesPerToken = 2,
      lingerMs = linger)
    try {
      ackMs(c, 2)
      // appended right after an ack, while the flusher idles: one linger
      // plus one flush, where a sleep-then-linger flusher takes two lingers
      val second = ackMs(c, 3)
      assert(second < linger + flushMs + 1000L,
        s"second ack took $second ms; one linger + one flush is ${linger + flushMs} ms")
    } finally c.stop()
  }

  test("a torn group document fails loudly instead of silently rewinding to 0") {
    val cfg = TopicConfig(root, "co_torn", 1, 2)
    PolarLog.produce(spark.range(4).selectExpr(
      "cast(id as string) as partitionKey", "timestamp_micros(id) as timestamp",
      "cast(id as string) as value"), cfg)
    ConsumerGroups.commit(cfg, "tg", Map(0 -> 2L, 1 -> 2L))
    assert(ConsumerGroups.committed(cfg, "tg") === Some(Map(0 -> 2L, 1 -> 2L)))
    // truncate the doc mid-entry (the torn-rename shape)
    val p = new org.apache.hadoop.fs.Path(s"${cfg.groupsDir}/tg.json")
    val fs = p.getFileSystem(graft.log.HadoopConf.shared)
    val out = fs.create(p, true)
    out.write("""{"offsets":{"0":2,"1":""".getBytes(UTF_8)); out.close()
    val e = intercept[IllegalStateException] { ConsumerGroups.committed(cfg, "tg") }
    assert(e.getMessage.contains("corrupt"), e.getMessage)
    // repair by re-register: delete the doc, the reset policy takes over
    fs.delete(p, false)
    val poll = ConsumerGroups.poll(spark, cfg, "tg", ConsumerGroups.Earliest)
    assert(poll.records.count() === 4L)
    // and the strict shape accepts every doc the engine itself writes
    assert(LogMetadata.read(cfg).version > 0) // sanity the topic is intact
  }
}
