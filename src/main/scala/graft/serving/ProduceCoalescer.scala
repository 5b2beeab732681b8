package graft.serving

import graft.log.{PolarLog, RecordRejectedException, TopicConfig}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}

import java.util.concurrent.{CompletableFuture, CountDownLatch, LinkedBlockingQueue, TimeUnit}
import scala.jdk.CollectionConverters._

/**
 * The serving-side micro-batcher (SURVEY §2 A6,
 * `/root/reference/internal/producing/coalescer.go:81-172`): produce
 * requests from ANY transport (HTTP, binary TCP) land in one queue drained
 * by a single flusher thread that groups everything queued into ONE Spark
 * produce per topic per flush — the linger window standing in for the
 * reference's 100 µs double-buffer handoff. A request's ack is its batch's
 * durable metadata commit (the reference's ack-after-replication boundary),
 * so concurrent producers share CAS rounds instead of racing them.
 */
class ProduceCoalescer(
    spark: SparkSession,
    root: String,
    clusterSize: Int = 3,
    rangesPerToken: Int = 4,
    lingerMs: Long = 10,
    maxMessageSize: Int = PolarLog.DefaultMaxMessageSize) {

  import ProduceCoalescer._

  private val queue = new LinkedBlockingQueue[Pending]()
  @volatile private var running = true
  private val done = new CountDownLatch(1)

  /** Flush batches observed — exposed for coalescing tests. */
  @volatile var flushCount: Long = 0L

  def cfgOf(topic: String): TopicConfig =
    TopicConfig(root, topic, clusterSize, rangesPerToken)

  private val flusher = new Thread(() => flushLoop(), "polar-produce-coalescer")
  flusher.setDaemon(true)
  flusher.start()

  def stop(): Unit = {
    running = false
    // a silent timeout here would abandon an in-flight flush mid-produce
    // with producers still blocked on acks — surface it
    if (!done.await(10, TimeUnit.SECONDS))
      System.err.println("[polar] coalescer stop timed out with a flush " +
        "in flight; pending producer acks may be incomplete")
    // whatever is STILL queued after the drain loop exited can never be
    // flushed — fail those producers loudly instead of hanging them
    failRemaining("coalescer stopped")
  }

  private def failRemaining(why: String): Unit = {
    var p = queue.poll()
    while (p != null) {
      fail(p, why)
      p = queue.poll()
    }
  }

  private def fail(p: Pending, why: String): Unit =
    p.done.completeExceptionally(new IllegalStateException(
      s"produce not flushed: $why")): Unit

  /** Enqueue one produce request; the future completes when its batch's
    * metadata commit makes the records visible. */
  def append(
      topic: String,
      partitionKey: Option[String],
      tsMicros: Option[Long],
      contentType: String,
      body: Array[Byte]): CompletableFuture[Unit] = {
    val p = Pending(topic, partitionKey, tsMicros, contentType, body,
      new CompletableFuture[Unit]())
    queue.add(p)
    // enqueue-then-check closes the append-vs-stop race BOTH ways: an
    // append that lost to stop() (the flusher may already have observed
    // an empty queue and exited) must not leave its caller blocked forever
    // on an ack no thread will ever complete. Fail ONLY this request — the
    // flusher's final drain (loop condition `running || !queue.isEmpty`) is
    // still flushing everything queued before the stop, and failing the
    // whole queue here would spuriously reject other producers' requests
    // it was about to land durably. remove(p) == false means the flusher
    // already took this one too — its batch decides the ack.
    if (!running && queue.remove(p)) fail(p, "coalescer stopped")
    p.done
  }

  // Blocks on the queue while idle; the first request to arrive opens ONE
  // linger window, after which everything queued is one batch.
  private def flushLoop(): Unit = {
    // the batch in hand is out of the queue: an escape must fail it too
    var batch = Vector.empty[Pending]
    try {
      while (running || !queue.isEmpty) {
        val first = queue.poll(lingerMs, TimeUnit.MILLISECONDS)
        if (first != null) {
          batch = Vector(first)
          Thread.sleep(lingerMs) // linger: let concurrent requests pile in
          val rest = new java.util.ArrayList[Pending]()
          queue.drainTo(rest)
          batch ++= rest.asScala
          batch.groupBy(_.topic).foreach { case (topic, items) =>
            try {
              produceBatch(topic, items)
              items.foreach(_.done.complete(()))
            } catch {
              // a record refused by its topic's policy must not fail the
              // whole linger window: the innocent neighbours would get the
              // guilty request's 400 and lose records they never had
              // persisted. The refusal is thrown at the append, before any
              // commit, so nothing of the window was registered and
              // re-producing item by item cannot duplicate — only the
              // guilty requests fail. Failure-path-only cost, bounded by
              // the batch size.
              case e: Exception if items.size > 1 &&
                  RecordRejectedException.in(e).isDefined =>
                items.foreach { i =>
                  try { produceBatch(topic, Vector(i)); i.done.complete(()) }
                  catch { case e2: Exception => i.done.completeExceptionally(rejectionOr(e2)) }
                }
              case e: Exception =>
                items.foreach(_.done.completeExceptionally(rejectionOr(e)))
            }
          }
          flushCount += 1
          batch = Vector.empty
        }
      }
    } catch {
      // an interrupt (executor shutdown) or any escape must not leave the
      // flusher dead with `running` still true — producers would block on
      // acks no thread will ever complete
      case _: InterruptedException => running = false
      case e: Throwable =>
        running = false
        System.err.println(s"[polar] coalescer flush loop died: ${e.getMessage}")
    } finally {
      batch.foreach(fail(_, "coalescer flush loop exited"))
      failRemaining("coalescer flush loop exited")
      done.countDown()
    }
  }

  private def produceBatch(topic: String, items: Vector[Pending]): Unit = {
    val schema = StructType(Seq(
      StructField("partitionKey", StringType),
      StructField("tsMicros", LongType),
      StructField("contentType", StringType),
      StructField("body", BinaryType)))
    val now = java.time.Instant.now()
    val nowMicros = now.getEpochSecond * 1000000L + now.getNano / 1000L
    val rows: Seq[org.apache.spark.sql.Row] = items.map(i => org.apache.spark.sql.Row(
      i.partitionKey.orNull,
      java.lang.Long.valueOf(i.tsMicros.getOrElse(nowMicros)),
      i.contentType, i.body))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    // one declarative splitter for all content types, then one produce
    val values = when(col("contentType") === NdjsonContentType,
        transform(
          filter(split(col("body").cast(StringType), "\r?\n"),
            s => length(trim(s)) > 0),
          s => s.cast(BinaryType)))
      .when(col("contentType") === FramesContentType ||
          col("contentType") === BinaryContentType,
        graft.functions.GraftFunctions.polar_frames(col("body")))
      .otherwise(array(col("body")))
    val records = df
      .withColumn("value", explode(values))
      .withColumn("timestamp", timestamp_micros(col("tsMicros")))
      .select(col("partitionKey"), col("timestamp"), col("value"))
    PolarLog.produce(records, cfgOf(topic), maxMessageSize = maxMessageSize)
  }
}

object ProduceCoalescer {
  /** A request refused by its topic's record policy fails with the
    * refusal itself, not Spark's wrapping of it. */
  private def rejectionOr(e: Exception): Throwable =
    RecordRejectedException.in(e).getOrElse(e)

  val NdjsonContentType = "application/x-ndjson"
  val FramesContentType = "application/vnd.polar.producer.frames"
  /** The binary transport's payload framing is the same `{u32-BE len}{bytes}`
    * record block (`/root/reference/internal/types/models.go:14`). */
  val BinaryContentType = "application/vnd.polar.producer.binary"

  private final case class Pending(
      topic: String,
      partitionKey: Option[String],
      tsMicros: Option[Long],
      contentType: String,
      body: Array[Byte],
      done: CompletableFuture[Unit])
}
