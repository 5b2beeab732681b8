package graft.serving

import graft.functions.JsonText
import graft.log.{ConsumerGroups, PolarLog, RetentionScheduler, RingTemplate, TopicConfig, TopicOps}
import io.netty.buffer.{ByteBuf, ByteBufUtil, Unpooled}
import io.netty.channel.{Channel, ChannelFuture, ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer}
import io.netty.handler.codec.ByteToMessageDecoder
import io.netty.handler.codec.http.{DefaultFullHttpResponse, FullHttpRequest, FullHttpResponse, HttpContent, HttpHeaderNames, HttpHeaderValues, HttpMethod, HttpObjectAggregator, HttpRequest, HttpResponseStatus, HttpServerCodec, HttpUtil, HttpVersion, LastHttpContent, QueryStringDecoder}
import io.netty.handler.codec.http2.{Http2CodecUtil, Http2FrameCodecBuilder, Http2MultiplexHandler, Http2StreamFrameToHttpObjectCodec}
import io.netty.util.ReferenceCountUtil
import org.apache.spark.sql.SparkSession

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, RejectedExecutionException, TimeUnit}
import scala.jdk.CollectionConverters._

/**
 * The reference's HTTP serving surface (SURVEY §2 A1/A15/A17/A19/A32,
 * `/root/reference/docs/rest_api/README.md`) as a thin façade over the
 * engine: one route table exposing the discovery, producer and consumer
 * APIs, with Spark doing all routing, storage and scanning underneath.
 *
 * Transport: the server owns one Netty event-loop group with two ports.
 * `boundPort` speaks HTTP/1.1; `h2cPort` speaks prior-knowledge HTTP/2
 * cleartext, which the reference's consumer API also serves by wrapping its
 * router in Go's `h2c.NewHandler` (`internal/consuming/server.go:116,163`).
 * Netty terminates both protocols and hands each request to the route
 * table as one aggregated `FullHttpRequest`. Routes run on a fixed pool of
 * 8 threads, never on an event loop, one request at a time per HTTP/1.1
 * connection so keep-alive responses leave in request order.
 *
 * Endpoints (one port stands in for the reference's 9250/9251/9252 trio —
 * `GET /v1/brokers` reports it for both roles):
 *
 *  - `GET /status` — readiness (all three reference APIs expose it).
 *  - `GET /v1/brokers` — topology for client discovery
 *    (`internal/discovery/discoverer_client_service.go:30-109`). The façade
 *    IS the single client entry (Spark's shuffle replaces client-side leader
 *    routing), so `length` is 1: a reference client computing placement from
 *    this topology sends everything here, which is correct.
 *  - `POST /v1/topic/{topic}/messages?partitionKey=&timestamp=` — produce.
 *    Content types: `application/json` (one record), `application/x-ndjson`
 *    (record per non-empty line, A4), `application/vnd.polar.producer.frames`
 *    (`{u32-BE len}{bytes}`… framing, A5). Validation mirrors
 *    `internal/producing/server.go:142-151`: unknown/invalid topic → 400,
 *    missing/oversize body → 400 (`MaxMessageSize` 1 MiB default).
 *    `timestamp` is epoch-MICROS (`server.go:179-183`).
 *  - `PUT /v1/consumer/register?consumerId=&group=&topic=&onNewGroup=` —
 *    idempotent registration; pins the group's start offsets per the reset
 *    policy (`startFromLatest` default / `startFromEarliest`).
 *  - `POST /v1/consumer/poll?consumerId=` — serves a byte-bounded chunk
 *    (`maxPollBytes`, default 2 MiB = the reference's
 *    `ConsumerReadThreshold`) of `[committed, tail)` for the consumer's
 *    ASSIGNED partitions (deterministic round-robin over the group's
 *    registered members, A16), auto-committing the previously polled
 *    position first (`docs/rest_api/README.md:178-180`). An `Accept`
 *    that allows JSON (`application/json`, the any-type wildcard, or no
 *    header — curl's defaults) → the JSON item array (A19); an Accept
 *    naming something else (e.g. `application/octet-stream`) → the
 *    binary layout `u16-BE count` + items, never more than 65535 per
 *    poll (A18,
 *    `internal/consuming/group_read_queue.go:251`,
 *    `internal/consuming/models.go:106-134`). 204 when nothing to read,
 *    409 when unregistered.
 *  - `POST /v1/consumer/commit?consumerId=` — manual commit, 204 / 409.
 *  - `POST /v1/consumer/goodbye?consumerId=` — commit + unregister, 200 /
 *    409.
 *
 * Produce path: requests are NOT produced one-by-one — they land in a
 * queue drained by a single flusher thread that groups everything queued
 * into ONE Spark produce per topic (the reference coalescer's micro-batch
 * grouping, `internal/producing/coalescer.go:81-172`, with the linger window
 * in place of its 100 µs double-buffer handoff). Each request's 200 is its
 * batch's durable commit — the reference's ack-after-replication boundary.
 * Concurrent producers therefore share metadata CAS rounds instead of
 * racing them.
 *
 * Poll path: per registered topic, one `ConsumerGroups.pollAs` — the
 * library's own window (one registry view, the member's partitions, the
 * byte cap, then the u16 record budget) — and one `TopicOps` renderer,
 * whose item bytes the server writes as they are. A served poll is one
 * scan job with no shuffle.
 *
 * Scale posture: the façade is a protocol adapter, not a data path — every
 * byte served flows through the same planned scans as the library API
 * (metadata-planned, vectorized, partition-pruned). A poll materializes only
 * the served chunk, exactly like the reference's response writer.
 */
class PolarHttpServer(
    spark: SparkSession,
    root: String,
    port: Int = 0,
    clusterSize: Int = 3,
    rangesPerToken: Int = 4,
    lingerMs: Long = 10,
    maxMessageSize: Int = PolarLog.DefaultMaxMessageSize,
    maxPollBytes: Long = 2L << 20,
    inactivityTimeoutMs: Long = 120000L,
    retentionMs: Long = RetentionScheduler.DefaultRetentionMs,
    retentionSweepMs: Long = RetentionScheduler.DefaultPeriodMs,
    // opt-in lease-aware lifecycle (the ops story USAGE §Deployment
    // describes): Some(holderId) makes start() ACQUIRE the writer lease
    // on the root (refusing to start if another driver holds it — two
    // leased façades on one root is a deployment error surfaced at
    // startup, not at the first torn commit), keeps it renewed while the
    // server runs (writes renew inline via checkWrite; a keepalive
    // daemon covers idle stretches so the façade stays authoritative),
    // and releases it on stop() so a successor acquires immediately.
    // None (default) keeps the unleased probe-and-warn behavior.
    leaseHolderId: Option[String] = None,
    leaseTtlMs: Long = graft.log.WriterLease.DefaultTtlMs) {

  import PolarHttpServer._

  private val pool = Executors.newFixedThreadPool(8, Transport.threads("polar-http"))
  private val group = Transport.eventLoops("polar-http-io")
  private val http = Transport.listen(group, port) { ch =>
    ch.pipeline.addLast(new HttpServerCodec, new ProduceLengthGate,
      new HttpObjectAggregator(maxMessageSize), new Dispatcher)
  }
  private val h2c = Transport.listen(group, 0)(_.pipeline.addLast(new H2cPreface))
  private val consumers = scala.collection.concurrent.TrieMap.empty[String, Registered]
  private val lastSeen = scala.collection.concurrent.TrieMap.empty[String, Long]

  // serving metrics (A34, `internal/metrics/metrics.go:13-87`)
  private val messagesReceived = new java.util.concurrent.atomic.AtomicLong
  private val bodyBytesReceived = new java.util.concurrent.atomic.AtomicLong
  private val compactionsRun = new java.util.concurrent.atomic.AtomicLong
  private val pollsServed = new java.util.concurrent.atomic.AtomicLong
  private val activeConsumers = () => consumers.size

  /** The shared produce micro-batcher (A6); a binary server may share it. */
  val coalescer = new ProduceCoalescer(
    spark, root, clusterSize, rangesPerToken, lingerMs, maxMessageSize)

  def flushCount: Long = coalescer.flushCount

  /** The reference's 5-min datalog cleaner loop (A25) over this root —
    * plus scheduled segment compaction: per-request produces fragment the
    * log, each sweep re-merges; deferred deletes mean superseded originals
    * stay readable for one full period (the in-flight-reader grace). */
  val retention = new RetentionScheduler(
    root, retentionMs, retentionSweepMs, clusterSize, rangesPerToken,
    compactor = Some(cfg => graft.sources.PolarCompaction.compact(
      spark, cfg, deleteOriginals = false)),
    keyCleaner = Some(cfg =>
      // deferred deletes: superseded segments survive as orphans for one
      // sweep period (the in-flight-reader grace), reclaimed by the next
      // sweep's vacuum — same discipline as the scheduled compactor
      graft.sources.PolarLogCleaner.cleanKeys(spark, cfg,
        deleteOriginals = false)),
    dirtyRatioOf = Some(graft.sources.PolarLogCleaner.dirtyRatio),
    oldestDirtyOf = Some(graft.sources.PolarLogCleaner.oldestDirtyMs),
    newestDirtyOf = Some(graft.sources.PolarLogCleaner.newestDirtyMs),
    forcedKeyCleaner = Some(cfg =>
      // max.compaction.lag deadline: kc-stamp removal-free dirty regions
      // too, so the breached topic disarms after one forced pass
      graft.sources.PolarLogCleaner.cleanKeys(spark, cfg,
        deleteOriginals = false, forceRewriteDirty = true)),
    routedRecover = Some(now =>
      // all-or-none convergence for killed multi-topic routed commits;
      // grace = one sweep period, same in-flight protection as vacuum
      graft.sources.PolarRoutedWrite.recoverJournals(
        RingTemplate(root, clusterSize, rangesPerToken),
        graceMs = retentionSweepMs, nowMs = now)))

  private def cfgOf(topic: String): TopicConfig = coalescer.cfgOf(topic)

  private val produceLengthError =
    s"Content length must be defined (HTTP/1.1 chunked not supported), " +
      s"greater than 0 and less than $maxMessageSize bytes"

  def boundPort: Int = Transport.portOf(http)

  /** The h2c (HTTP/2 cleartext, prior knowledge) port over the same routes. */
  def h2cPort: Int = Transport.portOf(h2c)

  // the lease keepalive (leased mode only): renews at ttl/3 so an IDLE
  // façade stays authoritative between requests — the write path's inline
  // half-TTL renewal only fires while writes flow. Exits quietly on fence
  // (a takeover is the operator's decision; the server keeps serving
  // reads, writes 409 like every other fencing conflict).
  @volatile private var leaseKeepalive: Option[Thread] = None
  // set only by a SUCCESSFUL acquire in start(): stop() must not release
  // a lease this instance never got (a second leased façade in the same
  // JVM whose start() was refused would otherwise release the first's)
  @volatile private var leaseAcquired = false

  def start(): this.type = {
    leaseHolderId match {
      case Some(holder) =>
        // leased lifecycle: acquisition IS the storage probe (refuses a
        // non-compliant store) and refuses a root another driver holds —
        // both surfaced at startup, not at the first torn commit
        graft.log.WriterLease.acquire(root, holder, leaseTtlMs): Unit
        leaseAcquired = true
        val t = new Thread(() => {
          try {
            while (graft.log.WriterLease.heldLease(root).isDefined) {
              Thread.sleep(math.max(1L, leaseTtlMs / 3))
              if (graft.log.WriterLease.heldLease(root).isDefined)
                graft.log.WriterLease.renew(root): Unit
            }
          } catch {
            case _: InterruptedException => ()
            case e: graft.log.WriterLease.FencedWriterException =>
              System.err.println(s"[polar] façade lease on '$root' was " +
                s"taken over (${e.getMessage}); serving continues, " +
                "control-plane writes will return 409")
            // the lease can be dropped between the held check and renew()
            // (a write-path stamp fence, or stop()'s release racing the
            // loop) — renew then throws plain IllegalStateException;
            // exit quietly, the lease is simply gone
            case _: IllegalStateException => ()
          }
        }, "polar-lease-keepalive")
        t.setDaemon(true)
        t.start()
        leaseKeepalive = Some(t)
      case None =>
        // startup storage-contract probe: a store without exclusive-create
        // / atomic-rename (raw S3A) breaks the txn arbiter and doc swaps —
        // warn loudly here instead of failing silently at the first torn
        // commit
        graft.log.StorageProbe.check(root): Unit
    }
    Transport.accept(http)
    Transport.accept(h2c)
    retention.start()
    this
  }

  def stop(): Unit = {
    retention.close()
    coalescer.stop()
    Transport.shutdown(group)
    pool.shutdown()
    leaseKeepalive.foreach { t => t.interrupt(); t.join(2000) }
    leaseKeepalive = None
    // release AFTER the last in-flight write can run: a successor
    // acquires immediately instead of waiting out the TTL. Idempotent —
    // unleased mode (or a lease lost to takeover) releases nothing.
    if (leaseAcquired) graft.log.WriterLease.release(root)
  }

  // -------------------------------------------------------------- transport

  /** Runs each request's route on the pool, one request at a time per
    * channel, so an HTTP/1.1 connection's keep-alive responses leave in
    * request order. Requests that arrive meanwhile wait here, and reading
    * pauses until they have been answered. */
  private final class Dispatcher extends ChannelInboundHandlerAdapter {
    private val waiting = new java.util.ArrayDeque[AnyRef]()
    private var busy = false

    override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit = {
      waiting.add(msg)
      if (busy) ctx.channel.config.setAutoRead(false): Unit else next(ctx)
    }

    override def channelInactive(ctx: ChannelHandlerContext): Unit = {
      waiting.forEach(ReferenceCountUtil.release(_): Unit)
      waiting.clear()
      ctx.fireChannelInactive(): Unit
    }

    private def next(ctx: ChannelHandlerContext): Unit = waiting.poll() match {
      case null =>
        busy = false
        ctx.channel.config.setAutoRead(true): Unit
      case msg =>
        busy = true
        val (keepAlive, answer) = msg match {
          case req: FullHttpRequest if req.decoderResult.isFailure =>
            (false, () => reply(400, "Bad request"))
          case req: FullHttpRequest =>
            val remote = ctx.channel.remoteAddress.asInstanceOf[InetSocketAddress]
            (HttpUtil.isKeepAlive(req), () => route(new Exchange(req, remote)))
          case Refused(keepAlive) => (keepAlive, () => reply(400, produceLengthError))
        }
        try pool.execute { () =>
          val resp = try answer() finally ReferenceCountUtil.release(msg): Unit
          if (!keepAlive)
            resp.headers.set(HttpHeaderNames.CONNECTION, HttpHeaderValues.CLOSE)
          ctx.writeAndFlush(resp).addListener((f: ChannelFuture) =>
            if (keepAlive && f.isSuccess) next(ctx) else ctx.close(): Unit)
        } catch {
          case _: RejectedExecutionException => // stopped
            ReferenceCountUtil.release(msg)
            ctx.close(): Unit
        }
    }
  }

  /** Refuses a produce whose body length is unknown (chunked) or out of
    * range on its request head, before the aggregator buffers any of it,
    * and discards the body that follows. */
  private final class ProduceLengthGate extends ChannelInboundHandlerAdapter {
    private var discarding = false

    override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit = msg match {
      case req: HttpRequest if isProduce(req) && !lengthInBounds(req) =>
        discarding = true
        ReferenceCountUtil.release(req)
        ctx.fireChannelRead(Refused(HttpUtil.isKeepAlive(req))): Unit
      case c: HttpContent if discarding =>
        discarding = !c.isInstanceOf[LastHttpContent]
        c.release(): Unit
      case _ => ctx.fireChannelRead(msg): Unit
    }

    private def isProduce(req: HttpRequest): Boolean =
      req.method == HttpMethod.POST &&
        scala.util.Try(new QueryStringDecoder(req.uri).path).toOption
          .exists(TopicMessages.matches)

    private def lengthInBounds(req: HttpRequest): Boolean = {
      val n = HttpUtil.getContentLength(req, -1L)
      !HttpUtil.isTransferEncodingChunked(req) && n > 0 && n <= maxMessageSize
    }
  }

  /** The h2c port's first handler: once the first 24 bytes are the HTTP/2
    * client preface it hands them, unread, to Netty's frame codec, whose
    * streams each become one `FullHttpRequest` for the [[Dispatcher]]. Any
    * other opening closes the connection before a byte is written. */
  private final class H2cPreface extends ByteToMessageDecoder {
    override def decode(ctx: ChannelHandlerContext, in: ByteBuf, out: java.util.List[AnyRef]): Unit = {
      val n = math.min(in.readableBytes, ClientPreface.readableBytes)
      if (!ByteBufUtil.equals(in, in.readerIndex, ClientPreface, 0, n)) {
        in.skipBytes(in.readableBytes)
        ctx.close(): Unit
      } else if (n == ClientPreface.readableBytes) {
        ctx.pipeline
          .addAfter(ctx.name, "h2", Http2FrameCodecBuilder.forServer.build)
          .addAfter("h2", null, new Http2MultiplexHandler(new ChannelInitializer[Channel] {
            override def initChannel(stream: Channel): Unit =
              stream.pipeline.addLast(new Http2StreamFrameToHttpObjectCodec(true),
                new HttpObjectAggregator(maxMessageSize), new Dispatcher,
                Transport.CloseOnError): Unit
          }))
        ctx.pipeline.remove(this): Unit
      }
    }
  }

  // ---------------------------------------------------------------- routing

  private def route(ex: Exchange): FullHttpResponse = {
    try {
      (ex.method, ex.path) match {
        case ("GET", p) if p == "/status" || p.endsWith("/status") =>
          respond(ex, 200, "OK")
        case ("GET", "/v1/brokers") =>
          respond(ex, 200,
            s"""{"length":1,"names":["127.0.0.1"],"producerPort":$boundPort,"consumerPort":$boundPort,"h2cPort":$h2cPort}""",
            "application/json")
        case ("GET", "/metrics") =>
          // the reference's Prometheus surface (A34) in text exposition,
          // plus a consumer-lag gauge per (group, topic): tail minus
          // committed, summed over partitions — pure registry arithmetic,
          // no data reads (the operability gauge every Kafka-shaped
          // deployment alerts on)
          val lagLines = consumers.values.toSeq
            .flatMap(r => r.topics.map(t => (r.group, t))).distinct.sorted
            .flatMap { case (g, t) =>
              scala.util.Try {
                val cfg = cfgOf(t)
                val tails = graft.log.PolarLog.tails(cfg)
                val comm = ConsumerGroups.committed(cfg, g).getOrElse(Map.empty)
                val lag = tails.map { case (p, tl) =>
                  math.max(0L, tl - comm.getOrElse(p, 0L))
                }.sum
                s"""polar_consumer_lag{group="$g",topic="$t"} $lag"""
              }.toOption
            }
          respond(ex, 200,
            s"""polar_messages_received ${messagesReceived.get}
               |polar_messages_body_bytes ${bodyBytesReceived.get}
               |polar_polls_served ${pollsServed.get}
               |polar_active_consumers ${activeConsumers()}
               |polar_produce_flushes ${coalescer.flushCount}
               |polar_retention_sweeps ${retention.sweeps}
               |polar_segments_merged ${compactionsRun.get + retention.merged}
               |polar_txns_recovered ${retention.recovered}
               |polar_txn_marks_reconciled ${retention.reconciled}
               |polar_lease_fenced_writes ${graft.log.WriterLease.fencedWrites.get}
               |""".stripMargin + lagLines.map(_ + "\n").mkString)
        case ("GET", "/v1/admin/lease") =>
          // writer-lease observability: the standing lease on the root (if
          // any) and whether THIS server's driver holds it — the first
          // thing an operator checks when writes start returning 409
          val standing = graft.log.WriterLease.current(root)
          val mine = graft.log.WriterLease.heldLease(root)
          val nowL = System.currentTimeMillis()
          def leaseJson(l: graft.log.WriterLease.Lease) =
            s"""{"holder":"${graft.functions.JsonText.escape(l.holderId)}",""" +
              s""""epoch":${l.epoch},"deadlineMs":${l.deadlineMs},""" +
              s""""ttlMs":${l.ttlMs},"live":${l.deadlineMs > nowL}}"""
          respond(ex, 200,
            s"""{"lease":${standing.map(leaseJson).getOrElse("null")},""" +
              s""""heldByThisDriver":${mine.isDefined}}""", "application/json")
        case ("GET", "/v1/admin/topics") =>
          // topic inventory with registry stats — the admin `--list`
          // (per topic: partitions, files, records, bytes, version), pure
          // metadata arithmetic over the root listing
          // produce enforces validTopicName, but the listing is a raw
          // directory scan — an out-of-band directory (spaces, quotes)
          // must not corrupt the JSON envelope, so escape defensively
          def esc(s: String) = graft.functions.JsonText.escape(s)
          val rows = retention.topics().sortBy(_.topic).map { cfg =>
            val m = graft.log.LogMetadata.read(cfg)
            s"""{"topic":"${esc(cfg.topic)}","partitions":${m.numPartitions},""" +
              s""""files":${m.files.size},"records":${m.producerOffsets.sum},""" +
              s""""bytes":${m.files.map(_.bytes).sum},"version":${m.version}}"""
          }
          respond(ex, 200, rows.mkString("""{"topics":[""", ",", "]}"),
            "application/json")
        case ("GET", "/v1/admin/history") =>
          // DESCRIBE HISTORY for a topic: every retained commit version
          // with its in-doc commit time and cumulative record count — the
          // catalog of what VERSION/TIMESTAMP AS OF can still resolve
          val t = ex.query.get("topic").flatMap(_.headOption)
            .getOrElse(throw HttpError(400, "topic is required"))
          if (!TopicConfig.validTopicName(t)) throw HttpError(400, "Invalid topic")
          val hist = graft.log.LogMetadata.history(cfgOf(t))
          respond(ex, 200, hist.map(m =>
            s"""{"version":${m.version},"commitMs":${m.commitMs},""" +
              s""""records":${m.producerOffsets.sum}}""")
            .mkString("""{"history":[""", ",", "]}"),
            "application/json")
        case ("POST", "/v1/admin/delete-records") =>
          // kafka-delete-records parity: trim a topic's log below an
          // offset — `?topic=t&before=o` (one global cutoff; -1 = tail,
          // i.e. truncate). File-granular, clamped, offsets preserved —
          // the HTTP face of PolarLog.deleteRecords / TRUNCATE TABLE.
          val t = ex.query.get("topic").flatMap(_.headOption)
            .getOrElse(throw HttpError(400, "topic is required"))
          if (!TopicConfig.validTopicName(t)) throw HttpError(400, "Invalid topic")
          val raw = ex.query.get("before").flatMap(_.headOption)
            .getOrElse(throw HttpError(400, "before is required"))
          val before = scala.util.Try(raw.trim.toLong).getOrElse(
            throw HttpError(400, s"before must be an offset or -1, got '$raw'"))
          if (before < -1L) throw HttpError(400,
            s"before must be >= 0 or the -1 tail sentinel, got $before")
          val cfg = cfgOf(t)
          // deleteRecords resolves -1 = tail natively
          val cuts = graft.log.PolarLog.tails(cfg).keys
            .map(_ -> before).toMap
          val n = graft.log.PolarLog.deleteRecords(cfg, cuts)
          respond(ex, 200, s"""{"topic":"$t","deletedFiles":$n}""",
            "application/json")
        case ("GET", "/v1/admin/topics/config") =>
          // per-topic config view: the persisted overrides (retention.ms,
          // cleanup.policy) — the HTTP face of SHOW TBLPROPERTIES
          val t = ex.query.get("topic").flatMap(_.headOption)
            .getOrElse(throw HttpError(400, "topic is required"))
          if (!TopicConfig.validTopicName(t)) throw HttpError(400, "Invalid topic")
          val cfgG = cfgOf(t)
          if (graft.log.LogMetadata.readIfExists(cfgG).isEmpty)
            throw HttpError(404, s"Unknown topic: $t")
          val props = graft.log.LogMetadata.read(cfgG).props
          respond(ex, 200, props.toSeq.sorted.map { case (k, v) =>
            s""""${graft.functions.JsonText.escape(k)}":"${graft.functions.JsonText.escape(v)}""""
          }.mkString(s"""{"topic":"$t","config":{""", ",", "}}"),
            "application/json")
        case ("POST", "/v1/admin/topics/config") =>
          // set/unset one config key: `?topic=t&key=retention.ms&value=…`
          // (no value = unset) — the kafka-configs --alter shape, one CAS
          val t = ex.query.get("topic").flatMap(_.headOption)
            .getOrElse(throw HttpError(400, "topic is required"))
          if (!TopicConfig.validTopicName(t)) throw HttpError(400, "Invalid topic")
          val key = ex.query.get("key").flatMap(_.headOption)
            .getOrElse(throw HttpError(400, "key is required"))
          val value = ex.query.get("value").flatMap(_.headOption)
          value match {
            case Some(v) =>
              val ok = try graft.log.TopicProps.validate(key, v)
                catch { case e: IllegalArgumentException =>
                  throw HttpError(400, e.getMessage) }
              if (!ok) throw HttpError(400,
                s"unsupported config '$key' (recognized: " +
                  s"${graft.log.TopicProps.Recognized.toSeq.sorted.mkString(", ")})")
            case None =>
              if (!graft.log.TopicProps.Recognized.contains(key))
                throw HttpError(400, s"unsupported config '$key'")
          }
          val cfg = cfgOf(t)
          // altering config must never materialize a phantom topic
          if (graft.log.LogMetadata.readIfExists(cfg).isEmpty)
            throw HttpError(404, s"Unknown topic: $t")
          // CAS-with-retry: a props change commutes with produces
          graft.log.LogMetadata.updateProps(cfg)(p => value match {
            case Some(v) => p + (key -> graft.log.TopicProps.normalize(key, v))
            case None => p - key
          })
          respond(ex, 200, s"""{"topic":"$t","key":"$key","applied":true}""",
            "application/json")
        case ("POST", "/v1/txn/begin") =>
          // the HTTP face of the producer-txn lifecycle: begin fences any
          // zombie incarnation and returns the epoch every later call
          // (and every transactional DSv2 write) must echo
          val q = ex.query
          val id = q.get("id").flatMap(_.headOption)
            .getOrElse(throw HttpError(400, "id is required"))
          val timeoutMs = q.get("timeoutMs").flatMap(_.headOption)
            .map(s => scala.util.Try(s.trim.toLong).getOrElse(
              throw HttpError(400, s"timeoutMs must be a number, got '$s'")))
            .getOrElse(graft.log.Transactions.DefaultTimeoutMs)
          val h = txnCall(graft.log.Transactions.begin(root, id, timeoutMs))
          respond(ex, 200,
            s"""{"id":${JsonText.quote(id)},"epoch":${h.epoch},""" +
              s""""timeoutMs":$timeoutMs}""", "application/json")
        case ("POST", "/v1/txn/commit") =>
          txnCall(graft.log.Transactions.commit(txnHandleOf(ex)))
          respond(ex, 204, "")
        case ("POST", "/v1/txn/abort") =>
          txnCall(graft.log.Transactions.abort(txnHandleOf(ex)))
          respond(ex, 204, "")
        case ("POST", "/v1/txn/offsets") =>
          // sendOffsetsToTransaction: stage `group`'s next offsets for
          // `topic` inside the transaction — `offsets` is the same
          // {"part":next,...} JSON the commit endpoint takes
          val q = ex.query
          val h = txnHandleOf(ex)
          val t = q.get("topic").flatMap(_.headOption)
            .getOrElse(throw HttpError(400, "topic is required"))
          if (!TopicConfig.validTopicName(t)) throw HttpError(400, "Invalid topic")
          val g = q.get("group").flatMap(_.headOption)
            .getOrElse(throw HttpError(400, "group is required"))
          if (!ConsumerGroups.validGroupName(g))
            throw HttpError(400, s"Invalid group name: '$g'")
          val offsJson = q.get("offsets").flatMap(_.headOption).getOrElse(
            new String(ex.body, UTF_8))
          val offs = try ConsumerGroups.parseOffsetMap(offsJson)
            catch { case _: IllegalArgumentException => Map.empty[Int, Long] }
          if (offs.isEmpty) throw HttpError(400,
            """offsets are required as {"partition":nextOffset,...} (query param or body)""")
          txnCall(graft.log.Transactions.sendOffsets(h, cfgOf(t), g, offs))
          respond(ex, 200, s"""{"stagedPartitions":${offs.size}}""",
            "application/json")
        case ("GET", "/v1/admin/txns") =>
          // transaction observability: live/failed routed-commit journals
          // (a `.failed` journal is an operator-action queue — its staged
          // files stay vacuum-protected until the operator clears it) and
          // producer transactions with their states and ages. Previously
          // only a metadata-table query could see these.
          val nowTs = System.currentTimeMillis()
          def esc2(s: String) = graft.functions.JsonText.escape(s)
          val journals = graft.log.TxnJournal.list(root, includeFailed = true)
            .sortBy(_.path).map { j =>
              val name = new org.apache.hadoop.fs.Path(j.path).getName
              s"""{"journal":"${esc2(name)}","failed":${name.endsWith(".failed")},""" +
                s""""complete":${j.complete},"ageMs":${math.max(0L, nowTs - j.ageAnchorMs)},""" +
                s""""topics":[${j.topics.keys.toSeq.sorted
                  .map(t => s""""${esc2(t)}"""").mkString(",")}]}"""
            }
          // a txn whose recovery keeps failing is surfaced as `failed`
          // with its consecutive-failure count — the producer-txn analog
          // of a journal's `.failed` marker (operator-action queue)
          val failures = graft.log.Transactions.recoveryFailures(root)
          val producers = graft.log.Transactions.list(root).map { case (id, st) =>
            val (state, ageMs, epoch) = st match {
              case graft.log.Transactions.Open(e, anchor, _) =>
                ("open", math.max(0L, nowTs - anchor), e)
              case graft.log.Transactions.Committed(e) => ("committed", -1L, e)
              case graft.log.Transactions.Aborted(e) => ("aborted", -1L, e)
              case graft.log.Transactions.Unknown => ("unknown", -1L, -1L)
            }
            val (shownState, sweepFails) = failures.get(id) match {
              case Some((n, _)) => ("failed", n)
              case None => (state, 0)
            }
            s"""{"id":"${esc2(id)}","state":"$shownState","epoch":$epoch,""" +
              s""""ageMs":$ageMs,"sweepFailures":$sweepFails}"""
          }
          respond(ex, 200,
            s"""{"journals":[${journals.mkString(",")}],""" +
              s""""producerTxns":[${producers.mkString(",")}]}""",
            "application/json")
        case ("POST", "/v1/admin/retention/sweep") =>
          // manual maintenance trigger; the scheduled loop serializes with it
          val res = retention.sweep()
          respond(ex, 200, res.toSeq.sortBy(_._1).map { case (t, s) =>
            s""""$t":{"aged":${s.agedDeleted},"orphans":${s.orphansDeleted},"merged":${s.merged}}"""
          }.mkString("{", ",", "}"), "application/json")
        case ("POST", "/v1/admin/compact") =>
          // merge small-segment runs in every topic under the root (the
          // per-request produce path creates one segment per flush); same
          // write-then-CAS-then-delete visibility as retention
          val res = retention.topics().map { cfg =>
            cfg.topic -> graft.sources.PolarCompaction.compact(spark, cfg)
          }
          compactionsRun.addAndGet(res.map(_._2).sum.toLong)
          respond(ex, 200, res.sortBy(_._1).map { case (t, n) =>
            s""""$t":{"merged":$n}"""
          }.mkString("{", ",", "}"), "application/json")
        case ("POST", TopicMessages(topic)) => handleProduce(ex, topic)
        case ("GET", "/v1/consumer/groups") => handleGroups(ex)
        case ("GET", "/v1/consumer/groups/describe") => handleGroupDescribe(ex)
        case ("GET", "/v1/consumer/groups/lag") => handleGroupLag(ex)
        case ("POST", "/v1/admin/groups/reset") => handleGroupReset(ex)
        case ("GET", "/v1/admin/offsets-for-times") =>
          // Kafka's ListOffsets-by-timestamp API: per partition, the
          // offset of the first record with event time >= T (record-exact
          // seek; tail where nothing qualifies) — what a client uses to
          // seek manually instead of a full group reset
          val q2 = ex.query
          val t = q2.get("topic").flatMap(_.headOption)
            .getOrElse(throw HttpError(400, "topic is required"))
          if (!TopicConfig.validTopicName(t)) throw HttpError(400, "Invalid topic")
          val ts = q2.get("timestamp").flatMap(_.headOption)
            .getOrElse(throw HttpError(400, "timestamp is required"))
          val micros =
            try graft.log.PolarLog.epochOrIsoMicros(ts)
            catch { case _: java.time.format.DateTimeParseException =>
              throw HttpError(400, "timestamp must be epoch millis or ISO-8601") }
          val offs = graft.log.PolarLog.offsetsForTimestamp(spark, cfgOf(t), micros)
          respond(ex, 200, offs.toSeq.sorted
            .map { case (p, o) => s""""$p":$o""" }
            .mkString(s"""{"topic":"$t","offsets":{""", ",", "}}"),
            "application/json")
        case ("PUT", "/v1/consumer/register") => handleRegister(ex)
        case ("POST", "/v1/consumer/poll") => handlePoll(ex)
        case ("POST", "/v1/consumer/commit") => handleCommit(ex)
        case ("POST", "/v1/consumer/goodbye") => handleGoodbye(ex)
        case _ => respond(ex, 404, "Not found")
      }
    } catch {
      case HttpError(status, msg) => respond(ex, status, msg)
      // lease fencing is a CONFLICT, not a server fault: the class doc,
      // USAGE and the keepalive's operator message all promise 409 here
      // (the same shape as every other fencing conflict)
      case e: graft.log.WriterLease.FencedWriterException =>
        respond(ex, 409, s"Fenced: ${e.getMessage}")
      case e: Exception => respond(ex, 500, s"Internal error: ${e.getMessage}")
    }
  }

  private def respond(
      ex: Exchange, status: Int, body: String,
      contentType: String = "text/plain"): FullHttpResponse =
    respondBytes(ex, status, body.getBytes(UTF_8), contentType)

  private def respondBytes(
      ex: Exchange, status: Int, body: Array[Byte], contentType: String): FullHttpResponse = {
    // content negotiation: gzip success bodies when the client advertises
    // it and the payload clears one MTU-ish floor (tiny bodies get larger)
    val acceptsGzip = ex.header("Accept-Encoding")
      .exists(_.toLowerCase.split(",").exists(_.trim.takeWhile(_ != ';') == "gzip"))
    if (acceptsGzip && status == 200 && body.length >= 512) {
      val bos = new java.io.ByteArrayOutputStream(body.length / 2 + 64)
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(body); gz.close()
      val resp = reply(status, bos.toByteArray, contentType)
      resp.headers.set(HttpHeaderNames.CONTENT_ENCODING, HttpHeaderValues.GZIP)
      resp
    } else reply(status, body, contentType)
  }

  /** Bounded gunzip of a request body: a payload whose DECOMPRESSED size
    * exceeds `max` is a 400, same as an oversize plain body — never trust
    * a compression ratio (zip-bomb guard). */
  private def gunzipBounded(compressed: Array[Byte], max: Int): Array[Byte] = {
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(compressed))
      val out = new java.io.ByteArrayOutputStream(math.min(max, 1 << 16))
      val buf = new Array[Byte](8192)
      var total = 0
      var n = in.read(buf)
      while (n >= 0) {
        total += n
        if (total > max) throw HttpError(400, "Body exceeds max message size")
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      out.toByteArray
    } catch {
      case e: HttpError => throw e
      case _: java.io.IOException => throw HttpError(400, "Malformed gzip body")
    }
  }

  // ------------------------------------------------------------ txn lifecycle

  /** (id, epoch) handle from the request — epoch REQUIRED, it is the
    * fencing guard (same rule as the DSv2 write options). */
  private def txnHandleOf(ex: Exchange): graft.log.Transactions.TxnHandle = {
    val q = ex.query
    val id = q.get("id").flatMap(_.headOption)
      .getOrElse(throw HttpError(400, "id is required"))
    val epoch = q.get("epoch").flatMap(_.headOption)
      .map(s => scala.util.Try(s.trim.toLong).getOrElse(
        throw HttpError(400, s"epoch must be a number, got '$s'")))
      .getOrElse(throw HttpError(400,
        "epoch is required (the fencing epoch begin returned)"))
    graft.log.Transactions.TxnHandle(root, id, epoch)
  }

  /** Map the transaction layer's refusals onto HTTP: a fenced handle or an
    * arbiter conflict (commit-after-abort, abort-after-commit) is a 409 —
    * the caller's view of the transaction is stale, not malformed. */
  private def txnCall[T](f: => T): T =
    try f
    catch {
      case e: IllegalStateException => throw HttpError(409, e.getMessage)
      case e: IllegalArgumentException => throw HttpError(400, e.getMessage)
    }

  // ---------------------------------------------------------------- produce

  private def handleProduce(ex: Exchange, topic: String): FullHttpResponse = {
    if (!TopicConfig.validTopicName(topic))
      throw HttpError(400, "Invalid topic")
    // a produce to a not-yet-existing topic CREATES it: creation obeys the
    // stricter 248-char cap (derived file names), so refuse here with the
    // reference's 400 Invalid-topic shape rather than surfacing the write
    // path's require as a 500. Existing 249-255-char topics (pre-cap) stay
    // writable — the exists probe only runs for names past the cap.
    if (!TopicConfig.validNewTopicName(topic) &&
        graft.log.LogMetadata.readIfExists(TopicConfig(root, topic)).isEmpty)
      throw HttpError(400, "Invalid topic: new topic names are capped at 248 characters")
    // HTTP/1.1 refuses a missing or out-of-range length on the request
    // head (ProduceLengthGate); an h2c stream need not carry a length
    // header, so its aggregated body is held to the same bound here
    val raw = ex.body
    if (raw.isEmpty || raw.length > maxMessageSize)
      throw HttpError(400, produceLengthError)
    // transport decompression before size accounting: the limit is on the
    // record payload the log stores, not the wire bytes
    val body = ex.header("Content-Encoding")
      .map(_.trim.toLowerCase) match {
      case Some("gzip") => gunzipBounded(raw, maxMessageSize)
      case Some(other) if other.nonEmpty && other != "identity" =>
        throw HttpError(400, s"Unsupported Content-Encoding: $other")
      case _ => raw
    }
    if (body.length > maxMessageSize) throw HttpError(400, "Body exceeds max message size")
    val q = ex.query
    val partitionKey = q.get("partitionKey").flatMap(_.headOption).filter(_.nonEmpty)
    val tsMicros = q.get("timestamp").flatMap(_.headOption)
      .flatMap(s => scala.util.Try(s.toLong).toOption)
    val contentType = ex.header("Content-Type")
      .getOrElse("application/json").takeWhile(_ != ';').trim.toLowerCase

    messagesReceived.incrementAndGet()
    bodyBytesReceived.addAndGet(body.length.toLong)
    try {
      coalescer.append(topic, partitionKey, tsMicros, contentType, body)
        .get(120, TimeUnit.SECONDS)
      respond(ex, 200, "")
    } catch {
      case e: java.util.concurrent.ExecutionException =>
        e.getCause match {
          // a fenced root-doc CAS inside the coalescer's flush is the
          // same 409 conflict as a direct fenced write
          case f: graft.log.WriterLease.FencedWriterException =>
            throw HttpError(409, s"Fenced: ${f.getMessage}")
          case cause =>
            // a record refused by its topic's policy is the client's 400
            graft.log.RecordRejectedException.in(cause)
              .foreach(r => throw HttpError(400, r.getMessage))
            val msg = Option(cause).map(_.getMessage).getOrElse(e.getMessage)
            throw HttpError(500, s"Produce failed: $msg")
        }
    }
  }

  // --------------------------------------------------------------- consume

  /** Consumer identity: explicit `consumerId` (stateless, survives
    * reconnects), the reference's deprecated `consumer_id` alias
    * (`internal/consuming/server.go:43-44`), or — with neither —
    * CONNECTION-BOUND: the client socket address IS the id, so requests on
    * the same keep-alive connection share a consumer and a dropped
    * connection is evicted by inactivity, mirroring the reference's
    * per-connection tracked consumers (`internal/consuming/server.go:186`). */
  private def consumerIdOf(ex: Exchange): String = {
    val q = ex.query
    q.get("consumerId").flatMap(_.headOption)
      .orElse(q.get("consumer_id").flatMap(_.headOption))
      .map { id =>
        // explicit ids are interpolated into the groups/describe JSON —
        // constrain the charset so a crafted id cannot shape the response
        // (quotes/backslashes), and bound the length
        if (id.isEmpty || id.length > 128 ||
            !id.forall(c => c.isLetterOrDigit || "._:-".contains(c)))
          throw HttpError(400, "Invalid consumerId")
        id
      }
      .getOrElse {
        val r = ex.remote
        s"conn-${r.getAddress.getHostAddress}:${r.getPort}"
      }
  }

  private def handleRegister(ex: Exchange): FullHttpResponse = {
    val q = ex.query
    val consumerId = consumerIdOf(ex)
    val group = q.get("group").flatMap(_.headOption).getOrElse("default")
    if (!ConsumerGroups.validGroupName(group))
      throw HttpError(400, "Invalid group")
    // .distinct: a duplicated topic parameter would run the poll loop
    // twice over the same offsets and serve every record twice
    val topics = q.getOrElse("topic", Seq.empty).filter(_.nonEmpty).distinct
    if (topics.isEmpty) throw HttpError(400, "topic is required")
    topics.find(!TopicConfig.validTopicName(_))
      .foreach(t => throw HttpError(400, s"Invalid topic '$t'"))
    val policy = q.get("onNewGroup").flatMap(_.headOption) match {
      case Some("startFromEarliest") => ConsumerGroups.Earliest
      case _ => ConsumerGroups.Latest
    }
    // Kafka's consumer isolation.level: read_committed polls resolve
    // producer-transaction marks and stop at each partition's LSO
    val isolation = q.get("isolation").flatMap(_.headOption)
      .getOrElse("read_uncommitted")
    if (isolation != "read_uncommitted" && isolation != "read_committed")
      throw HttpError(400,
        "isolation must be read_uncommitted or read_committed")
    // registration pins the group's start per topic (idempotent: an existing
    // committed state wins over the policy default); a read_committed
    // consumer's "latest" pin is the LSO, not the raw tail
    topics.foreach(t =>
      ConsumerGroups.startingOffsets(cfgOf(t), group, policy, isolation))
    consumers.put(consumerId,
      Registered(consumerId, group, topics, policy, Map.empty, isolation))
    lastSeen.put(consumerId, System.currentTimeMillis())
    respond(ex, 200, "")
  }

  // ------------------------------------------------------------ group admin

  /** Group snapshots as a pull endpoint — the reference shares the same
    * (name, ids, topics) tuples between brokers via gossip
    * (`internal/consuming/server.go:603-636`, `GetInfoForPeers`); with the
    * driver as single authority they are served directly, plus a per-topic
    * lag computed with EXACTLY the `/metrics` gauge's registry arithmetic
    * (tail − committed per partition, no data reads). */
  private def handleGroups(ex: Exchange): FullHttpResponse = {
    evictInactive()
    val body = consumers.values.toSeq.groupBy(_.group).toSeq.sortBy(_._1)
      .map { case (g, members) =>
        val ids = members.map(_.consumerId).distinct.sorted
        val topics = members.flatMap(_.topics).distinct.sorted
        val lags = topics.flatMap { t =>
          scala.util.Try {
            val cfg = cfgOf(t)
            val tails = graft.log.PolarLog.tails(cfg)
            val comm = ConsumerGroups.committed(cfg, g).getOrElse(Map.empty)
            val lag = tails.map { case (p, tl) =>
              math.max(0L, tl - comm.getOrElse(p, 0L))
            }.sum
            s""""$t":$lag"""
          }.toOption
        }
        // JsonText.quote everywhere a stored name is reflected: group names
        // are validated at register, but defense-in-depth beats assuming
        // every writer path validated (conn-derived ids carry ':' and '.')
        s"""{"name":${JsonText.quote(g)},"members":[${
          ids.map(JsonText.quote).mkString(",")}],""" +
          s""""topics":[${topics.map(JsonText.quote).mkString(",")}],""" +
          s""""lag":{${lags.mkString(",")}}}"""
      }
    respond(ex, 200, body.mkString("""{"groups":[""", ",", "]}"),
      "application/json")
  }

  /** One group in full: members, the DETERMINISTIC round-robin assignment
    * per topic (the same [[ConsumerGroups.assignment]] arithmetic poll
    * uses — what the reference's rebalancer gossips), and per-partition
    * committed/tail/lag. */
  private def handleGroupDescribe(ex: Exchange): FullHttpResponse = {
    evictInactive()
    val g = ex.query.get("group").flatMap(_.headOption)
      .getOrElse(throw HttpError(400, "group is required"))
    val members = consumers.values.filter(_.group == g).toSeq
    if (members.isEmpty) throw HttpError(404, s"Unknown group '$g'")
    val ids = members.map(_.consumerId).distinct.sorted
    val topicJson = members.flatMap(_.topics).distinct.sorted.map { t =>
      val cfg = cfgOf(t)
      val tails = scala.util.Try(graft.log.PolarLog.tails(cfg))
        .getOrElse(Map.empty[Int, Long])
      val comm = ConsumerGroups.committed(cfg, g).getOrElse(Map.empty)
      val subs = members.filter(_.topics.contains(t)).map(_.consumerId).distinct.sorted
      val assign = ConsumerGroups.assignment(cfg, subs)
      val assignJson = subs.map { m =>
        s"""${JsonText.quote(m)}:[${
          assign.getOrElse(m, Seq.empty).sorted.mkString(",")}]"""
      }.mkString("{", ",", "}")
      val parts = tails.toSeq.sortBy(_._1).map { case (p, tl) =>
        val c = comm.getOrElse(p, 0L)
        s"""{"partition":$p,"committed":$c,"tail":$tl,"lag":${math.max(0L, tl - c)}}"""
      }.mkString("[", ",", "]")
      s"""{"topic":"$t","assignments":$assignJson,"partitions":$parts}"""
    }.mkString("[", ",", "]")
    respond(ex, 200,
      s"""{"name":${JsonText.quote(g)},"members":[${
        ids.map(JsonText.quote).mkString(",")}],""" +
        s""""topics":$topicJson}""",
      "application/json")
  }

  /** `GET /v1/consumer/groups/lag?group=g&topic=t` — the `--describe` lag
    * view over the DURABLE group document (works for groups with no live
    * member on this façade, unlike describe which reflects registered
    * consumers): per-partition committed/tail/lag from pure metadata. */
  private def handleGroupLag(ex: Exchange): FullHttpResponse = {
    val q = ex.query
    val g = q.get("group").flatMap(_.headOption)
      .getOrElse(throw HttpError(400, "group is required"))
    val t = q.get("topic").flatMap(_.headOption)
      .getOrElse(throw HttpError(400, "topic is required"))
    // validate BEFORE interpolating into the response: an unvalidated
    // topic would 500 inside cfgOf, and a group name carrying a quote or
    // backslash would otherwise produce malformed JSON (a reflected-
    // injection surface, unlike the topic-validated admin endpoints)
    if (!TopicConfig.validTopicName(t)) throw HttpError(400, "Invalid topic")
    val rows =
      try ConsumerGroups.groupLag(cfgOf(t), g)
      catch { case e: IllegalArgumentException =>
        throw HttpError(404, e.getMessage) }
    val body = rows.map(l =>
      s"""{"partition":${l.part},"committed":${l.committed},""" +
        s""""tail":${l.tail},"lag":${l.lag}}""").mkString("[", ",", "]")
    respond(ex, 200,
      s"""{"group":${JsonText.quote(g)},"topic":"$t","partitions":$body}""",
      "application/json")
  }

  /** `POST /v1/admin/groups/reset?group=g&topic=t&mode=to-earliest|
    * to-latest|to-timestamp|shift-by[&timestamp=..][&shift=..]` — the
    * `kafka-consumer-groups --reset-offsets` admin surface over
    * [[ConsumerGroups.resetOffsets]]; `timestamp` takes epoch millis or an
    * ISO-8601 instant (the startingTimestamp convention). Responds with
    * the group's new per-partition positions; the lag endpoint reflects
    * them immediately. */
  private def handleGroupReset(ex: Exchange): FullHttpResponse = {
    val q = ex.query
    def param(k: String) = q.get(k).flatMap(_.headOption)
    val g = param("group").getOrElse(throw HttpError(400, "group is required"))
    val t = param("topic").getOrElse(throw HttpError(400, "topic is required"))
    if (!TopicConfig.validTopicName(t)) throw HttpError(400, "Invalid topic")
    if (!ConsumerGroups.validGroupName(g)) throw HttpError(400, "Invalid group")
    val mode = param("mode").getOrElse(throw HttpError(400, "mode is required")) match {
      case "to-earliest" => ConsumerGroups.ToEarliest
      case "to-latest" => ConsumerGroups.ToLatest
      case "to-timestamp" =>
        val ts = param("timestamp").getOrElse(
          throw HttpError(400, "mode=to-timestamp requires timestamp"))
        val micros =
          try graft.log.PolarLog.epochOrIsoMicros(ts)
          catch { case _: java.time.format.DateTimeParseException =>
            throw HttpError(400, "timestamp must be epoch millis or ISO-8601") }
        ConsumerGroups.ToTimestamp(micros)
      case "shift-by" =>
        val n = param("shift").getOrElse(
          throw HttpError(400, "mode=shift-by requires shift"))
        scala.util.Try(n.trim.toLong).map(ConsumerGroups.ShiftBy.apply)
          .getOrElse(throw HttpError(400, "shift must be an integer"))
      case other => throw HttpError(400, s"unknown mode '$other'")
    }
    val next =
      try ConsumerGroups.resetOffsets(spark, cfgOf(t), g, mode)
      catch { case e: IllegalArgumentException => throw HttpError(404, e.getMessage) }
    val body = next.toSeq.sorted
      .map { case (p, o) => s""""$p":$o""" }.mkString("{", ",", "}")
    respond(ex, 200,
      s"""{"group":${JsonText.quote(g)},"topic":"$t","offsets":$body}""",
      "application/json")
  }

  private def registered(ex: Exchange): Registered = {
    val id = consumerIdOf(ex)
    evictInactive()
    val r = consumers.getOrElse(id, throw HttpError(409, "Consumer not registered"))
    lastSeen.put(id, System.currentTimeMillis())
    r
  }

  /** The reference's 2-minute inactivity eviction
    * (`internal/consuming/server.go:203-291`, read timeout 120 s,
    * `internal/conf/config.go:273-276`): consumers that stopped polling are
    * dropped lazily, so their partitions rebalance to the remaining group
    * members instead of stalling forever. */
  private def evictInactive(): Unit = {
    val now = System.currentTimeMillis()
    lastSeen.foreach { case (id, seen) =>
      // connection-bound ids are the client's ip:port — an ephemeral port
      // reused by a DIFFERENT client inside the window would silently
      // resurrect the previous consumer's registration, so conn-* ids get
      // a quarter of the explicit-id window (a live connection's polls
      // refresh lastSeen far faster than that; a vanished connection
      // should not linger the full read-timeout)
      val window =
        if (id.startsWith("conn-")) inactivityTimeoutMs / 4 else inactivityTimeoutMs
      if (seen < now - window) { consumers.remove(id); lastSeen.remove(id) }
    }
  }

  private def commitPending(r: Registered): Registered = {
    r.pending.foreach { case (topic, offsets) =>
      ConsumerGroups.commitPartial(cfgOf(topic), r.group, offsets)
    }
    val cleared = r.copy(pending = Map.empty)
    // replace-if-present, never put: a consumer evicted DURING a slow
    // request must not resurrect as a ghost (present in `consumers` but
    // absent from `lastSeen` — unevictable forever, permanently excluding
    // its assigned partitions from every live member). The eviction
    // stands; the client's next call re-registers.
    if (consumers.replace(r.consumerId, cleared).isDefined)
      lastSeen.put(r.consumerId, System.currentTimeMillis())
    cleared
  }

  private def handlePoll(ex: Exchange): FullHttpResponse = {
    val r0 = registered(ex)
    // the reference auto-commits the previously served position when new
    // data is requested (docs/rest_api/README.md:178-180)
    val r = commitPending(r0)
    val members = consumers.values.toSeq
      .filter(_.group == r.group).map(_.consumerId).distinct.sorted
    // content negotiation: JSON when the client accepts it explicitly OR
    // accepts anything (*/* or no Accept header — curl's default must not
    // get the binary frame layout); binary only for an Accept that names a
    // CONCRETE non-JSON type (e.g. application/octet-stream). The concrete
    // type wins even when a */* fallback rides along ("application/
    // octet-stream, */*" is the common client pattern — flipping it to a
    // JSON array would be a wire-format break for binary consumers), so
    // wildcards only decide when nothing concrete was named.
    val json = ex.header("Accept").forall { a =>
      val types = a.split(",").iterator
        .map(_.trim.takeWhile(_ != ';').trim.toLowerCase).filter(_.nonEmpty)
        .toSeq
      types.contains("application/json") || types.contains("text/json") ||
        !types.exists(t => t != "*/*" && t != "application/*" && t != "text/*")
    }

    var servedPending = Map.empty[String, Map[Int, Long]]
    // the binary response's item count is a u16 and a topic renders at
    // most one item per partition: a topic is polled only while its
    // partition count still fits the budget (the rest wait for the next
    // poll, same as the byte cap's remainder)
    var itemBudget = if (json) Long.MaxValue else 0xFFFFL
    val items = r.topics.flatMap { topic =>
      val cfg = cfgOf(topic)
      if (itemBudget < cfg.numPartitions) Seq.empty // next poll's turn
      else {
        itemBudget -= cfg.numPartitions
        // byte-bounded chunk per poll — the reference's
        // ConsumerReadThreshold (2 MiB, `internal/conf/config.go:278-280`);
        // the rest is served by subsequent polls after auto-commit
        val poll = ConsumerGroups.pollAs(spark, cfg, r.group, r.consumerId,
          members, r.policy, r.isolation,
          maxBytes = Some(maxPollBytes).filter(_ > 0))
        val served = poll.nextOffsets.filter { case (p, e) =>
          e > poll.startOffsets.getOrElse(p, 0L)
        }
        if (served.isEmpty) Seq.empty
        else {
          servedPending += topic -> served
          if (json) TopicOps.pollJson(cfg, poll.records).map(_.getBytes(UTF_8))
          else TopicOps.pollBinary(cfg, poll.records)
        }
      }
    }
    if (items.isEmpty) { respond(ex, 204, "") }
    else {
      pollsServed.incrementAndGet()
      // replace-if-present (see commitPending): an evicted consumer must
      // not resurrect as an unevictable ghost — the served-but-uncommitted
      // chunk is simply re-served after re-registration (at-least-once)
      consumers.replace(r.consumerId, r.copy(pending = servedPending)): Unit
      val out = new java.io.ByteArrayOutputStream()
      if (json) {
        out.write('[')
        items.zipWithIndex.foreach { case (item, i) =>
          if (i > 0) out.write(',')
          out.write(item)
        }
        out.write(']')
        respondBytes(ex, 200, out.toByteArray, "application/json")
      } else {
        out.write((items.size >> 8) & 0xFF); out.write(items.size & 0xFF)
        items.foreach(out.write)
        respondBytes(ex, 200, out.toByteArray, "application/octet-stream")
      }
    }
  }

  private def handleCommit(ex: Exchange): FullHttpResponse = {
    commitPending(registered(ex))
    respond(ex, 204, "")
  }

  private def handleGoodbye(ex: Exchange): FullHttpResponse = {
    val r = commitPending(registered(ex))
    consumers.remove(r.consumerId)
    lastSeen.remove(r.consumerId)
    respond(ex, 200, "")
  }
}

object PolarHttpServer {
  val FramesContentType: String = ProduceCoalescer.FramesContentType

  private val TopicMessages = "/v1/topic/([^/]+)/messages".r

  private final case class HttpError(status: Int, msg: String)
    extends RuntimeException(msg)

  /** A produce refused on its head; the [[Dispatcher]] answers it in turn. */
  private final case class Refused(keepAlive: Boolean)

  private val ClientPreface: ByteBuf = Http2CodecUtil.connectionPrefaceBuf()

  /** An aggregated request as the route table reads it. */
  private final class Exchange(req: FullHttpRequest, val remote: InetSocketAddress) {
    // ';' is an ordinary character here, not a second parameter separator
    private val uri = new QueryStringDecoder(req.uri, UTF_8, true, 1024, true)
    def method: String = req.method.name
    def path: String = uri.path
    lazy val query: Map[String, Seq[String]] =
      uri.parameters.asScala.map { case (k, vs) => k -> vs.asScala.toSeq }.toMap
    def header(name: String): Option[String] = Option(req.headers.get(name))
    def body: Array[Byte] = ByteBufUtil.getBytes(req.content)
  }

  private def reply(status: Int, text: String): FullHttpResponse =
    reply(status, text.getBytes(UTF_8), "text/plain")

  private def reply(status: Int, body: Array[Byte], contentType: String): FullHttpResponse = {
    val resp = new DefaultFullHttpResponse(HttpVersion.HTTP_1_1,
      HttpResponseStatus.valueOf(status), Unpooled.wrappedBuffer(body))
    resp.headers.set(HttpHeaderNames.CONTENT_TYPE, contentType)
    if (status != 204) HttpUtil.setContentLength(resp, body.length.toLong)
    resp
  }

  private final case class Registered(
      consumerId: String,
      group: String,
      topics: Seq[String],
      policy: ConsumerGroups.ResetPolicy,
      pending: Map[String, Map[Int, Long]],
      // Kafka's consumer isolation.level, fixed at registration
      isolation: String = "read_uncommitted")

}
