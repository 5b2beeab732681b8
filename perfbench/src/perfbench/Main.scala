package perfbench

import graft.log.{ConsumerGroups, LogMetadata, PolarLog, TopicConfig}
import graft.serving.{PolarBinaryServer, PolarHttpServer, ProduceCoalescer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Entry point of the message-path and analytics benchmark.
  *
  * `Main run <workload> <seed> <seconds> <trace> <workDir> <fixturesDir>`
  * runs one workload in-process against `PolarHttpServer` plus
  * `PolarBinaryServer` on one shared `ProduceCoalescer` over a scratch
  * root, checks every output and prints one JSON line of metrics last.
  * `Main fixtures <dir>` writes the frozen gate tables; `Main goldens
  * <fixturesDir> <workDir>` prints the analytics goldens and dumps each
  * gate's rows as parquet for the DuckDB cross-check. */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, fixtures: String)

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().min(4).toString
    val spark = graft.GraftSession.builder(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("fixtures") =>
      val dir = Paths.get(args(1))
      val spark = session(dir.getParent)
      Fixtures.writeGateTables(spark, dir.toString)
      spark.stop()
    case Some("goldens") =>
      val work = Paths.get(args(2))
      val spark = session(work)
      try Goldens.write(spark, args(1), work) finally spark.stop()
    case Some("run") =>
      val c = Conf(args(1), args(2).toLong, args(3).toInt, args(4) == "1", Paths.get(args(5)), args(6))
      val code = try new Runner(c).run() catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          3
      }
      System.out.flush()
      Runtime.getRuntime.halt(code)
    case _ =>
      System.err.println("usage: Main run|fixtures|goldens ...")
      System.exit(2)
  }
}

/** Everything one run measures, per workload. */
final class Runner(c: Main.Conf) {
  import Runner._

  private val tracer = new Tracer(c.trace)
  private val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  private val layer = mutable.LinkedHashMap[String, (Double, String)]()
  private val failures = mutable.ArrayBuffer[String]()
  private val guards = mutable.ArrayBuffer[String]()
  private val attempted = new AtomicLong
  private val failed = new AtomicLong

  private def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what

  private var phaseStart = System.nanoTime()
  private def phase(name: String): Unit = {
    val now = System.nanoTime()
    System.err.println(f"[perfbench] phase $name%s took ${(now - phaseStart) / 1e9}%.2f s")
    phaseStart = now
  }

  var spark: SparkSession = _
  var http: PolarHttpServer = _
  var bin: PolarBinaryServer = _
  var root: String = _
  private val jobs = new JobLedger(tracer)
  private val plans = new PlanLedger

  def run(): Int = {
    val setupStart = System.nanoTime()
    spark = Main.session(c.work)
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    graft.GraftSession.ensureFunctions(spark)
    // the same server stack is set up three times on fresh roots; setup_s
    // carries the median of the three, the rest of set-up once
    val stackTimes = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      if (http != null) { bin.stop(); http.stop() }
      startStack(c.work.resolve(s"root$i").toString)
      warmProduce(s"probe$i")
      (System.nanoTime() - t0) / 1e9
    }
    warmRoundTrip("probe")
    phase("stack setups")
    warmup()
    phase("warmup")
    val setupTotal = (System.nanoTime() - setupStart) / 1e9
    val jvmToSession = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3 - setupTotal
    e2e("setup_s") = (jvmToSession + setupTotal - stackTimes.sum + Stats.median(stackTimes), "s")

    val sweeps0 = scrape().getOrElse("polar_retention_sweeps", 0.0)
    val steal0 = Runner.stealSample()
    val flushes0 = scrape().getOrElse("polar_produce_flushes", 0.0)
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    jobs.reset()
    val topic = c.workload match {
      case "ingest" => ingest()
      case "pubsub" => pubsub()
      case "analytics" => analytics()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val flushes = (scrape().getOrElse("polar_produce_flushes", 0.0) - flushes0).toLong
    phase("message")

    readPhase(topic)
    phase("read")
    val sweeps = scrape().getOrElse("polar_retention_sweeps", 0.0) - sweeps0
    val steal = Runner.stealPct(steal0, Runner.stealSample())
    verifyLog(topic)
    storedBytes(topic)
    phase("verify")
    if (c.trace) { layerProbes(topic, flushes); phase("layer probes") }
    e2e("rss_peak_mb") = (Runner.peakRssMb(), "MB")

    // validity guards: a tripped guard is reported, never averaged in quietly
    if (steal > StealGuardPct) guards += f"host steal $steal%.2f%% > $StealGuardPct%%"
    if (sweeps > 0) guards += s"retention sweep ran inside the timed window ($sweeps)"
    layer("host.steal_pct") = (steal, "%")
    layer("background.retention_sweeps") = (sweeps, "count")
    layer("guard.tripped") = (if (guards.nonEmpty) 1.0 else 0.0, "bool")

    bin.stop(); http.stop()
    if (c.trace) {
      val dir = c.work.resolve("trace"); Files.createDirectories(dir)
      tracer.write(dir.resolve(s"${c.workload}-seed${c.seed}.spans.jsonl"))
      val self = tracer.selfTimesMs().toSeq.sortBy(_._1).map { case (n, (k, ms)) =>
        f""""$n":{"spans":$k,"self_ms":$ms%.3f}""" }.mkString("{", ",", "}")
      Files.writeString(dir.resolve(s"${c.workload}-seed${c.seed}.self.json"), self + "\n")
    }
    guards.foreach(g => println(s"GUARD TRIPPED: $g"))
    failures.foreach(f => println(s"CHECK FAILED: $f"))
    def render(m: mutable.LinkedHashMap[String, (Double, String)]) = m.map { case (k, (v, u)) =>
      s""""$k":{"value":${fmt(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    // both maps go out: the wrapper picks the one the trace flag asks for
    println(s"""{"correct":${failures.isEmpty},"attempted":${attempted.get},"failed":${failed.get},""" +
      s""""guards":[${guards.map(g => "\"" + g.replace("\"", "'") + "\"").mkString(",")}],""" +
      s""""e2e":${render(e2e)},"layer":${render(layer)}}""")
    0
  }

  // ---------------------------------------------------------------- stack

  /** Starts the server stack on root `r`. The job-cause tag set around
    * construction is inherited by the coalescer's flusher (see
    * [[JobLedger]]). */
  private def startStack(r: String): Unit = {
    root = r
    val sc = spark.sparkContext
    sc.setLocalProperty(JobLedger.TagKey, "flush")
    http = new PolarHttpServer(spark, root).start()
    sc.setLocalProperty(JobLedger.TagKey, null)
    bin = new PolarBinaryServer(spark, root, sharedCoalescer = Some(http.coalescer)).start()
  }

  private def scrape(): Map[String, Double] = {
    val conn = new HttpConn(http.boundPort)
    try {
      val (_, body) = conn.request("GET", "/metrics")
      new String(body, UTF_8).linesIterator.filter(l => l.nonEmpty && !l.startsWith("#"))
        .flatMap { l =>
          val i = l.lastIndexOf(' ')
          scala.util.Try(l.take(i) -> l.drop(i + 1).toDouble).toOption
        }.toMap
    } finally conn.close()
  }

  /** One HTTP produce acked: the server stack accepts writes. */
  private def warmProduce(topic: String): Unit = {
    val gen = new Payload(c.seed ^ 0x5eed)
    val p = new HttpConn(http.boundPort)
    val (st, _) = p.request("POST", s"/v1/topic/$topic/messages",
      (0 until 16).map(i => new String(gen.record(s"w-$i", nowMicros(), null), UTF_8)).mkString("\n")
        .getBytes(UTF_8), ProduceCoalescer.NdjsonContentType)
    require(st == 200, s"warm produce answered $st")
    p.close()
  }

  /** One produce acked over the binary port and one poll served: both
    * transports and the consume path work end to end. */
  private def warmRoundTrip(topic: String): Unit = {
    warmProduce(topic)
    val gen = new Payload(c.seed ^ 0x5eee)
    val p = new HttpConn(http.boundPort)
    val b = new BinaryConn(bin.boundPort)
    val done = new java.util.concurrent.CompletableFuture[String]()
    b.produce(topic, "wk", nowMicros(), Seq(gen.record("wb-0", nowMicros(), "wk")), e => done.complete(e))
    require(done.get(60, TimeUnit.SECONDS) == null, "warm binary produce failed")
    b.close()
    require(p.request("PUT", s"/v1/consumer/register?consumerId=w&group=w&topic=$topic&onNewGroup=startFromEarliest")._1 == 200)
    require(p.request("POST", "/v1/consumer/poll?consumerId=w")._1 == 200, "warm poll served nothing")
    p.request("POST", "/v1/consumer/goodbye?consumerId=w")
    p.close()
  }

  /** Untimed warmup until the flush time levels off: closed-loop HTTP
    * produces until three acks in a row sit within 15% of their median. */
  private def warmup(): Unit = {
    val gen = new Payload(c.seed ^ 0x3a3a)
    val p = new HttpConn(http.boundPort)
    val lat = mutable.ArrayBuffer[Double]()
    var i = 0
    def level = lat.size >= 3 && {
      val last = lat.takeRight(3); val m = Stats.median(last)
      last.forall(x => math.abs(x - m) <= 0.15 * m)
    }
    while (i < 12 && (i < 4 || !level)) {
      val body = (0 until 16).map(j => new String(gen.record(s"wu-$i-$j", nowMicros(), null), UTF_8))
        .mkString("\n").getBytes(UTF_8)
      val t0 = System.nanoTime()
      p.request("POST", "/v1/topic/warmup/messages", body, ProduceCoalescer.NdjsonContentType)
      lat += (System.nanoTime() - t0) / 1e6
      i += 1
    }
    p.close()
    val cfg = TopicConfig(root, "warmup")
    Fixtures.LogQueries.foreach(q => Fixtures.countAndHash(Fixtures.logQuery(spark, cfg, q,
      Fixtures.LogParams("none", 0, 0, 10, 0, Long.MaxValue))))
    // the shared topic the stream gate reads is a fixture, built untimed
    if (c.workload == "analytics") graft.queries.SharedTopics.eventsProps(spark, c.fixtures)
    else Fixtures.DriftGates.foreach(g => runGate(g, record = false))
  }

  // ------------------------------------------------------- shared helpers

  /** What the workload's producers acked, per record id: (key, conn,
    * request seq, created micros). */
  private val acked = new ConcurrentHashMap[String, (String, Int, Long, Long)]()
  private val ackedBytes = new AtomicLong

  /** First delivery per id (wall micros) and total deliveries. */
  private val delivered = new ConcurrentHashMap[String, java.lang.Long]()
  private val deliveries = new AtomicLong
  private val pollLat = new ConcurrentLinkedQueue[java.lang.Double]()
  private val pollEmpty = new AtomicLong
  private val pollTotal = new AtomicLong
  private val lagSamples = new ConcurrentLinkedQueue[java.lang.Long]()

  /** A consumer-group member polling over HTTP until `stop`, recording
    * when each record id was first delivered. */
  private def consumerThread(topic: String, group: String, id: String, stop: AtomicBoolean): Thread = {
    val t = new Thread(() => {
      val conn = new HttpConn(http.boundPort)
      try {
        require(conn.request("PUT", s"/v1/consumer/register?consumerId=$id&group=$group&topic=$topic" +
          "&onNewGroup=startFromEarliest")._1 == 200, s"register $id failed")
        while (!stop.get()) {
          val parent = tracer.nextId()
          val t0 = System.nanoTime()
          attempted.incrementAndGet()
          val (st, body) = try conn.request("POST", s"/v1/consumer/poll?consumerId=$id")
            catch { case e: Exception => failed.incrementAndGet(); throw e }
          val now = nowMicros()
          tracer.record("client.poll", t0, System.nanoTime(), id = parent)
          pollTotal.incrementAndGet()
          pollLat.add((System.nanoTime() - t0) / 1e6)
          if (st == 204) { pollEmpty.incrementAndGet(); Thread.sleep(20) }
          else if (st != 200) { failed.incrementAndGet(); Thread.sleep(20) }
          else {
            val items = Runner.json.readTree(body)
            items.elements().asScala.foreach { item =>
              item.get("values").elements().asScala.foreach { v =>
                val rec = v.asText()
                deliveries.incrementAndGet()
                delivered.putIfAbsent(Payload.idOf(rec), now)
              }
            }
          }
        }
        conn.request("POST", s"/v1/consumer/goodbye?consumerId=$id")
      } finally conn.close()
    }, s"perfbench-consumer-$id")
    t.setDaemon(true)
    t
  }

  private def lagSampler(cfg: TopicConfig, group: String, stop: AtomicBoolean): Thread = {
    val t = new Thread(() => while (!stop.get()) {
      scala.util.Try(ConsumerGroups.groupLag(cfg, group).map(_.lag).sum)
        .foreach(l => lagSamples.add(l))
      Thread.sleep(250)
    }, "perfbench-lag")
    t.setDaemon(true)
    t
  }

  /** Waits until every acked record was delivered once (bounded). */
  private def awaitDelivered(limitS: Double): Unit = {
    val deadline = System.nanoTime() + (limitS * 1e9).toLong
    val want = acked.keySet().asScala.toVector
    var i = 0
    while (System.nanoTime() < deadline && i < want.size) {
      while (i < want.size && delivered.containsKey(want(i))) i += 1
      if (i < want.size) Thread.sleep(20)
    }
  }

  /** Produce-to-first-delivery latency of the acked records created in
    * [from, until), from each record's creation time. */
  private def visibleMetrics(from: Long, until: Long): Unit = {
    val vis = acked.asScala.toVector.collect { case (id, a) if a._4 >= from && a._4 < until &&
        delivered.containsKey(id) => (delivered.get(id) - a._4) / 1e3 }
    e2e("visible_p50_ms") = (Stats.median(vis), "ms")
    e2e("visible_tail_ms") = (Stats.pct(vis, VisibleTailPct(c.workload)), "ms")
    layer("loadgen.visible_samples") = (vis.size.toDouble, "count")
  }

  private def pollLayerMetrics(): Unit = {
    val pl = pollLat.asScala.map(_.doubleValue).toVector
    layer("serving.poll_p50_ms") = (Stats.median(pl), "ms")
    layer("serving.poll_tail_ms") = (Stats.pct(pl, 90), "ms")
    val served = pollTotal.get - pollEmpty.get
    layer("serving.polls_empty_ratio") = (if (pollTotal.get == 0) 0.0 else pollEmpty.get.toDouble / pollTotal.get, "ratio")
    layer("serving.records_per_poll") = (if (served == 0) 0.0 else deliveries.get.toDouble / served, "count")
    val n = delivered.size
    layer("log.redelivered_ratio") = (if (n == 0) 0.0 else (deliveries.get - n).toDouble / n, "ratio")
    val lags = lagSamples.asScala.map(_.doubleValue).toVector
    layer("log.consumer_lag_records_p50") = (Stats.median(lags), "count")
    layer("log.consumer_lag_records_max") = (if (lags.isEmpty) 0.0 else lags.max, "count")
  }

  private def keyFor(gen: Payload): String =
    if (gen.nextInt(2) == 0) f"k-${gen.nextInt(KeyCount)}%04d" else null

  // ---------------------------------------------------------------- ingest

  /** Binary transport, open loop, 2 connections, 8 records per request,
    * three offered rates 4x apart; consumers read after the window. */
  private def ingest(): String = {
    val topic = "ingest"
    val cfg = TopicConfig(root, topic)
    val conns = (0 until 2).map(_ => new BinaryConn(bin.boundPort))
    // step boundaries as shares of the window
    val bounds = IngestStepEnds.map(_ * c.seconds)
    def stepStartS(s: Int) = if (s == 0) 0.0 else bounds(s - 1)
    val windowStart = nowMicros()
    val stepEnds = bounds.map(b => windowStart + (b * 1e6).toLong)
    // per request: (step, scheduled ns, ack ns or -1)
    final class Req(val step: Int, val due: Long, val sent: Long, val records: Int) { @volatile var ack = -1L }
    val reqs = new ConcurrentLinkedQueue[Req]()
    val lateness = new ConcurrentLinkedQueue[java.lang.Double]()
    val t0ns = System.nanoTime()
    val t0us = windowStart
    val backlog = Array.fill(3)(0L)
    val gens = conns.indices.map { ci =>
      val th = new Thread(() => {
        val gen = new Payload(c.seed * 31 + ci)
        var seq = 0L
        var lastTs = 0L
        IngestRates.indices.foreach { step =>
          val perConn = IngestRates(step) / conns.size
          val stepStart = t0ns + (stepStartS(step) * 1e9).toLong
          val stepEnd = t0ns + (bounds(step) * 1e9).toLong
          var i = 0L
          var due = stepStart
          while (due < stepEnd) {
            val wait = due - System.nanoTime()
            if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
            val sent = System.nanoTime()
            lateness.add((sent - due) / 1e6)
            val created = math.max(lastTs + 1, t0us + (due - t0ns) / 1000)
            lastTs = created
            val key = keyFor(gen)
            val recs = (0 until RecordsPerBinaryRequest).map(j => gen.record(s"b$ci-$seq-$j", created, key))
            val req = new Req(step, due, sent, recs.size)
            reqs.add(req)
            attempted.incrementAndGet()
            val mySeq = seq
            val parent = tracer.nextId()
            conns(ci).produce(topic, if (key == null) "" else key, created, recs, err => {
              val now = System.nanoTime()
              tracer.record("client.produce.binary", due, now, id = parent)
              if (err == null) {
                req.ack = now
                recs.indices.foreach(j => acked.put(s"b$ci-$mySeq-$j", (key, ci, mySeq, created)))
                ackedBytes.addAndGet(recs.map(_.length.toLong).sum)
              } else { failed.incrementAndGet(); System.err.println(s"[perfbench] produce failed: $err") }
            })
            seq += 1
            i += 1
            due = stepStart + (i * 1e9 / perConn).toLong
          }
        }
      }, s"perfbench-gen-$ci")
      th.start()
      th
    }
    // backlog (sent, not yet acked) at the end of each step
    (0 until 3).foreach { s =>
      val end = t0ns + (bounds(s) * 1e9).toLong
      while (System.nanoTime() < end) Thread.sleep(5)
      backlog(s) = conns.map(_.inFlight.toLong).sum
    }
    gens.foreach(_.join())
    val drainDeadline = System.nanoTime() + 90L * 1000000000L
    while (conns.exists(_.inFlight > 0) && System.nanoTime() < drainDeadline) Thread.sleep(10)
    val lost = conns.map(_.inFlight).sum
    if (lost > 0) { failed.addAndGet(lost.toLong); failures += s"$lost binary requests never acked" }
    conns.foreach(_.close())

    // consume after the producers stopped, so polls do not compete with
    // the flushes being measured: two members of one group read from the
    // earliest offset until every acked record has been delivered once
    val stopC = new AtomicBoolean(false)
    val consumers = (0 until 2).map(i => consumerThread(topic, "g-ingest", s"ci-$i", stopC))
    val catchUp0 = nowMicros()
    consumers.foreach(_.start())
    val stopLag = new AtomicBoolean(false)
    val lagT = if (c.trace) Some(lagSampler(cfg, "g-ingest", stopLag)) else None
    lagT.foreach(_.start())
    awaitDelivered(60)
    val catchUpS = (nowMicros() - catchUp0) / 1e6
    stopC.set(true); consumers.foreach(_.join()); stopLag.set(true); lagT.foreach(_.join())

    val all = reqs.asScala.toVector
    val perStep = (0 until 3).map { s =>
      val rs = all.filter(_.step == s)
      val lat = rs.filter(_.ack > 0).map(r => (r.ack - r.due) / 1e6)
      val tail = Stats.pct(lat, AckTailPct(c.workload))
      // sustained: every request acked, the tail within the limit, and no
      // growing backlog, i.e. requests due in the step's last third wait
      // no longer at the median than those of its first third, give or
      // take a quarter of the limit
      val byDue = rs.sortBy(_.due)
      def third(k: Int) = byDue.slice(k * byDue.size / 3, (k + 1) * byDue.size / 3)
        .filter(_.ack > 0).map(r => (r.ack - r.due) / 1e6)
      val growth = Stats.median(third(2)) - Stats.median(third(0))
      val sustained = rs.nonEmpty && rs.forall(_.ack > 0) && tail <= AckLimitMs &&
        growth <= AckLimitMs / 4
      layer(s"loadgen.step${s + 1}.latency_growth_ms") = (growth, "ms")
      // the rate the generator achieved in the step: records sent over the
      // span from the first to the last actual send
      val rate = if (rs.size < 2) 0.0
        else rs.map(_.records).sum * (rs.size - 1.0) / rs.size / ((rs.map(_.sent).max - rs.map(_.sent).min) / 1e9)
      layer(s"loadgen.step${s + 1}.ack_p50_ms") = (Stats.median(lat), "ms")
      layer(s"loadgen.step${s + 1}.ack_tail_ms") = (tail, "ms")
      layer(s"loadgen.step${s + 1}.ack_p99_ms") = (Stats.pct(lat, 99), "ms")
      layer(s"loadgen.backlog.step${s + 1}") = (backlog(s).toDouble, "count")
      (lat, sustained, rate)
    }
    e2e("ack_p50_ms") = (Stats.median(perStep(1)._1), "ms")
    e2e("ack_tail_ms") = (Stats.pct(perStep(1)._1, AckTailPct(c.workload)), "ms")
    layer("loadgen.ack_samples") = (perStep(1)._1.size.toDouble, "count")
    val best = perStep.lastIndexWhere(_._2)
    if (best < 0) failures += "no offered rate was sustained"
    e2e("sustained_records_per_s") = (perStep(math.max(best, 0))._3, "records/s")
    // completed rates over the whole run: window start to the last ack,
    // and to the last first delivery
    val lastAck = all.map(_.ack).max
    e2e("produced_records_per_s") = (acked.size / ((lastAck - t0ns) / 1e9), "records/s")
    e2e("consumed_records_per_s") = (delivered.size / catchUpS, "records/s")
    // visibility of the records of the two sustainable steps, which the
    // catch-up consumers read after the window
    visibleMetrics(windowStart, stepEnds(1))
    pollLayerMetrics()
    val late = lateness.asScala.map(_.doubleValue).toVector
    layer("loadgen.lateness_p99_ms") = (Stats.pct(late, 99), "ms")
    if (Stats.pct(late, 99) > LatenessGuardMs)
      guards += f"generator lateness p99 ${Stats.pct(late, 99)}%.1f ms > $LatenessGuardMs ms"
    topic
  }

  // ---------------------------------------------------------------- pubsub

  /** HTTP closed loop: 2 producer connections sending 16-record ndjson and
    * waiting for each ack, beside 2 consumers of one group. */
  private def pubsub(): String = {
    val topic = "pubsub"
    val cfg = TopicConfig(root, topic)
    val stopC = new AtomicBoolean(false)
    val windowStart = nowMicros()
    val windowEnd = new AtomicLong(Long.MaxValue)
    val consumers = (0 until 2).map(i => consumerThread(topic, "g-pubsub", s"cp-$i", stopC))
    consumers.foreach(_.start())
    val stopLag = new AtomicBoolean(false)
    val lagT = if (c.trace) Some(lagSampler(cfg, "g-pubsub", stopLag)) else None
    lagT.foreach(_.start())
    val ackLat = new ConcurrentLinkedQueue[java.lang.Double]()
    val deadline = System.nanoTime() + c.seconds * 1000000000L
    val producers = (0 until 2).map { pi =>
      val th = new Thread(() => {
        val gen = new Payload(c.seed * 31 + 7 + pi)
        val conn = new HttpConn(http.boundPort)
        var seq = 0L
        var lastTs = 0L
        while (System.nanoTime() < deadline) {
          val key = keyFor(gen)
          val created = math.max(lastTs + 1, nowMicros()); lastTs = created
          val recs = (0 until RecordsPerHttpRequest).map(j => gen.record(s"h$pi-$seq-$j", created, key))
          val q = s"timestamp=$created" + (if (key == null) "" else s"&partitionKey=$key")
          attempted.incrementAndGet()
          val t0 = System.nanoTime()
          val (st, _) = conn.request("POST", s"/v1/topic/$topic/messages?$q",
            recs.map(new String(_, UTF_8)).mkString("\n").getBytes(UTF_8), ProduceCoalescer.NdjsonContentType)
          val t1 = System.nanoTime()
          tracer.record("client.produce.http", t0, t1)
          if (st == 200) {
            ackLat.add((t1 - t0) / 1e6)
            val mySeq = seq
            recs.indices.foreach(j => acked.put(s"h$pi-$mySeq-$j", (key, pi, mySeq, created)))
            ackedBytes.addAndGet(recs.map(_.length.toLong).sum)
          } else { failed.incrementAndGet(); System.err.println(s"[perfbench] produce answered $st") }
          seq += 1
        }
        conn.close()
      }, s"perfbench-producer-$pi")
      th.start()
      th
    }
    producers.foreach(_.join())
    windowEnd.set(nowMicros())
    val windowS = (windowEnd.get - windowStart) / 1e6
    val deliveredInWindow = delivered.size
    val bothInWindow = acked.keySet().asScala.count(delivered.containsKey)
    awaitDelivered(60)
    stopC.set(true); consumers.foreach(_.join()); stopLag.set(true); lagT.foreach(_.join())

    val lat = ackLat.asScala.map(_.doubleValue).toVector
    e2e("ack_p50_ms") = (Stats.median(lat), "ms")
    e2e("ack_tail_ms") = (Stats.pct(lat, AckTailPct(c.workload)), "ms")
    layer("loadgen.ack_samples") = (lat.size.toDouble, "count")
    e2e("sustained_records_per_s") = (bothInWindow / windowS, "records/s")
    e2e("produced_records_per_s") = (acked.size / windowS, "records/s")
    e2e("consumed_records_per_s") = (deliveredInWindow / windowS, "records/s")
    visibleMetrics(windowStart, windowEnd.get)
    pollLayerMetrics()
    layer("loadgen.lateness_p99_ms") = (0.0, "ms")
    (1 to 3).foreach(s => layer(s"loadgen.backlog.step$s") = (0.0, "count"))
    topic
  }

  // ------------------------------------------------------------- analytics

  /** The frozen topic is ingested through the coalescer while one HTTP
    * consumer tails it; the read phase then runs with no traffic. */
  private def analytics(): String = {
    val topic = "analytics"
    val cfg = TopicConfig(root, topic)
    val stopC = new AtomicBoolean(false)
    val windowStart = nowMicros()
    val consumer = consumerThread(topic, "g-analytics", "ca-0", stopC)
    consumer.start()
    val gen = new Payload(Fixtures.TopicFixtureSeed)
    val ackLat = new ConcurrentLinkedQueue[java.lang.Double]()
    val t0 = System.nanoTime()
    // paced from one thread: the queue stays in timestamp order, so the
    // offsets match the goldens, and the acks spread over several flushes
    val futures = (0 until Fixtures.TopicRequests).map { r =>
      val (key, ts, recs) = Fixtures.analyticsRequest(gen, r)
      attempted.incrementAndGet()
      val due = t0 + (r * 1e9 / AnalyticsAppendRate).toLong
      val wait = due - System.nanoTime()
      if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
      val sent = System.nanoTime()
      val f = http.coalescer.append(topic, Option(key), Some(ts), ProduceCoalescer.NdjsonContentType,
        Fixtures.ndjson(recs))
      f.whenComplete { (_, err) =>
        val now = System.nanoTime()
        tracer.record("client.append.coalescer", sent, now)
        if (err == null) {
          ackLat.add((now - sent) / 1e6)
          // the frozen records carry synthetic creation stamps: visibility
          // is measured from the append instead
          val appended = nowMicros() - (now - sent) / 1000
          recs.indices.foreach(i => acked.put(s"a-$r-$i", (key, 0, r.toLong, appended)))
          ackedBytes.addAndGet(recs.map(_.length.toLong).sum)
        } else failed.incrementAndGet()
      }
      f
    }
    futures.foreach(f => scala.util.Try(f.get(120, TimeUnit.SECONDS)))
    val ingestS = (System.nanoTime() - t0) / 1e9
    awaitDelivered(60)
    val consumeS = (nowMicros() - windowStart) / 1e6
    stopC.set(true); consumer.join()
    val lat = ackLat.asScala.map(_.doubleValue).toVector
    e2e("ack_p50_ms") = (Stats.median(lat), "ms")
    e2e("ack_tail_ms") = (Stats.pct(lat, AckTailPct(c.workload)), "ms")
    layer("loadgen.ack_samples") = (lat.size.toDouble, "count")
    e2e("sustained_records_per_s") = (acked.size / ingestS, "records/s")
    e2e("produced_records_per_s") = (acked.size / ingestS, "records/s")
    e2e("consumed_records_per_s") = (delivered.size / consumeS, "records/s")
    visibleMetrics(0L, Long.MaxValue)
    pollLayerMetrics()
    layer("loadgen.lateness_p99_ms") = (0.0, "ms")
    (1 to 3).foreach(s => layer(s"loadgen.backlog.step$s") = (0.0, "count"))
    topic
  }

  // ------------------------------------------------------------ read phase

  private val gateTimes = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  /** Runs one gate, timing plan + execution of its full output. */
  private def runGate(name: String, record: Boolean = true): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(JobLedger.TagKey, if (record) "gate" else "warmup")
    val t0 = System.nanoTime()
    val (_, n, h) = Fixtures.countAndHash(graft.SparkEntry.queries(name)(spark, c.fixtures))
    val dt = (System.nanoTime() - t0) / 1e9
    sc.setLocalProperty(JobLedger.TagKey, null)
    graft.Materialize.sweep(spark)
    if (record) {
      tracer.record(s"gate.$name", t0, t0 + (dt * 1e9).toLong)
      gateTimes.getOrElseUpdate(name, mutable.ArrayBuffer()) += dt
      if (c.workload == "analytics") checkGolden(name, n, h)
    }
  }

  private def checkGolden(name: String, n: Long, h: String): Unit =
    Goldens.expected.get(name) match {
      case Some((gn, gh)) => check(gn == n && gh == h, s"$name: $n rows hash $h, golden $gn rows hash $gh")
      case None => failures += s"$name has no golden"
    }

  private def logParams(topic: String): Fixtures.LogParams =
    if (c.workload == "analytics") Fixtures.AnalyticsParams
    else {
      val vals = acked.values().asScala.toVector
      val keys = vals.flatMap(v => Option(v._1)).groupBy(identity).view.mapValues(_.size).toVector
      val key = keys.sortBy { case (k, n) => (-n, k) }.headOption.map(_._1).getOrElse("none")
      val ts = vals.map(_._4).sorted
      val (lo, hi) = if (ts.isEmpty) (0L, 0L) else (ts(ts.size / 3), ts(2 * ts.size / 3))
      Fixtures.LogParams(key, 5, 100, 400, lo, hi)
    }

  private def readPhase(topic: String): Unit = {
    val cfg = TopicConfig(root, topic)
    val p = logParams(topic)
    // the ingested topic is the largest, so it is scanned once
    val passes = if (c.workload == "ingest") 1 else LogQueryPasses
    val qTimes = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val planning = mutable.ArrayBuffer[Double]()
    var decoded = 0L
    var outRows = 0L
    val order = new scala.util.Random(c.seed)
    (0 until passes).foreach { _ =>
      order.shuffle(Fixtures.LogQueries).foreach { q =>
        spark.sparkContext.setLocalProperty(JobLedger.TagKey, "query")
        val t0 = System.nanoTime()
        val (agg, n, h) = Fixtures.countAndHash(Fixtures.logQuery(spark, cfg, q, p))
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setLocalProperty(JobLedger.TagKey, null)
        tracer.record(s"query.$q", t0, System.nanoTime())
        qTimes.getOrElseUpdate(q, mutable.ArrayBuffer()) += dt
        val rec = plans.take(spark, agg.queryExecution)
        planning += rec.planningMs
        decoded += rec.rowsDecoded
        outRows += n
        if (c.workload == "analytics") checkGolden(s"log.$q", n, h)
        else q match {
          case "full_scan_agg" =>
            val total = Fixtures.logQuery(spark, cfg, q, p).agg(sum("n")).collect()(0).getLong(0)
            check(total == acked.size, s"full scan sees $total records, acked ${acked.size}")
          case "key_lookup" =>
            val want = acked.values().asScala.count(_._1 == p.key)
            check(n == want, s"key lookup ${p.key}: $n rows, acked $want")
          case _ => ()
        }
      }
    }
    val passSums = (0 until passes).map(i => qTimes.values.map(_(i)).sum)
    e2e("log_queries_s") = (Stats.median(passSums), "s")
    qTimes.foreach { case (q, ts) => layer(s"sources.query_ms.$q") = (Stats.median(ts) * 1e3, "ms") }
    layer("sources.planning_ms") = (Stats.median(planning), "ms")
    layer("sources.rows_decoded_per_row") = (if (outRows == 0) 0.0 else decoded.toDouble / outRows, "ratio")

    val gates = if (c.workload == "analytics") Fixtures.Gates else Fixtures.DriftGates
    // the two drift gates are short, so they run three passes
    val gatePasses = if (c.workload == "analytics") 1 else 3
    (0 until gatePasses).foreach(_ => order.shuffle(gates).foreach(g => runGate(g)))
    val gateSums = (0 until gatePasses).map(i => gateTimes.values.map(_(i)).sum)
    e2e("gates_s") = (Stats.median(gateSums), "s")
    Fixtures.Gates.foreach(g => layer(s"queries.${g}_s") =
      (gateTimes.get(g).map(Stats.median(_)).getOrElse(0.0), "s"))
  }

  // ---------------------------------------------------------------- checks

  /** Scans the whole topic through the library and checks it against what
    * the producers were told was acked. */
  private def verifyLog(topic: String): Unit = {
    val cfg = TopicConfig(root, topic)
    val rows = PolarLog.consume(spark, cfg)
      .select(col("part"), col("offset"), col("partitionKey"),
        regexp_extract(col("value").cast("string"), "^\\{\"id\":\"([^\"]+)\"", 1).as("id"))
      .collect()
    val byId = rows.groupBy(_.getString(3))
    val missing = acked.keySet().asScala.count(id => !byId.contains(id))
    val dup = acked.keySet().asScala.count(id => byId.get(id).exists(_.length > 1))
    check(missing == 0, s"$missing acked records missing from the log")
    check(dup == 0, s"$dup acked records stored more than once")
    rows.groupBy(_.getInt(0)).foreach { case (part, rs) =>
      val offs = rs.map(_.getLong(1)).sorted
      check(offs.indices.forall(i => offs(i) == i), s"offsets of partition $part are not dense from 0")
    }
    // keyed records: per (key, connection), log order follows request order
    val inversions = rows.filter(r => !r.isNullAt(2)).flatMap(r => Option(acked.get(r.getString(3)))
        .map(a => ((a._1, a._2), (r.getInt(0), r.getLong(1), a._3))))
      .groupBy(_._1).values.count { rs =>
        val byOffset = rs.map(_._2).sortBy(x => (x._1, x._2)).map(_._3)
        byOffset.indices.drop(1).exists(i => byOffset(i) < byOffset(i - 1))
      }
    check(inversions == 0, s"$inversions (key, connection) pairs out of send order")
    val undelivered = acked.keySet().asScala.count(id => !delivered.containsKey(id))
    check(undelivered == 0, s"$undelivered acked records never reached a consumer")
    if (acked.isEmpty) failures += "no record was acked"
  }

  private def storedBytes(topic: String): Unit = {
    val dir = Paths.get(root, topic)
    val files = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toVector
    val bytes = files.map(Files.size).sum
    e2e("stored_bytes_per_byte") = (bytes.toDouble / math.max(1L, ackedBytes.get), "ratio")
    layer("log.files") = (files.size.toDouble, "count")
    layer("log.segments") = (LogMetadata.read(TopicConfig(root, topic)).files.size.toDouble, "count")
  }

  // ------------------------------------------------- direct layer probes

  /** Spark work of one cause per unit of that cause (flush, poll, gate). */
  private def sparkPer(cause: String, n: Double): Unit = {
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    val a = jobs.acc(cause)
    def per(v: AtomicLong) = if (n == 0) 0.0 else v.get / n
    layer(s"spark.$cause.jobs") = (per(a.jobs), "count")
    layer(s"spark.$cause.stages") = (per(a.stages), "count")
    layer(s"spark.$cause.tasks") = (per(a.tasks), "count")
    layer(s"spark.$cause.task_ms") = (per(a.taskMs), "ms")
    layer(s"spark.$cause.gc_ms") = (per(a.gcMs), "ms")
    layer(s"spark.$cause.shuffle_read_bytes") = (per(a.shuffleRead), "bytes")
    layer(s"spark.$cause.shuffle_write_bytes") = (per(a.shuffleWrite), "bytes")
  }

  private def layerProbes(topic: String, flushes: Long): Unit = {
    val cfg = TopicConfig(root, topic)
    // counted since the window opened, before the probes below add work
    sparkPer("flush", flushes.toDouble)
    sparkPer("poll", pollTotal.get.toDouble)
    sparkPer("gate", gateTimes.values.map(_.size).sum.toDouble)
    // coalescer called directly with the workload's request mix
    val perReq = if (c.workload == "ingest") RecordsPerBinaryRequest else RecordsPerHttpRequest
    val gen = new Payload(c.seed ^ 0x77)
    val appendLat = new ConcurrentLinkedQueue[java.lang.Double]()
    val threads = (0 until 4).map { ti =>
      val th = new Thread(() => (0 until 8).foreach { r =>
        val key = if (r % 2 == 0) f"k-${r % KeyCount}%04d" else null
        val body = (0 until perReq).map(j => new String(gen.synchronized(gen.record(s"d$ti-$r-$j", nowMicros(), key)), UTF_8))
          .mkString("\n").getBytes(UTF_8)
        val t0 = System.nanoTime()
        http.coalescer.append("direct", Option(key), None, ProduceCoalescer.NdjsonContentType, body)
          .get(60, TimeUnit.SECONDS)
        val t1 = System.nanoTime()
        tracer.record("layer.coalescer.append", t0, t1)
        appendLat.add((t1 - t0) / 1e6)
      })
      th.start(); th
    }
    threads.foreach(_.join())
    val al = appendLat.asScala.map(_.doubleValue).toVector
    layer("serving.coalescer.append_ack_p50_ms") = (Stats.median(al), "ms")
    layer("serving.coalescer.append_ack_tail_ms") = (Stats.pct(al, 90), "ms")

    val reqCount = attempted.get - pollTotal.get
    val recCount = acked.size
    layer("serving.coalescer.flushes") = (flushes.toDouble, "count")
    layer("serving.coalescer.requests_per_flush") = (if (flushes == 0) 0.0 else reqCount.toDouble / flushes, "count")
    layer("serving.coalescer.records_per_flush") = (if (flushes == 0) 0.0 else recCount.toDouble / flushes, "count")

    // flush cost ladder: direct PolarLog.produce of n records
    val ladder = Seq(1, 64, 1024, 8192).map { n =>
      val recs = (0 until n).map(i => (if (i % 2 == 0) f"k-${i % KeyCount}%04d" else null,
        new java.sql.Timestamp(System.currentTimeMillis()), gen.record(s"l$n-$i", nowMicros(), null)))
      val session = spark
      import session.implicits._
      val df = recs.toDF("partitionKey", "timestamp", "value")
      val ts = (0 until 3).map { _ =>
        spark.sparkContext.setLocalProperty(JobLedger.TagKey, "ladder")
        val t0 = System.nanoTime()
        PolarLog.produce(df, TopicConfig(root, s"ladder$n"))
        val t1 = System.nanoTime()
        spark.sparkContext.setLocalProperty(JobLedger.TagKey, null)
        tracer.record(s"layer.log.produce.n$n", t0, t1)
        (t1 - t0) / 1e6
      }
      layer(s"log.produce_ms.n$n") = (Stats.median(ts), "ms")
      (n.toDouble, Stats.median(ts))
    }
    val mx = ladder.map(_._1).sum / ladder.size; val my = ladder.map(_._2).sum / ladder.size
    val slope = ladder.map { case (x, y) => (x - mx) * (y - my) }.sum / ladder.map { case (x, _) => (x - mx) * (x - mx) }.sum
    layer("log.produce_fixed_ms") = (my - slope * mx, "ms")
    layer("log.produce_per_record_us") = (slope * 1e3, "us")

    val metaTimes = (0 until 20).map { _ =>
      val t0 = System.nanoTime(); LogMetadata.read(cfg); val t1 = System.nanoTime()
      tracer.record("layer.log.metadata_read", t0, t1)
      (t1 - t0) / 1e6
    }
    layer("log.metadata_read_ms") = (Stats.median(metaTimes), "ms")

    sparkPer("ladder", 12.0)
    // driver-only gap per gate: gate wall time not covered by any job
    val jobIv = jobs.acc("gate").busyIntervals.asScala.toVector.sortBy(_._1)
    val gateSpans = tracer.spans.asScala.filter(_.name.startsWith("gate.")).toVector
    val gaps = gateSpans.map { g =>
      val inside = jobIv.filter { case (a, b) => b > g.start && a < g.end }
        .map { case (a, b) => (math.max(a, g.start), math.min(b, g.end)) }
      var covered = 0L; var ca = -1L; var cb = -1L
      inside.foreach { case (a, b) =>
        if (a > cb) { if (cb > ca) covered += cb - ca; ca = a; cb = b } else cb = math.max(cb, b) }
      if (cb > ca) covered += cb - ca
      (g.end - g.start - covered) / 1e6
    }
    layer("spark.gate.driver_gap_ms") = (if (gaps.isEmpty) 0.0 else gaps.sum / gaps.size, "ms")
  }
}

object Runner {
  /** Offered request rates of the three ingest steps (requests/s over both
    * connections, 8 records each), 4x apart. */
  val IngestRates: Seq[Double] = Seq(100.0, 400.0, 1600.0)
  /** Where each ingest step ends, as a share of the measured window: the
    * middle step, whose acks are reported, gets most of it. */
  val IngestStepEnds: Seq[Double] = Seq(0.15, 0.85, 1.0)
  val RecordsPerBinaryRequest = 8
  val RecordsPerHttpRequest = 16
  val KeyCount = 1000
  val AckLimitMs = 2000.0
  val LogQueryPasses = 2
  /** Appends per second while the analytics topic is built. */
  val AnalyticsAppendRate = 125.0
  val StealGuardPct = 5.0
  val LatenessGuardMs = 100.0

  /** Frozen tail percentiles: the highest whole percentile with at least
    * ten samples beyond it at the parent commit's sample counts with 10 s
    * windows (ingest 2,800 acks in the middle step and 23,600 visible
    * records, pubsub ~38 and ~600, analytics 500 and 8,000), except
    * ingest's ack tail, which uses p95 for a steady reading (see README). */
  val AckTailPct: Map[String, Double] = Map("ingest" -> 95.0, "pubsub" -> 73.0, "analytics" -> 98.0)
  val VisibleTailPct: Map[String, Double] = Map("ingest" -> 99.0, "pubsub" -> 98.0, "analytics" -> 99.0)

  val json = new com.fasterxml.jackson.databind.ObjectMapper()

  def nowMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).round(new java.math.MathContext(10)).toPlainString

  /** (steal, total) ticks from /proc/stat, summing only the first eight
    * fields: guest time is already folded into user and nice. */
  def stealSample(): (Long, Long) = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  } catch { case _: Exception => (0L, 0L) }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 - a._2 <= 0) 0.0 else 100.0 * (b._1 - a._1) / (b._2 - a._2)
}
