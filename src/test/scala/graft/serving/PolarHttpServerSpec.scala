package graft.serving

import graft.log.{LogMetadata, PolarLog, TopicConfig}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

class PolarHttpServerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var server: PolarHttpServer = _
  private var base: String = _
  private var root: String = _
  private val client = HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    spark = graft.GraftSession.builder(master = "local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    root = Files.createTempDirectory("polar_http").toString
    server = new PolarHttpServer(spark, root, lingerMs = 5).start()
    base = s"http://127.0.0.1:${server.boundPort}"
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop()
    if (spark != null) spark.stop()
  }

  private def post(path: String, body: Array[Byte],
      headers: Seq[(String, String)] = Seq.empty): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"$base$path"))
      .POST(BodyPublishers.ofByteArray(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.build(), BodyHandlers.ofString())
  }

  private def put(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
      .PUT(BodyPublishers.noBody()).build(), BodyHandlers.ofString())

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path")).GET().build(),
      BodyHandlers.ofString())

  test("status and discovery endpoints") {
    assert(get("/status").statusCode() === 200)
    val brokers = get("/v1/brokers")
    assert(brokers.statusCode() === 200)
    assert(brokers.body().contains("\"length\":1"))
    assert(brokers.body().contains(s""""producerPort":${server.boundPort}"""))
  }

  test("txn lifecycle over HTTP: begin/offsets/commit, fencing and conflicts map to 409") {
    import graft.log.{ConsumerGroups, Transactions}
    val cfg = TopicConfig(root, "httptxn_src")
    PolarLog.produce(spark.range(6).selectExpr(
      "cast(id as string) as partitionKey", "timestamp_micros(id) as timestamp",
      "cast(id as string) as value"), cfg)
    ConsumerGroups.poll(spark, cfg, "hg", ConsumerGroups.Earliest) // register {_:0}
    // a zero/negative timeout is a validation error at begin (400), not a
    // confusing 409 at commit after the next sweep aborts it
    assert(post("/v1/txn/begin?id=http-etl&timeoutMs=0", Array.empty)
      .statusCode() === 400)
    assert(post("/v1/txn/begin?id=http-etl&timeoutMs=-5", Array.empty)
      .statusCode() === 400)
    // begin → epoch
    val began = post("/v1/txn/begin?id=http-etl&timeoutMs=30000", Array.empty)
    assert(began.statusCode() === 200, began.body())
    val epoch = """"epoch":(\d+)""".r.findFirstMatchIn(began.body()).get.group(1).toLong
    // stage the group's offsets inside the txn (body-carried JSON)
    val tails = PolarLog.tails(cfg)
    val offsJson = tails.toSeq.sorted.map { case (p, o) => s""""$p":$o""" }
      .mkString("{", ",", "}")
    val staged = post(
      s"/v1/txn/offsets?id=http-etl&epoch=$epoch&topic=httptxn_src&group=hg",
      offsJson.getBytes(UTF_8))
    assert(staged.statusCode() === 200, staged.body())
    // epoch is required everywhere (fencing), and a WRONG epoch is a 409
    assert(post("/v1/txn/commit?id=http-etl", Array.empty).statusCode() === 400)
    assert(post(s"/v1/txn/commit?id=http-etl&epoch=${epoch - 1}", Array.empty)
      .statusCode() === 409)
    // commit applies the staged position atomically
    assert(post(s"/v1/txn/commit?id=http-etl&epoch=$epoch", Array.empty)
      .statusCode() === 204)
    assert(ConsumerGroups.committed(cfg, "hg") === Some(tails))
    // abort over HTTP, then a commit of the aborted incarnation is a 409
    // conflict (stale view), never a 500
    val h2 = Transactions.begin(root, "http-etl")
    assert(post(s"/v1/txn/abort?id=http-etl&epoch=${h2.epoch}", Array.empty)
      .statusCode() === 204)
    assert(post(s"/v1/txn/commit?id=http-etl&epoch=${h2.epoch}", Array.empty)
      .statusCode() === 409)
    val inv = get("/v1/admin/txns")
    assert(inv.statusCode() === 200)
    assert(!inv.body().contains(""""id":"http-etl""""), inv.body())
  }

  test("GET /v1/admin/lease reports the standing writer lease and holder-ship") {
    import graft.log.WriterLease
    // unleased root: null lease, not held
    val before = get("/v1/admin/lease")
    assert(before.statusCode() === 200)
    assert(before.body().contains(""""lease":null"""), before.body())
    assert(before.body().contains(""""heldByThisDriver":false"""))
    // acquire (same JVM = this "driver"): live lease, held
    WriterLease.acquire(root, "http-admin", ttlMs = 600000L)
    try {
      val during = get("/v1/admin/lease")
      assert(during.body().contains(""""holder":"http-admin""""), during.body())
      assert(during.body().contains(""""live":true"""))
      assert(during.body().contains(""""heldByThisDriver":true"""))
      // the metrics face carries the fencing counter
      val metrics = get("/metrics")
      assert(metrics.body().contains("polar_lease_fenced_writes"), metrics.body())
    } finally WriterLease.release(root)
    val after = get("/v1/admin/lease")
    assert(after.body().contains(""""live":false"""), after.body())
    assert(after.body().contains(""""heldByThisDriver":false"""))
  }

  test("produce validation: invalid topic and oversize body are 400") {
    assert(post("/v1/topic/_bad/messages", "{}".getBytes(UTF_8)).statusCode() === 400)
    val big = new Array[Byte](PolarLog.DefaultMaxMessageSize + 1)
    assert(post("/v1/topic/t400/messages", big).statusCode() === 400)
  }

  test("chunked request bodies are rejected with a clean 400, connection stays usable") {
    // an InputStream publisher has no known length -> the client sends
    // Transfer-Encoding: chunked with no Content-Length
    val req = HttpRequest.newBuilder(URI.create(s"$base/v1/topic/tchunk/messages"))
      .POST(BodyPublishers.ofInputStream(() =>
        new java.io.ByteArrayInputStream("""{"k":1}""".getBytes(UTF_8))))
      .build()
    val resp = client.send(req, BodyHandlers.ofString())
    assert(resp.statusCode() === 400)
    assert(resp.body().contains("chunked not supported"))
    // the drained connection still serves the next request
    assert(get("/status").statusCode() === 200)
  }

  test("manual retention sweep endpoint reports per-topic counts") {
    val resp = post("/v1/admin/retention/sweep", Array.emptyByteArray)
    assert(resp.statusCode() === 200)
    assert(resp.body().startsWith("{") && resp.body().endsWith("}"))
    assert(server.retention.sweeps >= 1)
  }

  test("admin history endpoint lists retained versions with commit times") {
    val topic = "histep"
    (0 until 4).foreach { i =>
      val r = post(s"/v1/topic/$topic/messages?partitionKey=h$i&timestamp=${1000000L * i}",
        s"""{"h":$i}""".getBytes(UTF_8), Seq("Content-Type" -> "application/json"))
      assert(r.statusCode() === 200)
    }
    assert(get("/v1/admin/history").statusCode() === 400) // topic required
    val resp = get(s"/v1/admin/history?topic=$topic")
    assert(resp.statusCode() === 200)
    val body = resp.body()
    assert(body.startsWith("""{"history":["""))
    // at least one retained commit, each carrying version/commitMs/records
    assert(""""version":(\d+)""".r.findAllMatchIn(body).nonEmpty)
    val commits = """"commitMs":(\d+)""".r.findAllMatchIn(body)
      .map(_.group(1).toLong).toSeq
    assert(commits.nonEmpty && commits.forall(_ > 0))
    assert(commits === commits.sorted)
    val records = """"records":(\d+)""".r.findAllMatchIn(body)
      .map(_.group(1).toLong).toSeq
    assert(records.last === 4L)
  }

  test("admin topics inventory lists every topic with registry stats") {
    val topic = "invep"
    (0 until 3).foreach { i =>
      assert(post(s"/v1/topic/$topic/messages?partitionKey=i$i",
        s"""{"i":$i}""".getBytes(UTF_8),
        Seq("Content-Type" -> "application/json")).statusCode() === 200)
    }
    val body = get("/v1/admin/topics").body()
    assert(body.startsWith("""{"topics":["""))
    val row = s""""topic":"$topic","partitions":12,"files":(\\d+),"records":3""".r
    assert(row.findFirstIn(body).isDefined, body)
  }

  test("admin topic config: set, read back, unset; bad keys/values are 400") {
    val topic = "cfgep"
    assert(post(s"/v1/topic/$topic/messages?partitionKey=k",
      """{"x":1}""".getBytes(UTF_8),
      Seq("Content-Type" -> "application/json")).statusCode() === 200)
    // set retention.ms, read it back
    assert(post(s"/v1/admin/topics/config?topic=$topic&key=retention.ms&value=3600000",
      Array.emptyByteArray).statusCode() === 200)
    val body = get(s"/v1/admin/topics/config?topic=$topic").body()
    assert(body.contains(""""retention.ms":"3600000""""), body)
    // unset removes it
    assert(post(s"/v1/admin/topics/config?topic=$topic&key=retention.ms",
      Array.emptyByteArray).statusCode() === 200)
    assert(get(s"/v1/admin/topics/config?topic=$topic").body()
      .contains(""""config":{}"""))
    // -1 is the VALID retention-disabled sentinel (kafka-configs parity)
    assert(post(s"/v1/admin/topics/config?topic=$topic&key=retention.ms&value=-1",
      Array.emptyByteArray).statusCode() === 200)
    assert(get(s"/v1/admin/topics/config?topic=$topic").body()
      .contains(""""retention.ms":"-1""""))
    assert(post(s"/v1/admin/topics/config?topic=$topic&key=retention.ms",
      Array.emptyByteArray).statusCode() === 200)
    // malformed value / unknown key refuse
    assert(post(s"/v1/admin/topics/config?topic=$topic&key=retention.ms&value=-2",
      Array.emptyByteArray).statusCode() === 400)
    assert(post(s"/v1/admin/topics/config?topic=$topic&key=delete.retention.ms&value=-5",
      Array.emptyByteArray).statusCode() === 400)
    assert(post(s"/v1/admin/topics/config?topic=$topic&key=max.message.bytes&value=0",
      Array.emptyByteArray).statusCode() === 400)
    assert(post(s"/v1/admin/topics/config?topic=$topic&key=nope&value=1",
      Array.emptyByteArray).statusCode() === 400)
  }

  test("admin delete-records: trims below the cutoff; -1 truncates, offsets survive") {
    val topic = "delrecep"
    def produce(tag: Int): Unit = (0 until 3).foreach { i =>
      val r = post(s"/v1/topic/$topic/messages?partitionKey=d$i",
        s"""{"t":$tag,"i":$i}""".getBytes(UTF_8),
        Seq("Content-Type" -> "application/json"))
      assert(r.statusCode() === 200)
    }
    produce(0); produce(1)
    assert(post("/v1/admin/delete-records", Array.emptyByteArray)
      .statusCode() === 400) // topic required
    // -1 = truncate: every segment drops, the next produce continues offsets
    val resp = post(s"/v1/admin/delete-records?topic=$topic&before=-1",
      Array.emptyByteArray)
    assert(resp.statusCode() === 200)
    val n = """"deletedFiles":(\d+)""".r.findFirstMatchIn(resp.body())
      .map(_.group(1).toInt).get
    assert(n > 0)
    import graft.log.{LogMetadata, TopicConfig}
    val cfg = TopicConfig(root, topic)
    assert(LogMetadata.read(cfg).filesEmpty)
    assert(LogMetadata.read(cfg).producerOffsets.sum === 6L)
    produce(2)
    val meta = LogMetadata.read(cfg)
    assert(meta.producerOffsets.sum === 9L)
    // surviving files all start past the truncated history
    assert(meta.files.forall(f => f.minOffset >= 1L))
  }

  test("admin group reset: to-earliest/to-latest/to-timestamp/shift-by, lag reflects") {
    val topic = "resetep"
    (0 until 8).foreach { i =>
      val r = post(s"/v1/topic/$topic/messages?partitionKey=r$i&timestamp=${1000000000L + 1000L * i}",
        s"""{"r":$i}""".getBytes(UTF_8), Seq("Content-Type" -> "application/json"))
      assert(r.statusCode() === 200, r.body())
    }
    // register + drain + auto-commit so the group doc exists at tail
    put(s"/v1/consumer/register?consumerId=rc&group=rg&topic=$topic&onNewGroup=startFromEarliest")
    assert(post("/v1/consumer/poll?consumerId=rc", Array.empty,
      Seq("Accept" -> "application/json")).statusCode() === 200)
    assert(post("/v1/consumer/commit?consumerId=rc", Array.empty).statusCode() === 204)
    def totalLag(): Long =
      """"lag":(\d+)""".r.findAllMatchIn(
        get(s"/v1/consumer/groups/lag?group=rg&topic=$topic").body())
        .map(_.group(1).toLong).sum
    assert(totalLag() === 0L)
    // validation
    assert(post(s"/v1/admin/groups/reset?group=rg&topic=$topic", Array.empty)
      .statusCode() === 400) // mode required
    assert(post(s"/v1/admin/groups/reset?group=rg&topic=$topic&mode=to-timestamp",
      Array.empty).statusCode() === 400) // timestamp required
    assert(post(s"/v1/admin/groups/reset?group=nope&topic=$topic&mode=to-earliest",
      Array.empty).statusCode() === 404) // unregistered group
    // to-earliest: everything pending again
    val rEarliest = post(s"/v1/admin/groups/reset?group=rg&topic=$topic&mode=to-earliest",
      Array.empty)
    assert(rEarliest.statusCode() === 200, rEarliest.body())
    assert(rEarliest.body().contains("\"offsets\":{"))
    assert(totalLag() === 8L)
    // to-timestamp (epoch millis): the two newest records remain pending
    val cutMs = 1000000000L + 1000L * 6 // ts of record 6, in micros
    val rTs = post(s"/v1/admin/groups/reset?group=rg&topic=$topic&mode=to-timestamp" +
      s"&timestamp=${cutMs / 1000L}", Array.empty)
    assert(rTs.statusCode() === 200, rTs.body())
    assert(totalLag() === 2L)
    // shift-by rewinds from the current positions, clamped at earliest
    assert(post(s"/v1/admin/groups/reset?group=rg&topic=$topic&mode=shift-by&shift=-100",
      Array.empty).statusCode() === 200)
    assert(totalLag() === 8L)
    // to-latest: caught up
    assert(post(s"/v1/admin/groups/reset?group=rg&topic=$topic&mode=to-latest",
      Array.empty).statusCode() === 200)
    assert(totalLag() === 0L)
  }

  test("offsets-for-times endpoint returns record-exact per-partition seeks") {
    val topic = "offtimes"
    (0 until 6).foreach { i =>
      val r = post(s"/v1/topic/$topic/messages?partitionKey=o$i&timestamp=${2000000000L + 1000L * i}",
        s"""{"o":$i}""".getBytes(UTF_8), Seq("Content-Type" -> "application/json"))
      assert(r.statusCode() === 200, r.body())
    }
    assert(get(s"/v1/admin/offsets-for-times?topic=$topic").statusCode() === 400)
    // cut at record 4's event time (epoch millis form): partitions holding
    // records 4/5 seek to them; all others seek to their tails
    val cutMs = (2000000000L + 4000L) / 1000L
    val resp = get(s"/v1/admin/offsets-for-times?topic=$topic&timestamp=$cutMs")
    assert(resp.statusCode() === 200, resp.body())
    val offs = """"(\d+)":(\d+)""".r.findAllMatchIn(resp.body())
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
    val cfg = TopicConfig(root, topic)
    val tails = PolarLog.tails(cfg)
    assert(offs.keySet === tails.keySet)
    // total pending after the seek == records at/after the cut (2 of 6)
    val pending = offs.map { case (p, o) => tails(p) - o }.sum
    assert(pending === 2L, s"expected 2 pending after cut, got $pending ($offs)")
  }

  test("json produce + register + poll + commit + goodbye flow") {
    val topic = "flow"
    (0 until 6).foreach { i =>
      val r = post(s"/v1/topic/$topic/messages?partitionKey=k$i&timestamp=${1000000L * i}",
        s"""{"i":$i}""".getBytes(UTF_8), Seq("Content-Type" -> "application/json"))
      assert(r.statusCode() === 200, r.body())
    }
    // unregistered poll is 409
    assert(post("/v1/consumer/poll?consumerId=c1", Array.empty).statusCode() === 409)

    val reg = put(s"/v1/consumer/register?consumerId=c1&group=g1&topic=$topic&onNewGroup=startFromEarliest")
    assert(reg.statusCode() === 200)
    val poll = post("/v1/consumer/poll?consumerId=c1", Array.empty,
      Seq("Accept" -> "application/json"))
    assert(poll.statusCode() === 200)
    (0 until 6).foreach(i => assert(poll.body().contains(s"""{\\"i\\":$i}""")
      || poll.body().contains(s"""{"i":$i}"""), s"missing record $i in ${poll.body()}"))

    // nothing new: second poll auto-commits the first and returns 204
    assert(post("/v1/consumer/poll?consumerId=c1", Array.empty).statusCode() === 204)
    // goodbye unregisters
    assert(post("/v1/consumer/goodbye?consumerId=c1", Array.empty).statusCode() === 200)
    assert(post("/v1/consumer/poll?consumerId=c1", Array.empty).statusCode() === 409)
    // a NEW earliest group re-reads everything (the goodbye committed g1, not the log)
    put(s"/v1/consumer/register?consumerId=c2&group=g2&topic=$topic&onNewGroup=startFromEarliest")
    assert(post("/v1/consumer/poll?consumerId=c2", Array.empty,
      Seq("Accept" -> "application/json")).statusCode() === 200)
  }

  test("connection-bound consumer: no consumerId, identity rides the keep-alive connection") {
    val topic = "connb"
    (0 until 3).foreach { i =>
      assert(post(s"/v1/topic/$topic/messages?partitionKey=c$i",
        s"""{"i":$i}""".getBytes(UTF_8),
        Seq("Content-Type" -> "application/json")).statusCode() === 200)
    }
    // register WITHOUT consumerId: the client socket is the identity
    // (reference: per-connection tracked consumers). The shared
    // java.net.http client reuses its one keep-alive connection for
    // sequential requests, so the next poll carries the same identity.
    val reg = put(s"/v1/consumer/register?group=gc&topic=$topic&onNewGroup=startFromEarliest")
    assert(reg.statusCode() === 200)
    val poll = post("/v1/consumer/poll", Array.empty, Seq("Accept" -> "application/json"))
    assert(poll.statusCode() === 200, poll.body())
    (0 until 3).foreach(i => assert(poll.body().contains(s"""{\\"i\\":$i}""")
      || poll.body().contains(s"""{"i":$i}"""), s"missing record $i"))
    // legacy consumer_id alias still routes to the same stateless flow
    assert(put(s"/v1/consumer/register?consumer_id=leg1&group=glegacy&topic=$topic&onNewGroup=startFromEarliest")
      .statusCode() === 200)
    assert(post("/v1/consumer/poll?consumer_id=leg1", Array.empty,
      Seq("Accept" -> "application/json")).statusCode() === 200)
  }

  test("ndjson and framed produce split into records") {
    val topic = "split"
    val nd = "a\nb\r\nc\n\n".getBytes(UTF_8)
    assert(post(s"/v1/topic/$topic/messages?partitionKey=nd&timestamp=1",
      nd, Seq("Content-Type" -> "application/x-ndjson")).statusCode() === 200)
    val frames = {
      val out = new java.io.ByteArrayOutputStream()
      Seq("xx", "yyy").foreach { s =>
        val b = s.getBytes(UTF_8)
        out.write(Array[Byte](0, 0, 0, b.length.toByte)); out.write(b)
      }
      out.toByteArray
    }
    assert(post(s"/v1/topic/$topic/messages?partitionKey=fr&timestamp=2",
      frames, Seq("Content-Type" -> PolarHttpServer.FramesContentType)).statusCode() === 200)
    val n = PolarLog.consume(spark, TopicConfig(root, topic)).count()
    assert(n === 5) // a,b,c + xx,yyy
  }

  test("latest-policy group only sees records produced after registration") {
    val topic = "latest"
    post(s"/v1/topic/$topic/messages?partitionKey=k&timestamp=1", "before".getBytes(UTF_8))
    put(s"/v1/consumer/register?consumerId=cl&group=gl&topic=$topic")
    assert(post("/v1/consumer/poll?consumerId=cl", Array.empty).statusCode() === 204)
    post(s"/v1/topic/$topic/messages?partitionKey=k&timestamp=2", "after".getBytes(UTF_8))
    val r = post("/v1/consumer/poll?consumerId=cl", Array.empty,
      Seq("Accept" -> "application/json"))
    assert(r.statusCode() === 200)
    assert(r.body().contains("after") && !r.body().contains("before"))
  }

  test("two members of one group are served disjoint partitions that union to all") {
    val topic = "shared"
    (0 until 40).foreach { i =>
      assert(post(s"/v1/topic/$topic/messages?partitionKey=u$i&timestamp=${i.toLong}",
        s"""{"u":$i}""".getBytes(UTF_8)).statusCode() === 200)
    }
    put(s"/v1/consumer/register?consumerId=ma&group=gs&topic=$topic&onNewGroup=startFromEarliest")
    put(s"/v1/consumer/register?consumerId=mb&group=gs&topic=$topic&onNewGroup=startFromEarliest")
    def values(body: String): Set[Int] =
      """\{\\?"u\\?":(\d+)\}""".r.findAllMatchIn(body).map(_.group(1).toInt).toSet
    val ra = post("/v1/consumer/poll?consumerId=ma", Array.empty,
      Seq("Accept" -> "application/json"))
    val rb = post("/v1/consumer/poll?consumerId=mb", Array.empty,
      Seq("Accept" -> "application/json"))
    assert(ra.statusCode() === 200 && rb.statusCode() === 200)
    val (va, vb) = (values(ra.body()), values(rb.body()))
    assert((va & vb).isEmpty, s"members served overlapping records: ${va & vb}")
    assert((va | vb) === (0 until 40).toSet)
  }

  test("binary poll response carries the u16 count + reference item layout") {
    val topic = "bin"
    post(s"/v1/topic/$topic/messages?partitionKey=k1&timestamp=7", "payload".getBytes(UTF_8))
    put(s"/v1/consumer/register?consumerId=cb&group=gb&topic=$topic&onNewGroup=startFromEarliest")
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"$base/v1/consumer/poll?consumerId=cb"))
        .POST(BodyPublishers.noBody()).header("Accept", "application/octet-stream").build(),
      BodyHandlers.ofByteArray())
    assert(r.statusCode() === 200)
    val b = r.body()
    val count = ((b(0) & 0xFF) << 8) | (b(1) & 0xFF)
    assert(count === 1)
    // item: token i64 | rangeIndex u8 | version u32 | topicLen u8 | topic ...
    val topicLen = b(2 + 8 + 1 + 4) & 0xFF
    assert(topicLen === topic.length)
    val name = new String(b, 2 + 8 + 1 + 4 + 1, topicLen, UTF_8)
    assert(name === topic)
    assert(new String(b, UTF_8).contains("payload"))
  }

  test("a served poll runs one Spark job with zero shuffle bytes") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    // its own server on its own root, so only the poll's scan plans read
    // it: the shared server's background sweeps read `root`
    val costRoot = Files.createTempDirectory("polar_http_cost").toString
    val cost = new PolarHttpServer(spark, costRoot, lingerMs = 5,
      retentionSweepMs = 3600000L).start()
    val marker = "poll-cost-marker"
    val listener = new SparkListener {
      val reads = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
      val markers = new java.util.concurrent.atomic.AtomicInteger
      private val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      @volatile var counting = false
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart
            if x.physicalPlanDescription.contains(costRoot) => reads.add(x.executionId)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == marker)) markerJobs.add(e.jobId)
        else if (counting && props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .exists(id => reads.contains(id.toLong))) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          shuffleBytes.addAndGet(e.taskMetrics.shuffleReadMetrics.totalBytesRead +
            e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markers.incrementAndGet()
    }
    // a marker job's end proves every earlier event was delivered
    def drain(): Unit = {
      val seen = listener.markers.get
      spark.sparkContext.setJobGroup(marker, marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000L
      while (listener.markers.get == seen && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(listener.markers.get > seen, "listener bus did not drain")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val costBase = s"http://127.0.0.1:${cost.boundPort}"
      (0 until 30).foreach { i =>
        val r = client.send(HttpRequest.newBuilder(
            URI.create(s"$costBase/v1/topic/pollcost/messages?partitionKey=u$i"))
          .POST(BodyPublishers.ofByteArray(s"""{"u":$i}""".getBytes(UTF_8))).build(),
          BodyHandlers.ofString())
        assert(r.statusCode() === 200, r.body())
      }
      Seq("application/json", "application/octet-stream").foreach { accept =>
        val id = s"cost-${accept.length}"
        assert(client.send(HttpRequest.newBuilder(URI.create(s"$costBase/v1/consumer/" +
            s"register?consumerId=$id&group=$id&topic=pollcost&onNewGroup=startFromEarliest"))
          .PUT(BodyPublishers.noBody()).build(), BodyHandlers.ofString())
          .statusCode() === 200)
        drain()
        listener.jobs.set(0); listener.shuffleBytes.set(0L); listener.counting = true
        val r = client.send(HttpRequest.newBuilder(
            URI.create(s"$costBase/v1/consumer/poll?consumerId=$id"))
          .POST(BodyPublishers.noBody()).header("Accept", accept).build(),
          BodyHandlers.ofByteArray())
        drain()
        listener.counting = false
        assert(r.statusCode() === 200)
        assert(new String(r.body(), UTF_8).contains("""{"u":29}""") ||
          new String(r.body(), UTF_8).contains("""{\"u\":29}"""))
        assert(listener.jobs.get === 1, s"$accept poll jobs")
        assert(listener.shuffleBytes.get === 0L, s"$accept poll shuffle bytes")
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      cost.stop()
    }
  }

  test("accept negotiation: wildcard and absent Accept get JSON; the binary count is record-capped") {
    val topic = "acc"
    post(s"/v1/topic/$topic/messages?partitionKey=ka", "v".getBytes(UTF_8))
    put(s"/v1/consumer/register?consumerId=ca&group=ga&topic=$topic&onNewGroup=startFromEarliest")
    // curl's default Accept: */* must NOT get the binary frame layout
    val r = post(s"/v1/consumer/poll?consumerId=ca", Array.empty,
      Seq("Accept" -> "*/*"))
    assert(r.statusCode() === 200)
    assert(r.body().trim.startsWith("["), s"wildcard Accept must be JSON: ${r.body()}")
    // the u16 guard itself: recordCapEnd bounds one poll's admitted
    // records across arbitrarily large backlogs (registry-only check —
    // producing 66k records would dominate the suite's wall clock)
    val meta = graft.log.LogMetadata(1L, 1, 1, Vector(200000L),
      filesByPart = Map(0 -> Vector.tabulate(10)(i =>
        graft.log.FileEntry(0, s"w$i.parquet", i * 20000L, i * 20000L + 19999L,
          20000L, 1L << 20, 1L, Long.MinValue, Long.MaxValue, -1L))))
    val capped = graft.log.ConsumerGroups.recordCapEnd(
      meta, Map(0 -> 0L), Map(0 -> 200000L), 0xFFFFL)
    val admitted = capped(0) - 0L
    assert(admitted === 0xFFFFL, s"cap must admit exactly 65535, got $admitted")
    // progress guarantee: a zero budget still admits one when pending
    val one = graft.log.ConsumerGroups.recordCapEnd(
      meta, Map(0 -> 0L), Map(0 -> 200000L), 0L)
    assert(one(0) === 1L)
    // REAL offset gaps (trimmed head, compacted-away run) are jumped for
    // free; a budget stop mid-file must NOT jump (records remain there)
    val gappy = graft.log.LogMetadata(1L, 1, 1, Vector(400L),
      filesByPart = Map(0 -> Vector(
        graft.log.FileEntry(0, "a.parquet", 100L, 199L, 100L, 4096L, 1L,
          Long.MinValue, Long.MaxValue, -1L),
        graft.log.FileEntry(0, "b.parquet", 300L, 399L, 100L, 4096L, 1L,
          Long.MinValue, Long.MaxValue, -1L))))
    // budget covers both files: jumps 0->100 and 200->300, admits 200 rows
    assert(graft.log.ConsumerGroups.recordCapEnd(
      gappy, Map(0 -> 0L), Map(0 -> 400L), 1000L)(0) === 400L)
    // budget stops mid-file-a: ends INSIDE a, never jumps to b
    assert(graft.log.ConsumerGroups.recordCapEnd(
      gappy, Map(0 -> 0L), Map(0 -> 400L), 50L)(0) === 150L)
  }

  test("accept negotiation: a concrete non-JSON type wins over a */* fallback") {
    val topic = "accb"
    post(s"/v1/topic/$topic/messages?partitionKey=kb", "v".getBytes(UTF_8))
    put(s"/v1/consumer/register?consumerId=cb2&group=gb2&topic=$topic&onNewGroup=startFromEarliest")
    // the common client pattern "application/octet-stream, */*" asks for
    // the BINARY layout — honoring the wildcard here was a wire-format
    // break for existing binary consumers
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"$base/v1/consumer/poll?consumerId=cb2"))
        .POST(BodyPublishers.noBody())
        .header("Accept", "application/octet-stream, */*").build(),
      BodyHandlers.ofByteArray())
    assert(r.statusCode() === 200)
    val b = r.body()
    val count = ((b(0) & 0xFF) << 8) | (b(1) & 0xFF)
    assert(count === 1, "concrete octet-stream + */* must get the u16+items binary layout")
    // but an explicit JSON anywhere in the list still gets JSON, and
    // q-value parameters are tolerated (fresh record: the binary poll
    // above consumed and auto-committed the first one)
    post(s"/v1/topic/$topic/messages?partitionKey=kb", "w".getBytes(UTF_8))
    val rj = post(s"/v1/consumer/poll?consumerId=cb2", Array.empty,
      Seq("Accept" -> "application/json;q=0.9, application/octet-stream;q=0.1"))
    assert(rj.body().trim.startsWith("["), s"explicit JSON must win: ${rj.body()}")
  }

  test("recordCapEnd charges exact registry counts for whole sparse files") {
    // heavily compacted topic: 10 files, each spanning 10000 offsets but
    // holding only 100 real records. Span-charging admitted just 6.5
    // files' worth of offsets for a 65535 budget (≈650 real records — the
    // documented throughput cliff); count-charging admits all 1000 real
    // records and keeps walking.
    val sparse = graft.log.LogMetadata(1L, 1, 1, Vector(100000L),
      filesByPart = Map(0 -> Vector.tabulate(10)(i =>
        graft.log.FileEntry(0, s"kc$i.parquet", i * 10000L, i * 10000L + 9999L,
          100L, 4096L, 1L, Long.MinValue, Long.MaxValue, -1L))))
    val end = graft.log.ConsumerGroups.recordCapEnd(
      sparse, Map(0 -> 0L), Map(0 -> 100000L), 0xFFFFL)
    assert(end(0) === 100000L,
      s"a 65535 budget must admit all 10 sparse files (1000 real records), got ${end(0)}")
    // budget below one file's count: partial slice stays span-charged (a
    // sparse sub-span may be locally dense; the u16 is a hard wire limit)
    val partial = graft.log.ConsumerGroups.recordCapEnd(
      sparse, Map(0 -> 0L), Map(0 -> 100000L), 50L)
    assert(partial(0) === 50L)
    // whole-file boundary arithmetic: budget exactly two files' counts
    val two = graft.log.ConsumerGroups.recordCapEnd(
      sparse, Map(0 -> 0L), Map(0 -> 100000L), 200L)
    assert(two(0) === 20000L, s"exactly two whole files, got ${two(0)}")
  }

  test("register with isolation=read_committed: polls exclude open-transaction records") {
    val topic = "isoc"
    post(s"/v1/topic/$topic/messages?partitionKey=k1", "committed".getBytes(UTF_8))
    val cfg = graft.log.TopicConfig(root, topic)
    val h = graft.log.Transactions.begin(root, "http-iso")
    try {
      graft.log.PolarLog.produce(
        spark.sql("SELECT 'k1' as partitionKey, timestamp_micros(1) as timestamp, " +
          "cast('staged' as binary) as value"),
        cfg, producerTxn = Some(h))
      assert(put(s"/v1/consumer/register?consumerId=ciso&group=giso&topic=$topic" +
        "&onNewGroup=startFromEarliest&isolation=read_committed").statusCode() === 200)
      val r = post(s"/v1/consumer/poll?consumerId=ciso", Array.empty,
        Seq("Accept" -> "application/json"))
      assert(r.statusCode() === 200)
      assert(r.body().contains("committed"), r.body())
      assert(!r.body().contains("staged"),
        s"read_committed poll served uncommitted records: ${r.body()}")
      // a default consumer of the same topic sees the staged record
      put(s"/v1/consumer/register?consumerId=cunc&group=gunc&topic=$topic" +
        "&onNewGroup=startFromEarliest")
      val ru = post(s"/v1/consumer/poll?consumerId=cunc", Array.empty,
        Seq("Accept" -> "application/json"))
      assert(ru.body().contains("staged"), ru.body())
      // bad values refuse loudly
      assert(put(s"/v1/consumer/register?consumerId=cx&group=gx&topic=$topic" +
        "&isolation=serializable").statusCode() === 400)
    } finally graft.log.Transactions.abort(h)
  }

  test("admin txns endpoint lists routed journals and producer transactions") {
    val h = graft.log.Transactions.begin(root, "http-txn")
    try {
      val r = get("/v1/admin/txns")
      assert(r.statusCode() === 200)
      assert(r.body().contains("\"journals\":["), r.body())
      assert(r.body().contains("\"id\":\"http-txn\""), r.body())
      assert(r.body().contains("\"state\":\"open\""), r.body())
      assert(s""""epoch":${h.epoch}""".r.findFirstIn(r.body()).isDefined, r.body())
    } finally graft.log.Transactions.abort(h)
    // resolved transactions disappear from the inventory
    assert(!get("/v1/admin/txns").body().contains("http-txn"))
  }

  test("register: duplicate topic params dedupe; crafted consumerIds are refused") {
    val topic = "dup"
    (0 until 3).foreach(i =>
      post(s"/v1/topic/$topic/messages?partitionKey=d$i", s"m$i".getBytes(UTF_8)))
    put(s"/v1/consumer/register?consumerId=cd&group=gd&topic=$topic&topic=$topic&onNewGroup=startFromEarliest")
    val poll = post(s"/v1/consumer/poll?consumerId=cd", Array.empty,
      Seq("Accept" -> "application/json"))
    assert(poll.statusCode() === 200)
    (0 until 3).foreach { i =>
      val first = poll.body().indexOf(s"m$i")
      assert(first >= 0, s"record m$i missing")
      assert(poll.body().indexOf(s"m$i", first + 1) < 0,
        s"record m$i served twice: ${poll.body()}")
    }
    // an id that could reshape the groups JSON is rejected up front
    val bad = put("""/v1/consumer/register?consumerId=x%22,%22injected&group=gd&topic=dup""")
    assert(bad.statusCode() === 400, bad.body())
  }

  test("one oversize record fails only its own request, not the shared linger window") {
    val co = new ProduceCoalescer(spark, root, lingerMs = 50)
    try {
      def framed(payload: Array[Byte]): Array[Byte] = {
        val b = java.nio.ByteBuffer.allocate(4 + payload.length)
        b.putInt(payload.length).put(payload); b.array()
      }
      val big = new Array[Byte]((1 << 20) + 64) // over the 1 MiB default cap
      val ok = "fine".getBytes(UTF_8)
      // both land in the same linger window and the same per-topic batch
      val fBig = co.append("iso", Some("kb"), None,
        ProduceCoalescer.BinaryContentType, framed(big))
      val fOk = co.append("iso", Some("ko"), None,
        ProduceCoalescer.BinaryContentType, framed(ok))
      val err = intercept[java.util.concurrent.ExecutionException] {
        fBig.get(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(err.getCause.getMessage.contains("maxMessageSize"))
      // the innocent neighbor commits and its record is durable
      fOk.get(60, java.util.concurrent.TimeUnit.SECONDS)
      val rows = graft.log.PolarLog.consume(spark,
        graft.log.TopicConfig(root, "iso")).collect()
      assert(rows.length === 1)
    } finally co.stop()
  }

  test("a produce refused by the KIP-937 timestamp bounds is a 400 and registers nothing") {
    val topic = "tsbound400"
    assert(post(s"/v1/topic/$topic/messages?partitionKey=k", "fresh".getBytes(UTF_8))
      .statusCode() === 200)
    assert(post(s"/v1/admin/topics/config?topic=$topic" +
      "&key=message.timestamp.before.max.ms&value=60000",
      Array.emptyByteArray).statusCode() === 200)
    val dayOldMicros = (System.currentTimeMillis() - 24L * 3600 * 1000) * 1000L
    val r = post(s"/v1/topic/$topic/messages?partitionKey=k&timestamp=$dayOldMicros",
      "stale".getBytes(UTF_8))
    assert(r.statusCode() === 400, r.body())
    assert(r.body().contains("out of range"), r.body())
    assert(PolarLog.consume(spark, TopicConfig(root, topic)).count() === 1)
  }

  test("one stale-timestamp record fails only its own request, not the shared linger window") {
    val topic = "iso_ts"
    val cfg = TopicConfig(root, topic)
    PolarLog.produce(spark.createDataFrame(Seq(("seed", "s")))
      .toDF("partitionKey", "value"), cfg)
    LogMetadata.updateProps(cfg)(
      _ + (graft.log.TopicProps.MessageTimestampBeforeMaxMs -> "60000"))
    val co = new ProduceCoalescer(spark, root, lingerMs = 50)
    try {
      val staleMicros = (System.currentTimeMillis() - 3600L * 1000) * 1000L
      // both land in the same linger window and the same per-topic batch
      val fStale = co.append(topic, Some("ks"), Some(staleMicros),
        "application/json", "stale".getBytes(UTF_8))
      val fOk = co.append(topic, Some("ko"), None,
        "application/json", "fresh".getBytes(UTF_8))
      val err = intercept[java.util.concurrent.ExecutionException] {
        fStale.get(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(err.getCause.isInstanceOf[graft.log.RecordRejectedException], err.getCause)
      assert(err.getCause.getMessage.contains("out of range"), err.getCause.getMessage)
      // the fresh neighbour commits and its record is durable
      fOk.get(60, java.util.concurrent.TimeUnit.SECONDS)
      val values = PolarLog.consume(spark, cfg).selectExpr("CAST(value AS STRING)")
        .collect().map(_.getString(0)).sorted
      assert(values.toSeq === Seq("fresh", "s"))
    } finally co.stop()
  }

  test("metrics endpoint exposes serving counters") {
    val m = get("/metrics")
    assert(m.statusCode() === 200)
    assert(m.body().contains("polar_messages_received"))
    assert(m.body().contains("polar_produce_flushes"))
    assert(m.body().contains("polar_txns_recovered"))
    assert(m.body().contains("polar_txn_marks_reconciled"))
  }

  test("admin compact endpoint merges the per-request segments of a topic") {
    for (i <- 0 until 5)
      assert(post(s"/v1/topic/compacted/messages?partitionKey=same",
        s"""{"i":$i}""".getBytes(UTF_8)).statusCode() === 200)
    // per-request produces with a tiny linger leave several segments; the
    // exact count depends on flush timing, so assert on the endpoint's
    // report + the post-state instead
    val r = post("/v1/admin/compact", Array.empty)
    assert(r.statusCode() === 200)
    assert(r.body().contains("\"compacted\":{\"merged\":"), r.body())
    val cfg = TopicConfig(root, "compacted")
    val files = LogMetadata.read(cfg).filesByPart.filter(_._2.nonEmpty)
    assert(files.forall(_._2.size == 1), files.toString)
    assert(get("/metrics").body().contains("polar_segments_merged"))
  }

  test("consumer lag gauge tracks tail minus committed and drains to zero") {
    for (i <- 0 until 6)
      assert(post(s"/v1/topic/lagged/messages?partitionKey=k$i",
        s"""{"i":$i}""".getBytes(UTF_8)).statusCode() === 200)
    assert(put("/v1/consumer/register?consumerId=lc&group=lg&topic=lagged&onNewGroup=startFromEarliest")
      .statusCode() === 200)
    val before = get("/metrics").body()
    val lagRe = """polar_consumer_lag\{group="lg",topic="lagged"\} (\d+)""".r
    val lag0 = lagRe.findFirstMatchIn(before).map(_.group(1).toLong)
    assert(lag0 === Some(6L), s"expected full lag, metrics:\n$before")
    // drain: poll (may take several chunked polls), then commit the pending
    var polls = 0
    var more = true
    while (more && polls < 20) {
      more = post("/v1/consumer/poll?consumerId=lc", Array.empty).statusCode() === 200
      polls += 1
    }
    val commit = post("/v1/consumer/commit?consumerId=lc", Array.empty).statusCode()
    assert(commit === 200 || commit === 204, s"commit -> $commit")
    val after = get("/metrics").body()
    assert(lagRe.findFirstMatchIn(after).map(_.group(1).toLong) === Some(0L),
      s"expected zero lag after drain, metrics:\n$after")
  }

  test("group admin endpoints list members, assignments and lag matching /metrics") {
    for (i <- 0 until 8)
      assert(post(s"/v1/topic/admint/messages?partitionKey=a$i",
        s"""{"i":$i}""".getBytes(UTF_8)).statusCode() === 200)
    assert(put("/v1/consumer/register?consumerId=ga1&group=gadmin&topic=admint&onNewGroup=startFromEarliest")
      .statusCode() === 200)
    assert(put("/v1/consumer/register?consumerId=ga2&group=gadmin&topic=admint&onNewGroup=startFromEarliest")
      .statusCode() === 200)
    val list = get("/v1/consumer/groups").body()
    assert(list.contains(""""name":"gadmin""""), list)
    assert(list.contains(""""members":["ga1","ga2"]"""), list)
    // the list's per-topic lag is the /metrics gauge's number
    val listLag = """"gadmin".*?"admint":(\d+)""".r
      .findFirstMatchIn(list).map(_.group(1).toLong)
    val mLag = """polar_consumer_lag\{group="gadmin",topic="admint"\} (\d+)""".r
      .findFirstMatchIn(get("/metrics").body()).map(_.group(1).toLong)
    assert(listLag === mLag)
    assert(listLag === Some(8L), s"full backlog expected, got $listLag in $list")
    val desc = get("/v1/consumer/groups/describe?group=gadmin").body()
    assert(desc.contains(""""topic":"admint""""), desc)
    // assignments are the rebalancer's: disjoint, union = all 12 partitions
    val assigned = """"ga(\d)":\[([0-9,]*)\]""".r.findAllMatchIn(desc)
      .map(m => m.group(1) -> m.group(2).split(",").filter(_.nonEmpty).map(_.toInt).toSet)
      .toMap
    assert(assigned.keySet === Set("1", "2"), desc)
    assert((assigned("1") intersect assigned("2")).isEmpty)
    assert(assigned("1") ++ assigned("2") === (0 until 12).toSet)
    // per-partition lags sum to the same gauge
    val perPartLag = """"lag":(\d+)\}""".r.findAllMatchIn(desc)
      .map(_.group(1).toLong).sum
    assert(perPartLag === 8L, desc)
    assert(get("/v1/consumer/groups/describe?group=nope").statusCode() === 404)
    // the DURABLE lag endpoint answers from the group document (no live
    // member required) and its per-partition lags sum to the same backlog
    val lag = get("/v1/consumer/groups/lag?group=gadmin&topic=admint").body()
    assert(lag.contains(""""group":"gadmin""""), lag)
    val lagSum = """"lag":(\d+)\}""".r.findAllMatchIn(lag)
      .map(_.group(1).toLong).sum
    assert(lagSum === 8L, lag)
    assert(get("/v1/consumer/groups/lag?group=nope&topic=admint")
      .statusCode() === 404)
    assert(get("/v1/consumer/groups/lag?group=gadmin").statusCode() === 400)
  }

  test("inactive consumers are evicted and their partitions rebalance") {
    val fast = new PolarHttpServer(spark, root, inactivityTimeoutMs = 300).start()
    try {
      val b2 = s"http://127.0.0.1:${fast.boundPort}"
      def req(method: String, path: String) =
        client.send(HttpRequest.newBuilder(URI.create(s"$b2$path"))
          .method(method, BodyPublishers.noBody()).build(), BodyHandlers.ofString())
      (0 until 20).foreach { i =>
        client.send(HttpRequest.newBuilder(
          URI.create(s"$b2/v1/topic/evict/messages?partitionKey=e$i&timestamp=$i"))
          .POST(BodyPublishers.ofString(s"""{"e":$i}""")).build(), BodyHandlers.ofString())
      }
      req("PUT", "/v1/consumer/register?consumerId=live&group=ge&topic=evict&onNewGroup=startFromEarliest")
      req("PUT", "/v1/consumer/register?consumerId=dead&group=ge&topic=evict&onNewGroup=startFromEarliest")
      Thread.sleep(400) // both exceed the inactivity timeout
      // a stale consumer's own call finds itself evicted (the reference's
      // timer eviction: idle 2 min => unregistered, poll answers 409)
      assert(req("POST", "/v1/consumer/poll?consumerId=live").statusCode() === 409)
      // re-registering makes it the ONLY member ('dead' stays evicted), so
      // the rebalanced assignment hands it every partition
      req("PUT", "/v1/consumer/register?consumerId=live&group=ge&topic=evict&onNewGroup=startFromEarliest")
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"$b2/v1/consumer/poll?consumerId=live"))
        .POST(BodyPublishers.noBody()).header("Accept", "application/json").build(),
        BodyHandlers.ofString())
      assert(r.statusCode() === 200)
      val n = """\\?"e\\?":(\d+)""".r.findAllMatchIn(r.body()).size
      assert(n === 20, s"sole surviving member should get all records, got $n")
      assert(req("POST", "/v1/consumer/poll?consumerId=dead").statusCode() === 409)
    } finally fast.stop()
  }

  test("byte-capped polls drain the backlog in chunks without loss") {
    // a second server with a tiny poll cap against the same root
    val small = new PolarHttpServer(spark, root, maxPollBytes = 64).start()
    try {
      val b2 = s"http://127.0.0.1:${small.boundPort}"
      (0 until 12).foreach { i =>
        val r = client.send(HttpRequest.newBuilder(
          URI.create(s"$b2/v1/topic/chunked/messages?partitionKey=k$i&timestamp=$i"))
          .POST(BodyPublishers.ofString(s"""{"i":$i,"pad":"xxxxxxxxxxxxxxxx"}"""))
          .build(), BodyHandlers.ofString())
        assert(r.statusCode() === 200)
      }
      client.send(HttpRequest.newBuilder(URI.create(
        s"$b2/v1/consumer/register?consumerId=cc&group=gc&topic=chunked&onNewGroup=startFromEarliest"))
        .PUT(BodyPublishers.noBody()).build(), BodyHandlers.ofString())
      def values(body: String): Set[Int] =
        """\\?"i\\?":(\d+)""".r.findAllMatchIn(body).map(_.group(1).toInt).toSet
      var seen = Set.empty[Int]
      var polls = 0
      var status = 200
      while (status == 200 && polls < 50) {
        val r = client.send(HttpRequest.newBuilder(
          URI.create(s"$b2/v1/consumer/poll?consumerId=cc"))
          .POST(BodyPublishers.noBody()).header("Accept", "application/json").build(),
          BodyHandlers.ofString())
        status = r.statusCode()
        if (status == 200) { seen ++= values(r.body()); polls += 1 }
      }
      assert(status === 204)
      assert(seen === (0 until 12).toSet, s"lost records after $polls polls")
      assert(polls > 1, "expected the tiny byte cap to force chunked draining")
    } finally small.stop()
  }

  test("concurrent produce requests coalesce into few batches") {
    val topic = "coal"
    val n = 30
    val before = server.flushCount
    val futures = (0 until n).map { i =>
      client.sendAsync(
        HttpRequest.newBuilder(
          URI.create(s"$base/v1/topic/$topic/messages?partitionKey=k$i&timestamp=$i"))
          .POST(BodyPublishers.ofString(s"""{"i":$i}""")).build(),
        BodyHandlers.ofString())
    }
    futures.foreach(f => assert(f.join().statusCode() === 200))
    val flushes = server.flushCount - before
    assert(flushes < n, s"expected coalescing, got $flushes flushes for $n requests")
    assert(PolarLog.consume(spark, TopicConfig(root, topic)).count() === n)
    // metadata versions advanced once per flush, not once per request
    assert(LogMetadata.read(TopicConfig(root, topic)).version <= flushes + 1)
  }

  test("gzip produce bodies decompress before the log; gzip polls negotiate") {
    def gzip(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(b); gz.close(); bos.toByteArray
    }
    def gunzip(b: Array[Byte]): Array[Byte] =
      new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(b)).readAllBytes()

    val topic = "gztop"
    val pad = "x" * 40
    val lines = (0 until 30).map(i => s"""{"i":$i,"pad":"$pad"}""").mkString("\n")
    val r = post(s"/v1/topic/$topic/messages?partitionKey=a",
      gzip(lines.getBytes(UTF_8)),
      Seq("Content-Type" -> "application/x-ndjson", "Content-Encoding" -> "gzip"))
    assert(r.statusCode() === 200, r.body())
    // records landed DECOMPRESSED and split: the wire encoding is
    // transport-only, never stored
    Thread.sleep(100)
    assert(PolarLog.consume(spark, TopicConfig(root, topic)).count() === 30)

    // poll with Accept-Encoding: gzip → compressed response over the wire
    put(s"/v1/consumer/register?consumerId=gz1&group=gzg&topic=$topic&onNewGroup=startFromEarliest")
    val req = HttpRequest.newBuilder(URI.create(s"$base/v1/consumer/poll?consumerId=gz1"))
      .POST(BodyPublishers.noBody())
      .header("Accept", "application/json")
      .header("Accept-Encoding", "gzip")
      .build()
    val poll = client.send(req, BodyHandlers.ofByteArray())
    assert(poll.statusCode() === 200)
    assert(poll.headers().firstValue("Content-Encoding").orElse("") === "gzip")
    val bodyStr = new String(gunzip(poll.body()), UTF_8)
    assert(bodyStr.contains("\"i\":0") || bodyStr.contains("\\\"i\\\":0"), bodyStr)

    // zip bomb: tiny wire bytes, oversize decompressed payload → clean 400
    val bomb = gzip(new Array[Byte](PolarLog.DefaultMaxMessageSize + 1))
    assert(post(s"/v1/topic/$topic/messages?partitionKey=a", bomb,
      Seq("Content-Type" -> "application/json", "Content-Encoding" -> "gzip"))
      .statusCode() === 400)
    // malformed gzip → 400, not a 500
    assert(post(s"/v1/topic/$topic/messages?partitionKey=a",
      "not gzip at all".getBytes(UTF_8),
      Seq("Content-Type" -> "application/json", "Content-Encoding" -> "gzip"))
      .statusCode() === 400)
    // unknown encodings are rejected, identity passes through
    assert(post(s"/v1/topic/$topic/messages?partitionKey=a", "{}".getBytes(UTF_8),
      Seq("Content-Type" -> "application/json", "Content-Encoding" -> "br"))
      .statusCode() === 400)
    assert(post(s"/v1/topic/$topic/messages?partitionKey=a", "{}".getBytes(UTF_8),
      Seq("Content-Type" -> "application/json", "Content-Encoding" -> "identity"))
      .statusCode() === 200)
  }
}
