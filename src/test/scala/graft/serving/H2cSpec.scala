package graft.serving

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import io.netty.buffer.{ByteBufUtil, Unpooled}
import io.netty.handler.codec.http2.{DefaultHttp2Headers, DefaultHttp2HeadersDecoder, DefaultHttp2HeadersEncoder}

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * End-to-end h2c prior-knowledge exchanges against the façade listener,
 * driven by a minimal frame-level client. Header blocks come from Netty's
 * HPACK codec, or are fixed bytes where a test needs one exact
 * representation on the wire.
 */
class H2cSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var server: PolarHttpServer = _
  private var root: String = _

  override def beforeAll(): Unit = {
    spark = graft.GraftSession.builder(master = "local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    root = Files.createTempDirectory("polar_h2c").toString
    server = new PolarHttpServer(spark, root, lingerMs = 5).start()
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop()
    if (spark != null) spark.stop()
  }

  private def hex(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  // --------------------------------------------------- minimal h2c client

  /** Frame-level h2c client: prior-knowledge preface, SETTINGS exchange,
    * then synchronous request/response streams. It honours the server's
    * send windows on upload and replenishes its own receive windows. */
  private final class H2Client(port: Int) {
    import H2cSpec._
    private val sock = new Socket("127.0.0.1", port)
    sock.setSoTimeout(30000)
    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    private val out = new BufferedOutputStream(sock.getOutputStream)
    private val encoder = new DefaultHttp2HeadersEncoder()
    private val decoder = new DefaultHttp2HeadersDecoder()
    private var nextStream = 1
    // send windows (RFC 7540 §6.9.2: 65535 until the peer opens them)
    private var connWindow = 65535L
    private val streamWindow = mutable.Map.empty[Int, Long].withDefaultValue(65535L)

    // connection preface + empty SETTINGS; server answers SETTINGS which
    // the frame pump acks lazily
    out.write(Preface)
    writeFrame(out, FrameSettings, 0, 0, Array.emptyByteArray)
    out.flush()

    private def readFrame(): (Int, Int, Int, Array[Byte]) = {
      val len = (in.readUnsignedByte() << 16) | (in.readUnsignedByte() << 8) | in.readUnsignedByte()
      val tpe = in.readUnsignedByte()
      val flags = in.readUnsignedByte()
      val sid = in.readInt() & 0x7fffffff
      val payload = new Array[Byte](len)
      in.readFully(payload)
      (tpe, flags, sid, payload)
    }

    /** Answers the connection-level frames every read loop may meet. */
    private def control(tpe: Int, flags: Int, sid: Int, payload: Array[Byte]): Unit = tpe match {
      case FrameSettings if (flags & FlagAck) == 0 =>
        writeFrame(out, FrameSettings, FlagAck, 0, Array.emptyByteArray); out.flush()
      case FramePing if (flags & FlagAck) == 0 =>
        writeFrame(out, FramePing, FlagAck, 0, payload); out.flush()
      case FrameWindowUpdate =>
        val inc = java.nio.ByteBuffer.wrap(payload).getInt & 0x7fffffff
        if (sid == 0) connWindow += inc else streamWindow(sid) += inc
      case _ => ()
    }

    /** Send one request; `headerBlock` is a pre-encoded HPACK fragment (so
      * tests control exactly which representations the server must decode).
      * Returns (status, headers, body). */
    def request(headerBlock: Array[Byte], body: Array[Byte] = Array.emptyByteArray,
        dataFrameSize: Int = 16384): (Int, Seq[(String, String)], Array[Byte]) = {
      val sid = nextStream; nextStream += 2
      writeFrame(out, FrameHeaders,
        FlagEndHeaders | (if (body.isEmpty) FlagEndStream else 0), sid, headerBlock)
      var off = 0
      while (off < body.length) {
        val n = math.min(dataFrameSize, body.length - off)
        if (math.min(connWindow, streamWindow(sid)) < n) {
          out.flush()
          val (tpe, flags, fsid, payload) = readFrame()
          control(tpe, flags, fsid, payload)
        } else {
          writeFrame(out, FrameData, if (off + n >= body.length) FlagEndStream else 0,
            sid, java.util.Arrays.copyOfRange(body, off, off + n))
          connWindow -= n; streamWindow(sid) -= n
          off += n
        }
      }
      out.flush()
      awaitResponse(sid)
    }

    /** Encode a full request header set with this connection's encoder;
      * blocks must be sent in the order they were encoded. */
    def literalHeaders(method: String, path: String,
        extra: Seq[(String, String)] = Nil): Array[Byte] =
      encode(Seq(":method" -> method, ":scheme" -> "http",
        ":path" -> path, ":authority" -> "127.0.0.1") ++ extra)

    def encode(headers: Seq[(String, String)]): Array[Byte] = {
      val h = new DefaultHttp2Headers()
      headers.foreach { case (n, v) => h.add(n, v) }
      val buf = Unpooled.buffer()
      try { encoder.encodeHeaders(0, h, buf); ByteBufUtil.getBytes(buf) }
      finally buf.release()
    }

    private def decode(block: Array[Byte]): Seq[(String, String)] =
      decoder.decodeHeaders(0, Unpooled.wrappedBuffer(block)).iterator.asScala
        .map(e => e.getKey.toString -> e.getValue.toString).toSeq

    /** A request whose body is followed by TRAILER headers (second HEADERS
      * block, END_STREAM) — gRPC's framing shape. */
    def requestWithTrailers(headerBlock: Array[Byte], body: Array[Byte],
        trailerBlock: Array[Byte]): (Int, Seq[(String, String)], Array[Byte]) = {
      val sid = nextStream; nextStream += 2
      writeFrame(out, FrameHeaders, FlagEndHeaders, sid, headerBlock)
      writeFrame(out, FrameData, 0, sid, body)
      writeFrame(out, FrameHeaders, FlagEndHeaders | FlagEndStream, sid, trailerBlock)
      out.flush()
      awaitResponse(sid)
    }

    /** Send one raw frame (malformed-frame tests). */
    def sendRaw(tpe: Int, flags: Int, sid: Int, payload: Array[Byte]): Unit = {
      writeFrame(out, tpe, flags, sid, payload); out.flush()
    }

    /** True when the server closed the connection (EOF/reset on read) —
      * drains the handful of frames the server legitimately sends first
      * (its SETTINGS, a GOAWAY) before concluding it stayed open. */
    def serverClosed(): Boolean =
      try {
        var i = 0
        while (i < 10) { readFrame(); i += 1 }
        false
      } catch { case _: java.io.IOException => true }

    private def awaitResponse(sid: Int): (Int, Seq[(String, String)], Array[Byte]) = {
      var status = -1
      var headers: Seq[(String, String)] = Nil
      val respBody = new java.io.ByteArrayOutputStream()
      var done = false
      while (!done) {
        val (tpe, flags, fsid, payload) = readFrame()
        tpe match {
          case FrameHeaders if fsid == sid =>
            headers = decode(payload)
            status = headers.collectFirst { case (":status", v) => v.toInt }.getOrElse(-1)
            if ((flags & FlagEndStream) != 0) done = true
          case FrameData if fsid == sid =>
            respBody.write(payload)
            if (payload.nonEmpty) { // replenish so >64 KiB responses flow
              val p = java.nio.ByteBuffer.allocate(4).putInt(payload.length).array()
              writeFrame(out, FrameWindowUpdate, 0, 0, p)
              if ((flags & FlagEndStream) == 0) writeFrame(out, FrameWindowUpdate, 0, sid, p)
              out.flush()
            }
            if ((flags & FlagEndStream) != 0) done = true
          case _ => control(tpe, flags, fsid, payload)
        }
      }
      (status, headers, respBody.toByteArray)
    }

    def close(): Unit = sock.close()
  }

  // ------------------------------------------------------------ end-to-end

  test("h2c prior-knowledge GET /status and /v1/brokers") {
    val c = new H2Client(server.h2cPort)
    try {
      val (status, _, body) = c.request(c.literalHeaders("GET", "/status"))
      assert(status === 200)
      assert(new String(body, UTF_8) === "OK")
      val (s2, hs2, b2) = c.request(c.literalHeaders("GET", "/v1/brokers"))
      assert(s2 === 200)
      assert(new String(b2, UTF_8).contains(s""""h2cPort":${server.h2cPort}"""))
      assert(hs2.exists { case (n, v) => n == "content-type" && v.startsWith("application/json") })
    } finally c.close()
  }

  test("h2c produce (body split across DATA frames) then poll round-trips") {
    val topic = "h2ct1"
    val c = new H2Client(server.h2cPort)
    try {
      val ndjson = (0 until 8).map(i => s"""{"n":$i}""").mkString("\n").getBytes(UTF_8)
      val (ps, _, _) = c.request(
        c.literalHeaders("POST", s"/v1/topic/$topic/messages",
          Seq("content-type" -> "application/x-ndjson")),
        ndjson, dataFrameSize = 7) // force many small DATA frames
      assert(ps === 200)

      val (rs, _, _) = c.request(c.literalHeaders("PUT",
        s"/v1/consumer/register?consumerId=h2c1&group=hg1&topic=$topic&onNewGroup=startFromEarliest"))
      assert(rs === 200)
      val (qs, _, qb) = c.request(c.literalHeaders("POST",
        "/v1/consumer/poll?consumerId=h2c1", Seq("accept" -> "application/json")))
      assert(qs === 200)
      val text = new String(qb, UTF_8)
      (0 until 8).foreach(i => assert(text.contains(s"""{\\"n\\":$i}""") ||
        text.contains(s"""{"n":$i}"""), s"missing record $i in $text"))
    } finally c.close()
  }

  test("h2c requests using Huffman strings and the dynamic table decode correctly") {
    val c = new H2Client(server.h2cPort)
    try {
      // literal WITH incremental indexing + Huffman-coded strings, then a
      // second request addressing the inserted entries by dynamic index:
      // 82 86 = :method GET, :scheme http; 40 = literal with incremental
      // indexing, new name; 0x80|len = Huffman-coded string of len bytes
      val block1 = hex("8286" +
        "40 84 b958d33f 85 61091a6d47" +          // :path /status
        "40 88 b83b5339ec327d7f 87 089d5c0b8170ff") // :authority 127.0.0.1
      val (s1, _, b1) = c.request(block1)
      assert(s1 === 200 && new String(b1, UTF_8) === "OK")

      // dynamic indices: newest-first — :authority is 62, :path is 63
      val block2 = Array[Byte](0x82.toByte, 0x86.toByte, 0xbf.toByte, 0xbe.toByte)
      val (s2, _, b2) = c.request(block2)
      assert(s2 === 200 && new String(b2, UTF_8) === "OK")
    } finally c.close()
  }

  test("h2c serves a >64 KiB response under flow control") {
    val topic = "h2cbig"
    val c = new H2Client(server.h2cPort)
    try {
      // ~40 records x 4 KiB ≈ 160 KiB > the 65535 initial window
      val big = "x" * 4096
      val ndjson = (0 until 40).map(i => s"""{"i":$i,"pad":"$big"}""")
        .mkString("\n").getBytes(UTF_8)
      val (ps, _, _) = c.request(c.literalHeaders("POST",
        s"/v1/topic/$topic/messages",
        Seq("content-type" -> "application/x-ndjson")), ndjson)
      assert(ps === 200)
      c.request(c.literalHeaders("PUT",
        s"/v1/consumer/register?consumerId=h2cb&group=hgb&topic=$topic&onNewGroup=startFromEarliest"))
      val (qs, _, qb) = c.request(c.literalHeaders("POST",
        "/v1/consumer/poll?consumerId=h2cb", Seq("accept" -> "application/json")))
      assert(qs === 200)
      assert(qb.length > 65535, s"expected >64 KiB body, got ${qb.length}")
      val text = new String(qb, UTF_8)
      assert(text.contains("\"i\":39") || text.contains("""\"i\":39"""))
    } finally c.close()
  }

  test("h2c PING is acked and an unknown route is a clean 404") {
    val c = new H2Client(server.h2cPort)
    try {
      val (s, _, _) = c.request(c.literalHeaders("GET", "/nope"))
      assert(s === 404)
    } finally c.close()
  }

  test("request trailers never overwrite the request headers (gRPC framing shape)") {
    val topic = "h2ctrail"
    val c = new H2Client(server.h2cPort)
    try {
      // HEADERS (no END_STREAM) + DATA + trailer HEADERS (END_STREAM): the
      // dispatch must still see POST /v1/topic/... — a trailer overwrite
      // would turn this into GET / and drop the body
      val (ps, _, _) = c.requestWithTrailers(
        c.literalHeaders("POST", s"/v1/topic/$topic/messages?partitionKey=tk",
          Seq("content-type" -> "application/json")),
        """{"via":"trailers"}""".getBytes(UTF_8),
        c.encode(Seq("x-checksum" -> "abc")))
      assert(ps === 200, s"trailered produce must dispatch with its headers (got $ps)")
      val rows = graft.log.PolarLog.consume(spark,
        graft.log.TopicConfig(root, topic)).collect()
      assert(rows.length === 1)
    } finally c.close()
  }

  test("malformed frames drop the connection without wedging the server") {
    import H2cSpec._
    val bad = new H2Client(server.h2cPort)
    // empty PADDED HEADERS: pad-length byte missing — must be treated as a
    // connection error (socket closed), never an escaped AIOOBE that leaks
    // the socket and its handler thread
    bad.sendRaw(FrameHeaders, FlagEndHeaders | FlagPadded, 1, Array.emptyByteArray)
    assert(bad.serverClosed(), "malformed PADDED frame must close the connection")
    bad.close()
    val short = new H2Client(server.h2cPort)
    short.sendRaw(FrameWindowUpdate, 0, 0, Array[Byte](0, 1)) // < 4 bytes
    assert(short.serverClosed(), "short WINDOW_UPDATE must close the connection")
    short.close()
    // the server stays healthy for new connections
    val ok = new H2Client(server.h2cPort)
    try {
      val (s, _, _) = ok.request(ok.literalHeaders("GET", "/status"))
      assert(s === 200)
    } finally ok.close()
  }
}

object H2cSpec {
  val Preface: Array[Byte] = "PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes(UTF_8)

  val FrameData = 0x0
  val FrameHeaders = 0x1
  val FrameSettings = 0x4
  val FramePing = 0x6
  val FrameWindowUpdate = 0x8

  val FlagEndStream = 0x1
  val FlagAck = 0x1
  val FlagEndHeaders = 0x4
  val FlagPadded = 0x8

  /** One HTTP/2 frame: the 9-byte header (length u24, type, flags,
    * stream id u31) and its payload. */
  def writeFrame(out: java.io.OutputStream, tpe: Int, flags: Int, sid: Int,
      payload: Array[Byte]): Unit = {
    val len = payload.length
    out.write((len >>> 16) & 0xff); out.write((len >>> 8) & 0xff); out.write(len & 0xff)
    out.write(tpe); out.write(flags)
    out.write((sid >>> 24) & 0x7f); out.write((sid >>> 16) & 0xff)
    out.write((sid >>> 8) & 0xff); out.write(sid & 0xff)
    out.write(payload)
  }
}
