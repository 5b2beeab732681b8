package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException}
import java.net.{InetAddress, Socket}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.zip.CRC32

/** Client side of the binary producer protocol: 13-byte big-endian frame
  * headers (`version | flags | streamId u16 | opcode | bodyLength u32 |
  * crc32 of the first 9 bytes`), a startup/ready handshake, then produce
  * frames acked out of order by stream id. One reader thread per
  * connection completes the callbacks. */
final class BinaryConn(port: Int) {
  private val sock = new Socket(InetAddress.getLoopbackAddress, port)
  sock.setTcpNoDelay(true)
  private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
  private val pending = new ConcurrentHashMap[Integer, String => Unit]()
  private val free = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
  (1 until 65536).foreach(i => free.add(i))

  writeFrame(0, 0, BinaryConn.StartupOp, Array.emptyByteArray)
  out.flush()
  require(readFrame()._2 == BinaryConn.ReadyOp, "binary server did not answer startup")

  private val reader = new Thread(() => readLoop(), "perfbench-binary-reader")
  reader.setDaemon(true)
  reader.start()

  def inFlight: Int = pending.size

  private def writeFrame(flags: Int, streamId: Int, op: Byte, body: Array[Byte]): Unit = {
    val h = ByteBuffer.allocate(13)
    h.put(1.toByte).put(flags.toByte).putShort(streamId.toShort).put(op).putInt(body.length)
    val crc = new CRC32
    crc.update(h.array(), 0, 9)
    h.putInt(crc.getValue.toInt)
    out.write(h.array())
    out.write(body)
  }

  private def readFrame(): (Int, Byte, Array[Byte]) = {
    in.readUnsignedByte(); in.readUnsignedByte()
    val streamId = in.readUnsignedShort()
    val op = in.readByte()
    val len = in.readInt()
    in.readInt()
    val body = new Array[Byte](len)
    in.readFully(body)
    (streamId, op, body)
  }

  /** Send one produce request; `done(null)` on ack, `done(message)` on an
    * error frame or a lost connection. */
  def produce(topic: String, key: String, tsMicros: Long, records: Seq[Array[Byte]],
      done: String => Unit): Unit = {
    val id = free.poll()
    if (id == null) { done("no free stream id"); return }
    val k = if (key == null) Array.emptyByteArray else key.getBytes(UTF_8)
    val t = topic.getBytes(UTF_8)
    val body = ByteBuffer.allocate(8 + 2 + k.length + t.length + records.map(_.length + 4).sum)
    body.putLong(tsMicros).put(k.length.toByte).put(k).put(t.length.toByte).put(t)
    records.foreach(r => body.putInt(r.length).put(r))
    pending.put(id, done)
    synchronized {
      writeFrame(BinaryConn.WithTimestamp, id, BinaryConn.ProduceOp, body.array())
      out.flush()
    }
  }

  private def readLoop(): Unit =
    try {
      while (true) {
        val (streamId, op, body) = readFrame()
        val cb = pending.remove(streamId)
        if (cb != null) {
          free.add(streamId)
          cb(if (op == BinaryConn.ProduceResponseOp) null
             else s"error frame: ${new String(body, 1, math.max(0, body.length - 1), UTF_8)}")
        }
      }
    } catch {
      case _: EOFException | _: java.io.IOException =>
        pending.forEach((_, cb) => cb("connection closed"))
        pending.clear()
    }

  def close(): Unit = {
    try sock.close() catch { case _: Exception => () }
    reader.join(5000)
  }
}

object BinaryConn {
  val WithTimestamp = 1
  val StartupOp: Byte = 1
  val ReadyOp: Byte = 2
  val ProduceOp: Byte = 4
  val ProduceResponseOp: Byte = 5
}

/** Minimal HTTP/1.1 keep-alive client over one socket: one request at a
  * time, fixed-length or chunked responses. Each producer and consumer
  * owns one, so "N connections" means N sockets. */
final class HttpConn(port: Int) {
  private val sock = new Socket(InetAddress.getLoopbackAddress, port)
  sock.setTcpNoDelay(true)
  sock.setSoTimeout(120000)
  private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
  private val in = new BufferedInputStream(sock.getInputStream, 1 << 16)

  def request(method: String, target: String, body: Array[Byte] = Array.emptyByteArray,
      contentType: String = "application/json"): (Int, Array[Byte]) = {
    val head = new StringBuilder
    head.append(s"$method $target HTTP/1.1\r\nHost: 127.0.0.1\r\nAccept: application/json\r\n")
    if (body.nonEmpty || method != "GET")
      head.append(s"Content-Type: $contentType\r\nContent-Length: ${body.length}\r\n")
    head.append("\r\n")
    out.write(head.toString.getBytes(UTF_8))
    out.write(body)
    out.flush()
    val status = readLine().split(' ')(1).toInt
    var len = -1
    var chunked = false
    var line = readLine()
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      val (k, v) = (line.take(i).trim.toLowerCase, line.drop(i + 1).trim)
      if (k == "content-length") len = v.toInt
      if (k == "transfer-encoding" && v.toLowerCase.contains("chunked")) chunked = true
      line = readLine()
    }
    val payload =
      if (chunked) {
        val buf = new java.io.ByteArrayOutputStream()
        var n = Integer.parseInt(readLine().trim.takeWhile(_ != ';'), 16)
        while (n > 0) { buf.write(readN(n)); readLine(); n = Integer.parseInt(readLine().trim.takeWhile(_ != ';'), 16) }
        readLine()
        buf.toByteArray
      } else if (len > 0) readN(len) else Array.emptyByteArray
    (status, payload)
  }

  private def readN(n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(b, off, n - off)
      if (r < 0) throw new EOFException("connection closed mid-body")
      off += r
    }
    b
  }

  private def readLine(): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c >= 0 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
    if (c < 0 && sb.isEmpty) throw new EOFException("connection closed")
    sb.toString
  }

  def close(): Unit = try sock.close() catch { case _: Exception => () }
}
