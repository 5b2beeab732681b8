package graft.serving

import graft.log.TopicConfig
import io.netty.buffer.{ByteBuf, ByteBufUtil, Unpooled}
import io.netty.channel.{Channel, ChannelFutureListener, ChannelHandlerContext}
import io.netty.handler.codec.ByteToMessageDecoder
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

/**
 * The reference's binary producer transport (SURVEY §2 A2,
 * `/root/reference/internal/producing/binary_server.go:21-257`,
 * `internal/producing/binary_messages.go:22-51`,
 * `docs/developer/NETWORK_FORMATS.md:36-59`): length-prefixed frames over
 * raw TCP, big-endian throughout.
 *
 * Frame header (13 bytes): `version u8 | flags u8 | streamId u16 | opcode u8
 * | bodyLength u32 | headCrc u32`, the CRC being crc32-IEEE over the first
 * 9 bytes. Opcodes: startup=1, ready=2, error=3, produce=4,
 * produceResponse=5, heartbeat=6. A connection must open with `startup` →
 * `ready`; `produce` bodies are `[timestamp-µs i64 when flags&1] |
 * keyLen u8 | key | topicLen u8 | topic | {u32 len}{bytes}…` and are acked
 * with an empty `produceResponse` carrying the request's streamId — out of
 * order as batches commit, which is what stream ids are for. Errors come
 * back as `error` frames with `code u8 | message`.
 *
 * Produce requests flow into the SAME [[ProduceCoalescer]] as the HTTP
 * façade (the reference pools coalescers across both servers), so the wire
 * format is transport, not a second data path. Connections are Netty
 * channels on the server's own event-loop group; `stop()` closes them all.
 */
class PolarBinaryServer(
    spark: SparkSession,
    root: String,
    port: Int = 0,
    clusterSize: Int = 3,
    rangesPerToken: Int = 4,
    sharedCoalescer: Option[ProduceCoalescer] = None) {

  import PolarBinaryServer._

  private val coalescer = sharedCoalescer.getOrElse(
    new ProduceCoalescer(spark, root, clusterSize, rangesPerToken))
  private val ownsCoalescer = sharedCoalescer.isEmpty
  private val group = Transport.eventLoops("polar-binary")
  private val listener = Transport.listen(group, port)(_.pipeline.addLast(new FrameDecoder))

  def boundPort: Int = Transport.portOf(listener)

  def start(): this.type = { Transport.accept(listener); this }

  def stop(): Unit = {
    Transport.shutdown(group)
    if (ownsCoalescer) coalescer.stop()
  }

  /** Per-connection frame reader, mirroring `binaryServer.serve()`
    * (`binary_server.go:77-118`): first frame must be startup; produce is
    * handled in the background (the coalescer) and acked on commit. */
  private final class FrameDecoder extends ByteToMessageDecoder {
    private var initialized = false

    override def decode(ctx: ChannelHandlerContext, in: ByteBuf, out: java.util.List[AnyRef]): Unit =
      if (in.readableBytes >= HeaderSize) {
        val at = in.readerIndex
        val streamId = in.getUnsignedShort(at + 2)
        val bodyLength = in.getInt(at + 5)
        // wire-supplied length: bound it BEFORE any buffering (a crafted or
        // desynced frame could otherwise demand a 2 GiB buffer), and drop
        // the connection on violation — past a refused body there is no
        // way to resynchronize the stream
        if (bodyLength < 0 || bodyLength > MaxFrameBytes)
          refuse(ctx, in, streamId, s"frame body length $bodyLength out of bounds")
        else if (in.readableBytes >= HeaderSize + bodyLength) {
          val flags = in.getUnsignedByte(at + 1).toInt
          val op = in.getByte(at + 4)
          // version and head crc go unchecked, as in the reference's serve()
          in.skipBytes(HeaderSize)
          // every frame's body is consumed whole, so the next header read
          // never parses leftover body bytes
          val body = in.readSlice(bodyLength)
          if (!initialized) {
            initialized = true
            if (op != StartupOp) refuse(ctx, in, streamId, "Invalid first message")
            else send(ctx.channel, streamId, ReadyOp, Array.emptyByteArray)
          } else op match {
            case ProduceOp => handleProduce(ctx.channel, flags, streamId, body)
            case HeartbeatOp => send(ctx.channel, streamId, ReadyOp, Array.emptyByteArray)
            case _ => send(ctx.channel, streamId, ErrorOp,
              errorBody(ServerError, "Only producer operations are supported"))
          }
        }
      }

    /** Error frame, then close; nothing after it on this connection is read. */
    private def refuse(ctx: ChannelHandlerContext, in: ByteBuf, streamId: Int, msg: String): Unit = {
      in.skipBytes(in.readableBytes)
      send(ctx.channel, streamId, ErrorOp, errorBody(ServerError, msg))
        .addListener(ChannelFutureListener.CLOSE): Unit
    }
  }

  /** A truncated body fails a bounds-checked read and gets an error frame. */
  private def handleProduce(ch: Channel, flags: Int, streamId: Int, body: ByteBuf): Unit = {
    try {
      val tsMicros = if ((flags & WithTimestampFlag) != 0) Some(body.readLong) else None
      val key = body.readCharSequence(body.readUnsignedByte, UTF_8).toString
      val topic = body.readCharSequence(body.readUnsignedByte, UTF_8).toString
      val payload = ByteBufUtil.getBytes(body)
      if (!TopicConfig.validTopicName(topic)) {
        send(ch, streamId, ErrorOp, errorBody(ServerError, "Invalid topic"))
        return
      }
      // the ack is queued to the channel from the coalescer's future; the
      // event loop writes it, never the flusher thread
      coalescer
        .append(topic, Some(key).filter(_.nonEmpty), tsMicros,
          ProduceCoalescer.BinaryContentType, payload)
        .whenComplete { (_, err) =>
          if (err == null) send(ch, streamId, ProduceResponseOp, Array.emptyByteArray)
          else send(ch, streamId, ErrorOp, errorBody(ServerError, String.valueOf(err.getMessage)))
        }
      ()
    } catch {
      case e: Exception =>
        send(ch, streamId, ErrorOp, errorBody(ServerError, String.valueOf(e.getMessage)))
    }
  }
}

object PolarBinaryServer {
  /** Transport-level frame cap: generous headroom over the 1 MiB default
    * record cap (per-topic `max.message.bytes` may raise it), small enough
    * that a crafted/desynced length can never demand a multi-GiB buffer. */
  val MaxFrameBytes: Int = 16 << 20

  val MessageVersion: Byte = 1
  val WithTimestampFlag: Int = 0x01
  // fixed opcode numbers (`binary_messages.go:22-28`)
  val StartupOp: Byte = 1
  val ReadyOp: Byte = 2
  val ErrorOp: Byte = 3
  val ProduceOp: Byte = 4
  val ProduceResponseOp: Byte = 5
  val HeartbeatOp: Byte = 6
  // error codes (`binary_messages.go:37-40`)
  val ServerError: Byte = 0

  final case class Header(
      version: Int, flags: Int, streamId: Int, op: Byte, bodyLength: Int)

  val HeaderSize = 13

  /** Header bytes with the crc32-IEEE of the first 9 bytes in the tail
    * slot (`binary_messages.go:107-118`). */
  private[serving] def headerBytes(
      flags: Int, streamId: Int, op: Byte, bodyLength: Int): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(HeaderSize)
    buf.put(MessageVersion).put(flags.toByte).putShort(streamId.toShort)
      .put(op).putInt(bodyLength)
    val crc = new CRC32
    crc.update(buf.array(), 0, HeaderSize - 4)
    buf.putInt(crc.getValue.toInt)
    buf.array()
  }

  private def send(ch: Channel, streamId: Int, op: Byte, body: Array[Byte]) =
    ch.writeAndFlush(Unpooled.wrappedBuffer(headerBytes(0, streamId, op, body.length), body))

  private def errorBody(code: Byte, message: String): Array[Byte] = {
    val msg = message.getBytes(UTF_8)
    val out = new Array[Byte](1 + msg.length)
    out(0) = code
    System.arraycopy(msg, 0, out, 1, msg.length)
    out
  }
}
