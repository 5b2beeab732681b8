package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded record generator in the shape of the reference benchmark's
  * messages: 1 KiB JSON mixing random text, dictionary words, numbers and
  * UUIDs, so parquet+zstd sees a realistic compression ratio rather than a
  * constant pad. Every record starts with `{"id":"<id>","ts":<micros>,` so
  * checkers can read the id without a JSON parser. */
final class Payload(seed: Long) {
  private val rnd = new SplittableRandom(seed)

  def nextInt(n: Int): Int = rnd.nextInt(n)

  private def uuid(): String = {
    val hi = rnd.nextLong(); val lo = rnd.nextLong()
    new java.util.UUID(hi, lo).toString
  }

  private def randomText(sb: java.lang.StringBuilder, n: Int): Unit = {
    var i = 0
    while (i < n) {
      val c = rnd.nextInt(37)
      sb.append(if (c < 26) ('a' + c).toChar else if (c < 36) ('0' + c - 26).toChar else ' ')
      i += 1
    }
  }

  /** One record of exactly `size` bytes (ASCII, so chars == bytes). */
  def record(id: String, tsMicros: Long, key: String, size: Int = 1024): Array[Byte] = {
    val sb = new java.lang.StringBuilder(size + 64)
    sb.append("{\"id\":\"").append(id).append("\",\"ts\":").append(tsMicros)
    sb.append(",\"key\":").append(if (key == null) "null" else "\"" + key + "\"")
    sb.append(",\"user\":\"").append(uuid()).append("\",\"session\":\"").append(uuid())
    sb.append("\",\"event\":\"").append(Payload.Words(rnd.nextInt(Payload.Words.length)))
    sb.append("\",\"amount\":").append(rnd.nextInt(1000000) / 100.0)
    sb.append(",\"qty\":").append(rnd.nextInt(500))
    sb.append(",\"score\":").append(rnd.nextDouble())
    sb.append(",\"tags\":[")
    var t = 0
    while (t < 4) {
      if (t > 0) sb.append(',')
      sb.append('"').append(Payload.Words(rnd.nextInt(Payload.Words.length))).append('"')
      t += 1
    }
    sb.append("],\"desc\":\"")
    while (sb.length < size * 2 / 3) {
      sb.append(Payload.Words(rnd.nextInt(Payload.Words.length))).append(' ')
    }
    sb.append("\",\"note\":\"")
    val room = size - sb.length - 2
    if (room > 0) randomText(sb, room)
    sb.append("\"}")
    sb.toString.getBytes(UTF_8)
  }
}

object Payload {
  /** Dictionary for the low-entropy share of each record. */
  val Words: Array[String] = (
    "stream topic partition offset consumer producer broker segment replica " +
    "leader follower commit ack latency batch flush linger coalesce token ring " +
    "range generation cluster region zone order customer invoice payment refund " +
    "shipment warehouse product catalog price discount coupon session login " +
    "logout click view search cart checkout signup error warning info debug trace " +
    "metric counter gauge histogram alpha beta gamma delta epsilon zeta theta " +
    "lambda sigma omega red green blue yellow purple orange black white silver gold"
  ).split(' ')

  /** The id back out of a record's fixed prefix. */
  def idOf(rec: String): String = {
    val s = rec.indexOf("\"id\":\"") + 6
    rec.substring(s, rec.indexOf('"', s))
  }
}
