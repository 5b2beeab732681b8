package graft.operators

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Golden-value tests for the JDK-codec media layer: sniffing, lossless
  * PNG round-trips, deterministic box averaging, WAV PCM envelopes, and
  * the opaque fallback — plus the typed Dataset path end to end. */
class MediaCodecSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder(master = "local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("parallelismFloor starts no job for an input that already shuffles") {
    import org.apache.spark.sql.functions.col
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val agg = spark.range(0, 100, 1, 4).groupBy((col("id") % 3).as("g")).count()
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.sql.graftshims.GraftShims.waitListenerBusEmpty(spark, 10000)
      jobs.set(0)
      val out = Multimodal.parallelismFloor(agg)
      org.apache.spark.sql.graftshims.GraftShims.waitListenerBusEmpty(spark, 10000)
      assert(jobs.get == 0)
      assert(out eq agg)
    } finally spark.sparkContext.removeSparkListener(listener)
    // a scan-shaped single-partition input still gets the floor
    assert(Multimodal.parallelismFloor(spark.range(0, 100, 1, 1))
      .rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }

  test("sniff identifies containers from magic bytes") {
    val png = MediaCodec.encodeGrayPng(Array.fill(64)(7), 8, 8)
    assert(MediaCodec.sniff(png) == "png")
    val wav = MediaCodec.encodeWav16(Array[Short](1, 2, 3), 8000)
    assert(MediaCodec.sniff(wav) == "wav")
    assert(MediaCodec.sniff("BMxxxx".getBytes) == "bmp")
    assert(MediaCodec.sniff("GIF89a".getBytes) == "gif")
    assert(MediaCodec.sniff(Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0)) == "jpeg")
    assert(MediaCodec.sniff("just text".getBytes) == "raw")
  }

  test("8x8 gray PNG round-trips cells exactly (lossless + luma(g,g,g)=g)") {
    val cells = Array.tabulate(64)(j => (j * 4 + 3) % 256)
    val png = MediaCodec.encodeGrayPng(cells, 8, 8)
    val img = MediaCodec.decodeImage(png).get
    assert(img.width == 8 && img.height == 8)
    assert(img.luma.toSeq == cells.toSeq)
    // hash rule identical to MediaHash.ahash64's cell*64 > total
    val total = cells.map(_.toLong).sum
    val want = (0 until 64).filter(j => cells(j) * 64L > total)
      .foldLeft(0L)((h, j) => h | (1L << j))
    assert(MediaCodec.cellHash64(img.luma) == want)
  }

  test("16x16 image box-averages 2x2 blocks deterministically") {
    // gray(x,y) = 16*y + x: each 8x8 cell covers a 2x2 block; integer
    // mean of {v, v+1, v+16, v+17} = v+8 (exact: sum=4v+34, /4 = v+8)
    val cells16 = Array.tabulate(256)(i => (16 * (i / 16) + (i % 16)) % 256)
    val png = MediaCodec.encodeGrayPng(cells16, 16, 16)
    val img = MediaCodec.decodeImage(png).get
    assert(img.width == 16 && img.height == 16)
    val want = Array.tabulate(64) { j =>
      val cx = j % 8; val cy = j / 8
      (16 * (2 * cy) + (2 * cx) + 8) % 256
    }
    assert(img.luma.toSeq == want.toSeq)
  }

  test("JPEG decodes through the JDK codec with true dimensions") {
    val src = new java.awt.image.BufferedImage(
      32, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 32) src.setRGB(x, y, (x * 8) << 16)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, "jpg", out)
    val bytes = out.toByteArray
    assert(MediaCodec.sniff(bytes) == "jpeg")
    val img = MediaCodec.decodeImage(bytes).get
    assert(img.width == 32 && img.height == 16)
    assert(img.luma.forall(v => v >= 0 && v <= 255))
  }

  test("WAV PCM round-trips the envelope exactly") {
    // 128 samples, frame k amplitude = k*256 (ramp): cell j covers frames
    // [2j, 2j+2), mean |amp| = (2j*256 + (2j+1)*256)/2 = (4j+1)*128 -> >>7
    val samples = Array.tabulate[Short](128)(k => (k * 256).min(32767).toShort)
    val wav = MediaCodec.encodeWav16(samples, 16000)
    val audio = MediaCodec.decodeWav(wav).get
    assert(audio.sampleRate == 16000 && audio.channels == 1 && audio.frames == 128L)
    val want = Array.tabulate(64) { j =>
      val a0 = (samples(2 * j) & 0xffff).toShort.toInt.abs
      val a1 = (samples(2 * j + 1) & 0xffff).toShort.toInt.abs
      (((a0.toLong + a1.toLong) / 2) >> 7).toInt
    }
    assert(audio.cells.toSeq == want.toSeq)
  }

  test("undecodable payloads fall back to opaque, never throw") {
    assert(MediaCodec.decodeImage("not an image".getBytes).isEmpty)
    assert(MediaCodec.decodeWav("RIFFxxxxWAVEbroken".getBytes).isEmpty)
    // PNG magic with garbage body: sniffs png, decode fails, falls back
    val fake = Array[Byte](0x89.toByte, 'P', 'N', 'G', 1, 2, 3, 4, 5)
    assert(MediaCodec.sniff(fake) == "png")
    assert(MediaCodec.decodeImage(fake).isEmpty)
  }

  test("Multimodal.decode dispatches kinds end-to-end on a Dataset") {
    val s = spark
    import s.implicits._
    val png = MediaCodec.encodeGrayPng(Array.tabulate(64)(_ % 256), 8, 8)
    val wav = MediaCodec.encodeWav16(Array.tabulate[Short](64)(k => (k * 100).toShort), 8000)
    val ds = Seq(
      MediaRecord(1L, png, "image/png", 8, 8),
      MediaRecord(2L, wav, "audio/wav", 0, 0),
      MediaRecord(3L, "plain opaque bytes".getBytes, "fake/raw", 10, 20)
    ).toDS()
    val out = Multimodal.decode(ds).collect().sortBy(_.doc_id)
    assert(out.map(_.kind).toSeq == Seq("image", "audio", "opaque"))
    assert(out(0).width == 8L && out(0).height == 8L)
    assert(out(1).width == 8000L && out(1).height == 64L)
    assert(out(2).width == 10L && out(2).height == 20L)
    assert(out.forall(_.features.length == 64))
    // opaque phash must equal the ahash64 rule over byte-fold cells —
    // uniform banding across kinds is what lets dedup mix modalities
    val bytes = "plain opaque bytes".getBytes
    val acc = new Array[Long](64); val cnt = new Array[Long](64)
    bytes.zipWithIndex.foreach { case (b, i) => acc(i % 64) += (b & 0xff); cnt(i % 64) += 1 }
    val cells = Array.tabulate(64)(j => if (cnt(j) == 0) 0 else (acc(j) / cnt(j)).toInt)
    assert(out(2).phash == MediaCodec.cellHash64(cells))
  }
}
