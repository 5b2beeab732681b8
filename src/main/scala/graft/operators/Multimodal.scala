package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A media payload: opaque bytes + typed metadata — the multimodal column
  * pattern (image/audio/video as `binary` with a metadata struct). */
final case class MediaRecord(
    doc_id: Long,
    media: Array[Byte],
    format: String,
    width: Int,
    height: Int)

final case class MediaFeatures(
    doc_id: Long,
    payload_len: Int,
    thumb_w: Int,
    thumb_h: Int,
    features: Array[Float])

/** Output of the real-codec path: container kind from magic bytes, true
  * decoded dimensions (image w×h; audio sampleRate×frames), perceptual
  * hash over the decoded 64-cell grid, normalized cell features. */
/** One sampled, decoded video frame: its index and perceptual hash. */
final case class FrameHash(doc_id: Long, frame_idx: Int, phash: Long)

final case class FrameCut(doc_id: Long, frame_idx: Int, diff_sum: Long, is_cut: Long)

final case class DecodedMedia(
    doc_id: Long,
    kind: String,
    width: Long,
    height: Long,
    phash: Long,
    features: Array[Float])

/**
 * Multimodal column plumbing: opaque `binary` payloads with typed metadata,
 * decoded/featurized in batched partition passes.
 *
 * The Spark-side shape is real and load-bearing: typed `Dataset[MediaRecord]`
 * with case-class encoders, `mapPartitions` so decoder/codec initialization
 * amortizes per partition and processes in batches (the same contract as
 * `mapInPandas` batch iteration), and partition sizing left to the scan.
 * Decoding is REAL for media the JDK ships codecs for — PNG/JPEG/BMP/GIF
 * via `javax.imageio`, WAV PCM via `javax.sound.sampled` (see
 * [[MediaCodec]]) — selected by magic-byte sniffing. Payloads no codec
 * claims fall back to a deterministic byte-fold so every path remains
 * oracle-verifiable.
 */
object Multimodal {

  /** Parallelism floor for codec passes (guide §2.5 "input skew: one huge
    * unsplittable file → repartition immediately after the read"): a
    * single parquet file scans as ONE partition, so the heavy per-row
    * codec work (PNG/WAV decode, frame diffing) would run on one core
    * while the rest of the machine idles — measured 3 tasks total on the
    * scene-cut gate before this. Only fires when the input has fewer
    * partitions than the cluster's default parallelism: a 100 TB scan
    * with thousands of splits passes through untouched, so the shuffle
    * (payload moves once, to parallelize) is strictly a small-input
    * rescue, never a tax at scale. */
  def parallelismFloor[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.sparkSession.sparkContext.defaultParallelism
    // Probe ONLY exchange-free (scan-like) plans: under AQE, `Dataset.rdd`
    // eagerly materializes any upstream shuffle stages to build the final
    // plan, so probing an exchange-bearing input would execute its
    // upstream work twice (once for the probe, once when the repartitioned
    // plan re-runs from the logical plan). An exchange-free plan's RDD is
    // pure lineage — the probe costs planning only, never a job. And an
    // input that already has an exchange has already had its parallelism
    // decided by that exchange; the floor has nothing to add. The check
    // reads the plan AFTER EnsureRequirements (AQE's initial plan, or the
    // executed plan without AQE): the planner's `sparkPlan` has no
    // exchanges yet, so an aggregate or join input would pass it.
    val planned = ds.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val exchangeFree = !planned.exists {
      case _: org.apache.spark.sql.execution.exchange.Exchange => true
      case _ => false
    }
    if (exchangeFree && ds.rdd.getNumPartitions < p) ds.repartition(p) else ds
  }

  /** Wrap documents as fake media payloads: bytes = UTF-8 of the text,
    * metadata derived arithmetically from the payload (SQL-mirrorable). */
  def asMedia(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id"),
      col("text").cast("binary").as("media"),
      lit("fake/raw").as("format"),
      (length(col("text")) % 640 + 16).cast("int").as("width"),
      (length(col("text")) % 480 + 16).cast("int").as("height"))
      .as[MediaRecord]
  }

  /**
   * Batched decode + feature extraction (metadata-shaped output): real
   * image payloads decode through the JDK codec and carry their TRUE
   * thumbnail dims; opaque payloads keep the metadata-derived dims and
   * byte-fold features (which is what the SQL oracle replays for the
   * text-as-bytes gate corpus).
   */
  def decodeAndFeaturize(
      ds: Dataset[MediaRecord],
      batchSize: Int = 64,
      featureDim: Int = 8): Dataset[MediaFeatures] = {
    val spark = ds.sparkSession
    import spark.implicits._
    parallelismFloor(ds).mapPartitions { it =>
      // per-partition init happens here (codec warm-up, model load)
      it.grouped(batchSize).flatMap { batch =>
        batch.map { m =>
          MediaCodec.decodeImage(m.media) match {
            case Some(img) if MediaCodec.sniff(m.media) != "raw" =>
              val (tw, th) = thumb(img.width, img.height)
              MediaFeatures(m.doc_id, m.media.length, tw, th,
                img.luma.map(_ / 255.0f))
            case _ => byteFoldDecode(m, featureDim)
          }
        }
      }
    }
  }

  /**
   * Real-codec decode: sniff the container from magic bytes, decode with
   * the JDK codec (images → 8×8 box-averaged luma grid; WAV → 64-cell
   * mean-|amplitude| envelope), and emit the decoded shape, a perceptual
   * hash over the REAL cell grid, and normalized features. Undecodable
   * payloads degrade to `kind='opaque'` with byte-fold cells — same hash
   * rule, so downstream banding/dedup consumes every kind uniformly.
   */
  def decode(ds: Dataset[MediaRecord], batchSize: Int = 64): Dataset[DecodedMedia] = {
    val spark = ds.sparkSession
    import spark.implicits._
    parallelismFloor(ds).mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { m =>
          (MediaCodec.sniff(m.media) match {
            case "wav" =>
              MediaCodec.decodeWav(m.media).map(a =>
                DecodedMedia(m.doc_id, "audio", a.sampleRate.toLong, a.frames,
                  MediaCodec.cellHash64(a.cells), a.cells.map(_ / 255.0f)))
            case "raw" => None
            case _ =>
              MediaCodec.decodeImage(m.media).map(img =>
                DecodedMedia(m.doc_id, "image", img.width.toLong, img.height.toLong,
                  MediaCodec.cellHash64(img.luma), img.luma.map(_ / 255.0f)))
          }).getOrElse {
            val cells = byteFoldCells(m.media)
            DecodedMedia(m.doc_id, "opaque", m.width.toLong, m.height.toLong,
              MediaCodec.cellHash64(cells), cells.map(_ / 255.0f))
          }
        }
      }
    }
  }

  /**
   * REAL-codec video frame sampling: the payload is a length-prefixed
   * frame container (4-byte big-endian length + encoded image, repeated —
   * the minimal opaque "video" framing; real containers differ only in
   * header bookkeeping), every `stride`-th frame is decoded through the
   * JDK image codec and hashed. The decode work scales with SAMPLED
   * frames only — the skip path never touches the codec, which is the
   * property that makes frame sampling affordable over petabytes of
   * video. Same mapPartitions batch shape as every codec path.
   */
  def sampleVideoFrames(
      ds: Dataset[MediaRecord], stride: Int): Dataset[FrameHash] = {
    val spark = ds.sparkSession
    import spark.implicits._
    parallelismFloor(ds).mapPartitions { it =>
      it.flatMap { m =>
        val buf = java.nio.ByteBuffer.wrap(m.media)
        val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
        while (buf.remaining() >= 4) {
          val len = buf.getInt()
          if (len < 0 || len > buf.remaining()) { buf.position(buf.limit()) }
          else {
            val b = new Array[Byte](len)
            buf.get(b)
            frames += b
          }
        }
        frames.zipWithIndex.collect {
          case (bytes, idx) if idx % stride == 0 =>
            MediaCodec.decodeImage(bytes).map(img =>
              FrameHash(m.doc_id, idx, MediaCodec.cellHash64(img.luma)))
        }.flatten
      }
    }
  }

  /**
   * Scene-cut detection over a framed video container: every frame is
   * decoded (consecutive-frame comparison is inherently a full pass,
   * unlike [[sampleVideoFrames]]'s stride skip), and frame f ≥ 1 is
   * flagged a cut when the summed absolute luma-cell difference vs frame
   * f−1 exceeds `threshold` — the classic pixel-difference shot-boundary
   * rule (Zhang, Kankanhalli, Smoliar 1993), integer-exact on the 8×8
   * grid. Per-partition codec work, zero shuffle: the comparison state is
   * one previous-frame grid per document, carried through the iterator.
   */
  def sceneCuts(
      ds: Dataset[MediaRecord], threshold: Long): Dataset[FrameCut] = {
    val spark = ds.sparkSession
    import spark.implicits._
    parallelismFloor(ds).mapPartitions { it =>
      it.flatMap { m =>
        val buf = java.nio.ByteBuffer.wrap(m.media)
        val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
        while (buf.remaining() >= 4) {
          val len = buf.getInt()
          if (len < 0 || len > buf.remaining()) { buf.position(buf.limit()) }
          else {
            val b = new Array[Byte](len)
            buf.get(b)
            frames += b
          }
        }
        // container frame index is captured BEFORE decode: an undecodable
        // frame must not shift later frames' positions, and a diff is only
        // "consecutive" when the indices are adjacent — pairs spanning a
        // failed decode are skipped, never misattributed
        val grids = frames.zipWithIndex.flatMap { case (b, idx) =>
          MediaCodec.decodeImage(b).map(img => (idx, img.luma))
        }
        grids.sliding(2).collect {
          case pair if pair.length == 2 && pair(1)._1 == pair(0)._1 + 1 =>
            var d = 0L
            var j = 0
            val n = math.min(pair(0)._2.length, pair(1)._2.length)
            while (j < n) { d += math.abs(pair(0)._2(j) - pair(1)._2(j)); j += 1 }
            FrameCut(m.doc_id, pair(1)._1, d, if (d > threshold) 1L else 0L)
        }
      }
    }
  }

  /** 64 positional byte-fold cells clamped to 0..255 — the opaque-payload
    * fallback grid (mean byte value per positional cell). */
  private def byteFoldCells(bytes: Array[Byte]): Array[Int] = {
    val acc = new Array[Long](64)
    val cnt = new Array[Long](64)
    var i = 0
    while (i < bytes.length) {
      acc(i % 64) += (bytes(i) & 0xff)
      cnt(i % 64) += 1
      i += 1
    }
    Array.tabulate(64)(j => if (cnt(j) == 0) 0 else (acc(j) / cnt(j)).toInt)
  }

  /** Thumbnail rule: cap the long edge at 256, preserving aspect by integer
    * arithmetic (mirrorable in SQL). */
  private def thumb(w: Int, h: Int): (Int, Int) = {
    val long = math.max(w, h)
    if (long <= 256) (w, h)
    else (w * 256 / long, h * 256 / long)
  }

  // opaque-payload fallback: deterministic byte-fold "features" (the SQL
  // oracle replays this path for the text-as-bytes gate corpus)
  private def byteFoldDecode(m: MediaRecord, featureDim: Int): MediaFeatures = {
    val acc = new Array[Long](featureDim)
    var i = 0
    while (i < m.media.length) {
      acc(i % featureDim) += (m.media(i) & 0xff)
      i += 1
    }
    val feats = acc.map(v => (v % 1000L).toFloat / 1000.0f)
    val (tw, th) = thumb(m.width, m.height)
    MediaFeatures(m.doc_id, m.media.length, tw, th, feats)
  }

  /** Perceptual fingerprints of media payloads: (doc_id, phash) via the
    * average-hash kernel [[graft.functions.AHash64]] — one codegen'd
    * projection, no shuffle. A real image pipeline swaps the byte-fold for
    * an 8×8 luma grid; the banding/join machinery downstream is unchanged. */
  def phashes(media: DataFrame): DataFrame =
    media.select(col("doc_id"),
      graft.functions.GraftFunctions.ahash64(col("media")).as("phash"))

  /**
   * Multimodal near-dup pairs: payloads whose perceptual hashes are within
   * `maxDistance` hamming bits, found by 16-bit chunk banding over the
   * 64-bit hash — EXACT retrieval for maxDistance ≤ 3 (pigeonhole: a pair
   * differing in ≤3 bits shares at least one of the 4 chunks). This is the
   * image-dedup shape at 100 TB: one projection to 8 bytes per payload,
   * a band-bucket equi-join (never all pairs), hamming filtered before
   * distinct so only true near-dups reach the dedup.
   */
  def phashPairs(media: DataFrame, maxDistance: Int = 3): DataFrame = {
    require(maxDistance <= 3,
      s"4-chunk banding is exact only for maxDistance <= 3, got $maxDistance")
    val fps = phashes(media)
    val chunks = (0 until 4).map(c => struct(lit(c).as("chunk_idx"),
      shiftright(col("phash"), c * 16).bitwiseAND(lit(0xffffL)).as("chunk_val")))
    val banded = fps.withColumn("chunk", explode(array(chunks: _*)))
      .select(col("doc_id").as("id"), col("phash"),
        col("chunk.chunk_idx").as("chunk_idx"), col("chunk.chunk_val").as("chunk_val"))
    banded.as("a").join(banded.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).as("dist"))
      .filter(col("dist") <= maxDistance)
      .dropDuplicates("id_a", "id_b")
  }

  /** Frame sampling: split a payload into fixed-size "frames" and keep every
    * `stride`-th — the video-frame-sampling access pattern over binary
    * columns, as a pure column expression. */
  def frameSample(
      media: DataFrame,
      frameBytes: Int = 256,
      stride: Int = 4): DataFrame =
    media.select(col("doc_id"),
        posexplode(split(col("media").cast("string"),
          s"(?<=\\G.{$frameBytes})")).as(Seq("frame_idx", "frame")))
      .filter(col("frame_idx") % stride === 0 && length(col("frame")) > 0)
      .select(col("doc_id"), col("frame_idx"),
        length(col("frame")).as("frame_len"))
}
