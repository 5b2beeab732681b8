package graft.log

import graft.functions.GraftFunctions.polar_frames
import graft.functions.{JsonText, TokenMath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/**
 * Topic-level operations beyond plain produce/consume: framed ingestion,
 * the JSON and binary poll response items, and elastic ring resizing with
 * offset projection — the Spark renditions of SURVEY §2 A5, A18/A19,
 * A22/A29/A30. The poll renderers take a poll's records, collect them in
 * one scan job and build each partition's item on the driver in offset
 * order.
 */
object TopicOps {

  /** Framed-records ingestion (A5): one request row with a binary
    * `{u32-BE len}{bytes}`… body becomes one record per frame, sharing the
    * request's key/timestamp. */
  def ingestFrames(
      df: DataFrame,
      cfg: TopicConfig,
      bodyCol: String = "body"): PolarLog.ProduceResult = {
    val exploded = df
      .withColumn("value", explode(polar_frames(col(bodyCol))))
      .drop(bodyCol)
    PolarLog.produce(exploded, cfg)
  }

  /**
   * JSON poll response items (A19): one poll's records in the reference's
   * consumer JSON shape — one item per partition chunk with int64s as
   * strings and decompressed values inline
   * (`/root/reference/internal/consuming/models.go:136-199`,
   * `docs/rest_api/README.md:136-172`). `version` is the log epoch (fixed 1
   * in the single-epoch engine).
   */
  def pollJson(cfg: TopicConfig, records: DataFrame): Seq[String] =
    chunks(records).map { case (p, rows) =>
      val values = rows.map(r =>
        if (r.isNullAt(3)) "null"
        else JsonText.quote(new String(r.getAs[Array[Byte]](3), UTF_8)))
      s"""{"topic":${JsonText.quote(cfg.topic)},"token":"${tokenOf(cfg, p)}",""" +
        s""""rangeIndex":${p % cfg.rangesPerToken},"version":1,""" +
        s""""startOffset":"${rows.head.getLong(1)}","values":""" +
        values.mkString("[", ",", "]}")
    }

  /**
   * Binary poll response items (A18): each partition chunk in the
   * reference's wire item layout
   * (`/root/reference/internal/consuming/models.go:106-134`,
   * `docs/developer/NETWORK_FORMATS.md:5-32`), big-endian throughout:
   *
   * {{{
   * token i64 | rangeIndex u8 | version u32 | topicLen u8 | topic bytes
   * | startOffset i64 | payloadLen i32 | payload
   * }}}
   *
   * where the payload is the chunk's record block — per record
   * `timestamp-µs i64 | length u32 | body` (`models.go:216-219`); a
   * null-valued record (tombstone) has no body and is left out of the
   * block. The reference stores/ships the block zstd-compressed (A7); this
   * rendition emits the pre-compression block: compression here is a
   * storage-layer property (the log's parquet pages are zstd), and the
   * uncompressed block is what makes the layout independently verifiable
   * byte-for-byte.
   */
  def pollBinary(cfg: TopicConfig, records: DataFrame): Seq[Array[Byte]] = {
    val topic = cfg.topic.getBytes(UTF_8)
    chunks(records).map { case (p, rows) =>
      val recs = rows.filterNot(_.isNullAt(3))
      val payload = recs.iterator.map(r => 12 + r.getAs[Array[Byte]](3).length).sum
      val buf = ByteBuffer.allocate(8 + 1 + 4 + 1 + topic.length + 8 + 4 + payload)
        .putLong(tokenOf(cfg, p))
        .put((p % cfg.rangesPerToken).toByte)
        .putInt(1) // version (single-epoch engine)
        .put(topic.length.toByte).put(topic)
        .putLong(rows.head.getLong(1))
        .putInt(payload)
      recs.foreach { r =>
        val v = r.getAs[Array[Byte]](3)
        buf.putLong(r.getLong(2)).putInt(v.length).put(v)
      }
      buf.array
    }
  }

  /** A poll's `(part, offset, timestamp-µs, value)` rows collected in one
    * scan job with no exchange — the chunk is byte-capped and served from
    * the driver anyway — then grouped per partition in offset order. */
  private def chunks(records: DataFrame): Seq[(Int, Array[Row])] =
    records
      .select(col("part"), col("offset"), unix_micros(col("timestamp")), col("value"))
      .collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (p, rows) => p -> rows.sortBy(_.getLong(1)) }

  private def tokenOf(cfg: TopicConfig, part: Int): Long =
    TokenMath.tokenAtIndex(cfg.clusterSize, part / cfg.rangesPerToken)

  final case class RepartitionResult(
      newCfg: TopicConfig,
      recordsMoved: Long,
      groupsProjected: Seq[String])

  /**
   * Elastic scale-up/down (A22/A29/A30 collapsed to one metadata-plus-data
   * op): rewrite a topic into a new ring size. The reference splits/joins
   * token ranges in place and projects offsets onto child generations
   * (`internal/consuming/offset_state.go:492-774`); with Spark owning all
   * partitions, the same outcome is a re-placement of every record by the
   * new ring's `polar_partition` — per-key order is preserved by producing
   * in (old partition, offset) order, and offsets restart dense at 0 in the
   * new epoch exactly like the reference's "offsets restart at 0 for the new
   * version" (`internal/producing/coalescer.go:93-135`).
   *
   * Consumer groups are projected EXACTLY (A22): a mid-stream committed
   * offset maps to child-range positions via the structural range projection
   * ([[TokenMath.projectRangeByClusterSize]], `token.go:133-163`) plus a
   * committed-prefix count per child partition — see [[projectGroupOffsets]].
   * A caught-up group starts at the new tails without a data pass.
   */
  def repartitionTopic(
      spark: SparkSession,
      cfg: TopicConfig,
      newTopic: String,
      newClusterSize: Int): RepartitionResult = {
    val newCfg = TopicConfig(cfg.root, newTopic, newClusterSize, cfg.rangesPerToken)
    val oldTails = PolarLog.tails(cfg)
    // group inventory BEFORE the data pass: lagging groups decide whether
    // the projection needs a second pass over the topic at all
    val fs = PolarLog.fileSystem(cfg)
    val groupsDir = new org.apache.hadoop.fs.Path(cfg.groupsDir)
    val committedByGroup: Seq[(String, Map[Int, Long])] =
      if (!fs.exists(groupsDir)) Seq.empty
      else fs.listStatus(groupsDir).toSeq
        .filter(_.getPath.getName.endsWith(".json"))
        .map { st =>
          val group = st.getPath.getName.stripSuffix(".json")
          group -> ConsumerGroups.committed(cfg, group).getOrElse(Map.empty)
        }
    val lagging = committedByGroup.filterNot { case (_, committed) =>
      oldTails.forall { case (p, t) => committed.getOrElse(p, 0L) >= t } }

    val records0 = PolarLog.consume(spark, cfg)
      .select(col("partitionKey"), col("timestamp"), col("value"),
        col("part").as("__old_part"), col("offset").as("__old_offset"))
    // lagging groups re-read the topic for the projection pass: pin the
    // consumed records when the topic is small enough (the produce pass
    // populates the cache the projection then reuses — one read instead of
    // two). The size gate is pure registry arithmetic (exact per-file
    // counts), zero extra jobs; big topics skip the pin and re-read —
    // persisting O(topic) data is the wrong trade at 100 TB.
    val pinned = lagging.nonEmpty &&
      LogMetadata.read(cfg).files.iterator.map(_.count).sum <= RepartitionPinMaxRows
    val records = if (pinned) records0.persist() else records0
    try {
      val res = PolarLog.produce(records, newCfg,
        orderBy = Seq(col("__old_part"), col("__old_offset")))

      // project consumer groups (A22): caught-up groups start at the new
      // tails with zero data work; ALL lagging groups share ONE
      // count-aggregation pass (previously one pass per group)
      val laggingOffsets: Map[String, Map[Int, Long]] =
        if (lagging.isEmpty) Map.empty
        else projectGroupOffsets(records, cfg, newCfg, oldTails, lagging.toMap)
      // caught-up groups start at the new tails — already in the produce
      // result, no extra root read
      val newTails = if (committedByGroup.size > lagging.size)
        res.newTails else Map.empty[Int, Long]
      val projected = committedByGroup.map { case (group, _) =>
        ConsumerGroups.commit(newCfg, group,
          laggingOffsets.getOrElse(group, newTails))
        group
      }
      RepartitionResult(newCfg, res.recordsWritten, projected)
    } finally if (pinned) records.unpersist(blocking = false): Unit
  }

  /** Pin cap for the repartition projection pass: topics at or below this
    * many records cache the consumed frame across the produce + projection
    * passes; larger topics re-read (caching O(topic) is wrong at scale). */
  private[log] val RepartitionPinMaxRows = 2000000L

  /** Old flat partition -> new flat partitions it spreads into, from the
    * reference's range projection arithmetic (`token.go:133-163`): on
    * scale-up an old range SPLITS into nested children (each new partition
    * has exactly one source); on scale-down ranges JOIN (a new partition
    * unions several sources). */
  private[log] def partitionProjection(
      cfg: TopicConfig, newCfg: TopicConfig): Map[Int, Seq[Int]] =
    (0 until cfg.numPartitions).map { p =>
      val broker = p / cfg.rangesPerToken
      val range = p % cfg.rangesPerToken
      val token = TokenMath.tokenAtIndex(cfg.clusterSize, broker)
      val children = TokenMath.projectRangeByClusterSize(
          token, range, cfg.rangesPerToken, cfg.clusterSize, newCfg.clusterSize)
        .flatMap { case (newToken, indices) =>
          val newBroker = (0 until newCfg.clusterSize)
            .find(i => TokenMath.tokenAtIndex(newCfg.clusterSize, i) == newToken)
            .getOrElse(throw new IllegalStateException(s"unmapped token $newToken"))
          indices.map(newBroker * newCfg.rangesPerToken + _)
        }
      p -> children
    }.toMap

  /**
   * Exact mid-stream offset projection (A22, the lagging-group path of
   * `offset_state.go:518-608`): the rewrite orders every new partition by
   * `(old_part, old_offset)`, and range containment (all records route by
   * token — [[PolarLog.placementExpr]]) means a new partition's records
   * arrive as per-source blocks in ascending old-partition order, each block
   * in old-offset order. A group's committed set is therefore a PREFIX of
   * the new partition exactly up to the first partially-committed source:
   *
   *  - scale-UP: each new partition has ONE source, so the projection is
   *    exact — zero redelivery;
   *  - scale-DOWN: sources preceding the first partial one contribute their
   *    full blocks; later committed records are re-served — minimal
   *    redelivery, mirroring the reference's joined-generation rule that a
   *    child only advances once ALL parents complete
   *    (`offset_state.go:609-668`).
   *
   * Cost: ONE count-aggregation pass for ALL lagging groups together —
   * each group adds one conditional count to the same shuffle (the resize
   * itself is already a full-data op; per-group passes would be O(groups)
   * topic scans at scale).
   */
  private[log] def projectGroupOffsets(
      records: DataFrame,
      cfg: TopicConfig,
      newCfg: TopicConfig,
      oldTails: Map[Int, Long],
      committedByGroup: Map[String, Map[Int, Long]]): Map[String, Map[Int, Long]] = {
    val groups = committedByGroup.keys.toSeq.sorted
    val perGroupCols = groups.zipWithIndex.map { case (g, i) =>
      val committed = committedByGroup(g)
      val commMap =
        if (committed.isEmpty) typedLit(Map.empty[Int, Long])
        else map(committed.toSeq.flatMap { case (p, o) => Seq(lit(p), lit(o)) }: _*)
      count(when(col("__old_offset") <
        coalesce(element_at(commMap, col("__old_part")), lit(0L)),
        lit(1))).as(s"__c$i")
    }
    val rows = records
      .withColumn("__new_part", PolarLog.placementExpr(newCfg))
      .groupBy(col("__new_part"), col("__old_part"))
      .agg(perGroupCols.head, perGroupCols.tail: _*)
      .collect()
    val countsOf: Map[(Int, Int), Seq[Long]] = rows
      .map(r => (r.getInt(0), r.getInt(1)) ->
        groups.indices.map(i => r.getLong(2 + i)))
      .toMap

    val sourcesOf = partitionProjection(cfg, newCfg)
      .toSeq.flatMap { case (p, qs) => qs.map(_ -> p) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap

    groups.zipWithIndex.map { case (g, i) =>
      val committed = committedByGroup(g)
      g -> (0 until newCfg.numPartitions).map { q =>
        var acc = 0L
        var open = true
        sourcesOf.getOrElse(q, Seq.empty).foreach { p =>
          if (open) {
            val c = countsOf.getOrElse((q, p), Seq.fill(groups.size)(0L))(i)
            val fullyCommitted =
              committed.getOrElse(p, 0L) >= oldTails.getOrElse(p, 0L)
            acc += c
            if (!fullyCommitted) open = false // later blocks re-serve (at-least-once)
          }
        }
        q -> acc
      }.toMap
    }.toMap
  }
}
