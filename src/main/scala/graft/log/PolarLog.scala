package graft.log

import graft.functions.GraftFunctions.{murmur3_h1, polar_partition}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.control.NonFatal

/**
 * The partitioned, offset-addressed event log — the data plane of the engine
 * (SURVEY.md §7.1).
 *
 * Layout: `{root}/{topic}/part={p}/<file>.parquet` (zstd), envelope columns
 * `(partitionKey, token, offset, timestamp, value)`. The topic's metadata
 * document carries a FILE REGISTRY — per-file `(part, minOffset, maxOffset,
 * count, bytes)` — so every read plan is pure metadata arithmetic: no
 * directory listing, no parquet footer reads. This is the Spark rendition of
 * the reference's sparse `.index` files
 * (`/root/reference/internal/data/index_file_writer.go:77-90`, SURVEY §4),
 * lifted into the metadata log the way Delta/Iceberg do (the right shape for
 * object stores, where listing is slow and rename is a copy).
 *
 * Placement fidelity: `partition = polar_partition(murmur3_h1(key))` —
 * identical to the reference's leader routing
 * (`internal/discovery/discoverer.go:343-368`); the clustering exchange of
 * the DSv2 write IS the router (SURVEY §2 A3). Records with a null key are
 * placed by a deterministic content hash over all partitions — the
 * declarative stand-in for the reference's round-robin default
 * (`discoverer.go:370-412`): same distribution property, no per-key order
 * implied (none is promised for null keys there either).
 *
 * Offsets are dense per partition from 0, assigned at WRITE time by counter
 * increment in arrival order ([[graft.sources.PolarDataWriter]]) from a
 * plan-time base, and committed by a single metadata CAS — exactly the
 * reference coalescer's single-writer counter
 * (`internal/producing/coalescer.go:24-27,166-167`). Arrival order is the
 * caller's `orderBy` (default event timestamp, content-hash tiebreak),
 * enforced as a spillable local sort, never a window.
 *
 * At 100 TB: the only shuffle is the clustering exchange (unavoidable — it
 * is the routing semantics); the write streams append-only parquet per
 * partition; metadata work is O(partitions + files) on the driver.
 * Consumption is a vectorized parquet scan planned from the registry, so a
 * "read partition 7 from offset X" poll touches only that partition's
 * overlapping tail files.
 */
/** The canonical event envelope as a case class (SURVEY §1.1). */
final case class PolarRecord(
    topic: String,
    partitionKey: Option[String],
    token: Option[Long],
    offset: Long,
    timestamp: java.sql.Timestamp,
    value: Array[Byte],
    part: Int)

/** A record refused by its topic's policy (`max.message.bytes`, the
  * KIP-937 timestamp bounds) at the append. It is thrown before any commit,
  * so the refused produce registered nothing and may be retried without
  * the refused records. Spark wraps it; [[RecordRejectedException.in]]
  * finds it on the cause chain. */
final class RecordRejectedException(message: String)
  extends IllegalArgumentException(message)

object RecordRejectedException {
  def in(t: Throwable): Option[RecordRejectedException] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case r: RecordRejectedException => r
    }
}

object PolarLog {

  val ValueSchema: StructType = StructType(Seq(
    StructField("partitionKey", StringType),
    StructField("token", LongType),
    StructField("offset", LongType, nullable = false),
    StructField("timestamp", TimestampType),
    StructField("value", BinaryType)))

  /** Epoch MILLIS (Kafka's timestamp-config unit) or an ISO-8601 instant,
    * as epoch MICROS — the one parser behind `startingTimestamp`/
    * `endingTimestamp`, the reset procedures and the HTTP timestamp
    * params (previously four inline copies). Millis iff the WHOLE string
    * parses as a long ("2024-01" or "--" must fall through to the instant
    * parser, whose `DateTimeParseException` names the format, instead of
    * a raw NumberFormatException). */
  def epochOrIsoMicros(s: String): Long =
    scala.util.Try(s.trim.toLong).map(_ * 1000L).getOrElse {
      val i = java.time.Instant.parse(s.trim)
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }

  final case class ProduceResult(
      recordsWritten: Long,
      oldTails: Map[Int, Long],
      newTails: Map[Int, Long])

  /** Per-record size cap, the reference's `MaxMessageSize` default
    * (`/root/reference/internal/conf/config.go:252-254`): oversize values
    * fail the produce like the reference's 400 response. */
  val DefaultMaxMessageSize: Int = 1 << 20

  /** The segment roll size for a topic: its `segment.bytes` prop when
    * configured (topic config is authoritative, Kafka semantics), else the
    * caller's value. Malformed persisted values degrade to the fallback. */
  private[graft] def effectiveMaxFileBytes(
      props: Map[String, String], fallback: Long): Long =
    props.get(TopicProps.SegmentBytes)
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .filter(_ > 0L)
      .getOrElse(fallback)

  /** Effective (beforeMaxMs, afterMaxMs) CreateTime validation bounds —
    * KIP-937's directional pair, with Kafka 3.6's compatibility rule: the
    * legacy symmetric `message.timestamp.difference.max.ms` fills
    * whichever directional bound is not explicitly set. Long.MaxValue =
    * unbounded (the default). [[graft.sources.RecordPolicy]] skips the
    * check entirely under LogAppendTime, matching the broker (it stamps
    * its own clock, so producer timestamps are discarded, not validated). */
  private[graft] def timestampBounds(
      props: Map[String, String]): (Long, Long) = {
    def ms(key: String): Option[Long] = props.get(key)
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption).filter(_ >= 0L)
    val legacy = ms(TopicProps.MessageTimestampDifferenceMaxMs)
    (ms(TopicProps.MessageTimestampBeforeMaxMs).orElse(legacy)
       .getOrElse(Long.MaxValue),
     ms(TopicProps.MessageTimestampAfterMaxMs).orElse(legacy)
       .getOrElse(Long.MaxValue))
  }

  /** The topic's `file.delete.delay.ms`: 0 (absent/malformed/non-positive)
    * = eager physical deletion, the engine's pre-existing behavior. */
  private[graft] def fileDeleteDelayMs(props: Map[String, String]): Long =
    props.get(TopicProps.FileDeleteDelayMs)
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .filter(_ > 0L).getOrElse(0L)

  /** Saturating ledger deadline: the validator accepts any non-negative
    * delay, so an absurd-but-valid `file.delete.delay.ms` must read as
    * "hold practically forever" — a wrapped-negative due would invert the
    * window into IMMEDIATE reclamation (the unsafe direction). */
  private[graft] def dueAt(nowMs: Long, delayMs: Long): Long = {
    val due = nowMs + delayMs
    if (due < nowMs) Long.MaxValue else due
  }

  /** Best-effort physical delete of already-UNREGISTERED segments — the
    * shared eager tail of every removal path (ledgered topics skip it and
    * let vacuum reclaim at each entry's deadline). IO races are expected
    * (another sweep may have reclaimed first) and swallowed. */
  private[graft] def quietDelete(paths: Seq[String]): Unit = {
    val conf = HadoopConf.shared
    paths.foreach { s =>
      val p = new Path(s)
      try { val fs = p.getFileSystem(conf); if (fs.exists(p)) fs.delete(p, false) }
      catch { case _: java.io.IOException => () }
    }
  }

  /** The producer-schema → envelope projection shared by every produce
    * entry point: default key/timestamp columns, the destination `topic`
    * (a literal for a single-topic produce, the frame's column for a
    * routed one), token + placement, and the arrival order materialized
    * as `__oN` columns (the DSv2 write requires a LOCAL sort on
    * (topic, part, __o*): spillable, no window buffer). Pure column ops —
    * valid on batch and streaming frames alike. Record policy (size cap,
    * timestamp type and bounds) is not applied here: the writer applies
    * each topic's policy at the append. */
  private def envelope(
      df: DataFrame,
      topic: Column,
      clusterSize: Int,
      rangesPerToken: Int,
      orderBy: Seq[Column]): DataFrame = {
    // resolver-consistent intake: `withColumn` below REPLACES an existing
    // column case-insensitively (Spark's default resolver), so a frame
    // carrying PARTITIONKEY/TIMESTAMP would otherwise pass the exact-case
    // `contains` checks as "absent" and get its keys silently NULLed (and
    // its event times replaced with wall clock). Normalize the producer
    // column names first, then the exact-case logic is sound — and the
    // byte-layout writers (fieldIndex is case-SENSITIVE) see the
    // canonical spelling.
    val canonical = Seq("partitionKey", "timestamp", "value", "topic")
      .foldLeft(df) { (d, name) =>
        val variants = d.columns.filter(_.equalsIgnoreCase(name))
        // two case-variants of one envelope column (e.g. partitionKey AND
        // PARTITIONKEY) have no sound resolution — renaming either would
        // leave two same-named columns that fail later with a generic
        // ambiguous-reference error; refuse with a produce-shaped message.
        // A frame already carrying the exact-case name alone needs nothing.
        if (variants.length > 1)
          throw new IllegalArgumentException(
            s"producer frame has ${variants.length} case-variants of the " +
              s"'$name' column (${variants.mkString(", ")}); keep exactly one")
        variants.headOption.filter(_ != name)
          .map(c => d.withColumnRenamed(c, name)).getOrElse(d)
      }
    val withKey =
      if (canonical.columns.contains("partitionKey")) canonical
      else canonical.withColumn("partitionKey", lit(null).cast(StringType))
    val withTs =
      if (withKey.columns.contains("timestamp")) withKey
      else withKey.withColumn("timestamp", current_timestamp())
    val order = if (orderBy.nonEmpty) orderBy
      else Seq(col("timestamp"), xxhash64(col("value")))
    val orderCols = order.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }
    withTs
      .withColumn("value", col("value").cast(BinaryType))
      .withColumn("token", murmur3_h1(col("partitionKey")))
      .withColumn("part", placementExpr(clusterSize, rangesPerToken))
      .select(Seq(topic.cast(StringType).as("topic"), col("partitionKey"),
        col("token"), col("part"), col("timestamp"), col("value")) ++
        orderCols: _*)
  }

  /**
   * Append records to a topic. Input needs a `value` column (binary or
   * string); `partitionKey` (string) and `timestamp` are optional.
   *
   * A routed produce of one declared topic through the DSv2 sink
   * ([[graft.sources.PolarRoutedWrite]]): the plan is cluster-by-part +
   * local sort; executors check each record against the topic's policy
   * and stream per-partition files with write-time dense offsets;
   * visibility is a single metadata CAS at commit (files land first but
   * are unregistered until then, so readers never see a torn produce).
   * A topic's `max.message.bytes` overrides `maxMessageSize`, and its
   * `segment.bytes` overrides `maxFileBytes`.
   */
  def produce(
      df: DataFrame,
      cfg: TopicConfig,
      orderBy: Seq[Column] = Nil,
      maxMessageSize: Int = DefaultMaxMessageSize,
      maxFileBytes: Long = graft.sources.PolarWrite.DefaultMaxFileBytes,
      txn: Option[(String, Long)] = None,
      txnRetentionMs: Long = graft.sources.PolarWrite.DefaultTxnRetentionMs,
      // atomic replace (INSERT OVERWRITE): one CAS unregisters every
      // pre-existing segment while registering this produce's; offsets
      // still continue from the tails
      replaceAll: Boolean = false,
      // producer transaction (Kafka EOS): stage this produce under an open
      // Transactions handle — registered entries carry the txn mark until
      // Transactions.commit/abort resolves them
      producerTxn: Option[Transactions.TxnHandle] = None)
      : ProduceResult = {
    val spark = df.sparkSession
    graft.GraftSession.ensureFunctions(spark)
    val meta0 = {
      val m = LogMetadata.read(cfg)
      require(m.clusterSize == cfg.clusterSize && m.rangesPerToken == cfg.rangesPerToken,
        s"topic ${cfg.topic} exists with different ring layout")
      m
    }

    var writer = envelope(df, lit(cfg.topic), cfg.clusterSize,
        cfg.rangesPerToken, orderBy).write
      .format("polar")
      .option("root", cfg.root)
      .option("topic", cfg.topic)
      .option("clusterSize", cfg.clusterSize.toString)
      .option("rangesPerToken", cfg.rangesPerToken.toString)
      .option("maxMessageSize", maxMessageSize.toString)
      .option("maxFileBytes", maxFileBytes.toString)
    txn.foreach { case (sinkId, batchId) =>
      writer = writer.option("txnSinkId", sinkId)
        .option("txnBatchId", batchId.toString)
        .option("txnRetentionMs", txnRetentionMs.toString)
    }
    producerTxn.foreach { h =>
      require(h.root == cfg.root,
        s"transaction handle roots differ: '${h.root}' vs topic root '${cfg.root}'")
      writer = writer.option("transactional.id", h.txnId)
        .option("transactional.epoch", h.epoch.toString)
    }
    if (replaceAll) writer = writer.option("replaceAll", "true")
    writer.mode("append").save()

    val after = LogMetadata.read(cfg)
    val oldTails = meta0.producerOffsets.zipWithIndex.map(_.swap).toMap
    val newTails = after.producerOffsets.zipWithIndex.map(_.swap).toMap
    val written = newTails.map { case (p, t) => t - meta0.producerOffsets(p) }.sum
    ProduceResult(written, oldTails, newTails)
  }

  /** Log-native MERGE (Delta's MERGE shape over Kafka Streams' KTable
    * semantics): the COMPACTED VIEW is the table; merging appends facts to
    * the log — matched-update and not-matched-insert become produces,
    * matched-delete becomes a tombstone — so the raw log keeps every prior
    * offset addressable (history, time travel and replay are unaffected)
    * while the compacted view equals the full-outer apply of `source`
    * onto the previous view.
    *
    * `source` carries (partitionKey, value[, timestamp]); a NULL `value`
    * is a delete intent, anything else an upsert intent. Clause gating
    * mirrors SQL MERGE: `matchedUpdate` / `matchedDelete` /
    * `notMatchedInsert` switch the three actions independently.
    *
    * With all three clauses on (the default — the KTable upsert), no read
    * of the current view is needed at all: every source row applies
    * verbatim and the merge is ONE produce (a tombstone for an absent key
    * is a no-op in the view). Only a DISABLED clause requires knowing
    * matched-ness, which costs one key-set read of the compacted view.
    * At 100 TB that is the difference between an append and a join —
    * exactly why the log's merge beats copy-on-write table formats for
    * high-churn upsert feeds.
    *
    * SQL surfaces: `CALL polar.system.merge(topic => 't', source =>
    * 'view')`; `MERGE INTO polar.t` refuses with a pointer here (offsets,
    * tokens and placement are engine-assigned, so SQL MERGE's
    * column-assignment contract cannot be honored soundly). */
  def merge(
      spark: SparkSession,
      cfg: TopicConfig,
      source: DataFrame,
      matchedUpdate: Boolean = true,
      matchedDelete: Boolean = true,
      notMatchedInsert: Boolean = true): ProduceResult = {
    // case-insensitive like Spark's default resolver — a PARTITIONKEY
    // source must behave exactly as partitionKey (col() below resolves
    // case-insensitively; the guard must agree with it)
    def has(name: String): Boolean =
      source.columns.exists(_.equalsIgnoreCase(name))
    require(has("partitionKey") && has("value"),
      "merge source needs (partitionKey, value[, timestamp]); NULL value = delete")
    val withTs =
      if (has("timestamp")) source
      else source.withColumn("timestamp", current_timestamp())
    // a merge key must be non-null — a null key cannot match anything and
    // would otherwise spread via the null-key placement
    val src = withTs.select(
      when(col("partitionKey").isNotNull, col("partitionKey").cast(StringType))
        .otherwise(raise_error(lit("merge requires a non-null partitionKey"))
          .cast(StringType)).as("partitionKey"),
      // alias: col() resolves a case-variant source column but would keep
      // its spelling, and the produce envelope must see the canonical name
      col("timestamp").as("timestamp"),
      col("value").cast(BinaryType).as("value"))
    // SQL MERGE (and Delta, the model here) error on duplicate source
    // matches — two rows for one key would make the post-merge view
    // depend on an arbitrary tie-break, so refuse loudly instead. One
    // bounded aggregation over the CHANGE SET (not the topic).
    val dup = src.groupBy(col("partitionKey")).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"merge source has ${dup.head.getLong(1)} rows for key " +
        s"'${dup.head.getString(0)}'; deduplicate the source (e.g. latest " +
        "per key) before merging — SQL MERGE semantics forbid multiple " +
        "source rows per target key")
    val applied =
      if (matchedUpdate && matchedDelete && notMatchedInsert) src
      else {
        // matched = key LIVE in the compacted view (a tombstoned key is
        // NOT matched — inserting it again is a not-matched insert, the
        // resurrection semantics of the compacted log)
        val live = consumeCompacted(spark, cfg)
          .select(col("partitionKey")).distinct()
          .withColumn("__matched", lit(true))
        src.join(live, Seq("partitionKey"), "left")
          .filter(
            (col("__matched").isNotNull && col("value").isNotNull &&
              lit(matchedUpdate)) ||
            (col("__matched").isNotNull && col("value").isNull &&
              lit(matchedDelete)) ||
            (col("__matched").isNull && col("value").isNotNull &&
              lit(notMatchedInsert)))
          .drop("__matched")
      }
    produce(applied, cfg)
  }

  /** Row-routed produce (Kafka writer parity): each row's `topic` column
    * names its destination; one pass over the data, one exchange clustered
    * by (topic, part), one CAS commit per topic. All routed topics share
    * `template`'s root and ring geometry (topology is global in the
    * reference, `/root/reference/internal/types/models.go`). The DSv2
    * sugar `df.write.format("polar").option("root", r).save()` with a
    * `topic` column lands here too. */
  def produceRouted(
      df: DataFrame,
      template: RingTemplate,
      orderBy: Seq[Column] = Nil,
      maxMessageSize: Int = DefaultMaxMessageSize,
      maxFileBytes: Long = graft.sources.PolarWrite.DefaultMaxFileBytes): Unit = {
    val spark = df.sparkSession
    graft.GraftSession.ensureFunctions(spark)
    require(df.columns.contains("topic"),
      "row-routed produce requires a 'topic' column")
    envelope(df, col("topic"), template.clusterSize, template.rangesPerToken,
      orderBy)
      .write
      .format("polar")
      .option("root", template.root)
      .option("clusterSize", template.clusterSize.toString)
      .option("rangesPerToken", template.rangesPerToken.toString)
      .option("maxFileBytes", maxFileBytes.toString)
      .option("maxMessageSize", maxMessageSize.toString)
      .mode("append").save()
  }

  /** Streaming twin of [[produceRouted]]: per-epoch, per-topic idempotent
    * commits — a replayed epoch registers nothing on topics whose CAS
    * already recorded it. */
  def produceStreamRouted(
      df: DataFrame,
      template: RingTemplate,
      orderBy: Seq[Column] = Nil,
      maxMessageSize: Int = DefaultMaxMessageSize,
      maxFileBytes: Long = graft.sources.PolarWrite.DefaultMaxFileBytes)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    graft.GraftSession.ensureFunctions(df.sparkSession)
    require(df.columns.contains("topic"),
      "row-routed produce requires a 'topic' column")
    envelope(df, col("topic"), template.clusterSize, template.rangesPerToken,
      orderBy)
      .writeStream
      .format("polar")
      .option("root", template.root)
      .option("clusterSize", template.clusterSize.toString)
      .option("rangesPerToken", template.rangesPerToken.toString)
      .option("maxFileBytes", maxFileBytes.toString)
      .option("maxMessageSize", maxMessageSize.toString)
      .outputMode("append")
  }

  /** Streaming produce — the native sink twin of [[produce]]:
    * {{{ PolarLog.produceStream(df, cfg)
    *       .option("checkpointLocation", dir).start() }}}
    * Each micro-batch commits through the same metadata CAS with an
    * idempotent (queryId, epochId) txn recorded in `sinkCommits`, so an
    * epoch replayed after a crash registers nothing twice — exactly-once
    * visibility end-to-end, the streaming analog of the reference's
    * committed-offset resume (`internal/consuming/offset_state.go`).
    * Offsets are assigned by the writers from the tails current at each
    * epoch, never client-supplied. */
  def produceStream(
      df: DataFrame,
      cfg: TopicConfig,
      orderBy: Seq[Column] = Nil,
      maxMessageSize: Int = DefaultMaxMessageSize,
      maxFileBytes: Long = graft.sources.PolarWrite.DefaultMaxFileBytes)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    graft.GraftSession.ensureFunctions(df.sparkSession)
    // the topic's props are read once per epoch, as the sink plans it
    envelope(df, lit(cfg.topic), cfg.clusterSize, cfg.rangesPerToken, orderBy)
      .writeStream
      .format("polar")
      .option("root", cfg.root)
      .option("topic", cfg.topic)
      .option("clusterSize", cfg.clusterSize.toString)
      .option("rangesPerToken", cfg.rangesPerToken.toString)
      .option("maxMessageSize", maxMessageSize.toString)
      .option("maxFileBytes", maxFileBytes.toString)
      .outputMode("append")
  }

  /** NDJSON multi-record ingestion (SURVEY §2 A4): one request row with an
    * `application/x-ndjson` string body becomes one record per non-empty
    * line, sharing the request's key/timestamp — mirroring
    * `/root/reference/internal/producing/models.go:44-87`. CRLF bodies are
    * normalized (the reference's line scanner drops the trailing CR). */
  def ingestNdjson(
      df: DataFrame,
      cfg: TopicConfig,
      bodyCol: String = "body"): ProduceResult = {
    val exploded = df
      .withColumn("__line", explode(split(col(bodyCol), "\r?\n")))
      .filter(length(trim(col("__line"))) > 0)
      .withColumn("value", col("__line").cast(BinaryType))
      .drop("__line", bodyCol)
    produce(exploded, cfg)
  }

  /** Scan a topic (batch consume). Vectorized parquet scan planned from the
    * metadata file registry — only REGISTERED files are visible (commit
    * atomicity), and no directory listing happens. `startOffsets(p)` is
    * inclusive, `endOffsets(p)` exclusive. */
  def consume(
      spark: SparkSession,
      cfg: TopicConfig,
      startOffsets: Map[Int, Long] = Map.empty,
      endOffsets: Map[Int, Long] = Map.empty,
      // Kafka's isolation.level: read_committed resolves producer-txn
      // marks at planning and caps each partition at its LSO
      isolation: String = "read_uncommitted"): DataFrame = {
    // validate loudly: a typo'd level silently reading uncommitted data
    // is exactly the failure isolation exists to prevent
    require(isolation == "read_uncommitted" || isolation == "read_committed",
      s"isolation must be 'read_uncommitted' or 'read_committed', got '$isolation'")
    val meta0 = LogMetadata.read(cfg)
    val meta =
      if (isolation == "read_committed")
        Transactions.readCommittedView(cfg.root, meta0)
      else meta0
    consumeAt(spark, cfg, meta, startOffsets, endOffsets)
  }

  /** The COMPACTED view of a topic — Kafka's log-compaction / Kafka
    * Streams KTable semantics as a declarative query instead of a physical
    * segment rewrite: the latest record per non-null key, with null-value
    * records acting as tombstones (the key disappears from the view).
    * "Latest" is by offset, the log's authoritative order; a key's records
    * all live in one partition (placement), so per-key max-offset is
    * globally unambiguous. One keyed shuffle with map-side partial
    * `max_by`; the log itself is never rewritten, so every offset stays
    * addressable for replay/time travel — the same reason Kafka keeps
    * compaction out of the fetch path. */
  def consumeCompacted(
      spark: SparkSession,
      cfg: TopicConfig,
      versionAsOf: Option[Long] = None): DataFrame = {
    // time travel composes: the compacted view AS OF a retained version is
    // the table the topic materialized to at that commit
    val base = versionAsOf match {
      case Some(v) => consumeAt(spark, cfg, LogMetadata.readAt(cfg, v))
      case None => consume(spark, cfg)
    }
    val log = base.filter(col("partitionKey").isNotNull)
    log.groupBy(col("partitionKey"))
      .agg(max_by(struct(col("token"), col("part"), col("offset"),
        col("timestamp"), col("value")), col("offset")).as("__r"))
      .select(col("partitionKey"), col("__r.token").as("token"),
        col("__r.part").as("part"), col("__r.offset").as("offset"),
        col("__r.timestamp").as("timestamp"), col("__r.value").as("value"))
      .filter(col("value").isNotNull)
  }

  /** [[consume]] planned against an EXPLICIT metadata document (a retained
    * snapshot for time travel / change feeds, or the pre-read head) instead
    * of re-reading the head registry — files past the snapshot are invisible
    * even when the head has moved. */
  private[graft] def consumeAt(
      spark: SparkSession,
      cfg: TopicConfig,
      meta: LogMetadata,
      startOffsets: Map[Int, Long] = Map.empty,
      endOffsets: Map[Int, Long] = Map.empty): DataFrame = {
    if (meta.filesEmpty) return emptyLog(spark, cfg)
    // prune files by the requested offset windows before Spark ever sees
    // them — registry stats replace footer reads; an empty window plans
    // none of its partition's files
    val wanted = meta.files.filter { f =>
      val s = startOffsets.getOrElse(f.part, 0L)
      val e = endOffsets.getOrElse(f.part, Long.MaxValue)
      s < e && f.maxOffset >= s && f.minOffset < e
    }
    if (wanted.isEmpty) return emptyLog(spark, cfg)

    var out = scanSegments(spark, cfg, wanted.map(_.path(cfg)))
      .withColumn("topic", lit(cfg.topic))
    if (startOffsets.nonEmpty) {
      val m = offsetMap(startOffsets)
      out = out.filter(col("offset") >= coalesce(element_at(m, col("part")), lit(0L)))
    }
    if (endOffsets.nonEmpty) {
      val m = offsetMap(endOffsets)
      out = out.filter(col("offset") <
        coalesce(element_at(m, col("part")), lit(Long.MaxValue)))
    }
    out
  }

  /** [[consumeAt]] over an EXPLICIT registry file subset — the log
    * cleaner's access path: it plans whole-file reads (regions are file
    * vectors), so scoping the scan to exactly the files a pass needs (dirty
    * region vs cleaned region) is pure registry arithmetic, no offset
    * filters. Callers own the subset's semantics. */
  private[graft] def consumeFiles(
      spark: SparkSession,
      cfg: TopicConfig,
      wanted: Seq[FileEntry]): DataFrame = {
    if (wanted.isEmpty) return emptyLog(spark, cfg)
    scanSegments(spark, cfg, wanted.map(_.path(cfg)))
      .withColumn("topic", lit(cfg.topic))
  }

  /** The one planner of scans over explicit segments of `cfg`'s topic
    * (log reads, consumes, the rebase/compaction copy, the stats
    * backfill): the envelope columns plus `part`. The relation is planned
    * from one status call per segment, made on the driver. `spark.read`
    * checks every path and then, past 32 paths, lists them with a Spark
    * job of one task per file: planning 720 segments that way took
    * 2.3-5.7 s on 4 cores, where counting them took 0.4 s. With
    * `missingOk`, a segment deleted before or during the scan is skipped
    * instead of failing it. */
  private[graft] def scanSegments(spark: SparkSession, cfg: TopicConfig,
      paths: Seq[String], missingOk: Boolean = false): DataFrame = {
    val schema = ValueSchema.add(StructField("part", IntegerType))
    val fs = new Path(cfg.dir).getFileSystem(HadoopConf.shared)
    val statuses = paths.flatMap { s =>
      try Some(fs.getFileStatus(new Path(s)))
      catch { case _: java.io.FileNotFoundException if missingOk => None }
    }.map(st => st.getPath -> st)
    val byPath = statuses.toMap
    // the index asks this cache for each root path's leaf files, so it
    // lists nothing
    val known = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] = byPath.get(p).map(Array(_))
      override def putLeafFiles(p: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val options = Map("basePath" -> cfg.dir, "ignoreMissingFiles" -> missingOk.toString)
    val index = new InMemoryFileIndex(spark, statuses.map(_._1), options, Some(schema), known)
    // nullable data columns, as `spark.read` makes a user schema
    val data = StructType(ValueSchema.map(_.copy(nullable = true)))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema, data,
      None, new ParquetFileFormat, options)(spark))
  }

  /**
   * CHANGE FEED between two commit versions: every record appended after
   * `fromVersion` up to and including `toVersion` (exclusive/inclusive —
   * the Delta CDF convention). The log is append-only, so the change set
   * IS the per-partition offset window between the two versions'
   * producer tails; the scan PLANS AGAINST the `toVersion` snapshot's own
   * file registry (the versionAsOf path), so a concurrent producer past
   * `toVersion` never leaks in — and the registry is validated to cover
   * every requested offset window, so a retention/compaction sweep that
   * dropped segments inside (from, to] fails LOUDLY instead of silently
   * returning a partial feed (the [[LogMetadata.readAt]] contract). Both
   * versions must still be retained; `toVersion` defaults to the head.
   * The incremental-batch consumption primitive: a downstream batch job
   * checkpoints the version it last processed and reads exactly the
   * delta, no streaming checkpoint needed.
   */
  def changesBetween(
      spark: SparkSession,
      cfg: TopicConfig,
      fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val (toMeta, starts, ends) = changeWindow(cfg, fromVersion, toVersion)
    consumeAt(spark, cfg, toMeta, startOffsets = starts, endOffsets = ends)
  }

  /** Resolve a (fromVersion, toVersion] change window: the `toVersion`
    * snapshot's metadata plus per-partition [start, end) offsets, with the
    * registry validated to DENSELY cover every window — a retention or
    * compaction sweep that dropped segments inside the window fails loudly
    * instead of yielding a silently partial feed. Pure driver-side
    * metadata arithmetic, no file I/O. Shared by [[changesBetween]] and
    * the DSv2 batch `startingVersion`/`endingVersion` read options. */
  private[graft] def changeWindow(
      cfg: TopicConfig,
      fromVersion: Long,
      toVersion: Option[Long]): (LogMetadata, Map[Int, Long], Map[Int, Long]) = {
    val fromMeta = LogMetadata.readAt(cfg, fromVersion)
    val toMeta = toVersion.map(LogMetadata.readAt(cfg, _))
      .getOrElse(LogMetadata.read(cfg))
    val starts = fromMeta.producerOffsets.zipWithIndex
      .map { case (tail, p) => p -> tail }.toMap
    val ends = toMeta.producerOffsets.zipWithIndex
      .map { case (tail, p) => p -> tail }.toMap
    val gaps = ends.toSeq.sorted.flatMap { case (p, end) =>
      val start = starts.getOrElse(p, 0L)
      if (end <= start) None
      else {
        var pos = start
        toMeta.filesOf(p).foreach { f =>
          if (f.minOffset <= pos && f.maxOffset >= pos) pos = f.maxOffset + 1
        }
        if (pos < end) Some(s"partition $p offsets [$pos, $end)") else None
      }
    }
    if (gaps.nonEmpty) throw new IllegalStateException(
      s"change feed ($fromVersion, ${toVersion.getOrElse(toMeta.version)}] of " +
        s"topic ${cfg.topic} is no longer fully retained — missing " +
        gaps.mkString("; "))
    (toMeta, starts, ends)
  }

  /** Records of one partition in offset order — the per-poll chunk contract
    * of the reference's segment reader (SURVEY §2 A12). */
  def consumePartition(
      spark: SparkSession,
      cfg: TopicConfig,
      partition: Int,
      fromOffset: Long = 0L,
      maxRecords: Long = Long.MaxValue): DataFrame = {
    val df = consume(spark, cfg)
      .filter(col("part") === partition && col("offset") >= fromOffset)
      .orderBy(col("offset"))
    if (maxRecords >= Int.MaxValue) df
    else df.limit(math.max(maxRecords, 0L).toInt)
  }

  /** Retention GC (SURVEY §2 A25): unregister-then-delete data files whose
    * commit time is older than the retention window — file-granularity
    * age-based deletion, mirroring
    * `/root/reference/internal/data/datalog_cleaner.go`. The CAS
    * unregistration is the visibility boundary (readers planning from the
    * registry never race a half-deleted file); the physical delete after it
    * is garbage collection. Returns REMOVED file count: physically deleted
    * on eager topics, moved to the `pendingDeletes` ledger (reclaimed by
    * vacuum at each entry's deadline) when the topic configures
    * `file.delete.delay.ms`. */
  def cleanRetention(cfg: TopicConfig, retentionMs: Long,
      nowMs: Long = System.currentTimeMillis()): Int = {
    // a negative window is the "retention disabled" sentinel (-1): the
    // scheduler skips such topics upstream, and a direct caller gets the
    // same no-op — deleting with cutoff > now would trim the ENTIRE
    // topic, so disabled-means-keep is the only safe reading
    if (retentionMs < 0) return 0
    val cutoff = nowMs - retentionMs
    val meta = LogMetadata.read(cfg)
    // open-producer-transaction segments are never retention candidates:
    // deleting uncommitted data would make a later Transactions.commit
    // expose a hole (Kafka likewise never deletes past the LSO). Their
    // transactions resolve within transaction.timeout.ms, after which the
    // plain rule applies.
    val aged = meta.files.filter(f => f.createdMs < cutoff && f.txn.isEmpty)
    if (aged.isEmpty) return 0
    // file.delete.delay.ms: defer the physical delete — doomed entries
    // move to the pendingDeletes ledger IN THE SAME CAS that unregisters
    // them, and vacuum reclaims them past the deadline
    val delayMs = fileDeleteDelayMs(meta.props)
    LogMetadata.compareAndSet(cfg, meta) { cur =>
      // partitions with nothing aged keep their vector INSTANCE, so their
      // manifests are not rewritten (publish diffs by eq)
      val next = cur.copy(filesByPart = cur.filesByPart.map { case (p, v) =>
        val kept = v.filter(f => f.createdMs >= cutoff || f.txn.isDefined)
        p -> (if (kept.length == v.length) v else kept)
      })
      // trimming ADVANCES the log start (Kafka logStartOffset semantics —
      // records below it were removed with intent; compaction never moves
      // this, so failOnDataLoss can tell loss from sparsity)
      val next2 = next.copy(logStarts = advancedLogStarts(cur, next))
      if (delayMs == 0L) next2
      else next2.copy(pendingDeletes = next2.pendingDeletes ++
        aged.map(f => PendingDelete(f.part, f.name, dueAt(nowMs, delayMs))))
    }
    if (delayMs == 0L) quietDelete(aged.map(_.path(cfg)))
    aged.size
  }

  /** Size-based retention (Kafka's `retention.bytes`, per PARTITION):
    * delete whole segments from the HEAD of each partition while the
    * partition's registered bytes would stay at or above `capBytes`
    * without them — Kafka's exact predicate (`diff - segment.size >= 0`),
    * which structurally never deletes the last (active) segment. Pure
    * registry arithmetic riding the same unregister-then-delete trim path
    * as [[cleanRetention]], so `logStarts` advance identically. Returns
    * removed file count (deferred to the ledger, not deleted, on
    * `file.delete.delay.ms` topics). */
  def cleanRetentionBytes(cfg: TopicConfig, capBytes: Long): Int = {
    // <= 0: a zero cap would pass Kafka's predicate for EVERY file
    // including the active segment — treat it like the -1 no-cap sentinel
    // (the prop validator only admits positive values anyway)
    if (capBytes <= 0) return 0
    val meta = LogMetadata.read(cfg)
    val doomed: Set[(Int, String)] = meta.filesByPart.toSeq.flatMap {
      case (p, v) =>
        val sorted = v.sortBy(_.minOffset)
        var remaining = sorted.map(_.bytes).sum
        // the last (active) segment is never a candidate, whatever the cap;
        // an open-transaction segment STOPS the head walk (head-delete must
        // stay a prefix, and uncommitted data is never deletable)
        sorted.dropRight(1).takeWhile { f =>
          val del = f.txn.isEmpty && remaining - f.bytes >= capBytes
          if (del) remaining -= f.bytes
          del
        }.map(f => p -> f.name)
    }.toSet
    if (doomed.isEmpty) return 0
    val delayMs = fileDeleteDelayMs(meta.props)
    val nowMs = System.currentTimeMillis()
    LogMetadata.compareAndSet(cfg, meta) { cur =>
      val next = cur.copy(filesByPart = cur.filesByPart.map { case (p, v) =>
        val kept = v.filterNot(f => doomed((p, f.name)))
        p -> (if (kept.length == v.length) v else kept)
      })
      val next2 = next.copy(logStarts = advancedLogStarts(cur, next))
      if (delayMs == 0L) next2
      else next2.copy(pendingDeletes = next2.pendingDeletes ++
        doomed.toSeq.sorted.map { case (p, n) =>
          PendingDelete(p, n, dueAt(nowMs, delayMs)) })
    }
    if (delayMs == 0L) quietDelete(
      meta.files.filter(f => doomed((f.part, f.name))).map(_.path(cfg)))
    doomed.size
  }

  /** Post-trim log starts: advance ONLY the partitions whose file vector
    * lost its HEAD file(s) in this trim — everything else keeps its pin
    * verbatim. A key-compacted partition pins `logStart` BELOW its sparse
    * survivors' first offset (compaction is not loss); re-deriving
    * `max(cur, derived)` for partitions the trim never touched would
    * silently promote that pin to the first file's minOffset, making
    * `failOnDataLoss` kill streams checkpointed at compacted-away offsets.
    * Head-loss is the only event that removes records with intent from the
    * FRONT of a log, which is the only thing logStartOffset describes. */
  private def advancedLogStarts(cur: LogMetadata, next: LogMetadata): Vector[Long] =
    Vector.tabulate(next.numPartitions) { p =>
      val headBefore = cur.filesOf(p).headOption.map(_.name)
      val headAfter = next.filesOf(p).headOption.map(_.name)
      if (headAfter == headBefore) cur.logStart(p)
      else math.max(cur.logStart(p), next.derivedLogStart(p))
    }

  /** Tail offsets (next offset per partition) of an EXPLICIT metadata
    * view — the isolation feature's core derivation (a read_committed
    * view's tails are its LSOs), shared so tail semantics live in one
    * place. */
  def tailsOf(meta: LogMetadata): Map[Int, Long] =
    meta.producerOffsets.zipWithIndex.map(_.swap).toMap

  /** Current tail offsets (next offset per partition). */
  def tails(cfg: TopicConfig): Map[Int, Long] = tailsOf(LogMetadata.read(cfg))

  /**
   * OFFSET-ADDRESSED log trim — `kafka-delete-records` parity: per
   * partition, unregister and delete every segment wholly below the
   * cutoff (`maxOffset < beforeOffset`), exactly the retention cleaner's
   * move keyed by offset instead of age. Producer offsets are untouched:
   * new records keep their dense positions, readers simply find the log
   * starting at the first surviving file (the same post-retention shape
   * every read/planning path already handles).
   *
   * File-granular, like the reference's retention sweep: records below
   * the cutoff INSIDE the first surviving segment stay readable until a
   * later trim/compaction rolls them out (documented divergence from
   * Kafka's logStartOffset, which hides them immediately — compose with
   * `WHERE offset >= c` for an exact cut at zero extra cost: the filter
   * is pushed to the same file arithmetic).
   *
   * A cutoff past the tail is clamped (Kafka errors there; clamping keeps
   * `truncate = trim-to-tail` total); `-1` IS that partition's tail (the
   * kafka-delete-records sentinel), so every caller shares one resolution.
   * Returns removed segment count (deferred to the ledger, not deleted,
   * on `file.delete.delay.ms` topics).
   */
  def deleteRecords(cfg: TopicConfig, beforeOffsets: Map[Int, Long]): Int = {
    val meta = LogMetadata.read(cfg)
    beforeOffsets.values.foreach(o => require(o >= 0 || o == -1L,
      s"cutoff must be >= 0 or the -1 tail sentinel, got $o"))
    def cut(p: Int): Long = beforeOffsets.getOrElse(p, 0L) match {
      case -1L => meta.producerOffsets(p)
      case o => math.min(o, meta.producerOffsets(p))
    }
    val doomed = meta.files.filter(f => f.maxOffset < cut(f.part))
    if (doomed.isEmpty) return 0
    val delayMs = fileDeleteDelayMs(meta.props)
    val nowMs = System.currentTimeMillis()
    LogMetadata.compareAndSet(cfg, meta) { cur =>
      val next = cur.copy(filesByPart = cur.filesByPart.map { case (p, v) =>
        val kept = v.filter(_.maxOffset >= cut(p))
        p -> (if (kept.length == v.length) v else kept)
      })
      // advance the log start (see cleanRetention) — file-granular like
      // the trim itself, so in-file records below the cutoff stay both
      // readable AND inside [logStart, tail)
      val next2 = next.copy(logStarts = advancedLogStarts(cur, next))
      if (delayMs == 0L) next2
      else next2.copy(pendingDeletes = next2.pendingDeletes ++
        doomed.map(f => PendingDelete(f.part, f.name, dueAt(nowMs, delayMs))))
    }
    if (delayMs == 0L) quietDelete(doomed.map(_.path(cfg)))
    doomed.size
  }

  /** Trim EVERYTHING: `TRUNCATE TABLE` / delete-records-to-tail. All
    * segments drop, producer offsets stay — the next produce continues the
    * dense numbering, so replayed consumers never see an offset reused. */
  def truncate(cfg: TopicConfig): Int =
    // partition count from the PERSISTED doc (a caller's cfg may carry
    // default geometry), so every partition is named
    deleteRecords(cfg,
      (0 until LogMetadata.read(cfg).numPartitions).map(_ -> -1L).toMap)

  /**
   * RECORD-EXACT event-time seek — Kafka's `offsetsForTimes`: per
   * partition, the offset of the FIRST record (offset order) with
   * `timestamp >= tsMicros`, or the tail when nothing at/after T exists.
   * Two-phase: the registry's per-file ts stats pick each partition's
   * candidate file (the first whose tsMax can hold a qualifying record —
   * with real stats that file is guaranteed to contain the partition's
   * first hit), then ONE bounded spark job reads just those files and
   * takes `min(offset) where ts >= T`. Cost: one small row-group read per
   * partition at seek time, never a topic scan; legacy sentinel-stat
   * files fall through to the next candidate in a further round.
   */
  def offsetsForTimestamp(
      spark: SparkSession,
      cfg: TopicConfig,
      tsMicros: Long): Map[Int, Long] = {
    val meta = LogMetadata.read(cfg)
    val tails = meta.producerOffsets
    var result = Map.empty[Int, Long]
    var pending: Map[Int, Vector[FileEntry]] =
      (0 until cfg.numPartitions).map { p =>
        p -> meta.filesOf(p).filter(_.tsMax >= tsMicros)
      }.toMap
    result ++= pending.collect { case (p, v) if v.isEmpty =>
      p -> tails.lift(p).getOrElse(0L) }
    pending = pending.filter(_._2.nonEmpty)
    while (pending.nonEmpty) {
      val heads = pending.values.map(_.head.path(cfg)).toSeq
      val found = scanSegments(spark, cfg, heads)
        .filter(unix_micros(col("timestamp")) >= tsMicros)
        .groupBy(col("part")).agg(min(col("offset")).as("o"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      result ++= found
      // unresolved partitions (sentinel-stat file held no hit): advance to
      // the next candidate; exhausted partitions seek to tail
      val rest = pending.collect {
        case (p, v) if !found.contains(p) => p -> v.tail
      }
      result ++= rest.collect { case (p, v) if v.isEmpty =>
        p -> tails.lift(p).getOrElse(0L) }
      pending = rest.filter(_._2.nonEmpty)
    }
    result
  }

  /** The placement function over the envelope columns: keyed records route
    * by their murmur3 token; null-key records by a synthetic content-hash
    * TOKEN (not a partition index) — the declarative stand-in for the
    * reference's round-robin default (`discoverer.go:370-412`; same uniform
    * distribution, no per-key order implied). Routing null keys through
    * token space means EVERY record's partition is a token range, so ring
    * resizes keep strict range containment for all records — the property
    * the A22 offset projection relies on. */
  def placementExpr(cfg: TopicConfig): Column =
    placementExpr(cfg.clusterSize, cfg.rangesPerToken)

  def placementExpr(clusterSize: Int, rangesPerToken: Int): Column = {
    val token = murmur3_h1(col("partitionKey"))
    val syntheticToken = xxhash64(col("value"), col("timestamp"))
    polar_partition(coalesce(token, syntheticToken), clusterSize, rangesPerToken)
  }

  /** Typed facade over the envelope (`Dataset[PolarRecord]`) for callers who
    * want compile-time field checks; the DataFrame API stays primary (the
    * envelope is fixed, SURVEY §1.2). */
  def consumeTyped(spark: SparkSession, cfg: TopicConfig): Dataset[PolarRecord] = {
    import spark.implicits._
    consume(spark, cfg).as[PolarRecord]
  }

  // ------------------------------------------------------------------ utils

  private def offsetMap(m: Map[Int, Long]): Column =
    map(m.toSeq.flatMap { case (p, o) => Seq(lit(p), lit(o)) }: _*)

  private def emptyLog(spark: SparkSession, cfg: TopicConfig): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      ValueSchema.add(StructField("part", IntegerType)))
      .withColumn("topic", lit(cfg.topic))

  private[log] def fileSystem(cfg: TopicConfig): FileSystem =
    new Path(cfg.root).getFileSystem(HadoopConf.shared)

  /** Delete data files present on disk but absent from the registry —
    * aborted-produce orphans (never visible to readers; this is pure space
    * reclamation, the analog of the reference recycling failed chunks).
    * `dryRun = true` reports what WOULD be reclaimed without touching
    * anything — the operational preflight every table format's VACUUM
    * ships (run it before choosing the grace windows). */
  def vacuum(cfg: TopicConfig,
      manifestGraceMs: Long = 10L * 60 * 1000,
      nowMs: Long = System.currentTimeMillis(),
      dataGraceMs: Long = 0L,
      dryRun: Boolean = false,
      // precomputed journal-held names for this topic (the scheduler lists
      // journals ONCE per sweep instead of once per topic); None = compute
      // here. Either way a journal read error FAILS CLOSED — the vacuum
      // throws and the caller skips reclamation for this sweep.
      heldOverride: Option[Set[String]] = None): Int = {
    val meta = LogMetadata.read(cfg)
    // files a live routed-commit journal still references are NOT orphans:
    // recovery may roll them forward, and they are older than their
    // journal by the stage-to-commit gap, so mtime grace alone would
    // reclaim them first
    val registered = meta.files.map(f => s"part=${f.part}/${f.name}").toSet ++
      heldOverride.getOrElse(TxnJournal.heldNames(cfg.root, cfg.topic))
    // file.delete.delay.ms ledger: unregistered files a trim/compaction/
    // key-clean DEFERRED — held strictly until their own deadline (the
    // topic's configured reader window), then reclaimed here; the mtime
    // grace below still applies on top (retain-longer direction)
    val pendingDue: Map[String, Long] = meta.pendingDeletes
      .map(pd => s"part=${pd.part}/${pd.name}" -> pd.dueMs).toMap
    val fs = fileSystem(cfg)
    val dir = new Path(cfg.dir)
    if (!fs.exists(dir)) return 0
    var deleted = 0
    fs.listStatus(dir).filter(s => s.isDirectory && s.getPath.getName.startsWith("part="))
      .foreach { pdir =>
        fs.listStatus(pdir.getPath).foreach { f =>
          val rel = s"${pdir.getPath.getName}/${f.getPath.getName}"
          if (f.isFile && f.getPath.getName.endsWith(".parquet") &&
              !registered.contains(rel) &&
              pendingDue.get(rel).forall(_ <= nowMs) &&
              // dataGraceMs > 0 protects readers that planned against a
              // pre-compaction registry and still hold the old file names
              // (<= so the grace-0 default deletes same-millisecond files,
              // exactly the pre-grace behavior)
              f.getModificationTime <= nowMs - dataGraceMs) {
            if (!dryRun) fs.delete(f.getPath, false)
            deleted += 1
          }
        }
      }
    // prune ledger entries past their deadline whose file is gone (just
    // deleted above, or already reclaimed out-of-band) — held entries
    // stay, so a later vacuum still knows to protect their files. Racing
    // a concurrent commit only defers the prune to the next sweep.
    if (!dryRun) {
      val prunable = meta.pendingDeletes.filter(pd => pd.dueMs <= nowMs &&
        !fs.exists(new Path(s"${cfg.dir}/part=${pd.part}/${pd.name}")))
      if (prunable.nonEmpty) {
        val gone = prunable.map(pd => (pd.part, pd.name)).toSet
        try LogMetadata.compareAndSet(cfg, LogMetadata.read(cfg)) { cur =>
          cur.copy(pendingDeletes =
            cur.pendingDeletes.filterNot(pd => gone((pd.part, pd.name))))
        } catch { case _: graft.log.ConcurrentMetadataException => () }
      }
    }
    // manifests superseded by later commits (or orphaned by a crash between
    // manifest write and root rename): unreferenced by the CURRENT root and
    // past the grace window that protects readers still resolving a root
    // doc they loaded moments ago
    val mdir = new Path(LogMetadata.manifestDir(cfg))
    if (fs.exists(mdir)) {
      // live = the heads PLUS their full tail-append parent chains — a
      // chain segment is as load-bearing as the head that references it
      val live = LogMetadata.liveManifestNames(cfg, meta)
      fs.listStatus(mdir).foreach { f =>
        if (f.isFile && !live.contains(f.getPath.getName) &&
            f.getModificationTime < nowMs - manifestGraceMs) {
          if (!dryRun) fs.delete(f.getPath, false)
          deleted += 1
        }
      }
    }
    deleted
  }
}
