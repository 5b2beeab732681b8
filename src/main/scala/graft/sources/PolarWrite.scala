package graft.sources

import graft.log.{FileEntry, FsIO, LogMetadata, PolarLog, RecordRejectedException, RingTemplate, TopicConfig, TopicProps}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Builds the sink's one [[PolarRoutedWrite]] (its doc describes the
  * write path). A `topic` option DECLARES the destination and overrides
  * any `topic` column; without it every row names its topic. A frame with
  * only the producer columns (value[/partitionKey/timestamp/topic]) goes
  * through [[PolarLog.produce]] / [[PolarLog.produceRouted]], which build
  * the envelope (token, part, order columns) and re-enter here. */
class PolarWriteBuilder(cfg: PolarSourceConfig, info: LogicalWriteInfo)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {

  // `INSERT OVERWRITE` / `df.write.mode("overwrite")`: Spark signals the
  // replace-everything contract here; the commit's CAS makes it atomic
  private var truncateAll = false
  override def truncate(): WriteBuilder = { truncateAll = true; this }

  override def build(): Write = {
    val schema = info.schema()
    val replace = truncateAll || cfg.replaceAll
    val declared = cfg.topics.headOption
    val template = cfg.routedTemplate.getOrElse {
      val t = cfg.topic
      RingTemplate(t.root, t.clusterSize, t.rangesPerToken)
    }
    if (declared.isEmpty) {
      if (!schema.fieldNames.contains("topic"))
        throw new IllegalArgumentException(
          "polar write needs a target: set the 'topic' option, or carry a " +
            "per-row 'topic' column")
      require(!replace,
        "INSERT OVERWRITE requires an explicit 'topic' option — a row-routed " +
          "write cannot scope the replace")
      require(cfg.txn.isEmpty,
        "explicit txnSinkId produces target one topic; routed streaming " +
          "epochs carry their own per-topic txn")
      require(cfg.producerTxn.isEmpty,
        "transactional.id produces target one explicit topic; row-routed " +
          "fan-out already has its own atomicity (the routed-commit journal)")
    }
    if (schema.fieldNames.contains("part"))
      new PolarRoutedWrite(template, schema, cfg.maxFileBytes,
        cfg.maxMessageSize, info.queryId(), cfg.txnRetentionMs,
        declared.map(_.topic), cfg.txn, replace, cfg.producerTxn)
    else new V1Write {
      override def toInsertableRelation
          : org.apache.spark.sql.sources.InsertableRelation =
        (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) =>
          declared match {
            case None =>
              require(!overwrite,
                "INSERT OVERWRITE requires an explicit 'topic' option")
              PolarLog.produceRouted(data, template,
                maxMessageSize = cfg.maxMessageSize,
                maxFileBytes = cfg.maxFileBytes): Unit
            case Some(t) =>
              PolarLog.produce(data, t,
                maxMessageSize = cfg.maxMessageSize,
                maxFileBytes = cfg.maxFileBytes, txn = cfg.txn,
                replaceAll = overwrite || replace,
                producerTxn = cfg.producerTxn.map { case (id, e) =>
                  graft.log.Transactions.TxnHandle(t.root, id, e) }): Unit
          }
    }
  }
}

object PolarWrite {
  /** Segment-size cap: a big produce ROLLS to a new file once the writer's
    * buffered+flushed size passes this — the reference's `MaxSegmentSize`
    * role (bounded segments are what make retention granular and planning
    * parallel at 100 TB). */
  val DefaultMaxFileBytes: Long = 1L << 30

  /** The topic's storage codec (Kafka's `compression.type`): the prop
    * when configured, else the engine default zstd — the reference's own
    * chunk codec (`/root/reference/internal/data/` zstd framing).
    * `producer` (keep-what-was-sent) has no meaning when the engine IS
    * the producer-side encoder, so it maps to the default; `lz4` maps to
    * parquet's modern LZ4_RAW. Malformed persisted values degrade to
    * zstd — a bad config must never brick produces. */
  def effectiveCodec(props: Map[String, String]): CompressionCodecName =
    props.get(graft.log.TopicProps.CompressionType).map(_.trim).collect {
      case "uncompressed" => CompressionCodecName.UNCOMPRESSED
      case "snappy" => CompressionCodecName.SNAPPY
      case "gzip" => CompressionCodecName.GZIP
      case "lz4" => CompressionCodecName.LZ4_RAW
      case "zstd" => CompressionCodecName.ZSTD
    }.getOrElse(CompressionCodecName.ZSTD)

  /** How long an idle `sinkCommits` txn entry stays replayable before the
    * next txn commit expires it (Delta's txn-version retention role) —
    * far beyond any live stream's replay horizon at 7 days. */
  val DefaultTxnRetentionMs: Long = 7L * 24 * 60 * 60 * 1000
}

/** A topic's record policy: what [[PolarDataWriter]] checks and stamps as
  * it appends each record, and how it stores the segments. Resolved from
  * the topic's props by [[RecordPolicy.of]], the one place that reads
  * them for a produce. */
final case class RecordPolicy(
    topic: String,
    // Kafka's `max.message.bytes`: the largest value a record may carry
    maxMessageBytes: Int,
    // `message.timestamp.type=LogAppendTime`: every record takes the
    // writer's append clock in place of the producer's timestamp
    logAppendTime: Boolean,
    // KIP-937 CreateTime bounds vs the append clock, in ms;
    // Long.MaxValue = unbounded
    beforeMaxMs: Long,
    afterMaxMs: Long,
    codec: CompressionCodecName,
    rollBytes: Long) {

  /** The produce-path 400 of the reference
    * (reference `internal/producing/server.go:146-151`). */
  def checkValue(bytes: Int): Unit =
    if (bytes > maxMessageBytes) throw new RecordRejectedException(
      s"record value of $bytes bytes exceeds topic '$topic' " +
        s"max.message.bytes (maxMessageSize=$maxMessageBytes bytes)")

  /** KIP-937: a CreateTime timestamp (micros) more than `beforeMaxMs`
    * behind or `afterMaxMs` ahead of the append clock is refused. The
    * comparison is in ms, the configs' own unit. */
  def checkTimestamp(tsMicros: Long, clockMs: Long): Unit =
    if (beforeMaxMs != Long.MaxValue || afterMaxMs != Long.MaxValue) {
      val tsMs = Math.floorDiv(tsMicros, 1000L)
      if ((beforeMaxMs != Long.MaxValue && tsMs < clockMs - beforeMaxMs) ||
          (afterMaxMs != Long.MaxValue && tsMs > clockMs + afterMaxMs))
        throw new RecordRejectedException(
          s"record timestamp ${tsMs}ms out of range vs broker time " +
            s"${clockMs}ms for topic '$topic' (message.timestamp." +
            s"before.max.ms=$beforeMaxMs, after.max.ms=$afterMaxMs)")
    }
}

object RecordPolicy {
  /** Bounds at or above this many ms are unbounded: wider than the span
    * of every representable timestamp (±~9.3e15 ms of epoch), and small
    * enough that `clock ± bound` never overflows a Long. */
  private val MaxTsBoundMs: Long = 100_000_000_000_000_000L // 1e17

  /** The topic's props win over the caller's server-level values
    * (`maxMessageSize`, `maxFileBytes`), as topic config does at a Kafka
    * broker. Malformed persisted values fall back to the caller's value
    * or the default: a bad config must never brick produces. */
  def of(topic: String, props: Map[String, String], maxMessageSize: Int,
      maxFileBytes: Long): RecordPolicy = {
    def bound(ms: Long): Long = if (ms >= MaxTsBoundMs) Long.MaxValue else ms
    val (beforeMs, afterMs) = PolarLog.timestampBounds(props)
    RecordPolicy(topic,
      props.get(TopicProps.MaxMessageBytes)
        .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
        .filter(_ > 0).getOrElse(maxMessageSize),
      props.get(TopicProps.MessageTimestampType).exists(_.trim == "LogAppendTime"),
      bound(beforeMs), bound(afterMs),
      PolarWrite.effectiveCodec(props),
      PolarLog.effectiveMaxFileBytes(props, maxFileBytes))
  }
}

/** What a task needs to append to one topic: the offset bases its writer
  * counts from and the topic's record policy. */
final case class Destination(bases: Array[Long], policy: RecordPolicy)

object Destination {
  def of(topic: String, meta: LogMetadata, maxMessageSize: Int,
      maxFileBytes: Long): Destination =
    Destination(meta.producerOffsets.toArray,
      RecordPolicy.of(topic, meta.props, maxMessageSize, maxFileBytes))
}

object PolarBatchWrite {
  /** Bound on rebase-and-retry rounds under concurrent-producer churn. */
  val MaxCommitRetries = 5

  private val RebasedRe = "^(?:rb[0-9a-f]{8}-)+w\\d+.*".r

  /** True iff `name` is a rebase-rewritten segment (rb-prefixed original
    * writer name) — the files a failed commit must reclaim itself. */
  private[sources] def isRebased(name: String): Boolean =
    RebasedRe.pattern.matcher(name).matches()

  /** Rewrite one baked segment with its offset column shifted by `delta`,
    * through the SAME parquet write support + conf as the original produce
    * (identical physical types/codec). One single-partition task per file;
    * the old file is deleted after the new one is durable. */
  private[sources] def rewriteShifted(
      spark: org.apache.spark.sql.SparkSession,
      cfg: TopicConfig,
      f: FileEntry,
      delta: Long): FileEntry = {
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    val newName = s"rb$suffix-${f.name}"
    val destPath = s"${cfg.dir}/part=${f.part}/$newName"
    // rebased files keep the topic's own codec (one root read per rebase —
    // rebases are the rare CAS-loss path)
    val codec = PolarWrite.effectiveCodec(
      scala.util.Try(LogMetadata.read(cfg).props).getOrElse(Map.empty))
    val bytes = copySegments(spark, cfg, Seq(f.path(cfg)), destPath, delta, codec)
    val hconf = graft.log.HadoopConf.shared
    try {
      val old = new Path(f.path(cfg))
      val fs = old.getFileSystem(hconf)
      if (fs.exists(old)) fs.delete(old, false)
    } catch { case _: java.io.IOException => () }
    f.copy(name = newName, minOffset = f.minOffset + delta,
      maxOffset = f.maxOffset + delta, bytes = bytes,
      createdMs = System.currentTimeMillis())
  }

  /** Stream the rows of `srcPaths` (offset order, offsets shifted by
    * `delta`) into ONE destination segment through the same parquet write
    * support + conf as the original produce (identical physical
    * types/codec). Returns the new file's byte size. Shared by the rebase
    * rewrite and segment compaction. */
  private[sources] def copySegments(
      spark: org.apache.spark.sql.SparkSession,
      cfg: TopicConfig,
      srcPaths: Seq[String],
      destPath: String,
      delta: Long,
      codec: CompressionCodecName = CompressionCodecName.ZSTD): Long = {
    val rdd = PolarLog.scanSegments(spark, cfg, srcPaths).drop("part")
      .coalesce(1).sortWithinPartitions("offset")
      .queryExecution.toRdd
    rdd.foreachPartition {
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
        val conf = PolarDataWriter.writeConf()
        val writer = PolarDataWriter.open(new Path(destPath), conf, codec)
        val buf = new GenericInternalRow(5)
        try it.foreach { row =>
          buf.update(0, if (row.isNullAt(0)) null else row.getUTF8String(0))
          buf.update(1, if (row.isNullAt(1)) null else row.getLong(1))
          buf.update(2, row.getLong(2) + delta)
          buf.update(3, if (row.isNullAt(3)) null else row.getLong(3))
          buf.update(4, if (row.isNullAt(4)) null else row.getBinary(4))
          writer.write(buf)
        } finally writer.close()
    }
    PolarDataWriter.sealedSize(new Path(destPath))
  }
}

final case class PolarCommitMessage(files: Seq[FileEntry]) extends WriterCommitMessage

class PolarSegmentsWrittenMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "polarSegmentsWritten"
  override def description(): String = "log segments sealed"
}

class PolarRecordsWrittenMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "polarRecordsWritten"
  override def description(): String = "records appended"
}

class PolarBatchWrite(
    cfg: TopicConfig,
    schema: StructType,
    maxFileBytes: Long = PolarWrite.DefaultMaxFileBytes,
    txn: Option[(String, Long)] = None,
    txnRetentionMs: Long = PolarWrite.DefaultTxnRetentionMs,
    // INSERT OVERWRITE / mode("overwrite"): the commit's CAS atomically
    // unregisters every pre-existing segment while registering this
    // batch's — readers see the old topic or the new one, never a mix.
    // Offsets still CONTINUE from the tails (dense numbering is the log's
    // identity), so checkpoints and consumer groups never see a reuse.
    replaceAll: Boolean = false,
    // producer transaction: entries register marked with this id; the mark
    // resolves at Transactions.commit/abort. Epoch is the fencing guard.
    producerTxn: Option[(String, Long)] = None,
    // the server-level record-size cap, for a topic without max.message.bytes
    maxMessageSize: Int = PolarLog.DefaultMaxMessageSize) extends BatchWrite {

  require(producerTxn.isEmpty || (!replaceAll && txn.isEmpty),
    "transactional.id composes with plain appends only: INSERT OVERWRITE " +
      "and streaming-sink txns have their own atomicity")

  // plan-time snapshot: offset bases and record policy ship to the
  // writers; the version is the CAS expectation at commit
  // (concurrent-producer guard)
  private val meta0 = {
    // first produce CREATES the topic: new names obey the stricter
    // 248-byte cap (derived journal file names); existing topics are
    // grandfathered. Existence = the root doc on disk (readIfExists), NOT
    // version == 0 — a CREATE TABLE'd never-produced topic sits at
    // version 0 with a doc, and a grandfathered long-named one must stay
    // writable (review-found; the HTTP surface already probes this way)
    val mOpt = LogMetadata.readIfExists(cfg)
    if (mOpt.isEmpty)
      require(TopicConfig.validNewTopicName(cfg.topic),
        s"Invalid new topic name '${cfg.topic}' (max 248 UTF-8 bytes)")
    val m = mOpt.getOrElse(LogMetadata.empty(cfg))
    require(m.clusterSize == cfg.clusterSize && m.rangesPerToken == cfg.rangesPerToken,
      s"topic ${cfg.topic} exists with different ring layout")
    m
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new PolarRoutedWriterFactory(
      RingTemplate(cfg.root, cfg.clusterSize, cfg.rangesPerToken), schema,
      maxFileBytes, maxMessageSize,
      Some(Destination.of(cfg.topic, meta0, maxMessageSize, maxFileBytes)))

  /** This topic's files in a commit message of either shape. */
  private def filesOf(m: WriterCommitMessage): Seq[FileEntry] = m match {
    case PolarCommitMessage(files) => files
    case PolarRoutedCommitMessage(byTopic) => byTopic.getOrElse(cfg.topic, Nil)
    case other => throw new IllegalStateException(s"unexpected commit message $other")
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    var entries: Array[FileEntry] = messages.flatMap(filesOf)
    // idempotent sink (exactly-once visibility for streaming replays): a
    // (sinkId, batchId) already recorded in the metadata means this batch
    // committed before a crash — drop the replayed files, register nothing.
    // The Delta-style txn-version pattern; one check at the CAS authority.
    val replayed = txn.exists { case (sinkId, batchId) =>
      LogMetadata.read(cfg).sinkCommits.get(sinkId).exists(_ >= batchId)
    }
    if (replayed) { abort(messages); return }
    // producer transaction: verify the handle still owns the id (fencing),
    // heartbeat it (the timeout measures from last progress), and record
    // the topic in the transaction DURABLY BEFORE the CAS — so an abort or
    // crash can always enumerate every topic that might carry marks. The
    // entries themselves are stamped below, inside the winning attempt.
    producerTxn.foreach { case (id, epoch) =>
      graft.log.Transactions.requireOpen(cfg.root, id, epoch)
      graft.log.Transactions.touchTopic(cfg.root, id, cfg.topic)
      // (id, epoch)-stamped: resolution is epoch-exact, so a fenced
      // incarnation's staging can never be adopted by a later commit
      entries = entries.map(_.copy(txn = Some(id), txnEpoch = epoch))
    }
    // Optimistic commit with rebase-and-retry: a lost CAS means another
    // producer advanced the tails after our plan-time snapshot. Our files
    // carry offsets baked from the stale bases, so the loser REBASES — each
    // conflicting file is rewritten once with its offset column shifted to
    // the new tail (cost = re-writing this batch's own files, never topic
    // data) — and the CAS is retried. This restores the reference's
    // many-concurrent-producers contract
    // (`/root/reference/internal/producing/coalescer.go:24-27`) where the
    // per-partition coalescer serializes arrivals; here the metadata CAS is
    // the serialization point and arrival interleaving is batch-granular.
    var expected = meta0
    // streaming epochs and row-routed topics bake offsets from base reads
    // taken before this snapshot (the epoch's factory, the task's first
    // encounter); an external producer landing between that read and this
    // commit leaves the entries behind the snapshot's tails while the CAS
    // expectation is already current — the CAS would SUCCEED and the
    // density require abort the query instead of retrying. Rebase onto the
    // snapshot up front (no-op whenever bases match, i.e. every declared
    // batch produce); the retry loop below then only handles races newer
    // than `expected`.
    // Rebase rewrites produce rb*-prefixed replacement files and DELETE the
    // originals — so if this commit ultimately fails, Spark's abort (which
    // receives the ORIGINAL commit messages) cannot reclaim them. Track the
    // rewritten names and delete them ourselves on the terminal failure
    // path; until then they are unregistered and invisible to readers.
    // replace-all: files unregistered by the winning CAS attempt — deleted
    // only after the commit lands (readers of the old snapshot race the
    // delete exactly like retention; the registry is the visibility
    // authority)
    var doomed: Vector[FileEntry] = Vector.empty
    // file.delete.delay.ms: an overwrite's doomed files go to the
    // pendingDeletes ledger in the same CAS (resolved from the topic's
    // props inside the winning attempt)
    var overwriteDelayMs = 0L
    try {
      entries = rebase(entries, expected)
      var attempt = 0
      var committed = false
      while (!committed) {
        try {
          LogMetadata.compareAndSet(cfg, expected) { cur =>
            if (replaceAll) {
              // an overwrite must not silently destroy another producer's
              // OPEN transaction (its later commit would report success
              // over vanished data) — refuse while marks exist; the owner
              // resolves (or the sweep times out) and the overwrite retries
              require(cur.files.forall(_.txn.isEmpty),
                s"INSERT OVERWRITE of ${cfg.topic} refused: open producer " +
                  "transactions hold staged segments here; commit/abort " +
                  "them (or let the sweep time them out) first")
              doomed = cur.files
              overwriteDelayMs = graft.log.PolarLog.fileDeleteDelayMs(cur.props)
            }
            val tails = cur.producerOffsets.toArray
            entries.groupBy(_.part).foreach { case (p, fs) =>
              val sorted = fs.sortBy(_.minOffset)
              require(sorted.head.minOffset == tails(p),
                s"offset gap in partition $p: file starts at ${sorted.head.minOffset}, " +
                  s"tail is ${tails(p)}")
              sorted.foreach { f =>
                require(f.minOffset == tails(p) && f.maxOffset - f.minOffset + 1 == f.count,
                  s"non-dense file entry $f at tail ${tails(p)}")
                tails(p) = f.maxOffset + 1
              }
            }
            val base = if (!replaceAll) cur else cur.copy(
              filesByPart = cur.filesByPart.map { case (p, _) =>
                p -> Vector.empty[FileEntry] })
            val next0 = base.appendFiles(entries.toSeq)
              .copy(producerOffsets = tails.toVector)
            // an overwrite DELETES everything below the new files with
            // intent — advance the explicit log start like the trim paths
            // do, or a stale (low) materialized vector would defeat the
            // failOnDataLoss guard for checkpoints inside the replaced
            // range
            val next = if (!replaceAll) next0 else next0.copy(
              logStarts = Vector.tabulate(next0.numPartitions)(p =>
                math.max(cur.logStart(p), next0.derivedLogStart(p))))
            val withLedger =
              if (replaceAll && overwriteDelayMs > 0L && doomed.nonEmpty)
                next.copy(pendingDeletes = next.pendingDeletes ++ doomed.map(
                  f => graft.log.PendingDelete(f.part, f.name,
                    graft.log.PolarLog.dueAt(
                      System.currentTimeMillis(), overwriteDelayMs))))
              else next
            txn match {
              case None => withLedger
              case Some((sinkId, batchId)) =>
                // register this txn AND expire idle ones: entries whose
                // last commit predates the retention window can no longer
                // be replayed by a live stream (Spark replays at most the
                // last unacknowledged epoch, not months-old ones), so
                // dropping them keeps the root doc bounded under ad-hoc
                // queryId churn — Delta's txn-retention model. Pre-r9
                // entries carry no timestamp; they are stamped "now" here
                // and age out one window later.
                val now = System.currentTimeMillis()
                val stamped = cur.sinkCommits.keysIterator
                  .map(id => id -> cur.sinkCommitMs.getOrElse(id, now)).toMap
                val live = stamped.collect {
                  case (id, ms) if ms >= now - txnRetentionMs => id
                }.toSet
                withLedger.copy(
                  sinkCommits = cur.sinkCommits.view
                    .filterKeys(live).toMap + (sinkId -> batchId),
                  sinkCommitMs = stamped.view
                    .filterKeys(live).toMap + (sinkId -> now))
            }
          }
          committed = true
        } catch {
          case e: graft.log.ConcurrentMetadataException =>
            attempt += 1
            if (attempt > PolarBatchWrite.MaxCommitRetries) throw e
            val cur = LogMetadata.read(cfg)
            entries = rebase(entries, cur)
            expected = cur
        }
      }
    } catch {
      // scoped to the PRE-commit region: once the CAS lands the rebased
      // files are registered, and deleting them on a later failure would
      // leave registry entries pointing at missing data
      case scala.util.control.NonFatal(e) =>
        deleteRebased(entries)
        throw e
    }
    // the replaced segments are unregistered; reclaim them now (a crash
    // here leaves orphans for vacuum, never dangling registry entries) —
    // unless the topic's file.delete.delay.ms deferred them to the ledger
    if (replaceAll && overwriteDelayMs == 0L)
      graft.log.PolarLog.quietDelete(doomed.map(_.path(cfg)))
    // producer transaction: close the requireOpen→CAS race window
    // deterministically. If the transaction is no longer open under OUR
    // epoch — aborted (timeout/fencing, whose sweep may have run BEFORE
    // our entries registered), committed mid-flight (a user ordering
    // error Kafka also rejects), or fully finalized — this produce cannot
    // legally belong to any resolved state: take back EXACTLY the entries
    // this produce registered (by name — never another incarnation's
    // staging under the same id) and fail loudly. Kafka's contract too:
    // sends racing commitTransaction/abortTransaction are errors.
    producerTxn.foreach { case (id, epoch) =>
      graft.log.Transactions.state(cfg.root, id) match {
        case graft.log.Transactions.Open(e, _, _) if e == epoch => ()
        case other =>
          graft.log.Transactions.unregisterEntries(cfg,
            entries.map(f => (f.part, f.name)).toSet)
          throw new IllegalStateException(
            s"producer transaction '$id' left the open state ($other) while " +
              "this produce committed; the produce was rolled back")
      }
    }
  }

  /** Best-effort delete of rebase-rewritten (rb*) files after a terminal
    * commit failure — the originals they replaced are already gone, and
    * Spark's abort only knows the original names. */
  private def deleteRebased(entries: Array[FileEntry]): Unit =
    graft.log.PolarLog.quietDelete(
      entries.filter(f => PolarBatchWrite.isRebased(f.name)).map(_.path(cfg)).toSeq)

  /** Shift this batch's files onto the current tails: per partition, delta =
    * new tail − our baked base; files in conflicting partitions are
    * rewritten (offset column += delta) through the same parquet writer as
    * the original produce. Non-conflicting partitions pass through. */
  private def rebase(entries: Array[FileEntry], cur: LogMetadata): Array[FileEntry] = {
    val deltas: Map[Int, Long] = entries.groupBy(_.part).flatMap { case (p, fs) =>
      val d = cur.producerOffsets(p) - fs.map(_.minOffset).min
      if (d != 0L) Some(p -> d) else None
    }
    if (deltas.isEmpty) entries
    else {
      val spark = org.apache.spark.sql.SparkSession.active
      entries.map { f =>
        deltas.get(f.part) match {
          case None => f
          case Some(d) => PolarBatchWrite.rewriteShifted(spark, cfg, f, d)
        }
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // best-effort orphan cleanup; unregistered files are invisible anyway
    // (a task that failed before its commit leaves a null message)
    PolarLog.quietDelete(
      messages.toSeq.filter(_ != null).flatMap(filesOf).map(_.path(cfg)))
  }
}

object PolarDataWriter {
  /** Hadoop conf for the envelope parquet schema — every key the Spark
    * write-support consults, set explicitly (executors have no SQLConf). */
  def writeConf(): Configuration = {
    val conf = graft.log.HadoopConf.fresh()
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, "UTC")
    ParquetWriteSupport.setSchema(PolarLog.ValueSchema, conf)
    conf
  }

  private class RowWriterBuilder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** The one opener of log segments: produce, the rebase/compaction copy
    * and the log cleaner. The file is created exclusively. On a `file:`
    * root it goes through parquet's `LocalOutputFile` after
    * `Files.createDirectories`, so a segment forks no Hadoop `chmod` and
    * gets no `.crc` sidecar (Spark's reader verifies a sidecar only where
    * one exists); every other store through `HadoopOutputFile`. The
    * builder settings, and so the bytes of the file, are the same. */
  def open(path: Path, conf: Configuration,
      codec: CompressionCodecName = CompressionCodecName.ZSTD)
      : ParquetWriter[InternalRow] = {
    val file = FsIO.localFile(path) match {
      case Some(f) =>
        java.nio.file.Files.createDirectories(f.getParent)
        new LocalOutputFile(f)
      case None => HadoopOutputFile.fromPath(path, conf)
    }
    new RowWriterBuilder(file)
      .withConf(conf)
      .withCompressionCodec(codec)
      // point-lookup insurance: a bloom filter on partitionKey lets the
      // read path's pushed key predicate drop row groups even when the
      // column overflows dictionary encoding (high-cardinality segments —
      // exactly the 100 TB case). Adaptive sizing picks the smallest
      // candidate bloom that fits the group's true NDV; fully-dictionary-
      // encoded chunks skip the bloom (the dictionary already filters
      // exactly). Capped well below the 1 MiB parquet default; 9
      // candidates halve down from the cap to 512 B, so a small segment
      // does not pay parquet's default 5-candidate floor of 8 KiB.
      .withBloomFilterEnabled("partitionKey", true)
      .withAdaptiveBloomFilterEnabled(true)
      .withMaxBloomFilterBytes(128 * 1024)
      .withBloomFilterCandidateNumber("partitionKey", 9)
      .build()
  }

  /** The byte size of a sealed segment written by [[open]]. */
  def sealedSize(path: Path): Long =
    path.getFileSystem(graft.log.HadoopConf.shared).getFileStatus(path).getLen
}

/** Streams one topic's rows of a task (pre-clustered by `part`,
  * pre-sorted) into size-bounded parquet segments per log partition,
  * assigning dense offsets by counter increment — the coalescer, with
  * `MaxSegmentSize` rolling: once a segment's written+buffered size passes
  * the policy's roll size it is sealed and a new one continues the offset
  * chain. Each record passes the topic's [[RecordPolicy]] first; a refused
  * record throws [[RecordRejectedException]] and fails the task, so the
  * produce commits nothing. */
class PolarDataWriter(
    dir: String,
    schema: StructType,
    bases: Array[Long],
    taskId: Long,
    policy: RecordPolicy = RecordPolicy.of("", Map.empty,
      PolarLog.DefaultMaxMessageSize, PolarWrite.DefaultMaxFileBytes))
    extends DataWriter[InternalRow] {

  private val conf = PolarDataWriter.writeConf()
  private val partIdx = schema.fieldIndex("part")
  private val keyIdx = schema.fieldIndex("partitionKey")
  private val tokenIdx = schema.fieldIndex("token")
  private val tsIdx = schema.fieldIndex("timestamp")
  private val valueIdx = schema.fieldIndex("value")

  private final class Segment(val part: Int, val base: Long) {
    val name = f"w$taskId%05d-${java.util.UUID.randomUUID().toString.take(12)}.parquet"
    val path = new Path(s"$dir/part=$part/$name")
    val writer = PolarDataWriter.open(path, conf, policy.codec)
    var count: Long = 0L
    // self-tracked UNCOMPRESSED size: the parquet writer's own estimate
    // only refreshes at its internal mem-check cadence, far too coarse to
    // bound small segments; a conservative pre-compression bound is the
    // MaxSegmentSize semantics anyway
    var approxBytes: Long = 0L
    // event-timestamp stats over non-null rows (micros) — the registry's
    // file-pruning analog of parquet column stats
    var tsMin: Long = Long.MaxValue
    var tsMax: Long = Long.MinValue
    var tsNulls: Long = 0L
    def seal(createdMs: Long): FileEntry = {
      writer.close()
      val bytes = PolarDataWriter.sealedSize(path)
      val (lo, hi) =
        if (tsMin > tsMax) (Long.MinValue, Long.MaxValue) // all-null: unknown
        else (tsMin, tsMax)
      FileEntry(part, name, base, base + count - 1, count, bytes, createdMs,
        lo, hi, tsNulls)
    }
  }

  private final class PartState(part: Int) {
    var segment = new Segment(part, bases(part))
    val sealedSegs = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
    def roll(): Unit = {
      val next = segment.base + segment.count
      sealedSegs += segment.seal(System.currentTimeMillis())
      segment = new Segment(part, next)
    }
  }

  private val states = scala.collection.mutable.HashMap.empty[Int, PartState]
  // ParquetWriteSupport consumes field values eagerly — one mutable row
  // buffer serves every write
  private val buf = new GenericInternalRow(5)
  // the append clock: one stamp per writer, like the broker stamping a
  // batch. LogAppendTime records take it; CreateTime bounds compare to it.
  private val appendMicros = System.currentTimeMillis() * 1000L

  override def write(row: InternalRow): Unit = {
    val value = if (row.isNullAt(valueIdx)) null else row.getBinary(valueIdx)
    if (value != null) policy.checkValue(value.length)
    val hasTs = policy.logAppendTime || !row.isNullAt(tsIdx)
    val ts = if (policy.logAppendTime) appendMicros
      else if (hasTs) row.getLong(tsIdx) else 0L
    // a null timestamp is Kafka's NO_TIMESTAMP, never bounded
    if (hasTs && !policy.logAppendTime)
      policy.checkTimestamp(ts, appendMicros / 1000L)
    val p = row.getInt(partIdx)
    val st = states.getOrElseUpdate(p, new PartState(p))
    val seg = st.segment
    val key = if (row.isNullAt(keyIdx)) null else row.getUTF8String(keyIdx)
    buf.update(0, key)
    buf.update(1, if (row.isNullAt(tokenIdx)) null else row.getLong(tokenIdx))
    buf.update(2, seg.base + seg.count)
    if (!hasTs) { seg.tsNulls += 1; buf.update(3, null) }
    else {
      if (ts < seg.tsMin) seg.tsMin = ts
      if (ts > seg.tsMax) seg.tsMax = ts
      buf.update(3, ts)
    }
    buf.update(4, value)
    seg.writer.write(buf)
    seg.count += 1
    seg.approxBytes += 24L + // token + offset + timestamp
      (if (key == null) 0 else key.numBytes()) +
      (if (value == null) 0 else value.length)
    if (seg.approxBytes >= policy.rollBytes) st.roll()
  }

  override def currentMetricsValues():
      Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    var segs = 0L
    var recs = 0L
    states.values.foreach { st =>
      segs += st.sealedSegs.length + (if (st.segment.count > 0) 1 else 0)
      recs += st.sealedSegs.iterator.map(_.count).sum + st.segment.count
    }
    def m(n: String, v: Long) =
      new org.apache.spark.sql.connector.metric.CustomTaskMetric {
        override def name(): String = n
        override def value(): Long = v
      }
    Array(m("polarSegmentsWritten", segs), m("polarRecordsWritten", recs))
  }

  override def commit(): WriterCommitMessage = {
    val now = System.currentTimeMillis()
    val entries = states.values.toSeq.sortBy(p => p.segment.part).flatMap { st =>
      val tail = if (st.segment.count > 0) Seq(st.segment.seal(now)) else {
        // an empty tail segment right after a roll: close and drop it
        st.segment.writer.close()
        try {
          val fs = st.segment.path.getFileSystem(conf)
          if (fs.exists(st.segment.path)) fs.delete(st.segment.path, false)
        } catch { case _: java.io.IOException => () }
        Seq.empty
      }
      st.sealedSegs.toSeq ++ tail
    }
    PolarCommitMessage(entries)
  }

  override def abort(): Unit = states.values.foreach { st =>
    (st.sealedSegs.map(f => new Path(s"$dir/part=${f.part}/${f.name}")) :+
        st.segment.path).foreach { p =>
      try {
        if (p == st.segment.path) st.segment.writer.close()
      } catch { case _: Exception => () }
      try {
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) fs.delete(p, false)
      } catch { case _: java.io.IOException => () }
    }
  }

  override def close(): Unit = ()
}
