package graft.sources

import graft.log.{FileEntry, LogMetadata, RingTemplate, TopicConfig}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, SortDirection, SortOrder => VSortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

/**
 * The sink's one produce path (SURVEY §7.4): commit-time offset assignment
 * with no window sort, for one declared topic or for rows that each name
 * their topic. The reference's produce path takes the topic per request
 * the same way (reference `internal/producing/server.go:126-132`),
 * so one producer fans out across topics.
 *
 * Shape, mirroring the reference coalescer's counter semantics
 * (reference `internal/producing/coalescer.go:24-27,166-167` — a
 * single writer per partition assigns dense offsets by counter increment
 * in arrival order):
 *
 *  1. The `Write` declares `RequiresDistributionAndOrdering`: CLUSTERED by
 *     `(topic, part)` and locally SORTED by `(topic, part, __o0, __o1, …)`
 *     — for a declared topic, by `part` and `(part, __o*)`. Spark's
 *     exchange is the leader router: every (topic, partition) lands wholly
 *     in one task, the single-writer invariant. The sort is spillable and
 *     per task, not a window buffer.
 *  2. Each task opens one [[PolarDataWriter]] per topic. A DECLARED topic
 *     (the `topic` option, which overrides any `topic` column) has its
 *     metadata read once on the driver — at plan time for a batch, once
 *     per epoch for a stream — and its offset bases and [[RecordPolicy]]
 *     ride the factory, so tasks read none. A row-routed topic is read on
 *     first encounter in the task (one GET per topic per task: the topic
 *     set is data-dependent). The writer checks each record against its
 *     topic's policy, assigns `offset = base(part) + n++`, and streams
 *     per-partition parquet files. Files get their final names but stay
 *     INVISIBLE until registered: readers only see the metadata registry.
 *  3. Commit messages carry exact per-file stats `(part, name, minOffset,
 *     maxOffset, count, bytes)`. The driver groups them by topic and
 *     commits each topic through its own [[PolarBatchWrite]]: one
 *     compare-and-set of the topic metadata registers the files and
 *     advances the tails. A lost CAS rebases this produce's own files onto
 *     the new tails and retries. A declared topic commits even when no row
 *     reached it, so an empty overwrite still replaces and an empty epoch
 *     still records its txn; overwrite, `transactional.id` and `txnSinkId`
 *     need a declared topic. A multi-topic commit is a sequence of
 *     independent topic commits (the reference has no cross-topic
 *     transaction either), journaled first so the retention sweep can
 *     drive a crashed one to all-or-none ([[PolarRoutedWrite.recoverJournals]]).
 *     An abort after a partial commit reclaims only the UNCOMMITTED
 *     topics' files.
 *
 * Streaming epochs commit with the (queryId, epochId) txn per topic, so a
 * replayed epoch is dropped per topic at each CAS authority —
 * exactly-once visibility across failure and replay.
 *
 * At 100 TB: zero listing, zero footer reads, zero renames (the
 * Delta/Iceberg metadata-log pattern); the only data movement is the
 * routing exchange itself, and metadata I/O is O(topics), not O(rows) or
 * O(tasks × partitions).
 */
class PolarRoutedWrite(
    template: RingTemplate,
    schema: StructType,
    maxFileBytes: Long,
    // server-level record-size cap, for topics without max.message.bytes
    defaultMaxMessageSize: Int = graft.log.PolarLog.DefaultMaxMessageSize,
    queryId: String = "",
    txnRetentionMs: Long = PolarWrite.DefaultTxnRetentionMs,
    declared: Option[String] = None,
    txn: Option[(String, Long)] = None,
    // INSERT OVERWRITE: the declared topic's commit replaces its segments
    replaceAll: Boolean = false,
    // producer transaction (transactional.id, fencing epoch): this batch's
    // entries register MARKED; Transactions.commit makes them stable
    producerTxn: Option[(String, Long)] = None)
    extends Write with RequiresDistributionAndOrdering {

  // a declared topic takes every row, so `part` alone places them
  private val keys = (if (declared.isEmpty) Seq("topic") else Nil) :+ "part"

  override def requiredDistribution(): Distribution =
    Distributions.clustered(keys.map(k => Expressions.identity(k): Expression).toArray)

  /** The clustering keys, then the caller's materialized `__oN` order
    * columns — ascending, index order. */
  override def requiredOrdering(): Array[VSortOrder] = {
    val orderCols = schema.fieldNames.filter(_.startsWith("__o"))
      .sortBy(_.stripPrefix("__o").toInt)
    (keys ++ orderCols)
      .map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
      .toArray
  }

  override def toBatch: BatchWrite =
    new PolarRoutedBatchWrite(template, schema, maxFileBytes,
      defaultMaxMessageSize, txn, txnRetentionMs, declared, replaceAll,
      producerTxn)

  /** `writeStream.format("polar")` (micro-batch): Spark applies the same
    * distribution and local sort per epoch. The stable queryId survives
    * restarts (it is the checkpointed stream id), so an epoch replayed
    * after recovery is dropped at the CAS authority. */
  override def toStreaming: StreamingWrite = {
    require(!replaceAll,
      "a stream appends to the log; overwrite is a batch INSERT OVERWRITE")
    require(producerTxn.isEmpty,
      "transactional.id is a batch-produce option; streaming epochs get " +
        "exactly-once visibility from their own (queryId, epochId) txn")
    new PolarRoutedStreamingWrite(template, schema, maxFileBytes,
      defaultMaxMessageSize, if (queryId == null) "" else queryId,
      txnRetentionMs, declared)
  }

  /** SQL-UI observability for produces: segments sealed and records
    * written per task — the write twin of the scan's planned-files/rows
    * metrics. */
  override def supportedCustomMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new PolarSegmentsWrittenMetric, new PolarRecordsWrittenMetric)
}

/** Commit message of a task: its sealed segments, grouped by the topic
  * they belong to. */
final case class PolarRoutedCommitMessage(topicFiles: Map[String, Seq[FileEntry]])
  extends WriterCommitMessage

class PolarRoutedBatchWrite(
    template: RingTemplate,
    schema: StructType,
    maxFileBytes: Long,
    defaultMaxMessageSize: Int,
    txn: Option[(String, Long)],
    txnRetentionMs: Long,
    declared: Option[String] = None,
    replaceAll: Boolean = false,
    producerTxn: Option[(String, Long)] = None) extends BatchWrite {

  // the declared topic's plan-time read: its bases and policy ride the
  // factory, its version is the commit's CAS expectation
  private val declaredWrite = declared.map(t =>
    new PolarBatchWrite(template.topicConfig(t), schema, maxFileBytes, txn,
      txnRetentionMs, replaceAll, producerTxn, defaultMaxMessageSize))
  // topics whose CAS landed — an abort after a partial multi-topic commit
  // must not reclaim THEIR files (they are registered log segments now)
  private val committedTopics = scala.collection.mutable.Set.empty[String]
  // the intent journal written for a multi-topic commit (crash recovery
  // anchor); an in-process FAILURE path deletes it in abort — Spark's
  // abort already resolves that case to the documented partial state
  private var journal: Option[String] = None

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    declaredWrite.fold[DataWriterFactory](new PolarRoutedWriterFactory(
      template, schema, maxFileBytes, defaultMaxMessageSize))(
      _.createBatchWriterFactory(info))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val routed: Map[String, Array[FileEntry]] = messages.flatMap {
      case PolarRoutedCommitMessage(m) => m.toSeq
      case other => throw new IllegalStateException(s"unexpected commit message $other")
    }.groupBy(_._1).map { case (t, vs) => t -> vs.flatMap(_._2) }
    val byTopic = declared.fold(routed)(t =>
      Map(t -> routed.getOrElse(t, Array.empty[FileEntry])))
    // a MULTI-topic fan-out writes the intent journal first: a kill
    // between the per-topic CASes below leaves the journal for the sweep's
    // recovery pass to drive to all-or-none ([[TxnJournal]]); a
    // single-topic commit is one CAS and needs none of this.
    // Batch commits (no streaming txn) stamp a SYNTHETIC (sinkId, 0) txn:
    // each topic's CAS records it in the root doc, so recovery classifies
    // "already committed" from the doc itself — robust against compaction
    // or cleaning renaming the staged entries before recovery runs — and
    // a recovery roll-forward of a topic that actually committed is a
    // no-op through the normal replay check instead of a duplicate.
    val effTxn =
      if (byTopic.size > 1) txn.orElse(Some(
        s"polar-routed-${java.util.UUID.randomUUID().toString.take(12)}" -> 0L))
      else txn
    if (byTopic.size > 1)
      journal = Some(graft.log.TxnJournal.write(template.root,
        byTopic.map { case (t, fs) => t -> fs.toSeq }, effTxn))
    // deterministic commit order; each topic is one independent CAS with
    // the full rebase/retry/idempotence machinery. The heartbeat before
    // each CAS keeps recovery's grace window measured from last PROGRESS,
    // so a long multi-topic commit is not rolled back underneath itself.
    byTopic.toSeq.sortBy(_._1).foreach { case (t, files) =>
      journal.foreach(graft.log.TxnJournal.heartbeat)
      declaredWrite.getOrElse(new PolarBatchWrite(template.topicConfig(t),
        schema, maxFileBytes, effTxn, txnRetentionMs))
        .commit(Array(PolarCommitMessage(files.toSeq)))
      committedTopics += t
    }
    journal.foreach(graft.log.TxnJournal.delete)
    journal = None
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach {
      case PolarRoutedCommitMessage(m) =>
        m.foreach { case (t, files) =>
          if (!committedTopics.contains(t))
            graft.log.PolarLog.quietDelete(files.map(
              _.path(template.topicConfig(t))))
        }
      case _ => ()
    }
    // in-process failure: the uncommitted staged files are gone (above), so
    // the journal has nothing left to drive — the partial state is the
    // documented failure semantics, and recovery must not chew on it
    journal.foreach(graft.log.TxnJournal.delete)
    journal = None
  }
}

object PolarRoutedWrite {

  /** Drive orphaned multi-topic commit journals to a terminal state — the
    * recovery half of [[graft.log.TxnJournal]], run by the retention
    * sweep before vacuum (so staged files outlive their journal).
    *
    * Per journal older than `graceMs` (in-flight commits are protected):
    *  - INCOMPLETE intent (no commit point): the commit died before any
    *    CAS could have run — reclaim the staged files, drop the journal
    *    ("none").
    *  - complete: classify each topic — COMMITTED (every journal entry
    *    registered, or the journal's (sinkId, batchId) txn already
    *    recorded: a streaming replay re-landed it under rebased names),
    *    FORWARDABLE (nothing registered, every staged file still on
    *    disk), or LOST (files gone, never committed). No LOST → roll the
    *    forwardable topics through the normal commit path (rebase, CAS
    *    retries, idempotence) and drop the journal ("all"). Any LOST →
    *    mark the journal `.failed` for the operator — roll-forward is
    *    impossible and unregistering already-visible topics would yank
    *    records readers may have consumed.
    *
    * Returns the number of journals resolved. */
  def recoverJournals(
      template: RingTemplate,
      graceMs: Long,
      nowMs: Long = System.currentTimeMillis()): Int = {
    val conf = graft.log.HadoopConf.shared
    def rm(path: String): Unit = graft.log.PolarLog.quietDelete(Seq(path))
    var resolved = 0
    graft.log.TxnJournal.list(template.root)
      .filter(_.ageAnchorMs <= nowMs - graceMs)
      .foreach { j =>
        try {
          if (!j.complete) {
            j.topics.foreach { case (t, files) =>
              val cfg = template.topicConfig(t)
              files.foreach(f => rm(f.path(cfg)))
            }
            graft.log.TxnJournal.delete(j.path)
            resolved += 1
          } else {
            sealed trait St
            case object Committed extends St
            case object Forwardable extends St
            case object Lost extends St
            val states: Map[String, St] = j.topics.map { case (t, files) =>
              val cfg = template.topicConfig(t)
              val meta = LogMetadata.read(cfg)
              val byTxn = j.txn.exists { case (sid, b) =>
                meta.sinkCommits.get(sid).exists(_ >= b) }
              // a commit that lost a CAS race REBASES: the registered name
              // is `rb<suffix>-<originalName>` and the original file is
              // deleted — still committed, match either spelling
              def holds(f: FileEntry): Boolean =
                meta.filesOf(f.part).exists(e => e.name == f.name ||
                  (e.name.startsWith("rb") && e.name.endsWith(s"-${f.name}")))
              val registered = files.forall(holds)
              lazy val onDisk = files.forall { f =>
                val p = new Path(f.path(cfg))
                try p.getFileSystem(conf).exists(p)
                catch { case _: java.io.IOException => false }
              }
              t -> (if (registered || byTxn) (Committed: St)
                    else if (onDisk) Forwardable else Lost)
            }
            if (!states.valuesIterator.contains(Committed)) {
              // the kill landed before ANY topic's CAS: the job failed from
              // its caller's perspective and a batch re-run carries no
              // idempotence key — roll BACK ("none"), never materialize a
              // batch its owner believes dead
              j.topics.foreach { case (t, files) =>
                val cfg = template.topicConfig(t)
                files.foreach(f => rm(f.path(cfg)))
              }
              graft.log.TxnJournal.delete(j.path)
              resolved += 1
            } else if (states.valuesIterator.contains(Lost)) {
              graft.log.TxnJournal.markFailed(j.path)
            } else {
              states.foreach {
                case (t, Forwardable) =>
                  val cfg = template.topicConfig(t)
                  new PolarBatchWrite(cfg, graft.log.PolarLog.ValueSchema,
                    PolarWrite.DefaultMaxFileBytes, j.txn)
                    .commit(Array(PolarCommitMessage(j.topics(t))))
                case (t, Committed) =>
                  // a replay re-landed this topic under rebased names: the
                  // journal-named duplicates are unregistered orphans
                  val cfg = template.topicConfig(t)
                  val meta = LogMetadata.read(cfg)
                  j.topics(t).filterNot(f =>
                    meta.filesOf(f.part).exists(_.name == f.name))
                    .foreach(f => rm(f.path(cfg)))
                case _ => ()
              }
              graft.log.TxnJournal.delete(j.path)
              resolved += 1
            }
          }
        } catch {
          case scala.util.control.NonFatal(e) =>
            // leave the journal for the next sweep's retry, but say so: a
            // DETERMINISTIC thrower would otherwise be re-chewed forever
            // with zero operator-visible signal
            System.err.println(
              s"[polar] journal recovery failed for ${j.path}: ${e.getMessage}")
        }
      }
    resolved
  }
}

/** The streaming face: each epoch commits per topic with the (queryId,
  * epochId) txn, so replays are dropped per topic at each CAS authority. */
class PolarRoutedStreamingWrite(
    template: RingTemplate,
    schema: StructType,
    maxFileBytes: Long,
    defaultMaxMessageSize: Int,
    queryId: String,
    txnRetentionMs: Long,
    declared: Option[String] = None) extends StreamingWrite {

  // ONE delegate per epoch, shared by commit and abort: after a partially
  // failed multi-topic commit (topic a's CAS landed, topic b threw) the
  // abort MUST see the same committedTopics the commit populated — a
  // fresh delegate would delete topic a's now-REGISTERED segments
  private val delegates =
    scala.collection.concurrent.TrieMap.empty[Long, PolarRoutedBatchWrite]
  private def delegate(epochId: Long): PolarRoutedBatchWrite =
    delegates.getOrElseUpdate(epochId, new PolarRoutedBatchWrite(
      template, schema, maxFileBytes, defaultMaxMessageSize,
      Some((queryId, epochId)), txnRetentionMs, declared))

  // Spark calls this once per micro-batch, so a declared topic's doc is
  // read ONCE PER EPOCH on the driver and its bases and policy ride the
  // serialized factory to every task: at 1,000 partitions × 1 s triggers
  // that is 1 GET/s instead of 1,000/s, and a prop change takes effect at
  // the next epoch. Epochs are serial, so the bases are current as of the
  // previous epoch's commit; an external producer landing mid-epoch is
  // absorbed by the commit-time rebase.
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new PolarRoutedWriterFactory(template, schema, maxFileBytes,
      defaultMaxMessageSize, declared.map(t => Destination.of(t,
        LogMetadata.read(template.topicConfig(t)), defaultMaxMessageSize,
        maxFileBytes)))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // a throw skips the removal, so the delegate (with its committedTopics)
    // is still there when Spark calls abort for this epoch
    delegate(epochId).commit(messages)
    delegates.remove(epochId): Unit
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    delegate(epochId).abort(messages)
    delegates.remove(epochId): Unit
  }
}

class PolarRoutedWriterFactory(
    template: RingTemplate,
    schema: StructType,
    maxFileBytes: Long,
    defaultMaxMessageSize: Int,
    declared: Option[Destination] = None)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new PolarRoutedDataWriter(template, schema, taskId, maxFileBytes,
      defaultMaxMessageSize, declared)
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId)
}

/** One [[PolarDataWriter]] per topic this task writes. A declared topic's
  * writer opens with the task and takes every row; otherwise each row's
  * `topic` names its writer, opened on first encounter from that topic's
  * root doc (a new topic reads as empty — bases all 0 — and is created by
  * the commit). */
class PolarRoutedDataWriter(
    template: RingTemplate,
    schema: StructType,
    taskId: Long,
    maxFileBytes: Long,
    defaultMaxMessageSize: Int = graft.log.PolarLog.DefaultMaxMessageSize,
    declared: Option[Destination] = None)
    extends DataWriter[InternalRow] {

  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[String, PolarDataWriter]

  private def open(d: Destination): PolarDataWriter =
    writers.getOrElseUpdate(d.policy.topic, new PolarDataWriter(
      template.topicConfig(d.policy.topic).dir, schema, d.bases, taskId, d.policy))

  private val only: Option[PolarDataWriter] = declared.map(open)
  private lazy val topicIdx = schema.fieldIndex("topic")

  override def write(row: InternalRow): Unit =
    only.getOrElse(routed(row)).write(row)

  private def routed(row: InternalRow): PolarDataWriter = {
    if (row.isNullAt(topicIdx)) throw new IllegalArgumentException(
      "row-routed produce: the 'topic' column must not be null " +
        "(set a 'topic' write option for a single-topic default)")
    val t = row.getUTF8String(topicIdx).toString
    writers.getOrElse(t, {
      if (!TopicConfig.validTopicName(t)) throw new IllegalArgumentException(
        s"Invalid topic name in 'topic' column: '$t'")
      val cfg = template.topicConfig(t)
      // routed first-encounter CREATES the topic: new names obey the
      // 248-byte creation cap. Existence is the ROOT DOC's (readIfExists),
      // not version == 0: a CREATE TABLE'd never-produced topic sits at
      // version 0 with a doc on disk — a grandfathered long-named one must
      // stay writable, exactly like the HTTP produce surface
      val metaOpt = LogMetadata.readIfExists(cfg)
      if (metaOpt.isEmpty && !TopicConfig.validNewTopicName(t))
        throw new IllegalArgumentException(
          s"Invalid new topic name in 'topic' column: '$t' (max 248 UTF-8 bytes)")
      val meta = metaOpt.getOrElse(LogMetadata.empty(cfg))
      require(meta.clusterSize == cfg.clusterSize &&
          meta.rangesPerToken == cfg.rangesPerToken,
        s"topic $t exists with different ring layout")
      open(Destination.of(t, meta, defaultMaxMessageSize, maxFileBytes))
    })
  }

  override def commit(): WriterCommitMessage =
    PolarRoutedCommitMessage(writers.map { case (t, w) =>
      t -> w.commit().asInstanceOf[PolarCommitMessage].files
    }.toMap)

  override def abort(): Unit = writers.values.foreach(_.abort())

  override def close(): Unit = writers.values.foreach(_.close())

  override def currentMetricsValues():
      Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val per = writers.values.map(_.currentMetricsValues())
    def sum(n: String) = per.iterator.flatten.filter(_.name() == n).map(_.value()).sum
    def m(n: String, v: Long) =
      new org.apache.spark.sql.connector.metric.CustomTaskMetric {
        override def name(): String = n
        override def value(): Long = v
      }
    Array(m("polarSegmentsWritten", sum("polarSegmentsWritten")),
      m("polarRecordsWritten", sum("polarRecordsWritten")))
  }
}
