package graft.sources

import graft.functions.JsonText
import graft.log.{LogMetadata, PolarLog, TopicConfig}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import java.util
import scala.jdk.CollectionConverters._

/**
 * `spark.readStream.format("polar")` / `spark.read.format("polar")` — the
 * DSv2 source over the polar log, the consume side of the reference
 * re-expressed as a Structured Streaming `MicroBatchStream` (SURVEY.md §2
 * A12/A15–A23):
 *
 *  - consumer group ≈ the streaming query's checkpoint (commit log = the
 *    reference's offset state, `internal/consuming/offset_state.go`);
 *  - `startingOffsets` earliest|latest ≈ `onNewGroup` reset policies
 *    (`internal/types/models_offset.go:94-111`);
 *  - `maxRecordsPerTrigger` / `maxBytesPerTrigger` ≈ the group read queue's
 *    `ConsumerReadThreshold` admission control (2 MiB default,
 *    `internal/consuming/group_read_queue.go:87-170`,
 *    `internal/conf/config.go:278-280`);
 *  - `minPartitions` ≈ the Kafka source's option of the same name: hot
 *    log partitions fan out over multiple read tasks (file-granular),
 *    trading the storage-partitioned clustering claim for parallelism;
 *  - planning is PURE METADATA: the topic's file registry carries exact
 *    per-file offset/byte stats, so each trigger plans with zero directory
 *    listings and zero footer reads — the sparse-index seek
 *    (`internal/data/index_file_reader.go:26-77`) collapsed into the
 *    metadata log;
 *  - reads are VECTORIZED parquet (`ColumnarBatch` decode; the analog of
 *    the reference's 8 MiB aligned read-ahead,
 *    `internal/data/segment_reader.go:107-110`). Batch scans deliver
 *    columnar batches into whole-stage codegen; streaming scans deliver
 *    rows off the same vectorized decode, trimmed exactly to the trigger's
 *    offset window.
 *
 * Scale posture: planning is O(files-in-delta) driver-side arithmetic over
 * in-memory metadata; each micro-batch reads only row groups overlapping
 * its offset range (parquet row-group filter from registry bounds);
 * partitions stream independently so a 1000-executor cluster drains all log
 * partitions in parallel.
 */
class PolarTableProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "polar"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PolarSource.FullSchema
  // writes arrive with the PRODUCER schema (partitionKey/timestamp/value —
  // a subset of the consume schema, like Kafka's source vs sink shape) or
  // the full envelope; accepting external metadata lets the write-side
  // table report the incoming schema so AppendData resolves
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PolarTable(PolarSource.configFrom(properties.asScala.toMap), schema)
}

object PolarSource {
  val FullSchema: StructType = PolarLog.ValueSchema
    .add(StructField("part", IntegerType, nullable = false))
    .add(StructField("topic", StringType, nullable = false))

  /** Topic names under `root` whose FULL name matches `pattern` and that
    * carry a metadata doc — one listing of `root`, no data I/O, sorted for
    * determinism. Shared by load-time resolution and the streaming
    * per-trigger refresh. */
  def resolvePattern(root: String, pattern: String): Seq[String] = {
    val re = pattern.r
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(graft.log.HadoopConf.shared)
    if (!fs.exists(rootPath)) Seq.empty
    else fs.listStatus(rootPath).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => re.pattern.matcher(n).matches())
      .filter(n => fs.exists(new Path(s"$root/$n/_polar_metadata.json")))
      .sorted
  }

  def configFrom(opts: Map[String, String]): PolarSourceConfig = {
    def opt(k: String) = opts.collectFirst {
      case (key, v) if key.equalsIgnoreCase(k) => v
    }
    val root = opt("root").getOrElse(
      throw new IllegalArgumentException("polar source requires option 'root'"))
    // one topic (`topic`) or a comma-separated subscription (`topics`) — the
    // reference's consumers register for TOPIC LISTS
    // (/root/reference/internal/types/models.go:34-39); cluster topology
    // (clusterSize × rangesPerToken) is global there, so one partitioning
    // applies to every subscribed topic here too
    // Kafka's `assign` mode: an explicit (topic → partitions) map replaces
    // the subscription — only the named partitions are ever planned
    val assign: Option[Map[String, Set[Int]]] = opt("assign").map { s =>
      val m =
        try JsonText.parseObject(s).properties.asScala.map { e =>
          require(e.getValue.isArray && !e.getValue.isEmpty)
          e.getKey -> e.getValue.elements.asScala.map(JsonText.long).toSet
        }.toMap
        catch { case _: IllegalArgumentException => Map.empty[String, Set[Long]] }
      require(m.nonEmpty && m.values.flatten.forall(p => p >= 0L && p <= Int.MaxValue),
        s"""assign must be a {"topic":[part,...]} map with at least one """ +
          s"partition per topic, got '$s'")
      m.map { case (t, ps) => t -> ps.map(_.toInt) }
    }
    val names = (opt("topic"), opt("topics"), opt("topicPattern")) match {
      case (None, None, None) if assign.isDefined =>
        assign.get.keys.toSeq.sorted
      case _ if assign.isDefined => throw new IllegalArgumentException(
        "'assign' replaces the subscription; do not combine it with " +
          "'topic'/'topics'/'topicPattern'")
      case (Some(t), None, None) => Seq(t)
      case (None, Some(ts), None) =>
        val parsed = ts.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        if (parsed.isEmpty) throw new IllegalArgumentException(
          "option 'topics' must name at least one topic")
        parsed
      // Kafka's pattern subscription: topics under `root` whose FULL name
      // matches the regex, resolved at load from the directories carrying a
      // metadata doc (one listing of `root`, not of any data). Batch scans
      // stay load-time; STREAMS re-resolve the pattern every trigger
      // ([[PolarMicroBatchStream.refreshTopics]]) and admit topics created
      // mid-stream from offset 0 — Kafka's metadata-refresh parity, the
      // reference's live group registration
      // (`/root/reference/internal/consuming/server.go:203-291`).
      case (None, None, Some(pattern)) =>
        val matched = resolvePattern(root, pattern)
        if (matched.isEmpty) throw new IllegalArgumentException(
          s"topicPattern '$pattern' matches no topic under $root")
        matched
      // no subscription at all: READS refuse (at scan build, with the
      // original message); WRITES route per row by a `topic` column —
      // the Kafka writer contract (topic option as default, else column)
      case (None, None, None) => Seq.empty
      case _ => throw new IllegalArgumentException(
        "specify exactly one of 'topic', 'topics', 'topicPattern'")
    }
    val clusterSize = opt("clusterSize").map(_.toInt).getOrElse(3)
    val rangesPerToken = opt("rangesPerToken").map(_.toInt).getOrElse(4)
    PolarSourceConfig(
      names.map(t => TopicConfig(root, t, clusterSize, rangesPerToken)),
      startingOffsets = opt("startingOffsets").getOrElse("latest").toLowerCase,
      maxRecordsPerTrigger = opt("maxRecordsPerTrigger").map(_.toLong),
      minRecordsPerTrigger = opt("minRecordsPerTrigger").map(_.toLong),
      maxTriggerDelayMs = opt("maxTriggerDelayMs").map(_.toLong)
        .getOrElse(15L * 60 * 1000),
      maxBytesPerTrigger = opt("maxBytesPerTrigger").map(_.toLong),
      maxFileBytes = opt("maxFileBytes").map(_.toLong)
        .getOrElse(PolarWrite.DefaultMaxFileBytes),
      maxMessageSize = opt("maxMessageSize").map(_.toInt)
        .getOrElse(graft.log.PolarLog.DefaultMaxMessageSize),
      txn = opt("txnSinkId").map(id => id -> opt("txnBatchId")
        .getOrElse(throw new IllegalArgumentException(
          "txnSinkId requires txnBatchId")).toLong),
      txnRetentionMs = opt("txnRetentionMs").map(_.trim.toLong)
        .getOrElse(PolarWrite.DefaultTxnRetentionMs),
      replaceAll = opt("replaceAll").exists(_.trim.toBoolean),
      failOnDataLoss = opt("failOnDataLoss").forall(_.trim.toBoolean),
      // epoch millis (Kafka's startingTimestamp unit) or an ISO-8601
      // instant; overrides startingOffsets when present
      startingTimestampMicros =
        opt("startingTimestamp").map(graft.log.PolarLog.epochOrIsoMicros),
      endingOffsets = opt("endingOffsets").map(_.trim),
      endingTimestampMicros =
        opt("endingTimestamp").map(graft.log.PolarLog.epochOrIsoMicros),
      versionAsOf = opt("versionAsOf").map(_.trim.toLong),
      // change-feed start: first batch = the (v, head] version window,
      // then the stream follows the live head
      startingVersion = opt("startingVersion").map(_.trim.toLong),
      endingVersion = opt("endingVersion").map(_.trim.toLong),
      topicPattern = opt("topicPattern"),
      minPartitions = opt("minPartitions").map(_.trim.toInt),
      // template carrying (root, ring geometry) for row-routed writes —
      // the only state a per-row-topic write needs before rows arrive
      routedTemplate =
        if (names.isEmpty) Some(graft.log.RingTemplate(root, clusterSize, rangesPerToken))
        else None,
      assign = assign,
      isolation = opt("isolation.level").map(_.trim.toLowerCase)
        .getOrElse("read_uncommitted"),
      // Kafka's transactional.id + the handle's fencing epoch. The epoch
      // is REQUIRED: auto-resolving "the current open epoch" at
      // option-parse time would silently forfeit zombie fencing — a stale
      // writer re-resolving after a fencing begin would pick up the NEW
      // incarnation's epoch and write as if it were the live producer.
      // Only the epoch minted by Transactions.begin (what the Scala
      // PolarLog.produce path always carries) actually fences.
      producerTxn = opt("transactional.id").map { id =>
        id -> opt("transactional.epoch").map(_.trim.toLong).getOrElse(
          throw new IllegalArgumentException(
            s"transactional.id '$id' requires transactional.epoch (the " +
              "fencing epoch Transactions.begin returned); resolving the " +
              "current epoch here would disable zombie fencing"))
      })
  }
}

final case class PolarSourceConfig(
    topics: Seq[TopicConfig],
    startingOffsets: String,
    maxRecordsPerTrigger: Option[Long],
    // batch-efficiency floor (Kafka's minOffsetsPerTrigger/maxTriggerDelay):
    // a trigger with fewer than minRecordsPerTrigger pending SKIPS the
    // batch — at 1,000-partition scale this prevents storms of tiny
    // micro-batches, each paying full task-launch overhead for a handful
    // of records — unless maxTriggerDelayMs has elapsed since the last
    // emitted batch (liveness floor). Ignored under Trigger.AvailableNow
    // (drain semantics), exactly like Kafka's source.
    minRecordsPerTrigger: Option[Long] = None,
    maxTriggerDelayMs: Long = 15L * 60 * 1000,
    maxBytesPerTrigger: Option[Long] = None,
    maxFileBytes: Long = PolarWrite.DefaultMaxFileBytes,
    // write option: the server-level record-size cap every write falls
    // back to for topics without a max.message.bytes prop; the writer
    // enforces it at the append
    maxMessageSize: Int = graft.log.PolarLog.DefaultMaxMessageSize,
    txn: Option[(String, Long)] = None,
    txnRetentionMs: Long = PolarWrite.DefaultTxnRetentionMs,
    // write option: atomic replace (INSERT OVERWRITE's internal relay)
    replaceAll: Boolean = false,
    // Kafka parity: fail the stream when its start offsets point below
    // the log start (head trimmed past unconsumed records); false =
    // resume from the log start and accept the gap
    failOnDataLoss: Boolean = true,
    startingTimestampMicros: Option[Long] = None,
    // Kafka BATCH parity: an explicit per-partition end window,
    // `{"part":offset,...}` (or `{"topic/part":offset}`), sentinel -1 =
    // that partition's tail. Batch-only — a stream always follows the head.
    endingOffsets: Option[String] = None,
    // Kafka BATCH parity: exclusive event-time end — the window stops at
    // each partition's FIRST record with ts >= T (the same record-exact
    // seek as startingTimestamp). Batch-only.
    endingTimestampMicros: Option[Long] = None,
    versionAsOf: Option[Long] = None,
    startingVersion: Option[Long] = None,
    endingVersion: Option[Long] = None,
    // the live-subscription regex (when the source was opened with
    // `topicPattern`): streams re-resolve it per trigger to discover
    // topics created mid-stream; `topics` is the load-time resolution
    topicPattern: Option[String] = None,
    // Kafka-source parity: split hot log partitions into multiple Spark
    // splits (file-granular) until at least this many are planned — a
    // 100 GB backlog on one partition stops being a single-task straggler.
    // Costs the storage-partitioned clustering and ordering claims (a
    // split is no longer one whole partition), which is exactly the
    // trade the option's presence opts into.
    minPartitions: Option[Int] = None,
    // row-routed WRITES (no 'topic' option, a per-row `topic` column):
    // `topics` is empty and this carries the root + ring geometry every
    // routed topic must share. Never set for reads.
    routedTemplate: Option[graft.log.RingTemplate] = None,
    // Kafka `assign` mode: explicit (topic → partitions); only these
    // partitions are planned, counted against read limits, or carried in
    // checkpoints. Whole-topic answers (registry-stat aggregates) refuse.
    assign: Option[Map[String, Set[Int]]] = None,
    // Kafka's `isolation.level`: `read_uncommitted` (default) serves every
    // registered segment including open-transaction ones;
    // `read_committed` resolves producer-transaction marks at planning and
    // caps each partition at its LSO (Transactions.readCommittedView).
    isolation: String = "read_uncommitted",
    // WRITE option (Kafka's transactional.id + producer epoch): this
    // produce stages under an open producer transaction — entries are
    // registered with the txn mark, visible to read_committed only after
    // Transactions.commit.
    producerTxn: Option[(String, Long)] = None) {
  require(isolation == "read_uncommitted" || isolation == "read_committed",
    s"isolation.level must be 'read_uncommitted' or 'read_committed', got '$isolation'")
  // a change feed is version-addressed registry history; an LSO-capped
  // view of a historical window has no coherent meaning (the marks it
  // carried are resolved or gone by now) — refuse instead of guessing
  require(isolation == "read_uncommitted" ||
      (startingVersion.isEmpty && versionAsOf.isEmpty),
    "'isolation.level=read_committed' applies to live reads; version-addressed " +
      "reads (startingVersion/versionAsOf) see the registry as committed at " +
      "that version")
  require(startingVersion.isEmpty || startingTimestampMicros.isEmpty,
    "specify either 'startingVersion' or 'startingTimestamp', not both")
  require(endingVersion.isEmpty || startingVersion.isDefined,
    "'endingVersion' requires 'startingVersion'")
  require(endingVersion.isEmpty || versionAsOf.isEmpty,
    "specify either a change window or 'versionAsOf', not both")
  require(startingVersion.isEmpty || versionAsOf.isEmpty,
    "specify either a change window ('startingVersion') or 'versionAsOf', not both")
  require(endingOffsets.isEmpty || startingVersion.isEmpty,
    "a change window is version-addressed; 'endingOffsets' applies to head/snapshot batch reads")
  require(startingTimestampMicros.isEmpty || versionAsOf.isEmpty,
    "'startingTimestamp' seeks the LIVE head; combine with 'versionAsOf' " +
      "is ambiguous — use a timestamp filter inside the snapshot instead")
  require(endingTimestampMicros.isEmpty || versionAsOf.isEmpty,
    "'endingTimestamp' seeks the LIVE head; combine with 'versionAsOf' " +
      "is ambiguous — use a timestamp filter inside the snapshot instead")
  require(endingTimestampMicros.isEmpty || startingVersion.isEmpty,
    "a change window is version-addressed; 'endingTimestamp' applies to head batch reads")
  require(endingTimestampMicros.isEmpty || endingOffsets.isEmpty,
    "specify either 'endingOffsets' or 'endingTimestamp', not both")
  require(endingTimestampMicros.isEmpty || startingTimestampMicros.isEmpty ||
      startingTimestampMicros.get <= endingTimestampMicros.get,
    "'startingTimestamp' must be <= 'endingTimestamp'")
  // malformed values must refuse, not silently read the full log
  require(startingOffsets == "earliest" || startingOffsets == "latest" ||
      startingOffsets.trim.startsWith("{"),
    s"startingOffsets must be 'earliest', 'latest' or a " +
      s"""{"part":offset} JSON map, got '$startingOffsets'""")
  require(endingOffsets.forall(v =>
      v.trim.startsWith("{") || v.trim.equalsIgnoreCase("latest")),
    s"""endingOffsets must be 'latest' or a {"part":offset} JSON map, """ +
      s"got '${endingOffsets.getOrElse("")}'")
  /** Explicit per-partition batch windows in play — pushes whose
    * arithmetic assumes the full head window (registry-stat aggregates,
    * ts-ordered top-N cuts) must refuse, and the batch reader must trim
    * rows exactly (no residual predicate exists to re-apply). A batch
    * `startingTimestamp` resolves to record-exact start offsets, so it is
    * a window too. */
  def hasExplicitOffsetWindows: Boolean =
    startingOffsets.trim.startsWith("{") ||
      endingOffsets.exists(_.trim.startsWith("{")) ||
      startingTimestampMicros.isDefined ||
      endingTimestampMicros.isDefined
  /** True iff (topic, part) is inside the assignment (or no assignment). */
  def assigned(t: String, p: Int): Boolean =
    assign.forall(_.get(t).exists(_.contains(p)))
  /** Refuse explicit offset maps naming partitions outside `assign` — a
    * bound on an unassigned partition is a user error, never silently
    * dropped. `what` names the offending option in the error. */
  def requireAssigned(keys: Iterable[(String, Int)], what: String): Unit =
    assign.foreach { a =>
      val outside = keys.filterNot { case (t, p) => a.get(t).exists(_.contains(p)) }
      require(outside.isEmpty,
        s"$what names partitions outside 'assign': " +
          outside.map { case (t, p) => s"$t/$p" }.mkString(","))
    }
  /** Owner partitions of `keys` across the subscription: key → murmur3
    * token → owning partition (the reference's leader routing), unioned
    * across keys and topics — the one kernel behind the builder's
    * key-equality pushdown and the runtime-filter narrowing. */
  def ownerParts(keys: Seq[String]): Set[Int] =
    (for (t <- topics; k <- keys) yield
      graft.functions.TokenMath.partitionForToken(
        graft.functions.Murmur3.hashString(k),
        t.clusterSize, t.rangesPerToken)).toSet
  def readCommitted: Boolean = isolation == "read_committed"
  /** The ONE scan-time metadata resolution: versionAsOf snapshot or live
    * head, with the read_committed transaction view applied when asked —
    * every planner hook (stats, splits, streaming tails, agg pushdown)
    * answers from this, so isolation can never disagree between what AQE
    * was told and what gets read. */
  def scanMeta(c: TopicConfig): graft.log.LogMetadata = {
    val m = versionAsOf match {
      case Some(v) => graft.log.LogMetadata.readAt(c, v)
      case None => graft.log.LogMetadata.read(c)
    }
    if (readCommitted) graft.log.Transactions.readCommittedView(c.root, m) else m
  }
  /** The single subscribed topic — write paths and single-topic sugar. */
  def topic: TopicConfig = topics.head
  def byName: Map[String, TopicConfig] = topics.map(c => c.topic -> c).toMap
}

object PolarSourceConfig {
  /** Single-topic constructor (catalog tables, write-side sugar). */
  def apply(
      topic: TopicConfig,
      startingOffsets: String,
      maxRecordsPerTrigger: Option[Long]): PolarSourceConfig =
    PolarSourceConfig(Seq(topic), startingOffsets, maxRecordsPerTrigger)
}

class PolarTable(
    cfg: PolarSourceConfig,
    externalSchema: StructType = null,
    sqlInsertable: Boolean = false,
    // persisted per-topic configs (retention.ms, cleanup.policy) — what
    // SHOW TBLPROPERTIES reports; catalog loadTable threads them in
    tableProps: Map[String, String] = Map.empty)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {
  override def name(): String =
    if (cfg.topics.isEmpty) "polar:<row-routed>"
    else s"polar:${cfg.topics.map(_.topic).mkString(",")}"
  /** The one topic this table addresses, when it addresses exactly one —
    * what single-topic SQL rewrites (MERGE INTO) resolve against. */
  private[graft] def singleTopic: Option[graft.log.TopicConfig] =
    if (cfg.topics.size == 1) Some(cfg.topics.head) else None
  override def properties(): util.Map[String, String] = {
    import scala.jdk.CollectionConverters._
    tableProps.asJava
  }
  override def schema(): StructType =
    if (externalSchema != null && externalSchema.nonEmpty) externalSchema
    else PolarSource.FullSchema
  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_WRITE)
    // native streaming sink for ENVELOPE-schema writes (PolarLog
    // .produceStream builds the envelope; a producer-schema writeStream has
    // no part column to cluster by, and gets a clear capability error
    // pointing there instead of a V1 path that cannot stream)
    if (schema().fieldNames.contains("part"))
      caps.add(TableCapability.STREAMING_WRITE)
    // producer-schema writes (no `part`) route through the V1 sugar shim;
    // declaring V1_BATCH_WRITE unconditionally would force EVERY write —
    // including the envelope BatchWrite — down the V1 path
    if (!schema().fieldNames.contains("part")) caps.add(TableCapability.V1_BATCH_WRITE)
    if (sqlInsertable) {
      // catalog tables: INSERT brings the PRODUCER shape (value [+ key,
      // timestamp]) while the table reports the envelope — accept it and
      // let the write builder route it through produce (offsets are
      // engine-assigned, never client-supplied)
      caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
      caps.add(TableCapability.V1_BATCH_WRITE)
    }
    // INSERT OVERWRITE / mode("overwrite"): atomic replace through the
    // commit CAS (the builder's SupportsTruncate)
    caps.add(TableCapability.TRUNCATE)
    caps
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    if (cfg.topics.isEmpty) throw new IllegalArgumentException(
      "polar reads require option 'topic' (or 'topics'/'topicPattern'); " +
        "only writes may omit it and route rows by a 'topic' column")
    new PolarScanBuilder(cfg)
  }

  /** `DELETE FROM polar.t WHERE partitionKey = 'k' | IN (...)` — the
    * log-native delete: ONE TOMBSTONE (null-value record) is appended per
    * key, exactly a Kafka producer's delete marker. The compacted (KTable)
    * view drops the keys immediately; the raw log keeps every prior offset
    * addressable (replay / time travel are unaffected) until retention or
    * compaction purges them — deletion is a fact appended to the log, not
    * an in-place rewrite, which is what keeps the dense-offset planning
    * arithmetic and O(delta) commits intact at any scale. Non-key
    * predicates are refused loudly (enumerating their keys would be a full
    * scan hidden inside a DELETE). */
  private def tombstoneKeys(f: org.apache.spark.sql.sources.Filter)
      : Option[Set[String]] = f match {
    case org.apache.spark.sql.sources.EqualTo("partitionKey", s: String) =>
      Some(Set(s))
    case org.apache.spark.sql.sources.EqualNullSafe("partitionKey", s: String) =>
      Some(Set(s))
    case org.apache.spark.sql.sources.In("partitionKey", vs)
        if vs.forall(v => v == null || v.isInstanceOf[String]) =>
      // NULL elements never match under IN's three-valued semantics
      Some(vs.collect { case s: String => s }.toSet)
    case _ => None
  }

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter])
      : Boolean =
    cfg.topics.size == 1 && filters.nonEmpty && filters.forall(tombstoneKeys(_).isDefined)

  /** `TRUNCATE TABLE polar.t` — delete-records-to-tail (Kafka
    * `kafka-delete-records` at the tail): every segment drops, producer
    * offsets stay, so the next produce continues the dense numbering and
    * consumer groups / replayed checkpoints never see an offset reused. */
  override def truncateTable(): Boolean = {
    require(cfg.topics.size == 1, "TRUNCATE targets exactly one topic")
    graft.log.PolarLog.truncate(cfg.topics.head)
    true
  }

  // `MERGE INTO polar.t` / `UPDATE polar.t` are NOT implemented as DSv2
  // row-level operations DELIBERATELY: (a) the SQL contract requires
  // column assignments for offset/token/part, which are ENGINE-assigned
  // facts of the append — honoring them would be a lie, ignoring them a
  // silent surprise; (b) mixing in SupportsRowLevelOperations would hijack
  // the working metadata DELETE path (RewriteDeleteFromTable prefers the
  // row-level rewrite over SupportsDelete). Spark's capability error on
  // MERGE/UPDATE is the refusal; the same semantics (compacted view = the
  // table, updates/inserts = produces, deletes = tombstones, history stays
  // addressable) live in `CALL polar.system.merge(topic => 't', source =>
  // 'view')` and [[graft.log.PolarLog.merge]].

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(canDeleteWhere(filters),
      "polar DELETE supports only partitionKey = '<k>' / IN (...) predicates " +
        "(a tombstone per key); rewrite other predicates as key sets, or use " +
        "retention for age-based removal")
    // ANDed predicates intersect; an empty intersection deletes nothing
    val keys = filters.map(tombstoneKeys(_).get).reduce(_ intersect _)
    if (keys.isEmpty) return
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    graft.log.PolarLog.produce(
      keys.toSeq.sorted.toDF("partitionKey").select(
        org.apache.spark.sql.functions.col("partitionKey"),
        org.apache.spark.sql.functions.current_timestamp().as("timestamp"),
        org.apache.spark.sql.functions.lit(null).cast("binary").as("value")),
      cfg.topics.head)
  }

  /** `df.write.format("polar")` — envelope schemas get the real DSv2
    * BatchWrite (commit-time offsets); producer schemas route through
    * [[graft.log.PolarLog.produce]] which builds the envelope and lands in
    * the same BatchWrite. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    if (cfg.topics.size > 1) throw new UnsupportedOperationException(
      "polar writes target exactly one topic (or none, routing by a per-row " +
        "'topic' column); 'topics' is a consume-side subscription")
    new PolarWriteBuilder(cfg, info)
  }
}

/** Scan-time pruning bounds accepted from Catalyst filters: a per-partition
  * offset window plus an optional partition set. The offset seek of the
  * reference's sparse index re-expressed as DSv2 filter pushdown →
  * registry-stat file pruning. */
final case class PolarScanBounds(
    minOffset: Long = 0L,
    maxOffsetExclusive: Long = Long.MaxValue,
    parts: Option[Set[Int]] = None,
    tsMin: Long = Long.MinValue,
    tsMax: Long = Long.MaxValue,
    // LIMIT pushdown: per-partition planned-row cap. Sound because any
    // `limit` rows satisfy a global LIMIT and Spark keeps the Limit node
    // (partial push): capping every partition's window at minOffset+limit
    // still leaves ≥ limit rows whenever the topic has them. Spark only
    // offers the push when no post-scan filters sit under the Limit, so
    // residual predicates can never starve it.
    limit: Option[Int] = None,
    // TOP-N pushdown (partial: Spark keeps the TakeOrdered node, we only
    // shrink what gets PLANNED): `ORDER BY offset|timestamp [DESC] LIMIT n`
    topN: Option[PolarTopN] = None,
    // pushed `partitionKey` equality/IN values — beyond narrowing the
    // partition set, these ride into every split so the parquet reader can
    // drop row groups whose stats/dictionary/bloom exclude all the keys
    // (the second pruning tier of a point lookup: partition-level skip from
    // placement, then file-internal skip from parquet metadata)
    keys: Option[Set[String]] = None)

/** A pushed `ORDER BY <primary> [, …] LIMIT n`, pruned by the PRIMARY sort
  * column alone — sound for any lexicographic tie-break suffix, because
  * every row of the true top-N has a primary value no worse than the N-th
  * best primary value (rows strictly worse can never be admitted). */
final case class PolarTopN(byTimestamp: Boolean, desc: Boolean, n: Int)

private[sources] object TopNPruning {
  /** The sound timestamp cut for an order-based prune: sort files by their
    * WORST guaranteed value in the query's direction (tsMin for DESC,
    * tsMax for ASC — every file proved null-free at push time), accumulate
    * row counts to `n`, return that file's bound. At least `n` rows
    * provably at-or-better than the cut exist, so the N-th best timestamp
    * is at-or-better too — a file wholly past the cut can never reach the
    * top-N and is never planned. None = the log holds fewer than `n` rows
    * (no prune). */
  def tsCut(
      files: Seq[graft.log.FileEntry], desc: Boolean, n: Int): Option[Long] = {
    val admitted = files.filter(_.count > 0)
    val sorted =
      if (desc) admitted.sortBy(f => -f.tsMin) else admitted.sortBy(_.tsMax)
    var acc = 0L
    sorted.iterator.map { f => acc += f.count; (f, acc) }
      .collectFirst { case (f, a) if a >= n =>
        if (desc) f.tsMin else f.tsMax }
  }

  /** True iff a file could still hold top-N rows given the cut — the same
    * predicate `plan()`'s ts-window filter applies after the cut tightens
    * the window. */
  def survives(f: graft.log.FileEntry, desc: Boolean, cut: Long): Boolean =
    if (desc) f.tsMax >= cut else f.tsMin <= cut
}

/** An aggregate the registry can answer exactly with ZERO file I/O. */
private[sources] sealed trait PolarAggSpec
private[sources] case object AggCountStar extends PolarAggSpec
private[sources] case object AggMinOffset extends PolarAggSpec
private[sources] case object AggMaxOffset extends PolarAggSpec
private[sources] case object AggMinTs extends PolarAggSpec
private[sources] case object AggMaxTs extends PolarAggSpec

class PolarScanBuilder(cfg: PolarSourceConfig) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownTopN
    with SupportsPushDownAggregates {
  import org.apache.spark.sql.sources._

  private var bounds = PolarScanBounds()
  private var accepted: Array[Filter] = Array.empty
  private var required: StructType = PolarSource.FullSchema
  private var aggSpecs: Option[(Boolean, Seq[PolarAggSpec])] = None

  /**
   * AGGREGATE PUSHDOWN — the registry answers these exactly, no file I/O:
   * `COUNT(*)` from dense offsets, `MIN/MAX(offset)` from the registry's
   * per-file offset bounds, `MIN/MAX(timestamp)` from per-file event-time
   * stats (exact over non-null values — exactly SQL min/max semantics).
   * `SELECT count(*), max(timestamp) FROM polar.topic` over a 100 TB
   * topic becomes one metadata read. COMPLETE pushdown: the scan emits
   * the single final row. Only offered for unfiltered, un-narrowed scans
   * (our filters always stay residual, which already blocks Spark's
   * aggregate push when any filter exists) and only when every candidate
   * file carries real ts stats (legacy sentinel-stat files refuse the
   * timestamp aggregates rather than answer wrong).
   */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = translateAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    translateAgg(agg) match {
      case some @ Some(_) => aggSpecs = some; true
      case None => false
    }

  private def translateAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(Boolean, Seq[PolarAggSpec])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case n: NamedReference if n.fieldNames().length == 1 =>
        Some(n.fieldNames()(0))
      case _ => None
    }
    // global, or grouped by the log partition (the per-partition ops view:
    // one registry-derived row per partition)
    val byPart = agg.groupByExpressions.toSeq match {
      case Seq() => false
      case Seq(g) if fieldOf(g).contains("part") => true
      case _ => return None
    }
    // change windows / explicit batch windows / narrowed bounds keep the
    // ordinary scan (belt and braces: residual filters already block the
    // push upstream; option windows have no residual at all, so a stats
    // answer would silently ignore them)
    if (cfg.startingVersion.isDefined || cfg.hasExplicitOffsetWindows ||
      bounds != PolarScanBounds()) return None
    // an assignment narrows the readable rows; a registry-stat answer
    // would count the WHOLE topic
    if (cfg.assign.isDefined) return None
    val specs = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => AggCountStar
      case m: Min => fieldOf(m.column()) match {
        case Some("offset") => AggMinOffset
        case Some("timestamp") => AggMinTs
        case _ => return None
      }
      case m: Max => fieldOf(m.column()) match {
        case Some("offset") => AggMaxOffset
        case Some("timestamp") => AggMaxTs
        case _ => return None
      }
      case _ => return None
    }
    if (specs.isEmpty) return None
    // ts aggregates need REAL stats on every file that has rows (memoized:
    // Spark probes supportCompletePushDown then pushAggregation on the
    // same builder — one registry read, not one per planner probe)
    if (specs.exists(s => s == AggMinTs || s == AggMaxTs) && !tsStatsClean)
      return None
    Some((byPart, specs))
  }

  /** True iff every candidate file with rows carries non-sentinel ts
    * stats at push time. Execution re-validates against ITS snapshot
    * ([[PolarAggScan.planInputPartitions]]) — a sentinel commit landing
    * between push and execution must fail loudly, not emit sentinels. */
  private lazy val tsStatsClean: Boolean = {
    val metas = cfg.topics.map(cfg.scanMeta)
    !metas.exists(_.files.exists(f => f.count > 0 &&
      (f.tsMin == Long.MinValue || f.tsMax == Long.MaxValue)))
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve the canonical field order: file columns first, then the
    // derived part/topic columns the reader appends
    required = StructType(PolarSource.FullSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  private def asLong(v: Any): Option[Long] = v match {
    case n: Number => Some(n.longValue())
    case _ => None
  }

  // timestamp literals arrive as java.sql.Timestamp or (java8 datetime
  // API) java.time.Instant — normalize to event-time micros
  private def asMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      Some(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case _ => None
  }

  /** LIMIT n over a topic plans O(n) rows per partition instead of the
    * whole log — `SELECT * FROM polar.t LIMIT 10` on a 100 TB topic reads
    * one file's head per partition. Partial push (returns false): Spark
    * keeps the global Limit, we only shrink what gets planned. */
  override def pushLimit(limit: Int): Boolean = {
    bounds = bounds.copy(limit = Some(
      bounds.limit.fold(limit)(math.min(_, limit))))
    false
  }

  /**
   * TOP-N pushdown — `ORDER BY offset|timestamp [DESC] [, tiebreaks] LIMIT
   * n` shrinks the PLANNED read instead of scanning the topic:
   *
   *  - `offset` order: offsets are dense per partition, so each partition
   *    plans only its first (ASC) or last (DESC) `n` rows — "latest n
   *    records" on a 100 TB topic reads tail segments only, pure window
   *    arithmetic.
   *  - `timestamp` order: registry ts stats yield a sound cut — sort files
   *    by tsMin (DESC; tsMax for ASC), accumulate row counts to `n`; the
   *    N-th best timestamp can be no worse than the cut, so files wholly
   *    on the wrong side of it cannot contribute and are never planned.
   *    Only offered when EVERY non-empty file proves zero null
   *    timestamps (`tsNulls == 0`): nulls live outside the stats range,
   *    and a legacy/unknown file refuses the push rather than risk it.
   *
   * Pruning uses the PRIMARY sort column only (sound for any tie-break
   * suffix — see [[PolarTopN]]); the push is PARTIAL, Spark keeps the
   * TakeOrdered node for exact global order. Offered only on pristine
   * bounds (residual filters already block the offer) and head scans
   * (change feeds keep the ordinary window plan).
   */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    if (cfg.startingVersion.isDefined || bounds != PolarScanBounds() ||
      orders.isEmpty || limit <= 0) return false
    val primary = orders.head.expression() match {
      case n: NamedReference if n.fieldNames().length == 1 => n.fieldNames()(0)
      case _ => return false
    }
    val desc = orders.head.direction() == SortDirection.DESCENDING
    primary match {
      // the ts cut accumulates WHOLE-FILE counts toward n; rows an explicit
      // batch window excludes would still be counted, making the cut too
      // aggressive — the offset variant is window-anchored and stays sound
      case "timestamp" if cfg.hasExplicitOffsetWindows => false
      case "offset" =>
        bounds = bounds.copy(topN = Some(PolarTopN(byTimestamp = false, desc, limit)))
        true
      case "timestamp" =>
        val provenNullFree = cfg.topics.forall { c =>
          cfg.scanMeta(c).filesByPart.valuesIterator.flatten.forall(f =>
            f.count == 0 || (f.tsNulls == 0 && f.tsMin != Long.MinValue))
        }
        if (!provenNullFree) return false
        bounds = bounds.copy(topN = Some(PolarTopN(byTimestamp = true, desc, limit)))
        true
      case _ => false
    }
  }

  override def isPartiallyPushed(): Boolean = true

  /** Narrow the partition set to the owners of `keys` — union across keys
    * and (for multi-topic subscriptions with differing ring sizes) across
    * topics; the per-topic file pruner intersects with each topic's own
    * partitions, so a union is always a sound superset. An empty key list
    * (e.g. `IN (NULL)`) matches nothing → empty partition set. */
  private def pushKeyParts(keys: Seq[String]): Unit = {
    val ps = cfg.ownerParts(keys)
    val ks = keys.toSet
    bounds = bounds.copy(
      parts = Some(bounds.parts.fold(ps)(_ intersect ps)),
      // ANDed key predicates intersect: a row can only satisfy both
      keys = Some(bounds.keys.fold(ks)(_ intersect ks)))
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter {
      case GreaterThanOrEqual("offset", v) => asLong(v).exists { n =>
        bounds = bounds.copy(minOffset = math.max(bounds.minOffset, n)); true }
      case GreaterThan("offset", v) => asLong(v).exists { n =>
        // n+1 would wrap at Long.MaxValue; offset > MaxValue is the empty set,
        // which minOffset = MaxValue (an empty [MaxValue, end) window) encodes
        val lo = if (n == Long.MaxValue) Long.MaxValue else n + 1
        bounds = bounds.copy(minOffset = math.max(bounds.minOffset, lo)); true }
      case LessThan("offset", v) => asLong(v).exists { n =>
        bounds = bounds.copy(maxOffsetExclusive = math.min(bounds.maxOffsetExclusive, n)); true }
      case LessThanOrEqual("offset", v) => asLong(v).exists { n =>
        // <= MaxValue is a tautology: accept without narrowing (n+1 wraps)
        if (n != Long.MaxValue)
          bounds = bounds.copy(maxOffsetExclusive = math.min(bounds.maxOffsetExclusive, n + 1))
        true }
      case EqualTo("part", v) => asLong(v).exists { n =>
        val s = Set(n.toInt)
        bounds = bounds.copy(parts = Some(bounds.parts.fold(s)(_ intersect s)))
        true }
      // key-equality data skipping: placement is deterministic (key →
      // murmur3 token → owning partition — the reference's leader routing,
      // `discoverer.go`), so records with partitionKey = k can ONLY live in
      // k's owning partition. A point lookup over a 100 TB topic plans
      // 1/numPartitions of the data with zero file I/O; the exact predicate
      // stays residual, so null-key records (placed by synthetic token,
      // possibly in the same partition) never leak through.
      case EqualTo("partitionKey", v: String) => pushKeyParts(Seq(v)); true
      case EqualNullSafe("partitionKey", v: String) => pushKeyParts(Seq(v)); true
      case In("partitionKey", vs) if vs.forall(v => v == null || v.isInstanceOf[String]) =>
        // null elements never match under IN's three-valued semantics —
        // pruning by the non-null keys' owners is exact
        pushKeyParts(vs.collect { case s: String => s }.toSeq)
        true
      case In("part", vs) =>
        val ns = vs.flatMap(asLong).map(_.toInt).toSet
        bounds = bounds.copy(parts = Some(bounds.parts.fold(ns)(_ intersect ns)))
        true
      // event-time window: prunes whole segments via the registry's
      // per-file ts stats (the time-range analog of the offset seek).
      // Saturating bounds; the exact predicate is always re-applied by
      // Spark as a residual, so null/edge semantics stay exact.
      case GreaterThanOrEqual("timestamp", v) => asMicros(v).exists { n =>
        bounds = bounds.copy(tsMin = math.max(bounds.tsMin, n)); true }
      case GreaterThan("timestamp", v) => asMicros(v).exists { n =>
        val lo = if (n == Long.MaxValue) n else n + 1
        bounds = bounds.copy(tsMin = math.max(bounds.tsMin, lo)); true }
      case LessThanOrEqual("timestamp", v) => asMicros(v).exists { n =>
        bounds = bounds.copy(tsMax = math.min(bounds.tsMax, n)); true }
      case LessThan("timestamp", v) => asMicros(v).exists { n =>
        val hi = if (n == Long.MinValue) n else n - 1
        bounds = bounds.copy(tsMax = math.min(bounds.tsMax, hi)); true }
      case EqualTo("timestamp", v) => asMicros(v).exists { n =>
        bounds = bounds.copy(
          tsMin = math.max(bounds.tsMin, n), tsMax = math.min(bounds.tsMax, n))
        true }
      case _ => false
    }
    // everything stays residual: pruning is file/row-group-granular, Spark
    // re-applies the exact predicates on the rows we do return
    filters
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan = aggSpecs match {
    case Some((byPart, specs)) => new PolarAggScan(cfg, byPart, specs)
    case None => new PolarScan(cfg, bounds, required)
  }
}

/** The completely-pushed-aggregate scan: metadata-derived rows (one
  * global row, or one per log partition under GROUP BY part), zero file
  * I/O, zero shuffles — the physical plan for `SELECT count(*),
  * min/max(offset), min/max(timestamp) FROM topic [GROUP BY part]`. */
class PolarAggScan(
    cfg: PolarSourceConfig,
    byPart: Boolean,
    specs: Seq[PolarAggSpec]) extends Scan {

  override def readSchema(): StructType = {
    val aggFields = specs.zipWithIndex.map {
      case (AggCountStar, i) => StructField(s"agg$i", LongType, nullable = false)
      case (AggMinOffset | AggMaxOffset, i) => StructField(s"agg$i", LongType)
      case (AggMinTs | AggMaxTs, i) => StructField(s"agg$i", TimestampType)
    }
    StructType(
      (if (byPart) Seq(StructField("part", IntegerType, nullable = false))
       else Seq.empty) ++ aggFields)
  }

  override def description(): String =
    s"PolarAggScan(${cfg.topics.map(_.dir).mkString(",")}, " +
      (if (byPart) "groupBy=part, " else "") + s"pushed=${specs.mkString(",")})"

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val metas = cfg.topics.map(cfg.scanMeta)
      def rowFor(files: Seq[graft.log.FileEntry]): Array[java.lang.Long] = {
        // READABLE rows (registry file counts) — NOT producer tails, which
        // also count retention-trimmed rows no scan would return
        def opt(vs: Seq[Long], max: Boolean): java.lang.Long =
          if (vs.isEmpty) null
          else java.lang.Long.valueOf(if (max) vs.max else vs.min)
        specs.map {
          case AggCountStar => java.lang.Long.valueOf(files.map(_.count).sum)
          case AggMinOffset => opt(files.map(_.minOffset), max = false)
          case AggMaxOffset => opt(files.map(_.maxOffset), max = true)
          case AggMinTs => opt(files.map(_.tsMin), max = false)
          case AggMaxTs => opt(files.map(_.tsMax), max = true)
        }.toArray
      }
      val all = metas.flatMap(_.files).filter(_.count > 0)
      // re-validate the push-time no-sentinel invariant against THIS
      // snapshot: planInputPartitions re-reads the registry, and a commit
      // with sentinel ts stats (e.g. a legacy writer) landing between push
      // and execution would otherwise surface Long.MinValue/MaxValue as
      // real timestamps — fail loudly instead
      if (specs.exists(s => s == AggMinTs || s == AggMaxTs) &&
          all.exists(f => f.tsMin == Long.MinValue || f.tsMax == Long.MaxValue))
        throw new IllegalStateException(
          "pushed min/max(timestamp) aggregate hit a file with sentinel ts " +
            "stats committed after planning; re-run the query (the push " +
            "will be refused) or CALL polar.system.analyze(topic) to " +
            "backfill stats")
      if (byPart)
        // only partitions with READABLE rows form groups (a group with no
        // rows does not exist in SQL semantics)
        Array(PolarAggPartition(all.groupBy(_.part).toSeq.sortBy(_._1).map {
          case (p, fs) => (Integer.valueOf(p), rowFor(fs))
        }))
      else Array(PolarAggPartition(Seq((null, rowFor(all)))))
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new PartitionReaderFactory {
        override def createReader(p: InputPartition): PartitionReader[InternalRow] =
          new PartitionReader[InternalRow] {
            private val it = p.asInstanceOf[PolarAggPartition].rows.iterator
            private var current: InternalRow = _
            override def next(): Boolean = it.hasNext && {
              val (part, vals) = it.next()
              val longs = vals.map(v =>
                if (v == null) null else v.longValue(): Any)
              current = new GenericInternalRow(
                if (part == null) longs
                else (part.intValue(): Any) +: longs)
              true
            }
            override def get(): InternalRow = current
            override def close(): Unit = ()
          }
      }
  }
}

final case class PolarAggPartition(
    rows: Seq[(Integer, Array[java.lang.Long])]) extends InputPartition

class PolarScan(
    cfg: PolarSourceConfig,
    private var bounds: PolarScanBounds = PolarScanBounds(),
    required: StructType = PolarSource.FullSchema)
    extends Scan with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning
    with SupportsReportOrdering {
  override def readSchema(): StructType = required

  /** The scan's output IS sorted `(part, offset)` within every split: a
    * split is ONE log partition (`part` constant), its files are planned
    * in minOffset order and read sequentially, and offsets are dense and
    * ascending inside files — so any per-partition log computation
    * (window lag/lead/session reconstruction OVER (PARTITION BY part
    * ORDER BY offset)) plans with NO SortExec at all when the
    * storage-partitioned clustering is in play: at 100 TB the sort that
    * usually dominates sessionization simply disappears. Only reported
    * when both columns survive pruning (the orders must resolve in the
    * scan output). */
  // NOTE: the ordering claim survives `minPartitions` — a sub-split is a
  // contiguous offset run of one partition, still (part, offset) sorted.
  override def outputOrdering(): Array[
      org.apache.spark.sql.connector.expressions.SortOrder] =
    if (required.fieldNames.contains("part") &&
      required.fieldNames.contains("offset"))
      Array(
        Expressions.sort(Expressions.column("part"),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING),
        Expressions.sort(Expressions.column("offset"),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
    else Array.empty

  /** The scan's output IS clustered by `part` (one split per log
    * partition, `HasPartitionKey` on every split): with
    * `spark.sql.sources.v2.bucketing.enabled` Spark keeps part-keyed
    * aggregations and co-partitioned topic⋈topic joins exchange-free —
    * the storage-partitioned-join shape. Only reported when `part`
    * survives column pruning (the key must resolve in the scan output). */
  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    if (!required.fieldNames.contains("part"))
      return new org.apache.spark.sql.connector.read.partitioning
        .UnknownPartitioning(0)
    // multi-topic subscriptions contribute DISTINCT splits with the SAME
    // part key (one per topic); Spark only groups duplicate partition keys
    // under v2.bucketing, and the co-partitioned-join gate exercises
    // single-topic scans — report unknown rather than a clustering claim
    // the splits don't honor
    if (cfg.topics.size > 1)
      return new org.apache.spark.sql.connector.read.partitioning
        .UnknownPartitioning(0)
    // `minPartitions` splits a log partition across MULTIPLE splits — the
    // one-split-per-part claim (and with it SPJ) is exactly what the
    // option trades away for read parallelism
    if (cfg.minPartitions.isDefined)
      return new org.apache.spark.sql.connector.read.partitioning
        .UnknownPartitioning(0)
    // distinct planned (part) groups under the current bounds — metadata
    // arithmetic only, consistent with planInputPartitions
    val n = cfg.topics.iterator.flatMap { c =>
      val meta = metasSnapshot(c.topic)
      meta.filesByPart.collect {
        case (p, files) if bounds.parts.forall(_.contains(p)) &&
          cfg.assigned(c.topic, p) && files.nonEmpty => p
      }
    }.toSet.size
    new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
      Array(Expressions.identity("part")), math.max(n, 1))
  }

  /** Runtime (dynamic) partition pruning: a join whose key is `part` or
    * `partitionKey` delivers its build-side values here before this scan
    * plans — IN-sets on `part` intersect the planned partitions directly;
    * IN-sets on `partitionKey` map through the placement kernel to the
    * owning partitions (same soundness as the static pushdown: placement
    * is total, the join re-filters rows). Best-effort by contract, so
    * unrecognized runtime predicates are ignored, never wrong. At 100 TB
    * this is the fact-side prune for star joins against a topic: only the
    * partitions holding the dimension's matched keys are read. */
  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] =
    // only attributes surviving column pruning: Spark resolves these
    // against the scan OUTPUT, and an unresolvable ref is an analysis
    // error, not a skipped optimization
    Array("part", "partitionKey").filter(required.fieldNames.contains)
      .map(Expressions.column)

  override def filter(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    def narrow(ps: Set[Int]): Unit =
      bounds = bounds.copy(parts = Some(bounds.parts.fold(ps)(_ intersect ps)))
    filters.foreach {
      case In("part", vs) =>
        narrow(vs.collect { case n: Number => n.intValue() }.toSet)
      case EqualTo("part", n: Number) => narrow(Set(n.intValue()))
      case In("partitionKey", vs) if vs.forall(v => v == null || v.isInstanceOf[String]) =>
        narrow(cfg.ownerParts(vs.collect { case s: String => s }.toSeq))
      case EqualTo("partitionKey", s: String) => narrow(cfg.ownerParts(Seq(s)))
      case _ => () // best-effort: unpruned partitions are join-filtered anyway
    }
  }

  /** EXACT statistics from the registry — rows are dense offsets, bytes
    * are per-file stats, both narrowed to the pushed offset/timestamp/
    * partition bounds. Catalyst's join planning and AQE see a polar
    * topic's true cardinality (a small dimension topic broadcasts
    * instead of shuffling the fact side) at zero I/O cost: no listing,
    * no footer reads, no sampling — the payoff of keeping exact stats in
    * the metadata log. */
  /** ONE metadata snapshot per scan: statistics, output partitioning and
    * the planned splits all answer from the SAME version — no coherence
    * gap between what AQE was told and what gets read, and an object
    * store sees one metadata GET per topic, not one per planner hook. */
  private lazy val metasSnapshot: Map[String, LogMetadata] =
    cfg.topics.map(c => c.topic -> cfg.scanMeta(c)).toMap

  /** The resolved change window per topic (startingVersion reads),
    * memoized for the same reason. */
  private lazy val windowSnapshot
      : Option[(LogMetadata, Map[Int, Long], Map[Int, Long])] =
    cfg.startingVersion.map(v =>
      PolarLog.changeWindow(cfg.topics.head, v, cfg.endingVersion))

  /** The pushed LIMIT cap ANCHORED AT a partition's actual planned start
    * offset (saturating). Planned windows need not start at 0 — a
    * `startingVersion` change feed starts at the from-version tails, and
    * retention leaves surviving segments with min offsets > 0 — so a cap
    * anchored at the global pushed `minOffset` (usually 0) could fall
    * BELOW the window start and plan zero rows for a topic that has
    * plenty. Capping at `start + limit` per partition is always sound:
    * any `limit` rows satisfy a global LIMIT (Spark keeps the Limit
    * node — partial push). */
  private def limitCapFrom(start: Long): Long = bounds.limit match {
    case Some(l) => if (start > Long.MaxValue - l) Long.MaxValue else start + l
    case None => Long.MaxValue
  }

  // Kafka BATCH parity: explicit per-partition windows. `startingOffsets`
  // shapes a batch scan only as an explicit JSON map — the "latest" stream
  // default would make every batch read empty, so policy words keep their
  // stream meaning and batch defaults to the full log. Per-partition
  // sentinels: -2 = earliest, -1 = that partition's tail. Partitions the
  // map doesn't name keep the default (earliest start / tail end).
  private lazy val startOverride: Map[(String, Int), Long] =
    if (cfg.startingOffsets.trim.startsWith("{")) {
      val explicit = PolarOffsets.parse(cfg.startingOffsets, cfg.topics.head.topic).tails
      cfg.requireAssigned(explicit.keys, "startingOffsets")
      explicit
    } else cfg.startingTimestampMicros match {
      // batch `startingTimestamp` (Kafka parity): the record-exact seek —
      // registry ts stats pick each partition's candidate file, ONE
      // bounded read refines to the first record with ts >= T; the same
      // kernel the stream's initial offset uses, here as the scan's
      // per-partition start window (exact via the trimming reader)
      case Some(t) =>
        val spark = org.apache.spark.sql.SparkSession.active
        cfg.topics.flatMap { c =>
          graft.log.PolarLog.offsetsForTimestamp(spark, c, t).map {
            case (p, o) => (c.topic, p) -> o
          }
        }.toMap
      case None => Map.empty
    }
  private lazy val endOverride: Map[(String, Int), Long] =
    cfg.endingOffsets.map(_.trim).filter(_.startsWith("{"))
      .map { s =>
        val explicit = PolarOffsets.parse(s, cfg.topics.head.topic).tails
        // same refusal as startOverride: a bound on an unassigned
        // partition must not be silently dropped
        cfg.requireAssigned(explicit.keys, "endingOffsets")
        explicit
      }
      .getOrElse(cfg.endingTimestampMicros match {
        // exclusive event-time END: the window stops at each partition's
        // first record with ts >= T — the same seek kernel, used as
        // maxOffsetExclusive (Kafka's endingTimestamp semantics)
        case Some(t) =>
          val spark = org.apache.spark.sql.SparkSession.active
          cfg.topics.flatMap { c =>
            graft.log.PolarLog.offsetsForTimestamp(spark, c, t).map {
              case (p, o) => (c.topic, p) -> o
            }
          }.toMap
        case None => Map.empty
      })
  private def resolveSentinel(o: Long, tail: Long, logStart: Long): Long =
    // -2 = earliest resolves to the TRUE log start (a retention-trimmed
    // head is not data loss, Kafka's logStartOffset distinction) — a
    // literal 0 below logStart would trip failOnDataLoss spuriously
    if (o == -2L) logStart else if (o == -1L) tail
    else { require(o >= 0, s"offset must be >= 0 or a -1/-2 sentinel, got $o"); o }

  /** First actual row offset at or after `base` in offset-sorted `files` —
    * the anchor for the per-partition LIMIT cap (dense offsets inside
    * files; gaps only before the first surviving file after retention). */
  private def firstRowAtOrAfter(
      files: Vector[graft.log.FileEntry], base: Long): Long =
    files.find(_.maxOffset >= base)
      .map(f => math.max(base, f.minOffset)).getOrElse(base)

  /** Head-scan per-partition offset windows plus the effective event-time
    * window, with the pushed LIMIT and TOP-N folded in — ONE computation
    * feeding both statistics and planning (stats == plan).
    * Offset-ordered TOP-N turns into window arithmetic on the dense
    * offsets (ASC: first `n` past each partition's first surviving row;
    * DESC: the last `n` before the tail); timestamp-ordered TOP-N turns
    * into a tightened ts window from [[tsCutFrom]]. */
  private def headWindows(metas: Map[String, LogMetadata])
      : (Map[(String, Int), (Long, Long)], (Long, Long)) = {
    def satAdd(a: Long, b: Int): Long =
      if (a > Long.MaxValue - b) Long.MaxValue else a + b
    val wins = metas.flatMap { case (t, m) =>
      m.producerOffsets.zipWithIndex
        .filter { case (_, p) => cfg.assigned(t, p) }
        .map { case (tail, p) =>
        // explicit batch windows clamp BEFORE the limit anchor: the
        // per-partition LIMIT cap must count from the window's own first
        // surviving row, not the global pushed minOffset
        val loBase = math.max(bounds.minOffset,
          startOverride.get((t, p))
            .map(resolveSentinel(_, tail, m.logStart(p))).getOrElse(0L))
        val effStart = firstRowAtOrAfter(m.filesOf(p), loBase)
        // row-COUNT arithmetic (LIMIT cap, offset-ordered TOP-N) equates
        // offsets with rows — only valid while every file is offset-DENSE.
        // Key compaction (cleanup.policy=compact) leaves sparse survivors,
        // where "first n offsets" can hold fewer than n rows; fall back to
        // the uncapped window there (Spark keeps the Limit/TakeOrdered
        // node, so looser planning is never wrong, only bigger)
        val dense = m.filesOf(p).forall(_.dense)
        var lo = loBase
        var hi = math.min(tail, math.min(
          endOverride.get((t, p)).map(resolveSentinel(_, tail, m.logStart(p)))
            .getOrElse(Long.MaxValue),
          math.min(bounds.maxOffsetExclusive,
            if (dense) limitCapFrom(effStart) else Long.MaxValue)))
        bounds.topN match {
          case Some(PolarTopN(false, false, n)) if dense =>
            hi = math.min(hi, satAdd(effStart, n))
          case Some(PolarTopN(false, true, n)) if dense =>
            lo = math.max(lo, hi - n)
          case _ => ()
        }
        (t, p) -> (lo, hi)
      }
    }
    val tsWin = bounds.topN match {
      case Some(PolarTopN(true, desc, n)) => tsCutFrom(metas, desc, n) match {
        case Some(c) if desc => (math.max(bounds.tsMin, c), bounds.tsMax)
        case Some(c) => (bounds.tsMin, math.min(bounds.tsMax, c))
        case None => (bounds.tsMin, bounds.tsMax)
      }
      case _ => (bounds.tsMin, bounds.tsMax)
    }
    (wins, tsWin)
  }

  private def tsCutFrom(
      metas: Map[String, LogMetadata], desc: Boolean, n: Int): Option[Long] = {
    val files = (for {
      (t, m) <- metas.iterator
      (p, fs) <- m.filesByPart.iterator
      if bounds.parts.forall(_.contains(p)) && cfg.assigned(t, p)
      f <- fs
    } yield f).toVector
    // RE-validate the push-time null-free proof against THIS snapshot: a
    // commit landing between push and plan can add a file with null (or
    // sentinel-stat) timestamps — nulls sort into the true top-N (ASC,
    // NULLS FIRST), so a cut computed over such a snapshot could prune
    // them away. Dropping the cut only loosens (Spark keeps the
    // TakeOrdered node) — the aggregate path THROWS for its equivalent
    // race because its pruning changes answers; here looser is correct.
    if (files.exists(f =>
        f.count > 0 && (f.tsNulls != 0 || f.tsMin == Long.MinValue))) None
    else TopNPruning.tsCut(files, desc, n)
  }

  override def estimateStatistics(): Statistics = {
    var rows = 0L
    var bytes = 0L
    def admit(f: graft.log.FileEntry, lo0: Long, hiExclusive: Long,
        tsLo: Long, tsHi: Long): Unit = {
      val lo = math.max(lo0, f.minOffset)
      val hi = math.min(hiExclusive - 1, f.maxOffset)
      if (lo <= hi && f.tsMax >= tsLo && f.tsMin <= tsHi) {
        val n = hi - lo + 1
        rows += n
        // pro-rate bytes by the admitted offset span of the file
        bytes += math.max(1L, f.bytes * n / math.max(1L, f.count))
      }
    }
    windowSnapshot match {
      // change-window reads narrow to the (from, to] per-partition offset
      // windows — the stats stay EXACT for CDF batches too
      case Some((meta, startsM, endsM)) =>
        meta.filesByPart.foreach { case (p, files) =>
          // same admission the plan applies: `assign` mode excludes
          // unassigned partitions from the stats too (stats == plan — an
          // overcount here mis-sizes AQE/join planning)
          if (bounds.parts.forall(_.contains(p)) &&
              cfg.assigned(cfg.topics.head.topic, p)) {
            val winLo = math.max(bounds.minOffset, startsM.getOrElse(p, 0L))
            val winHi = endsM.getOrElse(p, 0L)
            // the LIMIT cap anchors at this partition's first actual row,
            // the same rule planInputPartitions applies (stats == plan)
            val effStart = firstRowAtOrAfter(files, winLo)
            val hiEx = math.min(winHi,
              math.min(bounds.maxOffsetExclusive,
                if (files.forall(_.dense)) limitCapFrom(effStart)
                else Long.MaxValue))
            files.foreach(admit(_, winLo, hiEx, bounds.tsMin, bounds.tsMax))
          }
        }
      case None =>
        val metas = metasSnapshot
        val (wins, (tsLo, tsHi)) = headWindows(metas)
        metas.foreach { case (t, m) =>
          m.filesByPart.foreach { case (p, files) =>
            // wins carries only assigned partitions — absent key = skip
            if (bounds.parts.forall(_.contains(p)))
              wins.get((t, p)).foreach { case (lo, hiEx) =>
                files.foreach(admit(_, lo, hiEx, tsLo, tsHi))
              }
          }
        }
    }
    val r = rows
    val b = bytes
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(b)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(r)
    }
  }
  override def description(): String =
    s"PolarScan(${cfg.topics.map(_.dir).mkString(",")}, offsets=[${bounds.minOffset}," +
      s"${bounds.maxOffsetExclusive}), parts=${bounds.parts.getOrElse("all")}, " +
      s"ts=[${bounds.tsMin},${bounds.tsMax}], " +
      bounds.keys.fold("")(ks => s"keys=${ks.size}, ") +
      bounds.limit.fold("")(l => s"limit=$l, ") +
      bounds.topN.fold("")(t => s"topn=${t.n} by " +
        (if (t.byTimestamp) "timestamp" else "offset") +
        (if (t.desc) " desc, " else ", ")) +
      s"ReadSchema=${required.fieldNames.mkString(",")})"

  /** SQL-UI observability: per-scan totals of registry files planned and
    * dense-offset rows admitted — the numbers an operator reads to confirm
    * pruning actually pruned (a key-pushdown point lookup should show
    * files ≈ 1/numPartitions of the topic). Zero-cost: both are metadata
    * already carried by every input partition. */
  override def supportedCustomMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new PolarFilesPlannedMetric, new PolarRowsPlannedMetric,
      new PolarRowsDecodedMetric)

  override def toBatch: Batch = new Batch {
    // planned ONCE per scan: Spark calls planInputPartitions and the
    // alignment probe in createReaderFactory both read this — previously
    // the probe re-ran the whole planning pass (a second registry walk on
    // every batch scan)
    private lazy val plannedSplits: Array[InputPartition] = doPlan()
    override def planInputPartitions(): Array[InputPartition] = plannedSplits
    private def doPlan(): Array[InputPartition] = {
      // BATCH CHANGE FEED (Delta CDF parity): `startingVersion`
      // [+ `endingVersion`] plans exactly the (from, to] per-partition
      // offset windows against the toVersion snapshot's own registry,
      // with dense coverage validated (a swept window fails loudly) —
      // `PolarLog.changesBetween` as read options
      if (cfg.startingVersion.isDefined) {
        if (cfg.topics.size > 1) throw new UnsupportedOperationException(
          "startingVersion batch reads target exactly one topic " +
            "(versions are per-topic)")
        require(startOverride.isEmpty,
          "a change window is version-addressed; explicit 'startingOffsets' " +
            "maps apply to head/snapshot batch reads")
        val c = cfg.topics.head
        val (toMeta, startsM, endsM) = windowSnapshot.get
        // the LIMIT cap anchors at each partition's window start (the
        // from-version tail), NOT at the global pushed minOffset: a
        // change feed's windows start far from 0
        val starts = startsM.map { case (p, o) =>
          p -> math.max(o, bounds.minOffset) }
        val start = PolarOffsets(starts.map { case (p, o) => (c.topic, p) -> o })
        val end = PolarOffsets(endsM.map { case (p, o) =>
          (c.topic, p) -> math.min(o, math.min(bounds.maxOffsetExclusive,
            if (toMeta.filesOf(p).forall(_.dense))
              limitCapFrom(starts.getOrElse(p, 0L))
            else Long.MaxValue)) })
        return PolarMicroBatchStream.plan(cfg.byName, Map(c.topic -> toMeta),
          start, end, bounds.parts, tsWindow = Some((bounds.tsMin, bounds.tsMax)),
          minPartitions = cfg.minPartitions, keys = bounds.keys,
          assign = cfg.assign)
      }
      // versionAsOf plans against the retained root snapshot (time
      // travel); offsets/tails come from that version's doc, so the scan
      // is a consistent point-in-time view of the log. The per-partition
      // windows fold in the LIMIT cap (anchored at each partition's FIRST
      // SURVIVING row, never the global pushed minOffset) and any pushed
      // TOP-N — the same arithmetic estimateStatistics used.
      val metas = metasSnapshot
      val (wins, tsWin) = headWindows(metas)
      val start = PolarOffsets(wins.map { case (k, (lo, _)) => k -> lo })
      val end = PolarOffsets(wins.map { case (k, (_, hi)) => k -> hi })
      val planned = PolarMicroBatchStream.plan(cfg.byName, metas, start, end,
        bounds.parts, tsWindow = Some(tsWin), minPartitions = cfg.minPartitions,
        keys = bounds.keys, assign = cfg.assign)
      // outputPartitioning claims one split per part key (KeyGrouped) only
      // for single-topic, non-fanned-out scans — assert the invariant the
      // claim rests on, so a future sub-splitting path cannot silently
      // break storage-partitioned joins
      if (cfg.topics.size == 1 && cfg.minPartitions.isEmpty) {
        val parts = planned.map(_.asInstanceOf[PolarInputPartition].part)
        require(parts.distinct.length == parts.length,
          s"duplicate part keys across splits under a KeyGrouped claim: " +
            parts.mkString(","))
      }
      planned
    }
    // batch scans deliver COLUMNAR: bounds are residual-filtered by Spark,
    // so row-group-granular delivery is exact by construction
    override def createReaderFactory(): PartitionReaderFactory = {
      // explicit windows cut mid-file with NO residual predicate for Spark
      // to re-apply — those need row-level trimming. But Spark requires
      // every split of one scan to agree on columnar-ness, so the decision
      // is scan-wide: when every planned window happens to align with its
      // file boundaries (sentinels, whole-file cutoffs), whole-file
      // columnar delivery is already exact and the fast path is kept.
      def aligned = plannedSplits.forall { ip =>
        val s = PolarInputPartition.unwrap(ip)
        s.files.isEmpty || (s.startOffset <= s.files.head.minOffset &&
          s.endOffset > s.files.last.maxOffset)
      }
      if (!cfg.hasExplicitOffsetWindows || aligned)
        new PolarReaderFactory(required, columnar = true)
      else
        new PolarTrimmingReaderFactory(required)
    }
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    if (cfg.versionAsOf.isDefined) throw new UnsupportedOperationException(
      "versionAsOf is a batch time-travel option; a stream always follows the live head")
    if (cfg.endingOffsets.isDefined) throw new UnsupportedOperationException(
      "endingOffsets is a batch option; a stream always follows the live head")
    if (cfg.endingTimestampMicros.isDefined) throw new UnsupportedOperationException(
      "endingTimestamp is a batch option; a stream always follows the live head")
    if (cfg.endingVersion.isDefined) throw new UnsupportedOperationException(
      "endingVersion is a batch change-feed option; a stream always follows " +
        "the live head (use startingVersion alone)")
    new PolarMicroBatchStream(cfg)
  }
}

/** Streaming offsets: next-offset-to-read per (topic, log partition), as
  * JSON `{"topic/part":offset,...}` — the multi-topic generalization of the
  * reference's per-consumer offset map (consumers subscribe to topic lists,
  * `/root/reference/internal/types/models.go:34-39`). Single-topic legacy
  * keys (bare `"part"`) still parse against a default topic. */
final case class PolarOffsets(tails: Map[(String, Int), Long]) extends Offset {
  override def json(): String =
    tails.toSeq.sortBy(_._1)
      .map { case ((t, p), o) => s""""$t/$p":$o""" }.mkString("{", ",", "}")
  def totalFrom(start: PolarOffsets): Long =
    tails.map { case (k, o) => o - start.tails.getOrElse(k, 0L) }.sum
}

object PolarOffsets {
  /** STRICT parse of `{"topic/partition": offset, ...}`: anything else —
    * quoted numbers, Kafka's nested `{"topic":{"0":23}}` shape, trailing
    * junk — REFUSES with a clear message. A silently-dropped entry would
    * read the full log (or the wrong positions) instead of the offsets the
    * user asked for. */
  def parse(json: String, defaultTopic: String): PolarOffsets =
    try PolarOffsets(JsonText.parseObject(json).properties.asScala.map { e =>
      val k = e.getKey
      val slash = k.lastIndexOf('/')
      val part = k.drop(slash + 1)
      (if (slash < 0) defaultTopic else k.take(slash), part.toIntOption.getOrElse(
        throw new IllegalArgumentException(s"partition '$part' is not a number"))) ->
        JsonText.long(e.getValue)
    }.toMap)
    catch {
      case e: IllegalArgumentException => throw new IllegalArgumentException(
        s"malformed offsets map '$json': ${e.getMessage} " +
          """(expected {"topic/partition": offset, ...} with NUMERIC offsets; """ +
          "nested per-topic objects are not supported)", e)
    }
  def zeros(topics: Seq[TopicConfig]): PolarOffsets =
    PolarOffsets(topics.flatMap(c =>
      (0 until c.numPartitions).map(p => (c.topic, p) -> 0L)).toMap)
}

class PolarMicroBatchStream(cfg: PolarSourceConfig)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow with ReportsSourceMetrics {

  // LIVE subscription set: starts at the load-time resolution; a pattern
  // subscription re-resolves per trigger ([[refreshTopics]]) and admits
  // topics created mid-stream FROM OFFSET 0 (everything in a brand-new
  // topic postdates the subscription) — Kafka's metadata-refresh behavior,
  // the reference's live topic registration on a running group
  // (`internal/consuming/server.go:203-291`). Only ever grows; a deleted
  // topic simply stops contributing offsets.
  @volatile private var topics: Seq[TopicConfig] = cfg.topics
  @volatile private var availableNowCap: Option[PolarOffsets] = None

  /** One root listing per trigger when pattern-subscribed; no data I/O. */
  private def refreshTopics(): Unit = cfg.topicPattern.foreach { pattern =>
    val t0 = cfg.topics.head
    val known = topics.map(_.topic).toSet
    val fresh = PolarSource.resolvePattern(t0.root, pattern)
      .filterNot(known.contains)
    if (fresh.nonEmpty)
      topics = (topics ++ fresh.map(n =>
        TopicConfig(t0.root, n, t0.clusterSize, t0.rangesPerToken)))
        .sortBy(_.topic)
  }

  private def currentMetas: Map[String, LogMetadata] =
    topics.map(c => c.topic -> cfg.scanMeta(c)).toMap

  /** `assign` mode: drop unassigned (topic, part) keys from every offset
    * map the stream produces — so read limits never count unassigned
    * backlog, checkpoints carry only the assignment, and planning (which
    * iterates the end offsets) touches nothing outside it. */
  private def restrict(o: PolarOffsets): PolarOffsets = cfg.assign match {
    case None => o
    case Some(a) => PolarOffsets(o.tails.filter {
      case ((t, p), _) => a.get(t).exists(_.contains(p))
    })
  }

  private def tailsOf(metas: Map[String, LogMetadata]): PolarOffsets =
    restrict(PolarOffsets(metas.flatMap { case (t, m) =>
      m.producerOffsets.zipWithIndex.map { case (tail, p) => (t, p) -> tail }
    }.toMap))

  override def initialOffset(): Offset = cfg.startingVersion match {
    // STREAMING CHANGE FEED (the streaming twin of
    // [[graft.log.PolarLog.changesBetween]]): start at version v's
    // producer tails — resolved from the retained root snapshot, so a
    // vacuumed-away version fails loudly instead of silently starting
    // elsewhere — and follow the live head from there. The first
    // micro-batch is exactly the (v, head] version window; a downstream
    // job that checkpointed a processed version resumes with zero loss
    // and zero replay, the way the reference's consumers resume from
    // committed offsets (`internal/consuming/offset_state.go:103-236`).
    case Some(v) =>
      restrict(PolarOffsets(topics.flatMap { c =>
        LogMetadata.readAt(c, v).producerOffsets.zipWithIndex.map {
          case (tail, p) => (c.topic, p) -> tail
        }
      }.toMap))
    case None => initialOffsetByTimeOrPolicy()
  }

  private def initialOffsetByTimeOrPolicy(): Offset = cfg.startingTimestampMicros match {
    // RECORD-EXACT event-time seek (Kafka's offsetsForTimes): the registry
    // ts stats pick each partition's candidate file, one bounded read at
    // stream start refines to the first record with ts >= T — no
    // compensating filter needed downstream. Partitions with nothing
    // at/after T start at tail.
    case Some(t) =>
      val spark = org.apache.spark.sql.SparkSession.active
      restrict(PolarOffsets(topics.flatMap { c =>
        PolarLog.offsetsForTimestamp(spark, c, t).map {
          case (p, o) => (c.topic, p) -> o
        }
      }.toMap))
    case None => cfg.startingOffsets match {
      // the TRUE log start per partition (first surviving segment after
      // retention/delete-records trims), not offset 0 — Kafka's earliest
      // resolves to logStartOffset for exactly this reason: a trimmed
      // head is not data loss
      case "earliest" => restrict(PolarOffsets(topics.flatMap { c =>
        graft.log.ConsumerGroups.earliestOffsets(c).map {
          case (p, o) => (c.topic, p) -> o
        }
      }.toMap))
      case "latest" => tailsOf(currentMetas)
      // explicit {"topic/p":offset,...} (bare "p" keys → the first topic)
      // explicit {"topic/p":offset,...} (bare "p" keys → the first topic);
      // Kafka's per-partition sentinels resolve here too: -2 = earliest,
      // -1 = that partition's CURRENT tail (latest)
      case other =>
        val metas0 = currentMetas
        val tails = tailsOf(metas0).tails
        val explicit = PolarOffsets.parse(other, topics.head.topic)
        // naming a partition outside the assignment is a user error, not
        // something to silently drop
        cfg.requireAssigned(explicit.tails.keys, "startingOffsets")
        def logStartOf(k: (String, Int)): Long =
          metas0.get(k._1).map(_.logStart(k._2)).getOrElse(0L)
        val resolved = explicit.tails.map {
          // -2 = earliest → the TRUE log start (a trimmed head is not
          // loss); a literal 0 below logStart would trip failOnDataLoss
          case (k, -2L) => k -> logStartOf(k)
          case (k, -1L) => k -> tails.getOrElse(k, 0L)
          case (k, o) =>
            require(o >= 0, s"offset must be >= 0 or a -1/-2 sentinel, got $o")
            k -> o
        }
        // partitions the map does NOT name start at EARLIEST (their log
        // start) — resolving them explicitly here keeps the checkpoint
        // complete and failOnDataLoss sound; defaulting to a literal 0
        // would silently replay a trimmed head as loss
        val unnamed = tails.keys.filterNot(resolved.contains)
          .filter { case (t, p) => cfg.assigned(t, p) }
          .map(k => k -> logStartOf(k)).toMap
        PolarOffsets(resolved ++ unnamed)
    }
  }

  override def getDefaultReadLimit: ReadLimit =
    (cfg.minRecordsPerTrigger, cfg.maxRecordsPerTrigger) match {
      case (Some(min), Some(max)) => ReadLimit.compositeLimit(Array(
        ReadLimit.minRows(min, cfg.maxTriggerDelayMs), ReadLimit.maxRows(max)))
      case (Some(min), None) => ReadLimit.minRows(min, cfg.maxTriggerDelayMs)
      case (None, Some(max)) => ReadLimit.maxRows(max)
      case (None, None) => ReadLimit.allAvailable()
    }

  // liveness anchor for the min-rows floor: wall time of the last EMITTED
  // batch (Kafka's maxTriggerDelay semantics)
  @volatile private var lastBatchMs = System.currentTimeMillis()

  // admission fairness: which (topic, partition) the capped fill starts at
  // this trigger (see latestOffset) — advances once per planning call
  private var admissionRound: Long = -1L

  private def rotate[A](keys: Seq[A]): Seq[A] =
    if (keys.isEmpty || admissionRound <= 0L) keys
    else {
      val r = (admissionRound % keys.size).toInt
      keys.drop(r) ++ keys.take(r)
    }

  override def prepareForTriggerAvailableNow(): Unit = {
    // re-resolve the pattern before snapshotting the drain cap: an
    // AvailableNow restart picks up topics created since the last run
    refreshTopics()
    availableNowCap = Some(tailsOf(currentMetas))
  }

  override def reportLatestOffset(): Offset = tailsOf(currentMetas)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  // tails as of the last planning trigger — feeds the progress-report lag
  // metrics without paying an extra metadata read per progress event
  @volatile private var lastKnownTails: Option[PolarOffsets] = None

  /** Streaming-progress lag metrics (Kafka's `offsetsBehindLatest` shape):
    * records behind the last-known producer tails, total / worst partition
    * / partitions still behind — the numbers an operator alarms on.
    * Computed against the tails snapshot of the LAST trigger (no extra
    * metadata I/O at report time). */
  override def metrics(latestConsumed: java.util.Optional[Offset])
      : java.util.Map[String, String] = {
    val out = new java.util.HashMap[String, String]()
    val consumed: Option[PolarOffsets] =
      if (!latestConsumed.isPresent) None
      else latestConsumed.get() match {
        case p: PolarOffsets => Some(p)
        case o => Some(PolarOffsets.parse(o.json(), topics.head.topic))
      }
    for (c <- consumed; tails <- lastKnownTails) {
      val lags = tails.tails.map { case (k, tail) =>
        math.max(0L, tail - c.tails.getOrElse(k, 0L)) }
      out.put("recordsBehindLatest", lags.sum.toString)
      out.put("maxRecordsBehindLatest",
        (if (lags.isEmpty) 0L else lags.max).toString)
      out.put("partitionsBehind", lags.count(_ > 0L).toString)
    }
    out
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    refreshTopics()
    val from = start.asInstanceOf[PolarOffsets]
    val metas = currentMetas
    val target = availableNowCap.getOrElse(tailsOf(metas))
    lastKnownTails = Some(tailsOf(metas))
    // min-rows floor (Kafka minOffsetsPerTrigger): too little pending →
    // skip the batch (return `start` unchanged) unless the liveness delay
    // has elapsed. AvailableNow drains ignore the floor (Kafka parity —
    // a drain must terminate).
    def flatten(l: ReadLimit): Seq[ReadLimit] = l match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq.flatMap(flatten)
      case x => Seq(x)
    }
    val limits = flatten(limit)
    val minFloor = limits.collectFirst { case m: ReadMinRows => m }
    if (minFloor.isDefined && availableNowCap.isEmpty) {
      val m = minFloor.get
      val pending = target.totalFrom(from)
      val overdue =
        System.currentTimeMillis() - lastBatchMs >= m.maxTriggerDelayMs()
      if (pending < m.minRows() && !overdue) return from
    }
    // fairness: rotate the greedy fill's start position each trigger — a
    // fixed lexicographic order would let one hot early-sorted partition
    // starve every later one forever under sustained backlog (the
    // reference's round-robin rotates for the same reason). In-memory
    // state only: END offsets are checkpointed, so a replayed batch
    // replays its committed window, never this computation.
    admissionRound += 1
    val rowCapped = limits.collectFirst { case r: ReadMaxRows => r } match {
      case Some(rows) =>
        // greedy fill across (topic, partition) in rotated key order — the
        // group read queue's round-robin-until-threshold, one pass
        var budget = rows.maxRows()
        PolarOffsets(rotate(target.tails.toSeq.sortBy(_._1)).map { case (k, tail) =>
          val cur = from.tails.getOrElse(k, 0L)
          val take = math.min(tail - cur, budget)
          budget -= math.max(take, 0L)
          k -> (cur + math.max(take, 0L))
        }.toMap)
      case None => target
    }
    val out = cfg.maxBytesPerTrigger match {
      case Some(byteCap) => byteCapped(metas, from, rowCapped, byteCap)
      case None => rowCapped
    }
    if (out.totalFrom(from) > 0) lastBatchMs = System.currentTimeMillis()
    out
  }

  /** Byte-bounded admission (`ConsumerReadThreshold`, 2 MiB default in the
    * reference): walk each partition's pending registry files in offset
    * order, charging `records × bytes/record` from the file's exact stats;
    * stop at the cap but always admit at least one record when any is
    * pending (progress guarantee). */
  private def byteCapped(
      metas: Map[String, LogMetadata],
      from: PolarOffsets,
      target: PolarOffsets,
      byteCap: Long): PolarOffsets = {
    var budget = byteCap
    var admittedAny = false
    val capped = rotate(target.tails.toSeq.sortBy(_._1)).map { case (k @ (t, p), tail) =>
      var cur = from.tails.getOrElse(k, 0L)
      if (cur >= tail) k -> cur
      else {
        val files = metas(t).filesOf(p).filter(f => f.maxOffset >= cur && f.minOffset < tail)
        var pos = cur
        var prevMax = -1L
        files.foreach { f =>
          // an offset gap below this file (trimmed head under
          // failOnDataLoss=false, compacted-away run) holds NO records —
          // jump it for free, or the admission loop would never admit
          // anything and the partition would stall forever. Only a REAL
          // gap jumps: pos must be past every earlier file (a budget stop
          // MID-file leaves records there, and jumping would overshoot
          // the cap past records the window then serves uncounted).
          if (pos < f.minOffset && pos > prevMax) pos = f.minOffset
          prevMax = f.maxOffset
          val lo = math.max(pos, f.minOffset)
          val hi = math.min(tail - 1, f.maxOffset)
          if (lo <= hi && pos >= f.minOffset) {
            val perRecord = math.max(1L, f.bytes / math.max(1L, f.count))
            val affordable = math.max(budget / perRecord,
              if (admittedAny) 0L else 1L) // ≥1 record overall
            val take = math.min(hi - lo + 1, affordable)
            if (take > 0) {
              pos = lo + take
              budget -= take * perRecord
              admittedAny = true
            }
          }
        }
        k -> pos
      }
    }.toMap
    PolarOffsets(capped)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    // the LIVE topic map, not cfg.byName: pattern-discovered topics must
    // resolve here too
    val metas = currentMetas
    val from = start.asInstanceOf[PolarOffsets]
    // Kafka's failOnDataLoss: a checkpointed/explicit start below the
    // log-start offset means retention or delete-records trimmed records
    // this stream never consumed — fail LOUDLY by default instead of
    // silently skipping to the first surviving segment
    if (cfg.failOnDataLoss) from.tails.foreach { case ((t, p), o) =>
      metas.get(t).foreach { m =>
        // the EXPLICIT log start: advanced only by trims — a compacted-away
        // offset is NOT loss (the reader just sees the next survivor),
        // exactly Kafka's logStartOffset distinction
        val logStart = m.logStart(p)
        if (o < logStart) throw new IllegalStateException(
          s"data loss detected: $t/$p starts at $o but the log begins at " +
            s"$logStart (records trimmed by retention/delete-records were " +
            "never consumed). Set the source option failOnDataLoss=false " +
            "to resume from the log start and accept the gap.")
      }
    }
    PolarMicroBatchStream.plan(topics.map(c => c.topic -> c).toMap,
      metas, from, end.asInstanceOf[PolarOffsets], None,
      minPartitions = cfg.minPartitions, assign = cfg.assign)
  }

  // streaming delivers ROWS off the vectorized decode: a trigger's window
  // can cut through a file, and exact [start,end) trimming is the reader's
  // job here (no residual filters exist for planner-chosen bounds)
  override def createReaderFactory(): PartitionReaderFactory =
    new PolarReaderFactory(PolarSource.FullSchema, columnar = false)

  override def deserializeOffset(json: String): Offset =
    PolarOffsets.parse(json, topics.head.topic)
  override def commit(end: Offset): Unit = () // checkpoint log is the commit store
  override def stop(): Unit = ()
  override def toString: String =
    s"PolarScan(${topics.map(_.dir).mkString(",")})"
}

object PolarMicroBatchStream {
  /** One InputPartition per (topic, log partition) with pending offsets —
    * files chosen from the registry's exact offset stats: zero listing,
    * zero footer reads. Subscribed topics plan independently and their
    * partitions stream side by side. */
  def plan(
      cfgs: Map[String, TopicConfig],
      metas: Map[String, LogMetadata],
      start: PolarOffsets,
      end: PolarOffsets,
      parts: Option[Set[Int]],
      tsWindow: Option[(Long, Long)] = None,
      minPartitions: Option[Int] = None,
      keys: Option[Set[String]] = None,
      // `assign` mode: per-topic explicit partition sets — only these
      // are ever planned (streams also restrict their OFFSETS, so this
      // is belt-and-braces there; batch head/change windows rely on it)
      assign: Option[Map[String, Set[Int]]] = None): Array[InputPartition] = {
    val (tsLo, tsHi) = tsWindow.getOrElse((Long.MinValue, Long.MaxValue))
    val base: Array[InputPartition] =
      end.tails.toSeq.sortBy(_._1).flatMap { case ((t, p), endOff) =>
      val startOff = start.tails.getOrElse((t, p), 0L)
      if (endOff <= startOff || !parts.forall(_.contains(p)) ||
          !assign.forall(_.get(t).exists(_.contains(p)))) None
      // a checkpointed topic that no longer resolves (pattern-subscribed
      // topic deleted across a restart): the documented behavior is "a
      // deleted topic simply stops contributing offsets" — skip it
      // instead of throwing a bare key-not-found out of the replay
      else if (!metas.contains(t) || !cfgs.contains(t)) None
      else {
        val files = metas(t).filesOf(p)
          .filter(f => f.maxOffset >= startOff && f.minOffset < endOff)
          // registry ts stats: a file wholly outside the pushed event-time
          // window contributes no rows (Spark re-applies the exact
          // predicate residually) — skip it without touching storage
          .filter(f => f.tsMax >= tsLo && f.tsMin <= tsHi)
        if (files.isEmpty) None
        else Some(PolarInputPartition(t, cfgs(t).dir, p,
          files.map(f => PolarFileSlice(f.name, f.minOffset, f.maxOffset, f.count)),
          startOff, endOff, keys))
      }
    }.toArray
    minPartitions.filter(_ > base.length).fold(base)(subdivide(base, _))
  }

  /** Kafka's `minPartitions`: split the planned reads FILE-GRANULARLY until
    * at least `target` splits exist, so one hot partition's backlog fans
    * out over many tasks instead of one straggler. File granularity keeps
    * exactness trivial — every file lands in exactly ONE sub-split, whole,
    * with the parent's offset window clamping only the outer edges — at
    * the cost of never splitting inside a single file (segments roll at
    * `maxFileBytes`, so files are bounded and the fan-out is real
    * wherever a backlog is). Sub-splits are apportioned by file count
    * (files roll at a byte bound, so count tracks bytes), largest
    * backlogs split first. */
  private def subdivide(
      base: Array[InputPartition], target: Int): Array[InputPartition] = {
    val splits = base.map(_.asInstanceOf[PolarInputPartition])
    def weight(s: PolarInputPartition): Long = s.files.size.toLong
    val extra = target - splits.length
    if (extra <= 0 || splits.isEmpty) return base
    // distribute extra sub-splits proportionally to file counts (every
    // file is an indivisible unit, so file count bounds a split's fan-out)
    val totalW = math.max(1L, splits.map(weight).sum)
    val pieces = splits.map { s =>
      val want = 1 + ((extra * weight(s)) / totalW).toInt
      math.min(s.files.size, math.max(1, want))
    }
    // round up the largest splits until the target is met (or every file
    // is its own split)
    var have = pieces.sum
    val order = splits.indices.sortBy(i => -weight(splits(i)))
    var oi = 0
    while (have < target && oi < order.length) {
      val i = order(oi)
      if (pieces(i) < splits(i).files.size) { pieces(i) += 1; have += 1 }
      else oi += 1
    }
    splits.zip(pieces).flatMap { case (s, n) =>
      if (n <= 1) Seq(s)
      else {
        val runs = chunkEvenly(s.files, n)
        runs.zipWithIndex.map { case (run, i) =>
          val lo = if (i == 0) s.startOffset
            else math.max(s.startOffset, run.head.minOffset)
          val hi = if (i == runs.length - 1) s.endOffset
            else math.min(s.endOffset, run.last.maxOffset + 1)
          // sub-splits of one part must NOT carry its partition key
          PolarFanoutPartition(
            s.copy(files = run, startOffset = lo, endOffset = hi))
        }
      }
    }.toArray[InputPartition]
  }

  /** `files` into `n` contiguous non-empty runs of near-equal size. */
  private def chunkEvenly(
      files: Seq[PolarFileSlice], n: Int): Seq[Seq[PolarFileSlice]] = {
    val k = math.min(n, files.size)
    val per = files.size.toDouble / k
    (0 until k).map(i =>
      files.slice(math.round(i * per).toInt, math.round((i + 1) * per).toInt))
      .filter(_.nonEmpty)
  }
}

/** A registered file of the partition being read (name relative to the
  * partition directory; exact offset bounds from the registry). */
final case class PolarFileSlice(name: String, minOffset: Long, maxOffset: Long,
    // registry row count (-1 = unknown on legacy splits): lets readers
    // tell DENSE files (rows == offset span) from sparse compacted ones,
    // whose counts the registry alone must answer
    count: Long = -1L) {
  def dense: Boolean = count == maxOffset - minOffset + 1
}

final case class PolarInputPartition(
    topic: String,
    topicDir: String,
    part: Int,
    files: Seq[PolarFileSlice],
    startOffset: Long,
    endOffset: Long,
    // pushed partitionKey values, for parquet row-group/dictionary/bloom
    // skipping inside the owning partition (exactness from residuals)
    keys: Option[Set[String]] = None) extends InputPartition with HasPartitionKey {
  // storage-partitioned reads: the split IS one log partition, so exposing
  // `part` as the partition key lets Spark group splits and skip the
  // exchange for part-keyed aggregations and co-partitioned topic joins
  override def partitionKey(): InternalRow = InternalRow(part)
}

object PolarInputPartition {
  /** The carried read split, whichever wrapper delivered it. */
  def unwrap(partition: InputPartition): PolarInputPartition = partition match {
    case f: PolarFanoutPartition => f.inner
    case p: PolarInputPartition => p
  }
}

/** A `minPartitions` fan-out sub-split: the identical read contract, but
  * with NO `HasPartitionKey` claim — several sub-splits of ONE log
  * partition would each claim key `part`, and a key-grouped plan over them
  * would silently treat each as the whole partition. The scan already
  * reports `UnknownPartitioning` while fan-out is active; this wrapper
  * makes the invariant STRUCTURAL: should a grouped plan ever meet fan-out
  * splits, Spark's all-partitions-keyed check fails loudly instead of
  * mis-grouping (the strip half of strip-or-assert). */
final case class PolarFanoutPartition(inner: PolarInputPartition)
    extends InputPartition

class PolarFilesPlannedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "polarFilesPlanned"
  override def description(): String = "registry files planned"
}

class PolarRowsPlannedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "polarRowsPlanned"
  override def description(): String = "offset-window rows planned"
}

/** Rows actually DECODED from parquet (post row-group/page/dictionary/
  * bloom skipping) — read alongside `polarRowsPlanned` to see how much of
  * the planned window the in-file pruning tier dropped before decode. */
class PolarRowsDecodedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "polarRowsDecoded"
  override def description(): String = "parquet rows decoded"
}

object PolarReaderFactory {
  /** Per-task metric values for a split — pure registry arithmetic. */
  private[sources] def taskMetrics(p: PolarInputPartition)
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val rows = p.files.iterator.map { f =>
      val lo = math.max(p.startOffset, f.minOffset)
      val hi = math.min(p.endOffset - 1, f.maxOffset)
      hi - lo + 1
    }.filter(_ > 0).sum
    def m(n: String, v: Long) =
      new org.apache.spark.sql.connector.metric.CustomTaskMetric {
        override def name(): String = n
        override def value(): Long = v
      }
    Array(m("polarFilesPlanned", p.files.size.toLong),
      m("polarRowsPlanned", rows))
  }

  /** Attach the custom task metrics to a reader; decode counting is one
    * add per delivered batch (or row), off the per-value hot path. */
  private[sources] def withMetrics[T](r: PartitionReader[T],
      p: PolarInputPartition,
      // None for the registry-only count(*) reader (its batches are
      // metadata arithmetic, no parquet row is ever decoded); row-based
      // readers pass the vector reader's own counter so rows TRIMMED after
      // decode still count as decoded (the metric's honest meaning)
      decodedFrom: Option[() => Long]): PartitionReader[T] =
    new PartitionReader[T] {
      private val planned = taskMetrics(p)
      private var delivered = 0L
      override def next(): Boolean = {
        val has = r.next()
        // columnar delivery: delivered batches ARE the decoded rows
        if (has && decodedFrom.isEmpty) r.get() match {
          case b: ColumnarBatch => delivered += b.numRows()
          case _ => ()
        }
        has
      }
      override def get(): T = r.get()
      override def close(): Unit = r.close()
      override def currentMetricsValues()
          : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
        val d = decodedFrom.map(_()).getOrElse(delivered)
        planned :+ (new org.apache.spark.sql.connector.metric.CustomTaskMetric {
          override def name(): String = "polarRowsDecoded"
          override def value(): Long = d
        })
      }
    }
}

/** Row-delivery factory for EXPLICIT batch windows (`startingOffsets` /
  * `endingOffsets` JSON): each row is trimmed to the split's
  * [startOffset, endOffset) by its offset — read internally even when the
  * projection dropped the column, then projected away — because an
  * option-derived window has no residual predicate Spark could re-apply.
  * Window-free scans keep the columnar fast path. */
private[sources] class PolarTrimmingReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  private val augmented: StructType =
    if (required.fieldNames.contains("offset")) required
    else StructType(required.fields :+
      PolarSource.FullSchema("offset"))
  private val partitionSchema = StructType(
    augmented.fields.filter(f => f.name == "part" || f.name == "topic"))
  private val fileSchema = StructType(
    augmented.fields.filterNot(f => f.name == "part" || f.name == "topic"))
  // delivered row layout: file columns first, then the appended constants
  private val batchSchema = StructType(fileSchema.fields ++ partitionSchema.fields)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = PolarInputPartition.unwrap(partition)
    val vec = new PolarVectorReader(p, fileSchema, partitionSchema)
    val base: PartitionReader[InternalRow] = new PolarRowReader(
      vec, batchSchema.fieldIndex("offset"), p.startOffset, p.endOffset)
    val reader =
      if (augmented eq required) base
      else new PartitionReader[InternalRow] {
        private val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
          required,
          required.fieldNames.map(batchSchema.fieldIndex).toIndexedSeq)
        override def next(): Boolean = base.next()
        override def get(): InternalRow = { proj.project(base.get()); proj }
        override def close(): Unit = base.close()
      }
    PolarReaderFactory.withMetrics(reader, p,
      decodedFrom = Some(() => vec.decodedRows))
  }
}

class PolarReaderFactory(
    required: StructType,
    columnar: Boolean) extends PartitionReaderFactory {

  // derived part/topic columns the vectorized reader appends as constants
  private def partitionSchema: StructType =
    StructType(required.fields.filter(f => f.name == "part" || f.name == "topic"))
  private def fileSchema: StructType =
    StructType(required.fields.filterNot(f => f.name == "part" || f.name == "topic"))

  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  /** An empty projection (`count(*)` with no residual filters) needs only
    * row COUNTS. Dense files answer from offset spans; a SPARSE (compacted)
    * file wholly inside the window answers from its registry `count`; a
    * window cutting INTO a sparse file cannot be answered from the registry
    * at all (span arithmetic would count compacted-away rows) and falls
    * back to one offset-column scan. */
  private def countOnly(p: PolarInputPartition): PartitionReader[ColumnarBatch] = {
    val exact = p.files.forall(f => f.dense ||
      (f.count >= 0 && p.startOffset <= f.minOffset && p.endOffset > f.maxOffset))
    if (exact) registryCounts(p) else scanCounts(p)
  }

  private def registryCounts(p: PolarInputPartition): PartitionReader[ColumnarBatch] =
    new PartitionReader[ColumnarBatch] {
      private val counts = p.files.iterator.map { f =>
        val lo = math.max(p.startOffset, f.minOffset)
        val hi = math.min(p.endOffset - 1, f.maxOffset)
        if (hi < lo) 0L else if (f.dense) hi - lo + 1 else f.count
      }.filter(_ > 0)
      private var current: ColumnarBatch = _
      override def next(): Boolean =
        if (!counts.hasNext) false
        else {
          var n = counts.next()
          while (counts.hasNext && n < Int.MaxValue / 2) n += counts.next()
          current = new ColumnarBatch(
            Array.empty[org.apache.spark.sql.vectorized.ColumnVector], n.toInt)
          true
        }
      override def get(): ColumnarBatch = current
      override def close(): Unit = ()
    }

  private def scanCounts(p: PolarInputPartition): PartitionReader[ColumnarBatch] =
    new PartitionReader[ColumnarBatch] {
      private val vec = new PolarVectorReader(p,
        StructType(Seq(StructField("offset", LongType, nullable = false))),
        new StructType())
      private var current: ColumnarBatch = _
      override def next(): Boolean = {
        while (true) {
          val b = vec.nextBatch()
          if (b == null) return false
          val col = b.column(0)
          var n = 0; var i = 0
          while (i < b.numRows()) {
            val o = col.getLong(i)
            if (o >= p.startOffset && o < p.endOffset) n += 1
            i += 1
          }
          if (n > 0) {
            current = new ColumnarBatch(
              Array.empty[org.apache.spark.sql.vectorized.ColumnVector], n)
            return true
          }
        }
        false
      }
      override def get(): ColumnarBatch = current
      override def close(): Unit = vec.close()
    }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = PolarInputPartition.unwrap(partition)
    val vec = new PolarVectorReader(p, fileSchema, partitionSchema)
    PolarReaderFactory.withMetrics(new PolarRowReader(
      vec, required.fieldIndex("offset"), p.startOffset, p.endOffset), p,
      decodedFrom = Some(() => vec.decodedRows))
  }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val p = PolarInputPartition.unwrap(partition)
    if (required.isEmpty) PolarReaderFactory.withMetrics(countOnly(p), p,
      decodedFrom = Some(() => 0L))
    else PolarReaderFactory.withMetrics(new PolarColumnarReader(
      new PolarVectorReader(p, fileSchema, partitionSchema)), p,
      decodedFrom = None)
  }
}

/** Vectorized decode over a partition's registered files: one
  * `VectorizedParquetRecordReader` per file, with the partition's constant
  * `part`/`topic` columns appended via `initBatch` and a parquet row-group
  * filter from the offset window — the 8 MiB read-ahead analog. */
private[sources] class PolarVectorReader(
    p: PolarInputPartition,
    fileSchema: StructType,
    partitionSchema: StructType) {

  private val topicName: String = p.topic
  private val topicDir: String = p.topicDir

  private val conf: Configuration = {
    val c = graft.log.HadoopConf.fresh()
    c.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    c.set("org.apache.spark.sql.parquet.row.requested_schema", fileSchema.json)
    c.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, "UTC")
    c.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, false)
    c.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, true)
    c.setBoolean(SQLConf.CASE_SENSITIVE.key, false)
    c.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, false)
    c.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, false)
    // row-group pruning from the trigger's offset window; exactness comes
    // from residual filters (batch) or row trimming (streaming). The
    // predicate may only reference a REQUESTED column: parquet's filtered
    // row-group read synchronizes pages through the predicate column and
    // emits nothing when it isn't projected. An offset-less projection only
    // happens when no offset predicate survived — the window is the whole
    // log and pruning would be a no-op anyway.
    val offsetPred =
      if (fileSchema.fieldNames.contains("offset") &&
          (p.startOffset > 0L || p.endOffset < Long.MaxValue)) {
        val hi = if (p.endOffset == Long.MaxValue) Long.MaxValue else p.endOffset - 1
        Some(FilterApi.and(
          FilterApi.gtEq(FilterApi.longColumn("offset"), java.lang.Long.valueOf(p.startOffset)),
          FilterApi.ltEq(FilterApi.longColumn("offset"), java.lang.Long.valueOf(hi))))
      } else None
    // pushed partitionKey values → parquet stats/dictionary/bloom filter:
    // within the owning partition, a segment (or page) whose metadata
    // excludes every sought key is skipped without decoding — the file-
    // internal tier of a point lookup. Sound under the residual contract
    // (rows with NULL or other keys are excluded by the predicate exactly
    // as the re-applied `partitionKey = k` would exclude them).
    // capped: an OR over thousands of IN-list keys costs O(keys) per
    // row-group/dictionary check and rides the task conf — past the cap
    // the partition-level skip alone carries the lookup (still sound,
    // residuals exact either way)
    val keyPred = p.keys.filter(ks => ks.nonEmpty && ks.size <= 128 &&
        fileSchema.fieldNames.contains("partitionKey")).map { ks =>
      ks.toSeq.sorted.map(k => FilterApi.eq(
          FilterApi.binaryColumn("partitionKey"),
          org.apache.parquet.io.api.Binary.fromString(k))
        : org.apache.parquet.filter2.predicate.FilterPredicate)
        .reduce(FilterApi.or)
    }
    (offsetPred, keyPred) match {
      case (Some(o), Some(k)) =>
        ParquetInputFormat.setFilterPredicate(c, FilterApi.and(o, k))
      case (Some(o), None) => ParquetInputFormat.setFilterPredicate(c, o)
      case (None, Some(k)) => ParquetInputFormat.setFilterPredicate(c, k)
      case _ =>
    }
    c
  }

  private val partitionValues: InternalRow = {
    val vals = partitionSchema.fields.map {
      case f if f.name == "part" => Int.box(p.part)
      case _ => UTF8String.fromString(topicName)
    }
    new GenericInternalRow(vals.asInstanceOf[Array[Any]])
  }

  private val dirOfPart = s"part=${p.part}"
  private val fileIter = p.files.iterator
  private var reader: VectorizedParquetRecordReader = _

  // rows DECODED from parquet (post row-group skipping, PRE any offset
  // trimming) — the honest source for the polarRowsDecoded metric
  private[sources] var decodedRows: Long = 0L

  private def nextReader(): Boolean = {
    close()
    if (!fileIter.hasNext) return false
    val slice = fileIter.next()
    val path = new Path(s"$topicDir/$dirOfPart/${slice.name}")
    val fs = path.getFileSystem(conf)
    val split = new FileSplit(path, 0, fs.getFileStatus(path).getLen, Array.empty[String])
    reader = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
    reader.initialize(split, new TaskAttemptContextImpl(conf, new TaskAttemptID()))
    reader.initBatch(partitionSchema, partitionValues)
    reader.enableReturningBatches()
    true
  }

  /** Advance to the next non-empty batch across files; null at exhaustion. */
  def nextBatch(): ColumnarBatch = {
    while (true) {
      if (reader == null && !nextReader()) return null
      if (reader.nextKeyValue()) {
        val b = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
        if (b.numRows() > 0) { decodedRows += b.numRows(); return b }
      } else if (!nextReader()) return null
    }
    null
  }

  def close(): Unit = if (reader != null) { reader.close(); reader = null }
}

class PolarColumnarReader(vec: PolarVectorReader)
    extends PartitionReader[ColumnarBatch] {
  private var current: ColumnarBatch = _
  override def next(): Boolean = { current = vec.nextBatch(); current != null }
  override def get(): ColumnarBatch = current
  override def close(): Unit = vec.close()
}

/** Row delivery off the vectorized decode, trimmed exactly to
  * `[startOffset, endOffset)` — the streaming trigger contract. */
class PolarRowReader(
    vec: PolarVectorReader,
    offsetIdx: Int,
    startOffset: Long,
    endOffset: Long) extends PartitionReader[InternalRow] {

  private var batchRows: java.util.Iterator[InternalRow] = _
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      if (batchRows == null || !batchRows.hasNext) {
        val b = vec.nextBatch()
        if (b == null) return false
        batchRows = b.rowIterator().asInstanceOf[java.util.Iterator[InternalRow]]
      } else {
        val r = batchRows.next()
        val off = r.getLong(offsetIdx)
        if (off >= startOffset && off < endOffset) { current = r; return true }
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = vec.close()
}
