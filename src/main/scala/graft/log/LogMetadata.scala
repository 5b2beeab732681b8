package graft.log

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Options, Path}
import java.nio.charset.StandardCharsets
import com.fasterxml.jackson.databind.JsonNode
import graft.functions.JsonText
import scala.jdk.CollectionConverters._

/**
 * Topic configuration: where the log lives and how the token space is carved.
 *
 * `clusterSize * rangesPerToken` is the fixed partition count of a topic —
 * the Spark rendition of the reference's brokers × consumer-ranges layout
 * (`/root/reference/internal/conf/config.go:248-250`,
 * `internal/types/token.go:49-66`). Fixed at topic creation, exactly like the
 * reference's "rangesPerToken must never change during the lifetime of a
 * topic" caveat (`token.go:55-57`).
 */
final case class TopicConfig(
    root: String,
    topic: String,
    clusterSize: Int = 3,
    rangesPerToken: Int = 4) {
  require(graft.functions.TokenMath.validRingLength(clusterSize) || clusterSize == 1,
    s"clusterSize must be 1 or 3*2^n, got $clusterSize")
  require(TopicConfig.validTopicName(topic),
    s"Invalid topic: '$topic' (empty, path-unsafe or reserved)")
  def numPartitions: Int = clusterSize * rangesPerToken
  def dir: String = s"$root/$topic"
  def metadataPath: String = s"$dir/_polar_metadata.json"
  def groupsDir: String = s"$dir/_groups"
}

/** Root + ring geometry WITHOUT a topic name — what a row-routed produce
  * (per-row `topic` column, no single destination) shares across every
  * topic it touches. Topology is global in the reference
  * (`/root/reference/internal/types/models.go`), so one geometry for all
  * routed topics is the faithful contract. */
final case class RingTemplate(
    root: String,
    clusterSize: Int = 3,
    rangesPerToken: Int = 4) {
  require(graft.functions.TokenMath.validRingLength(clusterSize) || clusterSize == 1,
    s"clusterSize must be 1 or 3*2^n, got $clusterSize")
  def topicConfig(topic: String): TopicConfig =
    TopicConfig(root, topic, clusterSize, rangesPerToken)
}

/** Per-topic configuration keys (the Kafka topic-config names) persisted
  * in the root doc's `props` field. Validation lives here so every SQL /
  * admin surface enforces the same contract and the hand-rolled JSON
  * stays escape-free. */
object TopicProps {
  val RetentionMs = "retention.ms"
  val CleanupPolicy = "cleanup.policy"
  /** How long the cleaner RETAINS latest-per-key tombstones after their
    * segment's commit age, so slow consumers still observe the delete fact
    * (Kafka's `delete.retention.ms`, default 24 h). */
  val DeleteRetentionMs = "delete.retention.ms"
  /** Per-topic floor for the scheduled cleaner's dirty ratio (Kafka's
    * `min.cleanable.dirty.ratio`, default 0.5). */
  val MinCleanableDirtyRatio = "min.cleanable.dirty.ratio"
  /** Per-topic produce-side record size cap (Kafka's `max.message.bytes`). */
  val MaxMessageBytes = "max.message.bytes"
  /** Per-topic segment roll size (Kafka's `segment.bytes`): writers seal a
    * data file when it reaches this size; also caps compaction run sizes. */
  val SegmentBytes = "segment.bytes"
  /** Size-based retention (Kafka's `retention.bytes`): per PARTITION, the
    * sweep deletes whole head segments while the partition's registered
    * bytes would stay at or above the cap without them. -1 (the default)
    * disables the size cap. */
  val RetentionBytes = "retention.bytes"
  /** Kafka's `min.compaction.lag.ms`: how long a record is guaranteed to
    * stay UNCOMPACTED after its segment's commit — the cleaner excludes
    * younger dirty segments from its pass and from its winner map. */
  val MinCompactionLagMs = "min.compaction.lag.ms"
  /** Kafka's `max.compaction.lag.ms`: the deadline after which a dirty
    * segment MUST get a cleaning pass even below the dirty-ratio floor —
    * what bounds tombstone/PII latency on low-churn topics. */
  val MaxCompactionLagMs = "max.compaction.lag.ms"
  /** Kafka's `message.timestamp.type`: `CreateTime` (default) stores the
    * producer-supplied event time; `LogAppendTime` forces the broker-side
    * append wall-clock — changing what ts-seek, time-window reads and
    * watermarks key on. */
  val MessageTimestampType = "message.timestamp.type"
  /** Kafka's `compression.type`: the segment storage codec — every write
    * path (produce, streaming, routed, cleaner rewrites, compaction
    * merges) seals this topic's parquet with it. `producer` (Kafka's
    * keep-what-the-producer-sent) maps to the engine default (zstd);
    * `lz4` maps to parquet's LZ4_RAW. */
  val CompressionType = "compression.type"
  /** Kafka's `segment.ms`: the age ceiling of one segment. Every produce
    * path here seals its files per batch (there is no long-lived active
    * segment to roll), so the write-time meaning is structurally always
    * satisfied; the engine honors it as the maximum CREATION-TIME SPAN a
    * compaction merge run may cover — merged segments carry the newest
    * member's `createdMs` forward, so an unbounded merge span would let
    * one merged file delay whole-segment age/size retention of records
    * arbitrarily older than its stamp. */
  val SegmentMs = "segment.ms"
  /** Kafka's `file.delete.delay.ms`: how long an UNREGISTERED segment
    * stays on disk before its physical delete — the reader-protection
    * window for queries that planned against a pre-trim registry and
    * still hold the old file names. 0 (the default) deletes eagerly;
    * > 0 routes every trim/compaction/key-clean removal through the
    * root doc's `pendingDeletes` ledger, reclaimed by vacuum past the
    * deadline. (Kafka's default is 60000; eager is this engine's
    * pre-existing behavior, kept as the default for compatibility.) */
  val FileDeleteDelayMs = "file.delete.delay.ms"
  /** KIP-937 (`message.timestamp.before.max.ms`): on a CreateTime topic,
    * the produce rejects records whose timestamp is MORE than this many ms
    * BEFORE the broker (append) wall-clock. Default: unbounded. Ignored
    * under LogAppendTime (the broker stamps its own time), per Kafka. */
  val MessageTimestampBeforeMaxMs = "message.timestamp.before.max.ms"
  /** KIP-937 (`message.timestamp.after.max.ms`): the future-side twin —
    * rejects records whose timestamp is more than this many ms AFTER the
    * broker wall-clock. Default: unbounded. Ignored under LogAppendTime. */
  val MessageTimestampAfterMaxMs = "message.timestamp.after.max.ms"
  /** Kafka's pre-3.6 `message.timestamp.difference.max.ms` — the symmetric
    * legacy bound KIP-937 split in two. Honored as the default for
    * whichever directional bound is not explicitly set (Kafka 3.6's
    * compatibility rule). */
  val MessageTimestampDifferenceMaxMs = "message.timestamp.difference.max.ms"
  val Recognized: Set[String] = Set(RetentionMs, CleanupPolicy,
    DeleteRetentionMs, MinCleanableDirtyRatio, MaxMessageBytes, SegmentBytes,
    RetentionBytes, MinCompactionLagMs, MaxCompactionLagMs,
    MessageTimestampType, CompressionType, MessageTimestampBeforeMaxMs,
    MessageTimestampAfterMaxMs, MessageTimestampDifferenceMaxMs, SegmentMs,
    FileDeleteDelayMs)

  /** Validate one recognized (key, value); throws on a malformed value.
    * Returns false for unrecognized keys (callers decide refuse/ignore). */
  def validate(key: String, value: String): Boolean = key match {
    case RetentionMs =>
      // -1 is Kafka's "retention disabled" sentinel (kafka-configs accepts
      // it); the scheduler skips time-based deletion for such topics
      require(scala.util.Try(value.trim.toLong).toOption.exists(v => v > 0L || v == -1L),
        s"$RetentionMs must be a positive integer of milliseconds or -1 " +
          s"(retention disabled), got '$value'")
      true
    case CleanupPolicy =>
      // Kafka accepts the combined policy too: "compact,delete" keeps
      // latest-per-key cleaning AND time-based deletion active at once
      val parts = value.split(",").map(_.trim).filter(_.nonEmpty)
      require(parts.nonEmpty && parts.distinct.length == parts.length &&
          parts.forall(p => p == "delete" || p == "compact"),
        s"$CleanupPolicy must be 'delete', 'compact', or 'compact,delete', " +
          s"got '$value'")
      true
    case DeleteRetentionMs =>
      require(scala.util.Try(value.trim.toLong).toOption.exists(_ >= 0L),
        s"$DeleteRetentionMs must be a non-negative integer of milliseconds, got '$value'")
      true
    case MinCleanableDirtyRatio =>
      require(scala.util.Try(value.trim.toDouble).toOption
          .exists(v => v >= 0.0 && v <= 1.0),
        s"$MinCleanableDirtyRatio must be a ratio in [0, 1], got '$value'")
      true
    case MaxMessageBytes =>
      require(scala.util.Try(value.trim.toInt).toOption.exists(_ > 0),
        s"$MaxMessageBytes must be a positive integer of bytes, got '$value'")
      true
    case SegmentBytes =>
      require(scala.util.Try(value.trim.toLong).toOption.exists(_ > 0L),
        s"$SegmentBytes must be a positive integer of bytes, got '$value'")
      true
    case RetentionBytes =>
      // -1 is Kafka's default: no size cap (time retention still applies)
      require(scala.util.Try(value.trim.toLong).toOption.exists(v => v > 0L || v == -1L),
        s"$RetentionBytes must be a positive integer of bytes or -1 " +
          s"(no size cap), got '$value'")
      true
    case MinCompactionLagMs =>
      require(scala.util.Try(value.trim.toLong).toOption.exists(_ >= 0L),
        s"$MinCompactionLagMs must be a non-negative integer of " +
          s"milliseconds, got '$value'")
      true
    case MaxCompactionLagMs =>
      // Kafka requires >= 1 (Long.MaxValue default = effectively disabled)
      require(scala.util.Try(value.trim.toLong).toOption.exists(_ >= 1L),
        s"$MaxCompactionLagMs must be a positive integer of milliseconds, " +
          s"got '$value'")
      true
    case MessageTimestampType =>
      val v = value.trim
      require(v == "CreateTime" || v == "LogAppendTime",
        s"$MessageTimestampType must be 'CreateTime' or 'LogAppendTime', " +
          s"got '$value'")
      true
    case CompressionType =>
      val v = value.trim
      require(Set("uncompressed", "zstd", "lz4", "snappy", "gzip",
          "producer").contains(v),
        s"$CompressionType must be one of uncompressed|zstd|lz4|snappy|" +
          s"gzip|producer, got '$value'")
      true
    case SegmentMs =>
      // Kafka: atLeast(1)
      require(scala.util.Try(value.trim.toLong).toOption.exists(_ >= 1L),
        s"$SegmentMs must be a positive integer of milliseconds, got '$value'")
      true
    case MessageTimestampBeforeMaxMs | MessageTimestampAfterMaxMs |
        MessageTimestampDifferenceMaxMs =>
      // Kafka: atLeast(0); 0 is legal (reject anything on that side of
      // the broker clock), the default (absent) is unbounded
      require(scala.util.Try(value.trim.toLong).toOption.exists(_ >= 0L),
        s"$key must be a non-negative integer of milliseconds, got '$value'")
      true
    case FileDeleteDelayMs =>
      // Kafka: atLeast(0); 0 = eager physical deletion
      require(scala.util.Try(value.trim.toLong).toOption.exists(_ >= 0L),
        s"$FileDeleteDelayMs must be a non-negative integer of " +
          s"milliseconds, got '$value'")
      true
    case _ => false
  }

  /** Canonical (persisted) form of a validated value — validate() accepts
    * padded numerics, so writers must store the trimmed form or readers
    * parsing the raw value would throw. The combined cleanup policy
    * canonicalizes to "compact,delete" regardless of spelling order. */
  def normalize(key: String, value: String): String =
    if (key == CleanupPolicy)
      value.split(",").map(_.trim).filter(_.nonEmpty).distinct.sorted
        .mkString(",")
    else value.trim

  /** Policy membership helpers — `contains("compact")` alone would also
    * match a future policy NAME containing the substring; split first. */
  def policyHas(props: Map[String, String], which: String): Boolean =
    props.get(CleanupPolicy).toSeq
      .flatMap(_.split(",")).map(_.trim).contains(which)

  /** The recognized-validated-NORMALIZED subset of `given` (SQL
    * TBLPROPERTIES carry engine/geometry/Spark-reserved keys too — those
    * pass through their own paths and are not persisted here). */
  def recognized(given: Map[String, String]): Map[String, String] = {
    val out = given.collect { case (k, v) if validate(k, v) => k -> normalize(k, v) }
    // cross-field check Kafka's LogConfig also enforces: a min lag above
    // the max lag would arm the cleaner's deadline on segments the min-lag
    // cut then refuses to clean (the scheduler additionally guards at
    // sweep time for props set across separate ALTERs)
    for (min <- out.get(MinCompactionLagMs).flatMap(v => scala.util.Try(v.toLong).toOption);
         max <- out.get(MaxCompactionLagMs).flatMap(v => scala.util.Try(v.toLong).toOption))
      require(min <= max,
        s"$MinCompactionLagMs ($min) must not exceed $MaxCompactionLagMs ($max)")
    out
  }
}

object TopicConfig {
  /** Topic-name validation — the storage-layer analog of the reference's
    * 400 "Invalid topic" on the produce path
    * (`/root/reference/internal/producing/server.go:142-143`): non-empty,
    * no path separators, not a reserved (`_`/`.`-prefixed) name. */
  def validTopicName(name: String): Boolean =
    // 255 here (the filesystem's component limit): this check runs on EVERY
    // produce/consume/admin path, so a pre-r12 topic created at 249–255
    // chars stays readable and writable after upgrade (grandfathered).
    // NEW topics are capped at 248 by [[validNewTopicName]] at the
    // creation surfaces, because derived file names (the txn journal's
    // `t-<topic>.json`) add 7 bytes — Kafka caps at 249 for its own
    // suffixes, same reasoning. Caps are UTF-8 BYTES (the unit the
    // filesystem limit is in): isLetterOrDigit admits multibyte letters,
    // and a char-counted cap would pass names whose derived file names
    // then fail fs.create mid-write (review-found). ASCII names — every
    // name the test battery uses — count identically either way.
    name.nonEmpty &&
      name.getBytes(java.nio.charset.StandardCharsets.UTF_8).length <= 255 &&
      !name.startsWith("_") && !name.startsWith(".") &&
      name.forall(c => c.isLetterOrDigit || c == '-' || c == '_' || c == '.')

  /** The CREATION-time rule: everything [[validTopicName]] checks plus the
    * 248-char cap that keeps every derived file name within the
    * filesystem's 255-byte component limit. Enforced where a topic comes
    * into existence (first produce, CREATE TABLE, routed first-encounter,
    * journal naming) — never on read paths, so pre-cap topics stay
    * accessible. */
  def validNewTopicName(name: String): Boolean =
    validTopicName(name) &&
      name.getBytes(java.nio.charset.StandardCharsets.UTF_8).length <= 248
}

/** One committed data file of a topic partition: the unit of the metadata
  * file registry. Offsets `[minOffset, maxOffset]` are inclusive, dense, and
  * disjoint across a partition's files — so planning a consume of
  * `[start, end)` is pure metadata arithmetic (no directory listing, no
  * parquet footer reads): the Spark rendition of the reference's segment
  * index, lifted from per-file `.index` entries into the topic's single
  * metadata document. `bytes` feeds byte-bounded admission control;
  * `createdMs` feeds retention GC. `tsMin`/`tsMax` are inclusive
  * event-timestamp stats (micros) over the file's NON-NULL timestamps —
  * the registry analog of parquet column stats, letting time-range scans
  * prune whole segments without footer reads; the full-range sentinel
  * `(Long.MinValue, Long.MaxValue)` means "unknown, never prune" (legacy
  * manifests, all-null files). `tsNulls` counts the file's NULL
  * timestamps (-1 = unknown, pre-r9 manifests): order-based pruning
  * (top-N by event time) is only sound over files PROVEN null-free,
  * because null timestamps live outside the min/max stats range. */
final case class FileEntry(
    part: Int,
    name: String,
    minOffset: Long,
    maxOffset: Long,
    count: Long,
    bytes: Long,
    createdMs: Long,
    tsMin: Long = Long.MinValue,
    tsMax: Long = Long.MaxValue,
    tsNulls: Long = -1L,
    // FIRST-cleaning wall-clock of a key-cleaned (`kc`) segment — the
    // KIP-534 delete-horizon anchor, STRUCTURAL since r12 (previously only
    // encoded in the `kc<off>-c<ms>-` file name, an invariant that any
    // rename/merge path could silently drop). -1 = never cleaned / legacy
    // manifest (readers fall back to the name parse, then createdMs).
    cleanedMs: Long = -1L,
    // Producer-transaction mark (r13, Kafka EOS): the `transactional.id`
    // this segment was produced under while its transaction is UNRESOLVED.
    // Default readers serve marked files (Kafka read_uncommitted); a
    // read_committed scan resolves the mark against the transaction state
    // ([[Transactions.readCommittedView]]). Commit clears the mark via
    // CAS; abort removes the entry. None = plain committed segment.
    txn: Option[String] = None,
    // The producing incarnation's fencing epoch (r14): resolution is
    // (id, epoch)-exact, so a fenced zombie's staging can never be adopted
    // by a later incarnation's commit under the same transactional.id.
    // -1 = unknown (r13 manifests; resolved id-only, the pre-epoch rule).
    // Meaningful only while `txn` is set.
    txnEpoch: Long = -1L) {
  def path(cfg: TopicConfig): String = s"${cfg.dir}/part=$part/$name"
  /** Offset-dense: one row at EVERY offset of [minOffset, maxOffset] —
    * true for every produced segment; false after key compaction removes
    * superseded rows (offsets are preserved, so survivors are sparse).
    * Row-count arithmetic (LIMIT caps, offset top-N cuts) must check this
    * before equating offset spans with row counts. */
  def dense: Boolean = count == maxOffset - minOffset + 1
}

/** One deferred physical deletion: `part`/`name` identify the already
  * UNREGISTERED segment on disk; `dueMs` is the wall-clock after which
  * vacuum may reclaim it (unregistration time + the topic's
  * `file.delete.delay.ms`). */
final case class PendingDelete(part: Int, name: String, dueMs: Long)

/**
 * Driver-side control plane of a topic — the Spark replacement for the
 * reference's generation consensus + producer.offset files
 * (`/root/reference/internal/data/offset_file_writer.go`,
 * `internal/ownership/process_local.go`): a small monotonically-versioned
 * ROOT document (version, tails, sink commits, one manifest pointer per
 * partition) updated by atomic rename, plus immutable per-partition
 * MANIFEST files carrying the file registry — the Iceberg manifest-list
 * shape, mirroring the reference's per-(topic, token, range) index files
 * (`internal/data/index_file_writer.go:37-115`). A commit renders only the
 * manifests of partitions it touched (O(delta), never O(files)); readers
 * cache manifests by their write-once names, so per-trigger planning
 * re-parses nothing but the tiny root doc. The driver is the only metadata
 * authority (no gossip/Paxos needed), and `version` gives compare-and-set
 * against concurrent producers — mirroring the single-writer-per-partition
 * invariant of the coalescer (`internal/producing/coalescer.go:24-27`).
 *
 * `producerOffsets(p)` is the next offset to be assigned in partition p
 * (= number of records ever produced there; offsets are dense from 0).
 *
 * `commitMs` is the wall-clock time [[LogMetadata.publish]] stamped into
 * the rendered doc — the `TIMESTAMP AS OF` anchor. It lives IN the
 * document (the Delta commit-timestamp model) so it survives copy/rsync/
 * object-store migration, unlike file mtimes; 0 marks pre-commitMs legacy
 * docs, resolved by mtime fallback.
 */
final case class LogMetadata(
    version: Long,
    clusterSize: Int,
    rangesPerToken: Int,
    producerOffsets: Vector[Long],
    filesByPart: Map[Int, Vector[FileEntry]] = Map.empty,
    sinkCommits: Map[String, Long] = Map.empty,
    manifestNames: Map[Int, String] = Map.empty,
    commitMs: Long = 0L,
    // wall-clock of each sink id's LAST txn commit — what bounds the
    // sinkCommits registry: entries idle past the txn retention window are
    // expired at commit time (Delta's txn-version retention model), so
    // ad-hoc streaming-query churn cannot grow the root doc forever.
    // Absent for pre-r9 entries (stamped lazily at the next pruning pass).
    sinkCommitMs: Map[String, Long] = Map.empty,
    // per-topic configuration overrides (Kafka topic configs): the
    // RECOGNIZED keys are `retention.ms` (overrides the scheduler's global
    // window) and `cleanup.policy` (`delete` | `compact`; compact topics
    // are exempt from time-based deletion — their keys must survive).
    // Values are validated at the SQL surface, so the hand-rolled JSON
    // stays escape-free. A field-keyed addition, not a tuple-shape change
    // — older readers ignore the field, no format bump needed.
    props: Map[String, String] = Map.empty,
    // Kafka's logStartOffset, per partition: advanced ONLY by the trim
    // paths (retention, delete-records, truncate) — never by key
    // compaction, whose sparse survivors may start above the first file's
    // minOffset without any record having been LOST. Empty (legacy docs /
    // never-trimmed topics until the first clean materializes it) falls
    // back to the first registered file's minOffset, the pre-r10 rule.
    logStarts: Vector[Long] = Vector.empty,
    // Kafka's `file.delete.delay.ms`, made structural: segments a trim /
    // compaction / key-clean UNREGISTERED but whose physical delete is
    // deferred until `dueMs` (the registry analog of Kafka's `.deleted`
    // rename — a rename would break Spark readers that re-open files by
    // name). Vacuum treats a pending name as held until due, then deletes
    // the file and prunes the entry. Nonempty ledgers stamp format 5: an
    // older vacuum would reclaim held files early (not data loss — they
    // are already unregistered — but it would silently void the reader
    // window the topic asked for).
    pendingDeletes: Vector[PendingDelete] = Vector.empty,
    // Writer-lease stamp (r15, [[WriterLease]]): the lease epoch of the
    // LAST lease-holding writer to publish this doc — monotone (carried
    // forward by every publish), so a CAS by a driver whose lease epoch is
    // OLDER than the stamp fails loudly instead of silently corrupting a
    // root two drivers share. 0 = never written under a lease (the
    // default, pre-lease behavior). Stamped docs carry root format 8: a
    // pre-lease binary would silently DROP the stamp on its next CAS —
    // exactly the un-enforced two-driver hole the lease closes — so it
    // must refuse loudly instead.
    writerEpoch: Long = 0L) {
  def numPartitions: Int = clusterSize * rangesPerToken

  /** Registered files of one partition in offset order — O(1) lookup, the
    * vectors are kept minOffset-sorted at construction. */
  def filesOf(part: Int): Vector[FileEntry] =
    filesByPart.getOrElse(part, Vector.empty)

  /** Flat view over all partitions (cold paths: retention, vacuum, batch
    * planning). Hot per-trigger paths use [[filesOf]]. */
  def files: Vector[FileEntry] =
    filesByPart.toVector.sortBy(_._1).flatMap(_._2)

  /** True iff no partition has a registered file. */
  def filesEmpty: Boolean = filesByPart.valuesIterator.forall(_.isEmpty)

  /** The partition's log start (Kafka logStartOffset): everything below it
    * was TRIMMED with intent; offsets at/above it may still be sparse
    * (compaction). Explicit when stamped; legacy fallback = the first
    * registered file's minOffset (or the tail for an empty partition). */
  def logStart(p: Int): Long =
    logStarts.lift(p).getOrElse(filesOf(p).headOption.map(_.minOffset)
      .getOrElse(producerOffsets.lift(p).getOrElse(0L)))

  /** [[logStarts]] materialized for every partition (what the cleaner
    * persists BEFORE its swap, so the sparse survivors cannot re-derive a
    * higher start). */
  def materializedLogStarts: Vector[Long] =
    Vector.tabulate(numPartitions)(logStart)

  /** The readable floor derived from the FILES alone — what a trim
    * advances the log start to (the explicit vector may be staler than
    * the post-trim registry; compaction keeps it deliberately low). */
  def derivedLogStart(p: Int): Long =
    filesOf(p).headOption.map(_.minOffset)
      .getOrElse(producerOffsets.lift(p).getOrElse(0L))

  /** Append freshly committed entries to their partitions. Untouched
    * partitions keep their Vector INSTANCE — publish diffs by `eq` to
    * rewrite only the changed manifests. */
  def appendFiles(entries: Seq[FileEntry]): LogMetadata =
    copy(filesByPart = entries.groupBy(_.part).foldLeft(filesByPart) {
      case (acc, (p, fs)) =>
        acc.updated(p, (acc.getOrElse(p, Vector.empty) ++ fs).sortBy(_.minOffset))
    })
}

object LogMetadata {

  def empty(cfg: TopicConfig): LogMetadata =
    LogMetadata(0L, cfg.clusterSize, cfg.rangesPerToken,
      Vector.fill(cfg.numPartitions)(0L))

  private def hadoopConf = HadoopConf.shared

  def manifestDir(cfg: TopicConfig): String = s"${cfg.dir}/_manifests"

  /** One manifest FILE: either a full snapshot (`parent` None, depth 0) or
    * a tail-append SEGMENT carrying only the entries added since `parent`
    * — so a steady-state commit writes O(its own delta) manifest bytes, not
    * O(partition files). Chains are capped at [[MaxManifestDepth]]; the
    * commit that would exceed it rewrites the full snapshot instead
    * (the periodic-rewrite half of tail-append-with-periodic-rewrite). */
  private[log] final case class ManifestDoc(
      parent: Option[String],
      depth: Int,
      files: Vector[FileEntry])

  private[log] val MaxManifestDepth = 16

  /** Caches, keyed by absolute manifest path. Manifest files are
    * write-once under unique names (version + random suffix) and their
    * parents are equally immutable, so BOTH a segment and its fully
    * resolved chain can never be stale — even across delete-and-recreate
    * of a topic directory, a fresh publish mints fresh names. Bounded:
    * cleared wholesale when they outgrow the cap (re-reads repopulate). */
  private val resolvedCache =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[FileEntry]]()
  private val segmentCache =
    new java.util.concurrent.ConcurrentHashMap[String, ManifestDoc]()
  private val ManifestCacheMax = 4096

  private def cacheResolved(path: String, entries: Vector[FileEntry]): Unit = {
    if (resolvedCache.size > ManifestCacheMax) resolvedCache.clear()
    resolvedCache.put(path, entries)
  }

  private def cacheSegment(path: String, doc: ManifestDoc): Unit = {
    if (segmentCache.size > ManifestCacheMax) segmentCache.clear()
    segmentCache.put(path, doc)
  }

  /** Test hook: force the next read to re-parse manifests from disk. */
  private[log] def clearManifestCachesForTest(): Unit = {
    resolvedCache.clear(); segmentCache.clear()
  }

  private def segmentOf(cfg: TopicConfig, fc: FileContext, name: String): ManifestDoc = {
    val mPath = s"${manifestDir(cfg)}/$name"
    val cached = segmentCache.get(mPath)
    if (cached != null) cached
    else {
      val doc = parseManifestDoc(FsIO.readString(fc, new Path(mPath)))
      cacheSegment(mPath, doc)
      doc
    }
  }

  /** Full file vector reachable from manifest `name`: the segment's own
    * entries appended to its (recursively resolved) parent chain, sorted
    * by offset. Chain contents are immutable given the head name, so the
    * resolution caches at every level. */
  private def resolveChain(
      cfg: TopicConfig, fc: FileContext, name: String): Vector[FileEntry] = {
    val mPath = s"${manifestDir(cfg)}/$name"
    val cached = resolvedCache.get(mPath)
    if (cached != null) cached
    else {
      val doc = segmentOf(cfg, fc, name)
      val full = (doc.parent match {
        case Some(p) => resolveChain(cfg, fc, p) ++ doc.files
        case None => doc.files
      }).sortBy(_.minOffset)
      cacheResolved(mPath, full)
      full
    }
  }

  /** Every manifest name the current root doc depends on: the heads plus
    * their full parent chains — what vacuum must treat as live. */
  def liveManifestNames(cfg: TopicConfig, meta: LogMetadata): Set[String] = {
    val fc = FileContext.getFileContext(new Path(cfg.metadataPath).toUri, hadoopConf)
    val live = scala.collection.mutable.Set.empty[String]
    def walk(name: String): Unit = if (live.add(name))
      scala.util.Try(segmentOf(cfg, fc, name)).toOption
        .flatMap(_.parent).foreach(walk)
    meta.manifestNames.values.foreach(walk)
    live.toSet
  }

  /** Lock-free readers can catch a commit mid-rename: on filesystems whose
    * overwrite-rename is not a single atomic step (the local ChecksumFs
    * renames data + crc separately), the root doc can be transiently
    * absent or half-visible. A topic WITH data but no readable root is
    * therefore re-checked briefly before being reported empty — observed
    * as a reader seeing count drop to 0 mid produce/compact race
    * (PolarChaosSpec). Genuinely fresh topics (no data dir) stay on the
    * immediate-empty fast path. */
  private val MaxReadRetries = 5

  /** Root-doc read counter (diagnostics/specs): one increment per
    * [[read]] call — the number an object store would bill as GETs of
    * the topic doc. Monotone, JVM-wide; tests snapshot-and-diff. */
  val rootReads = new java.util.concurrent.atomic.AtomicLong()

  /** [[read]] only when the topic's root doc is on disk — `None` for a
    * topic that was never produced to. Callers that must not fabricate an
    * empty-topic view (e.g. geometry resolution with catalog-default
    * fallback) use this instead of probing `exists` + `read` twice. */
  def readIfExists(cfg: TopicConfig): Option[LogMetadata] = {
    val path = new Path(cfg.metadataPath)
    val fc = FileContext.getFileContext(path.toUri, hadoopConf)
    // same transient-IOException discipline as read(): a blip on the
    // exists probe must not fail the caller where read() would retry
    var attempt = 0
    while (true) {
      try return if (fc.util().exists(path)) Some(read(cfg)) else None
      catch {
        case e: java.io.IOException =>
          if (attempt >= MaxReadRetries) throw e
          attempt += 1
          Thread.sleep(10L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Update ONLY the per-topic props via CAS-with-retry: a props change
    * commutes with produces (their CAS copies `props` through), so losing
    * a version race to a concurrent producer is never a real conflict —
    * re-read and replay, like `kafka-configs --alter` which never fails
    * because someone is producing. */
  def updateProps(cfg: TopicConfig, maxAttempts: Int = 5)(
      f: Map[String, String] => Map[String, String]): Unit =
    casWithRetry(cfg, maxAttempts)(cur => cur.copy(props = f(cur.props)))

  /** CAS-with-retry for updates that COMMUTE with concurrent producers
    * (props changes, mark clearing, entry removal by identity): losing a
    * version race is never a real conflict — re-read and replay, like
    * `kafka-configs --alter` which never fails because someone is
    * producing. */
  def casWithRetry(cfg: TopicConfig, maxAttempts: Int = 5)(
      f: LogMetadata => LogMetadata): Unit = {
    var attempt = 0
    while (true) {
      try {
        compareAndSet(cfg, read(cfg))(f)
        return
      } catch {
        case e: ConcurrentMetadataException =>
          attempt += 1
          if (attempt >= maxAttempts) throw e
          Thread.sleep(10L * attempt)
      }
    }
  }

  def read(cfg: TopicConfig): LogMetadata = {
    rootReads.incrementAndGet()
    val path = new Path(cfg.metadataPath)
    val fc = FileContext.getFileContext(path.toUri, hadoopConf)
    var attempt = 0
    while (true) {
      val result: Option[LogMetadata] =
        try {
          if (!fc.util().exists(path)) {
            val hasData = fc.util().exists(new Path(cfg.dir))
            if (!hasData || attempt >= MaxReadRetries) Some(empty(cfg)) else None
          } else Some(resolveManifests(cfg, fc, parse(FsIO.readString(fc, path))))
        } catch {
          case e: java.io.IOException =>
            if (attempt >= MaxReadRetries) throw e else None
        }
      result match {
        case Some(m) => return m
        case None =>
          attempt += 1
          Thread.sleep(10L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def resolveManifests(
      cfg: TopicConfig, fc: FileContext, root: LogMetadata): LogMetadata =
    // resolve manifest pointers through the cache; legacy docs carry files
    // inline and have no pointers (first publish upgrades them)
    if (root.manifestNames.isEmpty) root
    else root.copy(filesByPart = root.manifestNames.map { case (p, name) =>
      p -> resolveChain(cfg, fc, name)
    })

  /** Full publish: renders EVERY non-empty partition's manifest (topic
    * creation / format upgrade). Incremental commits go through
    * [[compareAndSet]], which diffs against the current doc. */
  def write(cfg: TopicConfig, meta: LogMetadata): Unit =
    lockFor(cfg).synchronized { publish(cfg, meta, None): Unit }

  /** Per-topic intra-JVM lock: the driver is the only metadata authority
    * (SURVEY §7.1 — no gossip/Paxos), so serializing read-check-publish
    * inside the driver JVM makes the CAS atomic for every committer that
    * can exist. The version check remains as the cross-process guard. */
  private val topicLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(cfg: TopicConfig): Object =
    topicLocks.computeIfAbsent(cfg.metadataPath, _ => new Object)

  /** CAS update: apply `f` to the current metadata iff its version is
    * `expected.version`, else fail — the anti-concurrent-producer guard.
    * Only manifests of partitions whose file vector CHANGED (by `eq`) are
    * rewritten: a commit's metadata I/O is O(its own delta). */
  def compareAndSet(cfg: TopicConfig, expected: LogMetadata)(
      f: LogMetadata => LogMetadata): LogMetadata = lockFor(cfg).synchronized {
    val current = read(cfg)
    // writer-lease fencing, zero extra I/O: the stamp rides the doc this
    // CAS already read — a doc last published under a NEWER lease epoch
    // fences this writer loudly (another driver owns the root now)
    WriterLease.checkStamp(cfg.root, current.writerEpoch)
    if (current.version != expected.version)
      throw new ConcurrentMetadataException(
        s"concurrent producer detected on ${cfg.topic}: metadata version " +
          s"${current.version} != expected ${expected.version}")
    val next = f(current).copy(version = current.version + 1)
    publish(cfg, next, Some(current))
  }

  private def publish(
      cfg: TopicConfig,
      next00: LogMetadata,
      prev: Option[LogMetadata]): LogMetadata = {
    // writer-lease gate: holders validate their deadline in memory (and
    // auto-renew at half-TTL); non-holders refuse while a live foreign
    // lease stands. The published doc carries the MONOTONE lease-epoch
    // stamp — max of what the doc already had (f() copies it through)
    // and this writer's own epoch — which is what compareAndSet's
    // checkStamp fences against.
    WriterLease.checkWrite(cfg.root)
    val next0 = next00.copy(writerEpoch =
      math.max(next00.writerEpoch, WriterLease.heldEpoch(cfg.root)))
    val rootPath = new Path(cfg.metadataPath)
    val fc = FileContext.getFileContext(rootPath.toUri, hadoopConf)
    val prevNames = prev.map(_.manifestNames).getOrElse(Map.empty)
    val prevFiles = prev.map(_.filesByPart).getOrElse(Map.empty)
    val names = next0.filesByPart.collect {
      case (p, v) if v.nonEmpty =>
        val unchanged =
          prevNames.contains(p) && prevFiles.get(p).exists(_ eq v)
        val name =
          if (unchanged) prevNames(p)
          else {
            // O(delta) commit path: when the new vector EXTENDS the
            // previous one (reference-equal prefix — appendFiles shares
            // instances), write only the delta as a tail-append segment
            // pointing at the previous manifest. Depth is capped: the
            // commit that would exceed MaxManifestDepth — and any
            // non-append change (retention/compaction removals) — writes
            // a full snapshot, bounding read fan-in and letting vacuum
            // eventually reclaim long chains.
            val prevV = prevFiles.getOrElse(p, Vector.empty)
            val prevName = prevNames.get(p)
            val isAppend = prevName.isDefined && prevV.nonEmpty &&
              v.length > prevV.length &&
              (0 until prevV.length).forall(i => v(i) eq prevV(i))
            val doc =
              if (isAppend) {
                val prevDepth =
                  scala.util.Try(segmentOf(cfg, fc, prevName.get).depth)
                    .getOrElse(MaxManifestDepth)
                if (prevDepth + 1 <= MaxManifestDepth)
                  ManifestDoc(prevName, prevDepth + 1, v.drop(prevV.length))
                else ManifestDoc(None, 0, v)
              } else ManifestDoc(None, 0, v)
            // write-once unique name: version + random suffix ensures no
            // collision even across topic re-creation at the same path
            val suffix = java.util.UUID.randomUUID().toString.take(8)
            val n = f"part-$p%05d-v${next0.version}-$suffix.json"
            val mPath = new Path(s"${manifestDir(cfg)}/$n")
            val out = fc.create(mPath,
              java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
              Options.CreateOpts.createParent())
            try out.write(renderManifestDoc(doc).getBytes(StandardCharsets.UTF_8))
            finally out.close()
            cacheSegment(mPath.toString, doc)
            cacheResolved(mPath.toString, v)
            n
          }
        p -> name
    }
    val next = next0.copy(manifestNames = names,
      commitMs = System.currentTimeMillis())
    // manifests are durable before the root rename makes them reachable; a
    // crash in between leaves unreferenced manifests for vacuum. The tmp
    // name is unique per publish so no two writers ever share one.
    val tmp = new Path(cfg.metadataPath + ".tmp-" +
      java.util.UUID.randomUUID().toString.take(8))
    val out = fc.create(tmp,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(render(next).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    fc.rename(tmp, rootPath, Options.Rename.OVERWRITE)
    // Retained root snapshot: a write-once copy of the root doc keyed by
    // version — the TIME-TRAVEL anchor ([[readAt]]). Snapshots live in the
    // manifest dir, unreferenced by any live chain, so vacuum reclaims
    // them past manifestGraceMs: as-of reads are guaranteed within the
    // vacuum grace window, exactly like Delta's version retention. Tiny
    // (one JSON doc per commit); failure to write it never fails the
    // commit itself — the head stays authoritative.
    try {
      val snapName = f"root-v${next.version}%011d-" +
        java.util.UUID.randomUUID().toString.take(8) + ".json"
      val sPath = new Path(s"${manifestDir(cfg)}/$snapName")
      val sOut = fc.create(sPath,
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
        Options.CreateOpts.createParent())
      try sOut.write(render(next).getBytes(StandardCharsets.UTF_8))
      finally sOut.close()
    } catch {
      // best-effort contract: NOTHING a snapshot write throws may fail the
      // commit itself (exotic FileContexts surface RuntimeException /
      // UnsupportedOperationException, not just IOException)
      case scala.util.control.NonFatal(_) => ()
    }
    next
  }

  /** Read the topic's metadata AS OF `version` (time travel): resolves the
    * retained root snapshot that [[publish]] wrote for that commit, then
    * its manifest chains. Fails if the snapshot has been vacuumed past the
    * manifest grace window (or predates the feature) — and a read may
    * still fail later if retention/compaction physically removed that
    * version's data files, the same contract as any snapshot-isolated
    * table format. */
  def readAt(cfg: TopicConfig, version: Long): LogMetadata = {
    val dir = new Path(manifestDir(cfg))
    val fc = FileContext.getFileContext(dir.toUri, hadoopConf)
    val prefix = f"root-v$version%011d-"
    val candidates =
      if (!fc.util().exists(dir)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fc.util().listStatus(dir).filter(f =>
        f.isFile && f.getPath.getName.startsWith(prefix))
    if (candidates.isEmpty)
      throw new IllegalArgumentException(
        s"version $version of topic ${cfg.topic} is not retained " +
          "(vacuumed past the manifest grace window, or never committed)")
    // topic re-creation at the same path can leave same-version snapshots:
    // the newest one belongs to the current topic incarnation
    val snap = candidates.maxBy(_.getModificationTime).getPath
    resolveManifests(cfg, fc, parse(FsIO.readString(fc, snap)))
  }

  /** The newest retained commit version whose commit time is at or before
    * `tsMicros` (epoch micros) — `TIMESTAMP AS OF` resolution. Commit time
    * comes from the `commitMs` field INSIDE the snapshot doc (stamped by
    * [[publish]]), so resolution survives copy/rsync/object-store
    * migration where file mtimes are rewritten; the mtime is only the
    * fallback for legacy pre-commitMs snapshots. Commit times are monotone
    * with version order per topic incarnation, so the lookup binary-
    * searches the version-sorted snapshot list and reads O(log n) tiny
    * docs, never the whole retained set. */
  def versionAt(cfg: TopicConfig, tsMicros: Long): Long = {
    val dir = new Path(manifestDir(cfg))
    val fc = FileContext.getFileContext(dir.toUri, hadoopConf)
    val SnapRe = """root-v(\d+)-.*\.json""".r
    val snaps =
      if (!fc.util().exists(dir)) Array.empty[(Long, org.apache.hadoop.fs.FileStatus)]
      else fc.util().listStatus(dir).flatMap(f => f.getPath.getName match {
        case SnapRe(v) if f.isFile => Some(v.toLong -> f)
        case _ => None
      })
    if (snaps.isEmpty)
      throw new IllegalArgumentException(
        s"no retained commit of topic ${cfg.topic} at or before " +
          s"timestamp $tsMicros (earliest retained: none)")
    // topic re-creation at the same path can leave same-version snapshots:
    // the newest mtime belongs to the current incarnation (readAt's rule)
    val byVersion = snaps.groupBy(_._1).map { case (v, fs) =>
      v -> fs.maxBy(_._2.getModificationTime)._2
    }.toArray.sortBy(_._1)
    // (commitMicros, isLegacy) per index, memoized — the binary search
    // reads O(log n) docs, the legacy fallback at most all of them once
    val cache = new java.util.HashMap[Int, (Long, Boolean)]()
    def at(i: Int): (Long, Boolean) = {
      val hit = cache.get(i)
      if (hit != null) hit
      else {
        val st = byVersion(i)._2
        val ms = try parse(FsIO.readString(fc, st.getPath)).commitMs
          catch { case scala.util.control.NonFatal(_) => 0L }
        val r = ((if (ms > 0) ms else st.getModificationTime) * 1000L, ms == 0L)
        cache.put(i, r)
        r
      }
    }
    // The binary search needs commit times MONOTONE with version order.
    // In-doc commitMs guarantees that; the MTIME fallback for legacy
    // (commitMs=0) snapshots does not — an rsync/copy migration rewrites
    // legacy mtimes to "now", putting huge times at LOW versions. Legacy
    // docs predate commitMs, so they form a version PREFIX: if the lowest
    // retained version is non-legacy, every doc is non-legacy and the
    // search is safe; otherwise fall back to the linear filter+max the
    // pre-binary-search code used (reads every doc once, still tiny).
    val found =
      if (byVersion.nonEmpty && at(0)._2) {
        var best = -1
        var i = 0
        while (i < byVersion.length) {
          if (at(i)._1 <= tsMicros && (best < 0 ||
              byVersion(i)._1 > byVersion(best)._1)) best = i
          i += 1
        }
        best
      } else {
        var lo = 0
        var hi = byVersion.length - 1
        var f = -1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (at(mid)._1 <= tsMicros) { f = mid; lo = mid + 1 }
          else hi = mid - 1
        }
        f
      }
    if (found < 0)
      throw new IllegalArgumentException(
        s"no retained commit of topic ${cfg.topic} at or before " +
          s"timestamp $tsMicros (earliest retained: ${at(0)._1})")
    byVersion(found)._1
  }

  /** Retained commit history, oldest first: the parsed root snapshot DOC
    * of every version `readAt`/`versionAt` can still resolve — the
    * `DESCRIBE HISTORY` surface of the table formats, bounding exactly
    * what time travel can reach. Header-only parse (manifest chains are
    * NOT resolved), so the cost is O(retained snapshots) tiny doc reads —
    * the same set vacuum bounds with its grace window. Duplicate versions
    * from topic re-creation resolve to the newest incarnation (the
    * [[readAt]] rule). */
  def history(cfg: TopicConfig): Seq[LogMetadata] = {
    val dir = new Path(manifestDir(cfg))
    val fc = FileContext.getFileContext(dir.toUri, hadoopConf)
    val SnapRe = """root-v(\d+)-.*\.json""".r
    val snaps =
      if (!fc.util().exists(dir)) Array.empty[(Long, org.apache.hadoop.fs.FileStatus)]
      else fc.util().listStatus(dir).flatMap(f => f.getPath.getName match {
        case SnapRe(v) if f.isFile => Some(v.toLong -> f)
        case _ => None
      })
    snaps.groupBy(_._1).toSeq
      .map { case (_, fs) => fs.maxBy(_._2.getModificationTime)._2 }
      .flatMap(st => scala.util.Try(parse(FsIO.readString(fc, st.getPath))).toOption)
      .sortBy(_.version)
  }

  // -- doc serde: renders are hand-rolled so every doc stays byte-stable
  //    under its format stamp; parses read through JsonText's strict
  //    Jackson parse, so a torn or trailing-garbage doc refuses instead of
  //    reading as a partial view ----------------------------------------

  private[log] def render(m: LogMetadata): String = {
    val manifests = m.manifestNames.toSeq.sorted.map { case (p, n) =>
      s"""[$p,"$n"]"""
    }.mkString(",")
    // sink ids are checkpoint paths: hex-encode so the hand-rolled JSON
    // stays escape-free; the optional third element is the entry's last
    // commit wall-clock (txn-retention pruning anchor)
    val sinks = m.sinkCommits.toSeq.sorted.map { case (id, b) =>
      m.sinkCommitMs.get(id) match {
        case Some(ms) => s"""["${hexEncode(id)}",$b,$ms]"""
        case None => s"""["${hexEncode(id)}",$b]"""
      }
    }.mkString(",")
    val props = m.props.toSeq.sorted.map { case (k, v) =>
      s""""${graft.functions.JsonText.escape(k)}":"${graft.functions.JsonText.escape(v)}""""
    }.mkString(",")
    // conditional format stamps (same rule as manifest cleanedMs): only
    // docs that actually CARRY the newer field stamp the newer format, so
    // plain topics stay readable by older binaries. A writer-lease stamp
    // forces format 8 deliberately — see the field doc.
    val rootFmt =
      if (m.writerEpoch > 0L) LeaseFormat
      else if (m.pendingDeletes.nonEmpty) PendingFormat
      else DenseFormat
    val pending = m.pendingDeletes
      .map(pd => s"""[${pd.part},"${pd.name}",${pd.dueMs}]""").mkString(",")
    s"""{"format":$rootFmt,""" +
      (if (m.writerEpoch > 0L) s""""writerEpoch":${m.writerEpoch},""" else "") +
      s""""version":${m.version},"clusterSize":${m.clusterSize},""" +
      s""""rangesPerToken":${m.rangesPerToken},""" +
      s""""commitMs":${m.commitMs},""" +
      s""""producerOffsets":[${m.producerOffsets.mkString(",")}],""" +
      s""""sinkCommits":[$sinks],""" +
      (if (m.props.isEmpty) "" else s""""props":{$props},""") +
      (if (m.logStarts.isEmpty) ""
       else s""""logStarts":[${m.logStarts.mkString(",")}],""") +
      (if (m.pendingDeletes.isEmpty) ""
       else s""""pendingDeletes":[$pending],""") +
      s""""manifests":[$manifests]}"""
  }

  private[log] def renderManifest(files: Vector[FileEntry]): String =
    renderManifestDoc(ManifestDoc(None, 0, files))

  private[log] def renderManifestDoc(doc: ManifestDoc): String = {
    val fmt =
      if (doc.files.exists(_.txn.isDefined)) TxnFormat
      else if (doc.files.exists(_.cleanedMs >= 0)) CleanedFormat
      else if (doc.files.exists(f => f.count > 0 && !f.dense)) SparseFormat
      else DenseFormat
    val head = doc.parent match {
      case Some(p) =>
        s"""{"format":$fmt,"parent":"$p","depth":${doc.depth},"files":["""
      case None => s"""{"format":$fmt,"files":["""
    }
    doc.files.map { f =>
      // a txn mark forces the full tuple (cleanedMs rendered even when -1,
      // the epoch even when unknown) so the optional-suffix grammar stays
      // position-unambiguous
      val tail = f.txn match {
        case Some(id) => s""",${f.cleanedMs},"${hexEncode(id)}",${f.txnEpoch}"""
        case None => if (f.cleanedMs >= 0) s",${f.cleanedMs}" else ""
      }
      s"""[${f.part},"${f.name}",${f.minOffset},${f.maxOffset},${f.count},""" +
        s"""${f.bytes},${f.createdMs},${f.tsMin},${f.tsMax},${f.tsNulls}$tail]"""
    }.mkString(head, ",", "]}")
  }

  /** Highest metadata/manifest doc shape this reader understands. Bumped
    * whenever a tuple gains a field (the round-9 tsNulls/sinkCommitMs
    * additions taught us that regex parsers FAIL SILENT on unknown shapes
    * — zero matches reads as an empty topic) OR whenever existing fields
    * change SEMANTICS an older reader relies on. Writers stamp it; readers
    * refuse anything newer instead of fabricating an empty view. Docs with
    * no "format" field predate the stamp and parse as before (their tuple
    * shapes are all <= format 2).
    *
    * Format 3 = offset-SPARSE file entries (key compaction): the tuple
    * shape is unchanged, but a pre-r10 reader would equate offset spans
    * with row counts (LIMIT caps, top-N cuts) and return SHORT results
    * silently, and would mis-derive the log start. Only manifests that
    * actually CONTAIN a sparse entry stamp 3 — dense topics stay readable
    * by older binaries.
    *
    * Format 4 = structural `cleanedMs` (11th tuple element, rendered only
    * on entries that carry one): a pre-r12 reader's entry regex would not
    * match the longer tuple and read the manifest as EMPTY — fail-silent,
    * so the stamp refuses it loudly. Manifests with no cleaned entry keep
    * stamping 2/3, readable by older binaries. */
  /** Format 5 = root-doc `pendingDeletes` ledger (file.delete.delay.ms):
    * the entries' semantics — "these unregistered on-disk files are NOT
    * orphans yet" — is exactly what an older vacuum would violate by
    * reclaiming them early, so docs that carry entries refuse older
    * readers loudly. Ledger-free docs keep stamping 2.
    *
    * Format 6 = producer-transaction marks (12th tuple element, rendered
    * only on marked entries): an older reader's regex would silently read
    * a marked manifest as EMPTY, and even a shape-tolerant reader would
    * serve UNCOMMITTED (possibly soon-aborted) records to consumers that
    * asked for committed data — so manifests carrying a mark refuse older
    * readers loudly. Mark-free manifests keep their older stamps; marks
    * are transient (commit clears, abort removes), so topics revert to
    * broadly readable formats as transactions resolve.
    *
    * Format 7 = epoch-stamped txn marks (13th tuple element, r14): a
    * format-6 reader's regex would read the longer tuple as an EMPTY
    * manifest — fail-silent — so marked manifests now stamp 7. Same
    * transience as format 6: topics revert as transactions resolve;
    * r13-written format-6 marks still parse (epoch reads as -1,
    * resolution falls back to the id-only rule). */
  /** Format 8 = writer-lease stamp in the ROOT doc (r15, `writerEpoch`):
    * the stamp is the cross-process fencing floor, so a pre-lease binary —
    * whose render would silently DROP it on the next CAS, re-opening the
    * two-driver corruption hole the lease closes — must refuse loudly.
    * Only lease-guarded roots ever stamp it; unleased deployments keep
    * their older formats. */
  private[log] val CurrentFormat = 8
  private[log] val LeaseFormat = 8
  private[log] val TxnFormat = 7
  private[log] val PendingFormat = 5
  private[log] val CleanedFormat = 4
  private[log] val SparseFormat = 3
  private[log] val DenseFormat = 2

  private def checkFormat(doc: JsonNode, what: String): Unit =
    JsonText.longField(doc, "format").filter(_ > CurrentFormat).foreach { v =>
      throw new IllegalStateException(
        s"$what uses metadata format $v; this reader supports <= " +
          s"$CurrentFormat. Upgrade the reader before consuming this topic.")
    }

  private[log] def parseManifestDoc(s: String): ManifestDoc = {
    val doc = JsonText.parseObject(s)
    checkFormat(doc, "manifest doc")
    // segment entry order is the append order — do NOT sort here; the
    // chain resolver sorts the concatenated result once
    ManifestDoc(Option(doc.get("parent")).map(JsonText.text),
      JsonText.longField(doc, "depth").fold(0)(intOf),
      arrayOf(doc, "files").map(entryOf).toVector)
  }

  // a file tuple: [part,"name",min,max,count,bytes,createdMs] plus the
  // optional suffix tsMin,tsMax,tsNulls,cleanedMs,"txnHex",txnEpoch
  private def entryOf(t: JsonNode): FileEntry = {
    require(t.isArray && t.size >= 7 && t.size <= 13, s"malformed file entry $t")
    def at(i: Int, absent: Long): Long =
      if (i < t.size) JsonText.long(t.get(i)) else absent
    FileEntry(intOf(at(0, 0L)), JsonText.text(t.get(1)), at(2, 0L),
      at(3, 0L), at(4, 0L), at(5, 0L), at(6, 0L),
      // ts stats are a round-4 addition: absent in older manifests →
      // full-range sentinel (never prune); the null count is round-9 —
      // absent → -1 (unknown: min/max pruning stays sound, order-based
      // pruning refuses)
      at(7, Long.MinValue), at(8, Long.MaxValue), at(9, -1L),
      // cleanedMs is a round-12 addition: absent → -1 (never cleaned /
      // legacy — the cleaner falls back to the kc-name parse)
      at(10, -1L),
      // producer-txn mark (r13): hex-encoded transactional.id, absent on
      // plain committed segments
      if (t.size > 11) Some(hexDecode(JsonText.text(t.get(11)))) else None,
      // the mark's fencing epoch (r14): absent in r13 manifests → -1
      // (unknown — resolution falls back to the id-only rule)
      at(12, -1L))
  }

  private[log] def parseManifest(s: String): Vector[FileEntry] =
    parseManifestDoc(s).files.sortBy(_.minOffset)

  private[log] def hexEncode(s: String): String =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => f"${b & 0xff}%02x").mkString

  private[log] def hexDecode(h: String): String = {
    val out = new Array[Byte](h.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = Integer.parseInt(h.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    new String(out, java.nio.charset.StandardCharsets.UTF_8)
  }

  private def intOf(v: Long): Int = {
    require(v >= 0L && v <= Int.MaxValue, s"expected a non-negative int, got $v")
    v.toInt
  }

  // the array field `name` of `doc` (empty when an optional one is absent)
  private def arrayOf(doc: JsonNode, name: String, optional: Boolean = false): Iterator[JsonNode] =
    Option(doc.get(name)) match {
      case Some(a) if a.isArray => a.elements.asScala
      case None if optional => Iterator.empty
      case other => throw new IllegalArgumentException(
        s"metadata field '$name' must be an array, got ${other.getOrElse("nothing")}")
    }

  private[log] def parse(s: String): LogMetadata = {
    val doc = JsonText.parseObject(s)
    checkFormat(doc, "topic root doc")
    def longField(name: String): Long = JsonText.longField(doc, name)
      .getOrElse(throw new IllegalArgumentException(s"missing $name in metadata: $s"))
    val offsets = arrayOf(doc, "producerOffsets").map(JsonText.long).toVector
    // sink ids are hex-encoded; pre-r9 entries carry no commit timestamp
    val sinkTuples = arrayOf(doc, "sinkCommits", optional = true).map { t =>
      require(t.isArray && (t.size == 2 || t.size == 3), s"malformed sink commit $t")
      (hexDecode(JsonText.text(t.get(0))), JsonText.long(t.get(1)),
        if (t.size == 3) Some(JsonText.long(t.get(2))) else None)
    }.toVector
    val sinks = sinkTuples.map { case (id, b, _) => id -> b }.toMap
    val sinkMs = sinkTuples.collect { case (id, _, Some(ms)) => id -> ms }.toMap
    // current docs point at per-partition manifests; legacy docs (pre
    // manifest-list) carry [part,"name",min,max,count,bytes,createdMs]
    // file tuples inline — read both, publish always writes the new shape
    val (byPart, names) =
      if (doc.has("manifests"))
        (Map.empty[Int, Vector[FileEntry]],
          arrayOf(doc, "manifests").map { t =>
            require(t.isArray && t.size == 2, s"malformed manifest pointer $t")
            intOf(JsonText.long(t.get(0))) -> JsonText.text(t.get(1))
          }.toMap)
      else {
        val files = arrayOf(doc, "files", optional = true).map(entryOf).toVector
        (files.groupBy(_.part).map { case (p, v) => p -> v.sortBy(_.minOffset) },
          Map.empty[Int, String])
      }
    // per-topic config overrides (r10): a flat string → string object
    val props = Option(doc.get("props")).map { o =>
      require(o.isObject, s"metadata field 'props' must be an object, got $o")
      o.properties.asScala.map(e => e.getKey -> JsonText.text(e.getValue)).toMap
    }.getOrElse(Map.empty[String, String])
    val pendingDeletes = arrayOf(doc, "pendingDeletes", optional = true).map { t =>
      require(t.isArray && t.size == 3, s"malformed pending delete $t")
      PendingDelete(intOf(JsonText.long(t.get(0))), JsonText.text(t.get(1)),
        JsonText.long(t.get(2)))
    }.toVector
    LogMetadata(longField("version"), intOf(longField("clusterSize")),
      intOf(longField("rangesPerToken")), offsets, byPart, sinks, names,
      // commitMs is a round-8 addition: absent in older docs → 0 (legacy,
      // mtime fallback in versionAt)
      JsonText.longField(doc, "commitMs").getOrElse(0L), sinkMs, props,
      arrayOf(doc, "logStarts", optional = true).map(JsonText.long).toVector,
      pendingDeletes,
      // writer-lease stamp (r15): absent in pre-lease docs → 0 (unleased)
      JsonText.longField(doc, "writerEpoch").getOrElse(0L))
  }
}

/** Thrown when a CAS publish loses to a concurrent committer — the write
  * path catches it to rebase-and-retry (many-producers support). */
final class ConcurrentMetadataException(msg: String)
  extends IllegalStateException(msg)
