package graft.log

import com.fasterxml.jackson.databind.JsonNode
import graft.functions.JsonText
import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/**
 * Consumer-group offset state for the batch consume path — the Spark
 * rendition of the reference's offset commit store
 * (`/root/reference/internal/consuming/offset_state.go:28-137,456-490`):
 * per (group, topic), the next offset to read per partition, persisted as an
 * atomically-renamed JSON document under `{topic}/_groups/{group}.json`
 * (replacing SQLite + gossip — the driver/shared storage is the single
 * authority).
 *
 * Reset policies mirror `onNewGroup` (`internal/types/models_offset.go:94-111`):
 *  - `Earliest`: a brand-new group starts at offset 0 everywhere;
 *  - `Latest`: a brand-new group starts at the current producer tails (only
 *    records produced after registration are seen).
 *
 * Delivery contract: [[poll]] returns records in `[committed, tail)` and
 * only [[commit]] advances the committed state — uncommitted polls re-serve
 * the same records (at-least-once redelivery, the origin-rewind semantics of
 * `internal/data/segment_reader.go:115-135`). `goodbye` = commit + forget,
 * like `POST /v1/consumer/goodbye` (`internal/consuming/server.go:448-488`).
 */
object ConsumerGroups {

  sealed trait ResetPolicy
  case object Earliest extends ResetPolicy
  case object Latest extends ResetPolicy

  /** A poll's window: the position it started from, the position to commit
    * once its records are processed, and the records themselves, planned on
    * first use (a caller that finds the window empty plans no scan). */
  final case class Poll(startOffsets: Map[Int, Long], nextOffsets: Map[Int, Long])(
      scan: => DataFrame) {
    lazy val records: DataFrame = scan
  }

  /** Group names become file names under `{topic}/_groups/` — the same
    * path-safety rule as topics (no separators, no traversal), minus the
    * reserved-prefix restriction (an `_`-prefixed group is harmless). */
  def validGroupName(name: String): Boolean =
    name.nonEmpty && name.length <= 255 &&
      name.forall(c => c.isLetterOrDigit || c == '-' || c == '_' || c == '.')

  private def groupPath(cfg: TopicConfig, group: String): Path = {
    require(validGroupName(group), s"Invalid group name: '$group'")
    new Path(s"${cfg.groupsDir}/$group.json")
  }

  def committed(cfg: TopicConfig, group: String): Option[Map[Int, Long]] =
    readDoc(cfg, group).map(_._1)

  // the raw doc: (offsets, writerEpoch stamp). Stamp 0 = written by an
  // unleased driver (or a pre-r16 binary) — checkStamp treats it as
  // unguarded, exactly like an unstamped root doc. Only the shape
  // [[render]] writes is adopted: a torn, truncated or overflowing doc (a
  // crashed rename on an exotic store) fails LOUDLY here, never parses to
  // a partial map that silently rewinds absent partitions to 0.
  private def readDoc(
      cfg: TopicConfig, group: String): Option[(Map[Int, Long], Long)] = {
    val path = groupPath(cfg, group)
    val fc = FileContext.getFileContext(path.toUri, HadoopConf.shared)
    if (!fc.util().exists(path)) return None
    val text = FsIO.readString(fc, path)
    try {
      val doc = JsonText.parseObject(text)
      val (offsets, epoch) = (parseOffsets(doc), JsonText.longField(doc, "writerEpoch"))
      require(doc.size == 1 + epoch.size &&
        (offsets.values ++ epoch).forall(_ >= 0L), "not the shape render writes")
      Some((offsets, epoch.getOrElse(0L)))
    } catch {
      case e: IllegalArgumentException => throw new IllegalStateException(
        s"group document for '$group' on ${cfg.topic} is corrupt " +
          s"(${text.take(64)}…); refusing to adopt a partial position — " +
          "restore it or delete the doc to re-register from the reset policy", e)
    }
  }

  def commit(cfg: TopicConfig, group: String, nextOffsets: Map[Int, Long]): Unit =
    // the group's stripe lock makes the WHOLE write atomic same-driver
    // (every caller, not only the merge paths — two concurrent first-poll
    // registrations previously interleaved on one shared tmp name and
    // could publish a torn doc); plain commit stays last-write-wins BY
    // DESIGN across committers (Kafka's OffsetCommit), the quiesce
    // contract covers concurrent committers of one group.
    lockFor(cfg, group).synchronized {
      // the stamp read only matters to a LEASED writer (checkStamp is a
      // no-op at heldEpoch 0 — unleased writers are governed by
      // checkWrite's probe): don't tax the default deployment's hottest
      // commit path with a doc read whose answer is ignored
      val stamp =
        if (WriterLease.heldEpoch(cfg.root) > 0L)
          readDoc(cfg, group).map(_._2).getOrElse(0L)
        else 0L
      writeDoc(cfg, group, nextOffsets, stamp)
    }

  // The guarded group-doc write every commit path funnels through, called
  // under the group's stripe lock with the CURRENT doc's stamp:
  //  - checkWrite — the time-based gate (a fenced driver's own deadline
  //    check fails before the rename can clobber a successor's merge);
  //  - checkStamp — the offsets-path twin of root-doc stamp fencing
  //    (r16): a doc already stamped by a NEWER lease epoch fences this
  //    writer even while its local deadline still looks live, shrinking
  //    the forced-takeover zombie window on consumer positions from
  //    ≤1 TTL to one commit;
  //  - the write stamps this holder's own epoch (0 = unleased, field
  //    omitted — byte-identical docs for the default deployment).
  private def writeDoc(
      cfg: TopicConfig, group: String,
      nextOffsets: Map[Int, Long], docEpoch: Long): Unit = {
    WriterLease.checkWrite(cfg.root)
    WriterLease.checkStamp(cfg.root, docEpoch)
    val path = groupPath(cfg, group)
    // writer-unique tmp: cross-process committers must not clobber each
    // other's staged bytes mid-rename (same discipline as the root doc)
    val tmp = new Path(path.toString + ".tmp-" +
      java.util.UUID.randomUUID().toString.take(8))
    val fc = FileContext.getFileContext(path.toUri, HadoopConf.shared)
    val out = fc.create(tmp,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(render(nextOffsets, WriterLease.heldEpoch(cfg.root))
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    fc.rename(tmp, path, Options.Rename.OVERWRITE)
  }

  /** Starting offsets for a group: committed state, or — for a brand-new
    * group — the reset policy's defaults, which are PERSISTED immediately
    * (registration pins the start, like `PUT /v1/consumer/register`): a
    * Latest group that polls twice without committing must re-serve the same
    * records, not skip whatever was produced in between. */
  def startingOffsets(
      cfg: TopicConfig, group: String, policy: ResetPolicy,
      isolation: String = "read_uncommitted"): Map[Int, Long] =
    committed(cfg, group).getOrElse(
      register(cfg, group, policy, readView(cfg, isolation)))

  /** The registration write behind [[startingOffsets]], against an
    * ALREADY-RESOLVED view — what the poll paths use so one poll round
    * resolves the registry + isolation exactly once, first poll included
    * (a txn commit landing between two resolutions would otherwise make
    * the Latest pin and the admission disagree by one view). */
  private def register(
      cfg: TopicConfig, group: String, policy: ResetPolicy,
      meta: LogMetadata): Map[Int, Long] = {
    val start = policy match {
      case Earliest => (0 until cfg.numPartitions).map(_ -> 0L).toMap
      // a read_committed consumer's "latest" is the LSO, not the raw
      // tail (Kafka resolves ListOffsets at the LSO for such consumers):
      // pinning at the uncommitted tail would permanently skip the
      // held-back records once their transaction commits
      case Latest => PolarLog.tailsOf(meta)
    }
    commit(cfg, group, start) // registration
    start
  }

  /** One consume round: everything from the group's position to the current
    * tails — or, with `maxBytes`, a byte-bounded chunk of it (the
    * reference's `ConsumerReadThreshold` 2 MiB admission,
    * `internal/consuming/group_read_queue.go:87-170`). Does NOT advance the
    * position — call [[commit]] with `nextOffsets` after the batch is safely
    * processed (manual commit), or use [[pollAndCommit]]. */
  def poll(
      spark: SparkSession,
      cfg: TopicConfig,
      group: String,
      policy: ResetPolicy = Latest,
      maxBytes: Option[Long] = None,
      // Kafka's CONSUMER isolation.level: read_committed polls resolve
      // producer-transaction marks and stop at the LSO
      isolation: String = "read_uncommitted",
      // record-count admission cap for library callers that bound a
      // batch by records — applied after the byte cap when both are set
      maxRecords: Option[Long] = None): Poll =
    window(spark, cfg, group, policy, isolation, _ => true, maxBytes, maxRecords)

  /** The one poll window behind [[poll]] and [[pollAs]]. ONE
    * isolation-resolved registry view (resolved once, first poll included)
    * drives the registration pin, tails, admission AND the scan, so a txn
    * committing mid-round can never make them disagree. Assigned
    * partitions get `[start, tail)`; every other partition gets the empty
    * `[start, start)`, which plans none of its files. The byte cap, then
    * the record cap, bound the window. It never rewinds: a group whose
    * committed position sits ABOVE the current LSO (committed under
    * read_uncommitted, polled under read_committed) gets an empty window,
    * not backward nextOffsets that a commit would regress the group with.
    * `nextOffsets` covers only the assigned partitions. */
  private def window(
      spark: SparkSession,
      cfg: TopicConfig,
      group: String,
      policy: ResetPolicy,
      isolation: String,
      assigned: Int => Boolean,
      maxBytes: Option[Long],
      maxRecords: Option[Long]): Poll = {
    val meta = readView(cfg, isolation)
    val start = committed(cfg, group).getOrElse(register(cfg, group, policy, meta))
    val tails = PolarLog.tailsOf(meta).map { case (p, t) =>
      p -> (if (assigned(p)) t else start.getOrElse(p, 0L))
    }
    val endB = maxBytes.fold(tails)(byteCapEnd(meta, start, tails, _))
    val endR = maxRecords.fold(endB)(recordCapEnd(meta, start, endB, _))
    val end = endR.map { case (p, e) => p -> math.max(e, start.getOrElse(p, 0L)) }
    Poll(start, end.filter { case (p, _) => assigned(p) })(
      PolarLog.consumeAt(spark, cfg, meta, startOffsets = start, endOffsets = end))
  }

  /** The isolation-resolved registry view one poll round plans against. */
  private def readView(cfg: TopicConfig, isolation: String): LogMetadata = {
    require(isolation == "read_uncommitted" || isolation == "read_committed",
      s"isolation must be 'read_uncommitted' or 'read_committed', got '$isolation'")
    val meta = LogMetadata.read(cfg)
    if (isolation == "read_committed")
      Transactions.readCommittedView(cfg.root, meta)
    else meta
  }

  /**
   * Byte-bounded end offsets with a FAIR per-partition budget split — the
   * batch-path mirror of the streaming source's `maxBytesPerTrigger`
   * admission, both standing in for the reference's
   * round-robin-until-threshold read queue
   * (`internal/consuming/group_read_queue.go:115-118`). Pure metadata
   * arithmetic: each partition's pending registry files are walked in
   * offset order, charging `records × bytes/record` from the file's exact
   * stats — no file I/O.
   *
   * Fairness (stateless round-robin parity): the cap is split EVENLY
   * across the backlogged partitions first, then one ascending
   * redistribution pass hands what the short backlogs left unspent to the
   * still-hungry ones — so a partition whose inflow continuously exceeds
   * the whole cap can no longer starve the others (it gets its even
   * share; they get theirs), while a single hot partition with everyone
   * else idle still receives the full cap. At least one record is
   * admitted whenever any is pending (progress guarantee).
   */
  def byteCapEnd(
      meta: LogMetadata,
      start: Map[Int, Long],
      end: Map[Int, Long],
      maxBytes: Long): Map[Int, Long] =
    fairCapEnd(meta, start, end, maxBytes, chargeBytes = true)

  /** Record-count-bounded end offsets — same fair split and progress
    * guarantee as [[byteCapEnd]] with a per-record charge: the binary poll
    * response's item count is a u16, so one poll must never admit more
    * than 65535 records. A file admitted WHOLE is charged its exact
    * registry `count` (sparse compacted files hold far fewer records than
    * their offset span — span-charging was a severe throughput cliff: a
    * 65535 budget admitted only a fraction of that many real records). A
    * PARTIAL slice still charges its raw offset span: a sparse sub-span
    * may be locally dense, and the u16 is a hard wire limit — pro-rating
    * an estimate could overshoot it, so under-serve only at the final
    * boundary file (the remainder is served by subsequent polls after
    * auto-commit). */
  def recordCapEnd(
      meta: LogMetadata,
      start: Map[Int, Long],
      end: Map[Int, Long],
      maxRecords: Long): Map[Int, Long] =
    fairCapEnd(meta, start, end, maxRecords, chargeBytes = false)

  // One partition's admission walk: advance from `pos0` toward `tail`
  // spending at most `budget` (bytes or records), returning the final
  // position, the amount spent, and the records admitted. `forceOne`
  // admits one record even on a zero budget (the caller's global progress
  // guarantee — per-partition forcing would overshoot the cap B-fold).
  private final case class Walk(pos: Long, spent: Long, recs: Long)
  private def advanceWalk(
      meta: LogMetadata, p: Int, pos0: Long, tail: Long,
      budget: Long, chargeBytes: Boolean, forceOne: Boolean): Walk = {
    var pos = pos0
    var spent = 0L
    var recs = 0L
    var prevMax = -1L
    meta.filesOf(p)
      .filter(f => f.maxOffset >= pos0 && f.minOffset < tail)
      .foreach { f =>
        // a gap below this file holds no records (trimmed/compacted) —
        // jump it for free or the walk never admits anything (stall).
        // Only a REAL gap jumps: a budget stop MID-file leaves records
        // behind, and jumping would serve them uncounted.
        if (pos < f.minOffset && pos > prevMax) pos = f.minOffset
        prevMax = f.maxOffset
        val lo = math.max(pos, f.minOffset)
        val hi = math.min(tail - 1, f.maxOffset)
        if (lo <= hi && pos >= f.minOffset) {
          val left = budget - spent
          if (chargeBytes) {
            val perRecord = math.max(1L, f.bytes / math.max(1L, f.count))
            val affordable = math.max(left / perRecord,
              if (recs > 0 || !forceOne) 0L else 1L)
            val take = math.min(hi - lo + 1, affordable)
            if (take > 0) {
              pos = lo + take
              spent += take * perRecord
              recs += take
            }
          } else {
            val affordable = math.max(left,
              if (recs > 0 || !forceOne) 0L else 1L)
            val wholeFile = lo == f.minOffset && hi == f.maxOffset
            if (wholeFile && f.count <= affordable) {
              // exact: the registry knows precisely how many records a
              // whole file contributes — no estimate involved
              pos = hi + 1
              spent += f.count
              recs += f.count
            } else {
              val take = math.min(hi - lo + 1, affordable)
              if (take > 0) {
                pos = lo + take
                spent += take
                recs += take
              }
            }
          }
        }
      }
    Walk(pos, spent, recs)
  }

  // The shared fair-split driver behind [[byteCapEnd]] / [[recordCapEnd]]:
  // pass 1 gives every backlogged partition an even cap/B share; pass 2
  // redistributes the unspent remainder (short backlogs + the integer
  // remainder) ascending over the still-backlogged partitions; a final
  // global progress guarantee forces one record when the cap admitted none
  // anywhere but records are pending.
  private def fairCapEnd(
      meta: LogMetadata,
      start: Map[Int, Long],
      end: Map[Int, Long],
      cap: Long,
      chargeBytes: Boolean): Map[Int, Long] = {
    val parts = end.toSeq.sortBy(_._1)
    val result = scala.collection.mutable.Map.empty[Int, Long]
    val backlogged = parts.flatMap { case (p, tail) =>
      val s = start.getOrElse(p, 0L)
      if (s >= tail) { result(p) = tail; None } // caught up: empty window
      else Some((p, s, tail))
    }
    if (backlogged.isEmpty) return result.toMap
    var budget = cap
    val share = cap / backlogged.size
    var admitted = 0L
    // pass 1: even share per backlogged partition
    val after1 = backlogged.map { case (p, s, tail) =>
      val w = advanceWalk(meta, p, s, tail, share, chargeBytes, forceOne = false)
      budget -= w.spent
      admitted += w.recs
      (p, tail, w.pos)
    }
    // pass 2: hand the leftover to the still-hungry, ascending
    val after2 = after1.map { case (p, tail, pos) =>
      if (budget > 0 && pos < tail) {
        val w = advanceWalk(meta, p, pos, tail, budget, chargeBytes, forceOne = false)
        budget -= w.spent
        admitted += w.recs
        (p, tail, w.pos)
      } else (p, tail, pos)
    }
    after2.foreach { case (p, _, pos) => result(p) = pos }
    // progress guarantee: a cap below one record's charge still serves one
    if (admitted == 0L) {
      val it = after2.iterator
      var forced = false
      while (!forced && it.hasNext) {
        val (p, tail, pos) = it.next()
        if (pos < tail) {
          val w = advanceWalk(meta, p, pos, tail, 0L, chargeBytes, forceOne = true)
          if (w.recs > 0) { result(p) = w.pos; forced = true }
        }
      }
    }
    result.toMap
  }

  /**
   * Deterministic multi-consumer assignment (SURVEY §2 A16): the flat
   * `(brokerIndex, rangeIndex)` units of the ring are round-robined over the
   * group's SORTED member ids — the reference's `setConsumerAssignment`
   * (`/root/reference/internal/consuming/consumer_state.go:308-350`,
   * `docs/developer/CONSUMER_ASSIGNMENT.md`): iterating brokers in index
   * order and ranges within each broker while cycling the consumer index
   * assigns flat unit `p` to member `p mod n`. Members beyond the unit count
   * receive nothing; an uneven split gives earlier members one extra unit —
   * both exactly the reference's behavior. Every member computes the same
   * assignment from the same member list (no coordinator needed), which is
   * the reference's gossip-shared deterministic rebalance collapsed to pure
   * arithmetic.
   */
  def assignment(cfg: TopicConfig, memberIds: Seq[String]): Map[String, Seq[Int]] = {
    require(memberIds.nonEmpty, "assignment needs at least one member")
    val sorted = memberIds.distinct.sorted
    val base = (0 until cfg.numPartitions).groupBy(p => sorted(p % sorted.size))
    sorted.map(m => m -> base.getOrElse(m, Seq.empty).toSeq).toMap
  }

  /** One consume round for ONE member of a shared group: only the member's
    * assigned partitions are planned and served, under the same byte and
    * record caps as [[poll]]; `nextOffsets` covers only those, so a
    * [[commitPartial]] never clobbers the other members' progress. */
  def pollAs(
      spark: SparkSession,
      cfg: TopicConfig,
      group: String,
      memberId: String,
      memberIds: Seq[String],
      policy: ResetPolicy = Latest,
      isolation: String = "read_uncommitted",
      maxBytes: Option[Long] = None,
      maxRecords: Option[Long] = None): Poll = {
    val mine = assignment(cfg, memberIds).getOrElse(memberId,
      throw new IllegalArgumentException(s"$memberId not in member list")).toSet
    window(spark, cfg, group, policy, isolation, mine, maxBytes, maxRecords)
  }

  /** Registered consumer groups of a topic — one directory listing of the
    * group docs (the `--list` view of Kafka's group tooling). */
  def listGroups(cfg: TopicConfig): Seq[String] = {
    val dir = new Path(cfg.groupsDir)
    val fs = dir.getFileSystem(HadoopConf.shared)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).iterator
      .map(_.getPath.getName)
      .filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json"))
      .filter(validGroupName)
      .toSeq.sorted
  }

  /** One partition's lag row: committed next-offset, producer tail, and
    * the records pending between them. */
  final case class GroupLag(part: Int, committed: Long, tail: Long, lag: Long)

  /** Per-partition lag of a registered group — (committed, tail, lag) for
    * every partition, the first operational surface every log operator
    * asks for (the `--describe` view of Kafka's group tooling; the
    * reference's consumers derive it from their offset state +
    * `maxProducedOffset`, `internal/consuming/offset_state.go`). Pure
    * driver-side metadata arithmetic: the group's committed doc plus the
    * topic's producer tails — no file I/O, no scan. Unregistered groups
    * fail loudly (a silent all-zero answer would read as "caught up"). */
  def groupLag(cfg: TopicConfig, group: String): Seq[GroupLag] = {
    val comm = committed(cfg, group).getOrElse(
      throw new IllegalArgumentException(
        s"group '$group' is not registered on topic ${cfg.topic}"))
    val tails = PolarLog.tails(cfg)
    (0 until cfg.numPartitions).map { p =>
      val c = comm.getOrElse(p, 0L)
      val t = tails.getOrElse(p, 0L)
      GroupLag(p, c, t, math.max(t - c, 0L))
    }
  }

  /** Offset-reset modes — `kafka-consumer-groups --reset-offsets` parity:
    * to-earliest / to-latest / to-timestamp / shift-by. */
  sealed trait ResetMode
  case object ToEarliest extends ResetMode
  case object ToLatest extends ResetMode
  /** First record with event time >= tsMicros (record-exact, the
    * [[PolarLog.offsetsForTimestamp]] seek). */
  final case class ToTimestamp(tsMicros: Long) extends ResetMode
  /** committed + n per partition, clamped to [earliest, tail]. */
  final case class ShiftBy(n: Long) extends ResetMode

  /** The log-start offset per partition: the first surviving segment's
    * min offset (retention can trim the head), or the tail when the
    * partition holds nothing. Pure registry arithmetic. */
  def earliestOffsets(cfg: TopicConfig): Map[Int, Long] = {
    val meta = LogMetadata.read(cfg)
    // Kafka's earliest = logStartOffset: below it was trimmed with intent;
    // at/above it offsets may be sparse (compaction) — starting there reads
    // every survivor
    (0 until cfg.numPartitions).map(p => p -> meta.logStart(p)).toMap
  }

  /**
   * Reset a REGISTERED group's committed offsets (`kafka-consumer-groups
   * --reset-offsets` parity) and persist the new positions; returns them.
   * Unregistered groups fail loudly — resetting a group into existence
   * would silently bypass the reset-policy registration contract. All
   * modes are driver-side metadata arithmetic except `ToTimestamp`, which
   * runs the bounded record-exact seek (one candidate-file read per
   * partition). The caller is responsible for quiescing live members — the
   * same contract as Kafka's tool (which requires the group inactive).
   */
  def resetOffsets(
      spark: SparkSession,
      cfg: TopicConfig,
      group: String,
      mode: ResetMode): Map[Int, Long] = {
    val current = committed(cfg, group).getOrElse(
      throw new IllegalArgumentException(
        s"group '$group' is not registered on topic ${cfg.topic}"))
    val tails = PolarLog.tails(cfg)
    val next: Map[Int, Long] = mode match {
      case ToEarliest => earliestOffsets(cfg)
      case ToLatest => tails
      case ToTimestamp(ts) => PolarLog.offsetsForTimestamp(spark, cfg, ts)
      case ShiftBy(n) =>
        val lo = earliestOffsets(cfg)
        (0 until cfg.numPartitions).map { p =>
          val c = current.getOrElse(p, 0L) + n
          p -> math.max(lo.getOrElse(p, 0L),
            math.min(c, tails.getOrElse(p, 0L)))
        }.toMap
    }
    commit(cfg, group, next)
    next
  }

  // same-driver serialization of group-document read-modify-writes: the
  // driver is the only metadata authority (SURVEY §7.1), so a JVM stripe
  // lock makes the merge commits atomic everywhere they can actually race
  // (a sweep's finalize replay vs a consumer's commit-on-poll run in the
  // same driver); CONCURRENT committers in separate processes remain
  // under the quiesce contract, same as Kafka's group semantics.
  private val groupLocks = Array.fill(256)(new Object)
  private def lockFor(cfg: TopicConfig, group: String): Object =
    groupLocks(java.lang.Math.floorMod(
      s"${cfg.root}/${cfg.topic}#$group".hashCode, 256))

  /** Merge-commit a member's partitions into the group document (the other
    * members' offsets are preserved). */
  def commitPartial(cfg: TopicConfig, group: String, nextOffsets: Map[Int, Long]): Unit =
    lockFor(cfg, group).synchronized {
      val doc = readDoc(cfg, group)
      writeDoc(cfg, group, doc.map(_._1).getOrElse(Map.empty) ++ nextOffsets,
        doc.map(_._2).getOrElse(0L))
    }

  /** Merge-commit that NEVER REWINDS: each partition takes the max of the
    * current and offered position, read and written under the group's
    * stripe lock (a read-then-write racing a same-driver advance would
    * otherwise overwrite it). The transactional offset-apply path —
    * replay-safe. */
  def commitFloor(cfg: TopicConfig, group: String, nextOffsets: Map[Int, Long]): Unit =
    lockFor(cfg, group).synchronized {
      val doc = readDoc(cfg, group)
      val cur = doc.map(_._1).getOrElse(Map.empty)
      // DOCUMENTED TRADE-OFF vs Kafka's TxnOffsetCommit (last-write-wins,
      // rewinds permitted): a staged rewind here silently no-ops at the
      // commit point — replay safety is worth more than rewind-in-a-txn,
      // and deliberate rewinds have a dedicated tool (resetOffsets). Warn
      // so a deliberate reprocess doesn't fail to move the group silently.
      val rewinds = nextOffsets.filter { case (p, o) => o < cur.getOrElse(p, 0L) }
      if (rewinds.nonEmpty) System.err.println(
        s"[polar] group '$group' on ${cfg.topic}: transactional offsets " +
          s"below the committed position ignored (never-rewind floor) for " +
          s"partitions ${rewinds.keys.toSeq.sorted.mkString(",")}; use " +
          "ConsumerGroups.resetOffsets for a deliberate rewind")
      writeDoc(cfg, group, cur ++ nextOffsets.map { case (p, o) =>
        p -> math.max(o, cur.getOrElse(p, 0L))
      }, doc.map(_._2).getOrElse(0L))
    }

  /** Auto-commit analog (`internal/conf/config.go:264-266`'s 5 s auto-commit
    * collapsed to commit-on-poll for the batch path). The returned frame is
    * bounded by the poll's [start, end) offsets over an immutable log, so it
    * yields the same records whenever evaluated — committing first is safe. */
  def pollAndCommit(
      spark: SparkSession,
      cfg: TopicConfig,
      group: String,
      policy: ResetPolicy = Latest): DataFrame = {
    val p = poll(spark, cfg, group, policy)
    commit(cfg, group, p.nextOffsets)
    p.records
  }

  /** Commit + unregister: the group's state file is removed, so a future
    * group with the same name starts fresh from its reset policy
    * (`internal/consuming/server.go:448-488`). */
  def goodbye(cfg: TopicConfig, group: String, nextOffsets: Map[Int, Long]): Unit = {
    commit(cfg, group, nextOffsets)
    val path = groupPath(cfg, group)
    val fc = FileContext.getFileContext(path.toUri, HadoopConf.shared)
    if (fc.util().exists(path)) fc.delete(path, false)
  }

  private[graft] def render(offsets: Map[Int, Long], writerEpoch: Long = 0L): String = {
    val body = offsets.toSeq.sorted.map { case (p, o) => s""""$p":$o""" }
      .mkString("{\"offsets\":{", ",", "}")
    // epoch 0 (unleased) omits the field — docs stay byte-identical to the
    // pre-stamp format for the default deployment
    if (writerEpoch > 0L) s"""$body,"writerEpoch":$writerEpoch}""" else s"$body}"
  }

  /** The `offsets` map of a group doc [[render]] wrote. */
  private[graft] def parseOffsets(s: String): Map[Int, Long] =
    parseOffsets(JsonText.parseObject(s))

  private[log] def parseOffsets(doc: JsonNode): Map[Int, Long] =
    offsetsOf(doc.path("offsets"))

  /** A bare `{"<partition>": offset, ...}` map, as the SQL procedures and
    * the HTTP txn endpoint take it. */
  private[graft] def parseOffsetMap(s: String): Map[Int, Long] =
    offsetsOf(JsonText.parseObject(s))

  // every key a partition number, every value an integer — anything else
  // refuses
  private def offsetsOf(n: JsonNode): Map[Int, Long] = {
    require(n.isObject, s"expected a {\"partition\": offset} object, got $n")
    n.properties.asScala.map { e =>
      val p = e.getKey
      require(p.nonEmpty && p.length <= 9 && p.forall(c => c >= '0' && c <= '9'),
        s"partition '$p' is not a partition number")
      p.toInt -> JsonText.long(e.getValue)
    }.toMap
  }
}
