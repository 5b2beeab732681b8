package graft.log

import graft.functions.JsonText
import org.apache.hadoop.fs.Path

/**
 * Producer transactions (Kafka EOS parity): multiple produces — across
 * topics and across jobs — under one `transactional.id`, atomically visible
 * to `isolation.level=read_committed` readers at the commit point, all
 * reclaimed on abort.
 *
 * The reference has no transactions (its produce path is per-request,
 * `/root/reference/internal/producing/server.go:126-151`); this is the
 * natural completion of the routed-commit journal machinery
 * ([[TxnJournal]]), reshaped to Kafka's producer-transaction model:
 *
 *  - Transactional produces REGISTER normally (dense offsets from the
 *    shared tails, one CAS per produce — Kafka appends uncommitted records
 *    to the log the same way), but every registered [[FileEntry]] carries
 *    the transaction id AND the producing incarnation's epoch
 *    ([[FileEntry.txn]], [[FileEntry.txnEpoch]]). Default
 *    (`read_uncommitted`) readers see them immediately, per Kafka.
 *  - A `read_committed` scan resolves the marked entries' transaction
 *    states at planning ([[readCommittedView]]): files of OPEN
 *    transactions are excluded and each partition's readable tail is
 *    capped at its LSO — the first offset any open transaction holds —
 *    so later-committed records never overtake an open transaction
 *    (Kafka's last-stable-offset rule). Aborted-but-unreclaimed files are
 *    excluded outright; their offsets become gaps, exactly like Kafka's
 *    aborted records. Resolution is (id, epoch)-exact: a fenced
 *    incarnation's leftover marks read as aborted even while a NEWER
 *    incarnation of the same id is open or committed.
 *  - COMMIT and ABORT race through ONE arbiter: the exclusive create of
 *    `terminal.json` ([[decideTerminal]]) — the first writer's kind
 *    stands, the loser follows it. A loser that cannot READ the standing
 *    kind retries and then FAILS; it never proceeds with its own kind (a
 *    guessed kind could half-apply a commit over an abort). COMMIT's
 *    marker (the commit point) then clears the marks topic-by-topic
 *    through the normal CAS, applies any consumer-group offsets the
 *    transaction staged ([[sendOffsets]] — Kafka's
 *    `sendOffsetsToTransaction`), and drops the transaction directory.
 *    A crash mid-finalize is safe: readers treat marked entries whose
 *    transaction shows a commit marker — or whose directory is GONE with
 *    no contradicting finalize record — as committed; the sweep's
 *    [[recover]] finishes the mark-clearing and the offset application.
 *  - ABORT wins the arbiter, unregisters every marked entry via CAS
 *    (offsets stay consumed — a dense-offset gap, handled by the
 *    admission walks' gap jumps), reclaims the files (through the
 *    `file.delete.delay.ms` ledger when the topic defers deletes),
 *    discards staged consumer-group offsets, and drops the directory.
 *  - TIMEOUT: the retention sweep aborts open transactions idle past
 *    their `timeoutMs` (Kafka's `transaction.timeout.ms`, coordinator
 *    role). Produces heartbeat the transaction, so a long-running
 *    multi-produce transaction is not aborted underneath itself.
 *  - FENCING: `begin` on an id with a live transaction aborts it and
 *    mints a strictly larger epoch; produces and commits verify their
 *    handle's epoch — a zombie producer's writes refuse loudly (Kafka's
 *    producer-epoch fencing). Epochs are monotone across FULL finalize
 *    cycles and backwards clock steps: each finalize records the
 *    incarnation's epoch in a per-id high-water file that SURVIVES the
 *    directory drop (`<hex(id)>.last`), and `begin` mints past it.
 *
 * State lives under `{root}/_polar_txn_producers/<hex(id)>/`:
 * `open.json` (epoch, timeout) → `t-<topic>.json` touch files (written
 * BEFORE each produce's CAS, so every marked entry's topic is always
 * discoverable) and `g-<hex(topic)>-<hex(group)>.json` staged
 * consumer-group offsets → `terminal.json` (exclusive-create arbiter,
 * kind commit|abort + epoch) → `<hex(id)>.last` finalize record →
 * directory removed (open.json first, so a concurrent [[state]] never
 * reads a finalizing txn as freshly open).
 */
object Transactions {

  def dir(root: String): String = s"$root/_polar_txn_producers"

  /** Kafka's `transaction.timeout.ms` default. */
  val DefaultTimeoutMs: Long = 60000L

  /** Kafka's `transactional.id.expiration.ms` default (7 days): finalize
    * records ([[lastRecord]]) of ids idle past this are pruned by the
    * sweep, bounding the `_polar_txn_producers` listing under
    * UUID-per-job id churn. The traded-off protections (epoch floor,
    * Unknown-mark resolution) only matter within an id's active lifetime —
    * the same reasoning as Kafka's coordinator expiring idle ids. */
  val IdExpirationMs: Long = 7L * 24 * 3600 * 1000

  /** Consecutive failed recovery sweeps after which a transaction is
    * surfaced as `failed` in the admin inventory (`polar.system.txns()`,
    * `GET /v1/admin/txns`) — an operator-action queue, not a log line. */
  val FailedSweepThreshold: Int = 3

  final case class TxnHandle(root: String, txnId: String, epoch: Long)

  sealed trait TxnState
  /** Live: produces may stage; `ageAnchorMs` is the newest progress mark
    * (open.json or the produce heartbeat), what [[recover]]'s timeout is
    * measured against. */
  final case class Open(epoch: Long, ageAnchorMs: Long, timeoutMs: Long)
      extends TxnState
  /** Commit point durable; mark-clearing / offset application may still be
    * pending. `epoch` is the committed incarnation's (-1 = r13 marker,
    * unknown). */
  final case class Committed(epoch: Long = -1L) extends TxnState
  /** Abort decided; entry removal / file reclamation may be pending. */
  final case class Aborted(epoch: Long = -1L) extends TxnState
  /** No directory: never began, or fully finalized. Marked entries that
    * still reference such an id resolve against the id's finalize record
    * ([[lastRecord]]): with none — or with a mark from an OLDER epoch —
    * they are COMMITTED leftovers (abort removes entries before it removes
    * the directory); a mark carrying exactly the last-aborted epoch, or
    * one NEWER than any finalized epoch, is a zombie produce that raced
    * the finalize and reads as aborted. */
  case object Unknown extends TxnState

  private def txnPath(root: String, txnId: String) =
    new Path(s"${dir(root)}/${LogMetadata.hexEncode(txnId)}")

  /** Per-id finalize record, a SIBLING of the txn directory so it survives
    * the directory drop: the epoch high-water mark `begin` mints past
    * (clock-step fencing safety) and the terminal kind [[state]]-Unknown
    * mark resolution consults. */
  private def lastPath(root: String, txnId: String) =
    new Path(s"${dir(root)}/${LogMetadata.hexEncode(txnId)}.last")

  private def fsOf(p: Path) = p.getFileSystem(HadoopConf.shared)

  // same-driver serialization of begin/commit/abort/recover per id — the
  // driver is the only metadata authority (SURVEY §7.1), so this makes the
  // marker writes race-free where they can race at all; the deterministic
  // arbiter in [[decideTerminal]] covers cross-process overlap. STRIPED
  // (bounded): a long-lived driver churning UUID-per-job ids must not leak
  // one lock object per id for the JVM lifetime — stripes serialize
  // strictly more than per-id locks, never less. 1024 stripes keep the
  // odds of an unrelated id sharing a stripe with a stuck arbiter retry
  // (worst case ~1s on a torn marker) below 0.1%.
  private val lockStripes = Array.fill(1024)(new Object)
  private def lockFor(root: String, txnId: String): Object =
    lockStripes(java.lang.Math.floorMod(s"$root#$txnId".hashCode, 1024))

  /** `read` of the doc at `p`, retried briefly: a just-created marker may
    * be momentarily empty or torn (create precedes the content write).
    * None = absent, or still unreadable (or `read` None) after retries. */
  private def readDoc[T](fs: org.apache.hadoop.fs.FileSystem, p: Path)(
      read: com.fasterxml.jackson.databind.JsonNode => Option[T]): Option[T] = {
    var attempt = 0
    while (attempt < 5) {
      try {
        if (!fs.exists(p)) return None
        val got = read(JsonText.parseObject(FsIO.read(p)))
        if (got.isDefined) return got
      } catch { case _: java.io.IOException | _: IllegalArgumentException => () }
      attempt += 1
      Thread.sleep(10)
    }
    None
  }

  /** The (kind, epoch) standing in a marker/record file. Epoch is -1 for
    * r13-written markers. */
  private def kindOf(
      fs: org.apache.hadoop.fs.FileSystem, p: Path): Option[(String, Long)] =
    readDoc(fs, p)(d => Option(d.get("kind")).map(k =>
      JsonText.text(k) -> JsonText.longField(d, "epoch").getOrElse(-1L)))

  /** open.json's (epoch, timeoutMs); a torn one reads as absent. */
  private def openOf(
      fs: org.apache.hadoop.fs.FileSystem, p: Path): Option[(Long, Long)] =
    readDoc(fs, p)(d => Some((JsonText.longField(d, "epoch").getOrElse(1L),
      JsonText.longField(d, "timeoutMs").getOrElse(DefaultTimeoutMs))))

  /** The id's finalize record: (epoch, kind) of the LAST fully finalized
    * incarnation. None = never finalized (or a pre-r14 finalize). */
  private[graft] def lastRecord(
      root: String, txnId: String): Option[(Long, String)] = {
    val p = lastPath(root, txnId)
    kindOf(fsOf(p), p).map { case (k, e) => (e, k) }
  }

  /** Durably record the finalize (epoch high-water + terminal kind) BEFORE
    * the directory drop — what keeps epoch minting monotone across clock
    * steps and lets Unknown-state marks resolve correctly. Monotone: never
    * overwritten with a LOWER epoch (idempotent finalize replays of an old
    * incarnation must not regress the high-water mark). ATOMIC: written to
    * a tmp sibling and renamed over, so a crash mid-write can never leave
    * an empty/torn record (which would silently drop both protections). */
  private def writeLast(root: String, txnId: String, epoch: Long, kind: String): Unit = {
    // FIRST finalize wins at a given epoch (>=, not >): the arbiter decides
    // exactly one kind per incarnation, so a same-epoch record must never
    // be overwritten — a transiently-resurrected wrong-kind marker read by
    // a concurrent sweep could otherwise flip an applied abort to "commit"
    val keep = lastRecord(root, txnId).exists { case (e, _) => e >= epoch }
    if (keep) return
    val p = lastPath(root, txnId)
    // FsIO.replace in its two halves, so the re-check below sits between
    // them; the staged tmp is writer-unique, so concurrent cross-process
    // finalize replays never clobber each other's bytes mid-rename
    val tmp = FsIO.stage(p,
      s"""{"format":1,"kind":"$kind","epoch":$epoch,""" +
        s""""ms":${System.currentTimeMillis()}}""")
    // re-check right before the rename: same-JVM writers are serialized by
    // the caller's stripe lock, and this shrinks the cross-process
    // check-to-rename window (a second driver replaying an OLD finalize)
    // from the tmp-write's duration to microseconds — the residual race
    // is covered by the single-metadata-authority deployment contract
    // (SURVEY §7.1: one driver owns a root's control plane)
    if (lastRecord(root, txnId).exists { case (e, _) => e >= epoch }) {
      try fsOf(tmp).delete(tmp, false): Unit
      catch { case _: java.io.IOException => () }
      return
    }
    FsIO.publish(tmp, p)
  }

  /** The ATOMIC commit-vs-abort arbiter: exclusive-create `terminal.json`
    * with `kind` (+ the incarnation's epoch); the FIRST writer's kind
    * stands and is returned — a loser reads the winner's kind and must
    * follow it. A loser that cannot read the standing kind after bounded
    * retries THROWS — it never defaults to its own kind, because a guessed
    * kind could half-apply a commit over an abort (or vice versa) under
    * cross-process I/O flake. (Same-JVM races are additionally serialized
    * by [[lockFor]]; the exclusive create is the cross-process guard.) */
  private[log] def decideTerminal(
      root: String, txnId: String, kind: String, reason: String,
      epoch: Long): String = {
    val d = txnPath(root, txnId)
    val p = new Path(d, "terminal.json")
    val fs = fsOf(p)
    // resolve BEFORE creating anything when a finalize of this (or a newer)
    // incarnation already completed — the common resurrection case never
    // publishes a transient wrong-kind marker at all (the post-create guard
    // below only remains for a finalize landing inside this tiny gap)
    lastRecord(root, txnId) match {
      case Some((le, recordedKind)) if epoch >= 0 && le >= epoch =>
        if (le == epoch) return recordedKind
        else throw new IllegalStateException(
          s"transaction '$txnId' (epoch $epoch) was finalized " +
            s"concurrently at epoch $le; this handle is fenced")
      case _ => ()
    }
    var attempt = 0
    var lastErr: java.io.IOException = null
    while (attempt < 10) {
      try {
        FsIO.create(p,
          s"""{"format":1,"kind":"$kind","reason":"$reason",""" +
            s""""epoch":$epoch,"ms":${System.currentTimeMillis()}}""")
        // RESURRECTION GUARD: FsIO.create makes missing parents, so the
        // "exclusive" create can succeed in a freshly re-created directory
        // AFTER a concurrent finalize fully dropped it — our kind would
        // then stand for a transaction whose opposite decision already
        // applied. The winner's finalize wrote the .last record BEFORE the
        // drop: a record at (or past) our epoch proves the resurrection —
        // undo the marker and follow the recorded kind instead.
        lastRecord(root, txnId) match {
          case Some((le, recordedKind)) if epoch >= 0 && le >= epoch =>
            // undo the resurrected marker, RETRYING: left behind inside a
            // successor incarnation's directory it would read as that
            // directory's terminal state
            var undo = 0
            var undone = false
            while (!undone && undo < 5) {
              try { if (fs.exists(p)) fs.delete(p, false); undone = true }
              catch {
                case _: java.io.IOException => undo += 1; Thread.sleep(10L * (undo + 1))
              }
            }
            // the auto-created dir itself: only if we left it empty (a
            // successor's files legitimately keep it alive)
            try fs.delete(d, false): Unit
            catch { case _: java.io.IOException => () }
            if (le == epoch) return recordedKind
            else throw new IllegalStateException(
              s"transaction '$txnId' (epoch $epoch) was finalized " +
                s"concurrently at epoch $le; this handle is fenced")
          case _ => return kind
        }
      } catch {
        case e: java.io.IOException =>
          lastErr = e
          // marker already exists (lost the race) or transient flake:
          // read the standing kind — only a READ kind may be followed,
          // and only when its EPOCH matches this incarnation (a stale
          // resurrected marker a failed undo left behind must not be
          // adopted by a successor as its own decision; mismatched
          // epochs fall through to the retry/throw discipline)
          kindOf(fs, p) match {
            case Some((k, me)) if me < 0 || epoch < 0 || me == epoch => return k
            case Some(_) => () // wrong-epoch leftover: retry, then throw
            case None =>
              // directory gone: the txn fully finalized under our feet —
              // the finalize record is the durable answer
              val dirGone = try !fs.exists(d)
                catch { case _: java.io.IOException => false }
              if (dirGone) {
                lastRecord(root, txnId) match {
                  case Some((le, k)) if epoch < 0 || le < 0 || le == epoch =>
                    return k
                  case _ => throw new IllegalStateException(
                    s"transaction '$txnId' (epoch $epoch) was finalized " +
                      "concurrently and its terminal kind cannot be " +
                      "determined; retry the operation", e)
                }
              }
          }
      }
      attempt += 1
      Thread.sleep(15L * attempt)
    }
    throw new IllegalStateException(
      s"cannot decide terminal state of transaction '$txnId': the arbiter " +
        "marker is unreadable after repeated attempts (refusing to guess " +
        s"'$kind' — a wrong kind would half-apply)", lastErr)
  }

  def state(root: String, txnId: String): TxnState = {
    val d = txnPath(root, txnId)
    val fs = fsOf(d)
    var attempt = 0
    while (true) {
      try {
        if (!fs.exists(d)) return Unknown
        val openP = new Path(d, "open.json")
        def openState(): Option[Open] = openOf(fs, openP).map { case (e, t) =>
          val anchor = (Seq(fs.getFileStatus(openP).getModificationTime) ++
            (if (fs.exists(new Path(d, "hb")))
              Seq(fs.getFileStatus(new Path(d, "hb")).getModificationTime)
            else Seq.empty)).max
          Open(e, anchor, t)
        }
        val termP = new Path(d, "terminal.json")
        kindOf(fs, termP) match {
          case Some((k, e)) =>
            // STALE-LEFTOVER GUARD: a marker whose epoch is LOWER than the
            // live open.json's can only be a resurrected-marker undo that
            // failed all its delete retries (decideTerminal's guard) —
            // trusting it would let recover() apply the OLD incarnation's
            // kind over the LIVE successor (and drop its directory).
            // Ignore it as this directory's terminal state; CLEAR it (its
            // presence also wedges the successor's own arbiter — same file
            // name, exclusive create) only with durable PROOF of staleness:
            // the id's finalize record at/past the marker's epoch. A delete
            // on the epoch comparison alone could race a concurrent
            // finalize-then-begin-then-commit ladder and remove the LIVE
            // successor's just-created marker (its .last is written only by
            // finalize) — re-opening the dual-decision half-apply. The
            // stripe lock below serializes against every same-process
            // arbiter write; the re-read inside confirms the marker is
            // still the one we judged stale.
            openState() match {
              case Some(live) if e >= 0 && live.epoch > e =>
                val finalized = lastRecord(root, txnId)
                  .exists { case (le, _) => le >= e }
                if (finalized) lockFor(root, txnId).synchronized {
                  try {
                    if (kindOf(fs, termP).exists { case (_, e2) => e2 == e })
                      fs.delete(termP, false): Unit
                  } catch { case _: java.io.IOException => () }
                }
                // without the finalize-record proof the marker stays (the
                // live txn's commit will fail loudly on the wedged arbiter
                // — operator-visible, never silently mis-resolved)
                return live
              case _ =>
                return if (k == "commit") Committed(e) else Aborted(e)
            }
          case None =>
            openState() match {
              case Some(live) => return live
              case None =>
                // finalize deletes open.json BEFORE the directory, so this
                // state is either a torn begin (no or a torn open.json,
                // nothing staged) or a finalize already past its
                // mark-resolution — Aborted is safe for both (recover's Aborted handling is idempotent)
                return if (fs.exists(d)) Aborted() else Unknown
            }
        }
      } catch {
        // a concurrent finalize can delete files between the probes: if
        // the directory itself is gone the answer is Unknown; a still-
        // present directory retries (transient), then propagates
        case e: java.io.IOException =>
          if (!(try fs.exists(d) catch { case _: java.io.IOException => true }))
            return Unknown
          attempt += 1
          if (attempt >= 5) throw e
          Thread.sleep(10L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Start (or fence-and-restart) the transaction `txnId`. An existing
    * open transaction under this id is ABORTED first (the new producer
    * incarnation fences the zombie); unfinalized terminal states are
    * finalized. The minted epoch strictly exceeds every earlier one —
    * including across full finalize cycles and backwards clock steps,
    * via the [[lastRecord]] high-water mark. */
  def begin(
      root: String,
      txnId: String,
      timeoutMs: Long = DefaultTimeoutMs): TxnHandle =
    lockFor(root, txnId).synchronized {
      require(txnId.nonEmpty && txnId.length <= 120,
        s"transactional.id must be 1-120 chars, got ${txnId.length}")
      require(timeoutMs > 0, s"transaction timeout must be positive, got $timeoutMs")
      // writer-lease gate: the txn lifecycle mutates root-level state
      // (directories, markers, finalize records) outside any topic CAS
      WriterLease.checkWrite(root)
      val prevEpoch = state(root, txnId) match {
        case Open(e, _, _) =>
          // fence the zombie — but an already-won commit stands (the
          // arbiter decides; a fencing begin must not roll back a commit
          // whose marker landed first)
          decideTerminal(root, txnId, "abort", "fenced", e) match {
            case "commit" => finalizeCommit(root, txnId, e)
            case _ => finalizeAbort(root, txnId, e)
          }
          e
        case Committed(e) => finalizeCommit(root, txnId, e); e
        case Aborted(e) => finalizeAbort(root, txnId, e); e
        case Unknown => 0L
      }
      // monotone across full finalize cycles AND clock steps: the finalize
      // record's epoch high-water mark survives the directory drop, so a
      // backwards NTP correction can never re-mint a finalized epoch
      val floor = math.max(prevEpoch, lastRecord(root, txnId).map(_._1).getOrElse(0L))
      val epoch = math.max(floor + 1, System.currentTimeMillis())
      FsIO.replace(new Path(txnPath(root, txnId), "open.json"),
        s"""{"format":1,"epoch":$epoch,"timeoutMs":$timeoutMs,""" +
          s""""startMs":${System.currentTimeMillis()}}""")
      TxnHandle(root, txnId, epoch)
    }

  /** Produce-side guard: the transaction must be open under exactly the
    * handle's epoch. Refreshes the heartbeat so the timeout measures from
    * last progress. Throws with a fencing-shaped message otherwise. */
  def requireOpen(root: String, txnId: String, epoch: Long): Unit =
    state(root, txnId) match {
      case Open(e, _, _) if e == epoch =>
        FsIO.replace(new Path(txnPath(root, txnId), "hb"), "1")
      case Open(e, _, _) => throw new IllegalStateException(
        s"producer fenced: transactional.id '$txnId' was re-begun " +
          s"(epoch $e, this producer holds $epoch)")
      case other => throw new IllegalStateException(
        s"transactional.id '$txnId' is not open (state: $other); " +
          "call Transactions.begin first")
    }

  /** Record (durably, BEFORE the produce's CAS) that this transaction
    * stages into `topic` — what commit/abort/recovery enumerate. */
  def touchTopic(root: String, txnId: String, topic: String): Unit = {
    require(TopicConfig.validNewTopicName(topic),
      s"invalid transactional topic '$topic'")
    // an existing stub means an earlier produce already recorded the topic
    try FsIO.create(new Path(txnPath(root, txnId), s"t-$topic.json"), "{}")
    catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => () }
  }

  /**
   * Kafka's `sendOffsetsToTransaction`: stage `group`'s next-offsets for
   * `cfg.topic` INSIDE the transaction, so the consume-transform-produce
   * loop is exactly-once — the group's position and the transaction's
   * produces become visible atomically at the commit point (a crash
   * between "produce committed" and "offsets committed" cannot
   * double-process). Applied by the commit finalize, discarded by abort;
   * a later send for the same (topic, group) replaces the earlier one,
   * per Kafka. Reference anchor for the manual-commit op this
   * strengthens: `/root/reference/internal/consuming/server.go:421-488`.
   */
  def sendOffsets(
      h: TxnHandle,
      cfg: TopicConfig,
      group: String,
      nextOffsets: Map[Int, Long]): Unit =
    lockFor(h.root, h.txnId).synchronized {
      require(cfg.root == h.root,
        s"transaction handle roots differ: '${h.root}' vs topic root '${cfg.root}'")
      require(ConsumerGroups.validGroupName(group), s"Invalid group name: '$group'")
      WriterLease.checkWrite(h.root)
      requireOpen(h.root, h.txnId, h.epoch)
      val p = new Path(txnPath(h.root, h.txnId),
        s"g-${LogMetadata.hexEncode(cfg.topic)}-${LogMetadata.hexEncode(group)}.json")
      // EPOCH-STAMPED, like the file-entry marks: requireOpen-then-write is
      // not atomic, so a cross-process zombie's write can race a fencing
      // begin() and land inside the SUCCESSOR incarnation's directory
      // (txnPath is per-id, not per-epoch). The finalize applies only
      // entries stamped with the finalizing epoch — a zombie's staged
      // offsets are discarded, never adopted by a commit that did not
      // stage them.
      FsIO.replace(p,
        s"""{"epoch":${h.epoch},${ConsumerGroups.render(nextOffsets).stripPrefix("{")}""")
    }

  private val StagedOffsetsRe = """^g-([0-9a-f]*)-([0-9a-f]*)\.json$""".r

  /** The transaction's staged consumer-group offsets:
    * (topic, group, offsets, fileName, stagingEpoch). Epoch is -1 for
    * pre-r15 staged files (no stamp — resolved id-only, like r13 marks). */
  private def stagedOffsets(
      root: String, txnId: String): Seq[(String, String, Map[Int, Long], String, Long)] = {
    val d = txnPath(root, txnId)
    val fs = fsOf(d)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.flatMap { s =>
      s.getPath.getName match {
        case StagedOffsetsRe(topicHex, groupHex) =>
          // a torn staging refuses: read as a prefix it could carry a
          // smaller epoch or a partial offsets map
          val (offsets, epoch) =
            try {
              val doc = JsonText.parseObject(FsIO.read(s.getPath))
              (ConsumerGroups.parseOffsets(doc),
                JsonText.longField(doc, "epoch").getOrElse(-1L))
            } catch {
              case e: IllegalArgumentException => throw new IllegalStateException(
                s"staged offsets ${s.getPath} of transaction '$txnId' are " +
                  s"unreadable (${e.getMessage}); refusing to guess them", e)
            }
          Some((LogMetadata.hexDecode(topicHex), LogMetadata.hexDecode(groupHex),
            offsets, s.getPath.getName, epoch))
        case _ => None
      }
    }
  }

  private def touchedTopics(root: String, txnId: String): Seq[String] = {
    val d = txnPath(root, txnId)
    val fs = fsOf(d)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("t-") && n.endsWith(".json"))
      .map(_.stripPrefix("t-").stripSuffix(".json"))
  }

  private def topicCfg(root: String, topic: String): Option[TopicConfig] =
    LogMetadata.readIfExists(TopicConfig(root, topic)).map(m =>
      TopicConfig(root, topic, m.clusterSize, m.rangesPerToken))

  private def casRetry(cfg: TopicConfig)(f: LogMetadata => LogMetadata): Unit =
    LogMetadata.casWithRetry(cfg, maxAttempts = 8)(f)

  /** Does this mark belong to the resolving incarnation? Epoch-exact when
    * both sides know their epoch; id-only otherwise (r13 marks / markers). */
  private def sameIncarnation(markEpoch: Long, epoch: Long): Boolean =
    markEpoch < 0 || epoch < 0 || markEpoch == epoch

  /** Make the transaction's produces durable-visible to `read_committed`:
    * write the commit point, clear the marks, apply the staged
    * consumer-group offsets, drop the directory. The commit point alone
    * already decides visibility (readers resolve marked entries against
    * it), so a crash anywhere past it converges via [[recover]]. */
  def commit(h: TxnHandle): Unit = lockFor(h.root, h.txnId).synchronized {
    WriterLease.checkWrite(h.root)
    state(h.root, h.txnId) match {
      case Open(e, _, _) if e == h.epoch =>
        // the arbiter decides: if a timeout abort won the race, its
        // reclamation may already be running — surface it, never
        // half-apply a commit over it
        decideTerminal(h.root, h.txnId, "commit", "explicit", h.epoch) match {
          case "commit" => finalizeCommit(h.root, h.txnId, h.epoch)
          case _ => throw new IllegalStateException(
            s"transaction '${h.txnId}' was aborted (timed out?) before the " +
              "commit point landed; its produces are rolled back")
        }
      case Open(e, _, _) => throw new IllegalStateException(
        s"producer fenced: transactional.id '${h.txnId}' was re-begun " +
          s"(epoch $e, this producer holds ${h.epoch})")
      case Committed(e) if sameIncarnation(e, h.epoch) =>
        finalizeCommit(h.root, h.txnId, h.epoch) // idempotent replay
      case other => throw new IllegalStateException(
        s"cannot commit transaction '${h.txnId}' in state $other")
    }
  }

  /** Roll the transaction back: every produce it staged is unregistered
    * and reclaimed; offsets stay consumed (gaps); staged consumer-group
    * offsets are discarded. Idempotent. */
  def abort(h: TxnHandle): Unit = lockFor(h.root, h.txnId).synchronized {
    WriterLease.checkWrite(h.root)
    state(h.root, h.txnId) match {
      case Open(e, _, _) if e == h.epoch =>
        decideTerminal(h.root, h.txnId, "abort", "explicit", h.epoch) match {
          case "commit" => throw new IllegalStateException(
            s"transaction '${h.txnId}' already committed; abort is impossible")
          case _ => finalizeAbort(h.root, h.txnId, h.epoch)
        }
      case Open(e, _, _) => throw new IllegalStateException(
        s"producer fenced: transactional.id '${h.txnId}' was re-begun " +
          s"(epoch $e, this producer holds ${h.epoch})")
      case Aborted(e) => finalizeAbort(h.root, h.txnId, e) // finish a torn abort
      case _: Committed => throw new IllegalStateException(
        s"transaction '${h.txnId}' already committed; abort is impossible")
      case Unknown => () // fully finalized or never began — nothing staged
    }
  }

  /** The per-topic commit-finalize op, epoch-exact: the committing
    * incarnation's marks become plain committed segments, while marks of
    * an OLDER incarnation under the same id (a fenced zombie's staging
    * whose CAS landed after that incarnation was finalized) are
    * unregistered and reclaimed — a commit must never adopt entries it
    * did not produce. Newer-epoch marks are left alone (their own
    * transaction governs them). */
  private[graft] def clearMarks(cfg: TopicConfig, txnId: String, epoch: Long = -1L): Unit = {
    def mine(f: FileEntry) =
      f.txn.contains(txnId) && sameIncarnation(f.txnEpoch, epoch)
    def zombie(f: FileEntry) =
      f.txn.contains(txnId) && !sameIncarnation(f.txnEpoch, epoch) && f.txnEpoch < epoch
    var removed: Vector[FileEntry] = Vector.empty
    var delayMs = 0L
    casRetry(cfg) { cur =>
      removed = cur.filesByPart.valuesIterator.flatten.filter(zombie).toVector
      delayMs = PolarLog.fileDeleteDelayMs(cur.props)
      val next = cur.copy(filesByPart = cur.filesByPart.map { case (p, entries) =>
        p -> (if (entries.exists(f => mine(f) || zombie(f)))
          entries.filterNot(zombie).map(f =>
            if (mine(f)) f.copy(txn = None, txnEpoch = -1L) else f)
        else entries)
      })
      if (delayMs > 0L && removed.nonEmpty) {
        val now = System.currentTimeMillis()
        next.copy(pendingDeletes = next.pendingDeletes ++ removed.map(f =>
          PendingDelete(f.part, f.name, PolarLog.dueAt(now, delayMs))))
      } else next
    }
    if (delayMs == 0L) PolarLog.quietDelete(removed.map(_.path(cfg)))
  }

  /** Marks resolved → open.json deleted → directory deleted. The explicit
    * open.json delete keeps [[state]] deterministic under a concurrent
    * recursive delete: no observable window reads a finalizing txn as
    * freshly Open. */
  private def dropDir(root: String, txnId: String): Unit = {
    val d = txnPath(root, txnId)
    val fs = fsOf(d)
    try { val p = new Path(d, "open.json"); if (fs.exists(p)) fs.delete(p, false) }
    catch { case _: java.io.IOException => () }
    if (fs.exists(d)) fs.delete(d, true): Unit
  }

  private def finalizeCommit(root: String, txnId: String, epoch: Long): Unit = {
    // the finalize record goes FIRST: any mark that survives a crash past
    // the directory drop must resolve against it (and the epoch
    // high-water mark must never trail the directory's lifetime)
    writeLast(root, txnId, epoch, "commit")
    touchedTopics(root, txnId).foreach { t =>
      topicCfg(root, t).foreach(clearMarks(_, txnId, epoch))
    }
    // apply staged consumer-group offsets (sendOffsetsToTransaction).
    // NEVER-REWIND: each partition applies max(current, staged), so a
    // crash between the apply and the staged-file delete cannot make a
    // finalize REPLAY regress a position the group advanced past in
    // between (double-processing). Deliberate rewinds have a dedicated
    // tool (ConsumerGroups.resetOffsets); transactional offsets only move
    // a group forward, the direction the consume-transform-produce loop
    // ever needs. The staged file is deleted after applying — belt and
    // suspenders with the max-merge.
    stagedOffsets(root, txnId).foreach { case (topic, group, offs, fileName, se) =>
      // EPOCH-EXACT apply (the staged-offset twin of clearMarks): a
      // cross-process zombie's sendOffsets racing a fencing begin() can
      // land its g-file inside the SUCCESSOR incarnation's directory —
      // applying it would advance the group past records the successor
      // never relayed. Only entries stamped with the finalizing epoch
      // apply; mismatches are discarded with the directory.
      if (sameIncarnation(se, epoch)) {
        topicCfg(root, topic) match {
          case Some(cfg) => ConsumerGroups.commitFloor(cfg, group, offs)
          case None => System.err.println(
            s"[polar] txn '$txnId': staged offsets for missing topic '$topic' dropped")
        }
      } else System.err.println(
        s"[polar] txn '$txnId': staged offsets for group '$group' carry " +
          s"epoch $se, not the committing epoch $epoch — a fenced " +
          "incarnation's staging, discarded")
      val p = new Path(txnPath(root, txnId), fileName)
      try { val fs = fsOf(p); if (fs.exists(p)) fs.delete(p, false): Unit }
      catch { case _: java.io.IOException => () }
    }
    dropDir(root, txnId)
  }

  /** Unregister and reclaim every entry `txnId` marked in `cfg` at or
    * below `epoch` — the per-topic abort op (an abort also reclaims any
    * OLDER fenced incarnation's leftover staging; newer-epoch marks are
    * their own transaction's business). Honors the topic's
    * `file.delete.delay.ms` (reclaim through the pendingDeletes ledger). */
  private[graft] def unregisterMarked(
      cfg: TopicConfig, txnId: String, epoch: Long = -1L): Unit = {
    def doomed(f: FileEntry) = f.txn.contains(txnId) &&
      (f.txnEpoch < 0 || epoch < 0 || f.txnEpoch <= epoch)
    var removed: Vector[FileEntry] = Vector.empty
    var delayMs = 0L
    casRetry(cfg) { cur =>
      removed = cur.filesByPart.valuesIterator.flatten.filter(doomed).toVector
      delayMs = PolarLog.fileDeleteDelayMs(cur.props)
      val next = cur.copy(filesByPart = cur.filesByPart.map { case (p, entries) =>
        p -> entries.filterNot(doomed)
      })
      if (delayMs > 0L && removed.nonEmpty) {
        val now = System.currentTimeMillis()
        next.copy(pendingDeletes = next.pendingDeletes ++ removed.map(f =>
          PendingDelete(f.part, f.name, PolarLog.dueAt(now, delayMs))))
      } else next
    }
    if (delayMs == 0L) PolarLog.quietDelete(removed.map(_.path(cfg)))
  }

  private def finalizeAbort(root: String, txnId: String, epoch: Long): Unit = {
    writeLast(root, txnId, epoch, "abort")
    touchedTopics(root, txnId).foreach { t =>
      topicCfg(root, t).foreach(unregisterMarked(_, txnId, epoch))
    }
    dropDir(root, txnId) // staged offsets die with the directory
  }

  /** Unregister EXACTLY these (part, name) entries and reclaim their
    * files (deferred through the ledger when the topic defers deletes) —
    * the produce path's compensation: it removes only the entries THAT
    * PRODUCE registered, never another incarnation's staging under the
    * same transactional.id. */
  private[graft] def unregisterEntries(
      cfg: TopicConfig, keys: Set[(Int, String)]): Unit = {
    if (keys.isEmpty) return
    var removed: Vector[FileEntry] = Vector.empty
    var delayMs = 0L
    casRetry(cfg) { cur =>
      removed = cur.filesByPart.valuesIterator.flatten
        .filter(f => keys((f.part, f.name))).toVector
      delayMs = PolarLog.fileDeleteDelayMs(cur.props)
      val next = cur.copy(filesByPart = cur.filesByPart.map { case (p, fs) =>
        p -> fs.filterNot(f => keys((f.part, f.name)))
      })
      if (delayMs > 0L && removed.nonEmpty) {
        val now = System.currentTimeMillis()
        next.copy(pendingDeletes = next.pendingDeletes ++ removed.map(f =>
          PendingDelete(f.part, f.name, PolarLog.dueAt(now, delayMs))))
      } else next
    }
    if (delayMs == 0L) PolarLog.quietDelete(removed.map(_.path(cfg)))
  }

  /** Every transaction directory under `root` with its state — the admin
    * inventory and [[recover]]'s worklist. */
  def list(root: String): Seq[(String, TxnState)] = {
    val d = new Path(dir(root))
    val fs = fsOf(d)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.filter(_.isDirectory)
      .flatMap(s => scala.util.Try(LogMetadata.hexDecode(s.getPath.getName)).toOption)
      .sorted
      .map(id => id -> state(root, id))
  }

  // consecutive failed recovery sweeps per "root#id" — the escalation
  // counter behind [[recoveryFailures]]. Driver-memory (the driver is the
  // only sweep authority); entries clear on success or full resolution.
  private val sweepFailures =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, String)]()

  /** Transactions whose recovery has failed [[FailedSweepThreshold]]+
    * consecutive sweeps, with their failure counts and last error — the
    * operator-action queue `polar.system.txns()` / `GET /v1/admin/txns`
    * surface as state `failed` (the producer-txn analog of a routed
    * journal's `.failed` marker). */
  def recoveryFailures(root: String): Map[String, (Int, String)] = {
    import scala.jdk.CollectionConverters._
    sweepFailures.asScala.iterator.collect {
      case (k, v) if k.startsWith(s"$root#") && v._1 >= FailedSweepThreshold =>
        k.stripPrefix(s"$root#") -> v
    }.toMap
  }

  /** Drive every transaction to a terminal state: finish torn
    * commit/abort finalizations, and ABORT open transactions idle past
    * their timeout (the Kafka coordinator's timeout abort). Run by the
    * retention sweep alongside routed-journal recovery. Returns the
    * number of transactions resolved. A transaction whose recovery keeps
    * failing escalates into [[recoveryFailures]] after
    * [[FailedSweepThreshold]] consecutive failed sweeps. */
  def recover(root: String, nowMs: Long = System.currentTimeMillis()): Int = {
    // a fenced driver's sweep must not finalize/abort the successor's
    // transactions — lease-gate the whole recovery pass
    WriterLease.checkWrite(root)
    var resolved = 0
    val work = list(root)
    work.foreach { case (id, st) =>
      val key = s"$root#$id"
      try {
        lockFor(root, id).synchronized {
          st match {
            case Committed(e) => finalizeCommit(root, id, e); resolved += 1
            case Aborted(e) => finalizeAbort(root, id, e); resolved += 1
            case Open(e, anchor, timeoutMs) if nowMs - anchor > timeoutMs &&
                // re-read under the lock: a heartbeat may have landed since
                // the listing, or been mid-replace (briefly absent) during it
                (state(root, id) match {
                  case Open(_, a, _) => nowMs - a > timeoutMs
                  case _ => true
                }) =>
              // the coordinator's timeout abort goes through the arbiter: a
              // commit whose marker landed first stands and gets finished
              decideTerminal(root, id, "abort", "timeout", e) match {
                case "commit" => finalizeCommit(root, id, e)
                case _ => finalizeAbort(root, id, e)
              }
              resolved += 1
            case _ => () // live and within its timeout
          }
        }
        sweepFailures.remove(key): Unit
      } catch {
        case scala.util.control.NonFatal(e) =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
          val n = sweepFailures.merge(key, (1, msg),
            (a, b) => (a._1 + b._1, b._2))._1
          System.err.println(
            s"[polar] producer-txn recovery failed for '$id' " +
              s"($n consecutive): $msg")
      }
    }
    // txns resolved elsewhere (their own commit/abort) must not linger in
    // the failure queue — prune keys absent from this sweep's worklist
    val live = work.map { case (id, _) => s"$root#$id" }.toSet
    sweepFailures.keySet.removeIf(k => k.startsWith(s"$root#") && !live(k))
    resolved
  }

  /** Expire finalize records of long-idle ids (and stale `.tmp-` write
    * leftovers): one file per id ever finalized would otherwise grow the
    * `_polar_txn_producers` listing without bound under UUID-per-job
    * churn. Kafka's `transactional.id.expiration.ms` role. Run by the
    * retention sweep AFTER [[reconcileMarks]] has walked the topics, so
    * any lingering mark referencing the id has already been materialized
    * into the registry — expiring the record can then never flip a
    * mark's resolution. Ids with a live directory keep their floor,
    * re-checked at delete time (a begin racing the sweep must not lose
    * its epoch floor). Returns records expired. */
  def expireIdleRecords(
      root: String, nowMs: Long = System.currentTimeMillis()): Int = {
    // a fenced driver must not prune the successor's epoch floors
    WriterLease.checkWrite(root)
    var expired = 0
    try {
      val d = new Path(dir(root))
      val fs = fsOf(d)
      if (fs.exists(d)) {
        fs.listStatus(d).foreach { s =>
          val n = s.getPath.getName
          val aged = nowMs - s.getModificationTime > IdExpirationMs
          if (s.isFile && aged &&
              (n.endsWith(".last") || n.contains(".last.tmp"))) {
            // re-check liveness at delete time: a begin() racing this
            // sweep re-creates the id's directory AFTER our listing
            val dirAlive = n.endsWith(".last") &&
              (try fs.exists(new Path(d, n.stripSuffix(".last")))
               catch { case _: java.io.IOException => true })
            if (!dirAlive)
              try { if (fs.delete(s.getPath, false)) expired += 1 }
              catch { case _: java.io.IOException => () }
          }
        }
      }
    } catch { case _: java.io.IOException => () }
    expired
  }

  /** Materialize the resolution of marks whose transaction directory is
    * GONE (fully finalized, or lost): committed-class marks clear to
    * plain entries, aborted-class marks unregister and reclaim — the
    * per-topic mark GC the retention sweep runs. Keeps manifests from
    * carrying resolved marks forever (topics revert below the txn format
    * once clean) and makes [[expireIdleRecords]] safe: by the time an
    * id's finalize record expires, its lingering marks have long been
    * materialized here. Marks of LIVE transactions — including any with
    * an epoch NEWER than the id's last finalize (a successor incarnation
    * racing this sweep) — are left untouched. Returns marks resolved. */
  def reconcileMarks(
      cfg: TopicConfig, metaHint: Option[LogMetadata] = None): Int = {
    // the hint (the sweep's already-read head snapshot) answers the
    // overwhelmingly common no-marks case with ZERO extra reads; the CAS
    // below re-reads authoritatively when marks exist
    val meta = metaHint.getOrElse(LogMetadata.read(cfg))
    val ids = meta.filesByPart.valuesIterator.flatten.flatMap(_.txn).toSet
    if (ids.isEmpty) return 0
    val gone = states(cfg.root, ids).collect { case (id, Unknown) => id }.toSet
    if (gone.isEmpty) return 0
    val lasts = gone.iterator.map(id => id -> lastRecord(cfg.root, id)).toMap
    // newer-than-last-finalize marks are EXCLUDED: they can only belong to
    // a successor incarnation whose begin raced our states() snapshot —
    // reconciling them would unregister a live transaction's staging.
    // (readCommittedView still resolves them dynamically; once that id
    // finalizes, its advanced record makes them reconcilable.)
    def cls(f: FileEntry): Option[MarkClass] = f.txn.filter(gone).flatMap { id =>
      val newerThanLast = f.txnEpoch >= 0 &&
        lasts(id).forall { case (le, _) => f.txnEpoch > le }
      if (newerThanLast) None
      else Some(classify(Unknown, f.txnEpoch, lasts(id)))
    }
    var resolved = 0
    var removed: Vector[FileEntry] = Vector.empty
    var delayMs = 0L
    casRetry(cfg) { cur =>
      resolved = 0
      removed = cur.filesByPart.valuesIterator.flatten
        .filter(f => cls(f).contains(MarkAborted)).toVector
      delayMs = PolarLog.fileDeleteDelayMs(cur.props)
      val next = cur.copy(filesByPart = cur.filesByPart.map { case (p, entries) =>
        p -> entries.flatMap { f =>
          cls(f) match {
            case Some(MarkAborted) => resolved += 1; None
            case Some(MarkCommitted) =>
              resolved += 1; Some(f.copy(txn = None, txnEpoch = -1L))
            case _ => Some(f)
          }
        }
      })
      if (delayMs > 0L && removed.nonEmpty) {
        val now = System.currentTimeMillis()
        next.copy(pendingDeletes = next.pendingDeletes ++ removed.map(f =>
          PendingDelete(f.part, f.name, PolarLog.dueAt(now, delayMs))))
      } else next
    }
    if (delayMs == 0L) PolarLog.quietDelete(removed.map(_.path(cfg)))
    resolved
  }

  /** Batched state resolution for a set of ids: ONE listing of the
    * transaction root resolves every never-began / fully-finalized id to
    * Unknown without a per-id existence probe; each live id then resolves
    * from ONE listing of its directory plus ONE small content read
    * (terminal.json or open.json) — ~2 filesystem ops per live id instead
    * of [[state]]'s ~6 probes, the difference between 0.4 s and ~0.15 s of
    * planning at 1,000 open transactions (and proportionally fewer RPCs on
    * an object store). Falls back to [[state]]'s retry discipline when a
    * concurrent finalize mutates the directory mid-read. */
  private[graft] def states(
      root: String, ids: Set[String]): Map[String, TxnState] = {
    if (ids.isEmpty) return Map.empty
    val d = new Path(dir(root))
    val fs = fsOf(d)
    val liveDirs: Set[String] =
      if (!fs.exists(d)) Set.empty
      else fs.listStatus(d).iterator.filter(_.isDirectory)
        .map(_.getPath.getName).toSet
    ids.iterator.map { id =>
      id -> (if (liveDirs(LogMetadata.hexEncode(id))) stateFromListing(root, id)
             else Unknown)
    }.toMap
  }

  /** [[state]] derived from one directory listing + one content read —
    * the batched planning path. Any inconsistency (concurrent finalize
    * deleting files between the listing and the read) falls back to the
    * retrying [[state]]. */
  private def stateFromListing(root: String, txnId: String): TxnState = {
    val d = txnPath(root, txnId)
    val fs = fsOf(d)
    try {
      val entries = fs.listStatus(d).iterator.map(s => s.getPath.getName -> s).toMap
      entries.get("terminal.json") match {
        case Some(_) =>
          kindOf(fs, new Path(d, "terminal.json")) match {
            // a marker alongside a LIVE open.json needs the stale-leftover
            // epoch comparison — delegate to the full discipline
            case Some((k, e)) if !entries.contains("open.json") || e < 0 =>
              if (k == "commit") Committed(e) else Aborted(e)
            case Some(_) => state(root, txnId)
            case None => state(root, txnId) // torn marker: full discipline
          }
        case None => entries.get("open.json") match {
          case Some(openSt) => openOf(fs, openSt.getPath) match {
            case Some((e, t)) =>
              val anchor = (Seq(openSt.getModificationTime) ++
                entries.get("hb").map(_.getModificationTime)).max
              Open(e, anchor, t)
            case None => state(root, txnId) // torn open.json: full discipline
          }
          case None => Aborted() // mid-finalize shape, same rule as state()
        }
      }
    } catch {
      case _: java.io.IOException => state(root, txnId)
    }
  }

  /** How one mark resolves under read_committed. */
  private sealed trait MarkClass
  private case object MarkOpen extends MarkClass
  private case object MarkCommitted extends MarkClass
  private case object MarkAborted extends MarkClass

  /** Epoch-exact mark resolution: a mark from an OLDER incarnation than
    * the id's live/terminal epoch is a fenced zombie's staging — aborted,
    * never adopted. Unknown-state marks resolve against the finalize
    * record: none (or an older mark epoch) = committed leftovers (abort
    * removes entries before the directory); exactly the last-aborted
    * epoch, or NEWER than any finalized epoch, = a produce that raced the
    * finalize and rolled back. */
  private def classify(
      st: TxnState, markEpoch: Long,
      last: => Option[(Long, String)]): MarkClass = st match {
    case Open(e, _, _) =>
      if (markEpoch >= 0 && markEpoch < e) MarkAborted else MarkOpen
    case Committed(te) =>
      if (markEpoch >= 0 && te >= 0 && markEpoch < te) MarkAborted
      else MarkCommitted
    case Aborted(_) => MarkAborted
    case Unknown =>
      if (markEpoch < 0) MarkCommitted
      else last match {
        case Some((le, kind)) if le >= 0 =>
          if (markEpoch == le)
            (if (kind == "abort") MarkAborted else MarkCommitted)
          else if (markEpoch > le) MarkAborted
          else MarkCommitted
        case _ => MarkCommitted
      }
  }

  /** Total [[readCommittedView]] invocations — the spec-side shim that
    * asserts "one isolation resolution per poll" (the LogMetadata.read
    * twin of [[LogMetadata.rootReads]]). */
  val viewResolutions = new java.util.concurrent.atomic.AtomicLong()

  /** The `read_committed` view of one topic's metadata, resolved at scan
    * planning: zero extra I/O when nothing is marked (the overwhelmingly
    * common case); otherwise ONE directory listing plus one tiny state
    * read per distinct LIVE marked transaction ([[states]]). Open
    * transactions cap each partition's readable tail at its LSO and their
    * files are excluded; aborted-but-unreclaimed files (including any
    * fenced incarnation's leftover staging, resolved epoch-exactly) are
    * excluded outright; committed marks read as plain files. */
  def readCommittedView(root: String, meta: LogMetadata): LogMetadata = {
    viewResolutions.incrementAndGet()
    val ids = meta.filesByPart.valuesIterator.flatten.flatMap(_.txn).toSet
    if (ids.isEmpty) return meta
    val byId = states(root, ids)
    val lasts = scala.collection.mutable.Map.empty[String, Option[(Long, String)]]
    def classOf(f: FileEntry): MarkClass = f.txn match {
      case None => MarkCommitted
      case Some(id) => classify(byId(id), f.txnEpoch,
        lasts.getOrElseUpdate(id, lastRecord(root, id)))
    }
    val classes: Map[(Int, String), MarkClass] =
      meta.filesByPart.valuesIterator.flatten
        .filter(_.txn.isDefined)
        .map(f => (f.part, f.name) -> classOf(f)).toMap
    if (!classes.valuesIterator.exists(c => c == MarkOpen || c == MarkAborted))
      return meta
    val lso: Map[Int, Long] = meta.filesByPart.map { case (p, fs) =>
      p -> fs.iterator
        .filter(f => f.txn.isDefined && classes((f.part, f.name)) == MarkOpen)
        .map(_.minOffset).minOption.getOrElse(Long.MaxValue)
    }
    meta.copy(
      filesByPart = meta.filesByPart.map { case (p, fs) =>
        val cut = lso.getOrElse(p, Long.MaxValue)
        // files are offset-disjoint and the LSO is an open file's first
        // offset, so `maxOffset < cut` keeps exactly the pre-LSO files
        p -> fs.filter(f => f.maxOffset < cut &&
          (f.txn.isEmpty || classes((f.part, f.name)) != MarkAborted))
      },
      producerOffsets = meta.producerOffsets.zipWithIndex.map { case (t, p) =>
        math.min(t, lso.getOrElse(p, Long.MaxValue))
      })
  }
}
