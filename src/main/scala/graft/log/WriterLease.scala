package graft.log

import graft.functions.JsonText
import org.apache.hadoop.fs.Path

/**
 * Cross-process enforcement of the single-metadata-authority contract.
 *
 * The engine's control plane (root docs, group documents, transaction
 * state) assumes ONE driver owns a root at a time — the reference enforces
 * its equivalent with CAS rounds across replicas
 * (`/root/reference/internal/ownership/process_local.go:16-133`). Before
 * r15 that was a documented deployment contract (SURVEY §7.1); this module
 * converts it into an enforced invariant: a WRITER LEASE on the root.
 *
 * Mechanics — built from the two primitives the storage contract already
 * requires (see [[graft.log.StorageProbe]]): exclusive create and atomic
 * rename.
 *
 *  - The lease lives under `{root}/_polar_writer_lease/` as epoch-named
 *    files `e<epoch>.json` ({holder, deadlineMs, ttlMs}). The EXCLUSIVE
 *    CREATE of the next epoch file is the acquisition arbiter — exactly
 *    one contender can mint a given epoch, and the largest epoch on disk
 *    is the authoritative lease (the same first-writer-wins discipline as
 *    the transaction arbiter's `terminal.json`).
 *  - [[acquire]] succeeds when the root is unleased, the standing lease is
 *    EXPIRED (past its deadline) or RELEASED, or the standing holder IS
 *    the caller (restart re-acquisition). `takeover = true` fences a live
 *    incumbent immediately — the operator's "the old driver is dead"
 *    override. Epochs are monotone (max(standing + 1, wall clock)), so a
 *    fenced incumbent can never mint past its successor.
 *  - Renewal mints the next epoch under the same holder; [[checkWrite]]
 *    auto-renews at half-TTL, so an actively writing holder keeps its
 *    lease alive with zero extra calls and an idle one lets it expire.
 *  - ENFORCEMENT rides the data: every root-doc publish of a lease holder
 *    stamps its epoch into the doc (`writerEpoch`, root format 8), and
 *    every CAS compares — a doc stamped by a NEWER epoch fences the older
 *    writer loudly ([[FencedWriterException]]) at the very next write, no
 *    lease read needed. Writers holding NO lease probe the lease directory
 *    (TTL-cached) and refuse while a live foreign lease stands. Reads stay
 *    lease-free.
 *
 * Residual windows, stated honestly: lease enforcement is time-based
 * between renewals — a holder whose clock is badly skewed can write for up
 * to one TTL after a FORCED takeover on topics the successor has not yet
 * stamped. Expiry-based handover has no such window (the incumbent's own
 * deadline check fails first, assuming clock skew below the TTL). This is
 * the standard lease argument (Gray & Cheriton); the deployment contract
 * shrinks from "never run two drivers" to "keep clock skew below ttl/2 or
 * use takeover only on dead drivers". Second window, at ROLLOUT: an
 * unleased writer caches the "unguarded" probe answer for [[probeTtlMs]],
 * so drivers already writing when the FIRST lease on a root is acquired
 * keep writing un-fenced for up to that long — enforcement is crisp from
 * the first acquire only against writers that start after it (quiesce
 * existing unleased writers for one probe-TTL when turning enforcement on).
 */
object WriterLease {

  /** Default lease TTL. Renewal at half-TTL happens inline on the write
    * path, so the TTL bounds BOTH the failover wait after a driver dies
    * and the residual zombie window under forced takeover. */
  val DefaultTtlMs: Long = 30000L

  final case class Lease(
      root: String, holderId: String, epoch: Long, deadlineMs: Long, ttlMs: Long)

  /** A write was refused because another driver holds (or held) the
    * root's writer lease. IllegalStateException so the serving façades
    * map it to 409 like every other fencing conflict. */
  final class FencedWriterException(msg: String) extends IllegalStateException(msg)

  def leaseDir(root: String): String = s"$root/_polar_writer_lease"

  /** Total writes refused by lease fencing — `/metrics` surface. */
  val fencedWrites = new java.util.concurrent.atomic.AtomicLong()

  // the lease(s) THIS process holds, by root — what checkWrite validates
  // against on the hot path (no I/O while the deadline is comfortably out)
  private val held = new java.util.concurrent.ConcurrentHashMap[String, Lease]()

  // per-root serialization of acquire/renew/release: two same-process
  // threads hitting the half-TTL renewal window together must not BOTH
  // mint (the later held.put could then REGRESS the registered epoch below
  // one already stamped into a doc, and checkStamp would self-fence the
  // rightful holder — wedging every write until the TTL expired)
  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(root: String): Object =
    rootLocks.computeIfAbsent(root, _ => new Object)

  // unleased-writer probe cache: root -> (checkedAtMs, standing lease if a
  // LIVE foreign one was seen). A negative ("unguarded") answer is cached
  // for ProbeTtlMs so the no-lease deployment (the default) pays one tiny
  // directory probe per root per TTL, not per write; a positive answer is
  // re-checked on every write (the writer is erroring anyway, and expiry
  // must un-fence promptly).
  private val probeCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  @volatile private[log] var probeTtlMs: Long = 30000L

  /** Test hook: drop cached "unguarded" probe answers so a just-acquired
    * lease is seen immediately. */
  private[graft] def resetProbeCache(): Unit = probeCache.clear()

  /** Test hook: forget leases held by this process (simulates a crashed
    * driver whose lease file still stands). */
  private[graft] def dropHeldForTest(root: String): Unit = { held.remove(root): Unit }

  /** Test hook: install a lease object as this process's belief — the
    * same-JVM simulation of a SECOND driver process (whose registry the
    * real deployment would keep in its own JVM). */
  private[graft] def installHeldForTest(lease: Lease): Unit = {
    held.put(lease.root, lease): Unit
  }

  private def fsOf(p: Path) = p.getFileSystem(HadoopConf.shared)

  private val EpochNameRe = """^e(\d+)\.json$""".r
  /** Valid holder ids are file/JSON-safe (same charset as group names). */
  def validHolderId(id: String): Boolean =
    id.nonEmpty && id.length <= 120 &&
      id.forall(c => c.isLetterOrDigit || c == '-' || c == '_' || c == '.')

  /** The authoritative lease on disk: the largest-epoch file's content.
    * None = never leased (or the directory was wiped). A just-created
    * file's content may trail its name by a beat — retried briefly, then
    * resolved conservatively (held by an unknown writer). */
  def current(root: String): Option[Lease] = {
    val d = new Path(leaseDir(root))
    val fs = fsOf(d)
    // bounded re-list loop (NOT recursion): a max-epoch file pruned
    // between list and read means a newer epoch exists — re-list and
    // re-resolve, but only a bounded number of times (the same
    // bounded-attempt discipline as every other retry in this module;
    // sustained mint/prune churn must not grow the stack).
    var relist = 0
    while (relist < 8) {
      relist += 1
      val names =
        try {
          if (!fs.exists(d)) return None
          fs.listStatus(d).iterator.map(_.getPath.getName).collect {
            // toLongOption: an all-digits name too long for a Long is
            // planted junk, not an epoch — skipped like any stray file,
            // never a NumberFormatException out of the probe path
            case n @ EpochNameRe(e) => e.toLongOption.map(v => (v, n))
          }.flatten.toSeq
        } catch { case _: java.io.IOException => return None }
      if (names.isEmpty) return None
      val (epoch, name) = names.maxBy(_._1)
      val p = new Path(d, name)
      var attempt = 0
      var pruned = false
      while (attempt < 5 && !pruned) {
        try {
          // the doc must parse WHOLE (plus overflow-safe field reads) for
          // it to speak for its creator: a doc torn mid-deadline-digits
          // would otherwise read as a TRUNCATED (earlier) deadline, turning
          // a torn acquire into an instantly seizable lease while its
          // writer may be alive — any truncation or corruption falls to
          // the conservative unreadable hold below
          val doc = JsonText.parseObject(FsIO.read(p))
          if (JsonText.longField(doc, "format").contains(1L)) {
            return Some(Lease(root, JsonText.text(doc.path("holder")), epoch,
              JsonText.long(doc.path("deadlineMs")), JsonText.long(doc.path("ttlMs"))))
          }
        } catch {
          case _: java.io.FileNotFoundException => pruned = true // re-list
          case _: java.io.IOException | _: IllegalArgumentException => ()
        }
        if (!pruned) { attempt += 1; Thread.sleep(10) }
      }
      if (!pruned) {
        // unreadable content under a standing epoch file (a contender
        // crashed between create and close): held by an unknown writer —
        // but only for one DEFAULT TTL from the file's mtime, regardless
        // of any longer TTL the torn acquire may have requested (safe:
        // a torn file means its creator died between create and close —
        // it never got a lease object to write under). A permanent hold
        // would convert one torn acquire into an unrecoverable fence on
        // every writer (re-read on every probe, so expiry un-fences
        // promptly); logged so operators can tell the conservative hold
        // from a normal expiry.
        val deadline =
          try fs.getFileStatus(p).getModificationTime + DefaultTtlMs
          catch { case _: java.io.IOException => System.currentTimeMillis() + DefaultTtlMs }
        System.err.println(s"[polar] writer-lease epoch file $p is " +
          s"unreadable (torn acquire?) — holding '$root' conservatively " +
          s"for ${math.max(0L, deadline - System.currentTimeMillis())} ms " +
          "(one default TTL from its mtime), then treating it as expired")
        return Some(Lease(root, "<unreadable>", epoch, deadline, DefaultTtlMs))
      }
      // pruned: fall through to re-list
    }
    // 8 consecutive list/read races means epochs are being minted and
    // pruned faster than we can look — someone certainly holds the root;
    // answer conservatively (held by an unknown writer for one TTL)
    // rather than "unleased", which would wave a second writer through.
    Some(Lease(root, "<contended>", 0L,
      System.currentTimeMillis() + DefaultTtlMs, DefaultTtlMs))
  }

  /** Does this process hold a (locally believed) live lease on `root`? */
  def heldLease(root: String): Option[Lease] = Option(held.get(root))

  /** The epoch this process stamps into `root`'s doc writes: its held
    * lease's, or 0 (unleased writer — the pre-lease behavior). */
  private[log] def heldEpoch(root: String): Long =
    Option(held.get(root)).map(_.epoch).getOrElse(0L)

  /** Acquire (or re-acquire, or — with `takeover` — seize) the writer
    * lease on `root` for `holderId`. Succeeds against: no lease, an
    * expired lease, a released lease, or a standing lease already held by
    * `holderId` (driver restart). A LIVE foreign lease refuses with
    * [[FencedWriterException]] unless `takeover = true` — the operator's
    * assertion that the incumbent is dead (its residual window is one
    * TTL, see the class doc). */
  def acquire(
      root: String,
      holderId: String = "driver-" + java.util.UUID.randomUUID().toString.take(12),
      ttlMs: Long = DefaultTtlMs,
      takeover: Boolean = false): Lease = lockFor(root).synchronized {
    require(validHolderId(holderId),
      s"holder id must be 1-120 filename-safe chars, got '$holderId'")
    require(ttlMs > 0, s"lease ttl must be positive, got $ttlMs")
    // the lease's fencing correctness is built ON the exclusive-create and
    // atomic-rename primitives — refuse to hand out authority a
    // non-compliant store (raw S3A) cannot actually enforce
    StorageProbe.check(root, refuse = true): Unit
    val lease = mint(root, holderId, ttlMs, takeover, acquiring = true)
    held.put(root, lease)
    probeCache.remove(root)
    lease
  }

  /** Extend this process's lease on `root` by one TTL (minting the next
    * epoch under the same holder). Fences loudly if the lease was taken
    * over. Normally invoked automatically by [[checkWrite]]. */
  def renew(root: String): Lease = lockFor(root).synchronized {
    val mine = Option(held.get(root)).getOrElse(throw new IllegalStateException(
      s"this process holds no writer lease on '$root'"))
    val next =
      try mint(root, mine.holderId, mine.ttlMs, takeover = false, acquiring = false)
      catch {
        case e: FencedWriterException => held.remove(root); throw e
      }
    held.put(root, next)
    next
  }

  /** [[renew]] only when the registered lease is past its half-TTL — the
    * write path's trigger. The early return under the root lock is what
    * keeps N concurrent writers from minting N epochs in one window (a
    * later `held.put` of a LOWER epoch would self-fence the holder); the
    * PUBLIC [[renew]] always extends, per its contract. */
  private def renewIfDue(root: String): Unit = {
    val mine = held.get(root)
    if (mine == null) return
    if (System.currentTimeMillis() <= mine.deadlineMs - mine.ttlMs / 2) return
    lockFor(root).synchronized {
      val cur = held.get(root)
      if (cur != null &&
          System.currentTimeMillis() > cur.deadlineMs - cur.ttlMs / 2)
        renew(root): Unit
    }
  }

  /** Release this process's lease on `root`: a released marker (deadline
    * 0) is minted so the NEXT contender acquires immediately instead of
    * waiting out the TTL. Idempotent; a lease lost to takeover releases
    * quietly (the successor already owns the root). */
  def release(root: String): Unit = lockFor(root).synchronized {
    val mine = held.remove(root)
    if (mine == null) return
    try {
      current(root) match {
        case Some(l) if l.holderId == mine.holderId =>
          writeEpochFile(root, math.max(l.epoch + 1, System.currentTimeMillis()),
            mine.holderId, deadlineMs = 0L, ttlMs = mine.ttlMs): Unit
        case _ => () // taken over or wiped — nothing to hand back
      }
    } catch { case _: java.io.IOException => () }
    probeCache.remove(root)
  }

  /** One epoch-minting round: read the standing lease, decide whether this
    * holder may mint past it, exclusive-create the next epoch file, prune
    * older epochs. Collisions (a contender minted the same epoch first)
    * re-read and re-decide — bounded attempts. */
  private def mint(
      root: String, holderId: String, ttlMs: Long,
      takeover: Boolean, acquiring: Boolean): Lease = {
    var attempt = 0
    while (attempt < 10) {
      val now = System.currentTimeMillis()
      val standing = current(root)
      standing match {
        case Some(l) if l.holderId != holderId && l.deadlineMs > now && !takeover =>
          // ACQUIRE refusals are lease contention, not refused writes — a
          // standby polling acquire must not inflate the fencing metric.
          // A RENEW refusal (!acquiring) IS a refused write: it fires from
          // checkWrite on the write path when a takeover is discovered.
          if (!acquiring) fencedWrites.incrementAndGet()
          throw new FencedWriterException(
            if (acquiring)
              s"root '$root' is write-leased by '${l.holderId}' (epoch ${l.epoch}) " +
                s"for another ${l.deadlineMs - now} ms; pass takeover=true only " +
                "if that driver is known dead"
            else
              s"writer lease on '$root' was taken over by '${l.holderId}' " +
                s"(epoch ${l.epoch}); this driver is fenced")
        case _ =>
          val epoch = math.max(standing.map(_.epoch + 1).getOrElse(1L), now)
          writeEpochFile(root, epoch, holderId, now + ttlMs, ttlMs) match {
            case Some(lease) =>
              // POST-CREATE VERIFICATION (the same re-check-after-act
              // discipline as the txn arbiter): a contender that judged a
              // TORN epoch file expired can mint PAST it while its torn
              // writer is still alive between create and close — without
              // this re-list, both would install believed-held leases
              // (dual writers under plain expiry, the exact state the
              // lease exists to prevent). Whoever's epoch is not the max
              // after its own durable write has lost.
              current(root) match {
                // POSITIVE confirmation only: our epoch must BE the max.
                // A higher epoch means superseded; the <contended>
                // sentinel (epoch 0) or None mean the re-list could not
                // resolve — confirming on those would hand out a lease
                // the verification never actually verified.
                case Some(l) if l.epoch == epoch =>
                  prune(root, epoch)
                  return lease
                case _ => () // superseded or unresolved: re-read, re-decide
              }
            case None => () // lost the exclusive create — re-read, re-decide
          }
      }
      attempt += 1
      Thread.sleep(10L * attempt)
    }
    throw new IllegalStateException(
      s"cannot mint a writer-lease epoch on '$root' after repeated collisions")
  }

  /** Exclusive-create `e<epoch>.json`; None = the epoch was taken. */
  private def writeEpochFile(
      root: String, epoch: Long, holderId: String,
      deadlineMs: Long, ttlMs: Long): Option[Lease] = {
    val p = new Path(leaseDir(root), s"e$epoch.json")
    try {
      FsIO.create(p,
        s"""{"format":1,"holder":"$holderId","deadlineMs":$deadlineMs,""" +
          s""""ttlMs":$ttlMs,"ms":${System.currentTimeMillis()}}""")
      Some(Lease(root, holderId, epoch, deadlineMs, ttlMs))
    } catch { case _: java.io.IOException => None }
  }

  /** Drop epoch files strictly below `keep` — only the max matters, and a
    * concurrent reader computing its own max never loses it to a prune. */
  private def prune(root: String, keep: Long): Unit = {
    val d = new Path(leaseDir(root))
    val fs = fsOf(d)
    try fs.listStatus(d).foreach { s =>
      s.getPath.getName match {
        case EpochNameRe(e) if e.toLongOption.exists(_ < keep) =>
          try fs.delete(s.getPath, false): Unit
          catch { case _: java.io.IOException => () }
        case _ => ()
      }
    } catch { case _: java.io.IOException => () }
  }

  /**
   * The write-path gate, called by every control-plane mutation (root-doc
   * publish, group-doc commit, transaction lifecycle):
   *
   *  - holder: in-memory deadline check (zero I/O); past half-TTL the
   *    lease auto-renews inline — so the renewal cost amortizes over
   *    ttl/2 of writes and an idle driver's lease expires naturally;
   *  - non-holder: refuse while a LIVE foreign lease stands. The
   *    "unguarded" answer (no lease dir — the default deployment) is
   *    cached for [[probeTtlMs]]; a standing lease is re-read every time
   *    so expiry un-fences promptly.
   */
  def checkWrite(root: String): Unit = {
    val mine = held.get(root)
    if (mine != null) {
      renewIfDue(root)
      return
    }
    val cached = probeCache.get(root)
    val now = System.currentTimeMillis()
    if (cached != null && now - cached < probeTtlMs) return
    current(root) match {
      case Some(l) if l.deadlineMs > now =>
        fencedWrites.incrementAndGet()
        throw new FencedWriterException(
          s"root '$root' is write-leased by '${l.holderId}' (epoch ${l.epoch}); " +
            "this driver holds no lease — acquire the writer lease (or stop " +
            "the other driver) before writing")
      case _ =>
        probeCache.put(root, java.lang.Long.valueOf(now)): Unit
    }
  }

  /** The CAS-side stamp comparison: a doc last stamped by a NEWER lease
    * epoch than this writer's fences the writer — the cross-process race
    * the lease exists to close, enforced with zero extra I/O because the
    * stamp rides the doc the CAS already read. Unleased writers are
    * governed by [[checkWrite]]'s probe instead (a doc stamp alone cannot
    * distinguish a live lease from a long-released one). */
  private[log] def checkStamp(root: String, docEpoch: Long): Unit = {
    val mineEpoch = heldEpoch(root)
    if (mineEpoch > 0 && docEpoch > mineEpoch) {
      fencedWrites.incrementAndGet()
      held.remove(root)
      throw new FencedWriterException(
        s"writer fenced on '$root': the topic doc was stamped by lease epoch " +
          s"$docEpoch, newer than this driver's $mineEpoch — another driver " +
          "has taken over the root")
    }
  }
}
