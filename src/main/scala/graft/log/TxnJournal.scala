package graft.log

import graft.functions.JsonText
import org.apache.hadoop.fs.Path

/**
 * Multi-topic routed-commit intent journal: the recovery anchor that makes
 * a row-routed fan-out atomic ACROSS topics, not just per topic.
 *
 * A routed produce commits one CAS per destination topic; a crash between
 * topic commits used to leave a PERMANENT partial fan-out (documented in
 * [[graft.sources.PolarRoutedWrite]]). Now a multi-topic commit first
 * writes an intent journal under `{root}/_polar_txns/txn-<uuid>/`: one
 * manifest-shaped file per topic naming the staged segments, then a
 * `txn.json` COMMIT-POINT file (written last — a journal without it is an
 * incomplete intent and aborts). The per-topic CASes follow; full success
 * deletes the journal.
 *
 * After a kill, the retention sweep's recovery pass
 * ([[graft.sources.PolarRoutedWrite.recoverJournals]]) finds the orphaned
 * journal and drives the fan-out to a terminal state: complete journals
 * roll FORWARD (the staged files are durable — the uncommitted topics'
 * segments register through the normal commit path, rebase and all),
 * incomplete ones roll BACK (staged files reclaimed). Either way every
 * routed topic converges to "all topics carry the epoch" or "none do" —
 * stronger than Kafka without transactions, built from the CAS machinery
 * that already exists.
 *
 * Journals are tiny (entry tuples per topic) and short-lived; readers
 * never consult them — visibility stays registry-only, so the hot read
 * path pays nothing for this.
 */
object TxnJournal {

  def dir(root: String): String = s"$root/_polar_txns"

  final case class Journal(
      path: String,
      ageAnchorMs: Long,
      txn: Option[(String, Long)],
      complete: Boolean,
      topics: Map[String, Vector[FileEntry]])

  /** Write the intent: per-topic staged-entry manifests FIRST, the
    * `txn.json` commit point LAST (its presence = the intent is complete).
    * Returns the journal directory path. */
  def write(
      root: String,
      topics: Map[String, Seq[FileEntry]],
      txn: Option[(String, Long)]): String = {
    val jdir = new Path(
      s"${dir(root)}/txn-${java.util.UUID.randomUUID().toString.take(12)}")
    // the journal derives `t-<topic>.json`: the 248-byte creation cap is
    // what keeps that name within the filesystem component limit. A
    // grandfathered 249–255-byte topic therefore cannot participate in a
    // MULTI-topic routed commit (loud refusal), though single-topic
    // produces and reads still work for it. Validated BEFORE any journal
    // state exists: a refusal mid-loop would leak a partial directory the
    // caller can never clean up (no journal handle returned), costing a
    // recovery-sweep rollback of a no-op journal (review-found).
    topics.keys.foreach(t => require(TopicConfig.validNewTopicName(t),
      s"topic '$t' cannot participate in a multi-topic routed commit: the " +
        "journal's derived t-<topic>.json must fit the filesystem's " +
        "255-byte component limit (topic max 248 UTF-8 bytes); " +
        "single-topic produces to it still work"))
    topics.foreach { case (t, entries) =>
      // per-topic files carry a `t-` prefix so a topic literally named
      // "txn" can never collide with the txn.json commit point
      FsIO.create(new Path(jdir, s"t-$t.json"),
        LogMetadata.renderManifest(entries.toVector))
    }
    val head = txn match {
      case Some((sinkId, batchId)) =>
        s"""{"format":1,"txn":["${LogMetadata.hexEncode(sinkId)}",$batchId]}"""
      case None => """{"format":1}"""
    }
    FsIO.create(new Path(jdir, "txn.json"), head)
    jdir.toString
  }

  /** Remove a journal (terminal state reached). */
  def delete(journalPath: String): Unit = {
    val p = new Path(journalPath)
    try {
      val fs = p.getFileSystem(HadoopConf.shared)
      if (fs.exists(p)) fs.delete(p, true): Unit
    } catch { case _: java.io.IOException => () }
  }

  /** Refresh a live journal's age anchor: the committer touches `hb`
    * before each per-topic CAS, so recovery's grace window measures from
    * the last PROGRESS, not from the commit point's write — a multi-topic
    * commit whose CAS phase outlives one sweep period is not rolled back
    * underneath itself. (A single CAS stalled longer than the grace is
    * still exposed; size `graceMs` above the longest expected rebase.) */
  def heartbeat(journalPath: String): Unit =
    try FsIO.replace(new Path(journalPath, "hb"), "1")
    catch { case _: java.io.IOException => () }

  /** Mark a journal undrivable (some staged files are gone AND their topic
    * never committed — roll-forward impossible, roll-back unsafe): renamed
    * out of the RECOVERY scan for operator attention instead of being
    * re-chewed every sweep. Its staged files stay vacuum-protected
    * ([[heldNames]] includes `.failed` journals) so the operator can still
    * inspect or hand-roll-forward the surviving topics; deleting the
    * `.failed` directory releases them. */
  def markFailed(journalPath: String): Unit = {
    val p = new Path(journalPath)
    try {
      val fs = p.getFileSystem(HadoopConf.shared)
      if (fs.exists(p)) fs.rename(p, new Path(journalPath + ".failed")): Unit
    } catch { case _: java.io.IOException => () }
  }

  /** All live journals under `root`, with the age anchor recovery's grace
    * window is measured against: the NEWEST of the commit-point mtime and
    * the committer's `hb` heartbeat (see [[heartbeat]]).
    * `includeFailed` adds `.failed` journals — recovery never drives
    * those, but vacuum protection ([[heldNames]]) must keep covering
    * their staged files or marking a journal failed would let the next
    * sweep eat the very evidence the rename preserves. */
  def list(root: String, includeFailed: Boolean = false): Seq[Journal] = {
    val d = new Path(dir(root))
    val fs = d.getFileSystem(HadoopConf.shared)
    if (!fs.exists(d)) return Seq.empty
    fs.listStatus(d).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("txn-") &&
        (includeFailed || !s.getPath.getName.endsWith(".failed")))
      // per-journal resilience: a concurrent in-process commit may DELETE
      // its journal between the listing and these reads — skip it (it
      // reached its terminal state; nothing to recover). A journal whose
      // directory STILL EXISTS but failed to read is a transient error
      // and propagates: callers must fail CLOSED (vacuum skipping a sweep
      // beats vacuum deleting files an unreadable journal still holds).
      .flatMap { s =>
        scala.util.Try {
        val files = fs.listStatus(s.getPath).filter(_.isFile)
        val txnFile = files.find(_.getPath.getName == "txn.json")
        // the commit point counts only when it parses whole: a torn
        // txn.json is a committer that died writing it, before any CAS —
        // an incomplete intent, never a complete one with a lost txn
        val head = txnFile.flatMap { f =>
          val text = FsIO.read(f.getPath)
          try Some(JsonText.parseObject(text))
          catch { case _: IllegalArgumentException => None }
        }
        val txn = head.flatMap(d => Option(d.get("txn"))).map { t =>
          require(t.isArray && t.size == 2, s"malformed journal txn $t")
          LogMetadata.hexDecode(JsonText.text(t.get(0))) -> JsonText.long(t.get(1))
        }
        val topics = files
          .filter(f => f.getPath.getName.startsWith("t-") &&
            f.getPath.getName.endsWith(".json"))
          .map { f =>
            val text = FsIO.read(f.getPath)
            // t-files are all written before the commit point: a torn one
            // in an INCOMPLETE intent names nothing recovery may rely on
            // (its files are unregistered orphans vacuum reclaims); in a
            // complete one it is corruption and fails closed
            f.getPath.getName.stripPrefix("t-").stripSuffix(".json") ->
              (try LogMetadata.parseManifest(text)
               catch { case _: IllegalArgumentException if head.isEmpty => Vector.empty })
          }.toMap
        // `hb.tmp-…` counts too: FsIO.replace's rename-over can leave `hb`
        // briefly absent, but one of the two is always on disk
        val anchor = (txnFile.map(_.getModificationTime) ++
          files.filter(_.getPath.getName.startsWith("hb")).map(_.getModificationTime))
          .maxOption.getOrElse(s.getModificationTime)
        Journal(s.getPath.toString, anchor,
          txn, complete = head.isDefined, topics)
        } match {
          case scala.util.Success(j) => Some(j)
          case scala.util.Failure(e) =>
            if (fs.exists(s.getPath)) throw e else None
        }
      }
  }

  /** Names (`part=p/name`) a journal still references for `topic` — what
    * vacuum must treat as protected: staged files are OLDER than their
    * journal's commit point by the whole stage-to-commit gap, so an
    * mtime-only grace would reclaim them while the journal is still
    * within ITS grace, stranding the recovery pass. Covers `.failed`
    * journals too (their files await the operator). FAILS CLOSED: a read
    * error propagates so the caller skips reclamation instead of treating
    * held files as orphans. */
  def heldNames(root: String, topic: String): Set[String] =
    heldByTopic(root).getOrElse(topic, Set.empty)

  /** One listing for a whole sweep: every topic's held names in one pass
    * (vacuum runs per topic; re-listing every journal per topic would be
    * O(topics × journals) root metadata reads). */
  def heldByTopic(root: String): Map[String, Set[String]] =
    list(root, includeFailed = true)
      .flatMap(j => j.topics.toSeq)
      .groupBy(_._1)
      .map { case (t, vs) =>
        t -> vs.flatMap(_._2).map(f => s"part=${f.part}/${f.name}").toSet
      }
}
