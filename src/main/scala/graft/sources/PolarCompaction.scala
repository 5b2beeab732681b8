package graft.sources

import graft.log.{FileEntry, HadoopConf, LogMetadata, TopicConfig}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/**
 * Segment compaction: merge runs of small adjacent segments into full-size
 * ones. Per-request produces (the HTTP/binary façade, short micro-batches)
 * leave a long tail of tiny files; at 100 TB that inflates the registry,
 * the open-file count of every scan, and object-store request rates. The
 * reference ducks this by coalescing BEFORE the write
 * (`/root/reference/internal/producing/coalescer.go:24-27`) and rolling
 * 1 GiB segments; this pass restores that invariant after the fact for
 * whatever slipped through.
 *
 * Visibility discipline mirrors retention/rebase: merged files are written
 * FIRST (invisible — readers plan from the registry, never the directory),
 * then ONE metadata CAS swaps each run for its merged entry, then the old
 * files are deleted. A run whose members changed under the CAS (retention
 * raced it) is skipped and its merged file reclaimed — offsets, order and
 * bytes are preserved exactly, so a reader planning across the swap sees
 * the same rows either way.
 */
object PolarCompaction {

  /** Merge every run of ≥ `minRun` adjacent segments smaller than
    * `smallBytes` (runs capped at the 1 GiB roll size). Returns the number
    * of runs merged.
    *
    * `deleteOriginals = false` leaves the superseded files on disk as
    * UNREGISTERED orphans — invisible to every new planner but still
    * readable by long-running queries that planned against the
    * pre-compaction registry; reclaim them later with
    * `PolarLog.vacuum(cfg, dataGraceMs = maxQueryDuration)`. The default
    * deletes immediately (right for batch topics with no readers in
    * flight). */
  def compact(
      spark: SparkSession,
      cfg: TopicConfig,
      smallBytes: Long = 64L << 20,
      minRun: Int = 2,
      deleteOriginals: Boolean = true): Int = {
    val meta = LogMetadata.read(cfg)
    // merged runs cap at the topic's segment.bytes when configured, and at
    // the topic's segment.ms CREATION-TIME SPAN: the merged entry carries
    // the newest member's createdMs forward, so a run spanning more than
    // segment.ms would let age/size retention of its oldest records be
    // delayed past the roll ceiling the topic asked for
    val maxSpanMs = meta.props.get(graft.log.TopicProps.SegmentMs)
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .filter(_ >= 1L).getOrElse(Long.MaxValue)
    val plans = meta.filesByPart.toSeq.sortBy(_._1).flatMap { case (p, files) =>
      runsOf(files.sortBy(_.minOffset), smallBytes, minRun,
          graft.log.PolarLog.effectiveMaxFileBytes(
            meta.props, PolarWrite.DefaultMaxFileBytes), maxSpanMs)
        .map(run => p -> run)
    }
    if (plans.isEmpty) return 0

    // 1) write the merged segments (invisible until the CAS)
    val merged: Seq[((Int, Vector[FileEntry]), FileEntry)] = plans.map {
      case (p, run) =>
        val suffix = java.util.UUID.randomUUID().toString.take(8)
        val pfx = mergedPrefix(run)
        // an all-kc merge keeps a delete-horizon anchor: the NEWEST member
        // clean time (tombstones retained longest — the safe direction).
        // Carried BOTH structurally (FileEntry.cleanedMs, authoritative)
        // and in the name (legibility + legacy parsers).
        val mergedCleanedMs =
          if (pfx == "kc") run.map(PolarLogCleaner.cleanedMs).max else -1L
        val horizon =
          if (mergedCleanedMs >= 0) s"c$mergedCleanedMs-" else ""
        val name = f"$pfx${run.head.minOffset}%011d-$horizon$suffix.parquet"
        val destPath = s"${cfg.dir}/part=$p/$name"
        val bytes = PolarBatchWrite.copySegments(
          spark, cfg, run.map(_.path(cfg)), destPath, delta = 0L,
          codec = PolarWrite.effectiveCodec(meta.props))
        (p, run) -> FileEntry(p, name, run.head.minOffset, run.last.maxOffset,
          run.map(_.count).sum, bytes,
          // carry the NEWEST source commit age forward: the merged file
          // holds the same records, so age-based retention must see the
          // original commit time, not the merge time — a now() stamp would
          // grant old records up to a full extra retention window
          run.map(_.createdMs).max,
          // ts stats merge conservatively: any unknown member (MinValue
          // sentinel) keeps the merged file unprunable, any unknown null
          // count keeps the merged count unknown
          run.map(_.tsMin).min, run.map(_.tsMax).max,
          if (run.exists(_.tsNulls < 0)) -1L else run.map(_.tsNulls).sum,
          cleanedMs = mergedCleanedMs)
    }

    // 2) swap runs for merged entries — only where every member is still
    //    registered (appends only ADD files; retention may have removed).
    //    The copy phase above takes real time, so a concurrent produce
    //    bumping the version is EXPECTED — re-read and replay the swap (the
    //    membership check makes replaying safe against any interleaving);
    //    if the CAS never lands, the cleanup below reclaims every merged
    //    file and the pass reports 0.
    // file.delete.delay.ms: with a delay configured, superseded originals
    // are NOT deleted in step 3 — each applied run's members move to the
    // root doc's pendingDeletes ledger IN THE SAME CAS that unregisters
    // them, and vacuum reclaims them past the deadline. The delay is
    // resolved from the WINNING attempt's props (the copy phase above can
    // take minutes; a delay configured meanwhile must be honored).
    var delayMs = 0L
    val nowMs = System.currentTimeMillis()
    var attempts = 0
    var swapped = false
    while (!swapped && attempts < 5) {
      val base = LogMetadata.read(cfg)
      try {
        LogMetadata.compareAndSet(cfg, base) { cur =>
          delayMs =
            if (deleteOriginals) graft.log.PolarLog.fileDeleteDelayMs(cur.props)
            else 0L
          var pend = cur.pendingDeletes
          val next = cur.copy(filesByPart = cur.filesByPart.map { case (p, v) =>
            var vec = v
            merged.filter(_._1._1 == p).foreach { case ((_, run), m) =>
              val names = run.map(_.name).toSet
              if (names.forall(n => vec.exists(_.name == n))) {
                vec = (vec.filterNot(f => names(f.name)) :+ m).sortBy(_.minOffset)
                if (delayMs > 0L) pend = pend ++ run.map(f =>
                  graft.log.PendingDelete(p, f.name,
                    graft.log.PolarLog.dueAt(nowMs, delayMs)))
              }
            }
            p -> vec
          })
          if (delayMs > 0L) next.copy(pendingDeletes = pend) else next
        }
        swapped = true
      } catch { case _: graft.log.ConcurrentMetadataException => attempts += 1 }
    }

    // 3) delete what the swap superseded (unless deferred to the ledger);
    //    reclaim merged files whose run lost the race. A merged file can
    //    be absent from `after` for TWO reasons: the swap never landed
    //    (never registered — eager rm is safe) or a trim racing between
    //    our CAS and this read unregistered-and-LEDGERED it — then it is
    //    inside its reader window and vacuum owns its reclamation.
    val after = LogMetadata.read(cfg)
    val ledgered = after.pendingDeletes.map(pd => (pd.part, pd.name)).toSet
    def rm(path: String): Unit =
      graft.log.PolarLog.quietDelete(Seq(path))
    var applied = 0
    merged.foreach { case ((p, run), m) =>
      if (after.filesOf(p).exists(_.name == m.name)) {
        applied += 1
        if (deleteOriginals && delayMs == 0L) run.foreach(f => rm(f.path(cfg)))
      } else if (!ledgered((p, m.name))) rm(m.path(cfg))
    }
    applied
  }

  /** A merge of ALL-cleaned (`kc`) segments is still cleaned — keep the
    * marker, or the log cleaner's dirty-ratio guard would read the merged
    * run as dirty forever and rescan a region with nothing left to remove
    * on every version advance. Any dirty member makes the merge dirty. */
  private[sources] def mergedPrefix(run: Seq[FileEntry]): String =
    if (run.forall(_.name.startsWith("kc"))) "kc" else "cp"

  /** Maximal runs of adjacent entries all below `smallBytes`, split so a
    * run's total stays under `maxBytes` AND its members' `createdMs` span
    * stays within `maxSpanMs` (the topic's `segment.ms` ceiling), keeping
    * only runs of ≥ `minRun`. */
  private[sources] def runsOf(
      sorted: Vector[FileEntry],
      smallBytes: Long,
      minRun: Int,
      maxBytes: Long,
      maxSpanMs: Long = Long.MaxValue): Seq[Vector[FileEntry]] = {
    val out = Seq.newBuilder[Vector[FileEntry]]
    var cur = Vector.empty[FileEntry]
    var curBytes = 0L
    var minCreated = Long.MaxValue
    var maxCreated = Long.MinValue
    def flush(): Unit = {
      if (cur.length >= minRun) out += cur
      cur = Vector.empty; curBytes = 0L
      minCreated = Long.MaxValue; maxCreated = Long.MinValue
    }
    def start(f: FileEntry): Unit = {
      cur = Vector(f); curBytes = f.bytes
      minCreated = f.createdMs; maxCreated = f.createdMs
    }
    def spanWith(f: FileEntry): Long =
      math.max(maxCreated, f.createdMs) - math.min(minCreated, f.createdMs)
    sorted.foreach { f =>
      // open-producer-transaction segments never merge: commit/abort
      // resolve marks by entry identity, which a merge would destroy
      if (f.bytes >= smallBytes || f.txn.isDefined) flush()
      else if (cur.isEmpty) start(f)
      else if (curBytes + f.bytes > maxBytes ||
          (maxSpanMs != Long.MaxValue && spanWith(f) > maxSpanMs)) {
        flush(); start(f)
      } else {
        cur = cur :+ f; curBytes += f.bytes
        minCreated = math.min(minCreated, f.createdMs)
        maxCreated = math.max(maxCreated, f.createdMs)
      }
    }
    flush()
    out.result()
  }
}
