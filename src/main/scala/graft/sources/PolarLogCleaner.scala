package graft.sources

import graft.log.{FileEntry, LogMetadata, PolarLog, TopicConfig}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * The log cleaner (Kafka's `cleanup.policy=compact` physical cleaner,
 * `kafka.log.LogCleaner` semantics re-expressed Spark-first): rewrite each
 * partition's CLEAN region — every segment below the active head segment —
 * keeping only the records that are still the LATEST for their key
 * partition-wide, preserving the survivors' original offsets. The
 * compacted (KTable) view is unchanged by construction; the raw log keeps
 * only what that view can still reach, which is what bounds a compacted
 * topic's storage at 100 TB of churn.
 *
 * Semantics, all matching Kafka:
 *  - the HEAD segment (last per partition) is never cleaned — it is the
 *    active region, and new appends supersede lazily at the next pass;
 *  - a record survives iff its offset equals the partition-wide max
 *    offset for its key (a newer record anywhere, including the head,
 *    supersedes clean-region predecessors);
 *  - latest-per-key TOMBSTONES survive by default (the delete fact must
 *    propagate to late readers); `dropTombstones = true` is the
 *    delete-retention expiry;
 *  - null-key records are not compactable and always survive;
 *  - survivors keep their offsets, so cleaned segments are offset-SPARSE
 *    (`FileEntry.dense` = false): consumer positions, windows and replay
 *    stay valid, and the planner's row-count arithmetic (LIMIT caps,
 *    offset top-N) detects sparsity and falls back to uncapped windows.
 *
 * Mechanics mirror [[PolarCompaction]]: survivors are written FIRST
 * (invisible), then ONE metadata CAS swaps each partition's clean-region
 * files for its cleaned segment (skipped if membership changed —
 * retention raced it), then superseded files are deleted. The winner
 * computation is one map-side-combinable aggregate over the DIRTY region
 * + heads only (Kafka's offset-map shape — see [[planPass]]), one
 * semi-join for dirty survivors and one anti-join for cleaned-region
 * survivors, all keyed (part, key) — keys are partition-local, so at
 * scale this shuffles each key group once, and re-passing an
 * already-clean region never re-aggregates it.
 */
object PolarLogCleaner {

  /** Kafka's `min.cleanable.dirty.ratio` (default 0.5): the scheduler
    * cleans only when the UNCLEANED portion of the clean region is at
    * least this fraction of it by bytes — pure registry arithmetic, no
    * data reads. Cleaned segments are recognizable by their `kc` prefix,
    * so dirty = clean-region bytes in non-kc files. A full-region rewrite
    * per produce would be O(region) work per commit; the ratio amortizes
    * it to O(region) per region-doubling, Kafka's exact cost model. */
  def dirtyRatio(meta: graft.log.LogMetadata): Double = {
    val regions = meta.filesByPart.valuesIterator
      .filter(_.size >= 2).map(_.sortBy(_.minOffset).init).toVector
    val total = regions.iterator.flatten.map(_.bytes).sum
    if (total == 0L) 0.0
    else regions.iterator.flatten
      .filterNot(_.name.startsWith("kc")).map(_.bytes).sum.toDouble / total
  }

  /** Kafka's `delete.retention.ms` default (24 h): how long a latest-per-key
    * tombstone must remain visible AFTER ITS SEGMENT WAS FIRST CLEANED
    * before the cleaner may physically drop it (KIP-534's delete-horizon
    * model — anchoring at the produce age instead would let the first pass
    * over an old tombstone drop it immediately, and a consumer only
    * minutes behind would never observe the delete fact). */
  val DefaultDeleteRetentionMs: Long = 24L * 3600 * 1000

  /** First-cleaning time of a cleaned segment — the KIP-534 delete-horizon
    * anchor. STRUCTURAL since r12: the manifest's `FileEntry.cleanedMs`
    * field is authoritative (format-4 stamped), so the invariant no longer
    * lives in a file name; `createdMs` stays the source commit age that
    * age-based retention needs. Legacy entries (-1 field) fall back to the
    * `kc<offset>-c<ms>-<uuid>` name parse, then to `createdMs` (pre-r11
    * builds stamped that AT clean time — the same anchor). -1 for files
    * that were never cleaned (their tombstones always survive the pass
    * that first cleans them). */
  private[sources] def cleanedMs(f: FileEntry): Long =
    if (f.cleanedMs >= 0) f.cleanedMs
    else if (!f.name.startsWith("kc")) -1L
    else CleanedMsRe.findFirstMatchIn(f.name).map(_.group(1).toLong)
      .getOrElse(f.createdMs)

  private val CleanedMsRe = "-c(\\d+)-".r

  /**
   * Registry-only pass planning — (clean regions by partition, dirty
   * region files, cleaned region files, head files).
   *
   * Kafka's cleaner builds its offset map from the DIRTY region only and
   * streams the cleaned region against it — same shape here, decided from
   * the registry alone: `kc`-named files are a previous pass's output, and
   * within a partition every kc offset sits BELOW every dirty offset (a
   * pass rewrites the whole region, appends land above; segment compaction
   * preserves the marker only for all-kc runs). So the winner aggregate
   * scans dirty files + heads only, a kc record is superseded iff ANY
   * dirty record shares its key, and a pass over an already-clean region
   * costs one bounded kc read instead of a full re-aggregate.
   */
  private[sources] def planPass(
      meta: LogMetadata,
      // Kafka's `min.compaction.lag.ms` floor: dirty segments committed at
      // or after this wall-clock are NOT yet cleanable — they (and, to keep
      // the region a contiguous prefix, everything above them) stay out of
      // the pass, so a record is guaranteed at least the lag uncompacted.
      // MaxValue (the default) excludes nothing.
      uncleanableFromMs: Long = Long.MaxValue)
      : (Map[Int, Vector[FileEntry]], Vector[FileEntry],
         Vector[FileEntry], Vector[FileEntry]) = {
    // one sorted pass per partition yields region AND head — a split
    // derivation could silently diverge under a future edit
    val sortedByPart: Map[Int, Vector[FileEntry]] = meta.filesByPart.collect {
      case (p, files) if files.size >= 2 => p -> files.sortBy(_.minOffset)
    }
    def isCleaned(f: FileEntry): Boolean = f.name.startsWith("kc")
    val regions = sortedByPart.map { case (p, v) =>
      val region = v.init
      // min-lag cut: appends are committed in offset order, so the first
      // too-young dirty file starts the uncleanable suffix (kc files are
      // a previous pass's output and always below the dirty ones). An
      // open-producer-transaction segment cuts the same way — Kafka's
      // cleaner never cleans past the LSO: uncommitted records must not
      // act as winners (an abort would resurrect the keys they superseded)
      // nor be rewritten (commit/abort resolve by entry identity).
      val cut = region.indexWhere(f =>
        f.txn.isDefined || (!isCleaned(f) && f.createdMs >= uncleanableFromMs))
      p -> (if (cut >= 0) region.take(cut) else region)
    }
    (regions,
      regions.valuesIterator.flatten.filterNot(isCleaned).toVector,
      regions.valuesIterator.flatten.filter(isCleaned).toVector,
      sortedByPart.valuesIterator.map(_.last).toVector)
  }

  /** Commit age of the OLDEST dirty (never-cleaned) clean-region segment —
    * what the scheduler's `max.compaction.lag.ms` deadline is measured
    * against. Pure registry arithmetic; None when nothing is dirty. */
  def oldestDirtyMs(meta: LogMetadata): Option[Long] = {
    val ages = dirtyAges(meta)
    if (ages.isEmpty) None else Some(ages.min)
  }

  /** Commit age of the NEWEST dirty clean-region segment — what the
    * scheduler checks to know whether a `min.compaction.lag.ms` cut
    * TRUNCATED the pass it just ran (young dirt still uncleaned): a
    * truncated pass must not record the cleaner version, or an idle topic
    * would never be compacted once the lag elapses. */
  def newestDirtyMs(meta: LogMetadata): Option[Long] = {
    val ages = dirtyAges(meta)
    if (ages.isEmpty) None else Some(ages.max)
  }

  private def dirtyAges(meta: LogMetadata): Vector[Long] =
    meta.filesByPart.valuesIterator
      .filter(_.size >= 2).flatMap(_.sortBy(_.minOffset).init)
      .filterNot(_.name.startsWith("kc")).map(_.createdMs).toVector

  /** Clean every partition whose clean region holds superseded records.
    * Returns the number of records physically removed.
    *
    * `deleteOriginals = false` leaves superseded segments on disk as
    * UNREGISTERED orphans — invisible to new planners but still readable
    * by long-running queries that planned pre-clean; a later
    * `PolarLog.vacuum(cfg, dataGraceMs = maxQueryDuration)` reclaims them
    * (the scheduler path uses this, same grace discipline as segment
    * compaction). The default deletes immediately. */
  def cleanKeys(
      spark: SparkSession,
      cfg: TopicConfig,
      dropTombstones: Boolean = false,
      deleteOriginals: Boolean = true,
      maxFileBytes: Long = PolarWrite.DefaultMaxFileBytes,
      // tombstone retention window (Kafka's `delete.retention.ms`): None
      // resolves the topic's prop, else the 24 h default. `dropTombstones`
      // remains the expire-everything-now override.
      deleteRetentionMs: Option[Long] = None,
      // Kafka's `min.compaction.lag.ms`: None resolves the topic's prop
      // (default 0). With a positive lag, dirty segments younger than it
      // are excluded from the pass AND from the winner map — a young
      // record neither gets compacted nor supersedes its predecessors
      // until the lag elapses, so a consumer reading within the lag still
      // observes the full intermediate history (Kafka's exact guarantee;
      // with lag 0 the map includes the heads, our long-standing default).
      minCompactionLagMs: Option[Long] = None,
      // scheduler max-lag deadline support: rewrite in-scope dirty regions
      // even when nothing is superseded, so their segments get kc-stamped
      // and tombstones START their delete-retention clock (Kafka advances
      // its cleaner checkpoint the same way on a removal-free pass)
      forceRewriteDirty: Boolean = false,
      nowMs: Long = System.currentTimeMillis()): Long = {
    val meta = LogMetadata.read(cfg)
    val minLag = minCompactionLagMs
      .orElse(meta.props.get(graft.log.TopicProps.MinCompactionLagMs)
        .flatMap(v => scala.util.Try(v.trim.toLong).toOption))
      .filter(_ > 0L)
    val (regions, regionDirty, regionKc, heads) =
      planPass(meta, minLag.map(nowMs - _).getOrElse(Long.MaxValue))
    // all regions empty happens whenever min-lag excludes every dirty file
    // (the steady state of a lagged topic) — skip the whole Spark plan,
    // not just the no-regions case
    if (regions.isEmpty || regions.valuesIterator.forall(_.isEmpty)) return 0L
    // kc-only pass with nothing to do: min-lag can empty the IN-SCOPE
    // dirty set while kc files remain in the region — rewriting those
    // would remove nothing AND restamp their clean times (delaying
    // tombstone expiry). Exit on registry arithmetic alone unless the
    // pass has real work: a forced kc-stamp, an explicit tombstone drop,
    // or a kc tombstone past its delete-retention horizon.
    if (regionDirty.isEmpty && !forceRewriteDirty && !dropTombstones) {
      val window = deleteRetentionMs
        .orElse(meta.props.get(graft.log.TopicProps.DeleteRetentionMs)
          .flatMap(v => scala.util.Try(v.trim.toLong).toOption))
        .getOrElse(DefaultDeleteRetentionMs)
      val horizon = nowMs - math.max(window, 0L)
      val anyExpirable = regionKc.exists { f =>
        val c = cleanedMs(f); c >= 0 && c < horizon
      }
      if (!anyExpirable) return 0L
    }
    // cleaned segments roll at the topic's own segment.bytes when set and
    // keep the topic's own storage codec
    val rollBytes = PolarLog.effectiveMaxFileBytes(meta.props, maxFileBytes)
    val codec = PolarWrite.effectiveCodec(meta.props)

    val dirtyRegionRows = PolarLog.consumeFiles(spark, cfg, regionDirty)
    val kcRows = PolarLog.consumeFiles(spark, cfg, regionKc)
    // heads at or beyond a partition's LSO are excluded from the winner
    // map: that covers the open-transaction head itself AND any plain head
    // sitting ABOVE an open-transaction mid-region segment — records
    // beyond the LSO must not supersede pre-LSO committed values (an
    // abort-then-read_committed sequence would otherwise find a key with
    // its old value cleaned away and its new one held back) — Kafka's
    // clean-below-LSO rule
    val lsoByPart: Map[Int, Long] = meta.filesByPart.map { case (p, fs) =>
      p -> fs.iterator.filter(_.txn.isDefined).map(_.minOffset)
        .minOption.getOrElse(Long.MaxValue)
    }
    val winners = PolarLog.consumeFiles(spark, cfg,
        if (minLag.isDefined) regionDirty
        else regionDirty ++ heads.filter(h =>
          h.minOffset < lsoByPart.getOrElse(h.part, Long.MaxValue)))
      .filter(col("partitionKey").isNotNull)
      .groupBy(col("part").as("wp"), col("partitionKey").as("wk"))
      .agg(max(col("offset")).as("wo"))
    var survivors = dirtyRegionRows.join(winners,
      dirtyRegionRows("part") === col("wp") &&
        dirtyRegionRows("partitionKey") === col("wk") &&
        dirtyRegionRows("offset") === col("wo"),
      "leftsemi")
      .unionAll(dirtyRegionRows.filter(col("partitionKey").isNull))
      // kc survivors: key absent from the dirty map (null keys never match
      // the anti condition, so they survive here too — as they must)
      .unionAll(kcRows.join(winners,
        kcRows("part") === col("wp") && kcRows("partitionKey") === col("wk"),
        "leftanti"))
    if (dropTombstones)
      survivors = survivors.filter(
        col("value").isNotNull || col("partitionKey").isNull)
    else {
      // delete.retention.ms (KIP-534): a latest-per-key tombstone survives
      // its FIRST cleaning unconditionally, then expires once the window
      // has passed since that cleaning. Age is segment-granular: only
      // already-cleaned (kc) region files whose first-cleaning time is
      // older than the horizon contribute to the per-partition offset
      // bound; dirty-region tombstones are never expired by the pass that
      // first cleans them. A re-clean restamps the segment's clean time,
      // so tombstones may outlive Kafka's exact horizon under churn —
      // conservative in the safe (retain-longer) direction.
      val window = deleteRetentionMs
        .orElse(meta.props.get(graft.log.TopicProps.DeleteRetentionMs)
          .flatMap(v => scala.util.Try(v.trim.toLong).toOption))
        .getOrElse(DefaultDeleteRetentionMs)
      val horizon = nowMs - math.max(window, 0L)
      val expiredBound: Seq[(Int, Long)] = regions.toSeq.collect {
        case (p, v) if v.exists(f => cleanedMs(f) >= 0 && cleanedMs(f) < horizon) =>
          p -> v.filter(f => cleanedMs(f) >= 0 && cleanedMs(f) < horizon)
            .map(_.maxOffset).max
      }
      if (expiredBound.nonEmpty) {
        val boundExpr = element_at(
          map(expiredBound.sortBy(_._1).flatMap { case (p, b) =>
            Seq(lit(p), lit(b)) }: _*), col("part"))
        survivors = survivors.filter(
          col("value").isNotNull || col("partitionKey").isNull ||
            boundExpr.isNull || col("offset") > boundExpr)
      }
    }
    // the survivors plan (dirty scan + winner aggregate + joins) feeds BOTH
    // the dirty check and the rewrite — persist so the dominant cost is
    // paid once per pass, not twice
    survivors.persist()
    try {

    // only partitions that actually drop records get rewritten — unless a
    // max-lag deadline forces kc-stamping of removal-free dirty regions
    val survivorCounts = survivors.groupBy(col("part")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val needy = regions.filter { case (p, files) =>
      survivorCounts.getOrElse(p, 0L) < files.map(_.count).sum ||
        (forceRewriteDirty && files.exists(f => !f.name.startsWith("kc")))
    }
    if (needy.isEmpty) return 0L
    val removed = needy.map { case (p, files) =>
      files.map(_.count).sum - survivorCounts.getOrElse(p, 0L) }.sum

    // 1) write the cleaned segments per needy partition (invisible until
    //    the CAS); survivors keep their offsets — the task writes rows in
    //    (part, offset) order, rolling at part boundaries AND at the same
    //    maxFileBytes size bound every other write path honors
    val needySet = needy.keySet
    val dir = cfg.dir
    // KIP-534 horizon preservation across re-cleans: every row sourced
    // from an EARLIER pass's kc file keeps THAT FILE's own clean time;
    // only newly cleaned rows get stamped with this pass's. A single
    // whole-region stamp would reset every tombstone's delete horizon on
    // each re-clean (retain forever under churn); collapsing coexisting kc
    // generations to one stamp would either under-retain (min: a tombstone
    // first cleaned at t2 restamped t1 expires a window too early — the
    // KIP-534 violation) or over-retain (max). The writer force-rolls at
    // every stamp change, so no output file ever mixes horizons.
    // Breakpoints per partition, offset-ascending: each kc file's
    // (minOffset, its cleanedMs), then (first dirty offset, this pass's
    // nowMs) — a survivor's stamp is the greatest breakpoint at or below
    // its offset.
    val stampBreaks: Map[Int, Array[(Long, Long)]] = regions.map {
      case (p, files) =>
        val kcPts = files.filter(_.name.startsWith("kc"))
          .map(f => f.minOffset -> cleanedMs(f))
        val dirtyStart = files.filterNot(_.name.startsWith("kc"))
          .map(_.minOffset).minOption
        p -> (kcPts ++ dirtyStart.map(_ -> nowMs)).sortBy(_._1).toArray
    }
    def stampFor(p: Int, offset: Long): Long = {
      val breaks = stampBreaks.getOrElse(p, Array.empty)
      // binary search for the greatest breakpoint at or below the offset —
      // called per ROW in the rewrite loop, so a linear scan would cost
      // O(rows × kc-generations) on heavily re-cleaned partitions
      var lo = 0; var hi = breaks.length - 1; var ans = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (breaks(mid)._1 <= offset) { ans = mid; lo = mid + 1 }
        else hi = mid - 1
      }
      // no breakpoint at/below the offset cannot happen for a region
      // survivor; fall back to this pass's stamp (the retain-longer side)
      if (ans < 0) nowMs else breaks(ans)._2
    }
    val entries: Map[Int, Vector[FileEntry]] = survivors
      .filter(col("part").isInCollection(needySet.map(Integer.valueOf)))
      .select(col("partitionKey"), col("token"), col("offset"),
        col("timestamp"), col("value"), col("part"))
      .repartition(col("part"))
      .sortWithinPartitions(col("part"), col("offset"))
      .queryExecution.toRdd.mapPartitions { it =>
        val conf = PolarDataWriter.writeConf()
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, String, Long, Long, Long, Long, Long, Long, Long)]
        var part = -1
        var writer: org.apache.parquet.hadoop.ParquetWriter[
          org.apache.spark.sql.catalyst.InternalRow] = null
        var name: String = null
        var lo = 0L; var hi = 0L; var n = 0L
        var approxBytes = 0L
        var stamp = -1L
        var tsMin = Long.MaxValue; var tsMax = Long.MinValue; var tsNulls = 0L
        val buf = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(5)
        def seal(): Unit = if (writer != null) {
          writer.close()
          out += ((part, name, lo, hi, n, tsMin, tsMax, tsNulls, stamp))
          writer = null
        }
        def open(p: Int, firstOffset: Long): Unit = {
          part = p
          stamp = stampFor(p, firstOffset)
          // the `-c<ms>-` name stamp mirrors the structural cleanedMs (the
          // manifest field is authoritative; the name keeps passes legible
          // and legacy parsers working): each source kc file's OWN horizon
          // for kc-sourced rows, this pass's for newly cleaned ones
          name = f"kc$firstOffset%011d-c$stamp-" +
            s"${java.util.UUID.randomUUID().toString.take(8)}.parquet"
          writer = PolarDataWriter.open(new Path(s"$dir/part=$p/$name"), conf,
            codec)
          lo = firstOffset; n = 0L; approxBytes = 0L
          tsMin = Long.MaxValue; tsMax = Long.MinValue; tsNulls = 0L
        }
        it.foreach { row =>
          val p = row.getInt(5)
          // roll on partition change, size, and EVERY horizon change — two
          // stamps never share a file, so no row's delete horizon can be
          // collapsed into a neighbor generation's
          if (p != part || approxBytes >= rollBytes ||
              stampFor(p, row.getLong(2)) != stamp) {
            seal()
            open(p, row.getLong(2))
          }
          val key = if (row.isNullAt(0)) null else row.getUTF8String(0)
          val value = if (row.isNullAt(4)) null else row.getBinary(4)
          buf.update(0, key)
          buf.update(1, if (row.isNullAt(1)) null else row.getLong(1))
          buf.update(2, row.getLong(2))
          if (row.isNullAt(3)) { tsNulls += 1; buf.update(3, null) }
          else {
            val ts = row.getLong(3)
            if (ts < tsMin) tsMin = ts
            if (ts > tsMax) tsMax = ts
            buf.update(3, ts)
          }
          buf.update(4, value)
          writer.write(buf)
          hi = row.getLong(2); n += 1
          approxBytes += 24L +
            (if (key == null) 0 else key.numBytes()) +
            (if (value == null) 0 else value.length)
        }
        seal()
        out.iterator
      }.collect().map { case (p, name, lo, hi, n, tsMin, tsMax, tsNulls, stamp) =>
        val bytes = PolarDataWriter.sealedSize(new Path(s"$dir/part=$p/$name"))
        val (tLo, tHi) =
          if (tsMin > tsMax) (Long.MinValue, Long.MaxValue) else (tsMin, tsMax)
        // createdMs carries the NEWEST source segment's commit age forward
        // (never the clean-pass time): survivors are old records, and
        // age-based retention — should the topic's policy later flip to
        // delete — must see their original commit age, not grant them up
        // to a full extra retention window. cleanedMs is the structural
        // KIP-534 horizon (same value the name's -c stamp carries).
        val srcAge = needy.get(p).map(_.map(_.createdMs).max)
          .getOrElse(System.currentTimeMillis())
        FileEntry(p, name, lo, hi, n, bytes, srcAge, tLo, tHi, tsNulls,
          cleanedMs = stamp)
      }.groupBy(_.part).map { case (p, fs) => p -> fs.toVector.sortBy(_.minOffset) }

    // 2) swap each partition's clean region for its cleaned segment — only
    //    where every member is still registered (retention may race); an
    //    all-superseded region swaps to NOTHING. Version churn from
    //    concurrent produces is expected: re-read and replay.
    // file.delete.delay.ms: with a delay configured, superseded originals
    // move to the pendingDeletes ledger IN THE SAME CAS that unregisters
    // them (vacuum reclaims past the deadline) instead of the eager rm in
    // step 3. Resolved from the WINNING attempt's props — the rewrite job
    // above can take minutes, and a delay configured meanwhile must be
    // honored.
    var delayMs = 0L
    val pendNowMs = System.currentTimeMillis()
    var attempts = 0
    var swapped = false
    while (!swapped && attempts < 5) {
      val base = LogMetadata.read(cfg)
      try {
        LogMetadata.compareAndSet(cfg, base) { cur =>
          delayMs =
            if (deleteOriginals) graft.log.PolarLog.fileDeleteDelayMs(cur.props)
            else 0L
          // MATERIALIZE the log starts BEFORE the swap: compaction must
          // never advance them (survivors may start above the first
          // file's old minOffset without anything having been lost), and
          // the legacy derive-from-files fallback would do exactly that
          val starts = cur.materializedLogStarts
          var pend = cur.pendingDeletes
          val next = cur.copy(
            filesByPart = cur.filesByPart.map { case (p, v) =>
              needy.get(p) match {
                case Some(run) if run.map(_.name).forall(n => v.exists(_.name == n)) =>
                  val names = run.map(_.name).toSet
                  val kept = v.filterNot(f => names(f.name))
                  if (delayMs > 0L) pend = pend ++ run.map(f =>
                    graft.log.PendingDelete(p, f.name,
                      graft.log.PolarLog.dueAt(pendNowMs, delayMs)))
                  p -> (kept ++ entries.getOrElse(p, Vector.empty))
                    .sortBy(_.minOffset)
                case _ => p -> v
              }
            },
            logStarts = starts)
          if (delayMs > 0L) next.copy(pendingDeletes = pend) else next
        }
        swapped = true
      } catch { case _: graft.log.ConcurrentMetadataException => attempts += 1 }
    }

    // 3) delete superseded originals (unless deferred to the ledger);
    //    reclaim cleaned files whose swap lost the race. A cleaned entry
    //    absent from `after` usually means the swap never landed (never
    //    registered — eager rm safe), but a trim racing between our CAS
    //    and this read may have unregistered-and-LEDGERED it, or left
    //    part of `mine` registered — rm only what is provably neither.
    val after = LogMetadata.read(cfg)
    val ledgered = after.pendingDeletes.map(pd => (pd.part, pd.name)).toSet
    def rm(path: String): Unit =
      graft.log.PolarLog.quietDelete(Seq(path))
    var removedApplied = 0L
    needy.foreach { case (p, run) =>
      val mine = entries.getOrElse(p, Vector.empty)
      val landed =
        if (mine.nonEmpty) mine.forall(e => after.filesOf(p).exists(_.name == e.name))
        else run.forall(f => !after.filesOf(p).exists(_.name == f.name))
      if (landed) {
        removedApplied += run.map(_.count).sum - survivorCounts.getOrElse(p, 0L)
        if (deleteOriginals && delayMs == 0L) run.foreach(f => rm(f.path(cfg)))
      } else mine
        .filterNot(e => after.filesOf(p).exists(_.name == e.name) ||
          ledgered((p, e.name)))
        .foreach(e => rm(e.path(cfg)))
    }
    removedApplied min removed
    } finally survivors.unpersist()
  }
}
