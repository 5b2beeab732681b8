package graft.sources

import graft.log.{FileEntry, LogMetadata, PolarLog, TopicConfig}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Statistics backfill — the `ANALYZE TABLE` of the metadata registry
 * (Iceberg `compute_table_stats` shape): files whose manifest entries
 * predate the ts-stats / null-count columns (sentinel range, `tsNulls =
 * -1`) get ONE bounded read each, and the exact `(tsMin, tsMax, tsNulls)`
 * is CAS-committed back into the registry.
 *
 * Why it matters: event-time segment pruning treats sentinel entries as
 * "never prune", and the order-based TOP-N push REFUSES logs whose files
 * cannot prove zero null timestamps — both correct but pessimistic for a
 * migrated log. One analyze pass upgrades such a topic to full pruning
 * and top-N pushdown forever after (new writes always carry exact stats).
 *
 * Scale posture: the job reads ONLY the stale files (a migrated topic
 * reads each once, an up-to-date topic reads nothing), aggregates
 * per-file min/max/counts map-side, and commits one metadata CAS. A
 * concurrent producer bumping the version makes the CAS fail LOUDLY
 * (the maintenance contract shared with the retention cleaner) — rerun;
 * entries are matched by (part, name), so a meanwhile-deleted file is
 * simply skipped.
 */
object PolarAnalyze {

  /** Backfills exact ts stats for every stale registry entry; returns the
    * number of entries updated. */
  def analyzeTsStats(spark: SparkSession, cfg: TopicConfig): Int = {
    val meta = LogMetadata.read(cfg)
    def stale(f: FileEntry): Boolean = f.count > 0 && f.tsNulls < 0
    val targets = meta.files.filter(stale)
    if (targets.isEmpty) return 0

    // one read over exactly the stale files; per-file stats map-side.
    // missingOk: a file deleted between the metadata read and the scan
    // (racing retention/delete-records) is SKIPPED — the CAS below
    // matches by (part, name), so the meanwhile-unregistered entry is
    // simply left alone, per the contract in the header doc
    val byPath = targets.map(f => f.path(cfg) -> (f.part, f.name)).toMap
    val rows = PolarLog.scanSegments(spark, cfg, byPath.keys.toSeq, missingOk = true)
      .select(input_file_name().as("file"), col("timestamp"))
      .groupBy(col("file"))
      .agg(count(lit(1)).as("n"), count(col("timestamp")).as("n_ts"),
        min(unix_micros(col("timestamp"))).as("ts_min"),
        max(unix_micros(col("timestamp"))).as("ts_max"))
      .collect()
    if (rows.isEmpty) return 0

    // input_file_name is a URI; match registry paths by suffix
    val statsByFile: Map[(Int, String), (Long, Long, Long)] = rows.flatMap { r =>
      val uri = r.getString(0)
      byPath.collectFirst {
        case (p, key) if uri.endsWith(p) || p.endsWith(
            uri.stripPrefix("file:")) =>
          val nulls = r.getLong(1) - r.getLong(2)
          val lo = if (r.isNullAt(3)) Long.MinValue else r.getLong(3)
          val hi = if (r.isNullAt(4)) Long.MaxValue else r.getLong(4)
          key -> (lo, hi, nulls)
      }
    }.toMap

    var updated = 0
    LogMetadata.compareAndSet(cfg, meta) { cur =>
      updated = 0
      cur.copy(filesByPart = cur.filesByPart.map { case (p, files) =>
        val next = files.map { f =>
          statsByFile.get((f.part, f.name)) match {
            case Some((lo, hi, nulls)) if stale(f) =>
              updated += 1
              f.copy(tsMin = lo, tsMax = hi, tsNulls = nulls)
            case _ => f
          }
        }
        // keep the vector INSTANCE when nothing changed so untouched
        // partitions' manifests are not rewritten (publish diffs by eq)
        p -> (if (next == files) files else next)
      })
    }
    updated
  }
}
