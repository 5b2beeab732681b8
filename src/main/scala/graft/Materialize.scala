package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/**
 * Ownership registry for operator-internal materializations.
 *
 * Operators materialize intermediates (fingerprints, unit vectors, vocab
 * tables, canonical edge sets, BSP round frames) with [[localCheckpoint]],
 * [[checkpointCounted]] or [[persist]] so two consumers don't recompute the
 * producing pipeline. Each such block set is OWNED by the thread that made
 * it: the registrations live in a per-thread list, and [[release]] drops
 * only the calling thread's blocks. A query that runs on one thread (a
 * gate, a notebook cell, the server's compactor) therefore can never lose
 * its blocks to a release on another thread — which matters because a
 * `localCheckpoint` truncates lineage, so its blocks are unrecoverable once
 * dropped. Unowned blocks would otherwise accumulate in the BlockManager
 * for the life of the JVM (measured as a ~5× session-level slowdown across
 * the round-5 bench).
 *
 * A caller runs [[release]] on the thread that ran the operator, once the
 * result has been fully consumed (counted, written, collected) — the same
 * contract as Spark's own `ContextCleaner`, made deterministic instead of
 * GC-timed. [[sweep]] is for a harness that owns the whole session (Bench,
 * Verify, the test suites): beyond the calling thread's release it stops
 * every active stream and clears the session's SQL cache, which are
 * session-wide and would break any other thread's running query.
 *
 * Checkpoints carry MEASURED statistics: the job that materializes the
 * blocks also counts their rows and sums their bytes, and the resulting
 * `LogicalRDD` reports exactly those. Catalyst's own join selection
 * (`autoBroadcastJoinThreshold`) then decides broadcast vs shuffle for
 * round frames from their real size, instead of from the origin plan's
 * estimate (for a self-join origin, the product of its inputs' sizes).
 */
object Materialize {

  /** The calling thread's registrations; each entry drops one block set. */
  private val owned =
    ThreadLocal.withInitial[List[() => Unit]](() => Nil)

  private def own(dropBlocks: => Unit): Unit =
    owned.set((() => try dropBlocks catch { case _: Throwable => () }) :: owned.get)

  /** Persist, owned by the calling thread. Lineage is KEPT: losing an
    * executor recomputes blocks instead of failing, and an early
    * [[release]] only costs recompute. */
  def persist(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val p = df.persist(level)
    own(p.unpersist(blocking = false))
    p
  }

  /** Eager localCheckpoint, owned by the calling thread: [[checkpointCounted]]
    * with the count dropped. */
  def localCheckpoint(df: DataFrame): DataFrame = checkpointCounted(df)._1

  /** Eager localCheckpoint + row count, owned by the calling thread: the
    * standard BSP round materialization. The plan is truncated — `persist`
    * alone is NOT a substitute: it keeps the full logical tree, and an
    * iterative operator's plan then embeds every prior round's tree,
    * growing exponentially (minutes of driver time stringifying and
    * canonicalizing plans when tried).
    *
    * One `runJob` over the checkpoint-marked internal RDD caches every
    * partition (local checkpointing persists on first compute), counts its
    * rows and sums their `UnsafeRow` bytes; the returned frame's
    * `LogicalRDD` carries those as its statistics, with partitioning,
    * ordering and constraints as `Dataset.localCheckpoint` builds them.
    * The RDD is owned BEFORE the job runs, so the blocks a failed job
    * already wrote are released too. */
  def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val classicDs = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val internal = classicDs.queryExecution.toRdd.map(_.copy())
    internal.localCheckpoint()
    own(internal.unpersist(blocking = false))
    // a non-UnsafeRow (rare: some leaf operators) is charged Catalyst's
    // own per-row estimate for the schema
    val otherRowBytes = 8L + df.schema.defaultSize
    val parts = df.sparkSession.sparkContext.runJob(internal,
      (it: Iterator[InternalRow]) => {
        var rows = 0L
        var bytes = 0L
        while (it.hasNext) {
          bytes += (it.next() match {
            case u: UnsafeRow => u.getSizeInBytes.toLong
            case _ => otherRowBytes
          })
          rows += 1
        }
        (rows, bytes)
      })
    val rows = parts.map(_._1).sum
    val cp = org.apache.spark.sql.graftshims.GraftShims
      .checkpointedFrom(df, internal, sizeInBytes = parts.map(_._2).sum, rowCount = rows)
    (cp, rows)
  }

  /** Size-gated pin for multi-consumer intermediates: `localCheckpoint`
    * (lineage cut, memory blocks) when a BOUNDED probe of `gate` finds at
    * most `maxRows` rows, resilient `persist` otherwise. The probe is
    * `limit(maxRows+1).count()` — `LocalLimit` short-circuits every task
    * at the cap, so the gate costs O(maxRows) rows scanned even on a
    * 100 TB frame, where a full `count()` gate re-scans the entire input
    * once per operator call. */
  def pinBySize(toPin: DataFrame, gate: DataFrame, maxRows: Long): DataFrame =
    if (atMostRows(gate, maxRows)) localCheckpoint(toPin) else persist(toPin)

  /** Bounded row-count probe: true iff `df` holds at most `maxRows` rows,
    * scanning at most `maxRows + 1` of them (the [[pinBySize]] gate, also
    * used directly by the dual-path dedup operators whose plan SHAPE
    * changes with corpus size). */
  def atMostRows(df: DataFrame, maxRows: Long): Boolean = {
    val cap = math.min(maxRows, Int.MaxValue - 2L).toInt
    df.limit(cap + 1).count() <= maxRows
  }

  /** Immediately drop a frame's blocks — for intermediates an operator
    * itself owns and has finished with (e.g. the previous iteration of a
    * contraction loop). The frame must not be read again if it was
    * checkpointed. */
  def drop(df: DataFrame): Unit = {
    df.queryExecution.analyzed.collect {
      case lr: LogicalRDD => lr.rdd
    }.foreach { r => try r.unpersist(blocking = false) catch { case _: Throwable => () } }
    try df.unpersist(blocking = false) catch { case _: Throwable => () }
  }

  /** Drop every block the calling thread owns. Call once per query, on the
    * thread that ran it, after its result has been fully consumed. Other
    * threads' registrations are untouched. */
  def release(): Unit = {
    val mine = owned.get
    owned.remove()
    mine.foreach(_())
  }

  /** The calling thread's outstanding registrations (spec hook). */
  def ownedCount: Int = owned.get.size

  /** Harness-side session sweep: the calling thread's owned blocks, plus
    * the session-wide state a harness owns — stray SQL-cache entries,
    * finished memory-sink tables, and lingering streams. One call per
    * query keeps a multi-hundred-query session at fresh-JVM speed. Not
    * for library callers: it stops other threads' streams and cached
    * frames; they call [[release]]. */
  def sweep(spark: SparkSession): Unit = {
    release()
    try spark.streams.active.foreach(_.stop()) catch { case _: Throwable => () }
    try spark.catalog.clearCache() catch { case _: Throwable => () }
    try {
      spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && t.name.startsWith("gate_"))
        .foreach(t => spark.catalog.dropTempView(t.name))
    } catch { case _: Throwable => () }
  }
}
