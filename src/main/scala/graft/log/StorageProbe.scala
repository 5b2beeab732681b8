package graft.log

import org.apache.hadoop.fs.Path

/**
 * Startup probe for the two filesystem primitives the engine's control
 * plane is built on — run [[FsIO]]'s own functions against the REAL root
 * once and fail loudly where a deployment contract would otherwise fail
 * silently:
 *
 *  - **Exclusive create** (`FsIO.create` must refuse an existing path):
 *    the commit-vs-abort arbiter (`terminal.json`,
 *    `Transactions.decideTerminal`) and the writer-lease epoch files
 *    ([[WriterLease]]) use first-writer-wins creation as their atomicity
 *    primitive. A store that silently overwrites turns "exactly one
 *    decision" into "last writer wins" — commit/abort could half-apply.
 *  - **Atomic rename-onto-existing** (`FsIO.publish`, the second half of
 *    `FsIO.replace`): root-doc publishes, group-document commits,
 *    finalize records and the txn state docs all swap content by rename. A store that implements rename as
 *    copy+delete exposes readers to missing/partial docs.
 *
 * HDFS, ABFS, GCS and local filesystems provide both. Raw S3A provides
 * NEITHER natively (S3 has no atomic rename and create-no-overwrite is
 * best-effort conditional); deployments there need a consistency layer or
 * must accept the documented risk — the probe is how they find out at
 * startup instead of at the first torn commit. See USAGE §Deployment.
 *
 * Results are cached per filesystem (scheme + authority): the probe costs
 * a handful of metadata ops, once per process per store.
 */
object StorageProbe {

  final case class Result(
      exclusiveCreate: Boolean,
      atomicRenameOverwrite: Boolean,
      details: Seq[String]) {
    def compliant: Boolean = exclusiveCreate && atomicRenameOverwrite
  }

  /** The primitive operations under probe — injectable so the spec can
    * model a non-compliant store (raw S3A semantics) without a custom
    * Hadoop filesystem registration. */
  private[log] trait Ops {
    /** exclusive create; must throw if the path exists. */
    def createExclusive(p: Path, content: String): Unit
    /** rename src onto an EXISTING dst, overwrite semantics. */
    def renameOverwrite(src: Path, dst: Path): Unit
    def read(p: Path): String
    def delete(p: Path): Unit
    def mkdirs(p: Path): Unit
  }

  /** The engine's own primitives, so the probe checks the code it runs. */
  private[log] class RealOps extends Ops {
    private def fsOf(p: Path) = p.getFileSystem(HadoopConf.shared)
    def createExclusive(p: Path, content: String): Unit = FsIO.create(p, content)
    def renameOverwrite(src: Path, dst: Path): Unit = FsIO.publish(src, dst)
    def read(p: Path): String = FsIO.read(p)
    def delete(p: Path): Unit = { fsOf(p).delete(p, true): Unit }
    def mkdirs(p: Path): Unit = { fsOf(p).mkdirs(p): Unit }
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Result]()

  /** Test hook: forget cached probe results. */
  private[graft] def resetCacheForTest(): Unit = cache.clear()

  private def fsKey(root: String): String = {
    val u = new Path(root).toUri
    s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}"
  }

  /** Probe `root`'s filesystem (cached per scheme+authority). Never
    * throws — a probe that cannot even run reports non-compliance with
    * the error in `details`. */
  def probe(root: String): Result =
    cache.computeIfAbsent(fsKey(root), _ => run(root, new RealOps))

  private[log] def run(root: String, ops: Ops): Result = {
    val dir = new Path(
      s"$root/_polar_probe_${java.util.UUID.randomUUID().toString.take(8)}")
    val details = scala.collection.mutable.ArrayBuffer.empty[String]
    var exclusive = false
    var rename = false
    try {
      ops.mkdirs(dir)
      // exclusive create: the second creator of the same path must FAIL
      val arb = new Path(dir, "arbiter")
      ops.createExclusive(arb, "first")
      val refused =
        try { ops.createExclusive(arb, "second"); false }
        catch { case _: java.io.IOException => true }
      val intact = ops.read(arb) == "first"
      exclusive = refused && intact
      if (!refused) details += ("an exclusive create OVERWROTE an " +
        "existing file — first-writer-wins arbitration is unavailable")
      else if (!intact) details += ("a refused exclusive create still " +
        "ALTERED the existing file's content")
      // rename onto an existing destination must atomically replace it
      val dst = new Path(dir, "doc")
      val tmp = new Path(dir, "doc.tmp")
      ops.createExclusive(dst, "old")
      ops.createExclusive(tmp, "new")
      try {
        ops.renameOverwrite(tmp, dst)
        val now = ops.read(dst)
        rename = now == "new"
        if (!rename) details += (s"rename(OVERWRITE) left the destination " +
          s"with unexpected content '${now.take(32)}'")
      } catch {
        case e: Exception =>
          details += s"rename onto an existing path failed: ${e.getMessage}"
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        details += s"probe could not run: ${e.getMessage}"
    } finally {
      try ops.delete(dir) catch { case scala.util.control.NonFatal(_) => () }
    }
    Result(exclusive, rename, details.toSeq)
  }

  /** Probe and enforce: WARN on stderr for a non-compliant store, or —
    * with `refuse = true` (what lease acquisition uses; its fencing
    * correctness depends on these primitives) — throw. */
  def check(root: String, refuse: Boolean = false): Result = {
    val r = probe(root)
    if (!r.compliant) {
      val msg = s"storage at '$root' violates the engine's filesystem " +
        s"contract: ${r.details.mkString("; ")}. HDFS/ABFS/GCS/local are " +
        "compliant; raw S3A is not — see USAGE §Deployment (storage matrix)."
      if (refuse) throw new IllegalStateException(msg)
      else System.err.println(s"[polar] WARNING: $msg")
    }
    r
  }
}
