package graft.log

import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}
import java.nio.charset.StandardCharsets.UTF_8

/** The control plane's doc store: the one place `graft.log` creates,
  * renames or reads a small whole-file UTF-8 doc — root, manifest and
  * snapshot docs ([[LogMetadata]]), group docs ([[ConsumerGroups]]), txn
  * markers, records, staged offsets and heartbeats ([[Transactions]]),
  * journals ([[TxnJournal]]), lease epoch files ([[WriterLease]]), and the
  * storage probe's scratch ([[StorageProbe]], which verifies exactly
  * these functions against a root).
  *
  * Every write is one of the two primitives the storage contract names
  * (USAGE §"Storage contract"):
  *  - [[create]], the EXCLUSIVE create — the first writer wins, a second
  *    create of the same path throws;
  *  - [[replace]], the atomic swap — a unique `<name>.tmp-<suffix>`
  *    sibling ([[stage]]) renamed over the doc ([[publish]]), so a reader
  *    sees the old doc or the new one, never a truncated one.
  * There is no in-place overwrite. All of it runs on `FileContext`: a local
  * FileContext open costs about a third of the checksummed FileSystem
  * open. Control-plane docs are all tiny — the whole-file read is
  * deliberate. */
private[log] object FsIO {

  private def fc(p: Path): FileContext =
    FileContext.getFileContext(p.toUri, HadoopConf.shared)

  /** Reads the opened file to its end — never a length from a separate
    * status call, which a concurrent rename-over can make disagree with
    * the file actually opened (a torn read). */
  def read(p: Path): String = {
    val in = fc(p).open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Exclusive create (missing parents included): throws an
    * `IOException` if `p` exists, leaving its content as it was. */
  def create(p: Path, text: String): Unit = {
    val out = fc(p).create(p, java.util.EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.createParent())
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  /** Atomically replace (or first write) the doc at `p`. */
  def replace(p: Path, text: String): Unit = publish(stage(p, text), p)

  /** The first half of [[replace]]: write `text` to a writer-unique
    * `<name>.tmp-<suffix>` sibling of `p` (concurrent writers never share
    * one) and return it for [[publish]]. */
  def stage(p: Path, text: String): Path = {
    val tmp = new Path(s"$p.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    create(tmp, text)
    tmp
  }

  /** The second half of [[replace]]: rename the staged `tmp` over `p`. */
  def publish(tmp: Path, p: Path): Unit =
    fc(p).rename(tmp, p, Options.Rename.OVERWRITE)
}
