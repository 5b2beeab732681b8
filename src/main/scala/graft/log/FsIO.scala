package graft.log

import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import java.nio.charset.StandardCharsets.UTF_8

/** The one place the control plane reads/writes small whole files as
  * UTF-8: root and manifest docs ([[LogMetadata]]), group docs
  * ([[ConsumerGroups]]), txn markers, records and journals
  * ([[Transactions]], [[TxnJournal]]), lease epoch files ([[WriterLease]]),
  * the storage probe's scratch ([[StorageProbe]]). One seat so a fix
  * (length races, charset) cannot drift between near-identical copies.
  * Control-plane docs are all tiny — the whole-file read is deliberate. */
private[log] object FsIO {

  /** Reads the opened file to its end — never a length from a separate
    * status call, which a concurrent rename-over can make disagree with
    * the file actually opened (a torn read). */
  def readString(fs: FileSystem, p: Path): String = readAll(fs.open(p))

  /** The same read through a FileContext: the root, manifest and group
    * doc reads of every commit and poll take this one, since a local
    * FileContext open costs about a third of the checksummed FileSystem
    * open. */
  def readString(fc: FileContext, p: Path): String = readAll(fc.open(p))

  private def readAll(in: java.io.InputStream): String =
    try new String(in.readAllBytes(), UTF_8) finally in.close()

  /** Plain create+write (overwrite per flag). With `overwrite = false`
    * this is the EXCLUSIVE-create arbiter primitive — the create throws if
    * the path exists. */
  def writeString(p: Path, text: String, overwrite: Boolean): Unit = {
    val out = p.getFileSystem(HadoopConf.shared).create(p, overwrite)
    try out.write(text.getBytes(UTF_8))
    finally out.close()
  }
}
