package graft.log

import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}

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
  * There is no in-place overwrite.
  *
  * On a `file:` root ([[localFile]]) all of it is `java.nio`: `create` is
  * one `open(O_CREAT|O_EXCL)` (`CREATE_NEW`), `publish` one `rename(2)`
  * (`ATOMIC_MOVE`), so both hold across processes; no `chmod` is forked
  * and no `.crc` sidecar is written or checked, and `publish` drops the
  * stale sidecar an older Hadoop write left beside a doc. Hadoop's local
  * file system gives neither primitive: its create is exists-then-open
  * and its overwriting rename is delete-then-rename. Every other store runs on `FileContext`.
  * Both sides throw Hadoop's `FileAlreadyExistsException` for a refused
  * create and `FileNotFoundException` for a missing doc. Control-plane docs
  * are all tiny — the whole-file read is deliberate. */
private[graft] object FsIO {

  /** The local file behind `p` when it lives on a `file:` store (a
    * scheme-less path resolves against the default file system), else
    * `None`. */
  def localFile(p: Path): Option[java.nio.file.Path] = {
    val u = p.toUri
    if (Option(u.getScheme).getOrElse(defaultScheme) == "file")
      Some(java.nio.file.Paths.get(u.getPath))
    else None
  }

  private lazy val defaultScheme =
    FileSystem.getDefaultUri(HadoopConf.shared).getScheme

  private def fc(p: Path): FileContext =
    FileContext.getFileContext(p.toUri, HadoopConf.shared)

  // java.nio's exceptions in the types the Hadoop side throws, so callers
  // stay store-agnostic
  private def hadoopTyped[A](p: Path)(body: => A): A =
    try body catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(s"$p already exists")
      case _: java.nio.file.NoSuchFileException =>
        throw new java.io.FileNotFoundException(s"$p does not exist")
    }

  /** Reads the opened file to its end — never a length from a separate
    * status call, which a concurrent rename-over can make disagree with
    * the file actually opened (a torn read). */
  def read(p: Path): String = localFile(p) match {
    case Some(f) => hadoopTyped(p)(new String(Files.readAllBytes(f), UTF_8))
    case None =>
      val in = fc(p).open(p)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Exclusive create (missing parents included): throws an
    * `IOException` if `p` exists, leaving its content as it was. */
  def create(p: Path, text: String): Unit = localFile(p) match {
    case Some(f) => hadoopTyped(p) {
      Files.createDirectories(f.getParent)
      Files.write(f, text.getBytes(UTF_8), StandardOpenOption.CREATE_NEW,
        StandardOpenOption.WRITE): Unit
    }
    case None =>
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

  /** The second half of [[replace]]: rename the staged `tmp` over `p`.
    * On a `file:` root the doc's `.crc` sidecar, left by a Hadoop write on
    * an older root, is unlinked first: the staged doc has none, and a
    * reader still checking sidecars (an older build, `hadoop fs -cat`)
    * would otherwise fail on the new doc for good. Unlinking before the
    * rename leaves no moment where the new doc sits beside the old
    * checksum. */
  def publish(tmp: Path, p: Path): Unit = (localFile(tmp), localFile(p)) match {
    case (Some(from), Some(to)) => hadoopTyped(tmp) {
      Files.deleteIfExists(to.resolveSibling(s".${to.getFileName}.crc"))
      Files.move(from, to, StandardCopyOption.ATOMIC_MOVE): Unit
    }
    case _ => fc(p).rename(tmp, p, Options.Rename.OVERWRITE)
  }
}
