package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, NoSuchFileException, StandardCopyOption, StandardOpenOption,
  FileAlreadyExistsException => NioFileAlreadyExistsException, Path => NioPath}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus,
  FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint file manager every graft session installs
  * (`GraftSession.CheckpointFileManagerConf`). Spark builds one per offset
  * log, commit log, state store, file-sink log and state checksum reader,
  * always through this `(Path, Configuration)` constructor.
  *
  * `file:` paths go to [[NioCheckpointFileManager]]: Spark's default
  * FileContext manager runs every local write through Hadoop's
  * `RawLocalFileSystem`, whose `setPermission` forks `chmod` and whose
  * `getFileLinkStatus` forks `readlink` — about 50 child processes per
  * micro-batch of the calls stream. Every other scheme (HDFS, S3, ABFS, …),
  * and a `file:` scheme remapped to a non-local file system, goes to
  * `CheckpointFileManager.create` on a copy of the conf without the
  * manager key, so it gets exactly the manager Spark would pick.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val underlying: CheckpointFileManager =
    LocalCheckpointFileManager.localFileSystem(path, hadoopConf) match {
      case Some(raw) => new NioCheckpointFileManager(path, raw)
      case None =>
        val sparkDefault = new Configuration(hadoopConf)
        sparkDefault.unset(graft.GraftSession.CheckpointFileManagerConf)
        CheckpointFileManager.create(path, sparkDefault)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {

  /** The raw local file system behind `path` when its scheme (or the
    * default file system's, for a scheme-less path) is `file` and Hadoop
    * maps that scheme to its own local file system; None otherwise. */
  private def localFileSystem(path: Path, conf: Configuration): Option[RawLocalFileSystem] = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (!"file".equalsIgnoreCase(scheme)) None
    else path.getFileSystem(conf) match {
      case fs: LocalFileSystem => Some(fs.getRawFileSystem).collect { case r: RawLocalFileSystem => r }
      case fs: RawLocalFileSystem => Some(fs)
      case _ => None
    }
  }

  /** Hadoop's checksum twin of a file: `.<name>.crc` beside it. */
  private[streaming] def checksumTwin(p: NioPath): NioPath =
    p.resolveSibling(s".${p.getFileName}.crc")

  private[streaming] def isChecksumTwin(p: Path): Boolean = {
    val n = p.getName
    n.startsWith(".") && n.endsWith(".crc")
  }
}

/** Checkpoint files on a local disk through `java.nio`, starting no
  * process. Each file is written to a hidden temp sibling and published
  * on `close`:
  *
  *   - overwriting: `Files.move(tmp, dst, ATOMIC_MOVE)`, one rename(2);
  *   - not overwriting: `Files.createLink(dst, tmp)`, which fails
  *     atomically when `dst` exists. The conflict surfaces as Hadoop's
  *     `FileAlreadyExistsException`, which `HDFSMetadataLog` reports as
  *     two queries writing one checkpoint.
  *
  * A `.crc` twin left by Hadoop's checksummed file systems (Spark's
  * default manager writes one per file) is deleted before a file is
  * published, so reading the new bytes back through Hadoop never fails
  * its checksum; `list` hides such twins and `delete` removes them, as
  * Hadoop's checksummed listing and delete do. Like Spark's default
  * manager on a local disk, publishing does not fsync. `open`, `list` and
  * `delete` use the raw local file system, which starts no process for
  * them.
  */
private[streaming] final class NioCheckpointFileManager(root: Path, fs: RawLocalFileSystem)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private def local(p: Path): NioPath = fs.pathToFile(p).toPath

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val dst = local(p)
    val tmp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp")
    val out = try Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW) catch {
      case _: NoSuchFileException => // like Hadoop's create: make the parents
        Files.createDirectories(tmp.getParent)
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW)
    }
    new NioAtomicOutputStream(new BufferedOutputStream(out, 1 << 16), tmp, dst, overwriteIfPossible)
  }

  override def open(p: Path): FSDataInputStream = fs.open(p)

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    fs.listStatus(p, (q: Path) => !isChecksumTwin(q) && filter.accept(q))

  override def mkdirs(p: Path): Unit = {
    val d = local(p)
    // isDirectory follows links; createDirectories rejects a symlinked dir
    if (!Files.isDirectory(d)) Files.createDirectories(d)
  }

  override def exists(p: Path): Boolean = Files.exists(local(p))

  override def delete(p: Path): Unit = {
    fs.delete(p, true)
    Files.deleteIfExists(checksumTwin(local(p)))
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    mkdirs(root)
    fs.makeQualified(root)
  }
}

/** `close` publishes the temp file as `dst`; `cancel` drops it. Either
  * way the temp file is gone afterwards, also when publishing fails. */
private final class NioAtomicOutputStream(
    out: java.io.OutputStream, tmp: NioPath, dst: NioPath, overwrite: Boolean)
    extends CancellableFSDataOutputStream(out) {

  private var terminated = false

  override def close(): Unit = synchronized {
    if (!terminated) {
      terminated = true
      try {
        underlyingStream.close()
        publish()
      } finally Files.deleteIfExists(tmp)
    }
  }

  override def cancel(): Unit = synchronized {
    if (!terminated) {
      terminated = true
      try underlyingStream.close() catch { case NonFatal(_) => }
      finally Files.deleteIfExists(tmp)
    }
  }

  private def publish(): Unit = {
    def conflict() = new FileAlreadyExistsException(s"$dst already exists")
    // a failed no-overwrite publish leaves the existing file and its twin alone
    if (!overwrite && Files.exists(dst)) throw conflict()
    Files.deleteIfExists(LocalCheckpointFileManager.checksumTwin(dst))
    if (overwrite) Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    else try Files.createLink(dst, tmp) catch {
      case _: NioFileAlreadyExistsException => throw conflict()
    }
  }
}
