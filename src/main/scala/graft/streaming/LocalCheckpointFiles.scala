package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FSDataInputStream, FileAlreadyExistsException,
  FileStatus, FileSystem, Path, PathFilter, RawLocalFileSystem, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The engine's streaming checkpoint files: the offsets, commit and
  * metadata logs of every query, the file source's log and any state
  * store, installed for every session by [[graft.EngineSession]].
  *
  * On a `file:` path it writes and renames through java.nio and starts
  * no process. Hadoop's local filesystem without the native `libhadoop`
  * forks `readlink` and `chmod` from the driver for each file it
  * creates or renames (10 forks per log entry, 20 per micro-batch).
  *  - [[createAtomic]] writes a fresh temp sibling (`CREATE_NEW`,
  *    missing parents created) and publishes it on close. Without
  *    overwrite it publishes with `link(2)` (`Files.createLink`), the
  *    atomic rename that refuses an existing target; that refusal is
  *    raised as Hadoop's `FileAlreadyExistsException`, which
  *    `HDFSMetadataLog` reports as two queries writing one checkpoint.
  *    With overwrite it renames over the target (`ATOMIC_MOVE`) after
  *    deleting the target's `.crc` sibling, which would no longer match.
  *    Either way, and on cancel, the temp file is deleted.
  *  - [[open]], [[list]] and [[delete]] use a `RawLocalFileSystem`,
  *    which reads without checksums. [[list]] hides `.crc` files and
  *    [[delete]] removes them, as Hadoop's checksummed local filesystem
  *    does, so a checkpoint written by Spark's default manager resumes
  *    here and the other way round.
  *
  * Any other scheme goes to the manager Spark picks when none is
  * configured: `FileContextBasedCheckpointFileManager`, else
  * `FileSystemBasedCheckpointFileManager`.
  */
final class LocalCheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {
  import LocalCheckpointFiles._

  /** Spark's default manager for a path off the local filesystem. */
  private[graft] val remote: Option[CheckpointFileManager] =
    if (Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file") None
    else Some(try new FileContextBasedCheckpointFileManager(path, conf) catch {
      case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, conf)
    })

  private lazy val raw = {
    val fs = new RawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }

  private def file(p: Path): NioPath = raw.pathToFile(p).toPath

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    remote.fold[CancellableFSDataOutputStream] {
      val dst = file(p)
      Files.createDirectories(dst.getParent) // as Hadoop's create does
      new AtomicFile(dst, dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp"),
        overwriteIfPossible)
    }(_.createAtomic(p, overwriteIfPossible))

  def open(p: Path): FSDataInputStream = remote.fold(raw.open(p))(_.open(p))

  def list(p: Path, filter: PathFilter): Array[FileStatus] = remote.fold(raw.listStatus(p)
    .filter(s => !ChecksumFileSystem.isChecksumFile(s.getPath) && filter.accept(s.getPath)))(
    _.list(p, filter))

  def mkdirs(p: Path): Unit = remote.fold[Unit](Files.createDirectories(file(p)))(_.mkdirs(p))

  def exists(p: Path): Boolean = remote.fold(Files.exists(file(p)))(_.exists(p))

  def delete(p: Path): Unit = remote.fold[Unit] {
    raw.delete(p, true)
    raw.delete(new Path(p.getParent, s".${p.getName}.crc"), false)
  }(_.delete(p))

  def isLocal: Boolean = remote.fold(true)(_.isLocal)

  def createCheckpointDirectory(): Path = remote.fold {
    val q = raw.makeQualified(path)
    Files.createDirectories(file(q))
    q
  }(_.createCheckpointDirectory())

  override def close(): Unit = remote.foreach(_.close())
}

object LocalCheckpointFiles {
  /** One atomic write: the bytes go to `tmp`, and close publishes them
    * as `dst` (see [[LocalCheckpointFiles]]). */
  private final class AtomicFile(dst: NioPath, tmp: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
    private var finished = false

    override def close(): Unit = synchronized {
      if (!finished) {
        finished = true
        try {
          underlyingStream.close()
          if (overwrite) {
            Files.deleteIfExists(dst.resolveSibling(s".${dst.getFileName}.crc"))
            Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
          } else {
            try Files.createLink(dst, tmp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$dst already exists")
            }
          }
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!finished) {
        finished = true
        try underlyingStream.close() finally Files.deleteIfExists(tmp)
      }
    }
  }
}
