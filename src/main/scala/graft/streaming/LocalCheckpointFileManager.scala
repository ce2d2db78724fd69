package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.file.{FileAlreadyExistsException => NioExists, Files, NoSuchFileException,
  Path => NioPath, Paths, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Checkpoint file manager for graft's local (`file:`) checkpoints.
  *
  * Without libhadoop, Hadoop's local filesystem forks a process for every
  * permission it sets or symlink it resolves: `chmod` on each temp-file
  * create and mkdir, and `readlink` four times per rename (both the
  * FileContext and the FileSystem rename stat source and destination).
  * Every micro-batch publishes an offset-log and a commit-log entry, one
  * entry per file source's log, and a delta and a checksum file per
  * state-store partition, so those forks were the streaming per-batch
  * floor.
  *
  * This manager does the write-side calls with java.nio syscalls:
  * `createTempFile` (mode 0644), `renameTempFile` (an atomic rename), and
  * `mkdirs` and `createCheckpointDirectory` (mode 0755). Spark's `RenameBasedFSDataOutputStream` still
  * drives temp-write, publish-on-close and delete-on-cancel; reads, lists
  * and deletes stay on Hadoop. Any other scheme takes Spark's stock
  * FileSystem-based code unchanged.
  *
  * Files written here have no Hadoop `.crc` sidecar: ChecksumFileSystem
  * reads a file without one unverified, and an overwrite drops the stale
  * sidecar a stock-written file may have left, so a checkpoint moves
  * freely between this manager and Spark's stock one.
  *
  * Installed per query start by [[StreamSource.checkpointDir]] through
  * `spark.sql.streaming.checkpointFileManagerClass`. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
  import LocalCheckpointFileManager._

  private val nio = fs.getUri.getScheme == "file"

  private def local(p: Path): NioPath = Paths.get(fs.makeQualified(p).toUri)

  override def createTempFile(p: Path): FSDataOutputStream =
    if (!nio) super.createTempFile(p)
    else {
      val f = local(p)
      def open() = Files.newOutputStream(f, StandardOpenOption.CREATE,
        StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
      val out =
        try open()
        catch { case _: NoSuchFileException => mkdirsLocal(f.getParent); open() }
      // explicit chmod, so the mode does not depend on the process umask
      Files.setPosixFilePermissions(f, FilePerms)
      new FSDataOutputStream(new BufferedOutputStream(out), null)
    }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    if (!nio) super.renameTempFile(src, dst, overwriteIfPossible)
    else {
      val (s, d) = (local(src), local(dst))
      // HDFSMetadataLog relies on this exception to detect a second writer
      if (!overwriteIfPossible && Files.exists(d))
        throw new FileAlreadyExistsException(
          s"Failed to rename $src to $dst as destination already exists")
      // a stale sidecar would fail the checksum of the new content on read
      if (overwriteIfPossible) Files.deleteIfExists(d.resolveSibling(s".${d.getFileName}.crc"))
      try Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: NoSuchFileException =>
          throw new FileNotFoundException(s"Failed to rename as $src was not found")
      }
    }

  override def mkdirs(p: Path): Unit =
    if (!nio) super.mkdirs(p) else mkdirsLocal(local(p))

  // the query's root dir, made once per start() through the same mkdir
  override def createCheckpointDirectory(): Path =
    if (!nio) super.createCheckpointDirectory()
    else {
      val root = fs.makeQualified(path)
      mkdirsLocal(local(root))
      root
    }
}

object LocalCheckpointFileManager {
  private val FilePerms = PosixFilePermissions.fromString("rw-r--r--")
  private val DirPerms = PosixFilePermissions.fromString("rwxr-xr-x")

  /** `mkdir -p` at 0755; safe against a concurrent creator of any level. */
  private def mkdirsLocal(dir: NioPath): Unit =
    if (!Files.isDirectory(dir)) {
      mkdirsLocal(dir.getParent)
      try {
        Files.createDirectory(dir)
        Files.setPosixFilePermissions(dir, DirPerms)
      } catch { case _: NioExists if Files.isDirectory(dir) => () }
    }
}
