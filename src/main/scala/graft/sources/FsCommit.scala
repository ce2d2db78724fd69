package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** Cluster-grade file commit primitives: every rename/list/claim the
  * engine's commit protocols use (FileTopic segments, TxFileSink epochs,
  * AvroFiles task commits) goes through this ONE module, so the protocol
  * logic has a single authority and the filesystem is a dispatch detail:
  *
  *  - `file:` / schemeless paths take a java.nio/java.io fast path —
  *    measured 700x faster per rename than Hadoop's local FileContext
  *    (24 ms vs 35 µs), which would otherwise dominate a 200-file epoch
  *    publish;
  *  - any other scheme (hdfs://, s3a://, …) routes through Hadoop
  *    FileSystem / FileContext: namenode-atomic renames on HDFS, and on
  *    object stores without atomic rename the rolling sink's MANIFEST
  *    commit point (part files inert until one small manifest publishes
  *    atomically; readers resolve parts only through manifests) keeps
  *    the protocol correct (ref StreamingFileSink.java:92 bucket/part
  *    lifecycle; same commit point as Delta/Iceberg).
  *
  * A cluster deployment changes nothing but the path prefix. */
object FsCommit {

  // Configuration parse is milliseconds and FileContext is uncached by
  // Hadoop — shared read-only instances.
  private lazy val conf = new Configuration()
  private val fctxCache = new graft.Once[String, FileContext]

  private def fctx(p: String): FileContext = {
    val uri = new Path(p).toUri
    val key = s"${uri.getScheme}://${Option(uri.getAuthority).getOrElse("")}"
    fctxCache(key)(FileContext.getFileContext(uri, conf))
  }

  private def isLocal(p: String): Boolean = {
    val s = new Path(p).toUri.getScheme
    s == null || s == "file"
  }

  private def nio(p: String): java.nio.file.Path =
    java.nio.file.Paths.get(new Path(p).toUri.getPath)

  def fs(p: String): FileSystem = new Path(p).getFileSystem(conf)

  def exists(p: String): Boolean =
    if (isLocal(p)) java.nio.file.Files.exists(nio(p))
    else fs(p).exists(new Path(p))

  def mkdirs(p: String): Unit =
    if (isLocal(p)) { new java.io.File(nio(p).toString).mkdirs(); () }
    else { fs(p).mkdirs(new Path(p)); () }

  def delete(p: String): Unit =
    if (isLocal(p)) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(nio(p).toString))
    } else { fs(p).delete(new Path(p), true); () }

  /** Atomic claim on a path: true iff WE created it (local:
    * File.createNewFile; HDFS: atomic namenode create). */
  def claim(p: String): Boolean =
    if (isLocal(p)) new java.io.File(nio(p).toString).createNewFile()
    else fs(p).createNewFile(new Path(p))

  /** Rename that REPLACES an existing destination atomically. */
  def renameOverwrite(src: String, dst: String): Unit =
    if (isLocal(dst))
      java.nio.file.Files.move(nio(src), nio(dst),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    else fctx(dst).rename(new Path(src), new Path(dst), Options.Rename.OVERWRITE)

  /** Rename that REFUSES an existing destination (commit-if-absent).
    * Returns false if the destination already exists — the caller's
    * "someone else committed first" branch. The LOCAL path is atomic at
    * the kernel, with no userspace check-then-act window:
    *  - directories: rename(2) itself refuses a non-empty destination
    *    (ENOTEMPTY/EEXIST); published commit directories always contain
    *    at least one file, so "dst exists" always means refusal. (An
    *    EMPTY pre-existing dst would be silently replaced — no caller
    *    publishes empty directories.)
    *  - files: link(2) is O_EXCL-atomic; the winner then unlinks the
    *    source name.
    * HDFS-class schemes get the namenode's atomic rename check. */
  def renameIfAbsent(src: String, dst: String): Boolean =
    if (isLocal(dst)) {
      val s = nio(src); val d = nio(dst)
      try {
        if (java.nio.file.Files.isDirectory(s)) {
          java.nio.file.Files.move(s, d,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } else {
          try java.nio.file.Files.createLink(d, s)
          catch {
            // EXDEV (src and dst on different filesystems) or a filesystem
            // without hard-link support: fall back to the plain move those
            // filesystems do support (copy+delete across devices — the
            // pre-link behavior). FileAlreadyExistsException is excluded so
            // a lost race still reaches the outer `false` branch.
            case _: UnsupportedOperationException =>
              java.nio.file.Files.move(s, d)
            case e: java.nio.file.FileSystemException
                if !e.isInstanceOf[java.nio.file.FileAlreadyExistsException] &&
                  !exists(dst) && exists(src) =>
              java.nio.file.Files.move(s, d)
          }
          java.nio.file.Files.deleteIfExists(s)
        }
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.nio.file.DirectoryNotEmptyException => false
        case _: java.nio.file.FileSystemException
          if exists(dst) && exists(src) => false
      }
    } else try {
      fctx(dst).rename(new Path(src), new Path(dst))
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.io.IOException if exists(dst) => false
    }

  /** List child names of a directory (empty if absent). */
  def list(p: String): Seq[String] =
    if (isLocal(p))
      Option(new java.io.File(nio(p).toString).list())
        .map(_.toSeq).getOrElse(Seq.empty)
    else {
      val f = fs(p); val path = new Path(p)
      if (!f.exists(path)) Seq.empty
      else f.listStatus(path).toSeq.map(_.getPath.getName)
    }

  /** Child names that are directories. */
  def listDirs(p: String): Seq[String] =
    if (isLocal(p))
      Option(new java.io.File(nio(p).toString).listFiles())
        .map(_.toSeq.filter(_.isDirectory).map(_.getName)).getOrElse(Seq.empty)
    else {
      val f = fs(p); val path = new Path(p)
      if (!f.exists(path)) Seq.empty
      else f.listStatus(path).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    }

  def readString(p: String): String =
    if (isLocal(p))
      new String(java.nio.file.Files.readAllBytes(nio(p)), "UTF-8")
    else {
      val in = fs(p).open(new Path(p))
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    }

  /** Atomic small-file publish: write a temp sibling, then rename into
    * place — the manifest commit point. */
  def writeAtomic(p: String, content: String): Unit = {
    val tmp = p + s".tmp-${java.util.UUID.randomUUID}"
    val out = create(tmp)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    renameOverwrite(tmp, p)
  }

  def open(p: String): java.io.InputStream =
    if (isLocal(p)) new java.io.FileInputStream(nio(p).toString)
    else fs(p).open(new Path(p))

  def create(p: String): java.io.OutputStream =
    if (isLocal(p)) new java.io.FileOutputStream(nio(p).toString)
    else fs(p).create(new Path(p), true)
}
