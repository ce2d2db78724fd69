package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.atomic.AtomicInteger

import graft.streaming.LocalCheckpointFileManager
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The contract Spark's streaming metadata logs and state stores rely on
  * from a checkpoint file manager, held by the java.nio `file:` path:
  * atomic publish on close, nothing left behind on cancel, a Hadoop
  * FileAlreadyExistsException on a non-overwriting rename (HDFSMetadataLog's
  * concurrent-writer check), 0644 files and 0755 dirs, and Spark's stock
  * code for every other scheme. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val conf = new Configuration()

  private val dirs = scala.collection.mutable.ListBuffer.empty[java.nio.file.Path]

  /** A fresh `graft-lcfm-*` temp dir, deleted when the suite ends. */
  private def tempDir(): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft-lcfm-")
    dirs += dir
    dir
  }

  override def afterAll(): Unit =
    try dirs.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()

  private def fresh(): (java.nio.file.Path, LocalCheckpointFileManager) = {
    val dir = tempDir()
    (dir, new LocalCheckpointFileManager(new Path(dir.toUri), conf))
  }

  private def write(out: FSDataOutputStream, s: String): Unit = out.write(s.getBytes(UTF_8))

  private def read(fm: LocalCheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def files(dir: java.nio.file.Path): Seq[String] = {
    val s = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(dir.relativize(_).toString).toSeq.sorted
    } finally s.close()
  }

  test("final file is invisible until close, then holds exactly the bytes written") {
    val (dir, fm) = fresh()
    // parent dirs do not exist yet: createTempFile must make them
    val target = new Path(s"${dir.toUri}/offsets/sub/0")
    val out = fm.createAtomic(target, overwriteIfPossible = false)
    write(out, "v1\n{}")
    assert(!fm.exists(target))
    assert(files(dir).size === 1, "the bytes go to one temp file before close")
    out.close()
    assert(fm.exists(target))
    assert(read(fm, target) === "v1\n{}")
    assert(files(dir) === Seq("offsets/sub/0"), "temp file renamed away, no .crc sidecar")
  }

  test("cancel leaves neither the temp file nor the final file") {
    val (dir, fm) = fresh()
    val target = new Path(s"${dir.toUri}/commits/3")
    val out = fm.createAtomic(target, overwriteIfPossible = false)
    write(out, "partial")
    out.cancel()
    assert(!fm.exists(target))
    assert(files(dir).isEmpty)
  }

  test("non-overwriting rename onto an existing file throws Hadoop's FileAlreadyExistsException") {
    val (dir, fm) = fresh()
    val target = new Path(s"${dir.toUri}/offsets/5")
    val first = fm.createAtomic(target, overwriteIfPossible = false)
    write(first, "first"); first.close()

    val second = fm.createAtomic(target, overwriteIfPossible = false)
    write(second, "second")
    intercept[FileAlreadyExistsException](second.close())
    assert(read(fm, target) === "first", "the published file must not change")

    val src = new Path(s"${dir.toUri}/offsets/.tmp")
    Files.write(Paths.get(src.toUri), "x".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](fm.renameTempFile(src, target, false))

    // overwriting publish replaces the content
    val third = fm.createAtomic(target, overwriteIfPossible = true)
    write(third, "third"); third.close()
    assert(read(fm, target) === "third")
  }

  test("files are created 0644 and directories 0755") {
    val (dir, fm) = fresh()
    val target = new Path(s"${dir.toUri}/state/0/1/1.delta")
    val out = fm.createAtomic(target, overwriteIfPossible = true)
    write(out, "d"); out.close()
    val mode = (p: java.nio.file.Path) => PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    assert(mode(Paths.get(target.toUri)) === "rw-r--r--")
    for (d <- Seq("state", "state/0", "state/0/1")) assert(mode(dir.resolve(d)) === "rwxr-xr-x", d)

    fm.mkdirs(new Path(s"${dir.toUri}/a/b/c"))
    for (d <- Seq("a", "a/b", "a/b/c")) assert(mode(dir.resolve(d)) === "rwxr-xr-x", d)

    val root = new LocalCheckpointFileManager(new Path(s"${dir.toUri}/q/ckpt"), conf)
      .createCheckpointDirectory()
    assert(root.toUri.getScheme === "file")
    for (d <- Seq("q", "q/ckpt")) assert(mode(dir.resolve(d)) === "rwxr-xr-x", d)
  }

  test("overwriting a file the stock manager wrote drops its stale .crc sidecar") {
    val (dir, fm) = fresh()
    val target = new Path(s"${dir.toUri}/state/0/0/2.delta")
    val stock = new FileSystemBasedCheckpointFileManager(new Path(dir.toUri), conf)
    val a = stock.createAtomic(target, overwriteIfPossible = true)
    write(a, "old content"); a.close()
    assert(Files.exists(dir.resolve("state/0/0/.2.delta.crc")), "stock write leaves a sidecar")

    val b = fm.createAtomic(target, overwriteIfPossible = true)
    write(b, "new, longer content"); b.close()
    // Hadoop's checksummed read would fail on the old sidecar
    assert(read(fm, target) === "new, longer content")
    assert(!Files.exists(dir.resolve("state/0/0/.2.delta.crc")))
  }

  test("a non-file: path takes Spark's stock FileSystem code") {
    val c = new Configuration()
    c.set("fs.counting.impl", classOf[CountingFs].getName)
    c.setBoolean("fs.counting.impl.disable.cache", true)
    val dir = tempDir()
    val root = new Path(s"counting://${dir.toAbsolutePath}")
    val fm = new LocalCheckpointFileManager(root, c)
    val before = CountingFs.calls.get()
    fm.createCheckpointDirectory()
    fm.mkdirs(new Path(root, "offsets"))
    val out = fm.createAtomic(new Path(root, "offsets/0"), overwriteIfPossible = false)
    write(out, "v1"); out.close()
    // two mkdirs, one create, one rename — all through Hadoop
    assert(CountingFs.calls.get() - before === 4)
    assert(new String(Files.readAllBytes(dir.resolve("offsets/0")), UTF_8) === "v1")
  }
}

/** Raw local filesystem under the `counting:` scheme, counting the
  * write-side calls the checkpoint manager can make. */
class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("counting:///")
  override def getScheme: String = "counting"
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CountingFs.calls.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CountingFs.calls.incrementAndGet()
    super.rename(src, dst)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    CountingFs.calls.incrementAndGet()
    super.mkdirs(f, permission)
  }
}

object CountingFs {
  val calls = new AtomicInteger()
}
