package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for operator specs: graft's own
  * session ([[GraftSession.local]], Hive catalog included, so the
  * HiveCatalogSpec and DDL suites exercise the production catalog). One
  * session per JVM — `getOrCreate` hands every suite the same one; a small
  * core and shuffle-partition count keeps tiny-data tests fast. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.local("test", cores = 4)

  /** Smallest driver-generated scale factor — used for end-to-end shapes. */
  val sf: String = "/root/testdata/sf0.001"

  private val checkpoints =
    scala.collection.mutable.ListBuffer.empty[streaming.StreamSource.Checkpoint]

  /** A fresh checkpoint dir under [[streaming.StreamSource.ckptRoot]],
    * deleted when the suite ends. */
  def checkpointPath(name: String): String = checkpoints.synchronized {
    val ck = streaming.StreamSource.checkpointDir(spark, name)
    checkpoints += ck
    ck.path
  }

  private val tempDirs = scala.collection.mutable.ListBuffer.empty[java.io.File]

  /** A fresh `Files.createTempDirectory(prefix)`, deleted when the suite ends. */
  def tempDir(prefix: String): String = tempDirs.synchronized {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs += d
    d.toString
  }

  override def afterAll(): Unit =
    // keep the session for the next suite (getOrCreate reuses it)
    try {
      checkpoints.synchronized(checkpoints.foreach(_.delete()))
      tempDirs.synchronized(tempDirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly))
    } finally super.afterAll()
}
