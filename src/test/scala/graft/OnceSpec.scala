package graft

import java.io.File
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.commons.io.FileUtils

/** The rules of [[Once]]: one build per key under a per-key lock, no
  * cached failures, re-entrant builds, and context entries released when
  * their SparkContext ends. */
class OnceSpec extends SparkSpec {

  private def withPool[T](n: Int)(body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutor(pool))
    finally { pool.shutdownNow(); pool.awaitTermination(10, TimeUnit.SECONDS) }
  }

  test("8 threads on one key build once and all see the one value") {
    val memo = new Once[String, Object]
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    val got = withPool(8) { implicit ec =>
      val fs = (1 to 8).map(_ => Future {
        go.await()
        memo("k") { builds.incrementAndGet(); Thread.sleep(200); new Object }
      })
      go.countDown()
      fs.map(Await.result(_, 30.seconds))
    }
    assert(builds.get === 1)
    assert(got.forall(_ eq got.head))
  }

  test("a slow build of key A does not delay key B") {
    val memo = new Once[String, String]
    val inA = new CountDownLatch(1)
    val finishA = new CountDownLatch(1)
    withPool(2) { implicit ec =>
      try {
        val a = Future(memo("A") { inA.countDown(); finishA.await(); "a" })
        assert(inA.await(10, TimeUnit.SECONDS), "A's build never started")
        // A's build is still blocked: B must not wait for it
        assert(Await.result(Future(memo("B")("b")), 5.seconds) === "b")
        assert(!a.isCompleted)
        finishA.countDown()
        assert(Await.result(a, 10.seconds) === "a")
      } finally finishA.countDown()
    }
  }

  test("a throwing build is not cached: the next caller builds again") {
    val memo = new Once[String, Int]
    val builds = new AtomicInteger
    val e = intercept[IllegalStateException] {
      memo("k") { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(e.getMessage === "boom")
    assert(memo("k") { builds.incrementAndGet(); 7 } === 7)
    assert(memo("k") { builds.incrementAndGet(); 8 } === 7)
    assert(builds.get === 2)
  }

  test("a build may call the same memo for another key") {
    val memo = new Once[String, String]
    assert(memo("outer")(memo("inner")("i") + "o") === "io")
    assert(memo("inner")("never") === "i")
  }

  test("the context-end hook releases exactly that context's entries, deletes their dirs, and the next call rebuilds") {
    val released = java.util.concurrent.ConcurrentHashMap.newKeySet[File]()
    val memo = new Once[String, File](d => { released.add(d); FileUtils.deleteQuietly(d) })
    val builds = new AtomicInteger
    def dir(k: String): File = {
      builds.incrementAndGet()
      val d = new File(s"/tmp/graft-oncespec/$k-${System.nanoTime()}")
      d.mkdirs()
      d
    }
    val a = memo(spark, "a")(dir("a"))
    val b = memo(spark, "b")(dir("b"))
    val jvm = memo("c")(dir("c"))
    try {
      assert(builds.get === 3)
      Once.contextEnded("local-0-never-ran")
      assert(released.isEmpty && a.isDirectory && b.isDirectory)

      Once.contextEnded(spark.sparkContext.applicationId)
      assert(released.size === 2 && released.contains(a) && released.contains(b))
      assert(!a.exists && !b.exists)
      assert(jvm.isDirectory, "a JVM entry is not the context's")

      val a2 = memo(spark, "a")(dir("a"))
      assert(builds.get === 4 && a2 != a && a2.isDirectory)
      assert(memo("c")(dir("c")) eq jvm)
      assert(builds.get === 4)
    } finally FileUtils.deleteQuietly(new File("/tmp/graft-oncespec"))
  }
}
