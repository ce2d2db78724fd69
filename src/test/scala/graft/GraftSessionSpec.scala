package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.plans.{AsOfPatternRule, AsOfStrategy}

/** The three owners in GraftSession: the session factory, the idempotent
  * install, and the scoped config. */
class GraftSessionSpec extends SparkSpec {

  test("withConf restores a set key, unsets an unset one, and restores when the body throws") {
    val setKey = "graft.spec.withConf"
    val unsetKey = "spark.sql.cbo.joinReorder.dp.threshold" // has a default: 12
    spark.conf.set(setKey, "12345")
    try {
      assert(!spark.conf.getAll.contains(unsetKey))
      val seen = GraftSession.withConf(spark, setKey -> "-1", unsetKey -> "3") {
        (spark.conf.get(setKey), spark.conf.get(unsetKey))
      }
      assert(seen === (("-1", "3")))
      assert(spark.conf.get(setKey) === "12345")
      assert(!spark.conf.getAll.contains(unsetKey), "an unset key comes back unset, not set to its default")
      intercept[IllegalStateException] {
        GraftSession.withConf(spark, setKey -> "-1", unsetKey -> "3") {
          throw new IllegalStateException("body failed")
        }
      }
      assert(spark.conf.get(setKey) === "12345")
      assert(!spark.conf.getAll.contains(unsetKey))
    } finally spark.conf.unset(setKey)
  }

  test("overlapping withConf windows from two threads leave the key as it was") {
    val s = spark.newSession()
    val key = "spark.sql.shuffle.partitions"
    val before = s.conf.get(key)
    val bEntered = new CountDownLatch(1)
    val aLeft = new CountDownLatch(1)
    val seen = new ConcurrentLinkedQueue[(String, String)]
    // A enters first and would leave while B is inside; without one lock
    // per session B then restores A's value after A has restored its own
    val a = new Thread(() => {
      GraftSession.withConf(s, key -> "8") {
        bEntered.await(1, TimeUnit.SECONDS)
        seen.add("a" -> s.conf.get(key))
      }
      aLeft.countDown()
    })
    val b = new Thread(() => {
      while (s.conf.get(key) != "8") Thread.sleep(1)
      GraftSession.withConf(s, key -> "32") {
        bEntered.countDown()
        aLeft.await(1, TimeUnit.SECONDS)
        seen.add("b" -> s.conf.get(key))
      }
    })
    a.start(); b.start(); a.join(10000); b.join(10000)
    assert(seen.asScala.toSet === Set("a" -> "8", "b" -> "32"), "each window sees only its own value")
    assert(s.conf.get(key) === before)
    // a nested window on the same thread re-enters the session's lock
    GraftSession.withConf(s, key -> "8") {
      GraftSession.withConf(s, key -> "32")(assert(s.conf.get(key) === "32"))
      assert(s.conf.get(key) === "8")
    }
    assert(s.conf.get(key) === before)
  }

  test("install twice leaves one AsOf strategy and one AsOf rule") {
    GraftSession.install(spark)
    GraftSession.install(spark)
    assert(spark.experimental.extraStrategies.count(_ == AsOfStrategy) === 1)
    assert(spark.experimental.extraOptimizations.count(_ == AsOfPatternRule) === 1)
    assert(GraftSession.functions.forall { case (id, _, _) =>
      spark.sessionState.functionRegistry.functionExists(id) })
  }

  test("a local session has UTC, the Hive catalog, and shuffle partitions = cores") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.catalogImplementation") === "hive")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.ui.enabled") === "false")
  }
}
