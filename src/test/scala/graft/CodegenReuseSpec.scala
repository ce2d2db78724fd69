package graft

import java.sql.Timestamp

import graft.streaming.{StatefulOps, StreamSource}
import graft.streaming.StreamSource.Event
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Each generated class compiles once per JVM: Spark's generated-class
  * cache is sized for graft ([[GraftSession.sizeCodegenCache]]), and a
  * stream start reuses the caller's class loader, part of that cache's
  * key ([[StreamSource.SharedClassLoader]]). */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  /** Generated classes compiled while `body` runs. */
  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private val IsolationKey = StreamSource.SharedClassLoader._1

  test("a batch of more than 150 distinct classes compiles nothing the second time") {
    // each literal gives its own whole-stage class; Spark's default cache
    // of 100 would evict them all before the second run reaches them
    def batch(): Unit = (1 to 160).foreach { i =>
      spark.range(2).selectExpr(s"id * 7919 + $i AS x").collect()
    }
    val first = compiles(batch())
    assert(first >= 150, s"the batch compiled only $first classes")
    assert(compiles(batch()) === 0L)
  }

  test("a runToTable stream compiles nothing the second time") {
    // a session built without Hive support has artifact isolation on
    // (Spark turns it off for Hive sessions such as the shared one)
    val s = spark.newSession()
    s.conf.set(IsolationKey, "true")
    implicit val sqlCtx = s.sqlContext
    def run(): Unit = {
      val input = MemoryStream[Event]
      input.addData((1 to 4).map(i =>
        Event(i, new Timestamp(1700000000000L + i * 60000L), i % 2, "view", i.toDouble)))
      val out = StreamSource.runToTable(s, StatefulOps.runningAgg(input.toDS()).toDF(),
        s"codegen_reuse_${System.nanoTime()}", "append")
      assert(out.count() === 4L)
    }
    run()
    assert(compiles(run()) === 0L)
  }

  test("Checkpoint.start gives the caller's artifact isolation setting back") {
    implicit val sqlCtx = spark.sqlContext
    def drain(): Unit = {
      val input = MemoryStream[Int]
      input.addData(1, 2)
      StreamSource.checkpointDir(spark, "codegen-isolation")
        .drain(input.toDS().writeStream.format("noop"))
    }
    def setting: Option[String] = spark.conf.getAll.get(IsolationKey)
    val found = setting
    drain()
    assert(setting === found)
    GraftSession.withConf(spark, IsolationKey -> "true") {
      drain()
      assert(setting === Some("true"))
    }
    assert(setting === found)
  }
}
