package graft

import java.util.concurrent.{Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession

/** Queries that share memoized fixtures return the same rows whether they
  * run one after another or from four threads on one session, with every
  * context memo cold: the first builds of the shared pair table, the BPE
  * vocab, the sentinel, the rescale savepoint and the TPC-DS relations race
  * each other, and the same key is asked for twice at once. */
class ConcurrentQueriesSpec extends SparkSpec {

  private val sample = Seq("q_tpcdsr_q3", "q_dedup_ngram_keep", "q_bpe_merges",
    "q_stream_tumble", "q_state_rescale")

  private def hash(s: SparkSession, q: String): String = {
    val rows = SparkEntry.queries(q)(s, sf).collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    s"${rows.length}:" + md.digest().map(b => f"$b%02x").mkString
  }

  test("a mixed sample from 4 threads on one session hashes like a sequential run") {
    // its own session: concurrent streaming starts set and restore session
    // conf (GraftSession.withConf), and interleaved restores may leave a
    // value behind that later suites would inherit
    val s = spark.newSession()
    val sequential = sample.map(q => q -> hash(s, q)).toMap

    Once.contextEnded(s.sparkContext.applicationId)
    // the batch queries twice, so two threads ask for the same key at once
    val tasks = sample ++ Seq("q_dedup_ngram_keep", "q_bpe_merges", "q_tpcdsr_q3")
    val pool = Executors.newFixedThreadPool(4)
    val concurrent =
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val fs = tasks.map(q => Future(q -> hash(s, q)))
        fs.map(Await.result(_, 10.minutes))
      } finally { pool.shutdownNow(); pool.awaitTermination(30, TimeUnit.SECONDS) }

    concurrent.foreach { case (q, h) => assert(h === sequential(q), s"$q differs") }
  }
}
