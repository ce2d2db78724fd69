package graft.operators

import graft.Query
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.{Duration, DurationInt}

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}

/** Async I/O (SURVEY.md §2.9: AsyncDataStream.orderedWait/unorderedWait /
  * AsyncTableFunction — per-record calls to an external service with
  * bounded in-flight parallelism).
  *
  * Spark shape: mapPartitions with a window of Futures — up to
  * `parallelism` requests in flight per partition. `ordered` awaits
  * completion in input order (output order and per-partition memory both
  * bounded); `unordered` emits in completion order (lower latency under
  * variable service response times, same bound on in-flight requests).
  * Total in-flight across the cluster = parallelism × partitions, the
  * same backpressure model as the reference's async operators.
  *
  * Timeout policy (ref AsyncWaitOperator: a timer per element fires
  * `AsyncFunction#timeout`, whose default implementation fails the job):
  * an element that does not complete within `timeout` throws
  * `TimeoutException`, failing the task (Spark then retries the task —
  * the reference's restart-strategy analog). Callers can instead supply
  * `onTimeout` to emit a fallback record, the reference's
  * "override timeout() to side-step" policy. */
object AsyncMap {

  /** Default per-element wait bound — a hung external call must never
    * stall a task forever (ref AsyncWaitOperator's mandatory timeout). */
  val DefaultTimeout: Duration = 60.seconds

  def ordered[T, U: Encoder](ds: Dataset[T], parallelism: Int,
      timeout: Duration = DefaultTimeout,
      onTimeout: Option[T => U] = None)(f: T => Future[U]): Dataset[U] = {
    require(parallelism >= 1)
    ds.mapPartitions { it =>
      new Iterator[U] {
        private val window = scala.collection.mutable.Queue.empty[(T, Future[U])]
        private def fill(): Unit =
          while (window.size < parallelism && it.hasNext) {
            val t = it.next()
            window.enqueue((t, f(t)))
          }
        override def hasNext: Boolean = { fill(); window.nonEmpty }
        override def next(): U = {
          fill()
          val (t, fut) = window.dequeue()
          try Await.result(fut, timeout)
          catch {
            case e: java.util.concurrent.TimeoutException =>
              onTimeout.map(_(t)).getOrElse(throw e)
          }
        }
      }
    }
  }

  /** unorderedWait (ref AsyncDataStream.unorderedWait:103-148): results
    * are emitted as they complete, not in input order — the window drains
    * at the speed of the fastest outstanding call instead of the oldest.
    * `timeout` bounds the wait for ANY completion once the window is full
    * (with all in-flight calls bounded by it, a per-element overrun
    * surfaces within one window drain). */
  def unordered[T, U: Encoder](ds: Dataset[T], parallelism: Int,
      timeout: Duration = DefaultTimeout)(f: T => Future[U]): Dataset[U] = {
    require(parallelism >= 1)
    ds.mapPartitions { it =>
      new Iterator[U] {
        private val done =
          new java.util.concurrent.LinkedBlockingQueue[Either[Throwable, U]]()
        private var inFlight = 0
        private def fill(): Unit =
          while (inFlight < parallelism && it.hasNext) {
            inFlight += 1
            f(it.next()).onComplete {
              case scala.util.Success(u) => done.put(Right(u))
              case scala.util.Failure(e) => done.put(Left(e))
            }(scala.concurrent.ExecutionContext.parasitic)
          }
        override def hasNext: Boolean = { fill(); inFlight > 0 }
        override def next(): U = {
          fill()
          val r =
            if (timeout.isFinite)
              Option(done.poll(timeout.toMillis,
                java.util.concurrent.TimeUnit.MILLISECONDS)).getOrElse(
                throw new java.util.concurrent.TimeoutException(
                  s"async I/O: no completion within $timeout"))
            else done.take()
          inFlight -= 1
          r.fold(e => throw e, identity)
        }
      }
    }
  }

  /** Sync LOOKUP JOIN (ref LookupJoin on a bounded dimension): a plain
    * broadcast-hash join — Spark's torrent broadcast ships the dimension
    * to executors (no driver-side collect into user code, and the
    * broadcast-size guardrails stay in force), and the probe side streams
    * through codegen. This is the plan a lookup join should compile to
    * whenever the dimension is a table Spark can read. */
  def lookupJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
    val dim = graft.Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val probes = graft.Tables(s, dir, "events")
      .select(col("event_id"), col("user_id"))
    probes.join(broadcast(dim), probes("user_id") === dim("c_custkey"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      .orderBy("event_id")
  }

  /** Async LOOKUP JOIN (ref LookupJoin / AsyncTableFunction with a lookup
    * cache, and the file-backed dimension cache of the reference's hive
    * lookup join): every probe row calls the lookup service through the
    * ordered async window; the service's cache is built EXECUTOR-SIDE on
    * first probe by reading the dimension parquet directly from the shared
    * filesystem (LookupCache) — the driver never collects the dimension,
    * so dimension size is bounded per executor, not per driver, and a
    * 1000-executor cluster warms caches in parallel. */
  def lookupJoinAsync(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions.col
    import scala.concurrent.ExecutionContext.Implicits.global
    val dimPath = s"$dir/customer.parquet"
    val probes = graft.Tables(s, dir, "events")
      .select(col("event_id"), col("user_id")).as[(Long, Long)]
    ordered(probes, parallelism = 8) { case (eid, uid) =>
      Future {
        (eid, uid, LookupCache.segmentByCustkey(dimPath).getOrElse(uid, "UNKNOWN"))
      }
    }.toDF("event_id", "user_id", "segment").orderBy("event_id")
  }

  /** Each event with its customer segment, UNKNOWN when none. */
  val lookupJoinOracle: String =
    """SELECT event_id, user_id, coalesce(c_mktsegment, 'UNKNOWN') AS segment
        |FROM events LEFT JOIN customer ON c_custkey = user_id
        |ORDER BY event_id""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q_lookup_join", lookupJoin,
      lookupJoinOracle),
    Query("q_lookup_join_async", lookupJoinAsync,
      lookupJoinOracle),
  )
}

/** Executor-side dimension cache for the async lookup join: one
  * `Map[custkey, mktsegment]` per (JVM, dimension path, file fingerprint),
  * built lazily by reading the dimension's parquet files with parquet-mr —
  * the same "each task loads the dimension files into an in-memory cache"
  * shape as the reference's file-system lookup function. Never touches the
  * driver; concurrent probes on one executor share a single load. The
  * fingerprint (file names + lengths + mtimes) keys out stale entries when
  * the dimension is rewritten in place during the JVM's lifetime; replaced
  * generations are dropped so the cache holds one live map per path. */
object LookupCache {
  private val caches =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Map[Long, String])]()

  def segmentByCustkey(path: String): Map[Long, String] = {
    val files = listFiles(path)
    val fp = files.map(f => {
      val jf = new java.io.File(f)
      s"$f:${jf.length}:${jf.lastModified}"
    }).mkString("|")
    val cached = caches.get(path)
    if (cached != null && cached._1 == fp) cached._2
    else caches.compute(path, (_, cur) =>
      if (cur != null && cur._1 == fp) cur else (fp, load(files)))._2
  }

  private def listFiles(path: String): Array[String] = {
    val f = new java.io.File(path)
    if (f.isDirectory)
      f.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    else Array(path)
  }

  private def load(files: Array[String]): Map[Long, String] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val out = Map.newBuilder[Long, String]
    files.foreach { file =>
      val reader = ParquetReader
        .builder(new GroupReadSupport(), new org.apache.hadoop.fs.Path(file))
        .build()
      try {
        var g = reader.read()
        while (g != null) {
          out += g.getLong("c_custkey", 0) -> g.getString("c_mktsegment", 0)
          g = reader.read()
        }
      } finally reader.close()
    }
    out.result()
  }
}
