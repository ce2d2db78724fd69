package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** Streaming-side access to the driver's `events` table and the
  * run-to-completion harness used by the Verify entries.
  *
  * The driver's correctness gate calls `(SparkSession, sfDir) => DataFrame`;
  * streaming operators satisfy it by running a REAL Structured Streaming
  * query over the events file (file source → operator → memory sink),
  * draining it with processAllAvailable, and returning the sink table.
  * The plan that runs is the same micro-batch plan a production job runs —
  * state store, watermarks and all; only the source (file replay) and sink
  * (memory) are test doubles. Flink analog: bounded execution of a
  * streaming pipeline (flink-streaming-java bounded sources).
  */
object StreamSource {

  /** Typed event row (ts already truncated to micros by graft.Tables). */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  /** `$dir/events.parquet` is a single FILE in the driver testdata but a
    * part-file DIRECTORY when written by Spark (the scale rehearsals);
    * stream (path, glob) that matches either layout. */
  private def eventsStreamPath(dir: String): (String, String) = {
    val p = s"$dir/events.parquet"
    if (new java.io.File(p).isDirectory) (p, "*.parquet") else (dir, "events.parquet")
  }

  /** events as an unbounded DataFrame via the parquet file-stream source. */
  def events(s: SparkSession, dir: String): DataFrame = {
    // file source needs an explicit schema: take it from the batch reader
    // (cached per JVM+path — r16, the Tables.cachedSchema discipline), then
    // normalize ts the same schema-adaptive way as graft.Tables
    // (the generator has shipped both nanos-as-long and micros drops)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = graft.Tables.cachedSchema(s, s"$dir/events.parquet")
    val (path, glob) = eventsStreamPath(dir)
    graft.Tables.normalizeTs(
      s.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .parquet(path))
  }

  def eventsTyped(s: SparkSession, dir: String): Dataset[Event] = {
    import s.implicits._
    events(s, dir).select("event_id", "ts", "user_id", "event_type", "value").as[Event]
  }

  /** events stream unioned with a one-row far-future sentinel so the final
    * watermark passes every real window: append-mode window aggregations then
    * emit each closed window exactly once with watermark-bounded state — the
    * plan an unbounded production job runs (Flink analog: event-time windows
    * firing on watermark passage + cleanup timers, WindowOperator.java:98),
    * unlike complete mode which re-materializes all windows every batch and
    * retains state forever. Callers filter the sentinel key back out
    * (`event_type = '__sentinel'`, `user_id = -1`). */
  /** Per-JVM memo of the written sentinel fixture: (events dir) →
    * (events schema, sentinel parquet dir). r16 optimization (guide §1):
    * every sentinel-based streaming query re-ran the max(ts) scan AND
    * rewrote the one-row sentinel parquet before its stream even started —
    * a fixture-prep job inside the timed run. The events fixture is
    * immutable for the life of a JVM, so both are computed once; the memo
    * is in-process only (no cross-process reuse — a stale sentinel from an
    * older testdata drop can never leak into a new run). */
  private val sentinelMemo = new graft.Once[String, (org.apache.spark.sql.types.StructType, String)]

  def eventsWithSentinel(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val (schema, sentinelDir) = sentinelMemo(dir)(prepareSentinel(s, dir))
    val (path, glob) = eventsStreamPath(dir)
    val real = s.readStream.schema(schema)
      .option("pathGlobFilter", glob).parquet(path)
    val sentinel = s.readStream.schema(schema).parquet(sentinelDir)
    graft.Tables.normalizeTs(real.union(sentinel))
  }

  private def prepareSentinel(s: SparkSession, dir: String):
      (org.apache.spark.sql.types.StructType, String) = {
    val raw = s.read.parquet(s"$dir/events.parquet")
    val schema = raw.schema
    import org.apache.spark.sql.functions.max
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // sentinel ts = max(ts) + 30 days, expressed in the file's own ts type so
    // the sentinel parquet unions cleanly with the raw stream before the
    // shared normalizeTs pass
    val maxRow = raw.agg(max("ts")).head()
    // empty events: max(ts) is NULL — anchor the sentinel at the epoch so
    // the query still runs (and returns its empty result) instead of NPEing
    val empty = maxRow.isNullAt(0)
    val sentinelTs: Any = schema("ts").dataType match {
      case LongType =>
        (if (empty) 0L else maxRow.getLong(0)) + 30L * 24 * 3600 * 1000000000L
      case TimestampNTZType =>
        (if (empty) java.time.LocalDateTime.ofEpochSecond(0, 0, java.time.ZoneOffset.UTC)
         else maxRow.getAs[java.time.LocalDateTime](0)).plusDays(30)
      case TimestampType =>
        java.sql.Timestamp.from(
          (if (empty) java.time.Instant.EPOCH else maxRow.getTimestamp(0).toInstant)
            .plus(java.time.Duration.ofDays(30)))
      case other => throw new IllegalStateException(s"unsupported events.ts type $other")
    }
    val values: Array[Any] = schema.fields.map(_.name).map {
      case "event_id" => -1L
      case "ts" => sentinelTs
      case "user_id" => -1L
      case "event_type" => "__sentinel"
      case "value" => 0.0
      case _ => null
    }
    val sentinelDir = s"/tmp/graft-sentinel/${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    s.createDataFrame(java.util.Arrays.asList(org.apache.spark.sql.Row(values: _*)), schema)
      .coalesce(1).write.mode("overwrite").parquet(sentinelDir)
    (schema, sentinelDir)
  }

  /** Typed sentinel stream with a 1-hour watermark: stateful operators
    * using EventTimeTimeout flush their buffers when the sentinel drives
    * the watermark past end-of-data. The sentinel row itself only reaches
    * key -1's group (and matches no real predicate). */
  def eventsTypedWithSentinel(s: SparkSession, dir: String,
                              delay: String = "1 hour"): Dataset[Event] = {
    import s.implicits._
    eventsWithSentinel(s, dir)
      .withWatermark("ts", delay)
      .select("event_id", "ts", "user_id", "event_type", "value").as[Event]
  }

  /** runToTable for CHAINED stateful operators (sortedEvents → operator).
    * Only the operators keyed by event_type (the topN `_ooo` twins and
    * StreamQueries.retractAgg) still need it: a user_id-keyed operator runs
    * inside the sorter's own operator (StatefulOps.sortedThen), which
    * passes the check below.
    * Spark's global-watermark correctness check flags any stateful op
    * downstream of one that emits rows older than the watermark, because
    * a downstream op with watermark-based eviction COULD silently drop
    * them as late. The downstream stages here are NoTimeout `KeyedOp`s
    * (`KeyedOp.run`) over un-watermarked (operator-generated) columns —
    * they have no late-row predicate, so nothing is dropped;
    * the DuckDB oracle hash (exact row set) re-proves it per run. The
    * check is consulted only during query PLANNING (the unsupported-
    * operation walk at start()), so the flag is off only in
    * [[Checkpoint.start]]'s window — a concurrently-planned query could
    * observe it there, not during the drain; the check stays ON for every
    * other query. */
  def runToTableChained(s: SparkSession, df: DataFrame, name: String,
                        mode: String): DataFrame =
    runToTable(s, df, name, mode,
      conf = Seq("spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false"))

  /** Streaming checkpoint root: tmpfs when the host has one. On a real
    * cluster the checkpoint store is remote (HDFS/object store) with its
    * own commit path; on this single-JVM host the tiny state/offset files
    * are fixture overhead on every bounded replay, so they stay in memory.
    * Crash durability is separately proven by CheckpointRecoverySpec (own
    * paths); nothing here reads a checkpoint after process exit. */
  val ckptRoot: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) "/dev/shm/graft-ckpt" else "/tmp/graft-ckpt"
  }

  /** Spark's plug point for the checkpoint file manager (an internal conf
    * read from the query's hadoop conf by `CheckpointFileManager.create`). */
  private[graft] val FileManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Artifact isolation off. With it on, every session clone, and so
    * every stream start, runs its tasks under a class loader of its own,
    * and Spark's generated-class cache is keyed by class loader as well as
    * by code text: on a session built without Hive support (isolation is
    * on there; Spark turns it off for Hive sessions such as
    * [[graft.GraftSession.local]]'s), each start of
    * `q_stream_over_range_b_ooo` recompiled all 22 of its classes,
    * identical text included (NOTES.md). Isolation separates the jars and
    * classes that Spark Connect clients upload; graft adds none. */
  private[graft] val SharedClassLoader: (String, String) =
    "spark.sql.artifact.isolation.enabled" -> "false"

  /** Shuffle partitions of graft's streaming queries. Measured at sf0.1,
    * the replay-driven queries spend their time in per-partition
    * state-store lifecycle (one store load and commit per stateful op per
    * batch), so 4 instead of 8 cuts ~10-13% off every streaming query
    * (q_stream_dyn_session_ooo 7.12->6.22 s warm, q_stream_tumble
    * 2.21->2.01 s); 2 re-serializes the work and loses the gain.
    * Production unbounded jobs size this to key cardinality. */
  private[graft] val StreamShuffle: (String, String) = "spark.sql.shuffle.partitions" -> "4"

  /** A fresh checkpoint dir for one streaming query; `start` is the only way
    * to start a query on it. */
  final class Checkpoint private[StreamSource] (s: SparkSession, val path: String) {
    /** Start `w` on this dir with [[LocalCheckpointFileManager]] and `conf`
      * set on the caller's session, then give each key its previous value
      * back. The offset, commit and state logs, and every setting the
      * query plans with, are read from the stream's own session, cloned
      * inside start(). A file source's log reads the file manager from the
      * caller's session when the stream thread builds its sources, after
      * start() returns, so the settings are held until the query has
      * initialized.
      *
      * Artifact isolation is off in the window ([[SharedClassLoader]]), so
      * the stream's cloned session runs its jobs under the caller's class
      * loader, not a new one per start. */
    def start[T](w: DataStreamWriter[T], conf: (String, String)*): StreamingQuery =
      graft.GraftSession.withConf(s,
          Seq(FileManagerKey -> classOf[LocalCheckpointFileManager].getName,
            SharedClassLoader) ++ conf: _*) {
        val q = w.option("checkpointLocation", path).start()
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.awaitInitialization(Long.MaxValue)
        q
      }

    /** [[start]] `w`, process all available input, and stop the query, also
      * when processing throws. The dir stays, for callers that read the
      * checkpoint afterwards (see [[kept]]); the stopped query keeps its
      * progress. */
    def run[T](w: DataStreamWriter[T], conf: (String, String)*): StreamingQuery = {
      val q = start(w, conf: _*)
      try q.processAllAvailable() finally q.stop()
      q
    }

    /** [[run]], then [[delete]] the dir: for queries whose checkpoint
      * nothing reads once they have stopped. */
    def drain[T](w: DataStreamWriter[T], conf: (String, String)*): StreamingQuery =
      try run(w, conf: _*) finally delete()

    def delete(): Unit = org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))

    /** This checkpoint, deleted when the SparkContext ends instead of by
      * the caller: for a dir read after the call returns, such as the
      * source of a lazy `statestore` frame. */
    def kept(): Checkpoint = keptCheckpoints(s, path)(this)
  }

  private val keptCheckpoints = new graft.Once[String, Checkpoint](_.delete())

  /** `$ckptRoot/$name-$nanoTime`, written through LocalCheckpointFileManager
    * by the query that `start`s on it. */
  def checkpointDir(s: SparkSession, name: String): Checkpoint =
    new Checkpoint(s, s"$ckptRoot/$name-${System.nanoTime()}")

  /** Run `df` (a streaming DataFrame) to completion into a memory sink and
    * return the materialized result. The query starts with `conf` and
    * [[StreamShuffle]] in [[Checkpoint.start]]'s window. `onDrained` sees
    * the stopped query (the hook that lets callers read its final progress,
    * e.g. the state-store row counts of the TTL-bound demonstrations)
    * before its checkpoint dir is deleted: the result lives in the memory
    * sink, and nothing restarts the query.
    *
    * State-store sizing: each shuffle partition materializes one state-store
    * instance per stateful operator per batch (a delta file and its checksum
    * under the checkpoint dir, plus the load of the previous version). For
    * the bounded replays here that fixed cost dominates the actual work,
    * hence the smaller [[StreamShuffle]] fan-out.
    *
    * Most of that per-batch floor was process forks, not disk: Hadoop's
    * local filesystem without libhadoop forks `chmod` and `readlink` for
    * every checkpoint file it creates and renames (~195 forks per batch on
    * the out-of-order replays). The query therefore starts through
    * [[checkpointDir]], whose [[LocalCheckpointFileManager]] writes with
    * java.nio syscalls instead. */
  def runToTable(s: SparkSession, df: DataFrame, name: String, mode: String,
                 onDrained: StreamingQuery => Unit = _ => (),
                 conf: Seq[(String, String)] = Nil): DataFrame = {
    val ckpt = checkpointDir(s, name)
    try onDrained(ckpt.run(df.writeStream.format("memory").queryName(name).outputMode(mode),
      StreamShuffle +: conf: _*))
    finally ckpt.delete()
    s.table(name)
  }
}
