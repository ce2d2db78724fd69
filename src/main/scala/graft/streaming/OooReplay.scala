package graft.streaming

import graft.streaming.StreamSource.Event
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Out-of-order replay fixture: the events table re-cut as a multi-segment
  * file stream with GENUINE cross-micro-batch event-time disorder.
  *
  * The ordered correctness harness replays `events.parquet` as one file →
  * one micro-batch, so the in-order stateful operators never face a row
  * arriving after a later-timestamped row was already processed. This
  * fixture manufactures that adversity deterministically:
  *
  *  - rows are split into `blocks` contiguous event-time blocks;
  *  - segment files are emitted with each adjacent PAIR SWAPPED
  *    (1,0,3,2,...): every odd block arrives one whole micro-batch before
  *    the earlier even block (maxFilesPerTrigger=1 → one segment per
  *    batch, file-source order pinned by modification time);
  *  - the final segment is a far-future sentinel row that drives the
  *    watermark past end-of-data so watermark-buffered state flushes.
  *
  * The disorder bound (max lateness any row can exhibit vs the running
  * event-time maximum) is computed from the data by simulating the
  * emission order, and is returned as the watermark delay the consumer
  * must use — exactly the reference's bounded-out-of-orderness watermark
  * contract (BoundedOutOfOrdernessWatermarks.java): disorder ≤ delay ⇒
  * no row is ever late, and the sorter releases in event-time order.
  *
  * Scale note: block assignment is a range-partitioned sort +
  * `zipWithIndex` (the classic distributed global rank — one count job for
  * partition offsets, no single-partition funnel). The rank is
  * deterministic whatever the input partitioning: (ts, event_id) is a
  * unique total order, so the index — and hence every block id — is
  * independent of where the range boundaries land.
  */
object OooReplay {

  /** blocks must stay small enough that the pair-swap lateness (≈ two
    * block spans) fits under the sentinel's flush horizon. */
  val Blocks = 8

  private val prepared = new graft.Once[String, (String, Long)]

  /** Build (once per events dir, cross-process reusable) the segmented
    * replay; returns (replayDir, watermarkDelaySeconds). */
  def prepare(s: SparkSession, dir: String): (String, Long) = {
    graft.GraftSession.sizeCodegenCache()
    prepared(dir)(doPrepare(s, dir))
  }

  /** Bump when the replay layout/sentinel changes — keys the cache dir so
    * stale fixtures from an older generator never feed a new run.
    * v4: segment `ts` is long MICROS (was raw nanos), so the fixture is
    * independent of how the source parquet declared the column. */
  val ReplayVersion = 4

  /** Event type of the per-key end-of-data marker rows (released by the
    * sorter after every real row; matches no operator predicate). */
  val FlushType = "__flush"

  private def doPrepare(s: SparkSession, dir: String): (String, Long) = {
    val replayDir =
      s"/tmp/graft-ooo/v$ReplayVersion-" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val root = new java.io.File(replayDir)
    val meta = new java.io.File(root, "_delay_sec")
    if (meta.isFile) {
      val d = new String(java.nio.file.Files.readAllBytes(meta.toPath)).trim.toLong
      return (replayDir, d)
    }
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // canonicalize ts to long MICROS whatever the file declared (nanos-as-long
    // or timestamp[us]/_NTZ — the generator has shipped both): all block/
    // lateness arithmetic below, and the segment files themselves, use micros
    val raw0 = s.read.parquet(s"$dir/events.parquet")
    val raw = raw0.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw0.withColumn("ts", expr("ts div 1000"))
      case _ => raw0.withColumn("ts", expr("unix_micros(cast(ts as timestamp))"))
    }
    val schema = raw.schema
    val n = raw.count()
    val per = math.max(1L, (n + Blocks - 1) / Blocks)
    // distributed global rank: range-sort, then zipWithIndex (partition
    // sizes → offsets in one extra count job). Replaces an unpartitioned
    // row_number() Window that funnelled the whole table through one task.
    val sorted = raw.repartitionByRange(math.min(Blocks * 4, 32),
        col("ts"), col("event_id"))
      .sortWithinPartitions(col("ts"), col("event_id"))
    val blkField = org.apache.spark.sql.types.StructField(
      "__blk", org.apache.spark.sql.types.IntegerType, nullable = false)
    val withBlk = s.createDataFrame(
        sorted.rdd.zipWithIndex().map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i / per).toInt)
        },
        org.apache.spark.sql.types.StructType(sorted.schema.fields :+ blkField))
      .localCheckpoint(true)
    val stats = withBlk.groupBy("__blk")
      .agg(min("ts").as("mn"), max("ts").as("mx"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val blockIds = stats.map(_._1)
    // pair-swap emission order: 1,0,3,2,... (odd-length tail stays)
    val emit = blockIds.grouped(2).flatMap {
      case Array(a, b) => Array(b, a)
      case one         => one
    }.toArray
    // disorder bound: lateness of each block vs the running max already
    // emitted; the consumer's watermark delay must cover it (plus margin)
    val mn = stats.map(t => t._1 -> t._2).toMap
    val mx = stats.map(t => t._1 -> t._3).toMap
    var runMax = Long.MinValue
    var worstMicros = 0L
    emit.foreach { b =>
      if (runMax != Long.MinValue)
        worstMicros = math.max(worstMicros, runMax - mn(b))
      runMax = math.max(runMax, mx(b))
    }
    val delaySec = worstMicros / 1000000L + 3600L
    // sentinel far enough out that final watermark (sentinel - delay)
    // passes every real row by 40 DAYS: watermark-buffered operators
    // flush, and a downstream CEP quiesce horizon larger than the data
    // span (35d > 30d of events) still fires at end-of-stream without
    // ever firing mid-stream (which would cut matches at event-time gaps
    // the single-batch ordered run never cuts)
    val sentinelMicros = stats.map(_._3).max + (delaySec + 40L * 86400L) * 1000000L

    // per-process staging: two JVMs racing to build the same fixture each
    // write their own dir; the loser's atomic rename fails and it adopts
    // the winner's published dir (a SHARED fixed staging dir would let the
    // loser interleave half-written segments into the winner's build)
    val staging = new java.io.File(
      s"$replayDir.inprogress-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    // a build that throws deletes its staging dir; a published one was
    // renamed away, so the delete is then a no-op
    try {
      staging.mkdirs()
      val t0 = System.currentTimeMillis() - 4 * 3600 * 1000L
      def place(df: org.apache.spark.sql.DataFrame, idx: Int): Unit = {
        val tmp = new java.io.File(staging, s"tmp-$idx")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
        val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        val tgt = new java.io.File(staging, f"seg-$idx%02d.parquet")
        java.nio.file.Files.move(part.toPath, tgt.toPath)
        org.apache.commons.io.FileUtils.deleteQuietly(tmp)
        // file-stream source picks oldest-modTime first: pin arrival order
        tgt.setLastModified(t0 + idx * 60000L)
      }
      emit.zipWithIndex.foreach { case (b, i) =>
        place(withBlk.where(col("__blk") === b).drop("__blk"), i)
      }
      // per-key FLUSH segment: one pattern-breaking row per user at +35d
      // of event time — released by the sorter after every real row for
      // its key, so a NoTimeout CEP matcher downstream resolves trailing
      // parked attempts at true end-of-data (the matchRecognizeOrdered
      // contract: "drive stream end with a pattern-breaking row per key").
      // Non-CEP consumers filter FlushType out before the sorter.
      val flushMicros = stats.map(_._3).max + 35L * 86400L * 1000000L
      val flushCols = schema.fields.map { f =>
        f.name match {
          case "event_id"   => "CAST(-(1000000 + user_id) AS BIGINT) AS event_id"
          case "ts"         => s"CAST($flushMicros AS BIGINT) AS ts"
          case "user_id"    => "user_id"
          case "event_type" => s"'$FlushType' AS event_type"
          case "value"      => "CAST(0.0 AS DOUBLE) AS value"
          case other        => s"CAST(NULL AS ${f.dataType.sql}) AS $other"
        }
      }
      place(raw.select(col("user_id")).distinct().selectExpr(flushCols.toIndexedSeq: _*),
        emit.length)
      val sentinelVals: Array[Any] = schema.fields.map(_.name).map {
        case "event_id"   => -1L
        case "ts"         => sentinelMicros
        case "user_id"    => -1L
        case "event_type" => "__sentinel"
        case "value"      => 0.0
        case _            => null
      }
      place(s.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(sentinelVals: _*)), schema),
        emit.length + 1)
      java.nio.file.Files.write(new java.io.File(staging, "_delay_sec").toPath,
        delaySec.toString.getBytes)
      // atomic publish (concurrent Verify/test JVMs race to the same dir)
      if (!staging.renameTo(root) && !meta.isFile)
        throw new java.io.IOException(s"failed to publish OOO replay $replayDir")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(staging)
    val d = new String(java.nio.file.Files.readAllBytes(meta.toPath)).trim.toLong
    (replayDir, d)
  }

  /** The replay as an unbounded typed stream, one segment per micro-batch;
    * returns the watermark delay (seconds) covering the manufactured
    * disorder. Callers hang `withWatermark`/sortedEvents on it. */
  def stream(s: SparkSession, dir: String): (Dataset[Event], Long) = {
    val (replayDir, delaySec) = prepare(s, dir)
    // segments carry ts as long MICROS (doPrepare canonicalizes whatever the
    // source parquet declared), so take the schema from the segments
    // themselves — `_delay_sec` is underscore-hidden to the reader
    val schema = graft.Tables.cachedSchema(s, replayDir)
    import s.implicits._
    val ds = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "seg-*.parquet")
      .parquet(replayDir)
      .withColumn("ts", expr("timestamp_micros(ts)"))
      .select("event_id", "ts", "user_id", "event_type", "value").as[Event]
    (ds, delaySec)
  }
}
