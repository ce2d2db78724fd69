// Benchmark harness JVM: drives graft's public entry points from outside the
// program and writes one JSON record of what it measured. perfbench/run.py
// compiles this file against the program's classes and launches it; see
// perfbench/README.md for the metrics.

package org.apache.spark {
  /** LiveListenerBus.waitUntilEmpty is private[spark]; draining the bus after
    * each execution attributes every listener event to the execution that
    * caused it. */
  object PerfbenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package perfbench {

  import java.nio.charset.StandardCharsets.UTF_8
  import java.nio.file.{Files, Paths}
  import scala.collection.mutable.ArrayBuffer
  import org.apache.spark.PerfbenchBus
  import org.apache.spark.scheduler._
  import org.apache.spark.sql.{Row, SparkSession}
  import org.apache.spark.sql.streaming.StreamingQueryListener
  import org.apache.spark.sql.execution.streaming.state.StateStore
  import org.apache.spark.sql.types.StructType

  /** One query execution: wall-clock spans in epoch ms plus what the
    * listeners attributed to it. */
  final class Exec(val name: String, val pass: Int) {
    var t0, tBuilt, t1 = 0L
    var ok = false
    var error = ""
    var rows = 0L
    var digest = ""
    var phases = Map.empty[String, Long]
    var schema: StructType = _
    val jobs = ArrayBuffer.empty[(Long, Long)]
    var stages, tasks = 0L
    var taskMs, gcMs, cpuNs, shuffleRead, shuffleWrite, spill = 0L
    val batches = ArrayBuffer.empty[Batch]
  }

  final case class Batch(triggerMs: Long, addBatchMs: Long, walCommitMs: Long,
                         commitOffsetsMs: Long, queryPlanningMs: Long,
                         inputRows: Long, stateRows: Long, stateMemBytes: Long,
                         stateCommitMs: Long)

  /** Routes listener events to the execution in flight. Executions run one
    * at a time and the bus is drained before the next one starts, so the
    * current execution is the one that caused each event; jobs additionally
    * carry the execution's tag as a local property. */
  final class Recorder extends StreamingQueryListener {
    @volatile var current: Exec = _
    private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, Exec]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Exec, Long)]()

    val spark: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tag = Option(e.properties).map(_.getProperty(Harness.TagKey)).orNull
        val ex = current
        if (ex != null && tag == Harness.tag(ex)) {
          jobStart.put(e.jobId, (ex, e.time))
          e.stageInfos.foreach(si => stageOwner.put(si.stageId, ex))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStart.remove(e.jobId)).foreach { case (ex, t) => ex.jobs += ((t, e.time)) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(stageOwner.get(e.stageInfo.stageId)).foreach(_.stages += 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageOwner.get(e.stageId)).foreach { ex =>
          val m = e.taskMetrics
          ex.tasks += 1
          if (m != null) {
            ex.taskMs += m.executorRunTime
            ex.cpuNs += m.executorCpuTime
            ex.gcMs += m.jvmGCTime
            ex.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            ex.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            ex.spill += m.diskBytesSpilled
          }
        }
    }

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val ex = current
      if (ex != null) {
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val ops = p.stateOperators
        ex.batches += Batch(d("triggerExecution"), d("addBatch"), d("walCommit"),
          d("commitOffsets"), d("queryPlanning"), p.numInputRows,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
          ops.map(_.commitTimeMs).sum)
      }
    }
  }

  object Harness {
    val TagKey = "perfbench.exec"
    def tag(ex: Exec): String = s"${ex.name}#${ex.pass}"

    /** Order-independent digest: row count plus a hash of the sorted rows,
      * each rendered with its columns in name order and doubles at 9
      * significant digits. */
    def digest(rows: Array[Row]): String = {
      if (rows.isEmpty) return "0:"
      val order = rows.head.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
      val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).sorted
      val md = java.security.MessageDigest.getInstance("SHA-256")
      lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
      s"${rows.length}:" + md.digest().map(b => f"$b%02x").mkString
    }

    private def cell(v: Any): String = v match {
      case null => "null"
      case d: Double => java.lang.String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))
      case f: Float => cell(f.toDouble)
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case x => x.toString
    }

    private def session(): SparkSession = {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors.toString)
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"/tmp/graft-warehouse/perfbench-${System.nanoTime()}")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    private def seconds(ns: Long): Double = ns / 1e9

    /** Runs one prep step and returns its wall time in seconds. */
    private def prep(s: SparkSession, sfDir: String, step: String): Double = {
      val t0 = System.nanoTime()
      step match {
        case "tpcds_ensure" => graft.tpcds.TpcdsData.ensure(s, sfDir)
        case "ooo_replay" => graft.streaming.OooReplay.prepare(s, sfDir)
        case other => throw new IllegalArgumentException(s"unknown prep step $other")
      }
      val dt = seconds(System.nanoTime() - t0)
      s.catalog.clearCache()
      dt
    }

    /** Runs one query: build the plan, collect it (the timed span), then
      * outside the timed span digest the rows and read the plan's phases. */
    private def execute(s: SparkSession, rec: Recorder, sfDir: String,
                        ex: Exec): Array[Row] = {
      val sc = s.sparkContext
      sc.setLocalProperty(TagKey, tag(ex))
      rec.current = ex
      var rows: Array[Row] = null
      ex.t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try {
        val df = graft.SparkEntry.queries(ex.name)(s, sfDir)
        ex.tBuilt = ex.t0 + (System.nanoTime() - n0) / 1000000
        rows = df.collect()
        ex.t1 = ex.t0 + (System.nanoTime() - n0) / 1000000
        ex.ok = true
        ex.schema = df.schema
        ex.phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
      } catch {
        case e: Throwable =>
          ex.t1 = ex.t0 + (System.nanoTime() - n0) / 1000000
          ex.error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      if (rows != null) { ex.rows = rows.length; ex.digest = digest(rows) }
      s.catalog.clearCache()
      StateStore.stop()
      PerfbenchBus.drain(sc)
      rec.current = null
      sc.setLocalProperty(TagKey, null)
      rows
    }

    /** usage: run <sfDir> <outDir> <ordersFile> <seconds> <trace 0|1> <prep,steps>
      *        reference <sfDir> <outDir> <q1,q2,...> */
    def main(args: Array[String]): Unit = args(0) match {
      case "run" => run(args(1), args(2), args(3), args(4).toDouble, args(5) == "1",
        args.lift(6).filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil))
      case "reference" => reference(args(1), args(2), args(3).split(",").toSeq)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }

    /** Prepare mode: builds the write-once TPC-DS tables, writes each listed
      * query's oracle SQL (where one exists) and dumps the query's result on
      * the canonical input, for digests of queries with no oracle. */
    private def reference(sfDir: String, outDir: String, names: Seq[String]): Unit = {
      val s = session()
      graft.tpcds.TpcdsData.ensure(s, sfDir)
      val oracle = graft.SparkEntry.oracleSql
      val json = names.filter(oracle.contains)
        .map(n => Json.str(n) + ":" + Json.str(oracle(n))).mkString("{", ",", "}")
      Files.createDirectories(Paths.get(outDir))
      Files.write(Paths.get(outDir, "oracle_sql.json"), json.getBytes(UTF_8))
      val rec = new Recorder
      names.filterNot(oracle.contains).foreach { n =>
        val ex = new Exec(n, -1)
        val rows = execute(s, rec, sfDir, ex)
        if (rows == null) throw new IllegalStateException(s"$n failed on the canonical input: ${ex.error}")
        dump(s, outDir, n, rows, ex.schema)
      }
      s.stop()
    }

    private def dump(s: SparkSession, outDir: String, name: String, rows: Array[Row],
                     schema: StructType): Unit =
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/results/$name")

    private def run(sfDir: String, outDir: String, ordersFile: String, budget: Double,
                    trace: Boolean, prepSteps: Seq[String]): Unit = {
      val orders = new String(Files.readAllBytes(Paths.get(ordersFile)), UTF_8)
        .split("\n").map(_.trim).filter(_.nonEmpty).map(_.split(",").toSeq).toSeq
      val sessionStart = System.currentTimeMillis()
      val s = session()
      val sessionS = (System.currentTimeMillis() - sessionStart) / 1e3
      val rec = new Recorder
      s.streams.addListener(rec)
      val preps = prepSteps.map(p => p -> prep(s, sfDir, p))

      // untimed warm pass: first executions are several times slower (JIT,
      // codegen, class loading); it counts toward setup
      val warmStart = System.nanoTime()
      val warm = orders.head.map(n => new Exec(n, 0))
      warm.foreach(execute(s, rec, sfDir, _))
      val warmS = seconds(System.nanoTime() - warmStart)

      // timed passes: whole passes in the seeded orders until the budget is
      // spent; a traced run makes at least three, untraced, traced and
      // untraced, so warm-up drift does not bias the tracing overhead
      val firstTimed = System.currentTimeMillis()
      val passes = ArrayBuffer.empty[(Int, Boolean, Double, Seq[Exec])]
      val firstRows = scala.collection.mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
      val t0 = System.nanoTime()
      var i = 1
      def more: Boolean = seconds(System.nanoTime() - t0) < budget || (trace && passes.length < 3)
      while (more && i < orders.length) {
        val traced = trace && passes.length % 2 == 1
        if (traced) s.sparkContext.addSparkListener(rec.spark)
        val execs = orders(i).map(n => new Exec(n, i))
        var wall = 0L
        execs.foreach { ex =>
          val rows = execute(s, rec, sfDir, ex)
          wall += ex.t1 - ex.t0
          if (rows != null && !firstRows.contains(ex.name)) firstRows(ex.name) = (rows, ex.schema)
        }
        if (traced) s.sparkContext.removeSparkListener(rec.spark)
        passes += ((i, traced, wall / 1e3, execs))
        i += 1
      }

      // outside the timed region: the first timed result of each query goes
      // to parquet for the oracle compare
      firstRows.foreach { case (n, (rows, schema)) => dump(s, outDir, n, rows, schema) }
      val cores = s.sparkContext.defaultParallelism
      s.stop()

      val out = new StringBuilder
      out ++= "{" ++= s""""cores":$cores,"session_s":$sessionS,"warm_s":$warmS,"first_timed_ms":$firstTimed,"""
      out ++= "\"prep\":" ++= preps.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
      out ++= ",\"warm\":" ++= warm.map(Json.exec).mkString("[", ",", "]")
      out ++= ",\"passes\":" ++= passes.map { case (idx, traced, wall, execs) =>
        s"""{"index":$idx,"traced":$traced,"wall_s":$wall,"execs":""" +
          execs.map(Json.exec).mkString("[", ",", "]") + "}"
      }.mkString("[", ",", "]")
      out ++= "}"
      Files.write(Paths.get(outDir, "harness.json"), out.toString.getBytes(UTF_8))
      // hold the process (and its private /dev/shm) until the runner has
      // read peak memory and residue from outside
      println("perfbench-ready")
      System.out.flush()
      System.in.read()
    }
  }

  object Json {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    def exec(ex: Exec): String = {
      val b = ex.batches.map(x =>
        s"[${x.triggerMs},${x.addBatchMs},${x.walCommitMs},${x.commitOffsetsMs}," +
          s"${x.queryPlanningMs},${x.inputRows},${x.stateRows},${x.stateMemBytes},${x.stateCommitMs}]")
      s"""{"name":${str(ex.name)},"ok":${ex.ok},"error":${str(ex.error)},""" +
        s""""t0":${ex.t0},"t_built":${ex.tBuilt},"t1":${ex.t1},"rows":${ex.rows},"digest":${str(ex.digest)},""" +
        s""""phases":${ex.phases.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")},""" +
        s""""jobs":${ex.jobs.map { case (a, z) => s"[$a,$z]" }.mkString("[", ",", "]")},""" +
        s""""stages":${ex.stages},"tasks":${ex.tasks},"task_ms":${ex.taskMs},"cpu_ns":${ex.cpuNs},""" +
        s""""gc_ms":${ex.gcMs},"shuffle_read":${ex.shuffleRead},"shuffle_write":${ex.shuffleWrite},""" +
        s""""spill":${ex.spill},"batches":${b.mkString("[", ",", "]")}}"""
    }
  }
}
