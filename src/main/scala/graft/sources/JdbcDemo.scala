package graft.sources

import graft.Query
import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** JDBC source / sink / lookup against an in-process Derby database —
  * SURVEY §2.1-9 (ref flink-connectors/flink-connector-jdbc/: JdbcRowData
  * InputFormat scan with parallelism splits, JdbcBatchingOutputFormat
  * batched upsert flushed on checkpoint, JdbcRowDataLookupFunction cached
  * lookup). Derby ships in /opt/spark/jars (Spark's metastore dependency),
  * so the full contract is demonstrable without a network database:
  *
  *  - scan: `spark.read.jdbc` with partitionColumn/num­Partitions — the
  *    reference's parallelism-split scan; each executor opens its own
  *    connection and reads one key range (predicate split pushdown);
  *  - upsert sink: foreachBatch → per-partition batched MERGE INTO —
  *    the JdbcBatchingOutputFormat shape (batch + flush per epoch),
  *    idempotent by construction (MERGE is a keyed upsert);
  *  - lookup: the JDBC dimension read once per JVM and broadcast-joined —
  *    the lookup-cache pattern (max-rows/TTL cache in the reference).
  *
  * Embedded Derby is single-JVM by design, which matches local[n]; on a
  * real cluster the same code points at a networked JDBC URL — the Spark
  * plans are identical, only the connection string changes. */
object JdbcDemo {

  private val driver = "org.apache.derby.jdbc.EmbeddedDriver"

  /** The database of each (app, dir): shut down and deleted when the
    * SparkContext ends. */
  private val dbs = new graft.Once[String, String](db => {
    // Derby reports a completed shutdown as SQLState 08006
    try DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true")
    catch { case _: java.sql.SQLException => () }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(db))
  })

  /** Load the customer dimension into Derby once per (app, dir) via
    * Spark's distributed JDBC writer (executor-side inserts); returns the
    * database's JDBC url. */
  def ensureDb(s: SparkSession, dir: String): String = {
    val db = dbs(s, dir) {
      val db = s"/tmp/graft-derby/${s.sparkContext.applicationId}-" +
        java.lang.Integer.toHexString(dir.hashCode)
      graft.Tables(s, dir, "customer")
        .select(col("c_custkey").cast("long"), col("c_name"),
          col("c_mktsegment"), col("c_acctbal").cast("double"))
        .write.format("jdbc")
        .option("url", s"jdbc:derby:$db;create=true").option("driver", driver)
        .option("dbtable", "customer")
        // Derby maps StringType to CLOB by default; CLOBs can't sit in
        // predicates, so pin VARCHARs (ref JdbcDialects do the same)
        .option("createTableColumnTypes",
          "c_name VARCHAR(64), c_mktsegment VARCHAR(16)")
        .mode("overwrite")
        .save()
      db
    }
    s"jdbc:derby:$db;create=true"
  }

  private def readCustomer(s: SparkSession, u: String): DataFrame =
    s.read.format("jdbc")
      .option("url", u).option("driver", driver)
      .option("dbtable", "customer")
      // parallel range scan: 4 splits on the key — each task its own
      // connection + WHERE range, the reference's parallelism splits
      .option("partitionColumn", "c_custkey")
      .option("lowerBound", "1").option("upperBound", "100000")
      .option("numPartitions", "4")
      .load()

  /** JDBC scan → aggregate. Filter + projection reach the database as SQL
    * (Spark's JDBC source pushes predicates; segment filter runs in Derby). */
  def scan(s: SparkSession, dir: String): DataFrame = {
    val u = ensureDb(s, dir)
    readCustomer(s, u)
      .where(col("c_mktsegment").isin("BUILDING", "MACHINERY", "AUTOMOBILE"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), round(sum("c_acctbal"), 2).as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  /** Lookup join: probe events against the JDBC-backed dimension.
    * Broadcast-hash join — the lookup-cache pattern at plan level (one
    * dimension read per job, probes never leave the executors). */
  def lookup(s: SparkSession, dir: String): DataFrame = {
    val u = ensureDb(s, dir)
    val dim = readCustomer(s, u).select(col("c_custkey"), col("c_mktsegment"))
    val probes = graft.Tables(s, dir, "events").select(col("event_id"), col("user_id"))
    probes.join(broadcast(dim), probes("user_id") === dim("c_custkey"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      .orderBy("event_id")
  }

  /** Streaming upsert sink: per-user latest event merged into a Derby
    * table via batched MERGE INTO per partition per epoch (the
    * JdbcBatchingOutputFormat flush-on-checkpoint shape), then read back.
    * MERGE makes epoch replay idempotent — same keyed exactly-once
    * argument as the reference's upsert JDBC sink. */
  def upsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val u = ensureDb(s, dir)
    val conn0 = DriverManager.getConnection(u)
    try {
      val st = conn0.createStatement()
      try st.executeUpdate(
        "CREATE TABLE user_latest (user_id BIGINT PRIMARY KEY, event_id BIGINT)")
      catch { case _: java.sql.SQLException => () } // exists from a prior run
      finally st.close()
      val del = conn0.createStatement()
      try del.executeUpdate("DELETE FROM user_latest") finally del.close()
    } finally conn0.close()

    val events = graft.streaming.StreamSource.events(s, dir)
      .select(col("user_id"), col("event_id"))
    val sink = events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // reduce the epoch to one action per key FIRST (map-side combine),
        // then flush batched MERGEs from each partition's own connection
        batch.groupBy("user_id").agg(max("event_id").as("event_id"))
          .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
            if (rows.nonEmpty) {
              val c = DriverManager.getConnection(u)
              try {
                c.setAutoCommit(false)
                val ps = c.prepareStatement(
                  """MERGE INTO user_latest t
                    |USING SYSIBM.SYSDUMMY1
                    |ON t.user_id = ?
                    |WHEN MATCHED AND t.event_id < ? THEN UPDATE SET event_id = ?
                    |WHEN NOT MATCHED THEN INSERT (user_id, event_id) VALUES (?, ?)""".stripMargin)
                try {
                  var n = 0
                  rows.foreach { r =>
                    val (uid, eid) = (r.getLong(0), r.getLong(1))
                    ps.setLong(1, uid); ps.setLong(2, eid); ps.setLong(3, eid)
                    ps.setLong(4, uid); ps.setLong(5, eid)
                    ps.addBatch()
                    n += 1
                    if (n % 500 == 0) ps.executeBatch() // bounded batch buffer
                  }
                  ps.executeBatch()
                  c.commit() // flush on epoch completion
                } finally ps.close()
              } finally c.close()
            }
          }
      }
    graft.streaming.StreamSource
      .checkpointDir(s, s"jdbc-${s.sparkContext.applicationId}").drain(sink)

    s.read.format("jdbc")
      .option("url", u).option("driver", driver)
      .option("dbtable", "user_latest")
      .load()
      .select(col("user_id").cast("long"), col("event_id").cast("long"))
      .orderBy("user_id")
  }

  val queries: Seq[Query] = Seq(
    Query("q_jdbc_scan", scan,
      """SELECT c_mktsegment, count(*) AS cnt,
        | round(CAST(sum(c_acctbal) AS DOUBLE), 2) AS sum_bal
        |FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Query("q_jdbc_lookup", lookup,
      """SELECT e.event_id, e.user_id,
        | coalesce(c.c_mktsegment, 'UNKNOWN') AS segment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin),
    Query("q_jdbc_upsert", upsert,
      """SELECT user_id, max(event_id) AS event_id
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))
}
