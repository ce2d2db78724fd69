package graft.sources

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Hive-catalog proof (SURVEY §2.11; ref flink-connectors/
  * flink-connector-hive/ — HiveCatalog registering tables in a Hive
  * metastore that both engines resolve through). Spark ships the same
  * integration built-in: `enableHiveSupport()` backs the session catalog
  * with a HiveExternalCatalog over an embedded-Derby metastore (the
  * sandbox deployment; production points the same code at a remote
  * metastore URI).
  *
  * The query exercises the full verb surface END-TO-END against the
  * metastore — CREATE DATABASE, saveAsTable into the warehouse, SHOW
  * TABLES, DESCRIBE, metastore-resolved SELECT, DROP — not just config.
  */
object HiveCatalog {

  /** Metastore-registered copy of `nation`, queried through the catalog.
    * Table name is per-app so concurrent JVMs (tests + Verify) sharing a
    * warehouse root never collide. */
  def hiveCatalog(s: SparkSession, dir: String): DataFrame = {
    // check the SharedState's actual catalog, not the conf string — the
    // string is per-session and a sibling session built without
    // enableHiveSupport can shadow it while the shared catalog stays Hive
    val catClass = s.sharedState.externalCatalog.unwrapped.getClass.getName
    require(catClass.contains("HiveExternalCatalog"),
      s"expected HiveExternalCatalog, got $catClass")
    val tbl = "graft_hive.nation_cat_" +
      java.lang.Integer.toHexString(s.sparkContext.applicationId.hashCode & 0x7fffffff)
    s.sql("CREATE DATABASE IF NOT EXISTS graft_hive")
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    Tables(s, dir, "nation").write.mode("overwrite").saveAsTable(tbl)
    // catalog verbs resolved by the metastore, not a temp-view registry
    val shown = s.sql("SHOW TABLES IN graft_hive").collect()
    require(shown.exists(_.getString(1) == tbl.split("\\.")(1)),
      s"SHOW TABLES did not list $tbl")
    require(s.sql(s"DESCRIBE TABLE $tbl").collect()
      .exists(_.getString(0) == "n_regionkey"), "DESCRIBE missing column")
    val out = s.sql(
      s"""SELECT n_regionkey, count(*) AS cnt, min(n_name) AS first_nation
         |FROM $tbl GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
    val materialized = out.localCheckpoint(true) // read before dropping
    s.sql(s"DROP TABLE $tbl")
    materialized
  }

  /** INSERT INTO / INSERT OVERWRITE ... PARTITION (ref parserImpls.ftl
    * SqlRichInsert + flink-connector-hive partitioned writes;
    * docs/dev/table/sql/insert.md): dynamic-partition append, then a
    * static-partition OVERWRITE that must replace ONLY its own partition.
    * The partitioned layout is also the pruning layout at 100 TB — each
    * partition's rewrite touches only that directory. */
  def insertPartition(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    val tbl = "graft_hive.ins_orders_" +
      java.lang.Integer.toHexString(s.sparkContext.applicationId.hashCode & 0x7fffffff)
    s.sql("CREATE DATABASE IF NOT EXISTS graft_hive")
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"""CREATE TABLE $tbl (o_orderkey BIGINT, o_totalprice DOUBLE)
             |USING parquet PARTITIONED BY (status STRING)""".stripMargin)
    // dynamic partitions: one directory per status
    s.sql(s"""INSERT INTO $tbl PARTITION (status)
             |SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders""".stripMargin)
    // static partition overwrite: replaces ONLY status='P' (prices +1);
    // the other partitions' rows must survive untouched
    s.sql(s"""INSERT OVERWRITE TABLE $tbl PARTITION (status = 'P')
             |SELECT o_orderkey, o_totalprice + 1 FROM orders
             |WHERE o_orderstatus = 'P'""".stripMargin)
    val out = s.sql(
      s"""SELECT status, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
         |FROM $tbl GROUP BY status ORDER BY status""".stripMargin)
    val materialized = out.localCheckpoint(true)
    s.sql(s"DROP TABLE $tbl")
    materialized
  }

  val queries: Seq[Query] = Seq(
    Query("q_ddl_insert_partition", insertPartition,
      """SELECT o_orderstatus AS status, count(*) AS cnt,
        | round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice + 1
        |               ELSE o_totalprice END), 2) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    Query("q_hive_catalog", hiveCatalog,
      """SELECT n_regionkey, count(*) AS cnt, min(n_name) AS first_nation
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),
  )
}
