package graft.operators

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-format sources/sinks (SURVEY.md §2.1: flink-formats csv/json/orc/
  * parquet → `spark.read.{csv,json,orc,parquet}`).
  *
  * Each query is a write→read round trip: the driver table is written to
  * the format under /tmp, read back through that format's source, and
  * aggregated; the DuckDB oracle aggregates the original parquet, so a
  * fidelity bug in either direction breaks the hash match. Avro goes
  * through graft.sources.AvroFiles (container-file API on avro-core; the
  * spark-avro DataSource wrapper is absent from this deployment — with it
  * the mapping would be `spark.read.format("avro")`, same shape as ORC).
  *
  * CSV/JSON round trips exclude timestamp columns (text formats default to
  * millisecond precision — micros would be silently truncated; production
  * pipelines set timestampFormat explicitly). ORC keeps timestamps to prove
  * full-fidelity binary round-tripping.
  */
object Formats {

  private def tmpDir(fmt: String, dir: String): String =
    s"/tmp/graft-fmt/$fmt-${dir.replaceAll("[^a-zA-Z0-9.]", "_")}"

  /** CSV with header: nation round trip, aggregated per region. */
  def csvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir("csv", dir)
    val nation = Tables(s, dir, "nation")
    nation.write.mode("overwrite").option("header", "true").csv(path)
    s.read.schema(nation.schema).option("header", "true").csv(path)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("cnt"), min(col("n_name")).as("first_name"))
      .orderBy("n_regionkey")
  }

  /** JSON lines: orders round trip, aggregated per status. */
  def jsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir("json", dir)
    val orders = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    orders.write.mode("overwrite").json(path)
    s.read.schema(orders.schema).json(path)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderstatus")
  }

  /** ORC: lineitem round trip including a timestamp filter (micros must
    * survive), aggregated per return flag. */
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir("orc", dir)
    val li = Tables(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"), col("l_shipdate"))
    li.write.mode("overwrite").orc(path)
    s.read.orc(path)
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Avro: supplier round trip through graft.sources.AvroFiles (container-
    * file API on avro-core — the spark-avro DataSource jar is absent from
    * this deployment, the format itself is not). Distributed on both
    * sides: per-partition DataFileWriter sink, per-file DataFileStream
    * source; a string column proves Utf8 → String fidelity. */
  def avroRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir("avro", dir)
    val supplier = Tables(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
    graft.sources.AvroFiles.write(supplier, path)
    graft.sources.AvroFiles.read(s, path, supplier.schema)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("cnt"), min(col("s_name")).as("first_name"),
        round(sum("s_acctbal"), 2).as("total"))
      .orderBy("s_nationkey")
  }

  /** CSV quoting quirks (ref flink-formats/flink-csv RFC-4180 handling —
    * CsvRowDataDeserializationSchema quote/escape/line-delimiter options):
    * values containing the delimiter, the quote char itself, and embedded
    * NEWLINES must survive a write→read round trip. Writer uses RFC-4180
    * quote-doubling (escape = quote); reader needs multiLine=true (one
    * record spanning lines — the non-splittable parse mode, per-file
    * granularity at scale, same trade-off as gzip). The oracle builds the
    * identical tricky string from the parquet, so any mis-quoting on
    * either side breaks the hash. */
  def csvQuirks(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir("csvq", dir)
    val tricky = Tables(s, dir, "nation")
      .select(col("n_nationkey"), col("n_regionkey"),
        concat(col("n_name"), lit(",\"q\"\nL2")).as("tricky"))
    tricky.write.mode("overwrite").option("header", "true")
      .option("escape", "\"").csv(path)
    s.read.schema(tricky.schema).option("header", "true")
      .option("multiLine", "true").option("escape", "\"").csv(path)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("cnt"), min(col("tricky")).as("first_tricky"),
        sum(length(col("tricky"))).as("len_sum"))
      .orderBy("n_regionkey")
  }

  /** Avro schema EVOLUTION (ref flink-avro reader-schema resolution; the
    * upgrade path every long-lived corpus hits): files written with schema
    * v1 (suppkey, name, nationkey, acctbal) read back under schema v2 that
    * DROPS s_name, ADDS s_tier with default 'std', and REORDERS the
    * remaining fields — name-based resolution handles all three. The
    * oracle reads the original parquet and plants the same constant, so a
    * resolution bug (wrong field matched positionally, default not
    * applied) breaks the hash. */
  def avroEvolve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = tmpDir("avroevo", dir)
    val v1 = Tables(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
    graft.sources.AvroFiles.write(v1, path)
    val v2 = StructType(Seq(
      StructField("s_acctbal", DoubleType),       // reordered
      StructField("s_tier", StringType, nullable = false), // added, default
      StructField("s_suppkey", LongType),
      StructField("s_nationkey", LongType)))      // s_name dropped
    graft.sources.AvroFiles.readEvolved(s, path, v2, Map("s_tier" -> "std"))
      .groupBy(col("s_nationkey"), col("s_tier"))
      .agg(count(lit(1)).as("cnt"), max(col("s_suppkey")).as("max_key"),
        round(sum("s_acctbal"), 2).as("total"))
      .orderBy("s_nationkey")
  }

  /** Compressed round trip (ref flink-formats/flink-compress
    * CompressWriterFactory.java: hadoop-codec writers for the
    * StreamingFileSink): gzip CSV out, transparent decompress on read.
    * Codec files shard per partition exactly like plain files, so the write
    * stays distributed; gzip's non-splittability is the documented trade-off
    * on the READ side at 100 TB (one task per .gz file — acceptable because
    * the sink already rolled per-partition files; bzip2/zstd are the
    * splittable alternatives, same one-line option). */
  def gzipRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir("csv-gz", dir)
    val customer = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    customer.write.mode("overwrite").option("header", "true")
      .option("compression", "gzip").csv(path)
    val files = new java.io.File(path).listFiles()
    require(files.exists(_.getName.endsWith(".csv.gz")),
      s"expected gzip part files under $path")
    s.read.schema(customer.schema).option("header", "true").csv(path)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), round(sum("c_acctbal"), 2).as("total"))
      .orderBy("c_mktsegment")
  }

  /** q_meta_columns — metadata columns (ref FLIP-107, new in the
    * reference's release: `CREATE TABLE t (... ts TIMESTAMP METADATA FROM
    * 'timestamp')` surfaces connector-level metadata as per-row columns;
    * flink-table-api-java .../Schema.java columnByMetadata). Spark-first:
    * file sources expose the hidden `_metadata` struct (file_path,
    * file_name, file_size, file_modification_time, row_index) on every
    * file-backed scan — selected per row exactly like data columns and
    * usable in filters (partition-pruning on file_name works). The oracle
    * can't see paths, so the QUERY projects path invariants that hold for
    * any layout of the fixture (single file or part-directory); the spec
    * pins the exact per-file semantics (dense row_index, constant
    * file_size). */
  def metadataColumns(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        col("_metadata.file_name").endsWith(".parquet").as("fname_ok"),
        (col("_metadata.file_size") > lit(0L)).as("nonempty"),
        col("_metadata.file_path").contains("documents").as("in_path"))
      .orderBy("doc_id")

  /** Raw format (ref flink-table-runtime-blink
    * formats/raw/RawFormatDeserializationSchema.java): the whole message
    * body is ONE column. Two reference conversion paths in one query: the
    * charset-string path (each record's JSON body round-tripped through a
    * text file into a single `raw` STRING column, decoded in SQL) and the
    * big-endian numeric path (BIGINT ⇄ 8-byte binary via hex/unhex — the
    * RawFormatSerializationSchema long converter's byte order). */
  def rawRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir("raw", dir)
    val ev = Tables(s, dir, "events")
    // message body = props JSON + the key encoded as 16 hex chars of the
    // big-endian 8-byte representation, '|'-separated
    ev.select(concat(
      lpad(hex(col("user_id")), 16, "0"), lit("|"), col("props")).as("value"))
      .write.mode("overwrite").text(path)
    s.read.text(path)
      .select(
        // big-endian binary → BIGINT (unhex proves the byte round trip)
        conv(hex(unhex(substring(col("value"), 1, 16))), 16, 10).cast("long")
          .as("user_id"),
        get_json_object(substring(col("value"), 18, 1000000), "$.k").cast("int")
          .as("k"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("cnt"), sum("k").as("sum_k"))
      .orderBy("user_id")
  }

  /** Hadoop SequenceFile round trip (ref flink-formats/flink-sequence-file
    * SequenceFileWriterFactory.java + flink-hadoop-compatibility's
    * SequenceFileInputFormat path): keyed binary records through the
    * legacy container format. The RDD bridge is the designed API for
    * Writable conversion (saveAsSequenceFile / sc.sequenceFile) — both
    * sides stay per-partition distributed; the DataFrame boundary is one
    * row-to-tuple map each way. */
  def sequenceFileRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir("seq", dir)
    val supplier = Tables(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
    org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    supplier.rdd
      .map(r => (r.getAs[Number](0).longValue(),
        s"${r.getString(1)}|${r.getAs[Number](2).longValue()}|${r.getAs[Number](3).doubleValue()}"))
      .saveAsSequenceFile(path)
    import s.implicits._
    s.sparkContext.sequenceFile[Long, String](path)
      .map { case (k, v) =>
        val f = v.split('|')
        (k, f(0), f(1).toLong, f(2).toDouble)
      }
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("cnt"), min(col("s_name")).as("first_name"),
        round(sum("s_acctbal"), 2).as("total"))
      .orderBy("s_nationkey")
  }

  /** JSON column functions over events.props (§2.8 STR_TO_MAP/JSON family):
    * extract a field from an embedded JSON string and aggregate it. */
  def jsonColumn(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))
      .orderBy("user_id")

  /** Supplier count, first name and balance total per nation. */
  val supplierByNationOracle: String =
    """SELECT s_nationkey, count(*) AS cnt, min(s_name) AS first_name,
        | round(sum(s_acctbal), 2) AS total
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q_fmt_csv", csvRoundtrip,
      """SELECT n_regionkey, count(*) AS cnt, min(n_name) AS first_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),
    Query("q_fmt_json", jsonRoundtrip,
      """SELECT o_orderstatus, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    Query("q_meta_columns", metadataColumns,
      """SELECT doc_id, true AS fname_ok, true AS nonempty, true AS in_path
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q_fmt_orc", orcRoundtrip,
      """SELECT l_returnflag, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q_fmt_avro", avroRoundtrip,
      supplierByNationOracle),
    Query("q_fmt_csv_quirks", csvQuirks,
      """SELECT n_regionkey, count(*) AS cnt,
        | min(n_name || ',"q"' || chr(10) || 'L2') AS first_tricky,
        | CAST(sum(length(n_name || ',"q"' || chr(10) || 'L2')) AS BIGINT) AS len_sum
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),
    Query("q_fmt_avro_evolve", avroEvolve,
      """SELECT s_nationkey, 'std' AS s_tier, count(*) AS cnt,
        | max(s_suppkey) AS max_key, round(sum(s_acctbal), 2) AS total
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin),
    Query("q_fmt_seqfile", sequenceFileRoundtrip,
      supplierByNationOracle),
    Query("q_fmt_gzip", gzipRoundtrip,
      """SELECT c_mktsegment, count(*) AS cnt, round(sum(c_acctbal), 2) AS total
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Query("q_fmt_raw", rawRoundtrip,
      """SELECT user_id, count(*) AS cnt,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_fn_json", jsonColumn,
      """SELECT user_id, count(*) AS cnt,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        | CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
  )
}
