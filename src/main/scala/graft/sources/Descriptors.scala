package graft.sources

import graft.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TableDescriptor-style registration (SURVEY.md §2.11; ref
  * flink-table-api-java TableDescriptor / Schema.Builder — the API that
  * carries WATERMARK and PRIMARY KEY as table METADATA instead of
  * per-call arguments).
  *
  * A descriptor registers the table once; operators then derive their
  * event-time and key columns from the metadata:
  *  - `table`     → batch DataFrame + temp view under `name`
  *  - `stream`    → file-stream DataFrame with the declared watermark
  *                  already applied (the `rowtime` attribute of the
  *                  reference's schema DDL)
  *  - `dedupByPk` → keep-last-row per primary key ordered by the
  *                  watermark column (ChangelogNormalize's contract:
  *                  upsert key = PRIMARY KEY, version = rowtime)
  */
case class TableDescriptor(name: String, path: String,
                           primaryKey: Seq[String] = Nil,
                           watermarkCol: Option[String] = None,
                           watermarkDelay: String = "1 hour",
                           tsNanosAsLong: Boolean = false,
                           computedCols: Seq[(String, String)] = Nil)

object Descriptors {

  private def load(s: SparkSession, d: TableDescriptor): DataFrame = {
    val base = if (d.tsNanosAsLong) {
      // schema-adaptive: the option means "this column is event time —
      // normalize it", covering both nanos-as-long and timestamp[us] drops
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      graft.Tables.normalizeTs(s.read.parquet(d.path), d.watermarkCol.getOrElse("ts"))
    } else s.read.parquet(d.path)
    withComputed(base, d)
  }

  /** Computed columns from the DDL (`name AS expr`), evaluated on read —
    * the reference's generated/computed column contract. */
  private def withComputed(df: DataFrame, d: TableDescriptor): DataFrame =
    d.computedCols.foldLeft(df) { case (acc, (n, e)) => acc.withColumn(n, expr(e)) }

  /** Register the batch view and return the DataFrame. */
  def table(s: SparkSession, d: TableDescriptor): DataFrame = {
    val df = load(s, d)
    df.createOrReplaceTempView(d.name)
    df
  }

  /** Unbounded stream with the declared watermark applied from metadata. */
  def stream(s: SparkSession, d: TableDescriptor): DataFrame = {
    if (d.tsNanosAsLong) s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = graft.Tables.cachedSchema(s, d.path)
    // the file-stream source wants a DIRECTORY; a descriptor pointing at
    // one file becomes parent dir + exact-name glob
    val f = new java.io.File(d.path)
    val reader = s.readStream.schema(schema)
    val raw = if (f.isFile) reader.option("pathGlobFilter", f.getName).parquet(f.getParent)
              else reader.parquet(d.path)
    val withTime = if (d.tsNanosAsLong)
      graft.Tables.normalizeTs(raw, d.watermarkCol.getOrElse("ts"))
    else raw
    val full = withComputed(withTime, d)
    d.watermarkCol.fold(full)(c => full.withWatermark(c, d.watermarkDelay))
  }

  /** Keep-last-row per PRIMARY KEY, versioned by the watermark column —
    * the metadata-driven form of the dedup operators (ref
    * StreamExecChangelogNormalize keyed on the declared PK). Batch form:
    * one window rank over (pk ORDER BY rowtime DESC). */
  def dedupByPk(s: SparkSession, d: TableDescriptor,
                tieBreak: Seq[String] = Nil): DataFrame = {
    require(d.primaryKey.nonEmpty, s"table ${d.name} declares no PRIMARY KEY")
    val rowtime = d.watermarkCol.getOrElse(
      throw new IllegalArgumentException(s"table ${d.name} declares no rowtime"))
    import org.apache.spark.sql.expressions.Window
    val df = load(s, d)
    val order = (col(rowtime).desc +: tieBreak.map(col(_).desc))
    val w = Window.partitionBy(d.primaryKey.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** q_descriptor_dedup: latest event per user through a descriptor that
    * declares the PRIMARY KEY and the rowtime. */
  def eventsByUser(s: SparkSession, dir: String): DataFrame = {
    val d = TableDescriptor("events_desc", s"$dir/events.parquet",
      primaryKey = Seq("user_id"), watermarkCol = Some("ts"), tsNanosAsLong = true)
    dedupByPk(s, d, tieBreak = Seq("event_id"))
      .select(col("user_id"), col("event_id"), col("event_type"))
      .orderBy("user_id")
  }

  val queries: Seq[Query] = Seq(
    Query("q_descriptor_dedup", eventsByUser,
      graft.streaming.StreamQueries.dedupLastOracle),
  )
}
