package graft.operators

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** An order projected into an opaque value for the RAW lattice row: the
  * payload a user would carry through a kryo-serialized column. */
case class OrderBlob(key: Long, status: String, cents: Long)

/** The last two unexercised rows of the reference's logical-type lattice
  * (ref `flink-table/flink-table-common/src/main/java/org/apache/flink/
  * table/types/logical/LogicalTypeRoot.java:52-175`; SURVEY §1.2 maps
  * them, VERDICT r11 missing #4 asked for oracle queries):
  *
  *  - TIME WITHOUT TIME ZONE — the reference stores it as millis-of-day
  *    (`TimeType`, int). Spark has no TIME type, so the engine carries
  *    the same int encoding and implements the verb set over it:
  *    construction from a timestamp, EXTRACT (hour/minute/second/millis
  *    as pure integer division), comparison (business-hours predicate),
  *    and wraparound arithmetic (t + 9h mod 24h — TIME is a cyclic type,
  *    the part DATE/TIMESTAMP arithmetic does not share).
  *
  *  - RAW — the reference's escape hatch for arbitrary JVM objects
  *    (`RawType`, kryo-serialized bytes). Spark's equivalent is a
  *    BinaryType column produced by the kryo `Encoder`: the object round
  *    trips through opaque bytes the engine cannot look into, exactly
  *    the reference's contract (no predicate pushdown, no comparison —
  *    just transport). The oracle checks the DECODED values: if the
  *    byte round trip corrupted anything, the decoded columns diverge.
  */
object TypeLattice {

  /** TIME WITHOUT TIME ZONE verbs over events.ts, grouped per
    * (event_type, hour): pure integer math end to end, one aggregation
    * shuffle — both engines replay millis-of-day exactly from the same
    * stored micros. */
  def timeLattice(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events")
    e.select(col("event_type"),
        expr("cast((unix_micros(ts) % 86400000000) div 1000 AS int)").as("tod"))
      .groupBy(col("event_type"), expr("cast(tod div 3600000 AS int)").as("hh"))
      .agg(count(lit(1)).as("n"),
        min(col("tod")).as("min_tod_ms"),
        max(col("tod")).as("max_tod_ms"),
        // EXTRACT: second-of-minute of the earliest time in the group
        expr("min(tod) % 60000 div 1000").cast("int").as("min_tod_sec"),
        // comparison: business-hours membership [09:00, 17:00)
        sum(expr("CASE WHEN tod >= 32400000 AND tod < 61200000 THEN 1 ELSE 0 END"))
          .cast("bigint").as("n_business"),
        // cyclic arithmetic: does t + 9h wrap past midnight?
        sum(expr("CASE WHEN (tod + 32400000) % 86400000 < tod THEN 1 ELSE 0 END"))
          .cast("bigint").as("n_wrap"))
      .orderBy("event_type", "hh")
  }

  /** RAW verbs: a sampled orders slice is kryo-encoded into a single
    * opaque BinaryType column (the `Encoders.kryo` Dataset — Spark's
    * RawType), then decoded back; the emitted row carries the decoded
    * fields plus `roundtrip_ok` (decoded == source, via join). The bytes
    * themselves never leave the engine — RAW is transport, not a
    * comparable value, so the cross-engine contract is value fidelity
    * after decode. */
  def rawLattice(s: SparkSession, dir: String): DataFrame = {
    val sess = s
    import sess.implicits._
    val src = Tables(s, dir, "orders").where(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        expr("cast(round(o_totalprice * 100) AS bigint)").as("cents"))
    // encode: the kryo Encoder's schema is ONE BinaryType column — the
    // object is now opaque bytes (assert the RAW shape, loudly)
    val blobs = src.select(col("o_orderkey").as("_1"),
        col("o_orderstatus").as("_2"), col("cents").as("_3"))
      .as[(Long, String, Long)]
      .map { case (k, st, c) => OrderBlob(k, st, c) }(Encoders.kryo[OrderBlob])
    require(blobs.schema.fields.length == 1 &&
      blobs.schema.fields(0).dataType == org.apache.spark.sql.types.BinaryType,
      s"kryo Dataset must be a single binary column, got ${blobs.schema}")
    // decode: bytes back to fields
    val back = blobs.map(b => (b.key, b.status, b.cents))
      .toDF("o_orderkey", "status_rt", "cents_rt")
    back.join(src, "o_orderkey")
      .select(col("o_orderkey"), col("status_rt"), col("cents_rt"),
        (col("status_rt") === col("o_orderstatus") &&
          col("cents_rt") === col("cents")).as("roundtrip_ok"))
      .orderBy("o_orderkey")
  }

  val queries: Seq[Query] = Seq(
    Query("q_type_time", timeLattice,
      """WITH t AS (SELECT event_type,
        |  CAST((epoch_us(CAST(ts AS TIMESTAMP)) % 86400000000) // 1000 AS INT) AS tod
        | FROM events)
        |SELECT event_type, tod // 3600000 AS hh, count(*) AS n,
        |  min(tod) AS min_tod_ms, max(tod) AS max_tod_ms,
        |  CAST(min(tod) % 60000 // 1000 AS INT) AS min_tod_sec,
        |  CAST(sum(CASE WHEN tod >= 32400000 AND tod < 61200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_business,
        |  CAST(sum(CASE WHEN (tod + 32400000) % 86400000 < tod THEN 1 ELSE 0 END) AS BIGINT) AS n_wrap
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // the oracle replays the DECODED values — byte-level corruption in the
    // engine's kryo round trip would flip roundtrip_ok or the fields
    Query("q_type_raw", rawLattice,
      """SELECT o_orderkey, o_orderstatus AS status_rt,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents_rt,
        |  TRUE AS roundtrip_ok
        |FROM orders WHERE o_orderkey % 97 = 0
        |ORDER BY o_orderkey""".stripMargin))
}
