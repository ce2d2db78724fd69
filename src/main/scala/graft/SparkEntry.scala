package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.sources.{CdcFormats, DdlSql, Descriptors, HiveCatalog, JdbcDemo, StateRead}
import graft.streaming.{CdcStream, MatchRecognizeSql, StateBootstrap, StreamDedup,
  StreamIterate, StreamQueries, TxFileSink, Unified}
import graft.tpcds.TpcdsReal

/** The entry points of SURVEY.md §7: the flagship query, and the query
  * catalog read as two maps (`queries` builds each query's DataFrame,
  * `oracleSql` holds its DuckDB SQL over the same parquet tables).
  *
  * Every implemented operator from SURVEY.md §2 is one [[Query]] in the
  * catalog. Column names and types are aligned on both sides; doubles are
  * rounded at the end of each plan so cross-engine float summation order
  * can't flip the hash compare.
  */
object SparkEntry {

  /** The flagship query on the sf0.001 testdata; a smoke check wants rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    BatchRelational.q1Agg(spark, "/root/testdata/sf0.001")

  /** Every query, each declared once in the module that holds its oracle. */
  lazy val catalog: Seq[Query] = assemble(
    BatchRelational.queries, ScalarFuncs.queries, AsyncMap.queries, Descriptors.queries,
    Unified.queries, LlmOracles.queries, WindowOracles.queries, Bpe.queries,
    StreamQueries.queries, Formats.queries, Udafs.queries, Graph.queries,
    Graph.starQueries, SqlSurface.queries, ScaleOps.queries, Pipeline.queries,
    TpcDsSurface.queries, MatchRecognizeSql.queries, GroupWindowSql.queries,
    DdlSql.queries, HiveCatalog.queries, TpcdsReal.queries, TxFileSink.queries,
    JdbcDemo.queries, CdcFormats.queries, StateRead.queries, StatementSets.queries,
    CdcStream.queries, MlPipeline.queries, SystemTimeSql.queries, Similarity.queries,
    GraphGens.queries, StreamIterate.queries, Sketches.queries, Layout.queries,
    DataQuality.queries, StateBootstrap.queries, MultisetOps.queries,
    StreamDedup.queries, TypeLattice.queries, Retrieval.queries)

  /** Each builder sizes Spark's codegen cache before it plans
    * ([[GraftSession.sizeCodegenCache]]), whatever built the session. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map { q =>
      q.name -> { (s: SparkSession, dir: String) =>
        GraftSession.sizeCodegenCache()
        q.build(s, dir)
      }
    }.toMap

  lazy val oracleSql: Map[String, String] = catalog.map(q => q.name -> q.oracle).toMap

  /** Concatenates module lists; a name declared twice is an error. */
  private[graft] def assemble(modules: Seq[Query]*): Seq[Query] = {
    val all = modules.flatten
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"queries declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }
}
