package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query of the catalog: its name, the builder of its DataFrame over a
  * testdata dir, and the DuckDB SQL of its expected answer over the same
  * parquet tables. Each query is declared once, as a `Query` in the module
  * that holds its oracle; [[SparkEntry.catalog]] joins the module lists. */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
                       oracle: String)

object Query {

  /** The oracle of `name` in `qs`, for a twin that shares its answer. */
  def oracleOf(qs: Seq[Query], name: String): String =
    qs.find(_.name == name).getOrElse(throw new NoSuchElementException(name)).oracle
}
