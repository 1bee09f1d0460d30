package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Registry, Relational}

/** Engine entry points — see SURVEY.md §7.
  * All queries live in `graft.queries.*` as [[QueryDef]]s; this object
  * just flattens the registry into the driver's two maps.
  */
object SparkEntry {

  /** Full query registry (name, runner, optional oracle). */
  def registry: Seq[QueryDef] = Registry.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
