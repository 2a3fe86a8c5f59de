package graft

import graft.queries.{QueryDef, RelationalQueries, StreamingQueries, TextQueries, TraceQueries, VectorQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Full coverage inventory (SURVEY.md §2). */
  val allDefs: Map[String, QueryDef] =
    RelationalQueries.defs ++ TraceQueries.defs ++ TextQueries.defs ++
      VectorQueries.defs ++ StreamingQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    allDefs("q1_agg").fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map { case (name, d) => name -> d.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (per-trace tree transforms, LSH internals) — those carry ScalaTest
    * oracles instead. */
  def oracleSql: Map[String, String] =
    allDefs.collect { case (name, QueryDef(_, Some(sql))) => name -> sql }
}
