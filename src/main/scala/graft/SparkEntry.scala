package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The engine is organized as [[graft.queries.QueryModule]]s; this object
  * is the thin union the driver harness consumes.
  */
object SparkEntry {

  private[graft] val modules: Seq[QueryModule] = Seq(
    KernelQueries,
    RelationalQueries,
    EventsQueries,
    TextQueries,
    DedupQueries,
    PipelineQueries,
    TableQueries,
    EmbeddingQueries,
    MultimodalQueries,
    AdvancedQueries,
    TpchQueries
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the course sample workload (word count) through the faithful
    * MapReduce kernel — source read, typed flatMap, shuffle, grouped
    * reduce, all in one plan (SURVEY.md §7.2). */
  def entry(spark: SparkSession): DataFrame =
    queries("mr_wordcount")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracles).toMap
}
