package graft

import graft.config.DefaultConfig
import graft.operators.{EventAggregates, Grants}
import graft.queries._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are contributed by the modules under `graft.queries`; each Q
  * carries its Spark plan and (when SQL-expressible) its DuckDB oracle.
  */
object SparkEntry {

  private val modules: Seq[QueryModule] = Seq(
    EventQueries,
    RelationalQueries,
    TextQueries,
    PackingQueries,
    EmbeddingQueries,
    MultimodalQueries,
    QualityQueries,
    LmQueries,
    AnalyticsQueries,
    LinkageQueries
  )

  private lazy val registry: Seq[Q] = {
    val qs = modules.flatMap(_.all)
    val dups = qs.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(",")}")
    qs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The engine's spine end-to-end: events → per-user aggregates →
    * rules/features → long-form grants view (SURVEY.md §7.2). */
  def entry(spark: SparkSession): DataFrame =
    Grants.long(
      EventAggregates.perUser(
        Tables.events(spark, "/root/testdata/sf0.001"),
        DefaultConfig.config.aggregates),
      DefaultConfig.config)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The warmed session memos across all modules, in module and
    * declaration order (bench warm-up phase): each thunk forces one
    * memo to its steady serving state, so the first-touch build is
    * billed to its own `memo_builds` row instead of whichever query
    * runs first. Names are stable artifact keys. */
  def memoWarmers: Seq[(String, (SparkSession, String) => Unit)] =
    modules.flatMap(_.memos).filter(_.warmed).map(m => m.name -> (m.force(_, _)))
}
