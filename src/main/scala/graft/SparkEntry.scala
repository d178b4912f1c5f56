package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises one operator from SURVEY.md §2, expressed
  * over the driver testdata tables; `oracleSql` holds the DuckDB-equivalent
  * SQL. Column names are aliased identically on both sides (the driver's
  * compare sorts columns by name before hashing values).
  */
object SparkEntry {

  /** The smallest testdata scale, used for smoke checks and plan audits. */
  val SmokeSfDir = "/root/testdata/sf0.001"

  /** Flagship query on [[SmokeSfDir]]; the smoke check wants rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, SmokeSfDir)

  /** The one session builder every graft main and spec uses. `cores` sets
    * the shuffle partition count; the master URL is the caller's (each
    * main keeps its own env var and default). The codegen cache is raised
    * from its default 100 entries because a long-lived session running
    * hundreds of distinct operators (the gate suite, or an engine serving
    * index + search + maintenance verbs) would otherwise evict and
    * re-compile its generated classes on every pass; it caches code, never
    * data or results. [[org.apache.spark.sql.graftx.GraftExtensions]] only
    * registers SQL functions — it adds no optimizer rule, so plans are the
    * same with or without it.
    */
  def session(master: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .withExtensions(new org.apache.spark.sql.graftx.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map[String, (SparkSession, String) => DataFrame](
    // §2.1/§2.4 baseline: partial-agg groupBy (map-side combine, single shuffle).
    "q1_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("cnt")
        )
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    })
  ) ++ graft.queries.RelationalQueries.defs ++ graft.queries.SearchQueries.defs ++
    graft.queries.DedupQueries.defs ++ graft.queries.TextQueries.defs ++
    graft.queries.EngineQueries.defs ++ graft.queries.ChatQueries.defs ++
    graft.queries.IndexBenchQueries.defs ++ graft.queries.PipelineQueries.defs ++
    graft.queries.TemporalQueries.defs ++ graft.queries.MultimodalQueries.defs ++
    graft.queries.CorpusQueries.defs ++ graft.queries.AnalyticsQueries.defs

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |       count(*) AS cnt
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
  ) ++ graft.queries.RelationalQueries.oracles ++ graft.queries.SearchQueries.oracles ++
    graft.queries.DedupQueries.oracles ++ graft.queries.TextQueries.oracles ++
    graft.queries.EngineQueries.oracles ++ graft.queries.ChatQueries.oracles ++
    graft.queries.IndexBenchQueries.oracles ++
    graft.queries.PipelineQueries.oracles ++ graft.queries.TemporalQueries.oracles ++
    graft.queries.MultimodalQueries.oracles ++ graft.queries.CorpusQueries.oracles ++
    graft.queries.AnalyticsQueries.oracles
}
