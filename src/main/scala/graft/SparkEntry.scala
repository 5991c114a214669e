package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is assembled from per-module registries (one GraftQuery per
  * operator in SURVEY.md §2 plus the scale extensions); `oracleSql` carries
  * the DuckDB-equivalent SQL for every SQL-expressible query.
  */
object SparkEntry {

  /** All registered queries, in registration order. Names must be unique. */
  def registry: Seq[GraftQuery] =
    analytics.StarQueries.all ++ analytics.DocQueries.all ++
      analytics.FuncQueries.all ++ analytics.ExtendedQueries.all ++
      analytics.BucketedQueries.all ++ analytics.TpchQueries.all ++
      analytics.PipelineQueries.all ++ analytics.TimeSeriesQueries.all ++
      analytics.WarehouseQueries.all ++ analytics.FunnelQueries.all ++
      analytics.SourceQueries.all ++ analytics.MiningQueries.all ++
      analytics.CorpusStatsQueries.all ++ analytics.PlanningQueries.all ++
      analytics.RankStatQueries.all ++ analytics.SelectionQueries.all

  /** The registered queries named in `csv` (comma-separated, entries
    * trimmed, blanks dropped), in registration order — the
    * SPARK_GRAFT_ONLY filter of Bench and Verify and Explain's argument.
    * An unknown name or an empty list throws: either would otherwise
    * select nothing and a run would pass vacuously. */
  def select(csv: String): Seq[GraftQuery] = {
    val names = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- registry.map(_.name)
    require(names.nonEmpty, s"no query names in '$csv'")
    require(unknown.isEmpty,
      s"names not in the registry: ${unknown.toSeq.sorted.mkString(", ")}")
    registry.filter(q => names.contains(q.name))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Top-10 customers by revenue: scan → broadcast dim joins → grouped
    * decimal aggregate → window rank → top-k, one plan. */
  def entry(spark: SparkSession): DataFrame =
    analytics.StarQueries.qTopCustomers.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
