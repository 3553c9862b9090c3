package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Modules contribute `QueryDef`s (DataFrame builder + optional DuckDB
  * oracle SQL); this object is just the aggregation point.
  */
object SparkEntry {

  private[graft] def registry: Seq[QueryDef] =
    graft.queries.Analytics.all ++ graft.queries.Coordination.all ++
      graft.queries.TextAnalysis.all ++ graft.queries.Dedup.all ++
      graft.queries.Similarity.all ++ graft.streaming.Streaming.all ++
      graft.queries.Multimodal.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val names = registry.map(_.name)
    require(names.distinct.size == names.size,
      s"duplicate query names would be silently dropped: ${
        names.diff(names.distinct).distinct.mkString(", ")}")
    registry.map(q => q.name -> q.fn).toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.collect { case QueryDef(n, _, Some(sql)) => n -> sql }.toMap
}
