package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog._
import graft.etl.{Aggregates, Clean, Features}

/** The query catalog and its DuckDB oracle, indexed by query name. Each
  * query is one [[catalog.Query]] record in its family's file under
  * `graft.catalog`; SURVEY.md §2 lists the operator each one implements.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Full reference pipeline shape: clean → features → daily summary.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val ev  = Clean.dedupExact(Tables.events(spark, dir),
      Seq("user_id", "event_type"), Seq("ts", "event_id"))
    val feat = Features.withTemporalFeatures(ev, "ts")
      .withColumn("aqi", Features.aqiPm25(col("value")))
    Aggregates.dailySummary(feat, "ts", "event_type", "aqi")
  }

  /** Every family's records; a name used twice fails at first use. */
  private lazy val catalog: Map[String, Query] = Query.byName(
    EtlPipelineQueries.queries ++ EtlStatsQueries.queries ++
      EtlAnalysisQueries.queries ++ RelationalQueries.queries ++
      TextQueries.queries ++ DedupStreamQueries.queries ++
      OperatorQueries.queries ++ SimQueries.queries)

  /** Build function per query name, called as `queries(name)(spark, sfDir)`. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map { case (name, q) => name -> q.build }

  /** Oracle SQL may use `roundStable(expr, d)` as shorthand; it expands to
    * the same `floor(x*10^d + 0.5)/10^d` the Spark side computes.
    */
  lazy val oracleSql: Map[String, String] =
    catalog.map { case (name, q) => name -> graft.functions.expandRoundStable(q.oracle) }
}
