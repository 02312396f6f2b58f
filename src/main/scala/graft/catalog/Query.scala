package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: the Spark build function, run as `build(spark, sfDir)`,
  * and the DuckDB SQL that checks its result over the same tables.
  *
  * Conventions shared by every (query, oracle) pair so the result-hash
  * compare against DuckDB (`tools/check_oracle.py`) is stable:
  *   - doubles rounded (4dp for many-row sums/avgs, 6dp for per-row math),
  *   - explicit ORDER BY on a unique key in BOTH engines,
  *   - BIGINT for all integral outputs,
  *   - weekday pinned to Monday=0 (Spark `weekday` == DuckDB `isodow-1`),
  *   - UTC session timezone.
  */
private[graft] final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

private[graft] object Query {

  /** Index records by name. A repeated name is refused: turning the list
    * into a map would otherwise keep the last record and silently drop
    * the others.
    */
  def byName(records: Seq[Query]): Map[String, Query] = {
    val dups = records.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate catalog query names: ${dups.toSeq.sorted.mkString(", ")}")
    records.map(q => q.name -> q).toMap
  }
}
