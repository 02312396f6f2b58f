package perfbench

import graft.{Sessions, SparkEntry}

/** Writes the fixed inputs of graph_knn to `dir` and the oracle SQL of
  * its calls to `out` as {call: {query, sql}}, for `oracle_check.py` to
  * run in DuckDB.
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val Array(dir, out) = args
    val spark = Sessions.local("4")
    spark.sparkContext.setLogLevel("ERROR")
    val workload = new Workloads.GraphKnn(Map.empty)
    workload.stage(spark, dir)
    // the truth call is q37's brute-force top-k over every vector at k = K
    val q37 = SparkEntry.oracleSql("q37_cosine_topk")
    val truth = q37.replace("q.vec_id < 10 AND ", "").replace("rank <= 5", s"rank <= ${workload.K}")
    require(truth.count(_ == '<') == q37.count(_ == '<') - 1, "q37's oracle SQL changed shape")
    val sql = workload.queries.map { case (call, q) =>
      call -> Map("query" -> q, "sql" -> SparkEntry.oracleSql(q))
    }.toMap + ("sim.truth" -> Map("query" -> s"q37_cosine_topk, all queries, k=${workload.K}", "sql" -> truth))
    Json.write(out, sql)
    spark.stop()
  }
}
