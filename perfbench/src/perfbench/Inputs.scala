package perfbench

import org.apache.spark.sql.{SaveMode, SparkSession}

/** Fixed inputs for the catalog workloads, written as
  * `<dir>/<table>.parquet` in the layout `graft.Tables` reads.
  *
  * They are generated with the shapes of the sf testdata the catalog was
  * written against (TPC-H keys for the trade graph; unit-norm Gaussian
  * 64-d vectors with a random 0-9 label for the embeddings) but smaller,
  * so that a run fits the benchmark's time budget. Only the columns the
  * benchmarked queries and their oracle SQL read are written. The seed is
  * fixed: these workloads compare against stored fingerprints, which a
  * per-run seed would invalidate.
  */
object Inputs {
  val Seed = 42L

  /** Trade graph: `customers` customers over 25 nations, 10 orders each
    * placed by a random customer, 1-7 line items per order each bought
    * from one of `suppliers` suppliers.
    */
  def tradeGraph(spark: SparkSession, dir: String, customers: Int, suppliers: Int): Long = {
    import spark.implicits._
    val rnd = new scala.util.Random(Seed)
    val customer = (1 to customers).map(c => (c.toLong, rnd.nextInt(25)))
    val orders = (1 to customers * 10).map(o => (o.toLong, 1L + rnd.nextInt(customers)))
    val lineitem = orders.flatMap { case (o, _) =>
      (1 to 1 + rnd.nextInt(7)).map(l => (o, l, 1L + rnd.nextInt(suppliers)))
    }
    write(customer.toDF("c_custkey", "c_nationkey"), dir, "customer")
    write(orders.toDF("o_orderkey", "o_custkey"), dir, "orders")
    write(lineitem.toDF("l_orderkey", "l_linenumber", "l_suppkey"), dir, "lineitem")
    orders.size.toLong + lineitem.size
  }

  /** `n` unit-norm vectors of `dim` Gaussian components (float32). */
  def embeddings(spark: SparkSession, dir: String, n: Int, dim: Int): Long = {
    import spark.implicits._
    val rnd = new scala.util.Random(Seed)
    val rows = (0 until n).map { i =>
      val v = Array.fill(dim)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
    }
    write(rows.toDF("vec_id", "embedding", "label"), dir, "embeddings")
    n.toLong
  }

  private def write(df: org.apache.spark.sql.DataFrame, dir: String, table: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/$table.parquet")
}
