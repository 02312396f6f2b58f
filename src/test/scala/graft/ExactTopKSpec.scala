package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, BroadcastQueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** [[sim.Similarity.bruteForceTopK]]'s scoring kernel
  * ([[plans.ExactTopKExec]]) must return exactly the rows of the
  * broadcast nested-loop join + `row_number` window it replaced, down to
  * the raw bits of every score — on corpora built to break it.
  */
class ExactTopKSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  /** The window form: every (query, corpus) pair a row, scored by the
    * Catalyst expression, ranked by a window. */
  private def windowTwin(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, simDigits: Int = 4): DataFrame = {
    import sim.Similarity.{dot, norm}
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", functions.roundStable(
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), simDigits))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Rows as (query, neighbor, raw score bits or None, rank), sorted. */
  private def bits(df: DataFrame): Seq[(Long, Long, Option[Long], Long)] =
    df.collect().toSeq.map { r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2))),
        r.getLong(3))
    }.sorted

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", on.toString)
    try body finally spark.conf.set("spark.sql.ansi.enabled", before)
  }

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = true),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = true)))

  /** Exact ties (1 vs 2, the duplicated 4), duplicate ids with other
    * vectors (5), ragged lengths (6, 7), NaN and ±Inf elements (8–10),
    * a NULL vector (11), NULL ids, plus random vectors with coarse
    * elements so that rounded scores tie — scanned as 8 partitions. */
  private def adversarial(extra: Seq[(Option[Long], Array[Float])] = Nil): DataFrame = {
    val NaN = Float.NaN
    val Inf = Float.PositiveInfinity
    val rnd = new scala.util.Random(7)
    val hand: Seq[(Option[Long], Array[Float])] = Seq(
      (Some(1L), Array(1f, 0f)), (Some(2L), Array(2f, 0f)), (Some(3L), Array(0f, 1f)),
      (Some(4L), Array(1f, 1f)), (Some(4L), Array(1f, 1f)),
      (Some(5L), Array(1f, 2f)), (Some(5L), Array(-1f, 0.5f)),
      (Some(6L), Array(1f, 0f, 5f)), (Some(7L), Array(3f)),
      (Some(8L), Array(NaN, 1f)), (Some(9L), Array(Inf, 1f)), (Some(10L), Array(-Inf, 0f)),
      (Some(11L), null), (None, Array(1f, 0f)), (None, Array(0f, 1f)),
      (Some(12L), Array(0.1f, 0.2f, 0.3f)))
    val random = (13L until 60L).map(i =>
      (Some(i), Array.fill(1 + rnd.nextInt(4))((rnd.nextInt(5) - 2).toFloat + 0.5f)))
    val rows = (hand ++ random ++ extra).map { case (id, v) =>
      Row(id.map(Long.box).orNull, if (v == null) null else v.toSeq)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), vecSchema)
  }

  /** A double-typed query side: the corpus ids below, and a NULL id. */
  private def doubleQueries(corpus: DataFrame): DataFrame =
    corpus.filter(col("vec_id").isin(1L, 4L, 5L, 6L, 7L, 8L, 9L, 11L, 20L) ||
        col("vec_id").isNull)
      .withColumn("embedding", col("embedding").cast("array<double>"))

  private def assertParity(corpus: DataFrame, queries: DataFrame, k: Int): Unit = {
    val got = bits(sim.Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k))
    val want = bits(windowTwin(corpus, queries, "vec_id", "embedding", k))
    assert(got == want, s"k = $k: kernel and window disagree")
  }

  test("kernel matches the window twin bit for bit on an adversarial corpus") {
    val corpus = adversarial()
    assert(corpus.rdd.getNumPartitions >= 8)
    val queries = doubleQueries(corpus)
    for (k <- Seq(1, 3, 50)) assertParity(corpus, queries, k) // 50 > |corpus| per query
    // NULL scores are ranked last, and NaN/Inf pairs score 0.0, not NaN
    val all = sim.Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 100)
    val q1 = all.filter(col("query_id") === 1L).orderBy("rank").collect()
    assert(q1.last.isNullAt(2) && q1.last.getLong(1) == 11L, q1.mkString(","))
    assert(all.filter(col("query_id") === 9L).collect().forall(r => r.isNullAt(2) || r.getDouble(2) == 0.0))
    // self pairs and NULL ids never score
    assert(all.filter(col("query_id") === col("neighbor_id") || col("neighbor_id").isNull).isEmpty)
    // a float query side over the same corpus
    assertParity(corpus, corpus.filter(col("vec_id") < 30L), 5)
  }

  test("an empty query side yields no rows") {
    val corpus = adversarial()
    val none = corpus.filter(lit(false))
    assert(sim.Similarity.bruteForceTopK(corpus, none, "vec_id", "embedding", 5).isEmpty)
    assert(windowTwin(corpus, none, "vec_id", "embedding", 5).isEmpty)
  }

  test("zero-norm vectors: DIVIDE_BY_ZERO under ANSI, a NULL score without it") {
    val zeros = Seq((Some(70L), Array(0f, 0f)), (Some(71L), Array.empty[Float]))
    def divideByZero(body: => Any): Boolean = {
      val e = intercept[Throwable](body)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists {
        case t: org.apache.spark.SparkThrowable => t.getCondition == "DIVIDE_BY_ZERO"
        case _ => false
      }
    }
    withAnsi(on = true) {
      val corpus = adversarial(zeros)
      val queries = doubleQueries(corpus)
      assert(divideByZero(sim.Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 3).collect()))
      assert(divideByZero(windowTwin(corpus, queries, "vec_id", "embedding", 3).collect()))
    }
    withAnsi(on = false) {
      val corpus = adversarial(zeros)
      val queries = doubleQueries(corpus).union(corpus.filter(col("vec_id") >= 70L)
        .withColumn("embedding", col("embedding").cast("array<double>")))
      for (k <- Seq(3, 100)) assertParity(corpus, queries, k)
      val nulls = sim.Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 100)
        .filter(col("neighbor_id") === 70L && col("cosine").isNull)
      assert(!nulls.isEmpty, "a zero-norm neighbor scores NULL")
    }
  }

  test("kernel matches the window twin on the embeddings table, queries broadcast") {
    val emb = Tables.embeddings(spark, sfDir)
    for (k <- Seq(1, 10)) {
      val queries = emb.filter(col("vec_id") % 7 === 0)
      assertParity(emb, queries, k)
    }
  }

  test("building bruteForceTopK submits no job; its plan scores in the kernel") {
    val emb = Tables.embeddings(spark, sfDir)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val df = try {
      val out = sim.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
      out.queryExecution.executedPlan // planning, too, runs nothing
      org.apache.spark.ListenerBusDrain(sc)
      out
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0, s"${jobs.get} jobs while building")

    val rows = df.collect()
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty, s"$plan")
    val kernels = collect(plan) { case e: plans.ExactTopKExec => e }
    assert(kernels.size == 1, s"$plan")
    assert(kernels.head.queries match {
      case _: BroadcastQueryStageExec | _: BroadcastExchangeExec => true
      case _ => false
    }, s"query side must be a broadcast:\n$plan")
    // every (query, other corpus row) pair scored once
    val n = emb.count()
    assert(kernels.head.metrics("numPairs").value == 10 * (n - 1))
    assert(rows.length == 10 * 5)
  }
}
