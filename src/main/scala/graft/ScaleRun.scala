package graft

import java.util.Locale
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.GraftSparkShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The scale harness behind SURVEY §5's 100 TB claims. Those claims are
  * about shape (a plan that stays constant across rounds, a fold that
  * costs O(|delta|), candidates linear in n), and shape can be counted
  * exactly: [[counted]] reads jobs, tasks, shuffle bytes, input bytes and
  * plan length off Spark's listener bus. `ScaleShapeSpec` asserts the
  * claims from those counts at two sizes; [[main]] prints the same
  * counts plus wall seconds, one JSON line per (scenario, size).
  *
  * Every input is synthetic (spark.range + hash arithmetic), so it is
  * deterministic, partition-independent and grows with one size knob.
  *
  * Usage: runMain graft.ScaleRun <scenario> <size>...
  */
object ScaleRun {

  /** What one body cost, and what it returned. `planLen` is the length
    * of the returned frame's executed plan (0 for anything else). */
  final case class Counts[A](value: A, jobs: Int, tasks: Int, shuffleBytes: Long,
      inputBytes: Long, planLen: Int, wallSec: Double)

  /** Run `body` and count the Spark work it submits. The listener bus is
    * drained before the counter is attached and before it is read:
    * events arrive asynchronously, and an undrained bus would bleed the
    * previous body's events in or drop this body's last ones. */
  def counted[A](spark: SparkSession)(body: => A): Counts[A] = {
    val sc = spark.sparkContext
    val (jobs, tasks) = (new AtomicInteger, new AtomicInteger)
    val (shuffle, input) = (new AtomicLong, new AtomicLong)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(t.taskMetrics).foreach { m =>
          shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          input.addAndGet(m.inputMetrics.bytesRead)
        }
      }
    }
    GraftSparkShims.drainListenerBus(sc)
    sc.addSparkListener(listener)
    val t0 = System.nanoTime()
    val (value, wall) = try {
      val v = body
      val w = (System.nanoTime() - t0) / 1e9
      GraftSparkShims.drainListenerBus(sc)
      (v, w)
    } finally sc.removeSparkListener(listener)
    Counts(value, jobs.get, tasks.get, shuffle.get, input.get, planLen(value), wall)
  }

  /** Parquet's vectored reads bypass the Hadoop stream statistics that
    * Spark's input bytes come from, so with them on a scan counts only
    * its footers. Set this to "false" where input bytes must be exact. */
  val vectoredIo = "parquet.hadoop.vectored.io.enabled"

  /** Executed-plan length with expression and plan ids stripped: ids
    * grow through a session, so their digit count would differ between
    * two equal plans built at different times. */
  def planLen(value: Any): Int = value match {
    case ds: Dataset[_] =>
      ds.queryExecution.executedPlan.toString.replaceAll("#\\d+|plan_id=\\d+", "").length
    case _ => 0
  }

  /** A deterministic value in [-1, 1) per `seed`. */
  private def unit(seed: Column): Column =
    pmod(xxhash64(seed), lit(1000)).cast("double") / 500.0 - 1.0

  // ---- generators ---------------------------------------------------

  /** `n` hash-endpoint edges over n/10 long node ids, plus a planted
    * hub: with `hub`, n/100 more edges point at node 0 (the power-law
    * skew the salted paths and the triangle orientation exist for). */
  def edges(spark: SparkSession, n: Long, hub: Boolean = true): DataFrame = {
    val nodes = math.max(n / 10, 10L)
    val bg = spark.range(n).select(pmod(xxhash64(col("id")), lit(nodes)).as("src"),
      pmod(xxhash64(col("id") + n), lit(nodes)).as("dst"))
    val planted = spark.range(if (hub) n / 100 else 0L)
      .select(pmod(xxhash64(col("id") - n), lit(nodes)).as("src"), lit(0L).as("dst"))
    bg.unionByName(planted).filter(col("src") =!= col("dst"))
  }

  /** `r` disjoint copies of a long-id edge frame. */
  def copies(edges: DataFrame, r: Int): DataFrame =
    edges.crossJoin(edges.sparkSession.range(r)).select(
      (col("src") * r + col("id")).as("src"), (col("dst") * r + col("id")).as("dst"))

  /** About `n` edges as disjoint paths of `len` nodes. Min-label
    * propagation needs exactly len − 1 rounds on it, whatever n is. */
  def chains(spark: SparkSession, n: Long, len: Int): DataFrame =
    spark.range(n / (len - 1) * len).filter(col("id") % len =!= len - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))

  /** `n` documents of 30 tokens from a 500-word vocabulary, ids from
    * `from`. With `replicas` > 1 each base text appears that many times,
    * each copy tagged with one extra token: ~0.94-Jaccard near-dup
    * families of exactly `replicas` members. */
  def docs(spark: SparkSession, n: Long, from: Long = 0L, replicas: Int = 1): DataFrame = {
    val base = floor(col("id") / replicas)
    spark.range(n * replicas).select((lit(from) + col("id")).as("doc_id"),
      concat_ws(" ", (0 until 30).map(j =>
        pmod(xxhash64(base * 31 + j * 1315423911L + from), lit(500)).cast("string")) :+
        concat(lit("tag"), col("id") % replicas): _*).as("text"))
  }

  /** `n` 16-dim float vectors, ids from `from`. */
  def vecs(spark: SparkSession, n: Long, from: Long): DataFrame =
    spark.range(n).select((lit(from) + col("id")).as("vec_id"),
      transform(sequence(lit(0), lit(15)), i =>
        unit(col("id") + lit(from) + i * 7919).cast("float")).as("embedding"))

  /** Planted geometry: `n` 16-dim vectors around n/100 hash-derived
    * centers (span ±2.5, noise ±0.3), so cells keep ~100 members as n
    * grows: the production scaling of an IVF index with kCoarse ∝ n. */
  def planted(spark: SparkSession, n: Long): DataFrame = {
    val centers = math.max(2L, n / 100)
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)), i =>
        (unit(pmod(col("id"), lit(centers)) * 16 + i) * 2.5 +
          unit(col("id") * 16 + i + lit(1000000007L)) * 0.3).cast("float")).as("embedding"))
  }

  /** One incremental-state surface: `start` builds the base, `fold(b)`
    * appends batch b ≥ 1, `compact` runs every [[cadence]] batches, and
    * `read` is the state read whose plan must not grow. Each batch
    * brings fresh keys or ids, so the state grows with the batch index:
    * a fold that read the state would grow with it. */
  final case class Surface(name: String, start: SparkSession => Unit,
      fold: (SparkSession, Long) => Unit, compact: SparkSession => Unit,
      read: SparkSession => DataFrame)
  val cadence = 4

  /** 2,000 readings in [0, 100) over ~860 keys of this batch's own key
    * range (keys advance with time, as dates do). */
  private def aggDelta(spark: SparkSession, b: Long): DataFrame =
    spark.range(2000).select(
      (lit(b * 1000) + pmod(xxhash64(col("id") + b * 2000), lit(1000))).as("k"),
      (pmod(xxhash64(col("id") + b * 2000 + 7), lit(1000000)) / 10000.0).as("v"))

  /** Edges inside one window of 100 families of ≤ 32 members; windows
    * rotate, so later batches merge into earlier components. */
  private def ccDelta(spark: SparkSession, b: Long): DataFrame = {
    val fam = pmod(xxhash64(col("id") + b * 1000), lit(100)) + (b % 8) * 100
    spark.range(1000).select(
      (fam * 32 + pmod(xxhash64(col("id") + b * 1000 + 1), lit(32))).as("a"),
      (fam * 32 + pmod(xxhash64(col("id") + b * 1000 + 7), lit(32))).as("b"))
      .filter(col("a") =!= col("b"))
  }

  val surfaces: Seq[Surface] = Seq(
    Surface("agg",
      s => etl.IncrementalAgg.writeState(aggDelta(s, 0), Seq("k"), "v", "scale_agg", batchId = 0),
      (s, b) => etl.IncrementalAgg.appendDelta(aggDelta(s, b), Seq("k"), "v", "scale_agg", b),
      s => etl.IncrementalAgg.compact(s, "scale_agg"),
      s => etl.IncrementalAgg.read(s, "scale_agg")),
    Surface("dedup",
      s => dedup.IncrementalDedup.writeIndex(docs(s, 400), "doc_id", "text", "scale_dedup"),
      (s, b) => dedup.IncrementalDedup.appendToIndex(docs(s, 400, b * 400), "doc_id", "text",
        "scale_dedup"),
      s => dedup.IncrementalDedup.compactIndex(s, "scale_dedup"),
      s => s.table("scale_dedup_sets")),
    Surface("cc",
      s => operators.IncrementalCC.writeLabels(ccDelta(s, 0), "a", "b", "scale_cc"),
      (s, b) => { operators.IncrementalCC.mergeEdges(s, ccDelta(s, b), "a", "b", "scale_cc").count(); () },
      s => operators.IncrementalCC.compactLabels(s, "scale_cc"),
      s => operators.IncrementalCC.readLabels(s, "scale_cc")),
    Surface("ann",
      s => sim.IncrementalAnn.writeIndex(vecs(s, 2000, 0), "vec_id", "embedding", "scale_ann",
        kCoarse = 8, iters = 3, buckets = 4),
      (s, b) => sim.IncrementalAnn.appendVectors(vecs(s, 2000, b * 2000), "vec_id", "embedding",
        "scale_ann"),
      s => sim.IncrementalAnn.compactCells(s, "scale_ann"),
      s => s.table("scale_ann_cells")))

  /** Start `s` and fold batches 1 to `upTo`, compacting on the cadence. */
  def foldUpTo(spark: SparkSession, s: Surface, upTo: Long): Unit = {
    s.start(spark)
    for (b <- 1L to upTo) {
      s.fold(spark, b)
      if (b % cadence == 0) s.compact(spark)
    }
  }

  // ---- scenarios ----------------------------------------------------

  /** A scenario: given the session and a size, prepare the inputs and
    * return the body that [[main]] counts. */
  type Scenario = (SparkSession, Long) => () => Any
  private def scenario(f: Scenario): Scenario = f

  /** Size is edges for the graph loops, docs, vectors or stations for
    * the others, and the batch whose fold is counted for a surface
    * (the batches before it are folded first, outside the count). */
  val scenarios: Map[String, Scenario] = Map(
    "pagerank" -> scenario { (s, n) =>
      val e = edges(s, n); () => operators.PageRank.run(e, "src", "dst", iters = 5) },
    "hits" -> scenario { (s, n) =>
      val e = edges(s, n); () => operators.Hits.run(e, "src", "dst", iters = 5) },
    "labelprop" -> scenario { (s, n) =>
      val e = edges(s, n); () => operators.LabelProp.run(e, "src", "dst", rounds = 5) },
    "conncomp" -> scenario { (s, n) =>
      val e = chains(s, n, 6); () => operators.ConnectedComponents.minLabel(e, "src", "dst") },
    "triangles" -> scenario { (s, n) =>
      val e = edges(s, n); () => operators.Triangles.census(e, "src", "dst").collect() },
    "minhash" -> scenario { (s, n) =>
      val d = docs(s, n, replicas = 2)
      () => dedup.MinHashLsh.similarPairs(d, "doc_id", "text", n = 3, minJaccard = 0.8) },
    "cand" -> scenario { (s, n) =>
      val v = planted(s, n)
      () => sim.Candidates.ivfSelfPairs(v, "vec_id", "embedding",
        kCoarse = (n / 100).toInt, nprobe = 2, iters = 3).count() },
    "pipeline" -> scenario { (s, n) =>
      val raw = etl.Synth.airQuality(s, n.toInt, 24 * 7)
      val out = java.nio.file.Files.createTempDirectory("graft_scale").toString
      () => etl.AirQualityPipeline.dailySummary(etl.AirQualityPipeline.landThenRead(
        s, etl.AirQualityPipeline.transform(raw), out)).collect() }
  ) ++ surfaces.map { sf =>
    s"${sf.name}_fold" -> scenario { (s, n) => foldUpTo(s, sf, n - 1); () => sf.fold(s, n) }
  }

  private def fmt(x: Double): String = "%.3f".formatLocal(Locale.ROOT, x)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && scenarios.contains(args(0)),
      s"usage: ScaleRun <scenario> <size>...; scenarios: ${scenarios.keys.toSeq.sorted.mkString(", ")}")
    val spark = Sessions.local("*")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set(vectoredIo, "false")
    for (n <- args.tail.map(_.toLong)) {
      val before = Blocks.persistedIds(spark)
      val body = scenarios(args(0))(spark, n)
      val c = counted(spark)(body())
      println(s"""{"scenario":"${args(0)}","size":$n,"wall_s":${fmt(c.wallSec)},""" +
        s""""jobs":${c.jobs},"tasks":${c.tasks},"shuffle_bytes":${c.shuffleBytes},""" +
        s""""input_bytes":${c.inputBytes},"plan_len":${c.planLen}}""")
      Blocks.hardReset(spark, before)
    }
    spark.stop()
  }
}
