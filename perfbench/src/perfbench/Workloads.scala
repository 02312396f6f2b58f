package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{SparkEntry, Tables}
import graft.etl.{Aggregates, AirQualityPipeline, Synth}
import graft.sources.Io

/** One timed call into a layer. `body` returns either a DataFrame, whose
  * full result the harness collects inside the timed window (every
  * column, every row, the final sort), or a value the call computed
  * eagerly.
  */
final case class Call(name: String, body: () => Any)

/** An output check. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A named workload: inputs staged once per set-up, a fixed sequence of
  * calls per pass, and the checks of what a pass produced.
  */
trait Workload {
  /** Input rows one pass reads, the base of `rows_per_s`. */
  def inputRows: Long
  /** Names of the calls one pass makes, in order; the run fails when
    * `calls` makes others.
    */
  def callNames: Seq[String]
  /** Per-layer metrics of this workload beyond the per-call ones. */
  def layerMetrics: Seq[String]
  /** Whether every pass starts with an empty generated-code cache, so
    * that it compiles all of its generated classes, as a first pass does.
    */
  def coldCodegen: Boolean = false
  def stage(spark: SparkSession, dir: String): Unit
  def calls(spark: SparkSession, stageDir: String, passDir: String): Seq[Call]
  /** Kept fingerprints every call result must match; without them each
    * call must repeat its first pass's fingerprint in every pass.
    */
  def expected: Option[Map[String, String]] = None
  /** Checks of the last pass, whose outputs are under `passDir` and whose
    * collected results are `results`.
    */
  def check(spark: SparkSession, passDir: String, results: Map[String, (Array[Row], DataFrame)]): Seq[Check]
}

object Workloads {
  val names = Seq("aq_pipeline", "graph_knn")

  /** The per-call metrics of a call, as the traced run reports them. */
  val callSuffixes = Seq("s", "jobs", "tasks", "shuffle_mb", "plan_ms")

  /** Every per-layer metric name a workload reports from its own calls. */
  def layerNames(w: Workload): Seq[String] =
    w.callNames.flatMap(c => callSuffixes.map(x => s"$c.$x")) ++ w.layerMetrics

  def apply(name: String, seed: Long, expected: Map[String, String]): Workload = name match {
    case "aq_pipeline" => new AqPipeline(seed)
    case "graph_knn" => new GraphKnn(expected)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; expected one of ${names.mkString(", ")}")
  }

  /** The product path and its read side, one pass = one daily run:
    * extract → transform → land (one call: the transform is computed
    * only as it is landed, as `AirQualityPipeline.run` does) → daily
    * summary (csv + parquet) → validate, then the dashboard's analyses
    * over the parquet just landed. `--seed` seeds the synthetic sensor
    * data.
    */
  final class AqPipeline(seed: Long) extends Workload {
    /** 320 stations × 3 days of hourly readings: the stations of the
      * reference run over 3 days instead of its 90, so that a run fits
      * the benchmark's time budget.
      */
    val Stations = 320
    val Days = 3
    val Hours: Int = Days * 24
    val inputRows: Long = Stations.toLong * Hours
    /** Daily-mean PM2.5 above which the dashboard counts a bad day (µg/m³). */
    val DayThreshold = 35.0

    val callNames = Seq("sources.land", "etl.daily", "etl.validate", "etl.rolling_mean",
      "etl.dow_quartiles", "etl.kpis", "etl.corr")
    val layerMetrics = Seq("sources.land.files", "sources.land.mb")

    private def raw(spark: SparkSession): DataFrame =
      Synth.airQuality(spark, Stations, Hours, seed = seed)

    def stage(spark: SparkSession, dir: String): Unit = ()

    def calls(spark: SparkSession, stageDir: String, passDir: String): Seq[Call] = {
      val out = s"$passDir/out"
      var landed: DataFrame = null
      Seq(
        Call("sources.land", () => {
          landed = AirQualityPipeline.landThenRead(spark, AirQualityPipeline.transform(raw(spark)), out)
        }),
        Call("etl.daily", () => {
          val daily = AirQualityPipeline.dailySummary(landed)
          Io.writeCsv(daily, s"$out/air_quality_daily_csv")
          Io.writeParquet(daily, s"$out/air_quality_daily")
        }),
        Call("etl.validate", () => AirQualityPipeline.validateOrFail(landed))) ++
        dashboard(spark, s"$out/air_quality_final")
    }

    /** The dashboard (dashboard_calidad_aire.py) over the landed parquet. */
    private def dashboard(spark: SparkSession, landedDir: String): Seq[Call] = {
      def landed = Io.readParquet(spark, landedDir)
      Seq(
        Call("etl.rolling_mean", () => Aggregates.rollingMeanCentered6(landed, "station",
          Seq("ts", "reading_id"), "pm25", "pm25_roll6").select("reading_id", "pm25_roll6")),
        Call("etl.dow_quartiles", () => Aggregates.dowQuartiles(landed, "ts", "pm25")),
        Call("etl.kpis", () => Aggregates.kpis(landed, "ts", "pm25", DayThreshold)),
        Call("etl.corr", () => Aggregates.corrMatrix(landed, AirQualityPipeline.numericCols)))
    }

    /** Row counts of every output. The dashboard results are written to
      * `dashboard.json` for `dashboard_check.py` to recompute in DuckDB.
      */
    def check(spark: SparkSession, passDir: String,
        results: Map[String, (Array[Row], DataFrame)]): Seq[Check] = {
      val out = s"$passDir/out"
      def count(what: String, got: Long, want: Long) = Check(what, got == want, s"$got rows, expected $want")
      val dump = results.map { case (name, (rows, df)) =>
        name -> rows.map(r => df.columns.zip(r.toSeq).toMap).toSeq
      }
      Json.write(s"$passDir/dashboard.json", dump)
      Seq(
        count("raw_rows", raw(spark).count(), inputRows),
        count("landed_rows", Io.readParquet(spark, s"$out/air_quality_final").count(), inputRows),
        count("daily_rows", Io.readParquet(spark, s"$out/air_quality_daily").count(), Stations * Days),
        count("daily_csv_rows", Io.readCsv(spark, s"$out/air_quality_daily_csv").count(), Stations * Days))
    }
  }

  /** Catalog queries from `SparkEntry.queries` and the exact kNN truth
    * over fixed inputs ([[Inputs]]): one iterative graph loop, the kNN
    * truth and one ANN index. Results compare with kept fingerprints.
    */
  final class GraphKnn(kept: Map[String, String]) extends Workload {
    override def expected: Option[Map[String, String]] = Some(kept)
    val Customers = 1500
    val Suppliers = 100
    val Vectors = 2000
    val Dim = 64
    val K = 10
    private var graphRows = 0L
    def inputRows: Long = graphRows + Vectors
    /** Rounds of the graph loop in one pass (q170's four hops). */
    val LoopRounds = 4
    val queries = Seq(
      "operators.sssp" -> "q170_sssp",
      "sim.ivf" -> "q41_ivf_topk")
    val callNames = Seq(queries.head._1, "sim.truth") ++ queries.tail.map(_._1)
    val layerMetrics = Seq("operators.jobs_per_round", "sim.truth.pairs_scored", "sim.recall_ivf")
    /** A pass generates 96 classes and set-up 5, against the 100 that
      * Spark's generated-code cache holds in four segments of 25. The
      * cache keys hash with the identity of the class loader, so which
      * segments overflow, and so which classes a warm pass compiles
      * again, is drawn anew in every JVM: 0 to 62 per pass over 18 runs,
      * with `sim.truth` between 1.07 and 1.71 s. Emptying the cache
      * before each pass makes every pass compile all 96, as
      * `aq_pipeline`'s passes (about 165 classes, more than the cache
      * holds) do on their own.
      */
    override val coldCodegen = true

    def stage(spark: SparkSession, dir: String): Unit = {
      graphRows = Inputs.tradeGraph(spark, dir, Customers, Suppliers)
      Inputs.embeddings(spark, dir, Vectors, Dim)
    }

    def truth(spark: SparkSession, stageDir: String): DataFrame = {
      val emb = Tables.embeddings(spark, stageDir)
      graft.sim.Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", k = K)
    }

    def calls(spark: SparkSession, stageDir: String, passDir: String): Seq[Call] = {
      def query(n: String, q: String) = Call(n, () => SparkEntry.queries(q)(spark, stageDir))
      Seq(query(queries.head._1, queries.head._2), Call("sim.truth", () => truth(spark, stageDir))) ++
        queries.tail.map { case (n, q) => query(n, q) }
    }

    def check(spark: SparkSession, passDir: String,
        results: Map[String, (Array[Row], DataFrame)]): Seq[Check] = Nil

    /** Recall@5 of the IVF index (q41) for its ten query vectors: true
      * neighbours it returned / neighbours asked for, from one pass's
      * collected results of q41 and of the truth.
      */
    def recallIvf(results: Map[String, (Array[Row], DataFrame)]): Double = {
      def pairs(call: String) = results(call)._1.toSeq
        .filter(r => r.getAs[Long]("query_id") < 10 && r.getAs[Long]("rank") <= 5)
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      val truth = pairs("sim.truth")
      (pairs("sim.ivf") intersect truth).size.toDouble / truth.size
    }
  }
}
