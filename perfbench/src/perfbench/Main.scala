package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try, Using}

import org.apache.spark.{BusDrain, CodegenCache}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Blocks, Sessions}

/** One benchmark run: set up, run the workload's calls in a closed loop
  * (one call at a time) for `--seconds`, check the outputs, and write the
  * run record. `run.py` builds this program, launches it and prints the
  * result line.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --work DIR --out RECORD.json --expected FINGERPRINTS.json
  * }}}
  *
  * With `--trace 1` every pass is traced (listeners attached) and the
  * per-layer metrics come from the steady ones. A traced run makes the
  * same passes as an untraced one, so the two runs' `pass_s` differ by
  * the tracing overhead.
  */
object Main {
  /** A run makes at least this many steady passes, however long they
    * take. Three, so that the median is not pulled by the first of them,
    * which still runs slow while the JIT settles.
    */
  val MinSteadyPasses = 3

  final case class CallRec(name: String, span: Int, secs: Double, ok: Boolean)
  final case class PassRec(index: Int, calls: Seq[CallRec], gcS: Double,
      jitS: Double, compiles: Long) {
    def secs: Double = calls.map(_.secs).sum
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainMs = System.currentTimeMillis
    val opts = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val expected = Json.readStrings(opts("expected"))
    val workload = Workloads(opts("workload"), opts("seed").toLong, expected)
    val run = new Run(opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", opts("work"), workload, jvmStartMs, mainMs)
    val record = run.execute()
    Json.write(opts("out"), record)
    sys.exit(0)
  }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as `statistics.quantiles` (inclusive). */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  private def jitS(): Double = {
    val b = ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported) b.getTotalCompilationTime / 1e3 else 0.0
  }

  private def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  private def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  /** Files and megabytes under a directory (Spark's marker files aside). */
  def dirStats(dir: String): (Long, Double) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new File(dir)).filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    (files.size.toLong, files.map(_.length).sum / 1e6)
  }

  final class Run(name: String, seed: Long, seconds: Double, trace: Boolean, work: String,
      workload: Workload, jvmStartMs: Long, mainMs: Long) {
    private val ledger = new Ledger
    private var spark: SparkSession = _
    private var nextSpan = 1
    private var attempted = 0L
    private var failedCalls = 0L

    /** Time `body` as span `name` under `parent`; jobs it submits carry
      * the span's id as a local property.
      */
    private def timed[T](spanName: String, parent: Int)(body: => T): (Try[T], Span) = {
      val id = nextSpan
      nextSpan += 1
      val sc = Option(spark).map(_.sparkContext)
      val outer = sc.map(_.getLocalProperty(Ledger.SpanKey)).orNull
      sc.foreach(_.setLocalProperty(Ledger.SpanKey, id.toString))
      val startMs = System.currentTimeMillis
      val t0 = System.nanoTime
      val r = Try(body)
      val span = Span(id, spanName, parent, startMs, System.currentTimeMillis, System.nanoTime - t0)
      sc.foreach(_.setLocalProperty(Ledger.SpanKey, outer))
      ledger.synchronized(ledger.spans += span)
      (r, span)
    }

    private def firstLine(path: String): Try[String] =
      Using(scala.io.Source.fromFile(path))(_.getLines().next().trim)

    private def loadavg(): String = firstLine("/proc/loadavg").getOrElse("unavailable")

    /** (steal, total) jiffies of all CPUs from /proc/stat: time the
      * hypervisor gave to other machines is invisible to the process but
      * lengthens every wall-clock number.
      */
    private def cpuJiffies(): (Long, Long) = firstLine("/proc/stat").map { line =>
      val f = line.split("\\s+").tail.map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    }.getOrElse((0L, 0L))

    /** One trivial job, so the first timed pass does not also pay for
      * starting the engine's job machinery. No workload's plan runs here.
      */
    private def warmup(): Unit = spark.range(16).selectExpr("sum(id)").collect(): Unit

    def execute(): Map[String, Any] = {
      val loadStart = loadavg()
      new File(work).mkdirs()
      ledger.spans += Span(nextSpan, "setup.jvm", 0, jvmStartMs, mainMs, (mainMs - jvmStartMs) * 1000000L)
      nextSpan += 1
      val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
      val (_, sessionSpan) = timed("setup.session", 0) {
        spark = Sessions.local(cpus.toString)
      }
      spark.sparkContext.setLogLevel("ERROR")
      if (trace) {
        spark.sparkContext.addSparkListener(ledger)
        spark.listenerManager.register(ledger)
      }
      val (_, warmSpan) = timed("setup.warmup", 0)(warmup())
      val stageDir = s"$work/stage"
      val (staged, stageSpan) = timed("setup.stage", 0)(workload.stage(spark, stageDir))
      staged.get
      val setupS = (System.currentTimeMillis - jvmStartMs) / 1e3
      val setup = Map(
        "setup.jvm_s" -> (mainMs - jvmStartMs) / 1e3,
        "setup.session_s" -> sessionSpan.durNs / 1e9,
        "setup.warmup_s" -> warmSpan.durNs / 1e9,
        "setup.stage_s" -> stageSpan.durNs / 1e9)

      val passes = mutable.ArrayBuffer.empty[PassRec]
      val checks = mutable.ArrayBuffer.empty[Check]
      val fingerprints = mutable.LinkedHashMap.empty[String, String]
      var fingerprintChecks = 0L
      var lastResults = Map.empty[String, (Array[Row], DataFrame)]
      val cpu0 = cpuS()
      val jiffies0 = cpuJiffies()
      val window0 = System.nanoTime
      var steady0 = 0L
      def elapsed = (System.nanoTime - window0) / 1e9
      var previousDir: Option[String] = None
      while (passes.size < 1 + MinSteadyPasses || (System.nanoTime - steady0) / 1e9 < seconds) {
        val index = passes.size
        val passDir = s"$work/pass-$index"
        if (workload.coldCodegen) CodegenCache.clear()
        val gc0 = gcS()
        val jit0 = jitS()
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
        val results = mutable.LinkedHashMap.empty[String, (Array[Row], DataFrame)]
        val passId = nextSpan
        val (calls, _) = timed("pass", 0) {
          val calls = workload.calls(spark, stageDir, passDir)
          require(calls.map(_.name) == workload.callNames,
            s"calls ${calls.map(_.name)} differ from the declared ${workload.callNames}")
          calls.map { call =>
            var df: DataFrame = null
            var rows: Array[Row] = null
            val (r, s) = timed(call.name, passId) {
              call.body() match {
                case d: DataFrame => df = d; rows = d.collect()
                case _ => ()
              }
            }
            attempted += 1
            r.failed.foreach { e =>
              failedCalls += 1
              System.err.println(s"call ${call.name} failed: $e")
              e.printStackTrace()
            }
            Blocks.hardReset(spark, rddsBefore)
            if (rows != null) {
              val fp = Fingerprint.of(rows, df.columns.toSeq)
              val want = workload.expected.fold(fingerprints.get(call.name))(_.get(call.name))
              fingerprints.getOrElseUpdate(call.name, fp)
              fingerprintChecks += 1
              // kept fingerprints must all exist; first-pass ones exist from pass 0 on
              if (!want.contains(fp) && (workload.expected.nonEmpty || want.nonEmpty))
                checks += Check(s"${call.name}@pass$index", ok = false, s"fingerprint $fp, expected ${want.getOrElse("none kept")}")
              results(call.name) = (rows, df)
            }
            println(f"pass $index%d ${call.name}%s ${s.durNs / 1e9}%.3f s")
            CallRec(call.name, s.id, s.durNs / 1e9, r.isSuccess)
          }
        }
        passes += PassRec(index, calls.get, gcS() - gc0, jitS() - jit0,
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
        lastResults = results.toMap
        previousDir.foreach(d => rm(new File(d)))
        previousDir = Some(passDir)
        if (index == 0) steady0 = System.nanoTime
      }
      val windowS = elapsed
      val cpuFraction = (cpuS() - cpu0) / (windowS * Runtime.getRuntime.availableProcessors)
      val stealFraction = {
        val (steal1, total1) = cpuJiffies()
        (steal1 - jiffies0._1).toDouble / math.max(1L, total1 - jiffies0._2)
      }

      val lastDir = previousDir.get
      val extras = mutable.LinkedHashMap.empty[String, Any]
      if (trace) workload match {
        case g: Workloads.GraphKnn => extras("sim.recall_ivf") = g.recallIvf(lastResults)
        case _ =>
      }
      val (checkResult, _) = timed("check", 0)(workload.check(spark, lastDir, lastResults))
      lastResults = Map.empty
      checkResult match {
        case Success(cs) => checks ++= cs
        case Failure(e) =>
          e.printStackTrace()
          checks += Check("checks", ok = false, s"checks failed to run: $e")
      }
      if (trace) {
        BusDrain(spark.sparkContext)
        ledger.placePlans()
      }

      val heapMb = {
        System.gc(); Thread.sleep(200); System.gc()
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      }
      val first = passes.head
      val steady = passes.tail
      val passSecs = steady.map(_.secs)
      val ops = steady.flatMap(_.calls.map(_.secs)).sorted
      // the highest percentile with at least ten samples above it; when
      // that would not lie above the median (n < 22), the maximum stands in
      val tailIdx = if (ops.size - 11 > ops.size / 2) ops.size - 11 else ops.size - 1
      val endToEnd = Map(
        "setup_s" -> setupS,
        "first_pass_s" -> first.secs,
        "pass_s" -> median(passSecs),
        "rows_per_s" -> workload.inputRows / median(passSecs),
        "op_p50_s" -> median(ops),
        "op_tail_s" -> ops(tailIdx),
        "live_heap_mb" -> heapMb)

      val perLayer: Map[String, Any] =
        if (!trace) Map.empty
        else layers(passes.toSeq, stageDir, lastDir, cpus) ++ setup ++ extras
      val own = Workloads.layerNames(workload)
      val missing = own.filterNot(perLayer.contains)
      require(!trace || missing.isEmpty, s"per-layer metrics not computed: ${missing.mkString(", ")}")
      // the per-layer metrics of calls only other workloads make: this
      // workload made none of those calls
      val notMade = Workloads.names.filter(_ != name)
        .flatMap(n => Workloads.layerNames(Workloads(n, seed, Map.empty))).filterNot(own.contains)

      val record = mutable.LinkedHashMap[String, Any](
        "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "cpus" -> cpus, "loadavg_start" -> loadStart, "window_s" -> windowS,
        "cpu_fraction" -> cpuFraction, "steal_fraction" -> stealFraction,
        "attempted" -> attempted, "failed_calls" -> failedCalls,
        "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
        "fingerprint_checks" -> fingerprintChecks, "fingerprints" -> fingerprints,
        "end_to_end" -> endToEnd,
        "pass_s" -> Map("median" -> median(passSecs), "q1" -> quantile(passSecs, 0.25),
          "q3" -> quantile(passSecs, 0.75), "n" -> passSecs.size),
        "op_tail" -> Map("percentile" -> 100.0 * (tailIdx + 1) / ops.size,
          "n" -> ops.size),
        "per_layer" -> perLayer, "not_made" -> notMade,
        "passes" -> passes.map(p => Map("index" -> p.index, "secs" -> p.secs,
          "gc_s" -> p.gcS, "jit_s" -> p.jitS, "codegen_compiles" -> p.compiles,
          "calls" -> p.calls.map(c => Map("name" -> c.name, "secs" -> c.secs, "ok" -> c.ok)))),
        "spans" -> ledger.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.durNs / 1e9, "run" -> runId)))
      if (workload.isInstanceOf[Workloads.AqPipeline])
        record("dashboard") = Map("landed" -> s"$lastDir/out/air_quality_final", "results" -> s"$lastDir/dashboard.json")
      spark.stop()
      record.toMap
    }

    private val runId = s"$name-$seed-${ProcessHandle.current().pid()}"

    /** Per-layer metrics from the steady passes (medians per pass);
      * `spark.first_pass.*` and `jvm.first_pass.*` from the first pass.
      */
    private def layers(passes: Seq[PassRec], stageDir: String, lastDir: String,
        cpus: Int): Map[String, Any] = {
      val steady = passes.tail
      def perPass(f: PassRec => Double): Double = median(steady.map(f))
      def sumOf(p: PassRec, g: Counters => Long, only: CallRec => Boolean = _ => true): Double =
        p.calls.filter(only).map(c => g(ledger.counters(c.span))).sum.toDouble
      val perCall = workload.callNames.flatMap { n =>
        def of(p: PassRec) = p.calls.find(_.name == n).get
        def cnt(g: Counters => Long) = perPass(p => g(ledger.counters(of(p).span)).toDouble)
        Seq(
          s"$n.s" -> perPass(of(_).secs),
          s"$n.jobs" -> cnt(_.jobs),
          s"$n.tasks" -> cnt(_.tasks),
          s"$n.shuffle_mb" -> cnt(_.shuffleWriteBytes) / 1e6,
          s"$n.plan_ms" -> cnt(_.planMs))
      }
      val mb = 1e6
      val common = Seq(
        "spark.busy_ratio" -> steady.map(p => sumOf(p, _.taskNs) / 1e9).sum /
          (steady.map(_.secs).sum * cpus),
        "spark.plan_ms" -> perPass(sumOf(_, _.planMs)),
        "spark.first_pass.plan_ms" -> sumOf(passes.head, _.planMs),
        "spark.spill_mb" -> perPass(sumOf(_, _.spillBytes)) / mb,
        "spark.input_mb" -> perPass(sumOf(_, _.inputBytes)) / mb,
        "spark.output_mb" -> perPass(sumOf(_, _.outputBytes)) / mb,
        "jvm.gc_s" -> perPass(_.gcS),
        "jvm.jit_s" -> perPass(_.jitS),
        "jvm.first_pass.jit_s" -> passes.head.jitS,
        "spark.codegen_compiles" -> perPass(_.compiles.toDouble))
      val specific = workload match {
        case _: Workloads.AqPipeline =>
          val (files, size) = dirStats(s"$lastDir/out/air_quality_final")
          Seq("sources.land.files" -> files.toDouble, "sources.land.mb" -> size)
        case g: Workloads.GraphKnn =>
          Seq("operators.jobs_per_round" ->
            perPass(sumOf(_, _.jobs, _.name.startsWith("operators."))) / g.LoopRounds,
            "sim.truth.pairs_scored" -> perPass(sumOf(_, _.pairsScored, _.name == "sim.truth")))
      }
      (perCall ++ common ++ specific).toMap
    }
  }
}
