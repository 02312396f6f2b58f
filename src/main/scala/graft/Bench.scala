package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: every registered query at the given SF dir, printed as
  * ONE JSON line. Each query runs twice: `queries` holds the COLD first
  * run (comparable across rounds — includes plan compilation and any
  * in-operator materialization) and `warm` the immediate second run
  * (steady-state: shuffle files reusable, generated classes cached — see
  * [[Sessions]]). `value` stays the cold total.
  *
  * The artifact is SELF-EXPLAINING on a contended box (the warm>cold
  * inversion class recurred four rounds on the driver machine while the
  * idle box showed zero): every run records /proc/loadavg at start,
  * process-CPU-vs-wall fraction, and GC + JIT-compile time deltas; any
  * query whose warm exceeds its cold, OR whose cold is an outlier
  * (≫ its own warm, or ≫ its previous round's cold read from the
  * committed `bench-latest.json`), is re-measured serially before the
  * artifact is written, and carries a verdict naming the interferer or
  * confirming the number.
  *
  * THE FRESH-JVM LANE (r15 — closes the two r14 artifact-hygiene holes):
  * an in-process "recold" is structurally NOT a cold (JIT, memoized
  * trainer models, page cache survive), so for two rounds queries like
  * q146_hits carried once-per-process debt 4-8× their true cold with no
  * in-artifact correction, and a contaminated cold could only be
  * STAMPED, never re-taken. Now any query whose cold (a) started under
  * external load above the gate, or (b) did not reproduce in-process
  * (recold < 0.6×cold), is re-measured in a FRESH JVM (graft.BenchOne
  * subprocess — true cold: new JIT, no memoized state, same untimed
  * infra warm-up), launched only once this process's external-load
  * estimate reads quiet. A clean fresh run (child's own ext ≤ gate)
  * SUBSTITUTES the headline cold — legitimate, unlike a recold, because
  * a fresh-JVM first pass is exactly what "cold" means — and clears the
  * query's contamination; retries exhausting leaves the original number
  * and the stamp. Bounded: `SPARK_GRAFT_FRESH_MAX` queries (default 16,
  * worst colds first), 2 attempts each.
  *
  * COLD-VERDICT ORDER (r15 — the prior-laundering fix): the r14 logic
  * checked `matches_prior_round` FIRST, so a debt-inflated cold was
  * laundered by an equally debt-inflated committed prior (q190_ppr:
  * 39.7 s "matches" 39.2 s while both rounds' best evidence read ~10 s).
  * Vanished-on-remeasure is now evaluated BEFORE any prior comparison,
  * and the artifact persists a `prior_colds` object of BEST-EVIDENCE
  * colds (fresh-JVM cold when taken, else recold when the cold did not
  * reproduce, else the first-pass cold) which the next round's Bench
  * reads in preference to the raw `queries` colds.
  *
  * GATE-COST SPLIT (r15): the in-query brute-force verdict stages
  * (CandVerdict, q384's planted-geometry truth — [[GateCost]]) are
  * oracle-hardening machinery the 100 TB plan drops, yet they were 26 %
  * of r14's cold total. The artifact now carries per-query
  * `verdict_sec` and an `operator_cold_total` headline (cold total minus
  * gate seconds) so round-over-round comparisons track operators.
  *
  * Hygiene between timed runs is DETERMINISTIC, not best-effort: r12
  * triage measured ~40 broadcast blocks (~130 MB with disk) surviving
  * per PageRank run through unpersist + System.gc() — strongly-held
  * `Broadcast` objects the ContextCleaner can never reclaim, compounding
  * to the r11 artifact's 130 MB residual. [[Blocks.hardReset]] blocks on
  * RDD removal and drops all broadcast blocks synchronously, so
  * `max_residual_storage_mb` ≈ 0 is a per-run PROOF of isolation.
  *
  * The complete artifact (full per-query timings + telemetry) is also
  * WRITTEN TO `bench-latest.json` in the repo: the driver's stdout
  * capture keeps only a ~2 KB tail, which in r11 truncated the
  * per-query telemetry arrays out of the record.
  */
object Bench {
  /** Executor storage memory in use (MB) — in local mode, the one block
    * manager. Nonzero at query START means a neighbor's blocks survived
    * the between-queries reset and the timing is suspect.
    */
  private def storageUsedMb(spark: SparkSession): Long =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, remaining) => max - remaining }.sum / (1024 * 1024)

  /** Cumulative stop-the-world GC milliseconds across all collectors. */
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Cumulative JIT compilation milliseconds. */
  private def jitMs(): Long = {
    val b = java.lang.management.ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported)
      b.getTotalCompilationTime
    else 0L
  }

  /** One timed run + its telemetry. cpuFrac is process-CPU / (wall ×
    * ncores): ~0 while descheduled by an external hog; gcSec/jitSec are
    * the in-run deltas (seconds) — large values name the JVM-internal
    * interferer. extLoad is the EXTERNAL share of the start loadavg —
    * see [[ExternalLoad]]. gateSec is the wall time the run spent inside
    * verdict-gate machinery ([[GateCost]]).
    */
  final case class Run(wallSec: Double, err: Option[String],
      storageAtStartMb: Long, load: Double, extLoad: Double,
      cpuFrac: Double, gcSec: Double, jitSec: Double, gateSec: Double)

  /** One fresh-JVM (BenchOne subprocess) measurement: a TRUE cold. */
  final case class FreshRun(cold: Double, warm: Double, ext: Double,
      gateSec: Double)

  /** Previous round's per-query COLD seconds from the committed
    * `bench-latest.json` (this main writes it; the round driver commits
    * it) — the reference that lets a cold outlier be recognized as a
    * REGRESSION rather than a mystery. Prefers the BEST-EVIDENCE
    * `prior_colds` object (r15 — fresh-JVM cold / recold substituted for
    * flagged queries, the prior-laundering fix) and falls back to the
    * raw `queries` colds for artifacts written before that object
    * existed. Tolerant regex parse of the flat object this same code
    * emits; absent file or shape drift ⇒ empty map (first round, or
    * format change — the verdict logic then falls back to own-warm
    * comparison only).
    */
  private def priorMap(path: String, keys: Seq[String]): Map[String, Double] = {
    val f = new java.io.File(path)
    if (!f.isFile) return Map.empty
    try {
      val s = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      def flatObj(key: String): Option[String] = {
        val kIdx = s.indexOf("\"" + key + "\":{")
        if (kIdx < 0) None
        else {
          val start = kIdx + key.length + 4
          val end = s.indexOf("}", start)
          if (end < 0) None else Some(s.substring(start, end))
        }
      }
      val body = keys.view.flatMap(flatObj).headOption
        .getOrElse(return Map.empty)
      val pair = """"([^"]+)":([0-9.Ee+-]+)""".r
      pair.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }
  }

  private[graft] def priorColds(path: String): Map[String, Double] =
    priorMap(path, Seq("prior_colds", "queries"))

  /** Previous round's per-query WARM seconds — the r17 warm-prior gate
    * (the r15/r16 verdicts' standing item: cold outliers were gated,
    * but a warm drift like q146's r16 +23 % sailed through unflagged).
    * The artifact's `warm` object already carries the min-substituted
    * best-evidence warms (warmSec), so it is the prior; the
    * `prior_warms` preference exists only as a forward-compat hook
    * should the two ever diverge.
    */
  private[graft] def priorWarms(path: String): Map[String, Double] =
    priorMap(path, Seq("prior_warms", "warm"))

  /** Warm-drift predicate (the r17 warm-prior gate): a warm run is an
    * outlier when it exceeds its prior-round best-evidence warm by both
    * a ratio (1.75×) and an absolute floor (1 s — the sub-second tail
    * jitters multiples without carrying signal). Pure function so
    * BenchSpec can assert a synthetic inflation trips it.
    */
  private[graft] def warmDrifted(warm: Double, prior: Option[Double]): Boolean =
    prior.exists(p => warm > p * 1.75 && warm - p > 1.0)

  /** The untimed generic warm-up pipeline Bench and BenchOne share so
    * "cold" means the same thing in both artifacts: parquet scan,
    * shuffle agg, broadcast join (the r12 set — scan exec, exchange,
    * codegen driver, block manager), PLUS (r17) the iterative-loop
    * machinery — a 6-round toy loop on [[Blocks.rounds]]
    * (InMemoryRelation columnar cache write + read, LogicalRDD) and one
    * sort-merge self-join (sort + SMJ codegen).
    * The r17 sorted first pass made the alphabetically-first iterative
    * query (q106) carry ~54 s of in-run JIT for these shared paths that
    * hash order had smeared onto whichever query happened to run first —
    * a PROCESS cost, not a plan cost, so it belongs here. Nothing below
    * runs any registered query's plan: every timed cold still pays its
    * own plan compilation.
    */
  private[graft] def infraWarmup(spark: SparkSession, sfDir: String): Unit = {
    val t = spark.range(1L << 20)
      .selectExpr("id", "cast(id % 5 as bigint) as k")
    t.groupBy("k").count().count()
    val r = Tables.region(spark, sfDir).selectExpr(
      "cast(r_regionkey as bigint) as k")
    t.join(org.apache.spark.sql.functions.broadcast(r), Seq("k"), "left")
      .count()
    // sort-merge joins (inner + the graph loops' left-outer shape):
    // both sides too big to broadcast, unique keys
    val t2 = spark.range(1L << 20).selectExpr("id", "id as v")
    t.join(t2, Seq("id")).count()
    t2.join(t, Seq("id"), "left").count()
    // iterative loop: cache write/read + cachedCut + keyed agg per round
    var it = t.groupBy("k").agg(
      org.apache.spark.sql.functions.sum("id").cast("double").as("s"))
    val loop = Blocks.rounds(spark)
    for (_ <- 1 to 6)
      it = loop.advance(it.join(t.select("k").distinct(), Seq("k"), "left")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("s").as("s")))
    loop.close()
  }

  /** JVM flags this process was launched with that the fresh-JVM child
    * needs: the JDK-17 module opens (Spark refuses to boot without
    * them), heap/stack sizing, and spark.* system properties. sbt/JLine
    * noise is dropped.
    */
  private def inheritedJvmFlags(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val in = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toVector
    val keep = scala.collection.mutable.Buffer.empty[String]
    var i = 0
    while (i < in.length) {
      val a = in(i)
      if (a == "--add-opens" || a == "--add-exports" || a == "--add-modules") {
        if (i + 1 < in.length) { keep += a; keep += in(i + 1); i += 1 }
      } else if (a.startsWith("--add-opens=") || a.startsWith("--add-exports=")
        || a.startsWith("--add-modules=") || a.startsWith("-Xm")
        || a.startsWith("-Xss") || a.startsWith("-Dspark."))
        keep += a
      i += 1
    }
    keep.toSeq
  }

  /** Run `graft.BenchOne <name>` in a fresh JVM and parse its one JSON
    * line: (cold, warm, ext-at-cold-start, gate seconds). None on
    * launch failure, nonzero exit, timeout, or unparseable output — the
    * caller keeps the original numbers then.
    */
  private def freshJvmMeasure(name: String, timeoutSec: Long): Option[FreshRun] = {
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java")
    val cmd = Seq(javaBin.getAbsolutePath) ++ inheritedJvmFlags() ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.BenchOne", name)
    try {
      import scala.jdk.CollectionConverters._
      val pb = new ProcessBuilder(cmd.asJava)
      // a lingering SPARK_GRAFT_ONLY in this process's environment would
      // make the child run EXTRA queries inside the timeout and contend
      // with the measurement — argv is the only selector the lane wants
      pb.environment().remove("SPARK_GRAFT_ONLY")
      pb.redirectErrorStream(false)
      val p = pb.start()
      // drain stderr on a daemon thread so a chatty child can't deadlock
      val errDrain = new Thread(() => {
        val buf = new Array[Byte](8192)
        while (p.getErrorStream.read(buf) >= 0) {}
      }, "graft-benchone-stderr")
      errDrain.setDaemon(true); errDrain.start()
      val outBytes = new java.io.ByteArrayOutputStream()
      val outDrain = new Thread(() => {
        val buf = new Array[Byte](8192)
        var n = p.getInputStream.read(buf)
        while (n >= 0) { outBytes.write(buf, 0, n); n = p.getInputStream.read(buf) }
      }, "graft-benchone-stdout")
      outDrain.setDaemon(true); outDrain.start()
      val done = p.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) { p.destroyForcibly(); return None }
      outDrain.join(5000)
      if (p.exitValue() != 0) return None
      val out = outBytes.toString("UTF-8")
      val re = (""""metric":"isolated","query":"""" +
        java.util.regex.Pattern.quote(name) +
        """","cold":([0-9.]+),"warm":([0-9.]+).*?"ext":([0-9.]+).*?"gate_cold_sec":([0-9.]+)""").r
      re.findFirstMatchIn(out).map(m => FreshRun(m.group(1).toDouble,
        m.group(2).toDouble, m.group(3).toDouble, m.group(4).toDouble))
    } catch { case _: Throwable => None }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val ncores = cpus.toDouble
    val spark = Sessions.local(cpus, shufflePartitions = cpus)
    spark.sparkContext.setLogLevel("WARN")
    val prior = priorColds("bench-latest.json")
    val priorWarm = priorWarms("bench-latest.json")
    val extLoadEst = new ExternalLoad
    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Run = {
      val before = Blocks.persistedIds(spark)
      val storageAtStart = storageUsedMb(spark)
      val load0 = ProcLoad.loadAvg()
      val ext0 = extLoadEst.sample()
      val cpu0 = ProcLoad.processCpuNs()
      val gc0 = gcMs()
      val jit0 = jitMs()
      GateCost.drainSec(): Unit // a neighbor's gate time must not leak in
      val t0 = System.nanoTime()
      // A failed query must surface as an ERROR, not a bogus ~50 ms
      // "timing" that deflates the total and masks the breakage.
      val err = try { fn(spark, sfDir).count(); None } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val gateSec = GateCost.drainSec()
      val cpu1 = ProcLoad.processCpuNs()
      val cpuFrac =
        if (cpu0 < 0 || cpu1 < 0 || dt <= 0) -1.0
        else (cpu1 - cpu0) / 1e9 / (dt * ncores)
      val gcSec = (gcMs() - gc0) / 1e3
      val jitSec = (jitMs() - jit0) / 1e3
      // Deterministic teardown OUTSIDE the timed window: blocking RDD
      // unpersist + synchronous broadcast-block drop (the part no public
      // API reaches and no GC ever frees — see Blocks.hardReset), then a
      // GC so this query's dead weight can't land inside a neighbor's
      // timed run (the r8/r9 warm>cold inversion class).
      Blocks.hardReset(spark, before)
      System.gc()
      Thread.sleep(100) // let the async cleaner act on the cleared refs
      Run(dt, err, storageAtStart, load0, ext0, cpuFrac, gcSec, jitSec,
        math.min(gateSec, dt))
    }
    final case class Entry(name: String, cold: Run, warm: Run,
        remeasured: Option[(Run, Run)], warmVerdict: Option[String],
        coldVerdict: Option[String], fresh: Option[FreshRun] = None,
        freshOutcome: Option[String] = None) {
      def err: Option[String] = cold.err.orElse(warm.err)
      def substituted: Boolean = freshOutcome.contains("fresh_jvm_cold")
      // headline substitution policy (asymmetric BY NATURE, conservative):
      // - warm: a re-measured warm (in-process or fresh-JVM) is a
      //   legitimate steady-state sample, so when the verdict says the
      //   first pass was contaminated the headline takes the MIN —
      //   a contaminated run only ever overestimates.
      // - cold: adjusted ONLY by a fresh-JVM cold, and then as the MIN
      //   of the two. An in-process "recold" is structurally NOT a cold
      //   — JIT, memoized trainer models (q354-class), OS page cache,
      //   and codegen caches all survive — so min(cold, recold) would
      //   deflate every query with one-time-per-process work (the first
      //   r12 run deflated 12 colds this way). A fresh-JVM first pass
      //   IS a cold by construction (new process: nothing survives),
      //   so the in-bench and fresh colds are two genuine samples of
      //   the same quantity, and contention/debt only ever OVERESTIMATE
      //   — the min is the best evidence. (r15 chain 2 caught the
      //   blind-substitution version making a query READ WORSE: the
      //   child itself hit debt and 125.6 s replaced an in-bench
      //   44.2 s.) Both numbers stay visible in the audit objects.
      private val warmContaminated = Set("vanished_on_remeasure",
        "warm_drift_vanished", "external_load", "descheduled_external")
      def warmSec: Double = {
        val base = remeasured match {
          case Some((_, w2)) if warmVerdict.exists(warmContaminated) =>
            math.min(warm.wallSec, w2.wallSec)
          case _ => warm.wallSec
        }
        if (substituted) math.min(base, fresh.get.warm) else base
      }
      def coldSec: Double =
        if (substituted) math.min(fresh.get.cold, cold.wallSec)
        else cold.wallSec
      def gateSecUsed: Double =
        if (substituted && fresh.get.cold < cold.wallSec) fresh.get.gateSec
        else cold.gateSec
      // best-evidence cold for NEXT round's prior (the laundering fix):
      // fresh-JVM cold when taken; else the recold when this cold did
      // not reproduce in-process AND the recold is a genuine
      // re-execution (≥ 1 s — a memoized verdict query's recold reads
      // ~0.1 s, which carries no cold information and would flag every
      // future honest cold as an outlier); else the first-pass cold.
      // An inflated first-pass prior is now harmless for laundering —
      // vanish-on-remeasure is checked before any prior comparison.
      def bestEvidenceCold: Double =
        if (substituted) math.min(fresh.get.cold, cold.wallSec)
        else if (coldVerdict.exists(v => v == "not_reproducible_in_process"
          || v == "once_per_process_or_contention") &&
          remeasured.exists(_._1.wallSec >= 1.0))
          remeasured.get._1.wallSec
        else cold.wallSec
    }
    val inverted = (c: Run, w: Run) =>
      w.wallSec > c.wallSec * 1.15 && w.wallSec - c.wallSec > 1.0
    // Cold outlier: the first-pass cold dwarfs the query's own steady
    // state (trainer-class queries legitimately do — the re-measure then
    // confirms them) or its previous round's cold.
    val coldOutlier = (name: String, c: Run, w: Run) =>
      (c.wallSec > w.wallSec * 2.5 && c.wallSec - w.wallSec > 2.0) ||
        prior.get(name).exists(p => c.wallSec > p * 2.5 && c.wallSec - p > 2.0)
    // UNTIMED process warm-up before the timed loop: the first map-order
    // query otherwise carries the JVM/Spark STARTUP JIT (r12: query #1
    // cold 5.26 s vs 0.33 s recold with 6.49 s of in-run JIT — a process
    // cost, not a plan cost). See [[infraWarmup]] for what it compiles.
    // Policy unchanged: cold remains the first TIMED pass.
    locally {
      extLoadEst.sample() // seed the own-CPU window before the warm-up
      val warm0 = Blocks.persistedIds(spark)
      infraWarmup(spark, sfDir)
      Blocks.hardReset(spark, warm0)
      System.gc()
      Thread.sleep(100)
    }
    // SORTED NAME ORDER (r17 — the memo-warm-up determinism fix): the
    // hash-map iteration order decided WHICH query of a shared-memo
    // family (q350-q352's candidate frames, q71/q73/q354's codebooks)
    // paid the once-per-process build inside its cold, so the family's
    // cold attribution moved 2× with an opaque order (r16's q352 51 s
    // vs builder 21.9 s). Lexicographic order is stable across rounds,
    // boxes and key-set growth: the alphabetically-first family member
    // always carries the shared cost, and every later member's cold is
    // deterministically the marginal cost.
    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      (name, fn, time(fn), time(fn))
    }
    // Serial re-measure of every flagged query BEFORE the artifact is
    // written: on a contended box the first-pass numbers may time a
    // neighbor process, not the query. The re-measure is one more
    // cold+warm pair; the verdicts name the interferer or confirm the
    // number, on BOTH sides.
    val inProcess = firstPass.map { case (name, fn, c, w) =>
      val isInv = c.err.isEmpty && w.err.isEmpty && inverted(c, w)
      val isColdOut = c.err.isEmpty && w.err.isEmpty && coldOutlier(name, c, w)
      // WARM-PRIOR GATE (r17, the standing r15/r16 verdict item): a warm
      // run far above its prior-round best-evidence warm is re-measured
      // like a cold outlier — a drift that reproduces is a real
      // regression and says so; one that vanishes takes the min (a
      // contaminated warm only ever overestimates, same policy as the
      // inversion class).
      val isWarmDrift = c.err.isEmpty && w.err.isEmpty && !isInv &&
        warmDrifted(w.wallSec, priorWarm.get(name))
      if (!isInv && !isColdOut && !isWarmDrift) Entry(name, c, w, None, None, None)
      else {
        val c2 = time(fn)
        val w2 = time(fn)
        val warmVerdict =
          if (isInv) Some(
            if (!inverted(c2, w2)) "vanished_on_remeasure"
            else if (w2.load > ncores * 0.5 && w2.load > c2.load * 1.5) "external_load"
            else if (w2.cpuFrac >= 0 && w2.cpuFrac < 0.05) "descheduled_external"
            else if (w2.gcSec > w2.wallSec * 0.3) "gc"
            else if (w2.jitSec > w2.wallSec * 0.3) "jit"
            else "true_warm_regression") // real: warm genuinely slower
          else if (isWarmDrift) Some(
            if (!warmDrifted(w2.wallSec, priorWarm.get(name)))
              "warm_drift_vanished" // rewarm back under the prior gate
            else if (w2.load > ncores * 0.5 && w2.load > c2.load * 1.5) "external_load"
            else if (w2.cpuFrac >= 0 && w2.cpuFrac < 0.05) "descheduled_external"
            else if (w2.gcSec > w2.wallSec * 0.3) "gc"
            else if (w2.jitSec > w2.wallSec * 0.3) "jit"
            else "true_warm_regression") // reproduced: flag it loudly
          else None
        // MEMOIZED-VERDICT RECOGNITION FIRST (r15 chain-1 lesson): a
        // query that memoizes its collected result per process (the
        // q350/q354 class) ALWAYS trips the cold-vs-warm outlier test —
        // its warm and recold are ~0.1 s memo READS carrying no cold
        // information, while its first-pass cold is a genuine cold
        // execution. Calling that "not reproducible" misnames a healthy
        // query and floods the fresh-JVM lane (17 of them in chain 1);
        // the honest verdict is its own name, and the lane is spent on
        // it only when the cold ALSO exceeds the prior (a real
        // regression suspicion).
        // VANISHED-ON-REMEASURE IS CHECKED BEFORE THE PRIOR (r15): the
        // r14 order consulted the prior before the recold, so a
        // debt-inflated cold was vouched for by an equally
        // debt-inflated prior (q190_ppr: 39.7 s "matched" a 39.2 s
        // prior that was itself flagged non-reproducible — true cold
        // ~10 s both rounds). A cold the process itself cannot
        // reproduce is never "matching" anything; the prior only
        // adjudicates colds that REPRODUCE. (An in-process recold is
        // warmer by construction — JIT, trainers, page cache — so
        // "vanished" means contention or once-per-process cost, not
        // proof the cold was wrong; the fresh-JVM lane settles which.)
        val memoized = w.wallSec < 1.0 && c2.wallSec < 1.0 &&
          c.wallSec >= 2.0
        val coldVerdict = if (!isColdOut) None else Some(
          if (memoized)
            prior.get(name) match {
              // 1.5× (was 2.5×, r17): q352's 51.0 s vs prior 20.4 slid
              // under the old bar and kept a memo-order artifact in the
              // headline — the lane exists exactly for this class, and
              // with sorted query order a memo cold above 1.5× prior is
              // a real suspicion, not warm-up-order noise
              case Some(p) if c.wallSec > p * 1.5 + 2 =>
                "memoized_cold_above_prior" // fresh lane adjudicates
              case _ => "memoized_verdict_cold" // benign by construction
            }
          else if (c2.wallSec < c.wallSec * 0.6)
            if (prior.contains(name)) "not_reproducible_in_process"
            else "once_per_process_or_contention"
          else prior.get(name) match {
            case Some(p) if c.wallSec <= p * 2.5 + 2 => "matches_prior_round"
            case Some(_) => "true_cold_regression"
            case None => "genuine_cold_cost" // reproduces; no prior to compare
          })
        Entry(name, c, w, Some((c2, w2)), warmVerdict, coldVerdict)
      }
    }
    // CONTAMINATION GATE (r13 lesson) + FRESH-JVM RE-MEASURE LANE (r15):
    // any query whose EXTERNAL load AT COLD-RUN START (1-min loadavg
    // minus this process's own kernel-mirroring R+D task-count EMA —
    // see ExternalLoad) exceeds `loadGate` (default cpus/8; overridable
    // via SPARK_GRAFT_LOAD_GATE), or whose cold did not reproduce
    // in-process, is RE-MEASURED in a fresh JVM rather than merely
    // stamped — see the class doc. The lane waits for this process's
    // own external-load estimate to read quiet before each launch (a
    // just-exited child decays in loadavg for ~1 min and would
    // otherwise read as a neighbor), and trusts the CHILD's self-
    // reported ext (its own ExternalLoad) for the clean/contaminated
    // call on the fresh numbers.
    val loadGate = sys.env.get("SPARK_GRAFT_LOAD_GATE").map(_.toDouble)
      .getOrElse(ncores / 8.0)
    val freshMax = sys.env.get("SPARK_GRAFT_FRESH_MAX").map(_.toInt)
      .getOrElse(16)
    // contaminated colds take the lane slots FIRST (the round's
    // contaminated:false bar rides on them), then the debt-hit colds
    // worst-first (the smoke run showed small contaminated queries
    // losing every slot to big once-per-process colds). The benign
    // memoized_verdict_cold class stays OUT of the lane.
    val laneVerdicts = Set("not_reproducible_in_process",
      "once_per_process_or_contention", "memoized_cold_above_prior")
    val needsFresh = inProcess.filter(e => e.err.isEmpty &&
        (e.cold.extLoad > loadGate ||
          e.coldVerdict.exists(laneVerdicts)))
      .sortBy(e => (if (e.cold.extLoad > loadGate) 0 else 1, -e.cold.wallSec))
      .take(freshMax).map(_.name).toSet
    // true when the box went quiet within the wait budget; false means
    // DON'T launch — a child started under known external load would
    // seed its own-load EMA with the neighbor's load, self-report
    // ext≈0, and launder a contaminated cold as clean (the r15 advice
    // finding). Keeping the stamp is honest; a laundered number is not.
    def waitQuiet(): Boolean = {
      var waited = 0
      while (extLoadEst.sample() > loadGate && waited < 150) {
        Thread.sleep(5000); waited += 5
      }
      extLoadEst.sample() <= loadGate
    }
    val results = inProcess.map { e =>
      if (!needsFresh.contains(e.name)) e
      else {
        var attempt = 0
        var fresh: Option[FreshRun] = None
        var outcome = "fresh_jvm_failed"
        while (attempt < 2 && !outcome.startsWith("fresh_jvm_cold")) {
          attempt += 1
          if (!waitQuiet()) outcome = "fresh_jvm_skipped_box_loud"
          else freshJvmMeasure(e.name, timeoutSec = 900) match {
            case Some(f) if f.ext <= loadGate =>
              fresh = Some(f); outcome = "fresh_jvm_cold"
            case Some(f) =>
              fresh = Some(f); outcome = "fresh_jvm_contaminated"
            case None => // keep outcome; retry once
          }
        }
        System.err.println(f"[bench] fresh-JVM ${e.name}: $outcome" +
          fresh.map(f => f" cold=${f.cold}%.2f warm=${f.warm}%.2f ext=${f.ext}%.1f")
            .getOrElse(""))
        e.copy(fresh = fresh, freshOutcome = Some(outcome))
      }
    }
    def js(entries: Seq[(String, Double)]) = entries
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val failed = results.filter(_.err.isDefined)
    failed.foreach { e =>
      System.err.println(s"[bench] ${e.name} FAILED: ${e.err.get}")
    }
    val ok = results.filter(_.err.isEmpty)
    val total = ok.map(_.coldSec).sum
    val totalWarm = ok.map(_.warmSec).sum
    // Gate-cost split: verdict_sec per query (cold-run gate machinery
    // wall seconds — nonzero entries only) and the operator-only total.
    val gateTotal = ok.map(e => math.min(e.gateSecUsed, e.coldSec)).sum
    val operatorColdTotal = total - gateTotal
    val verdictJs = js(ok.filter(_.gateSecUsed >= 0.0005)
      .map(e => (e.name, e.gateSecUsed)))
    // Residual-interference tell: max storage-memory (MB) found in use at
    // any query's start. ~0 proves every timing started from a clean
    // block manager (hardReset works); large values mean the reset
    // failed and per-query numbers are suspect.
    val maxResidualMb = if (results.isEmpty) 0L
      else results.map(e => math.max(e.cold.storageAtStartMb, e.warm.storageAtStartMb)).max
    val errJs = failed.map(f => "\"" + f.name + "\"").mkString("[", ",", "]")
    def reJs(e: Entry, verdict: String, extra: String): String = {
      val (c2, w2) = e.remeasured.get
      f""""${e.name}":{"cold":${e.cold.wallSec}%.2f,"warm":${e.warm.wallSec}%.2f,"recold":${c2.wallSec}%.2f,"rewarm":${w2.wallSec}%.2f,"verdict":"$verdict"$extra,"load":${w2.load}%.1f,"cpu_frac":${w2.cpuFrac}%.2f,"gc_sec":${w2.gcSec}%.2f,"jit_sec":${w2.jitSec}%.2f}"""
    }
    // Warm-inversion audit — one object per first-pass inversion, with
    // the re-measured pair and the verdict. Empty = clean.
    val invJs = results.filter(e => e.warmVerdict.isDefined).map { e =>
      reJs(e, e.warmVerdict.get, "")
    }.mkString("{", ",", "}")
    // Cold-outlier audit — same shape, plus the prior-round cold when
    // one exists (the number the outlier was judged against) and the
    // fresh-JVM numbers when the lane ran.
    val coldJs = results.filter(e => e.coldVerdict.isDefined).map { e =>
      val p = prior.get(e.name).map(v => f""","prior_cold":$v%.2f""").getOrElse("")
      val fr = e.fresh.map(f =>
        f""","fresh_cold":${f.cold}%.2f,"fresh_warm":${f.warm}%.2f,"fresh_ext":${f.ext}%.1f""").getOrElse("")
      val res = if (!e.substituted) ""
        else if (e.fresh.get.cold < e.cold.wallSec)
          ""","resolved":"fresh_jvm_cold""""
        else ""","resolved":"confirmed_in_bench_cold"""" // fresh read higher: in-bench cold stands
      reJs(e, e.coldVerdict.get, p + fr + res)
    }.mkString("{", ",", "}")
    // Fresh-JVM lane audit: every query the lane touched, the original
    // vs fresh numbers, and the outcome (substituted / contaminated
    // retries exhausted / child failed).
    val freshJs = results.filter(_.freshOutcome.isDefined).map { e =>
      val f = e.fresh
      f""""${e.name}":{"orig_cold":${e.cold.wallSec}%.2f,"orig_ext":${e.cold.extLoad}%.1f""" +
        f.map(fr => f""","fresh_cold":${fr.cold}%.2f,"fresh_warm":${fr.warm}%.2f,"fresh_ext":${fr.ext}%.1f""").getOrElse("") +
        s""","outcome":"${e.freshOutcome.get}"}"""
    }.mkString("{", ",", "}")
    val unexplained = results.count(_.warmVerdict.contains("true_warm_regression"))
    val coldRegressed = results.count(_.coldVerdict.contains("true_cold_regression"))
    // colds whose in-process evidence was inconclusive AND the fresh
    // lane did not settle them — the number the round gate wants at 0
    val unresolved = results.count(e =>
      e.coldVerdict.exists(laneVerdicts) && !e.substituted)
    // A query is contaminated only if its cold started under external
    // load AND the fresh-JVM lane could not produce a clean replacement
    // — the artifact stamps itself, but only after trying to converge
    // to a clean number mechanically (the r14 gate only ever stamped).
    val contaminatedQ = results.filter(e =>
      e.err.isEmpty && e.cold.extLoad > loadGate && !e.substituted)
    val contamJs = contaminatedQ
      .map(e => f""""${e.name}":{"ext":${e.cold.extLoad}%.1f,"load":${e.cold.load}%.1f}""")
      .mkString("{", ",", "}")
    val head = s""""unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_errors":${failed.size},"errors":$errJs,"max_residual_storage_mb":$maxResidualMb,"inversions":$invJs,"cold_outliers":$coldJs,"fresh_jvm":$freshJs,"n_unexplained_inversions":$unexplained,"n_cold_regressions":$coldRegressed,"n_unresolved_nonreproducible":$unresolved,"load_gate":${f"$loadGate%.1f"},"contaminated":${contaminatedQ.nonEmpty},"contaminated_queries":$contamJs,"verdict_sec_total":${f"$gateTotal%.3f"},"operator_cold_total":${f"$operatorColdTotal%.3f"},"total_warm":${f"$totalWarm%.3f"},"value":${f"$total%.3f"}"""
    // Per-query telemetry: [load, ext_load, cpu_frac, gc_sec, jit_sec]
    // for the cold run then the warm run — the reader can attribute ANY
    // suspicious number, not just flagged ones.
    val telemJs = ok.map { e =>
      def t(r: Run) = f"${r.load}%.1f,${r.extLoad}%.1f,${r.cpuFrac}%.2f,${r.gcSec}%.2f,${r.jitSec}%.2f"
      s""""${e.name}":[${t(e.cold)},${t(e.warm)}]"""
    }.mkString("{", ",", "}")
    val fullLine = s"""{"metric":"total_full",$head,"queries":${js(ok.map(e => (e.name, e.coldSec)))},"warm":${js(ok.map(e => (e.name, e.warmSec)))},"verdict_sec":$verdictJs,"prior_colds":${js(ok.map(e => (e.name, e.bestEvidenceCold)))},"telemetry":$telemJs}"""
    // The artifact of record for the FULL detail: the driver's stdout
    // capture keeps only a ~2 KB tail (r11 lost the telemetry arrays to
    // it), so the complete object goes to a committed repo file too.
    java.nio.file.Files.write(java.nio.file.Paths.get("bench-latest.json"),
      (fullLine + "\n").getBytes("UTF-8"))
    println(fullLine)
    // The LAST line is short enough (~1 KB) to always survive the tail
    // capture intact and parse: headline totals + the top-10 cold and warm
    // queries — round-over-round per-query comparability can't be eaten by
    // truncation again.
    val topCold = ok.sortBy(-_.coldSec).take(10).map(e => (e.name, e.coldSec))
    val topWarm = ok.sortBy(-_.warmSec).take(10).map(e => (e.name, e.warmSec))
    println(s"""{"metric":"total",$head,"queries":${js(topCold)},"warm_top":${js(topWarm)}}""")
    spark.stop()
  }
}
