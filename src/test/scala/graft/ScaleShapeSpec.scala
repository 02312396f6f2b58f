package graft

import org.apache.spark.sql.Row
import org.scalatest.Checkpoints
import org.scalatest.funsuite.AnyFunSuite

import ScaleRun.{counted, Counts}

/** SURVEY §5's scale claims, asserted from exact counts rather than wall
  * clock: each case runs one [[ScaleRun]] scenario at two sizes 4× apart
  * and compares jobs, shuffle bytes, input bytes, plan length or result
  * counts. `runMain graft.ScaleRun <scenario> <size>...` prints the same
  * counts with wall seconds at any size.
  */
// @Slow: about two minutes of synthetic-scale runs on 4 cores
@org.scalatest.tags.Slow
class ScaleShapeSpec extends AnyFunSuite with Checkpoints {
  import TestSpark._

  /** [[counted]], then release what the body persisted. */
  private def measure[A](body: => A): Counts[A] = {
    val before = Blocks.persistedIds(spark)
    try counted(spark)(body) finally Blocks.releaseSince(spark, before)
  }

  /** `large` grows at most linearly over `small` for a 4× larger input.
    * 10 % headroom over exactly 4× absorbs per-row size drift (longer
    * ids, fuller partitions); a quadratic path grows 16×. */
  private def linear(what: String, small: Long, large: Long): Unit = {
    info(f"$what: $small -> $large (${large.toDouble / small}%.2fx for 4x input)")
    assert(large <= 4 * small * 1.10, s"$what grew superlinearly: $small -> $large")
  }

  test("graph loops: the plan stays put across rounds; a round's jobs are fixed and its shuffle linear in edges (§5.3)") {
    val e = 8000L
    val cp = new Checkpoint // every loop is checked even if one fails
    val loops: Seq[(String, (Long, Int) => Any)] = Seq(
      "PageRank.run" -> ((n, r) =>
        operators.PageRank.run(ScaleRun.edges(spark, n), "src", "dst", iters = r)),
      "Hits.run" -> ((n, r) =>
        operators.Hits.run(ScaleRun.edges(spark, n), "src", "dst", iters = r)),
      "LabelProp.run" -> ((n, r) =>
        operators.LabelProp.run(ScaleRun.edges(spark, n), "src", "dst", rounds = r)),
      // paths of r + 1 nodes converge in exactly r rounds
      "ConnectedComponents.minLabel" -> ((n, r) =>
        operators.ConnectedComponents.minLabel(ScaleRun.chains(spark, n, r + 1), "src", "dst")))
    for ((name, loop) <- loops) {
      val t0 = System.nanoTime()
      val (small, long, large) = (measure(loop(e, 2)), measure(loop(e, 6)), measure(loop(4 * e, 2)))
      info(s"$name: plan ${small.planLen} after 2 rounds, ${long.planLen} after 6; " +
        s"2 rounds at E and 4E: jobs ${small.jobs}, ${large.jobs}; " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
      // exact: a re-rooted loop returns the same plan after any round count
      cp(assert(long.planLen == small.planLen, s"$name: the plan grew with rounds"))
      // exact: a round's job count does not depend on the graph's size
      cp(assert(large.jobs == small.jobs, s"$name: jobs per 2 rounds ${small.jobs} -> ${large.jobs}"))
      cp(linear(s"$name shuffle bytes per 2 rounds", small.shuffleBytes, large.shuffleBytes))
    }
    cp.reportAll()
  }

  test("incremental state: a fold reads what its delta needs, and the state read's plan stays put (§5.4)") {
    val c = ScaleRun.cadence
    // two folds at the same point of the compaction cycle, right after
    // the first and right after the second compaction: the state the
    // late fold meets holds ~1.8x the batches
    val (early, late) = (c + 1L, 2L * c + 1)
    val cp = new Checkpoint
    // exact input bytes: with vectored reads on, a fold that read its
    // whole state would look flat (see ScaleRun.vectoredIo)
    spark.conf.set(ScaleRun.vectoredIo, "false")
    try for (s <- ScaleRun.surfaces) {
      // IncrementalCC's fold follows the live components it touches, not
      // the delta alone (§5.4), so it gets the plan check only, across
      // one compaction
      val batches = if (s.name == "cc") c + 1 else 2 * c + 2
      val t0 = System.nanoTime()
      s.start(spark)
      val folds = scala.collection.mutable.Map.empty[Long, Counts[Unit]]
      val plans = scala.collection.mutable.Map.empty[Long, Int]
      for (b <- 1L to batches) {
        folds(b) = measure(s.fold(spark, b))
        if (b % c == 0) s.compact(spark)
        if (b == batches / 2 || b == batches) plans(b) = ScaleRun.planLen(s.read(spark))
      }
      info(f"${s.name}: read plan $plans; ${(System.nanoTime() - t0) / 1e9}%.1f s")
      // exact: the read is a scan of the state tables, whatever their size
      cp(assert(plans(batches / 2) == plans(batches), s"${s.name}: the read plan grew"))
      if (s.name != "cc") {
        val (a, b) = (folds(early).inputBytes, folds(late).inputBytes)
        info(s"${s.name}: fold input bytes $a after batch $early, $b after batch $late")
        // 10 %: a fold that scanned the state would read ~1.8x more of it
        cp(assert(math.abs(b - a) <= 0.10 * a, s"${s.name}: fold input bytes $a -> $b"))
      }
    } finally spark.conf.unset(ScaleRun.vectoredIo)
    cp.reportAll()
  }

  test("IVF candidates with kCoarse ∝ n grow linearly in n, not as n² (§5.2 decade rung)") {
    val pairs = Seq(1000L, 4000L).map { n =>
      sim.Candidates.ivfSelfPairs(ScaleRun.planted(spark, n), "vec_id", "embedding",
        kCoarse = (n / 100).toInt, nprobe = 2, iters = 3).count()
    }
    linear("candidate pairs", pairs(0), pairs(1))
  }

  test("MinHash LSH shuffles linearly in n; triangle census counts are exact in copies and hub-proof (§5)") {
    // two-member near-dup families: exactly one verified pair per family.
    // Broadcasts off: at the scale the claim is about, no side of the band
    // join fits one, and a broadcast plan shuffles nothing to count.
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val lsh = try Seq(500L, 2000L).map { n =>
      val c = measure(dedup.MinHashLsh.similarPairs(ScaleRun.docs(spark, n, replicas = 2),
        "doc_id", "text", n = 3, minJaccard = 0.8).count())
      assert(c.value == n, s"$n families gave ${c.value} pairs")
      c.shuffleBytes
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    val cp = new Checkpoint
    cp(linear("similarPairs shuffle bytes", lsh(0), lsh(1)))

    def census(edges: org.apache.spark.sql.DataFrame): Row =
      operators.Triangles.census(edges, "src", "dst").collect().head
    // [triscale] R disjoint copies: exactly R× the wedges and triangles
    val g = ScaleRun.edges(spark, 4000)
    val (one, three) = (census(g), census(ScaleRun.copies(g, 3)))
    info(s"census $one, 3 copies $three")
    cp(assert(three.getLong(2) == 3 * one.getLong(2) && three.getLong(3) == 3 * one.getLong(3),
      s"$one vs 3 copies $three"))
    // [hubscale] degree orientation points every hub edge at the hub, so
    // the hub centers no wedge: each of its d leaves gains at most one
    // wedge per own neighbor, d × mean degree in all, not the C(d, 2)
    // wedges a hub center would add
    val n = 40000L
    val (bg, hub) = (census(ScaleRun.edges(spark, n, hub = false)), census(ScaleRun.edges(spark, n)))
    val added = hub.getLong(2) - bg.getLong(2)
    val d = hub.getLong(1) - bg.getLong(1)
    val meanDegree = 2.0 * bg.getLong(1) / bg.getLong(0)
    info(f"hub of degree $d adds $added wedges to ${bg.getLong(2)} (mean degree $meanDegree%.1f)")
    cp(assert(added <= d * meanDegree, s"the hub added $added wedges at degree $d"))
    cp.reportAll()
  }

  test("air-quality pipeline: each stage runs the same jobs at S and 4S stations, and its shuffle grows linearly") {
    val stages = Seq(6, 24).map { stations =>
      val raw = etl.Synth.airQuality(spark, stations, 24 * 7)
      val out = java.nio.file.Files.createTempDirectory("graft_scale").toString
      val t = measure(etl.AirQualityPipeline.transform(raw))
      val land = counted(spark)(etl.AirQualityPipeline.landThenRead(spark, t.value, out))
      val daily = measure(etl.AirQualityPipeline.dailySummary(land.value).collect())
      Seq("transform" -> t, "land" -> land, "daily summary" -> daily)
    }
    val cp = new Checkpoint
    for (((stage, small), (_, large)) <- stages(0).zip(stages(1))) {
      info(s"$stage: jobs ${small.jobs} -> ${large.jobs}")
      cp(assert(large.jobs == small.jobs, s"$stage: jobs ${small.jobs} -> ${large.jobs}"))
      cp(linear(s"$stage shuffle bytes", small.shuffleBytes, large.shuffleBytes))
    }
    cp.reportAll()
  }
}
