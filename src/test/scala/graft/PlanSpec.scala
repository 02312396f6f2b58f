package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression tests: the physical plans the queries compile
  * to ARE part of the contract at 100 TB — a silent fallback from
  * broadcast to sort-merge, or a lost column pruning, is a perf bug even
  * while results stay correct.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q20 star join: dimensions broadcast, no sort-merge join") {
    val p = planOf("q20_join_mstar")
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!p.contains("SortMergeJoin"), s"no SMJ expected:\n$p")
  }

  test("q01 scan is column-pruned to the three needed columns") {
    val p = planOf("q01_agg_daily")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("ts") && read.contains("event_type") && read.contains("value"))
    assert(!read.contains("props") && !read.contains("user_id"),
      s"unexpected columns in scan: $read")
  }

  test("q08 per-row projection is a single Project over the scan, no aggregation shuffle") {
    // (AQE's pre-execution plan string hides WholeStageCodegen spans, so
    // assert on shape: Project directly over FileScan, only the output
    // sort's range exchange present.)
    val p = planOf("q08_composite_index")
    assert(!p.contains("HashAggregate"), s"no aggregation expected:\n$p")
    assert(p.linesIterator.count(_.trim.startsWith("+- Exchange")) <= 1,
      s"only the sort exchange expected:\n$p")
  }

  test("q37 cosine top-k: query side broadcast, corpus not shuffled before join") {
    // the scoring kernel's query child is the broadcast
    val plan = SparkEntry.queries("q37_cosine_topk")(spark, sfDir).queryExecution.executedPlan
    val kernels = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(plan) { case e: plans.ExactTopKExec => e }
    assert(kernels.size == 1 && kernels.head.queries.isInstanceOf[
      org.apache.spark.sql.execution.exchange.BroadcastExchangeExec],
      s"queries must broadcast into the kernel:\n$plan")
  }

  test("q04 IQR clip: AQE broadcasts the group bounds at runtime (no static hint)") {
    // the bounds side carries no static broadcast hint (generic operator,
    // unbounded group key at other call sites) — so the assertion is on
    // the FINAL adaptive plan after execution: AQE must have observed the
    // tiny bounds side and picked the broadcast join.
    val df = SparkEntry.queries("q04_outlier_iqr")(spark, sfDir)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"bounds join must broadcast at runtime:\n$p")
  }

  test("per-group-stats operators carry no static broadcast hint (impute/clip/zscore)") {
    // same policy as q49/q44: the stats side is one row per group, but
    // the operators are generic over the group key — a forced hint would
    // be a driver OOM for a high-cardinality caller. AQE decides.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    for (q <- Seq("q04_outlier_iqr", "q17_zscore_anomaly", "q18_impute_mean")) {
      val analyzed = SparkEntry.queries(q)(spark, sfDir).queryExecution.analyzed
      val hints = analyzed.collect { case h: ResolvedHint => h }
      assert(hints.isEmpty, s"$q carries a static broadcast hint:\n$analyzed")
    }
  }

  test("upsertBatch merge carries no static broadcast hint (backfill batches are unbounded)") {
    // the documented replay/backfill path (a Stream.sink started with
    // Trigger.AvailableNow) feeds whole tables through upsertBatch — a
    // forced broadcast of the batch key set is the same unbounded-side
    // static hint banned for q49/q44. AQE still broadcasts small
    // micro-batches at runtime.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import spark.implicits._
    val existing = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "ver")
    val batch = Seq((2L, "b2", 2L)).toDF("k", "v", "ver")
    val analyzed = streaming.EventStream.mergePlan(existing, batch, Seq("k"))
      .queryExecution.analyzed
    val hints = analyzed.collect { case h: ResolvedHint => h }
    assert(hints.isEmpty, s"upsert merge carries a static broadcast hint:\n$analyzed")
  }

  test("date-partitioned writes give partition pruning on filtered reads") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val ev = Tables.events(spark, sfDir)
      .withColumn("date", org.apache.spark.sql.functions.to_date(org.apache.spark.sql.functions.col("ts")))
    sources.Io.writeParquet(ev, s"$tmp/by_date", partitionBy = Seq("date"))
    val filtered = spark.read.parquet(s"$tmp/by_date")
      .filter("date = DATE'2024-01-05'")
    val scan = filtered.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("2024-01-05") || scan.contains("isnotnull(date"),
      s"expected partition filter in scan, got: $scan")
    assert(filtered.count() > 0)
  }

  test("q49/q44: no static broadcast hint on unbounded-cardinality sides") {
    // per-user cohorts and vocabularies grow with the data — a forced
    // broadcast hint is a driver OOM at 100 TB. AQE may still choose
    // broadcast at runtime when a side actually fits; what must not exist
    // is the static hint in the plan.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, ResolvedHint}
    for (q <- Seq("q49_retention", "q44_tfidf")) {
      val analyzed = SparkEntry.queries(q)(spark, sfDir).queryExecution.analyzed
      val badHints = analyzed.collect {
        // a hint is acceptable only on a provably single-row side
        // (global aggregate with no grouping — e.g. the corpus count N)
        case h: ResolvedHint if !(h.child match {
          case a: Aggregate => a.groupingExpressions.isEmpty
          case _            => false
        }) => h
      }
      assert(badHints.isEmpty,
        s"$q carries a static broadcast hint on an unbounded side:\n$analyzed")
    }
  }

  test("q39 LSH multi-probe explode runs on the query subset, not the corpus index") {
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
    val plan = SparkEntry.queries("q39_ann_lsh")(spark, sfDir).queryExecution.optimizedPlan
    // the probe explode must sit ABOVE the join to the query ids — i.e.
    // there exists a Generate whose subtree contains a Join. (The corpus
    // side's bucket explode has no join below it.)
    val probeAboveFilter = plan.collect {
      case g: Generate if g.child.collect { case j: Join => j }.nonEmpty => g
    }
    assert(probeAboveFilter.nonEmpty,
      s"multi-probe explode is not downstream of the query-id filter:\n$plan")
  }

  test("q67 binned range join plans as an equi-join — no BroadcastNestedLoopJoin") {
    // a bare BETWEEN join would plan as BNLJ (points × intervals); the
    // binning must restore a keyed join with the exact predicate as a
    // post-join filter
    val p = planOf("q67_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated to all-pairs:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"expected an equi join on the bin key:\n$p")
  }

  test("MinHash dedup pipeline: every join is keyed — no cartesian/nested-loop stage") {
    // the O(n·bands) contract of the scale path: candidates come from a
    // band-bucket EQUI self-join and verification from id equi-joins; a
    // cartesian or broadcast-nested-loop node anywhere means the plan
    // degenerated to all-pairs
    val docs = Tables.documents(spark, sfDir)
    val sets = dedup.NGramJaccard.shingleSets(docs, "doc_id", "text", 3)
    val plan = dedup.MinHashLsh.pairsPlan(sets, "doc_id", minJaccard = 0.8)
      .queryExecution.sparkPlan
    val planStr = plan.toString
    assert(!planStr.contains("CartesianProduct") && !planStr.contains("BroadcastNestedLoopJoin"),
      s"dedup pipeline must stay keyed:\n$planStr")
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec, BroadcastHashJoinExec}
    val joins = plan.collect {
      case j: SortMergeJoinExec     => j.leftKeys
      case j: ShuffledHashJoinExec  => j.leftKeys
      case j: BroadcastHashJoinExec => j.leftKeys
    }
    assert(joins.nonEmpty && joins.forall(_.nonEmpty),
      s"expected keyed joins in the candidate/verify stages:\n$planStr")
  }

  test("as-of join: left-side filter pushes below the union-window") {
    import org.apache.spark.sql.catalyst.plans.logical
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, sfDir).select(col("event_id"), col("user_id"), col("ts"))
    val o = Tables.orders(spark, sfDir)
    val joined = operators.AsOfJoin.latestAtOrBefore(ev, o,
      "user_id", "o_custkey", "ts", "o_orderdate", "o_orderdate", "asof_date")
      .filter(col("event_id") < 100)
    val opt = joined.queryExecution.optimizedPlan
    val windows = opt.collect { case w: logical.Window => w }
    assert(windows.nonEmpty, s"expected expanded window plan:\n$opt")
    // the event_id predicate must appear BELOW the window (inside the
    // union's left branch), not above it
    val below = windows.head.collectFirst {
      case f: logical.Filter if f.condition.references.exists(_.name == "event_id") => f
    }
    assert(below.nonEmpty, s"left filter not pushed below the as-of window:\n$opt")
    val above = opt.collectFirst {
      case f: logical.Filter
        if f.condition.references.exists(_.name == "event_id") &&
          f.collectFirst { case w: logical.Window => w }.nonEmpty => f
    }
    assert(above.isEmpty, s"left filter still evaluated above the window:\n$opt")
  }

  test("multi-column interpolation shares ONE keyed shuffle across all 7 columns") {
    val raw = etl.Synth.airQuality(spark, 2, 48)
    val out = etl.Clean.interpolateLinear(raw, "station", Seq("ts", "reading_id"),
      etl.AirQualityPipeline.numericCols, maxGap = 3)
    val p = out.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"expected one shared shuffle for all columns, got $exchanges:\n$p")
    // one ascending sort (row index + every "prev" aggregate) and one
    // descending (every "next" aggregate), however many columns
    val sorts = p.linesIterator.count(_.matches(""".*\bSort \[.*"""))
    assert(sorts == 2, s"expected 2 sorts for all columns, got $sorts:\n$p")
  }

  test("IQR clipping over a frame clustered on its key plans no join and no new shuffle") {
    // the air-quality transform clips right after the interpolation,
    // whose windows leave the rows hash-partitioned on the station
    val interpolated = etl.Clean.interpolateLinear(etl.Synth.airQuality(spark, 2, 48),
      "station", Seq("ts", "reading_id"), etl.AirQualityPipeline.numericCols, maxGap = 3)
    val p = etl.Clean.clipOutliersIqr(interpolated, Seq("station"), Seq("pm25", "no2"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"clustered input still joined to its bounds:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"clipping re-shuffled the clustered input:\n$p")
  }

  test("incremental delta join: bands index scan is bucketed, no Exchange up to the join") {
    // the "index never re-shuffles" claim of IncrementalDedup: the
    // candidate join must consume the bands table's bucket layout
    // directly — only the (small) delta side may shuffle. Dropping the
    // bucketing in writeIndex/appendToIndex fails this spec.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .filter(col("doc_id") < 80)
    dedup.IncrementalDedup.writeIndex(docs, "doc_id", "text", "planidx", buckets = 2)
    val delta = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
    val dSets = dedup.NGramJaccard.shingleSets(delta, "doc_id", "text", 3)
    val dBands = dedup.MinHashLsh.bandRows(dSets, "doc_id", 128, 32)
    val plan = dedup.IncrementalDedup.pairsPlan(spark, dSets, dBands, "doc_id", "planidx", 0.8)
      .queryExecution.sparkPlan
    val scans = plan.collect {
      case s: FileSourceScanExec
        if s.relation.bucketSpec.exists(_.bucketColumnNames == Seq("bh")) => s
    }
    assert(scans.nonEmpty, s"bands index scan missing or lost its bucket spec:\n$plan")
    assert(scans.forall(_.bucketedScan), s"bands scan not reading its buckets:\n$plan")
    def path(node: SparkPlan, target: SparkPlan): Option[List[SparkPlan]] =
      if (node eq target) Some(List(node))
      else node.children.view.flatMap(c => path(c, target)).headOption.map(node :: _)
    def isJoin(p: SparkPlan) = p match {
      case _: SortMergeJoinExec | _: ShuffledHashJoinExec | _: BroadcastHashJoinExec => true
      case _ => false
    }
    scans.foreach { scan =>
      val p = path(plan, scan).getOrElse(fail(s"scan unreachable in plan:\n$plan"))
      val joinIdx = p.lastIndexWhere(isJoin)
      assert(joinIdx >= 0, s"no join above the bands scan:\n$plan")
      assert(!p.drop(joinIdx).exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"index side re-shuffles between candidate join and bucketed scan:\n$plan")
    }
  }

  test("substringSpans plan: hashed 8-byte shingle keys on the wire, no nested-loop join, one window") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.LongType
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").filter(col("doc_id") < 50)
    val toks = org.apache.spark.sql.functions.split(col("text"), " ")
    val sh = docs
      .select(col("doc_id"), toks.as("__toks"))
      .filter(org.apache.spark.sql.functions.size(col("__toks")) >= 8)
      .select(col("doc_id"), org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.sequence(
          org.apache.spark.sql.functions.lit(0),
          org.apache.spark.sql.functions.size(col("__toks")) - 8)).as("pos"), col("__toks"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        org.apache.spark.sql.functions.xxhash64(org.apache.spark.sql.functions.concat_ws(" ",
          org.apache.spark.sql.functions.slice(col("__toks"), col("pos") + 1,
            org.apache.spark.sql.functions.lit(8)))).as("sh"))
    val plan = text.Corpus.spansPlan(sh, "doc_id", 8, 2).queryExecution.sparkPlan
    // every shingle-keyed operator (duplicated-gram agg, semi-join) works
    // on the 8-byte hash, never k-token strings — the keys that hit the
    // wire when EnsureRequirements places the exchanges
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec if j.joinType.sql == "LEFT SEMI" => j
    }
    assert(joins.nonEmpty, s"duplicated-gram semi-join missing:\n$plan")
    joins.foreach { j =>
      assert(j.leftKeys.map(_.dataType) == Seq(LongType),
        s"semi-join keys ${j.leftKeys.map(_.dataType)}, want hashed LongType:\n$plan")
    }
    val shAggs = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if a.groupingExpressions.exists(_.references.exists(_.name == "sh")) => a
    }
    assert(shAggs.nonEmpty, s"duplicated-gram aggregation missing:\n$plan")
    shAggs.foreach { a =>
      val dt = a.groupingExpressions.flatMap(_.references).find(_.name == "sh").map(_.dataType)
      assert(dt.contains(LongType), s"gram agg groups on $dt, want LongType:\n$plan")
    }
    assert(plan.collect { case b: BroadcastNestedLoopJoinExec => b }.isEmpty,
      s"span pipeline must never nested-loop:\n$plan")
    // island merge + final span agg ride ONE doc-keyed partitioning
    val windows = plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.size == 1, s"expected exactly one window (island ranking):\n$plan")
  }

  test("q71 IVF-PQ: probe-cell join sits below the code explosion — no full-corpus ADC scan") {
    // the scale contract of IVF-PQ: the per-code m-way row blowup
    // (posexplode) and the ADC lookup must only ever see rows already
    // restricted to the queries' probed cells, so the Generate node has
    // the probe join in its subtree — not the other way around
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
    val plan = SparkEntry.queries("q71_ivfpq_topk")(spark, sfDir).queryExecution.optimizedPlan
    val probeBelowExplode = plan.collect {
      case g: Generate if g.child.collect { case j: Join => j }.nonEmpty => g
    }
    assert(probeBelowExplode.nonEmpty,
      s"code explosion is not restricted by the probe join:\n$plan")
  }

  test("aggregations are partial+final (map-side combine present)") {
    val p = planOf("q01_agg_daily")
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final HashAggregate, got $aggs:\n$p")
  }

  test("IncrementalAnn append gate: bucketed ids scan feeds the anti-join with no Exchange") {
    // the "anti-join never shuffles the big side" claim: the ids table
    // is bucketed by id, so the replay gate must consume its layout
    // directly — only the (small) delta may shuffle. Losing the
    // bucketing in writeIndex fails this spec.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    sim.IncrementalAnn.writeIndex(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", "planann", kCoarse = 2, iters = 1, buckets = 2)
    val delta = emb.filter(col("vec_id") % 2 === 1)
    val gate = delta
      .select(col("vec_id").cast("long").as("id"), col("embedding").as("vec"))
      .join(spark.table("planann_ids"), Seq("id"), "left_anti")
    val plan = gate.queryExecution.sparkPlan
    val idScans = plan.collect {
      case s: FileSourceScanExec
        if s.relation.bucketSpec.exists(_.bucketColumnNames == Seq("id")) => s
    }
    assert(idScans.nonEmpty && idScans.forall(_.bucketedScan),
      s"ids scan missing or not reading its buckets:\n$plan")
    def path(node: SparkPlan, target: SparkPlan): Option[List[SparkPlan]] =
      if (node eq target) Some(List(node))
      else node.children.view.flatMap(c => path(c, target)).headOption.map(node :: _)
    idScans.foreach { s =>
      val p = path(plan, s).getOrElse(Nil)
      assert(!p.exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"ids table re-shuffles above its bucketed scan:\n$plan")
    }
  }

  test("IncrementalAnn search: cells scan carries the pushed IN(cell) probe filter") {
    // the scaladoc's "a query's probe join touches only its probed
    // cells' buckets" contract: the probed cell ids are a driver-side
    // constant, so they must reach the cells scan as a pushed literal
    // IN (bucket + row-group pruning) — a broadcast join on cell would
    // only drop rows AFTER the full-width (id, vec, cell) scan.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    sim.IncrementalAnn.writeIndex(emb, "vec_id", "embedding", "planann2",
      kCoarse = 4, iters = 1, buckets = 2)
    val queries = emb.filter(col("vec_id") < 3)
    val res = sim.IncrementalAnn.topK(spark, queries, "vec_id", "embedding",
      "planann2", k = 3, nprobe = 2)
    val plan = res.queryExecution.sparkPlan
    val cellScans = plan.collect {
      case s: FileSourceScanExec
        if s.relation.bucketSpec.exists(_.bucketColumnNames == Seq("cell")) => s
    }
    assert(cellScans.nonEmpty, s"no bucketed cells scan in the search plan:\n$plan")
    cellScans.foreach { s =>
      val pushed = s.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains("In(cell"),
        s"cells scan lacks the pushed IN(cell) probe filter — " +
          s"pushed=[$pushed]:\n$plan")
    }
    // and the restriction must be REAL: with nprobe < kCoarse the scan
    // must not enumerate every cell id
    assert(res.count() > 0)
  }

  test("TableDiff over key-bucketed snapshots: full-outer SMJ with ZERO Exchange") {
    // the "100 TB reconciliation that shuffles nothing" claim: both
    // snapshots bucketed by the key must feed the full-outer join
    // through their layout — any ShuffleExchange means the diff
    // re-partitions a table-sized input
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    // the in-memory metastore forgets tables between JVMs but their
    // warehouse dirs survive — clear them so saveAsTable can recreate
    for (t <- Seq("diff_a", "diff_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) { dir.listFiles().foreach(_.delete()); dir.delete() }
    }
    val o = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    sources.Io.writeBucketed(o, "diff_a", "o_orderkey", 4)
    sources.Io.writeBucketed(o.filter(col("o_orderkey") % 7 =!= 0),
      "diff_b", "o_orderkey", 4)
    val d = operators.TableDiff.diff(spark.table("diff_a"),
      spark.table("diff_b"), Seq("o_orderkey"))
    val shuffles = d.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      s"bucketed diff must not shuffle:\n${d.queryExecution.sparkPlan}")
    assert(d.count() > 0)
  }

  test("IncrementalCC lookups: pushed In(id) on id-sorted files; In(comp) bucket-prunes") {
    // mergeEdges' two log lookups must be pushed-literal scans, not
    // full-log scans behind a broadcast join: the endpoint lookup
    // carries In(id, …) into the parquet scan (files id-sorted within
    // buckets → row-group stats pruning), and the members pull carries
    // In(comp, …) on the bucket column → bucket pruning reads only the
    // touched components' buckets
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    val edges = {
      import spark.implicits._
      Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("a", "b")
    }
    operators.IncrementalCC.writeLabels(edges, "a", "b", "plancc", buckets = 4)
    def scanOf(df: org.apache.spark.sql.DataFrame) = {
      val scans = df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.size == 1, s"expected one scan:\n${df.queryExecution.sparkPlan}")
      scans.head
    }
    val idScan = scanOf(operators.IncrementalCC.rootsOf(spark, "plancc", Seq(2L, 11L)))
    assert(idScan.metadata.getOrElse("PushedFilters", "").contains("In(id"),
      s"endpoint lookup lacks the pushed In(id) filter: ${idScan.metadata}")
    assert(idScan.relation.bucketSpec.exists(_.sortColumnNames == Seq("id")),
      "labels files must be id-sorted for row-group stats pruning")
    val compScan = scanOf(operators.IncrementalCC.membersOf(spark, "plancc", Seq(1L, 20L)))
    assert(compScan.metadata.getOrElse("PushedFilters", "").contains("In(comp"),
      s"members pull lacks the pushed In(comp) filter: ${compScan.metadata}")
    assert(compScan.optionalBucketSet.exists(_.cardinality() < 4),
      s"In(comp) must bucket-prune the comp-bucketed log " +
        s"(selected=${compScan.optionalBucketSet.map(_.cardinality())})")
  }

  test("Intervals.mergeIntervals: ONE shuffle — closing groupBy reuses the window's key distribution") {
    // HashPartitioning(user_id) satisfies ClusteredDistribution(user_id,
    // __island), so the island aggregation must NOT add an Exchange on
    // top of the window's: a second shuffle here would double the
    // network cost of every 100 TB coverage query.
    import org.apache.spark.sql.functions.{col, expr}
    val iv = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts").as("s"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("e"))
    val merged = operators.Intervals.mergeIntervals(iv, Seq("user_id"), "s", "e")
    val p = merged.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly one Exchange:\n$p")
  }

  test("Intervals.gaps / coverage: derived surfaces add NO second shuffle") {
    // everything after mergeIntervals partitions by the same key, so the
    // gap window and the coverage groupBy must ride the island sweep's
    // HashPartitioning(user_id) — a second Exchange would re-shuffle the
    // (already reduced) island rows for nothing.
    import org.apache.spark.sql.functions.{col, expr}
    val iv = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts").as("s"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("e"))
    for (df <- Seq(operators.Intervals.gaps(iv, Seq("user_id"), "s", "e"),
        operators.Intervals.coverage(iv, Seq("user_id"), "s", "e"))) {
      val p = df.queryExecution.executedPlan.toString
      val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges == 1, s"expected exactly one Exchange:\n$p")
    }
  }

  test("mannWhitneyU / acf / quantileBins / cusum: closing agg reuses the window partitioning") {
    // each operator's final groupBy keys on the SAME columns its window
    // partitioned by — the aggregated/window rows must not re-shuffle.
    // Budget: mannWhitney 2 Exchanges ((key,value) reduce + key window),
    // acf/quantileBins 1 (key window only), cusum 2 (ref-stats agg +
    // key window; the stats join is broadcast, not shuffled).
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, sfDir)
    val cases: Seq[(String, org.apache.spark.sql.DataFrame, Int)] = Seq(
      ("mannWhitneyU",
        etl.Aggregates.mannWhitneyU(ev, Seq("event_type"),
          col("user_id") % 2 === 0, col("value")), 2),
      ("acf",
        etl.Aggregates.acf(ev, Seq("event_type"), col("ts"),
          col("event_id"), col("value"), Seq(1, 2)), 1),
      ("quantileBins",
        etl.Features.quantileBins(ev, Seq("event_type"), "value",
          "event_id", 10), 1),
      ("cusum",
        etl.Drift.cusum(ev, Seq("event_type"), "value", col("ts"),
          col("event_id"), col("user_id") % 2 === 0), 2))
    for ((name, df, budget) <- cases) {
      val p = df.queryExecution.executedPlan.toString
      val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges <= budget,
        s"$name: expected <= $budget Exchanges, got $exchanges:\n$p")
    }
  }

  test("histQuantiles / hopping windows: bounded shuffle budget") {
    // histSketch: one Exchange for the ranges agg + one for the
    // (key, slice, bin) count (the ranges JOIN is broadcast);
    // histQuantiles adds exactly one more — a repartition by key that
    // the merge agg, cum window, and closing agg all ride.
    // hopping: window() explodes map-side, ONE Exchange for the agg.
    import org.apache.spark.sql.functions.{col, to_date, window}
    val ev = Tables.events(spark, sfDir)
    val sk = etl.Aggregates.histSketch(
      ev.withColumn("day", to_date(col("ts"))),
      Seq("event_type"), "day", "value", bins = 100)
    val hq = etl.Aggregates.histQuantiles(sk, Seq("event_type"), Seq(0.5))
    val hqEx = hq.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hqEx <= 3, s"histQuantiles: expected <= 3 Exchanges, got $hqEx")
    val hop = ev.groupBy(col("event_type"),
        window(col("ts"), "2 hours", "1 hour").as("w"))
      .count()
    val hopEx = hop.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hopEx == 1, s"hopping: expected one Exchange, got $hopEx")
  }

  test("AsOfJoin.nearestWithin: both direction windows ride ONE key Exchange") {
    // forward is the backward traversal in reverse order over the SAME
    // hash partitioning — EnsureRequirements must plan one Exchange and
    // two sorts, never a second shuffle (and never a join).
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val near = operators.AsOfJoin.nearestWithin(ev,
      Tables.orders(spark, sfDir), "user_id", "o_custkey", "ts",
      "o_orderdate", "o_totalprice", "np", toleranceSecs = 86400L)
    val p = near.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly one Exchange:\n$p")
    assert(!p.contains("Join"), s"nearest as-of must not plan a join:\n$p")
    assert(p.linesIterator.count(_.trim.matches(".*\\bSort \\[.*")) >= 2,
      s"expected a sort per direction:\n$p")
  }

  test("vocabCoverage: the scoring join broadcasts the bounded vocab") {
    // the top-K vocab is K rows by construction — a shuffled join here
    // would re-shuffle the whole token corpus against 500 rows.
    import org.apache.spark.sql.functions.col
    val vc = text.Corpus.vocabCoverage(
      Tables.documents(spark, sfDir), "doc_id", "text", vocabSize = 500)
    val p = vc.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"vocab join must broadcast:\n$p")
  }

  test("band/overlap/attribution/winnow-pairs joins stay keyed — no all-pairs stage") {
    // each of these REPLACES a nested-loop-shaped predicate (band,
    // interval overlap, time window, shared fingerprint) with an equi
    // join on a derived key; a BNLJ/Cartesian node anywhere means the
    // derivation silently degenerated to all-pairs at 100 TB
    for (q <- Seq("q194_band_join", "q189_interval_overlap",
        "q193_attribution", "q185_winnow_pairs")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to all-pairs:\n$p")
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
        p.contains("ShuffledHashJoin"), s"$q: expected an equi join:\n$p")
    }
  }

  test("spearman / weightedMedian / tailStats: ONE keyed Exchange end-to-end") {
    // window(s) partition by the key and the closing agg groups by the
    // same key — HashPartitioning(key) must be planned ONCE; a second
    // Exchange would re-shuffle rows the window already placed
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, sfDir)
    val plans = Seq(
      etl.Aggregates.spearman(ev, Seq("event_type"), col("value"),
        col("user_id").cast("double")),
      etl.Aggregates.weightedMedian(ev, Seq("event_type"), "value",
        "event_id"),
      etl.Aggregates.tailStats(ev, Seq("event_type"), "value",
        col("event_id"), p = 0.95))
    for (df <- plans) {
      val p = df.queryExecution.executedPlan.toString
      val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges == 1, s"expected exactly one Exchange:\n$p")
    }
  }

  test("Rules.check and Profile.profile evaluate in one scan (single Expand aggregation)") {
    val ev = Tables.events(spark, sfDir)
    for (df <- Seq(
        etl.Rules.check(ev, Seq(etl.Rules.NotNull("value"),
          etl.Rules.Unique(Seq("event_id")))),
        etl.Profile.profile(ev, Seq("event_type", "value")))) {
      val scans = df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
      }
      assert(scans.length == 1, s"must scan the table once:\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("Drift: corpus-scale aggs reduce BEFORE the per-key windows") {
    // ksTest's first shuffle keys on (key, value) — fine-grained, skew-
    // free reduction of the raw rows; only the reduced distinct-value
    // rows re-shuffle to the per-key windows. The window input must be
    // an Aggregate, never the raw scan (a window directly over the
    // corpus would funnel every row of a key through one task at scale).
    import org.apache.spark.sql.functions.col
    val ks = etl.Drift.ksTest(Tables.events(spark, sfDir),
      Seq("event_type"), "value", col("user_id") % 2 === 0)
    val plan = ks.queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty)
    for (w <- windows)
      assert(w.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty, s"window must sit above the reducing aggregate:\n$plan")
  }
}
