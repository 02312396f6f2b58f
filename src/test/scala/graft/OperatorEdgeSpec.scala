package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge-case semantics for the cleaning / join / dedup operators. */
class OperatorEdgeSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("LoopBroadcastScope drops earlier rounds' broadcasts, keeps pre-loop and current ones") {
    import org.apache.spark.GraftSparkShims
    val sc = spark.sparkContext
    def bids() = GraftSparkShims.broadcastIds(sc)
    def bcastAction(): Set[Long] = {
      // force a fresh BroadcastExchange: a join whose build side is an
      // explicit broadcast() over a derived (non-reusable) frame
      val n = scala.util.Random.nextInt(1000000)
      val big = spark.range(2000).toDF("id")
      val small = spark.range(5).toDF("id").withColumn("x", lit(n))
      val pre = bids()
      big.join(broadcast(small), "id").count()
      bids() -- pre
    }
    val preLoop = bcastAction() // a broadcast alive BEFORE the scope
    assert(preLoop.nonEmpty, "test harness: no broadcast created")
    val scope = Blocks.loopBroadcastScope(spark)
    scope.roundStart()
    val round1 = bcastAction()
    assert(round1.nonEmpty)
    // base exclusion: pre-loop broadcasts are NEVER the scope's to drop
    // (asserted via the drop COUNT, not block presence — the
    // ContextCleaner may reap unreachable broadcasts on its own at any
    // GC, so absolute block-state assertions are inherently racy)
    assert(scope.roundEnd() == 0, "round 1 must drop nothing")
    scope.roundStart()
    val round2 = bcastAction()
    val dropped = scope.roundEnd()
    assert(dropped >= round1.size, s"round 2 should drop round 1's (${round1.size}), dropped $dropped")
    // the current round's broadcasts were not selected for the drop
    assert(round2.subsetOf(bids()), "current round's broadcasts must survive roundEnd")
    // removal is non-blocking: poll briefly for round 1's blocks to go
    val deadline = System.currentTimeMillis() + 10000
    while (bids().intersect(round1).nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(bids().intersect(round1).isEmpty, "round 1 broadcasts must be gone")
  }

  test("Tables.spread refuses a shuffled input and passes a parallel scan unchanged") {
    val scan = spark.range(0, 1000, 1, numPartitions = 8).toDF("id")
    assert(Tables.spread(scan, "id") eq scan, "an already-parallel scan is a no-op")
    val narrow = spark.range(0, 1000, 1, numPartitions = 1).toDF("id").filter(col("id") > 5)
    assert(Tables.spread(narrow, "id").rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    val e = intercept[IllegalArgumentException] {
      Tables.spread(scan.groupBy((col("id") % 10).as("k")).count(), "k")
    }
    assert(e.getMessage.contains("scan-rooted"), e.getMessage)
    intercept[IllegalArgumentException](Tables.spread(scan.repartition(2), "id"))
  }

  test("interpolateLinear: leading nulls stay null, trailing forward-fill, limit respected") {
    val df = Seq(
      ("a", 1, None: Option[Double]), // leading null → stays null
      ("a", 2, Some(10.0)),
      ("a", 3, None), ("a", 4, None), // interior gap of 2 → filled
      ("a", 5, Some(40.0)),
      ("a", 6, None),                 // trailing → forward-fill
      ("b", 1, None), ("b", 2, None)  // all-null group → all null
    ).toDF("k", "o", "v")
    val out = etl.Clean.interpolateLinear(df, "k", Seq("o"), "v", maxGap = 3)
      .orderBy("k", "o").select("v").as[Option[Double]].collect()
    assert(out.toSeq == Seq(None, Some(10.0), Some(20.0), Some(30.0), Some(40.0), Some(40.0), None, None))
  }

  test("interpolateLinear: gap longer than maxGap fills only the first maxGap rows") {
    val df = Seq(("a", 1, Some(0.0)), ("a", 2, None: Option[Double]), ("a", 3, None),
      ("a", 4, None), ("a", 5, None), ("a", 6, Some(10.0))).toDF("k", "o", "v")
    val out = etl.Clean.interpolateLinear(df, "k", Seq("o"), "v", maxGap = 2)
      .orderBy("o").select("v").as[Option[Double]].collect()
    // positions 2,3 within limit (interpolated against the far endpoint), 4,5 beyond
    assert(out.toSeq == Seq(Some(0.0), Some(2.0), Some(4.0), None, None, Some(10.0)))
  }

  test("AsOfJoin: no earlier right row yields null carry") {
    val l = Seq((1L, "2024-01-05 00:00:00"), (2L, "2024-01-01 00:00:00"))
      .toDF("k", "t").withColumn("t", to_timestamp(col("t")))
    val r = Seq((1L, "2024-01-03 00:00:00"), (1L, "2024-01-04 00:00:00"))
      .toDF("k", "rt").withColumn("rt", to_timestamp(col("rt")))
    val out = operators.AsOfJoin.latestAtOrBefore(l, r, "k", "k", "t", "rt", "rt", "asof")
      .orderBy("k").select(col("k"), col("asof").cast("string")).collect()
    assert(out(0).getString(1) == "2024-01-04 00:00:00") // latest of the two
    assert(out(1).isNullAt(1)) // key 2: no right rows at all → null
  }

  test("AsOfJoin Catalyst path equals the explicit DataFrame formulation") {
    val ev = Tables.events(spark, sfDir).select(col("event_id"), col("user_id"), col("ts"))
    val o = Tables.orders(spark, sfDir)
    val planned = operators.AsOfJoin.latestAtOrBefore(ev, o,
      "user_id", "o_custkey", "ts", "o_orderdate", "o_orderdate", "asof_date")
    val df = operators.AsOfJoin.latestAtOrBeforeDF(ev, o,
      "user_id", "o_custkey", "ts", "o_orderdate", "o_orderdate", "asof_date")
    assert(planned.exceptAll(df).isEmpty && df.exceptAll(planned).isEmpty)
    assert(planned.count() == ev.count(), "left-outer semantics keep every left row")
  }

  test("AsOfJoin forward: earliest at-or-after, inclusive boundary, null when none later") {
    val l = Seq((1L, "2024-01-05 00:00:00"), (2L, "2024-01-09 00:00:00"))
      .toDF("k", "t").withColumn("t", to_timestamp(col("t")))
    val r = Seq((1L, "2024-01-05 00:00:00"), (1L, "2024-01-07 00:00:00"), (2L, "2024-01-08 00:00:00"))
      .toDF("k", "rt").withColumn("rt", to_timestamp(col("rt")))
    val out = operators.AsOfJoin.earliestAtOrAfter(l, r, "k", "k", "t", "rt", "rt", "next")
      .orderBy("k").select(col("k"), col("next").cast("string")).collect()
    assert(out(0).getString(1) == "2024-01-05 00:00:00", "equal instant included")
    assert(out(1).isNullAt(1), "no right row at or after → null")
  }

  test("AsOfJoin: equal timestamps are included (at-or-before)") {
    val l = Seq((1L, "2024-01-03 00:00:00")).toDF("k", "t")
      .withColumn("t", to_timestamp(col("t")))
    val r = Seq((1L, "2024-01-03 00:00:00")).toDF("k", "rt")
      .withColumn("rt", to_timestamp(col("rt")))
    val out = operators.AsOfJoin.latestAtOrBefore(l, r, "k", "k", "t", "rt", "rt", "asof")
    assert(!out.first().isNullAt(out.columns.indexOf("asof")))
  }

  test("MinHashSigAgg equals the naive per-hash-function minima") {
    val hashes = Seq(5L, 100L, 3L, 77L).toDF("h")
    val sig = hashes.agg(functions.MinHashSigAgg.minhashSig(col("h"), 8).as("sig"))
      .first().getSeq[Long](0)
    val P = 2147483647L
    val expected = (0 until 8).map { i =>
      Seq(5L, 100L, 3L, 77L).map(h => ((2L * i + 1) * h + (i.toLong * 2654435761L) % P) % P).min
    }
    assert(sig == expected)
  }

  test("SimHash: identical token multisets have hamming distance 0") {
    val docs = Seq((1L, "a b c d e"), (2L, "e d c b a"), (3L, "x y z w q")).toDF("id", "text")
    val fps = dedup.SimHash.fingerprints(docs, "id", "text").orderBy("id").collect()
    assert(fps(0).getLong(1) == fps(1).getLong(1), "order-insensitive")
    assert(fps(0).getLong(1) != fps(2).getLong(1))
  }

  test("dedupExact keeps the first row by the given ordering") {
    val df = Seq((1L, "x", 3.0), (1L, "x", 1.0), (1L, "y", 2.0)).toDF("k", "g", "v")
    val out = etl.Clean.dedupExact(df, Seq("k", "g"), Seq("v"))
      .orderBy("g").select("v").as[Double].collect()
    assert(out.toSeq == Seq(1.0, 2.0))
  }

  test("saltedSum equals plain aggregation") {
    val ev = Tables.events(spark, sfDir)
    val salted = operators.Skew.saltedSum(ev, Seq("event_type"), "value", buckets = 8)
      .select(col("event_type"), round(col("sum_value"), 6).as("s"), col("n"))
    val plain = ev.groupBy("event_type")
      .agg(round(sum(col("value")), 6).as("s"), count(lit(1)).as("n"))
      .select(col("event_type"), col("s"), col("n"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("saltedSum spreads a constant-value hot key over >1 bucket, result unchanged") {
    // The classic skew case a value-derived salt can't split: one hot key
    // whose rows all carry the same value.
    val hot = Seq.fill(1000)(("hot", 0.0)).toDF("k", "v").repartition(4)
    val spread = operators.Skew.saltedPartial(hot, Seq("k"), "v", buckets = 8)
      .select(countDistinct(col("__salt"))).first().getLong(0)
    assert(spread > 1, s"constant-value hot key landed in $spread salt bucket(s)")
    val summed = operators.Skew.saltedSum(hot, Seq("k"), "v", buckets = 8).first()
    assert(summed.getDouble(summed.fieldIndex("sum_value")) == 0.0)
    assert(summed.getLong(summed.fieldIndex("n")) == 1000L)
  }

  test("shingleSets: docs shorter than n tokens get an empty set, similarPairs doesn't throw") {
    val docs = Seq((1L, "only two"), (2L, "one"), (3L, ""),
      (4L, "a full length document with plenty of words"),
      (5L, "a full length document with plenty of words")).toDF("doc_id", "text")
    val sets = dedup.NGramJaccard.shingleSets(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id").select("n_sh").as[Long].collect()
    assert(sets.take(3).toSeq == Seq(0L, 0L, 0L), "short docs must yield empty sets")
    assert(sets(3) == 6L)
    val pairs = dedup.NGramJaccard.similarPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.5)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((4L, 5L)))
  }

  test("capped similarPairs (exact verification) equals the uncapped exact result") {
    val docs = Tables.documents(spark, sfDir)
    val uncapped = dedup.NGramJaccard.similarPairs(docs, "doc_id", "text", 3, 0.8)
    val capped = dedup.NGramJaccard.similarPairs(docs, "doc_id", "text", 3, 0.8,
      maxDocFreq = Some(100L))
    assert(capped.exceptAll(uncapped).isEmpty && uncapped.exceptAll(capped).isEmpty)
  }

  test("dedup operators release their intermediate caches (only the small result stays)") {
    val docs = Tables.documents(spark, sfDir)
    // Two-level contract: while the result is live, at most the
    // localCheckpoint'd pair/label table remains cached (never the big
    // exploded index); once the caller releases via Blocks, the session is
    // back to EXACTLY its prior persisted set — zero blocks outlive the
    // query (the Bench between-queries reset relies on this).
    def checked(label: String)(run: => Unit): Unit = {
      val before = Blocks.persistedIds(spark)
      run
      val live = spark.sparkContext.getPersistentRDDs.size - before.size
      assert(live <= 1, s"$label leaked $live cached RDDs")
      Blocks.releaseSince(spark, before)
      assert(Blocks.persistedIds(spark) == before,
        s"$label: checkpoint blocks survived Blocks.releaseSince")
    }
    checked("minhash") {
      dedup.MinHashLsh.similarPairs(docs, "doc_id", "text", 3, 0.8).count()
    }
    checked("exact path") {
      dedup.NGramJaccard.similarPairs(docs, "doc_id", "text", 3, 0.8).count()
    }
    // the iterative CC loop persists per-round label tables + the edge
    // set — all must be released except the checkpointed result
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    checked("CC") {
      operators.ConnectedComponents.minLabel(pairs, "id_a", "id_b").count()
    }
    checked("CC star") {
      operators.ConnectedComponents.starComponents(pairs, "id_a", "id_b").count()
    }
    // the LSH near-dup bucket index must be released too
    val emb = Tables.embeddings(spark, sfDir)
    checked("LSH near-dup") {
      sim.LshAnn.nearDupPairs(emb, "vec_id", "embedding", dim = 64, minCosine = 0.9).count()
    }
  }

  test("two DotProducts in one codegen stage compile (no interpreted fallback)") {
    // fixed variable names in doGenCode would redeclare and fail Janino
    // compilation; CODEGEN_ONLY turns the silent fallback into an error
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val dot = functions.VectorExpressions.vecDot _
      val out = df.select(
        (dot(col("a"), col("b")) /
          (sqrt(dot(col("a"), col("a"))) * sqrt(dot(col("b"), col("b"))))).as("cos"),
        dot(col("a"), col("b")).as("d")).first()
      assert(math.abs(out.getDouble(1) - 32.0) < 1e-9)
      assert(math.abs(out.getDouble(0) - 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))) < 1e-9)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None    => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("centroid expressions compile codegen-only and match the driver-side argmin") {
    // an interpreted fallback here would silently void the one-compile-
    // per-stage training claim — CODEGEN_ONLY makes it an error; the
    // interpreted eval path is exercised by the same assertions below
    // via a fresh non-codegen projection
    val cents = Seq(Seq(0.0, 0.0), Seq(10.0, 10.0), Seq(10.0, -10.0))
    val df = Seq(
      (1L, Array(1.0f, 1.0f)),    // → centroid 0
      (2L, Array(9.0f, 11.0f)),   // → centroid 1
      (3L, Array(11.0f, -9.0f)),  // → centroid 2
      (4L, Array(5.0f, 5.0f))     // equidistant 0/1 → tie breaks LOW (0)
    ).toDF("id", "vec")
    val want = Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 0)
    val wantD = Map(1L -> 2.0, 2L -> 2.0, 3L -> 2.0, 4L -> 50.0)
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val out = df.select(col("id"),
          functions.CentroidExpressions.nearestCentroid(col("vec"), typedLit(cents)).as("c"),
          functions.CentroidExpressions.minCentroidDist(col("vec"), typedLit(cents)).as("d"))
          .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
        assert(out.view.mapValues(_._1).toMap == want, s"[$mode] assignments")
        for ((id, (_, d)) <- out)
          assert(math.abs(d - wantD(id)) < 1e-9, s"[$mode] id=$id dist $d != ${wantD(id)}")
      } finally {
        prev match {
          case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
          case None    => spark.conf.unset("spark.sql.codegen.factoryMode")
        }
      }
    }
  }

  test("sortedIntersectCount equals array_intersect size (and compiles codegen-only)") {
    val df = Seq(
      (Array(1L, 3L, 5L, 9L), Array(2L, 3L, 5L, 10L)),     // partial overlap
      (Array[Long](), Array(1L, 2L)),                       // empty side
      (Array(7L, 8L), Array(7L, 8L)),                       // identical
      (Array(1L, 2L), Array(3L, 4L))                        // disjoint
    ).toDF("a", "b")
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val out = df.select(
        functions.SetExpressions.sortedIntersectCount(col("a"), col("b")).as("c"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("expected")).collect()
      out.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None    => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("withBlobMeta head is character-based, safe on non-ASCII text") {
    val df = Seq((1L, "héllo wörld — ünïcode")).toDF("doc_id", "text")
      .withColumn("blob", col("text").cast("binary"))
    val head = multimodal.Binary.withBlobMeta(df, "blob").select("head").first().getString(0)
    assert(head == "héllo wö", s"expected first 8 characters, got '$head'")
  }

  test("KMeans recovers planted clusters and is partition-independent") {
    // 3 well-separated centers in 8-dim; 20 points each at small offsets
    val centers = Seq(
      Array.fill(8)(10.0f),
      Array.fill(8)(-10.0f),
      Array.tabulate(8)(i => if (i % 2 == 0) 10.0f else -10.0f))
    val pts = for {
      (c, g) <- centers.zipWithIndex
      j <- 0 until 20
    } yield (g.toLong * 100 + j, g,
      c.zipWithIndex.map { case (x, i) => x + ((j * 7 + i) % 5) * 0.01f })
    val df = pts.toDF("id", "planted", "vec")
    val a2 = sim.KMeans.fitAssign(df.repartition(2), "id", "vec", k = 3, iters = 4)
      .select("id", "planted", "cluster").collect()
    // every planted group maps to exactly one learned cluster, all distinct
    val mapping = a2.groupBy(_.getInt(1)).view.mapValues(_.map(_.getInt(2)).distinct.toSeq).toMap
    assert(mapping.values.forall(_.size == 1), s"planted group split: $mapping")
    assert(mapping.values.flatten.toSet.size == 3, s"clusters merged: $mapping")
    // same assignment under a different partitioning
    val a7 = sim.KMeans.fitAssign(df.repartition(7), "id", "vec", k = 3, iters = 4)
      .select("id", "cluster").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a2m = a2.map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(a2m == a7, "assignment must not depend on partitioning")
  }

  test("KMeans parallel (k-means||) seeding also recovers planted clusters, deterministically") {
    val centers = Seq(
      Array.fill(8)(10.0f),
      Array.fill(8)(-10.0f),
      Array.tabulate(8)(i => if (i % 2 == 0) 10.0f else -10.0f))
    val pts = for {
      (c, g) <- centers.zipWithIndex
      j <- 0 until 20
    } yield (g.toLong * 100 + j, g,
      c.zipWithIndex.map { case (x, i) => x + ((j * 7 + i) % 5) * 0.01f })
    val df = pts.toDF("id", "planted", "vec")
    def run(parts: Int) = {
      val cents = sim.KMeans.fit(df.repartition(parts), "id", "vec", k = 3, iters = 4,
        seeding = "parallel")
      df.select(col("id"), col("planted"),
        sim.KMeans.assignExpr(col("vec"), cents).as("cluster")).collect()
    }
    val a = run(2)
    val mapping = a.groupBy(_.getInt(1)).view.mapValues(_.map(_.getInt(2)).distinct.toSeq).toMap
    assert(mapping.values.forall(_.size == 1), s"planted group split: $mapping")
    assert(mapping.values.flatten.toSet.size == 3, s"clusters merged: $mapping")
    val b = run(7)
    assert(a.map(r => r.getLong(0) -> r.getInt(2)).toMap ==
      b.map(r => r.getLong(0) -> r.getInt(2)).toMap,
      "k-means|| assignment must not depend on partitioning")
  }

  test("LshAnn.nearDupPairs equals brute force at its high-threshold design point") {
    // 60 deterministic pseudo-random 32-dim vectors; every third one gets
    // a tiny-perturbation twin (cosine ≈ 0.999) — the planted near-dups
    val base = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(32)(j => (((i * 37 + j * 11) % 19) - 9) / 3.0f))
    }
    val twins = base.collect { case (i, v) if i % 3 == 0 =>
      (1000L + i, v.zipWithIndex.map { case (x, j) => x + (j % 3) * 0.01f })
    }
    val df = (base ++ twins).toDF("vec_id", "embedding")
    val exact = sim.Similarity.nearDupPairs(df, "vec_id", "embedding", minCosine = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 20, s"planting failed: ${exact.size} true pairs")
    val lsh = sim.LshAnn.nearDupPairs(df, "vec_id", "embedding", dim = 32, minCosine = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"missed ${exact -- lsh}, extra ${lsh -- exact}")
  }

  test("ProductQuantizer: ADC scan + exact re-rank reaches recall@5 >= 0.8 vs brute force") {
    val emb = Tables.embeddings(spark, sfDir)
    val exact = sim.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = sim.ProductQuantizer.topK(emb, "vec_id", "embedding",
      isQuery = col("vec_id") < 10, dim = 64, k = 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pq & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall@5 = $recall (measured 0.94 at this SF)")
  }

  test("IvfPq: probed-cell ADC + exact re-rank reaches recall@5 >= 0.8, scan is probe-bounded") {
    val emb = Tables.embeddings(spark, sfDir)
    val corpusN = emb.count()
    val exact = sim.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mdl = sim.IvfPq.fit(emb, "vec_id", "embedding", dim = 64,
      kCoarse = 16, coarseIters = 3, pqIters = 3)
    def run(df: org.apache.spark.sql.DataFrame) =
      sim.IvfPq.topK(df, "vec_id", "embedding", isQuery = col("vec_id") < 10,
        dim = 64, k = 5, nprobe = 8, model = Some(mdl))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val got = run(emb)
    val recall = (got.map(t => (t._1, t._2)) & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall@5 = $recall")
    // the scan-restriction promise: what reaches the ADC scan per query is
    // a strict subset of the corpus (~nprobe/kCoarse of it), not all of it
    val qRows = emb.filter(col("vec_id") < 10).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val probes = sim.IvfPq.probeSet(spark, qRows, mdl.coarse, nprobe = 8)
    val perQ = sim.IvfPq.candidates(emb, "vec_id", "embedding", mdl, probes)
      .groupBy("query_id").count().collect().map(_.getLong(1))
    assert(perQ.length == qRows.length && perQ.forall(_ < corpusN),
      s"ADC scan not probe-bounded: max ${perQ.max} of $corpusN corpus rows")
    // same answer under a different input partitioning
    assert(run(emb.repartition(7)) == got, "result must not depend on partitioning")
  }

  test("IvfPq residual (IVFADC): residual codebooks reach recall@5 >= 0.8, deterministic") {
    // same harness as the plain path, but the codebooks quantize
    // v − c_cell and the ADC score carries the per-probe ⟨q, c_cell⟩
    // offset — the TPAMI 2011 IVFADC decomposition. Residual variance
    // ≤ corpus variance, so the same m×ksub budget must do at least as
    // well; the hard assert stays at the surface's 0.8 contract.
    val emb = Tables.embeddings(spark, sfDir)
    val exact = sim.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mdl = sim.IvfPq.fit(emb, "vec_id", "embedding", dim = 64,
      kCoarse = 16, coarseIters = 3, pqIters = 3, residual = true)
    assert(mdl.residual, "fit must record the training space in the model")
    def run(df: org.apache.spark.sql.DataFrame) =
      sim.IvfPq.topK(df, "vec_id", "embedding", isQuery = col("vec_id") < 10,
        dim = 64, k = 5, nprobe = 8, model = Some(mdl))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val got = run(emb)
    val recall = (got.map(t => (t._1, t._2)) & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"residual recall@5 = $recall")
    assert(run(emb.repartition(7)) == got, "result must not depend on partitioning")
  }

  test("connected components: chain, clique, and singleton edge all collapse to min label") {
    // chain 1-2-3-4 (diameter 3: exercises multi-round propagation),
    // triangle 10-11-12 with a pendant 13, isolated edge 20-21
    val edges = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),
      (10L, 11L), (11L, 12L), (12L, 10L), (12L, 13L),
      (21L, 20L)
    ).toDF("a", "b")
    val comp = operators.ConnectedComponents.minLabel(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L), s"got $comp")
  }

  test("connected components: partition-independent and converges on a long path") {
    val path = (1L to 12L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("a", "b")
    for (parts <- Seq(1, 7)) {
      val comp = operators.ConnectedComponents.minLabel(path.repartition(parts), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comp.size == 12 && comp.values.forall(_ == 1L),
        s"path graph must collapse to component 1 under $parts partitions: $comp")
    }
  }

  test("connected components fails loudly when the diameter exceeds maxIters") {
    val longPath = (1L to 9L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      operators.ConnectedComponents.minLabel(longPath, "a", "b", maxIters = 2)
    }
    assert(e.getMessage.contains("did not converge"),
      s"expected a loud non-convergence error, got: ${e.getMessage}")
  }

  test("star contraction converges on a >25-diameter path where minLabel's cap trips") {
    // diameter 39: past minLabel's default 25-round cap — the adversarial
    // topology the star transform exists for. O(log²n) rounds, so a tight
    // maxIters=8 must suffice where label propagation needs 39.
    val path = (1L to 40L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("a", "b")
    intercept[IllegalArgumentException] {
      operators.ConnectedComponents.minLabel(path, "a", "b") // default cap: must trip
    }
    val comp = operators.ConnectedComponents.starComponents(path, "a", "b", maxIters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 40 && comp.values.forall(_ == 1L),
      s"40-node path must collapse to component 1: $comp")
  }

  test("star contraction equals minLabel on mixed topologies, partition-independent") {
    // chain + triangle-with-pendant + isolated edge (the minLabel fixture)
    val edges = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),
      (10L, 11L), (11L, 12L), (12L, 10L), (12L, 13L),
      (21L, 20L)
    ).toDF("a", "b")
    val viaMin = operators.ConnectedComponents.minLabel(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (parts <- Seq(1, 7)) {
      val viaStar = operators.ConnectedComponents.starComponents(
        edges.repartition(parts), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaStar == viaMin, s"star vs minLabel under $parts partitions: $viaStar != $viaMin")
    }
  }

  test("binned range join equals the naive BETWEEN join, reversed intervals match nothing") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val points = Seq(
      (1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-03 12:00:00")),
      (3L, ts("2024-01-07 00:00:00")), (4L, ts("2024-02-01 00:00:00"))
    ).toDF("pid", "pt")
    val intervals = Seq(
      (100L, ts("2024-01-01 00:00:00"), ts("2024-01-04 00:00:00")), // covers 1,2
      (101L, ts("2024-01-03 00:00:00"), ts("2024-01-10 00:00:00")), // covers 2,3
      (102L, ts("2024-01-07 00:00:00"), ts("2024-01-07 00:00:00")), // point interval: 3
      (103L, ts("2024-01-09 00:00:00"), ts("2024-01-05 00:00:00"))  // reversed: nothing
    ).toDF("iid", "lo", "hi")
    for (binMicros <- Seq(3600L * 1000000L, 86400L * 1000000L, 30L * 86400L * 1000000L)) {
      val got = operators.RangeJoin.binned(points, intervals, "pt", "lo", "hi", binMicros)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 100L), (2L, 100L), (2L, 101L), (3L, 101L), (3L, 102L)),
        s"binMicros=$binMicros got $got")
    }
  }

  test("saltedJoin preserves join semantics for a skewed key") {
    val left = Tables.orders(spark, sfDir)
    val right = Tables.customer(spark, sfDir)
      .withColumnRenamed("c_custkey", "o_custkey")
    val salted = operators.Skew.saltedJoin(left, right, "o_custkey", buckets = 4)
    val plain = left.join(right, "o_custkey")
    assert(salted.count() == plain.count())
  }

  test("bucketed tables join without an exchange") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    // the in-memory metastore forgets tables between JVMs but their
    // warehouse dirs survive — clear them so saveAsTable can recreate
    for (t <- Seq("b_orders", "b_customer")) {
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        dir.listFiles().foreach(_.delete()); dir.delete()
      }
    }
    sources.Io.writeBucketed(Tables.orders(spark, sfDir), "b_orders", "o_custkey", 8)
    sources.Io.writeBucketed(
      Tables.customer(spark, sfDir).withColumnRenamed("c_custkey", "o_custkey"),
      "b_customer", "o_custkey", 8)
    val joined = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle, got:\n$plan")
    assert(joined.count() > 0)
  }

  test("validateApprox cardinality within rsd of exact") {
    val ev = Tables.events(spark, sfDir)
    val row = etl.Aggregates.validateApprox(ev, "user_id", "ts", "value").first()
    val exact = ev.select(countDistinct(col("user_id"))).first().getLong(0)
    val approx = row.getLong(row.fieldIndex("distinct_keys_approx"))
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
    assert(row.getSeq[Double](row.fieldIndex("quartiles_approx")).length == 3)
  }

  test("deterministic sampling is partition-independent and ~fraction-sized") {
    val ev = Tables.events(spark, sfDir)
    val a = etl.Sampling.deterministic(ev.repartition(2), "event_id", 0.2)
    val b = etl.Sampling.deterministic(ev.repartition(9), "event_id", 0.2)
    val idsA = a.select("event_id").as[Long].collect().sorted.toSeq
    val idsB = b.select("event_id").as[Long].collect().sorted.toSeq
    assert(idsA == idsB, "same sample set under different partitioning")
    val frac = idsA.size.toDouble / ev.count()
    assert(frac > 0.15 && frac < 0.25, s"~20% expected, got $frac")
  }

  test("stratified sampling respects per-stratum fractions") {
    val ev = Tables.events(spark, sfDir)
    val s = etl.Sampling.stratified(ev, "event_id", "event_type",
      Map("click" -> 0.5, "error" -> 0.0))
    val byType = s.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.contains("click") && !byType.contains("error"))
    assert(byType.keySet == Set("click"))
  }

  test("HLL sketches merge across groups to the global estimate") {
    val ev = Tables.events(spark, sfDir)
    val sketches = etl.Aggregates.distinctSketch(ev, "event_type", "user_id")
    assert(sketches.count() == 5)
    val est = etl.Aggregates.sketchEstimateTotal(sketches, "event_type")
      .first().getLong(0).toDouble
    val exact = ev.select(countDistinct(col("user_id"))).first().getLong(0)
    assert(math.abs(est - exact) / exact < 0.05, s"est=$est exact=$exact")
  }

  test("clipOutliersIqr leaves interior values untouched and clips extremes") {
    val vals = (1 to 100).map(_.toDouble) :+ 10000.0
    val df = vals.map(("g", _)).toDF("g", "v")
    val out = etl.Clean.clipOutliersIqr(df, Seq("g"), Seq("v"), k = 1.5)
    assert(out.agg(max(col("v"))).first().getDouble(0) < 10000.0)
    assert(out.filter(col("v") === 50.0).count() == 1)
  }

  test("clipOutliersIqr: clustered and unclustered inputs give the same rows") {
    // the window path (input already clustered on the key) and the
    // bounds-join path must agree row for row, null keys dropped by both
    val rows = (1 to 60).map(i => (if (i % 20 == 0) null else s"g${i % 3}", i.toLong,
      if (i % 7 == 0) 1000.0 * i else i.toDouble))
    val df = rows.toDF("g", "id", "v")
    val joined = etl.Clean.clipOutliersIqr(df, Seq("g"), Seq("v"), k = 1.5)
    val clustered = df.repartition(col("g"))
    assert(org.apache.spark.sql.GraftShims.clusteredOn(clustered, Seq("g")))
    assert(!org.apache.spark.sql.GraftShims.clusteredOn(df, Seq("g")))
    val windowed = etl.Clean.clipOutliersIqr(clustered, Seq("g"), Seq("v"), k = 1.5)
    assert(windowed.columns.toSeq == joined.columns.toSeq)
    assert(windowed.orderBy("id").collect().toSeq == joined.orderBy("id").collect().toSeq)
    assert(joined.count() == 57)
  }

  test("clipApproxChecked: sketch quartiles in rank band, clip decisions agree") {
    val out = etl.Clean.clipApproxChecked(Tables.events(spark, sfDir), "event_type", "value")
      .collect()
    assert(out.length == 5, s"expected 5 event_type groups, got ${out.length}")
    for (r <- out; c <- Seq("q1_ok", "q3_ok", "clip_ok")) {
      assert(r.getLong(r.fieldIndex(c)) == 1L,
        s"${r.getString(0)}: $c failed — sketch outside its accuracy contract")
    }
    // exact columns really are the exact quantiles (same values
    // clipOutliersIqr derives its bounds from)
    val exact = Tables.events(spark, sfDir).groupBy("event_type")
      .agg(expr("percentile(value, 0.25)").as("q1x"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for (r <- out) {
      val want = math.floor(exact(r.getString(0)) * 1e4 + 0.5) / 1e4
      assert(r.getDouble(r.fieldIndex("q1")) == want)
    }
  }

  test("KMeans farthest seeding engages the hash-sample above the target and still recovers") {
    // 3 planted clusters × 1800 pts = 5400 rows > the 4096 default
    // sample target — the seeding scans run on the bounded sample, and
    // the recovered clustering must be unchanged in quality and still
    // partition-independent
    val centers = Seq(Array.fill(4)(30.0f), Array.fill(4)(-30.0f),
      Array.tabulate(4)(i => if (i % 2 == 0) 30.0f else -30.0f))
    val pts = for {
      (c, g) <- centers.zipWithIndex
      j <- 0 until 1800
    } yield (g.toLong * 10000 + j, g,
      c.zipWithIndex.map { case (x, i) => x + ((j * 7 + i) % 11) * 0.01f })
    val df = pts.toDF("id", "planted", "vec")
    def run(parts: Int) = sim.KMeans.fitAssign(df.repartition(parts), "id", "vec",
      k = 3, iters = 3).select("id", "planted", "cluster").collect()
    val a = run(3)
    val mapping = a.groupBy(_.getInt(1)).view.mapValues(_.map(_.getInt(2)).distinct.toSeq).toMap
    assert(mapping.values.forall(_.size == 1), s"planted group split: $mapping")
    assert(mapping.values.flatten.toSet.size == 3, s"clusters merged: $mapping")
    val b = run(8)
    assert(a.map(r => r.getLong(0) -> r.getInt(2)).toMap ==
      b.map(r => r.getLong(0) -> r.getInt(2)).toMap,
      "sampled seeding must stay partition-independent")
  }

  test("incremental dedup: delta-vs-index pairs equal full-corpus pairs restricted to the delta") {
    val corpus = Tables.documents(spark, sfDir)
    // the delta: fresh ids (append-only contract), texts = exact copies
    // of every 7th corpus doc — planting guaranteed cross pairs so the
    // equality below can't pass vacuously
    val delta = corpus.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    // no manual warehouse cleanup: writeIndex's rebuild semantics must
    // clear both the catalog entry and any stale location itself
    dedup.IncrementalDedup.writeIndex(corpus.select("doc_id", "text"), "doc_id", "text",
      "inc", buckets = 4)
    val incr = dedup.IncrementalDedup.deltaPairs(spark, delta, "doc_id", "text",
      "inc", minJaccard = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val deltaIds = delta.select("doc_id").as[Long].collect().toSet
    val full = dedup.MinHashLsh.similarPairs(
      corpus.select("doc_id", "text").unionByName(delta), "doc_id", "text",
      n = 3, minJaccard = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val restricted = full.filter { case (a, b) => deltaIds(a) || deltaIds(b) }
    assert(restricted.nonEmpty, "planting failed — no pairs touch the delta")
    assert(incr == restricted,
      s"delta join must equal the full recompute restricted to the delta: " +
        s"missing=${restricted -- incr} extra=${incr -- restricted}")
  }

  test("incremental dedup full cycle: build → delta → append → next delta sees appended docs; replay idempotent") {
    val corpus = Tables.documents(spark, sfDir).select("doc_id", "text")
    // batch1: twins of every 11th corpus doc; batch2: twins of BATCH 1
    // docs — batch2's pairs can only be complete if appendToIndex really
    // folded batch1 in (the planted cross-batch edges are index-side)
    val batch1 = corpus.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val batch2 = batch1
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))

    dedup.IncrementalDedup.writeIndex(corpus, "doc_id", "text", "cyc", buckets = 4)
    dedup.IncrementalDedup.deltaPairs(spark, batch1, "doc_id", "text", "cyc", 0.8).count()
    dedup.IncrementalDedup.appendToIndex(batch1, "doc_id", "text", "cyc")

    val p2 = dedup.IncrementalDedup.deltaPairs(spark, batch2, "doc_id", "text", "cyc", 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b1Ids = batch1.select("doc_id").as[Long].collect().toSet
    val b2Ids = batch2.select("doc_id").as[Long].collect().toSet
    assert(p2.exists { case (a, b) => b1Ids(a) || b1Ids(b) },
      "append lost: batch2 twins of batch1 docs must pair against the index")
    val full = dedup.MinHashLsh.similarPairs(
      corpus.unionByName(batch1).unionByName(batch2), "doc_id", "text",
      n = 3, minJaccard = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val restricted = full.filter { case (a, b) => b2Ids(a) || b2Ids(b) }
    assert(p2 == restricted,
      s"post-append delta must equal the full recompute restricted to batch2: " +
        s"missing=${restricted -- p2} extra=${p2 -- restricted}")

    // at-least-once replay: re-appending batch1 must append ZERO rows to
    // either table (the anti-join gate), keeping the index byte-stable
    val setsN = spark.table("cyc_sets").count()
    val bandsN = spark.table("cyc_bands").count()
    dedup.IncrementalDedup.appendToIndex(batch1, "doc_id", "text", "cyc")
    assert(spark.table("cyc_sets").count() == setsN, "replay duplicated set rows")
    assert(spark.table("cyc_bands").count() == bandsN, "replay duplicated band rows")

    // contract enforcement: a delta that re-ingests an INDEXED id must
    // not emit a self-pair from meeting its own index rows
    val reSent = corpus.filter(col("doc_id") % 11 === 0).limit(3)
    val self = dedup.IncrementalDedup.deltaPairs(spark, reSent, "doc_id", "text", "cyc", 0.8)
      .filter(col("id_a") === col("id_b")).count()
    assert(self == 0L, "re-ingested id emitted a self-pair")
  }

  test("IncrementalAgg: full lifecycle — gate, compact, post-compact gate, crash recovery") {
    import etl.IncrementalAgg
    val keys = Seq("k")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(count("v").as("cnt"), sum("v").as("s"),
        min("v").as("mn"), max("v").as("mx"))
        .orderBy("k").collect().map(r =>
          (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    def readFolded() = IncrementalAgg.read(spark, "iaggspec")
      .select(col("k"), col("cnt"), col("s"), col("mn"), col("mx"))
      .orderBy("k").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    val base = Seq(("a", 1.0), ("a", 2.0), ("b", 10.0)).toDF("k", "v")
    val d1 = Seq(("a", 3.0), ("c", 5.0)).toDF("k", "v")
    val d2 = Seq(("b", -1.0)).toDF("k", "v")

    IncrementalAgg.writeState(base, keys, "v", "iaggspec", batchId = 0, buckets = 2)
    IncrementalAgg.appendDelta(d1, keys, "v", "iaggspec", batchId = 1)
    assert(readFolded() == agg(base.union(d1)), "fold after append")

    val rows = spark.table("iaggspec_state").count()
    IncrementalAgg.appendDelta(d1, keys, "v", "iaggspec", batchId = 1)
    assert(spark.table("iaggspec_state").count() == rows, "replay must append zero rows")

    IncrementalAgg.compact(spark, "iaggspec")
    assert(spark.table("iaggspec_state").count() == 3, "compact folds to one row per key")
    assert(readFolded() == agg(base.union(d1)), "compact must not change the result")

    // the fold erased batch 1's partial rows — the marker table must
    // still gate a late replay of it
    IncrementalAgg.appendDelta(d1, keys, "v", "iaggspec", batchId = 1)
    assert(spark.table("iaggspec_state").count() == 3, "post-compact replay must be gated")

    IncrementalAgg.appendDelta(d2, keys, "v", "iaggspec", batchId = 2)
    assert(readFolded() == agg(base.union(d1).union(d2)), "append after compact")

    // crash-before-drop: an orphan fold table must be discarded
    val orphan = Seq(("z", 9L, 9.0, 81.0, 9.0, 9.0, -1L))
      .toDF("k", "cnt", "s", "s2", "mn", "mx", "batch_id")
    sources.Io.writeBucketed(orphan, "iaggspec_state_new", "k", 2)
    IncrementalAgg.recover(spark, "iaggspec")
    assert(!spark.catalog.tableExists("iaggspec_state_new") && readFolded() == agg(base.union(d1).union(d2)),
      "orphan fold must be dropped, state preserved")

    // crash-after-drop: a complete fold with the state gone must be promoted
    val snapshot = spark.table("iaggspec_state").localCheckpoint()
    sources.Io.writeBucketed(snapshot, "iaggspec_state_new", "k", 2)
    dedup.IncrementalDedup.dropForRebuild(spark, "iaggspec_state")
    assert(readFolded() == agg(base.union(d1).union(d2)),
      "read must heal the half-swapped state via recover()")
  }

  test("redactPii masks all three pattern classes; trainSplit is deterministic and proportional") {
    val docs = Seq(
      (1L, "reach me at bob.smith@corp.example or 192.168.0.12 or 555-0199-4433"),
      (2L, "clean text no pii 5 ok")
    ).toDF("doc_id", "text")
    val out = text.Corpus.redactPii(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == "reach me at <email> or <ip> or <phone>")
    assert(out(0).getLong(2) == 3L)
    assert(out(1).getString(1) == "clean text no pii 5 ok" && out(1).getLong(2) == 0L)

    val split = text.Corpus.trainSplit(Tables.documents(spark, sfDir), "doc_id")
    val counts = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum.toDouble
    assert(counts.keySet == Set("train", "val", "test"), s"missing split: $counts")
    assert(counts("train") / n > 0.7 && counts("train") / n < 0.9, s"train share off: $counts")
    // same id always lands in the same split (re-run + repartition)
    val again = text.Corpus.trainSplit(
      Tables.documents(spark, sfDir).repartition(7), "doc_id")
    assert(split.join(again.withColumnRenamed("split", "s2"), Seq("doc_id", "h"))
      .filter(col("split") =!= col("s2")).count() == 0L)
  }

  test("IncrementalCC: merges, stale-label chains, replay, compact, late lower-id merge") {
    import operators.IncrementalCC
    def fold() = IncrementalCC.readLabels(spark, "icc")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // base: two components {1,2}→1 and {3,4}→3
    IncrementalCC.writeLabels(Seq((1L, 2L), (3L, 4L)).toDF("a", "b"), "a", "b", "icc", buckets = 2)
    assert(fold() == Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)))
    // merge the two components
    IncrementalCC.mergeEdges(spark, Seq((2L, 3L)).toDF("a", "b"), "a", "b", "icc")
    assert(fold() == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)))
    // replay: append-only min-fold → result unchanged, no gate needed;
    // the changed-only append means literally ZERO rows land
    val rowsBefore = spark.table("icc_labels").count()
    IncrementalCC.mergeEdges(spark, Seq((2L, 3L)).toDF("a", "b"), "a", "b", "icc")
    assert(spark.table("icc_labels").count() == rowsBefore, "replay must append zero rows")
    assert(fold() == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)))
    // the stale-chain case the consistency invariant exists for: node 4
    // carries rows under BOTH comp 3 (stale) and comp 1 (current); a new
    // edge through it must pull comp 1's full membership and relabel to
    // the new lower id 0
    IncrementalCC.mergeEdges(spark, Seq((4L, 0L)).toDF("a", "b"), "a", "b", "icc")
    assert(fold() == Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L)))
    // compact folds the log to one row per node, same result
    IncrementalCC.compactLabels(spark, "icc")
    assert(spark.table("icc_labels").count() == 5)
    assert(fold() == Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L)))
    // post-compact: a disjoint new component, and everything still holds
    IncrementalCC.mergeEdges(spark, Seq((6L, 5L)).toDF("a", "b"), "a", "b", "icc")
    assert(fold() == Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (5L, 5L), (6L, 5L)))
    // crash-after-drop window of the shared swap machinery heals here too
    val snap = spark.table("icc_labels").localCheckpoint()
    sources.Io.writeBucketed(snap, "icc_labels_new", "comp", 2)
    dedup.IncrementalDedup.dropForRebuild(spark, "icc_labels")
    assert(fold() == Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (5L, 5L), (6L, 5L)))
  }

  test("IncrementalAnn: appended vectors searchable, replay appends zero, full-probe ≡ exact") {
    import sim.IncrementalAnn
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val base = emb.filter(col("vec_id") % 3 =!= 2)
    val delta = emb.filter(col("vec_id") % 3 === 2)
    IncrementalAnn.writeIndex(base, "vec_id", "embedding", "iann",
      kCoarse = 4, iters = 2, buckets = 2)
    val cells0 = spark.table("iann_cells").count()
    IncrementalAnn.appendVectors(delta, "vec_id", "embedding", "iann")
    assert(spark.table("iann_cells").count() == cells0 + delta.count())
    IncrementalAnn.appendVectors(delta, "vec_id", "embedding", "iann")
    assert(spark.table("iann_cells").count() == cells0 + delta.count(),
      "replay must append zero rows")
    assert(spark.table("iann_ids").count() == emb.count())

    // full probe (nprobe = kCoarse) must equal exact brute force over the
    // WHOLE corpus — which can only hold if the appended third is in the
    // index and not double-counted
    val queries = emb.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSeq.sorted
    val got = rows(IncrementalAnn.topK(spark, queries, "vec_id", "embedding",
      "iann", k = 5, nprobe = 4))
    val exact = rows(sim.Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5))
    assert(got == exact, "full-probe incremental index must match brute force")

    // restricted probes: bounded candidates, useful recall
    val half = IncrementalAnn.topK(spark, queries, "vec_id", "embedding",
      "iann", k = 5, nprobe = 2)
    val exactSets = exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val halfSets = half.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = exactSets.map { case (q, s) =>
      halfSets.getOrElse(q, Set.empty).intersect(s).size.toDouble / s.size
    }.sum / exactSets.size
    assert(recall >= 0.5, s"nprobe=2/4 recall too low: $recall")
  }

  test("IncrementalAnn.driftStats: in-distribution batch ~1, shifted batch >> 1, O(batch)") {
    import sim.IncrementalAnn
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    IncrementalAnn.writeIndex(emb, "vec_id", "embedding", "drift",
      kCoarse = 4, iters = 2, buckets = 2)
    def ratio(df: org.apache.spark.sql.DataFrame) =
      IncrementalAnn.driftStats(df, "embedding", "drift")
        .select("drift_ratio").head().getDouble(0)
    // the indexed corpus itself: ratio exactly ~1 by construction
    val same = ratio(emb)
    assert(math.abs(same - 1.0) < 0.05, s"in-distribution ratio $same")
    // a shifted distribution must scream: every vector lands far from
    // every frozen centroid
    val shifted = emb.withColumn("embedding",
      transform(col("embedding"), x => (x + lit(50.0f)).cast("float")))
    val far = ratio(shifted)
    assert(far > 10.0, s"shifted ratio $far should be >> 1")
    // O(batch) contract: the report's plan reads no cells/ids table —
    // only the batch and the one-row persisted baseline
    val plan = IncrementalAnn.driftStats(emb, "embedding", "drift")
      .queryExecution.sparkPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(!scans.exists(_.relation.location.rootPaths.exists(
      _.toString.contains("drift_cells"))),
      s"driftStats must not rescan the corpus:\n$plan")
  }

  test("IncrementalCC.mergeEdges: an empty batch is a no-op (the common stream case)") {
    // a micro-batch that produced zero pairs must fold cleanly — the
    // pushed-literal lookups see empty id sets (empty In → false)
    val edges = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    operators.IncrementalCC.writeLabels(edges, "a", "b", "emptycc", buckets = 2)
    val before = spark.table("emptycc_labels").count()
    val out = operators.IncrementalCC.mergeEdges(spark,
      edges.limit(0), "a", "b", "emptycc")
    assert(out.count() == 0, "empty batch must return no recomputed labels")
    assert(spark.table("emptycc_labels").count() == before,
      "empty batch must append nothing")
    // and a batch of entirely NEW nodes (no touched components) works:
    // rootsOf finds nothing, membersOf gets an empty comp set
    val fresh = operators.IncrementalCC.mergeEdges(spark,
      Seq((100L, 101L)).toDF("a", "b"), "a", "b", "emptycc")
    assert(fresh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((100L, 100L), (101L, 100L)))
  }

  test("ewma: a null keeps its row slot — older weights unshifted, all-null frame is null") {
    // pandas adjust=true, ignore_na=false: the null at o=2 contributes to
    // neither sum, but v=1.0 (two rows back) still weighs w^2, not w^1 —
    // collect_list over bare values would silently drop the null and
    // shift it to w^1
    val df = Seq(("a", 1, Some(1.0)), ("a", 2, None: Option[Double]), ("a", 3, Some(2.0)),
      ("b", 1, None: Option[Double])).toDF("k", "o", "v")
    val out = etl.Aggregates.ewma(df, "k", "o", "o", "v", alpha = 0.5, span = 4)
      .orderBy("k", "rn").select("ewma").as[Option[Double]].collect().toSeq
    val w = 0.5
    val expected3 = (1.0 * w * w + 2.0) / (w * w + 1.0) // exponents 2 and 0, slot 1 skipped
    assert(out(0).contains(1.0))
    assert(out(1).contains(1.0), "null row's own ewma folds the values present")
    assert(out(2).exists(x => math.abs(x - expected3) < 1e-9),
      s"null must not shift older weights: got ${out(2)}, want $expected3")
    assert(out(3).isEmpty, "all-null frame must yield null, not NaN")
  }

  test("trainSplit hash is width-safe: ids beyond 2^31 neither overflow nor escape [0, 2^31)") {
    // the unreduced Knuth multiply overflows int64 above id ~3.5e9 —
    // a runtime ARITHMETIC_OVERFLOW under ANSI mode at 100 TB id scale
    val big = Seq(5000000000L, Long.MaxValue - 1, 2147483648L, 7L).toDF("doc_id")
    val out = text.Corpus.trainSplit(big, "doc_id")
      .select("doc_id", "h").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.forall { case (_, h) => h >= 0 && h < 2147483648L })
    // ids below 2^31 hash exactly as before the reduction (identity)
    assert(out.toMap.apply(7L) == (7L * 2654435761L) % 2147483648L)
  }

  test("IncrementalAgg rejects keys/value named like reserved state columns") {
    val df = Seq(("a", 1.0)).toDF("cnt", "v")
    val e = intercept[IllegalArgumentException] {
      etl.IncrementalAgg.writeState(df, Seq("cnt"), "v", "badkeys")
    }
    assert(e.getMessage.contains("reserved"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      etl.IncrementalAgg.appendDelta(df.toDF("k", "s"), Seq("k"), "s", "badkeys", 0L)
    }
    assert(e2.getMessage.contains("reserved"), e2.getMessage)
  }

  test("writeZOrdered fails clearly on empty input and non-numeric layout columns") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_zerr").toString
    val empty = Seq.empty[(Double, Double)].toDF("x", "y")
    val e = intercept[IllegalArgumentException] {
      sources.Io.writeZOrdered(empty, s"$tmp/z1", Seq("x", "y"), numFiles = 2)
    }
    assert(e.getMessage.contains("empty") || e.getMessage.contains("all-null"), e.getMessage)
    val strCol = Seq((1.0, "a")).toDF("x", "y")
    val e2 = intercept[IllegalArgumentException] {
      sources.Io.writeZOrdered(strCol, s"$tmp/z2", Seq("x", "y"), numFiles = 2)
    }
    assert(e2.getMessage.contains("numeric"), e2.getMessage)
  }

  test("IncrementalAnn.compactCells: file count bounded at buckets, search unchanged") {
    import sim.IncrementalAnn
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    IncrementalAnn.writeIndex(emb.filter(col("vec_id") % 4 === 0),
      "vec_id", "embedding", "cann", kCoarse = 4, iters = 2, buckets = 2)
    // three appends → three extra file sets per table (the small-files
    // accumulation compaction exists to bound)
    for (k <- 1 to 3)
      IncrementalAnn.appendVectors(emb.filter(col("vec_id") % 4 === k),
        "vec_id", "embedding", "cann")
    def files(t: String) = new java.io.File(
      org.apache.spark.sql.GraftShims.tableLocation(spark, t))
      .listFiles.count(_.getName.endsWith(".parquet"))
    val queries = emb.filter(col("vec_id") < 10)
    def search() = IncrementalAnn.topK(spark, queries, "vec_id", "embedding",
      "cann", k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq.sorted
    val before = search()
    assert(files("cann_cells") > 2, "appends should have accumulated files")
    IncrementalAnn.compactCells(spark, "cann")
    // the bucket-aligned repartition writes exactly one file per bucket
    assert(files("cann_cells") == 2, s"cells files = ${files("cann_cells")}")
    assert(files("cann_ids") == 2, s"ids files = ${files("cann_ids")}")
    assert(search() == before, "compaction must not change search results")
    assert(spark.table("cann_cells").count() == emb.count())
    // idempotent: compacting a compacted index is a no-op rewrite
    IncrementalAnn.compactCells(spark, "cann")
    assert(search() == before)
    // a further append lands fine on the rebuilt tables (bucket spec
    // survives the swap), and the gate still sees pre-compaction ids
    IncrementalAnn.appendVectors(emb.filter(col("vec_id") % 4 === 1),
      "vec_id", "embedding", "cann")
    assert(spark.table("cann_cells").count() == emb.count(),
      "replay after compaction must append zero rows")
  }

  test("sampleToMix: output tracks the target mix, p_keep <= 1, partition-independent") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      text.Corpus.sampleToMix(df, "lang", "doc_id", "text", alpha = 0.5, targetFrac = 0.5)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq.sorted
    val got = run(docs)
    assert(got.nonEmpty && got.forall(_._3 <= 1.0))
    assert(run(docs.repartition(7)) == got, "sample must not depend on partitioning")
    // realized domain shares should track the temperature mix, not the
    // raw corpus shares: with alpha < 1 the dominant domain's share of
    // the SAMPLE must drop below its share of the corpus
    val corpusByLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val domLang = corpusByLang.maxBy(_._2)._1
    val sampleShare = got.count(_._2 == domLang).toDouble / got.size
    val corpusShare = corpusByLang(domLang).toDouble / corpusByLang.values.sum
    assert(sampleShare < corpusShare,
      s"temperature must downweight $domLang: sample $sampleShare vs corpus $corpusShare")
  }

  test("FreqSketch: planted heavy hitter survives eviction; exact top-k; partition-independent") {
    // 1 doc repeating the heavy token 4000×, 4000 docs of unique junk:
    // vocabulary 4001 >> capacity 8, so the sketch MUST evict, and the
    // MG guarantee (count > N/(cap+1) ⇒ present) applies to "hh"
    val docs = ((1 to 4000).map(i => (i.toLong, s"junk$i")) :+
      (0L, Seq.fill(4000)("hh").mkString(" "))).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      text.Corpus.topKTokens(df, "text", k = 1, capacity = 8)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val got = run(docs)
    assert(got == Seq(("hh", 4000L)), s"heavy hitter lost under eviction: $got")
    assert(run(docs.repartition(7)) == got, "result must not depend on partitioning")

    // candidate set stays bounded by capacity even with merge pressure
    val sketch = docs.select(explode(split(col("text"), " ")).as("tok"))
      .repartition(13)
      .agg(functions.FreqSketchAgg.freqSketch(col("tok"), 8).as("sk"))
      .select(map_keys(col("sk"))).collect().head.getSeq[String](0)
    assert(sketch.size <= 8, s"sketch exceeded capacity: ${sketch.size}")
    assert(sketch.contains("hh"), "merged sketch must keep the heavy hitter")
  }

  test("packGreedy: capacity invariant, contiguous bins, order preserved, partition-independent") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "text")
    def run(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long, Long, Long)] =
      text.Corpus.packGreedy(df, "lang", "doc_id", "text", capacity = 100L)
        .orderBy("lang", "doc_id")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq
    val got = run(docs)
    assert(got.nonEmpty)
    // replay the fold sequentially per lang: every row must agree
    got.groupBy(_._1).foreach { case (_, rows) =>
      var bin = 0L; var fill = 0L; var first = true
      rows.foreach { case (_, _, n, binId, binFill) =>
        if (first) { first = false; fill = n }
        else if (fill + n > 100L) { bin += 1; fill = n }
        else fill += n
        assert(binId == bin && binFill == fill, s"fold mismatch at $rows")
      }
      // capacity holds except single-doc oversized bins
      rows.groupBy(_._4).foreach { case (_, binRows) =>
        val tot = binRows.map(_._3).sum
        assert(tot <= 100L || binRows.size == 1,
          s"multi-doc bin over capacity: $binRows")
      }
      // bins are contiguous from 0
      val bins = rows.map(_._4).distinct
      assert(bins == (0L until bins.size).toSeq, s"bins not contiguous: $bins")
    }
    assert(run(docs.repartition(7)) == got, "result must not depend on partitioning")
  }

  test("chunkWindows: stride coverage, boundary hashes, short-doc single chunk") {
    val docs = Seq(
      (1L, (1 to 80).map(i => s"w$i").mkString(" ")), // 80 toks → 3 chunks
      (2L, "a b c")                                   // short → 1 chunk of 3
    ).toDF("doc_id", "text")
    val out = text.Corpus.chunkWindows(docs, "doc_id", "text", window = 32, stride = 24)
      .orderBy("doc_id", "chunk_idx").collect()
    val d1 = out.filter(_.getLong(0) == 1L)
    assert(d1.map(_.getInt(1)).toSeq == Seq(0, 1, 2))
    assert(d1.map(_.getLong(2)).toSeq == Seq(0L, 24L, 48L))
    assert(d1.map(_.getLong(3)).toSeq == Seq(32L, 32L, 32L))
    // every token index is covered by some chunk: last start + len == 80
    assert(d1.last.getLong(2) + d1.last.getLong(3) == 80L)
    val d2 = out.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2.head.getLong(3) == 3L)
    // hash is the md5 of the actual chunk text
    val exp = java.security.MessageDigest.getInstance("MD5")
      .digest("a b c".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(d2.head.getString(4) == exp)
  }

  test("contamination: planted n-gram overlap is found, clean docs score zero") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "x y alpha beta gamma delta q r"), // contains a planted 4-gram
      (2L, "p q r s t u v w"),                // clean
      (3L, "a b c")                           // < n tokens → drops out
    ).toDF("doc_id", "text")
    val out = text.Corpus.contamination(corpus, bench, "doc_id", "text", n = 4)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L), "short doc must drop out")
    val hit = out(0)
    // doc 1 has 5 distinct 4-grams; exactly the planted "alpha beta gamma
    // delta" also occurs in the benchmark
    assert(hit.getLong(1) == 5L && hit.getLong(2) == 1L && hit.getBoolean(4))
    assert(out(1).getLong(2) == 0L && !out(1).getBoolean(4))
  }

  test("contaminationBloom ≡ contamination; bloom pre-filter sits on the corpus scan") {
    // the scale path must be bit-identical on real data: the filter only
    // routes rows, the exact join decides membership
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("source") =!= "src0")
    val bench = docs.filter(col("source") === "src0")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toString).toSeq
    val bloom = text.Corpus.contaminationBloom(corpus, bench, "doc_id", "text", n = 4)
    assert(rows(bloom) ==
      rows(text.Corpus.contamination(corpus, bench, "doc_id", "text", n = 4)),
      "bloom path diverged from the exact path")
    // the pre-filter is a map-side might_contain on the corpus shingles —
    // the shape that replaces the bench-string broadcast at 100 TB
    val plan = bloom.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"expected bloom pre-filter in:\n$plan")
    // empty benchmark: everything scores clean, nothing errors
    val none = text.Corpus.contaminationBloom(
      corpus, bench.limit(0), "doc_id", "text", n = 4).collect()
    assert(none.nonEmpty && none.forall(r => r.getLong(2) == 0L && !r.getBoolean(4)))
  }

  test("mixWeights: weights normalize to 1 and alpha flattens the mix") {
    val docs = Tables.documents(spark, sfDir).select("lang", "text")
    def weights(alpha: Double): Map[String, Double] =
      text.Corpus.mixWeights(docs, "lang", "text", alpha)
        .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    val w = weights(0.5)
    assert(math.abs(w.values.sum - 1.0) < 1e-4, s"weights must sum to 1: $w")
    // alpha=1 reproduces raw shares; alpha<1 moves every weight toward
    // uniform — the spread must strictly shrink
    val raw = weights(1.0)
    def spread(m: Map[String, Double]) = m.values.max - m.values.min
    assert(spread(w) < spread(raw), "temperature must flatten the mix")
    // repetitionStats sanity on the same pass: a pathological doc scores
    // above any natural-corpus doc
    val rep = text.Corpus.repetitionStats(
      Seq((1L, "spam ham " * 20 + "spam ham")).toDF("doc_id", "text"),
      "doc_id", "text").collect().head
    assert(rep.getDouble(3) > 0.9, s"degenerate doc must have top-bigram frac ~1: $rep")
  }

  test("substringSpans: planted shared paragraph found, runs merge, short docs drop, hash ≡ text keys") {
    val boiler = (1 to 12).map(i => s"b$i").mkString(" ") // 12 shared tokens
    val docs = Seq(
      (1L, s"alpha beta gamma $boiler delta epsilon zeta eta theta iota"),
      (2L, s"one two three four five six seven $boiler"),
      (3L, "lone doc with no shared text at all here today ok fine"),
      (4L, "tiny doc") // shorter than k → no shingle, must drop out
    ).toDF("doc_id", "text")
    val spans = text.Corpus.substringSpans(docs, "doc_id", "text", k = 8, minDocs = 2)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1: boiler occupies tokens 3..14 → shingle starts 3..7 (5 runs
    // of 8-grams fully inside the boiler), one merged span of len 12
    assert(spans.map(_._1).toSet == Set(1L, 2L), s"only docs sharing the paragraph span: ${spans.toSeq}")
    val s1 = spans.filter(_._1 == 1L)
    assert(s1.length == 1 && s1.head._2 == 3 && s1.head._4 == 12,
      s"doc 1 must merge the boiler shingles into one 12-token span at 3: ${s1.toSeq}")
    val s2 = spans.filter(_._1 == 2L)
    assert(s2.length == 1 && s2.head._2 == 7 && s2.head._4 == 12,
      s"doc 2's span sits at token 7, len 12: ${s2.toSeq}")
    // the scale path (hashed shingle keys) must produce identical spans
    val txt = text.Corpus.substringSpans(Tables.documents(spark, sfDir), "doc_id", "text",
      k = 8, minDocs = 2, hashKeys = false).orderBy("doc_id", "span_start").collect().toSeq
    val hsh = text.Corpus.substringSpans(Tables.documents(spark, sfDir), "doc_id", "text",
      k = 8, minDocs = 2, hashKeys = true).orderBy("doc_id", "span_start").collect().toSeq
    assert(txt == hsh, "hashed and text shingle keys must yield identical spans")
  }

  test("rollingMedian: robust to a spike the mean chases; early rows use present-row median") {
    val df = Seq(("a", 1, 10.0), ("a", 2, 12.0), ("a", 3, 1000.0), ("a", 4, 11.0), ("a", 5, 9.0))
      .toDF("k", "o", "v").withColumn("t", col("o"))
    val med = etl.Aggregates.rollingMedian(df, "k", "t", "o", "v", window = 3)
      .orderBy("rn").select("rolling_median").as[Double].collect()
    // row1: median(10)=10; row2: (10+12)/2=11; row3: median(10,12,1000)=12
    // row4: median(12,1000,11)=12 — the spike never becomes the estimate
    assert(med.toSeq == Seq(10.0, 11.0, 12.0, 12.0, 11.0), s"got ${med.toSeq}")
  }

  test("unigramLogProb: repeated-common-token doc scores higher than a hapax-only doc") {
    val docs = Seq(
      (1L, "the the the the the the the the"),     // all high-frequency
      (2L, "zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8"),     // all hapaxes
      (3L, "the zq9 the zq10 the zq11 the zq12")   // mixed
    ).toDF("doc_id", "text")
    val lp = text.Corpus.unigramLogProb(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(lp.map(_._2).toSeq == Seq(8L, 8L, 8L), s"token counts: ${lp.toSeq}")
    assert(lp(0)._3 > lp(2)._3 && lp(2)._3 > lp(1)._3,
      s"logprob must order common > mixed > hapax: ${lp.toSeq}")
  }

  test("ewma: hand series matches pandas adjust=true, early rows renormalized, span truncates") {
    // alpha=0.5, w=0.5: y1=1, y2=(2+0.5*1)/1.5, y3=(3+0.5*2+0.25*1)/1.75
    val df = Seq(("a", 1, 1.0), ("a", 2, 2.0), ("a", 3, 3.0))
      .toDF("k", "o", "v").withColumn("t", col("o"))
    val out = etl.Aggregates.ewma(df, "k", "t", "o", "v", alpha = 0.5, span = 24)
      .orderBy("rn").select("ewma").as[Double].collect()
    val exp = Seq(1.0, 2.5 / 1.5, 4.25 / 1.75).map(x => math.floor(x * 1e6 + 0.5) / 1e6)
    assert(out.toSeq == exp, s"got ${out.toSeq}, want $exp")
    // span=1 sees only (current, previous): y3 = (3 + 0.5*2)/1.5
    val trunc = etl.Aggregates.ewma(df, "k", "t", "o", "v", alpha = 0.5, span = 1)
      .orderBy("rn").select("ewma").as[Double].collect()
    assert(trunc(2) == math.floor(4.0 / 1.5 * 1e6 + 0.5) / 1e6,
      s"span must bound the lookback: ${trunc.toSeq}")
    // keys are independent series: a second key's values must not bleed in
    val two = etl.Aggregates.ewma(
      df.unionByName(Seq(("b", 1, 100.0)).toDF("k", "o", "v").withColumn("t", col("o"))),
      "k", "t", "o", "v", alpha = 0.5, span = 24)
      .filter(col("k") === "b").select("ewma").as[Double].collect()
    assert(two.toSeq == Seq(100.0), s"per-key isolation: ${two.toSeq}")
  }

  test("epochShuffle: epochs permute differently, shards balance, writeShards lands sorted") {
    val docs = Tables.documents(spark, sfDir)
    def order(e: Int) = text.Corpus.epochShuffle(docs, "doc_id", e, 8)
      .orderBy("h", "doc_id").select("doc_id").as[Long].collect().toSeq
    val (e0, e1) = (order(0), order(1))
    assert(e0.toSet == e1.toSet, "every doc appears in every epoch")
    assert(e0 != e1, "epoch salt must produce a different permutation")
    // shards are hash-balanced: no shard is empty or > 2x the mean
    val sizes = text.Corpus.epochShuffle(docs, "doc_id", 1, 8)
      .groupBy("shard").count().select("count").as[Long].collect()
    assert(sizes.length == 8 && sizes.max < 2 * (sizes.sum / 8),
      s"shard sizes: ${sizes.toSeq}")
    // landing: shard=N dirs, each internally sorted by h, union == corpus
    val tmp = java.nio.file.Files.createTempDirectory("graft_shards").toString
    text.Corpus.writeShards(docs, "doc_id", epoch = 1, numShards = 8, tmp)
    val back = spark.read.parquet(tmp)
    assert(back.count() == docs.count())
    assert(back.select("shard").distinct().count() == 8)
    val perShard = back.groupBy("shard").agg(
      org.apache.spark.sql.functions.collect_list("h").as("hs"))
      .select("hs").as[Seq[Long]].collect()
    perShard.foreach(hs => assert(hs == hs.sorted,
      "each shard file must stream in hash order"))
  }

  test("fuzzyPairs: lossless blocking equals brute force; orientation; threshold") {
    val words = Seq("kitten", "sitting", "kitchen", "mitten", "mittens",
      "abc", "abcd", "xyzzy", "kitten").toDF("w") // dup collapses
    val got = operators.FuzzyJoin.fuzzyPairs(words, "w", maxDist = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // brute force over distinct words with the same orientation rule
    val ws = words.as[String].collect().distinct
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val exp = (for {
      a <- ws; b <- ws
      if a.length < b.length || (a.length == b.length && a < b)
      dist = lev(a, b) if dist <= 3
    } yield (a, b, dist.toLong)).toSet
    assert(got == exp, s"got $got\nexp $exp")
    assert(got.contains(("kitten", "sitting", 3L)), "the classic pair, across lengths")
    assert(got.contains(("kitten", "mitten", 1L)))
    assert(!got.exists(p => p._1 == "xyzzy" || p._2 == "xyzzy"),
      "xyzzy is nobody's neighbor at d<=3")
    // symmetric-deletion blocking: same contract, same output, at d=1 and 2
    for (d <- Seq(1, 2)) {
      def norm(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val banded = norm(operators.FuzzyJoin.fuzzyPairs(words, "w", d))
      val deletion = norm(operators.FuzzyJoin.fuzzyPairsDeletion(words, "w", d))
      assert(deletion == banded, s"d=$d: deletion $deletion != banded $banded")
    }
    // empty strings must not break the deletion-variant generator
    val withEmpty = (Seq("", "a", "b", "ab") ++ Seq("")).toDF("w")
    val de = operators.FuzzyJoin.fuzzyPairsDeletion(withEmpty, "w", 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(de == Set(("", "a"), ("", "b"), ("a", "ab"), ("b", "ab"), ("a", "b")),
      s"got $de")
  }

  test("ScalarQuant: codes in int8 range, zero vector safe, topK recall >= 0.9") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = sim.ScalarQuant.quantize(emb, "vec_id", "embedding")
    val rng = q.agg(min(array_min(col("codes"))), max(array_max(col("codes"))))
      .head()
    assert(rng.getInt(0) >= -127 && rng.getInt(1) <= 127, s"code range: $rng")
    // all-zero vector: scale 0, zero codes, no division error
    val z = sim.ScalarQuant.quantize(
      Seq((1L, Array.fill(4)(0.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding").head()
    assert(z.getDouble(1) == 0.0 && z.getSeq[Int](3).forall(_ == 0))
    // recall of the int8 scan + exact rescore vs exact brute force
    val queries = emb.filter(col("vec_id") < 20)
    val exact = sim.Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = sim.ScalarQuant.topK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"int8 recall@5 = $recall")
  }

  test("Matryoshka / BinaryQuant: packing exact, recall vs brute force") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = sim.Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exactness limit: a full-width "prefix" makes the coarse stage the
    // exact ranking — MRL at dPrefix = d must equal brute force
    def mrlSet(d: Int) = sim.Matryoshka.topK(emb, queries, "vec_id",
      "embedding", dPrefix = d, k = 5).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mrlSet(64) == exact, "dPrefix = d must reproduce brute force")
    // these synthetic embeddings are ISOTROPIC (no matryoshka training
    // front-loads the signal), so prefix recall is modest and must grow
    // with retained width — the structural property, not a magic number
    val r16 = (exact & mrlSet(16)).size.toDouble / exact.size
    val r48 = (exact & mrlSet(48)).size.toDouble / exact.size
    assert(r48 > r16 && r16 >= 0.2, s"recall@5: d16=$r16 d48=$r48")
    // sign-bit packing: hand vector with known bits — dims 1 and 34
    // positive → w1 = 2^31, w2 = 2^30
    val hand = Seq((1L, Array.tabulate(64)(i =>
      if (i == 0 || i == 33) 1.0f else -1.0f))).toDF("vec_id", "embedding")
    val words = sim.BinaryQuant.quantize(hand, "vec_id", "embedding", 64)
      .head().getSeq[Long](1)
    assert(words == Seq(1L << 31, 1L << 30), s"got $words")
    // a planted exact duplicate has Hamming 0 — it survives ANY cut and
    // exact-re-ranks to the top: the retrieval contract that matters
    // for 1-bit codes (dedup/near-dup mining, not fine ranking)
    val dup = emb.filter(col("vec_id") === 1)
      .select(lit(99999L).as("vec_id"), col("embedding"))
    val planted = emb.select("vec_id", "embedding").unionByName(dup)
    val top1 = sim.BinaryQuant.topK(planted,
      emb.filter(col("vec_id") === 1), "vec_id", "embedding",
      dims = 64, k = 1, overFetch = 8).collect().head
    assert(top1.getLong(1) == 99999L && top1.getLong(2) == 0L &&
      top1.getDouble(3) == 1.0, s"got $top1")
  }

  test("histSketch: slice merge is exact vector addition; estimate within a bin") {
    // values 1..1000 split across 4 slices — merged quantiles must
    // EQUAL the single-slice sketch's (bin counts add exactly), and sit
    // within one bin width (999/100) of the true percentile
    val rows = (1 to 1000).map(i => ("k", i % 4, i.toDouble))
    val sk4 = etl.Aggregates.histSketch(rows.toDF("k", "slice", "v"),
      Seq("k"), "slice", "v", bins = 100)
    val sk1 = etl.Aggregates.histSketch(
      rows.map { case (k, _, v) => (k, 0, v) }.toDF("k", "slice", "v"),
      Seq("k"), "slice", "v", bins = 100)
    val q4 = etl.Aggregates.histQuantiles(sk4, Seq("k"), Seq(0.5, 0.9)).collect().head
    val q1 = etl.Aggregates.histQuantiles(sk1, Seq("k"), Seq(0.5, 0.9)).collect().head
    assert(q4.getDouble(1) == q1.getDouble(1) && q4.getDouble(2) == q1.getDouble(2),
      s"merge must be exact: $q4 vs $q1")
    val width = 999.0 / 100
    assert(math.abs(q4.getDouble(1) - 500.5) <= width, s"p50=${q4.getDouble(1)}")
    assert(math.abs(q4.getDouble(2) - 900.1) <= width, s"p90=${q4.getDouble(2)}")
    assert(q4.getLong(3) == 1000L)
  }

  test("histQuantiles: mixed bin geometries fail loudly; frozen ranges merge across calls") {
    // two SEPARATE histSketch calls freeze different [lo, hi] per key —
    // merging them would silently mix incompatible bin geometries, so
    // histQuantiles must reject the union
    val day1 = (1 to 100).map(i => ("k", 1, i.toDouble)).toDF("k", "slice", "v")
    val day2 = (200 to 300).map(i => ("k", 2, i.toDouble)).toDF("k", "slice", "v")
    val sk1 = etl.Aggregates.histSketch(day1, Seq("k"), "slice", "v", bins = 10)
    val sk2 = etl.Aggregates.histSketch(day2, Seq("k"), "slice", "v", bins = 10)
    val e = intercept[IllegalArgumentException] {
      etl.Aggregates.histQuantiles(sk1.unionByName(sk2), Seq("k"), Seq(0.5))
    }
    assert(e.getMessage.contains("geometries"), e.getMessage)
    // the supported cross-call shape: freeze the ranges once and pass
    // them to EVERY call — the sketches then merge, and equal the
    // single-call sketch over the union (same geometry, vector addition)
    val ranges = Seq(("k", 1.0, 300.0)).toDF("k", "__lo", "__hi")
    val f1 = etl.Aggregates.histSketch(day1, Seq("k"), "slice", "v",
      bins = 10, ranges = Some(ranges))
    val f2 = etl.Aggregates.histSketch(day2, Seq("k"), "slice", "v",
      bins = 10, ranges = Some(ranges))
    val one = etl.Aggregates.histSketch(day1.unionByName(day2),
      Seq("k"), "slice", "v", bins = 10, ranges = Some(ranges))
    val qf = etl.Aggregates.histQuantiles(f1.unionByName(f2), Seq("k"), Seq(0.5, 0.9))
      .collect().head
    val q1 = etl.Aggregates.histQuantiles(one, Seq("k"), Seq(0.5, 0.9))
      .collect().head
    assert(qf == q1, s"frozen-range merge must equal single call: $qf vs $q1")
  }

  test("histQuantiles: nearby percentiles get distinct labels (p99_5 vs p100)") {
    // integer-percent rounding would alias 0.995 and 1.0 both to "p100"
    // and emit a duplicate-column DataFrame
    val rows = (1 to 1000).map(i => ("k", 0, i.toDouble)).toDF("k", "slice", "v")
    val sk = etl.Aggregates.histSketch(rows, Seq("k"), "slice", "v", bins = 100)
    val out = etl.Aggregates.histQuantiles(sk, Seq("k"), Seq(0.995, 1.0))
    assert(out.columns.toSeq == Seq("k", "p99_5", "p100", "n"), out.columns.mkString(","))
    val r = out.collect().head
    assert(r.getDouble(1) <= r.getDouble(2), s"$r")
  }

  test("mannWhitneyU: sigma = 0 (all-tied or one-sided key) yields explicit null z") {
    // every row carries one value → tie correction zeroes the variance;
    // a key with an empty side has na·nb = 0 — both must emit z = NULL,
    // not a NaN from 0/0
    val allTied = Seq(("t", 1.0, true), ("t", 1.0, false), ("t", 1.0, true))
    val oneSided = Seq(("o", 1.0, true), ("o", 2.0, true))
    val out = etl.Aggregates.mannWhitneyU((allTied ++ oneSided).toDF("k", "v", "isa"),
      Seq("k"), col("isa"), col("v")).collect()
      .map(r => r.getString(0) -> r.isNullAt(2)).toMap
    assert(out("t") && out("o"), s"z must be null on degenerate keys: $out")
  }

  test("Hits: star hub out-scores a single-edge hub; scores L1-normalize") {
    // hubs 1,2 → authorities 10,11: hub 1 points at both, hub 2 only at
    // 10; authority 10 has two in-hubs, 11 one
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("s", "d")
    val out = operators.Hits.run(edges, "s", "d", iters = 5)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(out(1L)._1 > out(2L)._1, s"star hub must lead: $out")
    assert(out(10L)._2 > out(11L)._2, s"double authority must lead: $out")
    // authorities carry no hub mass and vice versa (bipartite), each
    // side L1-normalizes to 1
    assert(out(10L)._1 == 0.0 && out(1L)._2 == 0.0)
    assert(math.abs(out.values.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-9)
  }

  test("cooccurTopK: always-together items score cosine 1; minCount prunes singles") {
    // baskets: {A,B}, {A,B}, {A,B,C}, {C,D} — A,B co-occur 3/3;
    // (A,C)/(B,C) once each (pruned at minCount 2); (C,D) once (pruned)
    val rows = Seq((1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"),
      (3L, "A"), (3L, "B"), (3L, "C"), (4L, "C"), (4L, "D"))
    val out = operators.MarketBasket.cooccurTopK(
      rows.toDF("bk", "it"), "bk", "it", k = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(out == Set(("A", "B", 3L, 1.0), ("B", "A", 3L, 1.0)),
      s"got $out")
  }

  test("quotaSample: exact per-domain cap, small domains intact, repartition-stable") {
    val docs = Tables.documents(spark, sfDir)
    val out = text.Corpus.quotaSample(docs, "source", "doc_id", maxPerDomain = 7)
    val sizes = out.groupBy("source").count().select("count").as[Long].collect()
    val domSizes = docs.groupBy("source").count()
      .select("source", "count").as[(String, Long)].collect().toMap
    assert(sizes.forall(_ <= 7), s"cap violated: ${sizes.toSeq}")
    domSizes.foreach { case (d, n) =>
      val kept = out.filter(col("source") === d).count()
      assert(kept == math.min(n, 7L), s"domain $d: $n docs -> kept $kept")
    }
    // deterministic under physical layout
    val a = out.orderBy("doc_id").collect().toSeq
    val b = text.Corpus.quotaSample(docs.repartition(13), "source", "doc_id", 7)
      .orderBy("doc_id").collect().toSeq
    assert(a == b, "selection must not depend on partitioning")
  }

  test("PageRank: hub outranks leaves, mass conserved, 2-node graph stays uniform") {
    // star: hub h connected to 3 leaves (symmetrized — no dangling)
    val star = Seq(("h", "a"), ("h", "b"), ("h", "c"),
      ("a", "h"), ("b", "h"), ("c", "h")).toDF("src", "dst")
    val r = operators.PageRank.run(star, "src", "dst", iters = 20)
      .collect().map(x => (x.getString(0), x.getDouble(1))).toMap
    assert(r("h") > r("a") && r("a") == r("b") && r("b") == r("c"),
      s"hub must dominate, leaves symmetric: $r")
    assert(math.abs(r.values.sum - 1.0) < 1e-9,
      s"no dangling => rank mass conserved: ${r.values.sum}")
    // 2-node symmetric graph: exact fixpoint 0.5/0.5 from the start
    val two = operators.PageRank.run(
      Seq(("x", "y"), ("y", "x")).toDF("src", "dst"), "src", "dst", iters = 5)
      .collect().map(_.getDouble(1))
    assert(two.forall(v => math.abs(v - 0.5) < 1e-12), s"got ${two.toSeq}")
  }

  test("PageRank/Hits: salted rounds equal the plain run (rounded) on a hub graph") {
    // planted hub: node 0 ↔ every other node, plus a ring so nothing
    // dangles — the power-law shape saltBuckets exists for. Salting
    // reorders fp addition (documented), so compare at 9dp.
    val n = 60
    val hub = (1 until n).flatMap(i => Seq((0L, i.toLong), (i.toLong, 0L)))
    val ring = (1 until n).map(i => (i.toLong, (i % (n - 1) + 1).toLong))
    val edges = (hub ++ ring).toDF("src", "dst")
    val plain = operators.PageRank.run(edges, "src", "dst", iters = 5)
      .collect().map(r => r.getLong(0) -> BigDecimal(r.getDouble(1))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)).toMap
    val salted = operators.PageRank.run(edges, "src", "dst", iters = 5,
        saltBuckets = 4)
      .collect().map(r => r.getLong(0) -> BigDecimal(r.getDouble(1))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)).toMap
    assert(plain == salted, "salted PageRank must equal plain")
    assert(plain(0L) > plain(1L), "hub still dominates")
    val hPlain = operators.Hits.run(edges, "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> ((
        BigDecimal(r.getDouble(1)).setScale(9, BigDecimal.RoundingMode.HALF_UP),
        BigDecimal(r.getDouble(2)).setScale(9, BigDecimal.RoundingMode.HALF_UP)))).toMap
    val hSalted = operators.Hits.run(edges, "src", "dst", iters = 3,
        saltBuckets = 4)
      .collect().map(r => r.getLong(0) -> ((
        BigDecimal(r.getDouble(1)).setScale(9, BigDecimal.RoundingMode.HALF_UP),
        BigDecimal(r.getDouble(2)).setScale(9, BigDecimal.RoundingMode.HALF_UP)))).toMap
    assert(hPlain == hSalted, "salted HITS must equal plain")
  }

  test("twap: step-hold weighting differs from the plain mean exactly as computed by hand") {
    // readings at t=0 (v=10), t=10s (v=20), t=40s (v=0): the last has no
    // holding interval → TWAP = (10·10 + 20·30)/40 = 17.5, plain = 10
    val rows = Seq(("k", 0L, 10.0), ("k", 10L, 20.0), ("k", 40L, 0.0))
      .toDF("k", "sec", "v")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val r = etl.Aggregates.twap(rows, Seq("k"), Seq(col("k")),
      orderCol = col("ts"), tieCol = col("sec"), valueCol = "v")
      .collect().head
    assert(r.getDouble(1) == 17.5, s"twap=${r.getDouble(1)}")
    assert(r.getDouble(2) == 10.0, s"plain=${r.getDouble(2)}")
    assert(r.getDouble(3) == 40.0, s"covered=${r.getDouble(3)}")
    assert(r.getLong(4) == 3L)
  }

  test("gini: uniform is 0, single-holder is (n−1)/n, zero mass is NULL") {
    val rows = Seq(
      ("uniform", 1L, 5.0), ("uniform", 2L, 5.0),
      ("uniform", 3L, 5.0), ("uniform", 4L, 5.0),
      ("onehot", 1L, 0.0), ("onehot", 2L, 0.0),
      ("onehot", 3L, 0.0), ("onehot", 4L, 12.0),
      ("empty", 1L, 0.0), ("empty", 2L, 0.0)).toDF("k", "id", "v")
    val out = etl.Aggregates.gini(rows, Seq("k"), "v", tieCol = col("id"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("uniform").getDouble(1) == 0.0)
    assert(out("onehot").getDouble(1) == 0.75, s"got ${out("onehot")}")
    assert(out("empty").isNullAt(1), "zero mass must be NULL, not 0/0")
  }

  test("adamicAdarTopK: path graph predicts the 2-hop pairs; maxDeg prunes centers") {
    // a—b—c—d: the only common-neighbor pairs are (a,c) through b and
    // (b,d) through c, both with aa = 1/ln 2; adjacent pairs excluded
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("s", "d")
    val out = operators.LinkPrediction.adamicAdarTopK(edges, "s", "d", k = 2)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3), r.getInt(4))).toSet
    val aa = BigDecimal(1.0 / math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == Set(("a", "c", 1L, aa, 1), ("c", "a", 1L, aa, 1),
      ("b", "d", 1L, aa, 1), ("d", "b", 1L, aa, 1)), s"got $out")
    // cap AT the center degree keeps the wedges
    val atCap = operators.LinkPrediction.adamicAdarTopK(edges, "s", "d",
      k = 2, maxDeg = 2)
    assert(atCap.filter(col("common_neighbors") > 0).count() == 4)
    val capped = operators.LinkPrediction.adamicAdarTopK(
      Seq(("h", "x"), ("h", "y"), ("h", "z")).toDF("s", "d"), "s", "d",
      k = 2, maxDeg = 2)
    assert(capped.count() == 0, "degree-3 center must be excluded at maxDeg=2")
  }

  test("rateShift: a planted collapse drives z strongly negative; no-baseline keys are NULL") {
    // ref: 100 events over ~10 h (rate 10/h) for a and b; current: b
    // stays at 100, a collapses to 5 → z_a = (5 − 100)/√100 = −9.5;
    // key c has no ref events → NULL z (no baseline)
    def evs(k: String, base: Long, cnt: Int, ref: Boolean) =
      (0 until cnt).map(i => (k, base + i * 36000L / cnt * 10, ref))
    val rows = evs("a", 0L, 100, true) ++ evs("b", 0L, 100, true) ++
      evs("a", 100000L, 5, false) ++ evs("b", 100000L, 100, false) ++
      evs("c", 100000L, 50, false)
    val df = rows.toDF("k", "sec", "r")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = etl.Drift.rateShift(df, Seq("k"), col("ts"), col("r"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getDouble(4) < -5, s"collapse must alarm: ${out("a")}")
    assert(math.abs(out("b").getDouble(4)) < 1, s"stable near 0: ${out("b")}")
    assert(out("c").isNullAt(4) && out("c").isNullAt(3),
      s"no-baseline key: z and ratio must be NULL: ${out("c")}")
    assert(out("c").getDouble(1) == 0.0, "zero observed ref rate")
    assert(out("a").getLong(6) == 5L && out("c").getLong(6) == 50L)
  }

  test("weightedSample: exact k, heavy rows dominate, repartition-stable") {
    val docs = (1 to 100).map(i =>
      (i.toLong, "d", if (i > 50) 100L else 1L)).toDF("id", "dom", "w")
    val out = text.Corpus.weightedSample(docs, "dom", "id", "w", k = 20)
    val ids = out.select("id").as[Long].collect().toSeq
    assert(ids.length == 20 && ids.distinct.length == 20, "exactly k, no repeats")
    val heavy = ids.count(_ > 50)
    assert(heavy >= 15, s"100×-weighted rows must dominate the sample: $heavy/20")
    val again = text.Corpus.weightedSample(docs.repartition(7), "dom", "id", "w", 20)
      .select("id").as[Long].collect().toSeq.sorted
    assert(again == ids.sorted, "selection must not depend on partitioning")
    // zero-weight rows can never be sampled
    val withZero = docs.withColumn("w",
      when(col("id") <= 90, lit(0L)).otherwise(col("w")))
    val z = text.Corpus.weightedSample(withZero, "dom", "id", "w", 20)
      .select("id").as[Long].collect()
    assert(z.forall(_ > 90) && z.length == 10, s"got ${z.toSeq}")
  }

  test("rollingCorr: perfect linear frames are ±1, constant frames NULL, warm-up excluded") {
    val xs = (1 to 6).map(_.toDouble)
    val pos = xs.map(x => ("pos", x, x, 2 * x + 1))
    val neg = xs.map(x => ("neg", x, x, -x))
    val flat = xs.map(x => ("flat", x, x, 7.0))
    val out = etl.Aggregates.rollingCorr(
      (pos ++ neg ++ flat).toDF("k", "t", "x", "y"),
      Seq("k"), orderCol = col("t"), tieCol = col("t"),
      xCol = "x", yCol = "y", window = 3)
      .collect().groupBy(_.getString(0))
    assert(out("pos").length == 4, "6 rows, window 3 → 4 full frames")
    assert(out("pos").forall(_.getDouble(3) == 1.0), s"${out("pos").toSeq}")
    assert(out("neg").forall(_.getDouble(3) == -1.0))
    assert(out("flat").forall(_.isNullAt(3)), "zero variance must be NULL")
  }

  test("seasonalNaiveError: an exact daily cycle scores mae24 = 0; grid gaps do not slide the lag") {
    val hours = (0 until 48).filter(_ != 30)
    val rows = hours.map(h => ("k", h * 3600L, (h % 24).toDouble))
    val df = rows.toDF("k", "sec", "v")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val r = etl.Aggregates.seasonalNaiveError(df, Seq("k"), col("ts"), "v")
      .collect().head
    assert(r.getDouble(1) == 0.0, s"mae_24h=${r.getDouble(1)}")
    assert(r.getDouble(3) == 0.0, s"mase24=${r.getDouble(3)}")
    // hour 30 is missing: its 24h-echo (hour 54) doesn't exist, hour 6's
    // echo IS hour 30 → absent; 24h pairs = hours 24..47 minus {30 gone,
    // 6+24=30's target... } → 24 − 1 = 23 matched pairs
    assert(r.getLong(4) == 23L, s"n_24h=${r.getLong(4)}")
    // 1h pairs: h and h−1 both present → h ∈ 1..47 minus {30, 31} = 45
    // (a row-LAG would have wrongly compared hour 31 against hour 29)
    assert(r.getLong(5) == 45L, s"n_1h=${r.getLong(5)}")
    assert(r.getLong(6) == 47L)
  }

  test("asof tolerance: in-horizon carries, stale attaches NULL, plain asof would carry") {
    // left events at t=100s and t=1000s; right readings at t=90 (v=1.0)
    // and t=95 (v=2.0). Tolerance 60 s: the t=100 event carries v=2.0
    // (latest in horizon), the t=1000 event gets NULL — where the plain
    // as-of would fossilize v=2.0 forever
    val l = Seq((1L, "k", 100L), (2L, "k", 1000L)).toDF("id", "k", "sec")
      .withColumn("t", timestamp_seconds(col("sec"))).drop("sec")
    val r = Seq(("k", 90L, 1.0), ("k", 95L, 2.0)).toDF("k", "sec", "v")
      .withColumn("t", timestamp_seconds(col("sec"))).drop("sec")
    val out = operators.AsOfJoin.latestAtOrBeforeWithin(l, r,
      "k", "k", "t", "t", "v", "asof_v", toleranceSecs = 60L)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(out(1L).getAs[Double]("asof_v") == 2.0, s"got ${out(1L)}")
    assert(out(2L).isNullAt(out(2L).fieldIndex("asof_v")),
      s"stale must be NULL: ${out(2L)}")
    val plain = operators.AsOfJoin.latestAtOrBefore(l, r,
      "k", "k", "t", "t", "v", "asof_v")
      .collect().map(x => x.getLong(0) -> x.getAs[Double]("asof_v")).toMap
    assert(plain(2L) == 2.0, "the contrast: plain as-of carries forever")
    // boundary: exactly at the tolerance edge is IN (<=)
    val edge = operators.AsOfJoin.latestAtOrBeforeWithin(
      Seq((3L, "k", 155L)).toDF("id", "k", "sec")
        .withColumn("t", timestamp_seconds(col("sec"))).drop("sec"),
      r, "k", "k", "t", "t", "v", "asof_v", toleranceSecs = 60L)
      .collect().head
    assert(edge.getAs[Double]("asof_v") == 2.0, s"edge inclusive: $edge")
  }

  test("JaroWinkler: pinned to the standard values; DuckDB conventions on edges") {
    val cases = Seq(
      ("martha", "marhta", 0.961111), // the census-paper classic
      ("dixon", "dicksonx", 0.813333),
      ("dwayne", "duane", 0.84),
      ("aaaaa", "aaaab", 0.92),          // prefix boost capped at 4
      ("abcdxxxx", "abcdyyyy", 0.666667), // jaro <= 0.7 -> NO boost
      ("abc", "xyz", 0.0),
      ("a", "a", 1.0),
      ("ab", "ba", 0.0),                 // window 0: no cross-position match
      ("", "abc", 0.0), ("", "", 0.0),   // empty -> 0, INCLUDING both-empty
      ("ABCD", "abcd", 0.0))             // case-sensitive
    val df = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .withColumn("jw", graft.functions.roundStable(
        graft.functions.JaroWinkler.jaroWinkler(col("a"), col("b")), 6))
    val got = df.select("jw").as[Double].collect()
    cases.zip(got).foreach { case ((a, b, want), g) =>
      assert(math.abs(g - want) < 1e-6, s"jw($a, $b) = $g, want $want")
    }
    // interpreted path (no codegen) must agree with the codegen'd one
    val interp = cases.map { case (a, b, _) =>
      graft.functions.JaroWinkler.score(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
    }
    interp.zip(got).foreach { case (i, g) =>
      assert(math.abs(math.floor(i * 1e6 + 0.5) / 1e6 - g) < 1e-9) }
  }

  test("LabelProp: planted communities found through the bridge; salted ≡ plain") {
    // two 5-cliques joined by ONE bridge edge: 3 rounds of min-tie LPA
    // label each clique by its min member, and the bridge does not leak
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a != b) yield (a, b)
    val e = (clique(Seq(1L, 2L, 3L, 4L, 5L)) ++
      clique(Seq(10L, 11L, 12L, 13L, 14L)) ++ Seq((5L, 10L), (10L, 5L)))
      .toDF("src", "dst")
    val out = operators.LabelProp.run(e, "src", "dst", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(out(_) == 1L), s"$out")
    assert(Seq(11L, 12L, 13L, 14L).forall(out(_) == 10L), s"$out")
    val salted = operators.LabelProp.run(e, "src", "dst", rounds = 3,
      saltBuckets = 4).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == out, "salting must not change the vote")
    // communities() census over the same labels
    val cs = operators.LabelProp.communities(e, "src", "dst", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cs(1L) >= 4L && cs(10L) >= 4L, s"census: $cs")
  }

  test("theilSen: a planted outlier moves OLS but not Theil-Sen; single-hour key NULL") {
    // y = 2x + 1 over 20 hours, one wild spike at the end (where it
    // tilts OLS hardest — a center spike mostly moves the intercept)
    val rows = (0 until 20).map { h =>
      val v = if (h == 19) 1000.0 else 2.0 * h + 1.0
      ("k", h * 3600L, v)
    } ++ Seq(("solo", 0L, 5.0))
    val df = rows.toDF("k", "sec", "v")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = etl.Aggregates.theilSen(df, Seq("k"), col("ts"), "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(math.abs(out("k").getDouble(1) - 2.0) < 1e-6,
      s"robust slope must survive the spike: ${out("k")}")
    val ols = etl.Aggregates.olsTrend(
      df.filter(col("k") === "k").withColumn("x", col("sec") / 3600.0),
      Seq("k"), col("x"), col("v")).collect().head.getDouble(1)
    assert(math.abs(ols - 2.0) > 1, s"the contrast: OLS is tilted ($ols)")
    assert(out("solo").isNullAt(1) && out("solo").isNullAt(2),
      s"no pair to vote: ${out("solo")}")
    assert(out("solo").getLong(4) == 0L)
    assert(out("k").getLong(4) == 190L, "C(20,2) pairs")
  }

  test("vocabCoverage: hand corpus with a known OOV tally; boundary cut deterministic") {
    // vocab size 2 over tf: the=3, cat=2, dog=1, emu=1 -> vocab {the, cat}
    // (dog/emu tie at 1 but both fall outside the cut)
    val docs = Seq((1L, "the cat the"), (2L, "the cat dog"), (3L, "emu"))
      .toDF("doc_id", "text")
    val out = text.Corpus.vocabCoverage(docs, "doc_id", "text", vocabSize = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 3L && out(1L).getLong(2) == 0L)
    assert(out(2L).getLong(2) == 1L && out(2L).getLong(4) == 1L) // dog OOV
    assert(out(3L).getDouble(3) == 1.0, s"all-OOV doc: ${out(3L)}")
    // tie at the boundary: vocabSize 3 must pick dog (token ASC) not emu
    val v3 = text.Corpus.vocabCoverage(docs, "doc_id", "text", vocabSize = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(v3(2L).getLong(2) == 0L, "dog in vocab at size 3 (tf tie, token asc)")
    assert(v3(3L).getDouble(3) == 1.0, "emu still out")
  }

  test("asof nearest: picks the closer side, distance ties backward, horizon NULL") {
    // readings at t=100 (v=1.0) and t=130 (v=2.0)
    val r = Seq(("k", 100L, 1.0), ("k", 130L, 2.0)).toDF("k", "sec", "v")
      .withColumn("t", timestamp_seconds(col("sec"))).drop("sec")
    def go(leftSec: Long, tol: Long) =
      operators.AsOfJoin.nearestWithin(
        Seq((1L, "k", leftSec)).toDF("id", "k", "sec")
          .withColumn("t", timestamp_seconds(col("sec"))).drop("sec"),
        r, "k", "k", "t", "t", "v", "nv", toleranceSecs = tol)
        .collect().head
    assert(go(105L, 60L).getAs[Double]("nv") == 1.0, "5s back beats 25s fwd")
    assert(go(125L, 60L).getAs[Double]("nv") == 2.0, "5s fwd beats 25s back")
    assert(go(115L, 60L).getAs[Double]("nv") == 1.0, "exact tie goes backward")
    assert(go(127L, 2L).isNullAt(3), "neither side within 2s")
    assert(go(131L, 1L).getAs[Double]("nv") == 2.0, "boundary inclusive")
  }

  test("trimmedStats: tails discarded vs clamped; all-equal key degenerates to the mean") {
    // 1..10 plus a wild 1000: mean believes it, trimmed drops it,
    // winsorized caps it at the 90th-pct bound
    val rows = ((1 to 10).map(_.toDouble) :+ 1000.0).map(("k", _)) ++
      Seq(("flat", 7.0), ("flat", 7.0))
    val out = etl.Aggregates.trimmedStats(rows.toDF("k", "v"), Seq("k"), "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getDouble(1) > 90, s"plain mean believes the glitch: $k")
    assert(k.getDouble(2) < 10, s"trimmed mean must not: $k")
    assert(k.getDouble(3) < 20 && k.getDouble(3) >= k.getDouble(2) - 1e-9,
      s"winsorized caps the glitch, never below trimmed: $k")
    val f = out("flat")
    assert(f.getDouble(1) == 7.0 && f.getDouble(2) == 7.0 &&
      f.getDouble(3) == 7.0, s"degenerate key: $f")
  }

  test("modularity: two triangles + a bridge score the textbook Q; cross-label edges dilute") {
    // communities {a,b,c} / {d,e,f}, bridge c-d: per side
    // contrib = 6/14 - (7/14)^2 = 0.178571
    val und = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d"))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val labels = Seq("a" -> 1L, "b" -> 1L, "c" -> 1L,
      "d" -> 2L, "e" -> 2L, "f" -> 2L).toDF("node", "lab")
    val out = operators.LabelProp.modularity(edges, "src", "dst",
      labels, "node", "lab")
      .collect().map(r => r.getLong(0) -> r).toMap
    for (l <- Seq(1L, 2L)) {
      assert(out(l).getLong(2) == 3L, s"3 internal undirected: ${out(l)}")
      assert(out(l).getLong(3) == 7L, s"degree sum 7: ${out(l)}")
      assert(math.abs(out(l).getDouble(4) - 0.178571) < 1e-6, s"${out(l)}")
    }
    // everything one label: Q = 1 - 1 = 0 exactly
    val one = operators.LabelProp.modularity(edges, "src", "dst",
      labels.withColumn("lab", lit(9L)), "node", "lab").collect().head
    assert(one.getDouble(4) == 0.0, s"single community is chance: $one")
  }

  test("chunkDedup: repeated chunk dropped keep-first, partial tail kept, order stable") {
    // window 2: doc 1 = [ab] [cd] [ab] [e] -> dup [ab] dropped, tail kept
    val docs = Seq((1L, "a b c d a b e"), (2L, "x y")).toDF("doc_id", "text")
    val out = text.Corpus.chunkDedup(docs, "doc_id", "text", window = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 4L && out(1L).getLong(2) == 1L, s"${out(1L)}")
    assert(out(1L).getString(3) == "a b c d e", s"${out(1L)}")
    assert(out(2L).getLong(2) == 0L && out(2L).getString(3) == "x y")
  }

  test("Bfs.hops: min over paths, horizon excludes, multi-seed min, seed dist 0") {
    // chain a->b->c->d->e plus shortcut a->c; seeds {a}
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "c"))
      .toDF("src", "dst")
    val out = operators.Bfs.hops(e, "src", "dst",
      Seq("a").toDF("node"), "node", rounds = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 0L, "b" -> 1L, "c" -> 1L, "d" -> 2L, "e" -> 3L),
      s"shortcut must win and the horizon reach e: $out")
    val short = operators.Bfs.hops(e, "src", "dst",
      Seq("a").toDF("node"), "node", rounds = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!short.contains("e"), s"beyond the horizon = absent, not capped: $short")
    // a second seed at d pulls e to 1 and leaves the a-side untouched
    val multi = operators.Bfs.hops(e, "src", "dst",
      Seq("a", "d").toDF("node"), "node", rounds = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(multi("e") == 1L && multi("d") == 0L && multi("b") == 1L, s"$multi")
  }

  test("Bfs.hops: rounds read the edge frame at its adaptive partition count, not one task per shuffle partition") {
    // q170's edge shape: a distinct and its swap, a union of two shuffles
    // of spark.sql.shuffle.partitions each. Cached as is, that frame
    // keeps 2 × parts partitions and every round scans them all.
    val parts = 32
    val rounds = 4
    val pairs = (0 until 90).map(i => (s"c${i % 30}", s"s${(i * 7) % 11}"))
    val cs = pairs.toDF("src", "dst").distinct()
    val edges = cs.unionByName(cs.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = Seq("c0", "c17").toDF("node")
    val sc = spark.sparkContext
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet(); ()
      }
    }
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    val out = try {
      org.apache.spark.ListenerBusDrain(sc)
      sc.addSparkListener(listener)
      val dist = operators.Bfs.hops(edges, "src", "dst", seeds, "node", rounds)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      org.apache.spark.ListenerBusDrain(sc)
      dist
    } finally {
      sc.removeSparkListener(listener)
      spark.conf.set("spark.sql.shuffle.partitions", before)
    }
    val launched = s"${tasks.get} tasks for $rounds rounds at $parts shuffle partitions"
    info(launched)
    assert(tasks.get < rounds * parts, launched)
    // the same horizon, breadth-first by hand over the undirected graph
    val adj = (pairs ++ pairs.map(_.swap)).distinct.groupMap(_._1)(_._2)
    var frontier = Set("c0", "c17")
    val expected = scala.collection.mutable.Map(frontier.toSeq.map(_ -> 0L): _*)
    for (d <- 1 to rounds) {
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).filterNot(expected.contains)
      frontier.foreach(expected(_) = d.toLong)
    }
    assert(out == expected.toMap)
  }

  test("jsd: identical windows score exactly 0; a full-range shift is large but <= ln 2") {
    val same = (1 to 200).flatMap(i =>
      Seq(("k", i.toDouble, true), ("k", i.toDouble, false)))
    val z = etl.Drift.jsd(same.toDF("k", "v", "r"), Seq("k"), "v", col("r"))
      .collect().head
    assert(z.getDouble(1) == 0.0, s"identical halves: $z")
    // current window entirely above the reference range clamps into the
    // top bin -> near-maximal divergence, still bounded by ln 2
    val shifted = (1 to 200).map(i => ("k", i.toDouble, true)) ++
      (1 to 200).map(i => ("k", 1000.0 + i, false))
    val s = etl.Drift.jsd(shifted.toDF("k", "v", "r"), Seq("k"), "v", col("r"))
      .collect().head
    assert(s.getDouble(1) > 0.3 && s.getDouble(1) <= math.log(2) + 1e-9,
      s"shift must be large and bounded: $s")
  }

  test("kaplanMeier: textbook small case; censored subjects discount the at-risk set") {
    // classic: events at t=1 (d=1, n=5) and t=3 (d=1, n=3), censored at
    // t=2 and t=4, one survivor to t=5 censored:
    // S(1)=4/5=0.8, S(3)=0.8*(2/3)=0.533333, S stays there after
    val subj = Seq((1L, true), (2L, false), (3L, true), (4L, false),
      (5L, false)).toDF("dur", "obs").withColumn("k", lit("g"))
    val out = etl.Aggregates.kaplanMeier(subj, Seq("k"), "dur", col("obs"))
      .collect().map(r => r.getLong(1) -> r).toMap
    assert(out(1L).getLong(2) == 5L && out(1L).getDouble(5) == 0.8, s"${out(1L)}")
    assert(out(3L).getLong(2) == 3L, "two dropped before t=3")
    assert(math.abs(out(3L).getDouble(5) - 0.533333) < 1e-6, s"${out(3L)}")
    assert(out(5L).getDouble(5) == out(3L).getDouble(5),
      "censoring alone never steps the curve")
    // everyone dies at the end: survival pinned to exactly 0, no ln(0)
    val all = Seq((1L, true), (2L, true)).toDF("dur", "obs")
      .withColumn("k", lit("g"))
    val dead = etl.Aggregates.kaplanMeier(all, Seq("k"), "dur", col("obs"))
      .collect().map(r => r.getLong(1) -> r.getDouble(5)).toMap
    assert(dead(1L) == 0.5 && dead(2L) == 0.0, s"$dead")
  }

  test("ndcgAtK: perfect ranking = 1, relevant-last < 1, no relevant = NULL") {
    // 2-d unit-ish vectors: query q points at (1,0); same-label docs at
    // tiny angles rank first -> perfect; a disjoint-label query has R=0
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val rows = Seq(
      (1L, v(1, 0), 7),     // query, label 7
      (2L, v(0.99, 0.1), 7), (3L, v(0.98, 0.2), 7), // relevant, closest
      (4L, v(0.5, 0.8), 8), (5L, v(0.3, 0.9), 8),   // irrelevant, far
      (10L, v(0, 1), 99))   // query with label 99: nothing else has it
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = sim.Similarity.ndcgAtK(df,
      df.filter(col("vec_id") === 1L || col("vec_id") === 10L),
      "vec_id", "embedding", "label", k = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getDouble(3) == 1.0,
      s"both relevant docs rank 1-2 of 3, R=2 -> ideal: ${out(1L)}")
    assert(out(1L).getLong(1) == 2L && out(1L).getLong(2) == 2L)
    assert(out(10L).isNullAt(3) && out(10L).getLong(2) == 0L,
      s"R=0 is undefined, not zero: ${out(10L)}")
    // flip the geometry: relevant docs now FARTHEST -> ndcg strictly < 1
    val flipped = Seq((1L, v(1, 0), 7), (2L, v(0, 1), 7), (3L, v(0.1, 1), 7),
      (4L, v(0.99, 0.1), 8), (5L, v(0.98, 0.2), 8)).toDF("vec_id", "embedding", "label")
    val worse = sim.Similarity.ndcgAtK(flipped,
      flipped.filter(col("vec_id") === 1L), "vec_id", "embedding", "label",
      k = 3).collect().head
    assert(worse.getDouble(3) < 1.0 && worse.getDouble(3) > 0.0, s"$worse")
  }

  test("scalableMedian: exact vs percentile on hostile shapes; ranks straddling bins") {
    // shapes chosen to stress the narrowing: even/odd n, duplicates,
    // skewed mass, constant key, and a case where the two middle order
    // statistics land in DIFFERENT histogram bins (n=4 with the middle
    // pair far apart at bins=4)
    val data =
      (1 to 101).map(i => ("odd", i.toDouble)) ++
      (1 to 100).map(i => ("even", i.toDouble)) ++
      Seq.fill(50)(("dup", 7.0)) ++ Seq.fill(49)(("dup", 9.0)) ++
      (1 to 99).map(_ => ("skew", 1.0)) ++ Seq(("skew", 1000.0)) ++
      Seq(("flat", 3.0), ("flat", 3.0)) ++
      Seq(("straddle", 0.0), ("straddle", 1.0), ("straddle", 99.0),
        ("straddle", 100.0))
    val df = data.toDF("k", "v")
    val got = etl.Aggregates.scalableMedian(df, Seq("k"), "v", bins = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = df.groupBy("k")
      .agg(expr("percentile(v, 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for ((k, m) <- want)
      assert(math.abs(got(k) - m) < 1e-9, s"$k: got ${got(k)}, want $m")
    assert(got("straddle") == 50.0, "middle pair (1.0, 99.0) spans bins")
    assert(got("even") == 50.5 && got("odd") == 51.0 && got("dup") == 7.0)
  }

  test("kFold: total partition, repartition-stable, all folds populated") {
    val docs = (1L to 500L).toDF("doc_id")
    val f = text.Corpus.kFold(docs, "doc_id", k = 5)
    val counts = f.groupBy("fold").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set(0L, 1L, 2L, 3L, 4L), s"$counts")
    assert(counts.values.sum == 500L, "every doc in exactly one fold")
    val again = text.Corpus.kFold(docs.repartition(7), "doc_id", 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val first = f.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == first, "assignment must not depend on partitioning")
  }

  test("rbo: identical = 1, disjoint = 0, deeper swaps hurt less, one-sided query = 0") {
    def list(q: Long, docs: Seq[Long]) =
      docs.zipWithIndex.map { case (d, i) => (q, d, (i + 1).toLong) }
    val a = (list(1L, Seq(1, 2, 3, 4)) ++ list(2L, Seq(1, 2, 3, 4)) ++
      list(3L, Seq(1, 2, 3, 4)) ++ list(4L, Seq(1, 2, 3, 4)))
      .toDF("qid", "doc", "rank")
    val b = (list(1L, Seq(1, 2, 3, 4)) ++      // identical
      list(2L, Seq(9, 8, 7, 6)) ++             // disjoint
      list(3L, Seq(2, 1, 3, 4)))               // top-2 swapped; q4 absent
    .toDF("qid", "doc", "rank")
    val out = text.Retrieval.rbo(a, b, "qid", "doc", "rank", k = 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getDouble(1) == 1.0, s"identical: ${out(1L)}")
    assert(out(2L).getDouble(1) == 0.0 && out(2L).getLong(2) == 0L)
    assert(out(3L).getDouble(1) > 0.5 && out(3L).getDouble(1) < 1.0,
      s"adjacent top swap is a mild disagreement: ${out(3L)}")
    assert(out(4L).getDouble(1) == 0.0, "query missing from B scores 0")
    // a swap at the BOTTOM hurts less than the same swap at the TOP
    val bBottom = (list(1L, Seq(1, 2, 4, 3))).toDF("qid", "doc", "rank")
    val aTop = (list(1L, Seq(1, 2, 3, 4))).toDF("qid", "doc", "rank")
    val bottom = text.Retrieval.rbo(aTop, bBottom, "qid", "doc", "rank", 4)
      .collect().head.getDouble(1)
    assert(bottom > out(3L).getDouble(1),
      s"bottom swap $bottom must beat top swap ${out(3L).getDouble(1)}")
  }

  test("assocRules: hand baskets give the textbook triple; lift kills the popularity confound") {
    // 10 baskets: {a,b} in 4, {a} alone in 2, {b} alone in 0, popular
    // item p in ALL 10, {a,p} co-occurs wherever a is (6 baskets)
    val rows =
      (1 to 4).flatMap(i => Seq((i.toLong, "a"), (i.toLong, "b"), (i.toLong, "p"))) ++
      (5 to 6).flatMap(i => Seq((i.toLong, "a"), (i.toLong, "p"))) ++
      (7 to 10).map(i => (i.toLong, "p"))
    val out = operators.MarketBasket.assocRules(rows.toDF("bk", "it"),
      "bk", "it", minCount = 2L, minLift = 0.0)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ab = out(("a", "b"))
    // support 4/10, conf 4/6, lift (4/6)/(4/10) = 1.666667
    assert(ab.getDouble(3) == 0.4 && math.abs(ab.getDouble(4) - 0.666667) < 1e-6)
    assert(math.abs(ab.getDouble(5) - 1.666667) < 1e-6, s"$ab")
    // a => p has perfect confidence but lift EXACTLY 1 (p is everywhere
    // — association by popularity alone)
    val ap = out(("a", "p"))
    assert(ap.getDouble(4) == 1.0 && ap.getDouble(5) == 1.0, s"$ap")
    // confidence is asymmetric: b => a is 4/4 = 1.0
    assert(out(("b", "a")).getDouble(4) == 1.0)
  }

  test("skewReport: planted hub dominates with the right factors; topN cuts deterministically") {
    // 9 keys with 10 rows + one hub with 910 -> mean 100, hub factor 9.1
    val rows = (1L to 9L).flatMap(k => Seq.fill(10)(k)) ++ Seq.fill(910)(99L)
    val out = operators.Skew.skewReport(rows.toDF("k"), Seq("k"), topN = 3)
      .collect()
    assert(out.length == 3)
    val hub = out.head
    assert(hub.getLong(0) == 99L && hub.getLong(1) == 1L && hub.getLong(2) == 910L)
    assert(hub.getDouble(3) == 0.91, s"share: $hub")
    assert(hub.getDouble(4) == 9.1 && hub.getDouble(5) == 9.1, s"factors: $hub")
    // ranks 2-3: count ties broken by key ascending
    assert(out(1).getLong(0) == 1L && out(2).getLong(0) == 2L)
  }

  test("profile: nulls and distincts exact per column in one scan; approx flag stays sane") {
    val df = Seq((1L, Some("x"), Some(1.0)), (2L, Some("x"), None),
      (3L, None, Some(2.0)), (4L, Some("y"), Some(2.0)))
      .toDF("id", "s", "v")
    val out = etl.Profile.profile(df, Seq("id", "s", "v"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("id").getLong(2) == 0L && out("id").getLong(3) == 4L)
    assert(out("s").getLong(2) == 1L && out("s").getLong(3) == 2L)
    assert(out("v").getLong(2) == 1L && out("v").getLong(3) == 2L)
    assert(out("v").getDouble(4) == 0.25, s"null_rate: ${out("v")}")
    assert(math.abs(out("v").getDouble(5) - 0.666667) < 1e-6, "2 distinct / 3 non-null")
    // the one-scan plan: exactly one row source feeding the agg
    val plan = etl.Profile.profile(df, Seq("id", "s", "v"))
      .queryExecution.optimizedPlan
    val scans = plan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l }
    assert(scans.length == 1, s"profiling must scan ONCE:\n$plan")
    val approx = etl.Profile.profile(df, Seq("s"), approxDistinct = true)
      .collect().head
    assert(approx.getLong(3) == 2L, "HLL exact at tiny cardinality")
  }

  test("spearman: monotone-nonlinear = exactly 1, hand ties case, constant side = NULL") {
    // y = x^3 is monotone but not linear: Pearson < 1, Spearman == 1
    val cube = (1 to 20).map(i => ("c", i.toDouble, math.pow(i, 3)))
    val rev = (1 to 20).map(i => ("r", i.toDouble, -math.pow(i, 3)))
    // hand case with a y tie: ranks x 1..5, ranks y (1,2,3.5,5,3.5)
    // -> rho = 8/sqrt(10*9.5) = 0.820783
    val hand = Seq(("h", 1.0, 5.0), ("h", 2.0, 6.0), ("h", 3.0, 7.0),
      ("h", 4.0, 8.0), ("h", 5.0, 7.0))
    val flat = (1 to 5).map(i => ("f", 1.0, i.toDouble))
    val out = etl.Aggregates.spearman(
      (cube ++ rev ++ hand ++ flat).toDF("k", "x", "y"),
      Seq("k"), col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("c").getDouble(1) == 1.0 && out("r").getDouble(1) == -1.0)
    assert(math.abs(out("h").getDouble(1) - 0.820783) < 1e-6, s"${out("h")}")
    assert(out("f").isNullAt(1), "zero-variance side is undefined, not 0/0")
    assert(out("c").getLong(2) == 20L)
  }

  test("pettitt: planted step localizes exactly; flat key quiet; short keys visible with NULLs") {
    // step key: 15 days at 0, 15 at 100 (two rows/day to exercise the
    // bucket agg) -> by hand: U_t = -15t for t<=15, K = 225 at day 15,
    // p = 2*exp(-6*225^2 / (27000+900)) ~ 3.7e-5
    val step = (1 to 30).flatMap(d =>
      Seq.fill(2)(("step", d, if (d <= 15) 0.0 else 100.0)))
    // alternating key: no level shift, statistic small / p large
    val alt = (1 to 30).map(d => ("alt", d, if (d % 2 == 0) 1.0 else 2.0))
    val short2 = Seq(("two", 1, 5.0), ("two", 2, 9.0))
    val one = Seq(("one", 1, 5.0))
    val df = (step ++ alt ++ short2 ++ one).toDF("k", "d", "v")
    val out = etl.Drift.pettitt(df, Seq("k"), col("d"), "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("step").getInt(1) == 15 && out("step").getDouble(2) == 225.0,
      s"${out("step")}")
    assert(out("step").getDouble(3) < 1e-4, s"p: ${out("step")}")
    assert(out("alt").getDouble(3) > 0.5, s"no shift -> big p: ${out("alt")}")
    // < 3 buckets: key present, statistics NULL, count real
    assert(out("two").isNullAt(2) && out("two").getLong(4) == 2L)
    assert(out("one").isNullAt(2) && out("one").getLong(4) == 1L,
      "a 1-bucket key must not vanish")
  }

  test("retrievalEvalAtK: perfect run scores 1s; known interleave gives the textbook AP; R=0 NULL") {
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    // query 1 (label 7): relevant docs at ranks 1 and 3 of k=3 ->
    // rr = 1, P@3 = 2/3, recall = 2/2 = 1, AP = (1/1 + 2/3)/2 = 5/6
    val rows = Seq(
      (1L, v(1, 0), 7),
      (2L, v(0.99, 0.1), 7),   // rank 1 (relevant)
      (4L, v(0.9, 0.43), 8),   // rank 2 (irrelevant)
      (3L, v(0.8, 0.6), 7),    // rank 3 (relevant)
      (5L, v(0.1, 0.99), 8),
      (10L, v(0, 1), 99))      // R=0 query
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = sim.Similarity.retrievalEvalAtK(df,
      df.filter(col("vec_id") === 1L || col("vec_id") === 10L),
      "vec_id", "embedding", "label", k = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    val q1 = out(1L)
    assert(q1.getDouble(3) == 1.0, s"first hit at rank 1: $q1")
    assert(math.abs(q1.getDouble(4) - 0.666667) < 1e-6, s"P@3: $q1")
    assert(q1.getDouble(5) == 1.0, s"recall: $q1")
    assert(math.abs(q1.getDouble(6) - 0.833333) < 1e-6, s"AP: $q1")
    val q10 = out(10L)
    assert(q10.getDouble(3) == 0.0 && q10.isNullAt(5) && q10.isNullAt(6),
      s"R=0: rr is a real 0, recall/AP undefined: $q10")
  }

  test("Rules.check: every rule kind exact on hand data; nulls belong to not_null only; one scan") {
    val df = Seq(
      (1L, Some("click"), Some(5.0), Some("{\"a\":1}")),
      (1L, Some("click"), Some(50.0), Some("oops")),    // dup id, bad json
      (2L, None, Some(-3.0), None),                     // null type+props, low
      (3L, Some("drag"), Some(101.0), Some("{}")),      // bad set, high
      (4L, Some("view"), None, Some("{}")))             // null value
      .toDF("id", "etype", "v", "props")
    val out = etl.Rules.check(df, Seq(
      etl.Rules.NotNull("v"),
      etl.Rules.InRange("v", 0.0, 100.0),
      etl.Rules.InSet("etype", Seq("click", "view")),
      etl.Rules.MatchesRegex("props", "^\\{.*\\}$"),
      etl.Rules.Unique(Seq("id"))))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("not_null").getLong(2) == 1L)
    // nulls are NOT range violations — only -3 and 101 are
    assert(out("in_range").getLong(2) == 2L)
    assert(out("in_set").getLong(2) == 1L, "null etype is not_null's job")
    assert(out("matches_regex").getLong(2) == 1L)
    assert(out("unique").getLong(2) == 1L, "one row beyond the first")
    assert(!out("unique").getBoolean(5) && out("unique").getLong(3) == 5L)
    assert(out("in_range").getDouble(4) == 0.4)
    val plan = etl.Rules.check(df, Seq(etl.Rules.NotNull("v"),
      etl.Rules.Unique(Seq("id")))).queryExecution.optimizedPlan
    val scans = plan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l }
    assert(scans.length == 1, s"rules must evaluate in ONE scan:\n$plan")
  }

  test("Winnow: shared >= k+w-1 substring shares a fingerprint; positions decode; density sane") {
    // k=4, w=3: guarantee threshold k+w-1 = 6 chars
    val shared = "zqxjwvky" // 8 > 6 chars, rare-ish gram content
    val a = s"the first document text $shared and more tail here"
    val b = s"completely other words $shared unrelated trailing part"
    val c = "no overlap with either one of those two documents at all"
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val fp = text.Winnow.fingerprints(docs, "doc_id", "text", k = 4, w = 3)
    val byDoc = fp.collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
    assert((byDoc(1L) & byDoc(2L)).nonEmpty,
      "a >= k+w-1 shared substring must contribute a common fingerprint")
    // positions decode into the doc (1-based, within gram range)
    val pos = fp.filter(col("doc") === 1L).collect().map(_.getLong(2))
    assert(pos.forall(p => p >= 1 && p <= a.length - 3), s"${pos.toSeq}")
    val dens = text.Winnow.density(docs, "doc_id", "text", k = 4, w = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // expected density 2/(w+1) = 0.5; real text sits in a loose band
    assert(dens.values.forall(d => d > 0.25 && d < 0.85), s"$dens")
    // a doc shorter than k is dropped, not errored
    val tiny = text.Winnow.density(Seq((9L, "ab")).toDF("doc_id", "text"),
      "doc_id", "text", k = 4, w = 3)
    assert(tiny.count() == 0L)
  }

  test("kendallTau: textbook 0.4 case, tie-adjusted hand case, monotone = exactly 1, constant NULL") {
    // x 1..5 vs y (3,1,2,5,4): C=7 D=3 no ties -> tau = 0.4
    val book = Seq(1 -> 3.0, 2 -> 1.0, 3 -> 2.0, 4 -> 5.0, 5 -> 4.0)
      .map { case (b, y) => ("book", b, b.toDouble, y) }
    // x (1,1,2,3) vs y (1,2,3,4): C=5, D=0, xne=5, yne=6
    // -> tau_b = 5/sqrt(30) = 0.912871
    val ties = Seq((1, 1.0, 1.0), (2, 1.0, 2.0), (3, 2.0, 3.0),
      (4, 3.0, 4.0)).map { case (b, x, y) => ("ties", b, x, y) }
    val mono = (1 to 10).map(i => ("mono", i, i.toDouble, math.exp(i)))
    val flat = (1 to 5).map(i => ("flat", i, i.toDouble, 7.0))
    val out = etl.Aggregates.kendallTau(
      (book ++ ties ++ mono ++ flat).toDF("k", "b", "x", "y"),
      Seq("k"), col("b"), "x", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("book").getDouble(1) == 0.4, s"${out("book")}")
    assert(out("book").getLong(2) == 7L && out("book").getLong(3) == 3L)
    assert(math.abs(out("ties").getDouble(1) - 0.912871) < 1e-6,
      s"${out("ties")}")
    assert(out("mono").getDouble(1) == 1.0 && out("mono").getLong(4) == 45L)
    assert(out("flat").isNullAt(1), "an all-tied side is undefined")
  }

  test("bhAdjust: textbook step-up, q monotone in rank, nulls pass through unrejected") {
    val ps = Seq(("a", Some(0.01)), ("b", Some(0.02)), ("c", Some(0.03)),
      ("d", Some(0.04)), ("e", Some(0.30)), ("z", None: Option[Double]))
      .toDF("id", "p")
    val out = etl.Drift.bhAdjust(ps, Seq("id"), "p", alpha = 0.05)
      .collect().map(r => r.getString(0) -> r).toMap
    // raw p*m/i = (.05,.05,.05,.05,.30); suffix-min leaves them as-is
    Seq("a", "b", "c", "d").foreach { id =>
      assert(out(id).getDouble(3) == 0.05 && out(id).getBoolean(4),
        s"$id: ${out(id)}") }
    assert(out("e").getDouble(3) == 0.3 && !out("e").getBoolean(4))
    assert(out("a").getLong(2) == 1L && out("e").getLong(2) == 5L)
    assert(out("z").isNullAt(2) && out("z").isNullAt(3) &&
      !out("z").getBoolean(4), "null p visible, never rejected")
    // the step-up can PULL a p down past a smaller raw value:
    // p=(0.02, 0.021, 0.9): raw=(0.06, 0.0315, 0.9) -> q=(0.0315, 0.0315, 0.9)
    val pull = etl.Drift.bhAdjust(
      Seq(("a", 0.02), ("b", 0.021), ("c", 0.9)).toDF("id", "p"),
      Seq("id"), "p").collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(pull("a") == 0.0315 && pull("b") == 0.0315 && pull("c") == 0.9,
      s"$pull")
  }

  test("Winnow.sharedPairs: planted overlap found with the floor; doc-freq cap prunes; direction-free") {
    val boiler = "this exact shared boilerplate sentence occurs in both"
    val a = s"alpha unique opening words $boiler alpha closing remark"
    val b = s"beta different starting text $boiler beta separate ending"
    val c = "gamma text with nothing in common whatsoever here today"
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val pairs = text.Winnow.sharedPairs(docs, "doc_id", "text",
      k = 4, w = 3, maxDocFreq = 1000L, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)), s"$pairs")
    // the >= 50-char shared run guarantees many shared fingerprints
    assert(pairs((1L, 2L)) >= 5L, s"${pairs((1L, 2L))}")
    // a cap of 1 removes every cross-doc fingerprint by definition
    assert(text.Winnow.sharedPairs(docs, "doc_id", "text", k = 4, w = 3,
      maxDocFreq = 1L, minShared = 1L).count() == 0L)
  }

  test("weightedMedian: weight mass beats row count; boundary and tie cases; zero weights rejected") {
    // key a: values (1,2,3) weights (1,1,10) -> half of 12 is 6, first
    // value whose cum reaches 6 is 3 (plain median would say 2)
    val a = Seq(("a", 1.0, 1.0), ("a", 2.0, 1.0), ("a", 3.0, 10.0))
    // key b: exact boundary: (1,2) weights (5,5) -> cum at v=1 is 5 = tw/2
    // -> lower weighted median = 1
    val b = Seq(("b", 1.0, 5.0), ("b", 2.0, 5.0))
    // key c: crossing value split across TIED rows: (1 w2, 2 w1+w1+w2)
    // -> tw=6, crossing at v=2 regardless of intra-tie order
    val c = Seq(("c", 1.0, 2.0), ("c", 2.0, 1.0), ("c", 2.0, 1.0),
      ("c", 2.0, 2.0))
    // zero/negative weights must not carry the crossing
    val d = Seq(("d", 0.5, 0.0), ("d", 7.0, 3.0), ("d", 9.0, -1.0))
    val out = etl.Aggregates.weightedMedian(
      (a ++ b ++ c ++ d).toDF("k", "v", "w"), Seq("k"), "v", "w")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getDouble(1) == 3.0 && out("a").getDouble(2) == 12.0)
    assert(out("b").getDouble(1) == 1.0, "inclusive boundary: cum == tw/2")
    assert(out("c").getDouble(1) == 2.0)
    assert(out("d").getDouble(1) == 7.0 && out("d").getDouble(2) == 3.0,
      s"zero/negative weights dropped: ${out("d")}")
  }

  test("overlapJoin: exact pairs once each across cell boundaries; touching counts; disjoint doesn't") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // left interval spans 3 daily cells; right overlaps it in cell 2 —
    // the pair must appear ONCE (canonical-cell dedup), not 2-3 times
    val left = Seq(
      (1L, t("2021-01-01 06:00:00"), t("2021-01-03 18:00:00")),
      (1L, t("2021-01-10 00:00:00"), t("2021-01-10 01:00:00")),
      (2L, t("2021-01-01 00:00:00"), t("2021-01-01 02:00:00")))
      .toDF("k", "session_start", "session_end")
    val right = Seq(
      (1L, t("2021-01-02 12:00:00"), t("2021-01-04 12:00:00")),
      // touching exactly at the left's end: closed semantics, overlap 0
      (1L, t("2021-01-03 18:00:00"), t("2021-01-05 00:00:00")),
      // disjoint from everything
      (1L, t("2021-02-01 00:00:00"), t("2021-02-02 00:00:00")),
      // other key: never joins key 1
      (2L, t("2021-01-01 01:00:00"), t("2021-01-01 03:00:00")))
      .toDF("k", "session_start", "session_end")
    val out = operators.Intervals.overlapJoin(left, right, Seq("k"),
      "session_start", "session_end", binMicros = 86400L * 1000000L)
      .collect()
    val k1 = out.filter(_.getLong(0) == 1L)
    assert(k1.length == 2, s"exactly the two true pairs, once each: ${out.toSeq}")
    val touching = k1.filter(_.getLong(5) == 0L)
    assert(touching.length == 1, "end==start overlaps with zero duration")
    val proper = k1.filter(_.getLong(5) > 0L).head
    assert(proper.getLong(5) == 30L * 3600L * 1000000L,
      s"Jan2 12:00 .. Jan3 18:00 = 30h: $proper")
    assert(out.count(_.getLong(0) == 2L) == 1)
  }

  test("personalized PageRank: mass concentrates at seeds; sums to ~1; plain run differs") {
    // star-ish graph: hub 0 <-> leaves 1..6, plus a far pair 7 <-> 8
    val edges = ((1 to 6).flatMap(i => Seq((0L, i.toLong), (i.toLong, 0L))) ++
      Seq((7L, 8L), (8L, 7L))).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val ppr = operators.PageRank.personalized(edges, "src", "dst",
      seeds, "node", iters = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // walk restarts at 1: rank(1) > rank(hub-adjacent others); the
    // disconnected far pair gets NO mass at all
    assert(ppr(1L) > ppr(2L) && ppr(0L) > ppr(2L), s"$ppr")
    assert(ppr(7L) == 0.0 && ppr(8L) == 0.0, "unreachable from seeds")
    // total mass conserved (no dangling nodes in this graph)
    assert(math.abs(ppr.values.sum - 1.0) < 1e-9, s"sum=${ppr.values.sum}")
    // leaves 2..6 are symmetric
    assert((2 to 6).map(i => ppr(i.toLong)).distinct.size == 1)
  }

  test("Tfidf.topTerms: distinctive terms win, ubiquitous terms score 0, k cuts deterministically") {
    val docs = Seq(
      (1L, "shared shared apple apple apple banana"),
      (2L, "shared cherry cherry banana"),
      (3L, "shared date")).toDF("doc_id", "text")
    val out = text.Tfidf.topTerms(docs, "doc_id", "text", k = 2)
      .collect().groupBy(_.getLong(0))
    // doc 1: apple (tf=3, df=1) beats banana (tf=1, df=2); 'shared'
    // (df=3) has idf ln(1)=0 and never makes the cut over positives
    val d1 = out(1L).sortBy(_.getLong(5)).map(_.getString(1)).toSeq
    assert(d1 == Seq("apple", "banana"), s"$d1")
    assert(out.values.forall(_.length <= 2))
    // all-ubiquitous doc: every term scores exactly 0; rank still total
    val mono = Seq((1L, "x y"), (2L, "x y"), (3L, "x y"))
      .toDF("doc_id", "text")
    val z = text.Tfidf.topTerms(mono, "doc_id", "text", k = 2).collect()
    assert(z.forall(_.getDouble(4) == 0.0) && z.length == 6)
    assert(z.filter(_.getLong(0) == 1L).sortBy(_.getLong(5))
      .map(_.getString(1)).toSeq == Seq("x", "y"), "0-ties break by term")
  }

  test("crossCorr: a planted 2-hour lead peaks at exactly that lag; gaps drop pairs; flat NULL") {
    // x at hour h follows pattern p(h); y follows p(h-2): x LEADS y by 2
    // -> ccf at lag +2 is exactly 1 (y(t+2) = x(t) shifted pattern)
    def p(h: Int) = (h * 37 % 11).toDouble
    val hours = 0 until 48
    val rows =
      hours.map(h => ("x", h, p(h))) ++
      hours.map(h => ("y", h, p(h - 2)))
    val df = rows.toDF("s", "h", "v")
      .withColumn("ts", timestamp_seconds(col("h") * 3600L))
    val out = etl.Aggregates.crossCorr(df, col("ts"),
      isX = col("s") === "x", isY = col("s") === "y", "v",
      lags = Seq(-2, 0, 2))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(2L).getDouble(1) == 1.0, s"exact shifted copy: ${out(2L)}")
    assert(out(2L).getLong(2) == 46L, "46 aligned hours at lag 2")
    assert(math.abs(out(0L).getDouble(1)) < 1.0, "unshifted is imperfect")
    // a flat y side has zero variance -> NULL, not 0/0
    val flat = (hours.map(h => ("x", h, p(h))) ++
      hours.map(h => ("y", h, 5.0))).toDF("s", "h", "v")
      .withColumn("ts", timestamp_seconds(col("h") * 3600L))
    val f = etl.Aggregates.crossCorr(flat, col("ts"),
      col("s") === "x", col("s") === "y", "v", Seq(0)).collect().head
    assert(f.isNullAt(1), s"$f")
  }

  test("Attribution.linear: equal split, window edges, position flags, orphan conversions visible") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val conv = Seq(
      (1L, 100L, t("2021-01-10 12:00:00")),
      (1L, 101L, t("2021-01-20 12:00:00")),  // orphan: no click in window
      (2L, 200L, t("2021-01-10 12:00:00")))
      .toDF("u", "cid", "cts")
    val touch = Seq(
      (1L, 10L, t("2021-01-08 09:00:00")),   // in window (conv 100)
      (1L, 11L, t("2021-01-10 12:00:00")),   // boundary: touch == conv time counts
      (1L, 12L, t("2021-01-03 12:00:00")),   // exactly 7d before: EXCLUDED (open edge)
      (1L, 13L, t("2021-01-25 00:00:00")),   // after conv: excluded
      (2L, 20L, t("2021-01-09 00:00:00")))
      .toDF("u", "tid", "tts")
    val out = operators.Attribution.linear(conv, touch, Seq("u"),
      "cid", "cts", "tid", "tts", windowSecs = 7L * 86400L)
      .collect()
    val c100 = out.filter(_.getLong(1) == 100L).sortBy(_.getLong(3))
    assert(c100.map(_.getLong(3)).toSeq == Seq(10L, 11L), s"${c100.toSeq}")
    assert(c100.forall(r => r.getLong(5) == 2L && r.getDouble(6) == 0.5))
    assert(c100.head.getBoolean(7) && !c100.head.getBoolean(8), "10 is first")
    assert(c100.last.getBoolean(8), "11 (at conv instant) is last")
    val orphan = out.filter(_.getLong(1) == 101L)
    assert(orphan.length == 1 && orphan.head.isNullAt(3) &&
      orphan.head.getDouble(6) == 1.0 && orphan.head.getLong(5) == 0L,
      s"orphan visible with full credit: ${orphan.toSeq}")
    val c200 = out.filter(_.getLong(1) == 200L)
    assert(c200.length == 1 && c200.head.getLong(3) == 20L &&
      c200.head.getBoolean(7) && c200.head.getBoolean(8),
      "sole touch is both first and last")
  }

  test("RangeJoin.band: boundary-exact pairs once each; cross-cell matches; negatives align") {
    val left = Seq((1L, 10.00), (2L, 10.99), (3L, -0.50))
      .toDF("lid", "price_a")
    val right = Seq((10L, 11.00), (11L, 12.01), (12L, 0.49), (13L, 50.0))
      .toDF("rid", "price_b")
    val out = operators.RangeJoin.band(left, right, "price_a", "price_b",
      eps = 1.0, scale = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // 10.00~11.00 exactly at the band edge: included; 10.00~12.01 not;
    // 10.99~11.00 and 10.99~12.01 (1.02 > 1: out); -0.50~0.49 within 0.99
    assert(out == Set((1L, 10L), (2L, 10L), (3L, 12L)), s"$out")
    // each pair exactly once despite the 3-cell explode
    val rows = operators.RangeJoin.band(left, right, "price_a", "price_b",
      eps = 1.0, scale = 100L).collect()
    assert(rows.length == out.size, s"no duplicate pairs: ${rows.length}")
  }

  test("periodDelta: exact calendar alignment skips gaps; pct math; zero base NULL") {
    def d(s: String) = java.sql.Date.valueOf(s)
    // key a: Jan 100, Feb 150, Apr 120 (March MISSING), May 0, Jun 30
    val rows = Seq(
      ("a", d("2021-01-15"), 100.0), ("a", d("2021-02-10"), 150.0),
      ("a", d("2021-04-01"), 120.0), ("a", d("2021-05-20"), 0.0),
      ("a", d("2021-06-05"), 30.0))
      .toDF("k", "dt", "v")
    val out = etl.Aggregates.periodDelta(rows, Seq("k"),
      col("dt").cast("timestamp"), "v", unit = "month")
      .collect().map(r => r.getDate(1).toString -> r).toMap
    assert(out("2021-01-01").isNullAt(3), "no previous month")
    assert(out("2021-02-01").getDouble(4) == 50.0 &&
      out("2021-02-01").getDouble(5) == 50.0, s"${out("2021-02-01")}")
    // April's previous CALENDAR month is March — absent, so NULL (a row
    // lag would have silently compared April to February)
    assert(out("2021-04-01").isNullAt(3) && out("2021-04-01").isNullAt(5))
    assert(out("2021-05-01").getDouble(4) == -120.0)
    // June's base is May = 0: delta real, pct undefined
    assert(out("2021-06-01").getDouble(4) == 30.0 &&
      out("2021-06-01").isNullAt(5), s"${out("2021-06-01")}")
  }

  test("Survivorship.golden: each rule's pick with deterministic ties; nulls never win") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      // cluster 1: mode tie b/c broken to larger value; latest has a
      // null at the max ts which must NOT win; longest-ish via Latest
      (1L, Some("b"), Some("p1"), 5.0, t("2021-01-01 00:00:00")),
      (1L, Some("c"), Some("p2"), 7.0, t("2021-01-02 00:00:00")),
      (1L, Some("b"), None, 6.0, t("2021-01-03 00:00:00")),
      (1L, Some("c"), Some("p3"), 1.0, t("2021-01-02 00:00:00")),
      // cluster 2: all type nulls -> modal NULL, others fine
      (2L, None, Some("q"), 3.0, t("2021-02-01 00:00:00")))
      .toDF("cl", "ty", "pr", "v", "ts")
    val out = operators.Survivorship.golden(rows, "cl", Seq(
      operators.Survivorship.MostFrequent("ty"),
      operators.Survivorship.Latest("pr", "ts"),
      operators.Survivorship.MaxVal("v")))
      .collect().map(r => r.getLong(0) -> r).toMap
    val c1 = out(1L)
    // ty: b and c both count 2 -> lexicographically larger 'c' wins
    assert(c1.getAs[String]("ty") == "c", s"$c1")
    // pr: the max-ts row is null -> fall back to the latest NON-null;
    // at the tied 01-02 instant 'p3' > 'p2'
    assert(c1.getAs[String]("pr") == "p3", s"$c1")
    assert(c1.getAs[Double]("v") == 7.0 && c1.getAs[Long]("n_members") == 4L)
    val c2 = out(2L)
    assert(c2.getAs[String]("ty") == null && c2.getAs[String]("pr") == "q")
  }

  test("tailStats: exact order-stat tail; fat vs thin tails separate; tiny keys degenerate to max") {
    // 100 values 1..100 at p=0.9 -> k=10, tail = 91..100:
    // VaR = 91, ES = 95.5
    val thin = (1 to 100).map(i => ("thin", i.toDouble, i.toLong))
    // same VaR, fat tail: top value is 10x
    val fat = ((1 to 99).map(i => ("fat", i.toDouble, i.toLong)) :+
      ("fat", 1000.0, 100L))
    val one = Seq(("one", 42.0, 1L))
    val out = etl.Aggregates.tailStats(
      (thin ++ fat ++ one).toDF("k", "v", "tie"), Seq("k"), "v",
      col("tie"), p = 0.9)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("thin").getDouble(1) == 91.0 && out("thin").getDouble(2) == 95.5)
    assert(out("thin").getLong(3) == 10L && out("thin").getLong(4) == 100L)
    // same 90th-percentile cut, wildly different ES — the point of ES
    assert(out("fat").getDouble(1) == 91.0 &&
      out("fat").getDouble(2) > 180.0, s"${out("fat")}")
    assert(out("one").getDouble(1) == 42.0 && out("one").getDouble(2) == 42.0
      && out("one").getLong(3) == 1L, "k = ceil(0.1) = 1: VaR = ES = max")
  }

  test("decayAgg: hand half-life checkpoints; anchored per key; weightless far past") {
    def ts(daysAgo: Double) = new java.sql.Timestamp(
      (86400000L * 30) - (daysAgo * 86400000L).toLong)
    // events at 0, 7, 14 days before the key's latest: weights 1, .5, .25
    val a = Seq(("a", ts(0), 8.0), ("a", ts(7), 8.0), ("a", ts(14), 8.0))
    // key b ends earlier — anchoring is per key, so same shape, same score
    val b = Seq(("b", ts(10), 8.0), ("b", ts(17), 8.0), ("b", ts(24), 8.0))
    val far = Seq(("f", ts(0), 1.0), ("f", ts(700), 1e6))
    val out = etl.Aggregates.decayAgg(
      (a ++ b ++ far).toDF("k", "ts", "v"), Seq("k"), col("ts"), "v",
      halfLifeSecs = 7L * 86400L)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(math.abs(out("a").getDouble(1) - 14.0) < 1e-9, s"${out("a")}")
    assert(math.abs(out("a").getDouble(2) - 1.75) < 1e-9, "1 + .5 + .25")
    assert(out("b").getDouble(1) == out("a").getDouble(1),
      "per-key anchor: same shape, same score")
    // 700-day-old million contributes ~nothing; plain_sum says otherwise
    assert(out("f").getDouble(1) < 1.01 && out("f").getDouble(3) > 1e6,
      s"${out("f")}")
  }

  test("novelty: first doc all-novel, verbatim dup zero, partial overlap exact, short docs drop") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),      // trigrams: ab-g, b-g-d
      (2L, "alpha beta gamma delta"),      // verbatim dup -> 0 novel
      (3L, "alpha beta gamma epsilon"),    // 1 of 2 trigrams seen
      (4L, "tiny doc"))                    // < 3 tokens: drops
      .toDF("doc_id", "text")
    val out = text.Corpus.novelty(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(2) == 2L && out(1L).getDouble(3) == 1.0)
    assert(out(2L).getLong(2) == 0L && out(2L).getDouble(3) == 0.0,
      s"${out(2L)}")
    assert(out(3L).getLong(1) == 2L && out(3L).getLong(2) == 1L &&
      out(3L).getDouble(3) == 0.5, s"${out(3L)}")
    assert(!out.contains(4L), "sub-n docs drop (the contamination rule)")
  }

  test("targetEncodeLoo: hand LOO values, singleton = exactly global mean, null target passthrough") {
    // cat a: targets (10, 20, 30); global mean over all = (10+20+30+100)/4 = 40
    val df = Seq(("a", Some(10.0)), ("a", Some(20.0)), ("a", Some(30.0)),
      ("b", Some(100.0)), ("c", None: Option[Double]))
      .toDF("cat", "y")
    val out = etl.Features.targetEncodeLoo(df, "cat", "y", m = 2.0)
      .collect().map(r => (r.getString(0), Option(r.get(1))) -> r).toMap
    // row (a, 10): (60-10 + 2*40)/(3-1+2) = 130/4 = 32.5
    assert(out(("a", Some(10.0))).getDouble(2) == 32.5)
    assert(out(("a", Some(30.0))).getDouble(2) == 27.5, "(30+80)/4")
    // singleton b: (100-100 + 2*40)/(1-1+2) = exactly the global mean
    assert(out(("b", Some(100.0))).getDouble(2) == 40.0)
    // null target: encoding NULL, row kept
    assert(out(("c", None)).isNullAt(2))
  }

  test("centroidConfusion: aligned labels cosine 1, orthogonal 0, opposed -1; long-form exact") {
    def v(a: Double, b: Double) = Array(a.toFloat, b.toFloat)
    val df = Seq(
      (1L, v(1, 0), 0), (2L, v(3, 0), 0),    // centroid (2, 0)
      (3L, v(0, 2), 1), (4L, v(0, 4), 1),    // centroid (0, 3)
      (5L, v(2, 0), 2),                      // centroid (2, 0): == label 0 dir
      (6L, v(-1, 0), 3))                     // centroid (-1, 0): opposed
      .toDF("vec_id", "embedding", "label")
    val out = sim.Centroids.centroidConfusion(df, "embedding", "label")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(out((0, 2)) == 1.0 && out((0, 1)) == 0.0 && out((0, 3)) == -1.0,
      s"$out")
    assert(out((1, 2)) == 0.0 && out((2, 3)) == -1.0)
    val cent = sim.Centroids.labelCentroids(df, "embedding", "label")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(cent((0, 0)) == 2.0 && cent((1, 1)) == 3.0, s"$cent")
  }

  test("MlEval.fleissKappa: hand variable-rater case, single-rating units excluded but counted, unanimous NULL") {
    // unit u1 rated (a,a,b): P_1 = 2/(3·2) = 1/3; u2 (a,a,a): P_2 = 1;
    // u3 has ONE rating — excluded, counted. P̄o = 2/3; pairable label
    // shares a=5/6, b=1/6 → P̄e = 26/36; κ = (2/3 − 13/18)/(5/18) = −0.2
    val df = Seq(("k", 1L, "a"), ("k", 1L, "a"), ("k", 1L, "b"),
      ("k", 2L, "a"), ("k", 2L, "a"), ("k", 2L, "a"),
      ("k", 3L, "b"),
      // unanimous cohort: every pairable rating is one label → NULL
      ("u", 1L, "x"), ("u", 1L, "x"),
      // all-singles cohort: zero pairable units — must surface as a
      // NULL-kappa row with its n_single count, not vanish
      ("s", 1L, "a"), ("s", 2L, "b"), ("s", 3L, "a"))
      .toDF("k", "unit", "label")
    val out = etl.MlEval.fleissKappa(df, Seq("k"), col("unit"), col("label"))
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getLong(1) == 2L && k.getLong(2) == 6L && k.getLong(3) == 1L,
      s"2 pairable units, 6 pairable ratings, 1 single: $k")
    assert(math.abs(k.getDouble(4) - 2.0 / 3) < 1e-6) // 6dp-rounded
    assert(math.abs(k.getDouble(5) - 26.0 / 36) < 1e-6)
    assert(math.abs(k.getDouble(6) - (-0.2)) < 1e-6, s"hand kappa: $k")
    assert(out("u").isNullAt(6), "unanimous: agreement unfalsifiable")
    val s = out("s")
    assert(s.getLong(1) == 0L && s.getLong(2) == 0L && s.getLong(3) == 3L &&
      s.isNullAt(4) && s.isNullAt(6),
      s"all-single cohort surfaces with NULL kappa + n_single: $s")
  }

  test("MlEval.krippendorffAlpha: hand D_o/D_e, perfect 1, chance 0, unanimous NULL") {
    // u1 (a,a), u2 (a,b): D_o = 0 + 2 = 2; n_a=3, n_b=1 →
    // D_e = (16−10)/3 = 2 → α = 0 (agreement no better than chance)
    val chance = Seq(("c", 1L, "a"), ("c", 1L, "a"),
      ("c", 2L, "a"), ("c", 2L, "b"))
    // u1 (a,a), u2 (b,b): D_o = 0, D_e = (16−8)/3 → α = 1
    val perfect = Seq(("p", 1L, "a"), ("p", 1L, "a"),
      ("p", 2L, "b"), ("p", 2L, "b"))
    val unanimous = Seq(("z", 1L, "x"), ("z", 1L, "x"))
    val out = etl.MlEval.krippendorffAlpha(
      (chance ++ perfect ++ unanimous).toDF("k", "unit", "label"),
      Seq("k"), col("unit"), col("label"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("c").getDouble(5) == 0.0, s"chance: ${out("c")}")
    assert(out("p").getDouble(5) == 1.0, s"perfect: ${out("p")}")
    assert(out("z").isNullAt(5), "one label total: D_e = 0, undefined")
    assert(out("c").getDouble(3) == 2.0 && out("c").getDouble(4) == 2.0,
      s"hand D_o/D_e: ${out("c")}")
  }

  test("MlEval.lfDiagnostics: coverage/overlap/conflict vs abstains, majority min-tie-break, all-abstain LF absent") {
    // 3 units; lf1 votes a on all; lf2 votes u1=a, u2=b; lf3 abstains
    // everywhere (NULL label) — counts toward the unit universe only
    val df = Seq(
      (1L, "lf1", Some("a")), (2L, "lf1", Some("a")), (3L, "lf1", Some("a")),
      (1L, "lf2", Some("a")), (2L, "lf2", Some("b")),
      (1L, "lf3", None), (2L, "lf3", None), (3L, "lf3", None))
      .toDF("unit", "lf", "label")
    val out = etl.MlEval.lfDiagnostics(df, col("unit"), col("lf"),
      col("label")).collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("lf1", "lf2"), "all-abstain LF emits no row")
    val l1 = out("lf1")
    assert(l1.getDouble(2) == 1.0 && math.abs(l1.getDouble(3) - 2.0 / 3) < 1e-6
      && math.abs(l1.getDouble(4) - 1.0 / 3) < 1e-6,
      s"lf1 coverage/overlap/conflict: $l1")
    // u2 ties a-vs-b → majority 'a' by min-label; lf1 matches all 3
    assert(l1.getDouble(5) == 1.0, s"lf1 majority agreement: $l1")
    val l2 = out("lf2")
    assert(math.abs(l2.getDouble(2) - 2.0 / 3) < 1e-6 &&
      l2.getDouble(5) == 0.5, s"lf2: $l2")
  }

  test("MlEval.logisticNewton: recovers a planted signal, ignores noise covariate, deterministic, constant covariate rejected") {
    // x1 drives y (4 label flips keep it non-separated); x2 alternates
    // independently of y
    val rows = (0 until 40).map { i =>
      val x1 = Seq(-2.0, -1.0, 1.0, 2.0)(i % 4)
      val flip = i % 10 == 0
      val y = if ((x1 > 0) != flip) 1.0 else 0.0
      (y, x1, if (i % 2 == 0) 1.0 else -1.0)
    }
    val df = rows.toDF("y", "x1", "x2")
    val fit = etl.MlEval.logisticNewton(df, col("y"), col("x1"), col("x2"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(fit("x1") > 0.5, s"planted positive signal recovered: $fit")
    // the flips land unevenly on x2's alternation, so x2 picks up a
    // little real correlation — the planted driver must still dominate
    assert(fit("x1") > 2 * math.abs(fit("x2")),
      s"planted driver dominates the incidental covariate: $fit")
    val again = etl.MlEval.logisticNewton(df, col("y"), col("x1"), col("x2"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(fit == again, "fixed-iteration fit is deterministic")
    intercept[IllegalArgumentException] {
      etl.MlEval.logisticNewton(df, col("y"), lit(3.0), col("x2"))
    }
  }

  test("Aggregates.hillTail: hand log-excess on powers of two, short key NULL, flat top NULL alpha") {
    // top-3 of {16,8,4,2}: γ = (ln16+ln8+ln4)/3 − ln2 = 2·ln2
    val hand = Seq(16.0, 8.0, 4.0, 2.0).map(("h", _))
    val short = Seq(("s", 5.0), ("s", 3.0)) // < k+1 positives
    val flat = Seq.fill(4)(("f", 7.0))      // all-equal: γ=0, α NULL
    val out = etl.Aggregates.hillTail(
      (hand ++ short ++ flat).toDF("k", "v"), Seq("k"), col("v"), k = 3)
      .collect().map(r => r.getString(0) -> r).toMap
    val h = out("h")
    assert(math.abs(h.getDouble(3) - 2 * math.log(2.0)) < 1e-6, s"γ: $h")
    assert(math.abs(h.getDouble(4) - 1.0 / (2 * math.log(2.0))) < 1e-6)
    assert(h.getDouble(2) == 2.0, s"threshold is X_(k+1): $h")
    assert(out("s").isNullAt(3), "fewer than k+1 positives: NULL")
    assert(out("f").getDouble(3) == 0.0 && out("f").isNullAt(4),
      "flat top: γ=0, α undefined")
  }

  test("Spans: hand coverage cross-doc and intra-doc, short doc zero, top table tie-broken") {
    val docs = Seq(
      (1L, "a b c d e"),       // "a b c" repeats in doc 2 → tokens 1-3
      (2L, "x y a b c"),       // start at pos 3 → tokens 3-5
      (3L, "q r s"),           // unique gram → zero coverage
      (4L, "p q"),             // shorter than k → zero, counts visible
      (5L, "m n o m n o m n")) // self-repeating: full coverage
      .toDF("doc_id", "text")
    val cov = text.Spans.repeatedSpanCoverage(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(cov(1L).getLong(3) == 3L && cov(1L).getDouble(4) == 0.6, s"${cov(1L)}")
    assert(cov(2L).getLong(3) == 3L && cov(2L).getDouble(4) == 0.6)
    assert(cov(3L).getLong(3) == 0L && cov(3L).getDouble(4) == 0.0)
    assert(cov(4L).getLong(1) == 2L && cov(4L).getDouble(4) == 0.0,
      s"short doc visible with zero coverage: ${cov(4L)}")
    assert(cov(5L).getDouble(4) == 1.0,
      s"intra-doc repetition is memorization fuel too: ${cov(5L)}")
    val top = text.Spans.topRepeatedSpans(docs, "doc_id", "text", k = 3,
      topN = 10).collect()
    assert(top.head.getString(1) == "a b c" && top.head.getLong(2) == 2L
      && top.head.getLong(3) == 2L, s"tie-break alphabetical: ${top.head}")
    assert(top.forall(_.getLong(2) >= 2L))
  }

  test("Privacy: hand k-anonymity classes incl. NULL QI; l-diversity flags the homogeneous class") {
    // QI classes: (a,1)×5, (a,2)×2, (b,1)×1, (NULL,1)×2 → k_satisfied=1,
    // below k=3: the 2-row, 1-row and NULL classes = 5 rows at risk
    val rows = Seq.fill(5)(("a", 1, "s1")) ++
      Seq(("a", 2, "s1"), ("a", 2, "s2"), ("b", 1, "s1")) ++
      Seq((null, 1, "s1"), (null, 1, "s2"))
    val df = rows.toDF("qi1", "qi2", "sens")
    val kRep = etl.Privacy.kAnonymityReport(df, Seq("qi1", "qi2"), k = 3)
      .collect().head
    assert(kRep.getLong(0) == 10L && kRep.getLong(1) == 4L,
      s"NULL QI forms its own class: $kRep")
    assert(kRep.getLong(2) == 1L, s"k actually satisfied: $kRep")
    assert(kRep.getLong(5) == 5L && kRep.getDouble(6) == 0.5, s"$kRep")
    // l-diversity at l=2: (a,1) is 5 rows ALL s1 → homogeneous; the
    // others have ≥2 distinct sensitive values except (b,1) (1 row)
    val lRep = etl.Privacy.lDiversityReport(df, Seq("qi1", "qi2"),
      col("sens"), l = 2).collect().head
    assert(lRep.getLong(2) == 1L, s"l satisfied: $lRep")
    assert(lRep.getLong(5) == 6L, // (a,1)'s 5 rows + (b,1)'s 1 row
      s"rows exposed to the homogeneity attack: $lRep")
  }

  test("Skew.joinSkewReport: fan-out amplification ranked, unmatched keys absent, shares sum to 1") {
    // key a: 3×4=12 out rows, b: 2×1=2, c: left-only (no output), d:
    // right-only (no output) → total 14, a is 6/7 of the join
    val left = (Seq.fill(3)("a") ++ Seq.fill(2)("b") :+ "c").toDF("k")
    val right = (Seq.fill(4)("a") :+ "b" :+ "d").toDF("k")
    val out = operators.Skew.joinSkewReport(left, right, "k", topN = 10)
      .collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a", "b"),
      "only matching keys produce join output")
    val a = out.head
    assert(a.getLong(2) == 3L && a.getLong(3) == 4L && a.getLong(4) == 12L)
    assert(math.abs(a.getDouble(5) - 12.0 / 14) < 1e-6, s"$a")
    assert(a.getLong(6) == 14L && a.getLong(7) == 2L)
  }

  test("Binary.cdcChunks: lossless cover, bounds respected, deterministic; insertion re-syncs most chunk hashes") {
    import spark.implicits._
    // deterministic pseudo-random 2 KB blob
    def noise(n: Int, seed: Int): Array[Byte] =
      Array.tabulate(n)(i => (((i * 2654435761L + seed) >> 3) & 0xff).toByte)
    val orig = noise(2048, 7)
    val edited = (orig.take(100) ++ Array(0x55.toByte) ++ orig.drop(100))
    val blobs = Seq(multimodal.Binary.Blob(1L, orig),
      multimodal.Binary.Blob(2L, edited)).toDS()
    val chunks = multimodal.Binary.cdcChunks(blobs).collect()
    val byId = chunks.groupBy(_.id)
    for ((id, cs) <- byId) {
      val sorted = cs.sortBy(_.chunkIdx)
      assert(sorted.map(_.length).sum == (if (id == 1L) 2048 else 2049),
        "chunks cover the blob losslessly")
      assert(sorted.zipWithIndex.forall { case (c, i) => c.chunkIdx == i })
      assert(sorted.dropRight(1).forall(c =>
        c.length >= 16 && c.length <= 256), s"bounds: $id")
    }
    // CDC property: the 1-byte insertion at offset 100 disturbs only
    // the chunks near it — most chunk HASHES survive (fixed-offset
    // chunking would lose everything after the edit)
    val h1 = byId(1L).map(_.chunkHash).toSet
    val h2 = byId(2L).map(_.chunkHash).toSet
    val shared = (h1 intersect h2).size.toDouble / h1.size
    assert(shared >= 0.6, f"insertion resync: only $shared%.2f shared")
    val again = multimodal.Binary.cdcChunks(blobs).collect().toSet
    assert(again == chunks.toSet, "chunking is deterministic")
  }

  test("Clean.quantileNormalize: hand interpolation, sources share one distribution after, single-value source at pooled min") {
    import spark.implicits._
    val df = Seq(("s1", 1.0), ("s1", 2.0), ("s1", 3.0),
      ("s2", 10.0), ("s2", 20.0), ("s2", 30.0)).toDF("src", "v")
    val out = etl.Clean.quantileNormalize(df, "src", col("v"))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(3)).toMap
    // pooled = [1,2,3,10,20,30]; p=0.5 → t=2.5 → 3 + 0.5·(10−3) = 6.5
    assert(out(("s1", 1.0)) == 1.0 && out(("s2", 10.0)) == 1.0,
      "both minima land on the pooled minimum")
    assert(out(("s1", 2.0)) == 6.5 && out(("s2", 20.0)) == 6.5, s"$out")
    assert(out(("s1", 3.0)) == 30.0 && out(("s2", 30.0)) == 30.0)
    // the defining property: normalized multisets identical across sources
    val bySrc = out.toSeq.groupBy(_._1._1)
      .map { case (s, xs) => s -> xs.map(_._2).sorted }
    assert(bySrc("s1") == bySrc("s2"))
    val single = etl.Clean.quantileNormalize(
      Seq(("a", 5.0), ("a", 7.0), ("b", 42.0)).toDF("src", "v"),
      "src", col("v"))
      .filter(col("src") === "b").collect().head
    assert(single.getDouble(3) == 5.0,
      s"single-value source: p=0 → pooled minimum, $single")
  }

  test("MlEval.plattScaling: positive slope on a planted sigmoid signal, deterministic") {
    val rows = (0 until 40).map { i =>
      val s = i / 40.0
      val flip = i % 10 == 0
      (s, (s > 0.5) != flip)
    }
    val df = rows.toDF("s", "y")
    val fit = etl.MlEval.plattScaling(df, col("s"), col("y"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(fit("slope") > 1.0, s"rising score → positive slope: $fit")
    assert(fit("intercept") < 0, s"low scores are negative: $fit")
    val again = etl.MlEval.plattScaling(df, col("s"), col("y"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(fit == again)
  }

  test("Urls.canonicalize: case/www/port/fragment/tracking/param-order noise collapses; malformed NULL; real params survive sorted") {
    import spark.implicits._
    val urls = Seq(
      ("HTTP://WWW.Ex.COM:80/a?utm_source=f&z=2&a=1#top"),
      ("http://ex.com/a?a=1&z=2"),
      ("https://ex.com:443/"),
      ("https://ex.com"),            // empty path → canonical "/"
      ("not a url"),
      ("http://ex.com/b?fbclid=XYZ") // only tracking → no query
    ).toDF("u")
    val out = text.Urls.canonicalize(urls, col("u"))
      .select("u", "host", "canonical").collect()
      .map(r => r.getString(0) -> Option(r.getString(2))).toMap
    assert(out("HTTP://WWW.Ex.COM:80/a?utm_source=f&z=2&a=1#top") ==
      Some("http://ex.com/a?a=1&z=2"), s"$out")
    assert(out("http://ex.com/a?a=1&z=2") == Some("http://ex.com/a?a=1&z=2"),
      "the two variants collapse to one page key")
    assert(out("https://ex.com:443/") == Some("https://ex.com/"))
    assert(out("https://ex.com") == Some("https://ex.com/"))
    assert(out("not a url").isEmpty, "malformed stays NULL, never guessed")
    assert(out("http://ex.com/b?fbclid=XYZ") == Some("http://ex.com/b"))
    val census = text.Urls.hostCensus(urls, col("u")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(census("ex.com") == ((5L, 3L)),
      s"5 valid urls, 3 pages (the two bare-root variants collapse): $census")
  }

  test("Aggregates.thetaOverlap: hand pair algebra, zero-overlap pairs emitted, sketch verdicts pass at exact scale") {
    import spark.implicits._
    val df = Seq(("s1", 1L), ("s1", 2L), ("s1", 3L), ("s1", 3L), // dup id
      ("s2", 2L), ("s2", 3L), ("s2", 4L),
      ("s3", 9L)).toDF("seg", "uid")
    val out = etl.Aggregates.thetaOverlap(df, col("seg"), col("uid"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val p12 = out(("s1", "s2"))
    assert(p12.getLong(2) == 3L && p12.getLong(3) == 3L &&
      p12.getLong(4) == 2L && p12.getLong(5) == 4L, s"$p12")
    assert(p12.getDouble(6) == 0.5, s"jaccard: $p12")
    assert(out(("s1", "s3")).getLong(4) == 0L,
      "zero-overlap pair still emitted")
    assert(out.size == 3, "all 3 pairs present")
    // at this cardinality theta sketches are exact → every verdict 1
    for (r <- out.values; i <- 7 to 9)
      assert(r.getLong(i) == 1L, s"sketch verdict failed: $r")
  }

  test("Geometry.removeTopComponent: debiased corpus has zero mean and zero PC1 projection") {
    import spark.implicits._
    // planted anisotropy: a dominant common direction on dim 1 plus
    // small structure on dims 0 and 2
    val df = (0 until 30).map { i =>
      val j = (i % 7 - 3) * 0.1f
      (i.toLong, Array(j, 5.0f + j * 0.3f, -j))
    }.toDF("vec_id", "embedding")
    val out = sim.Geometry.removeTopComponent(df, "vec_id", "embedding",
      digits = 9).collect()
    assert(out.length == 90)
    // per-dim mean of the debiased corpus ~ 0 (mean removed)
    val byPos = out.groupBy(_.getLong(1))
    for ((p, rows) <- byPos) {
      val m = rows.map(_.getDouble(2)).sum / rows.length
      assert(math.abs(m) < 1e-6, s"dim $p mean $m")
    }
    // zero projection onto the fitted PC1: re-fit on the debiased
    // vectors and the dominant direction's variance share collapses
    val (w, _) = (sim.Geometry.pc1Fit(df, "embedding", 10))
    val byVec = out.groupBy(_.getLong(0))
    for ((_, rows) <- byVec) {
      val v = rows.sortBy(_.getLong(1)).map(_.getDouble(2))
      val proj = v.zip(w).map { case (a, b) => a * b }.sum
      assert(math.abs(proj) < 1e-6, s"residual projection $proj")
    }
  }

  test("Experiment.groupSequential: planted effect crosses only late looks (OBF spends alpha early), calm key never crosses, thin look NULL") {
    import spark.implicits._
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-${i / 24 % 28 + 1}%02d ${i % 24}%02d:00:00")
    // calm: both arms N(≈0) — alternating ±1 by parity of i
    val calm = (0 until 500).map(i =>
      ("calm", ts(i), i.toLong, if (i % 4 < 2) 1.0 else -1.0))
    // shifted: treatment (even user ids) runs +3 the whole time — a big
    // effect, but look 1 has only 1/5 of the data: OBF's 4.88 boundary
    // demands more evidence than 2.03 does at the end
    val shift = (0 until 500).map { i =>
      val treat = i % 2 == 0
      ("shift", ts(i), i.toLong,
        (if (i % 4 < 2) 0.5 else -0.5) + (if (treat) 3.0 else 0.0))
    }
    val out = etl.Experiment.groupSequential(
      (calm ++ shift).toDF("k", "ts", "user_id", "v"), Seq("k"),
      col("ts"), isTreat = col("user_id") % 2 === 0, valueCol = col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    assert(out.size == 10, "5 looks per key")
    for (l <- 1L to 5L)
      assert(!out(("calm", l)).getBoolean(7), s"calm never crosses: $l")
    assert(out(("shift", 5L)).getBoolean(7),
      s"full-data look crosses: ${out(("shift", 5L))}")
    // boundaries decrease monotonically (alpha spent conservatively early)
    val bs = (1L to 5L).map(l => out(("shift", l)).getDouble(6))
    assert(bs == bs.sorted.reverse && bs.head > 4.8 && bs.last < 2.1)
    // thin look: a key whose look-1 treatment arm has < 2 obs → NULL z
    val thin = Seq(("t", ts(0), 0L, 1.0), ("t", ts(1), 1L, 2.0),
      ("t", ts(100), 2L, 1.0), ("t", ts(101), 3L, 2.0),
      ("t", ts(102), 4L, 1.5), ("t", ts(103), 5L, 2.5))
      .toDF("k", "ts", "user_id", "v")
    val tOut = etl.Experiment.groupSequential(thin, Seq("k"), col("ts"),
      col("user_id") % 2 === 0, col("v"))
      .collect().sortBy(_.getLong(1))
    assert(tOut.head.isNullAt(5) && !tOut.head.getBoolean(7),
      s"thin first look: NULL z, not crossed: ${tOut.head}")
  }

  test("Procrustes: planted rotation+reflection recovered (aligned cosine ≈ 1); identity aligns to itself") {
    import spark.implicits._
    val d = 8
    def vec(i: Int): Array[Float] =
      Array.tabulate(d)(k => (((i * 31 + k * 17) % 13) - 6).toFloat / 3f)
    val a = (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val c45 = math.cos(math.Pi / 4).toFloat
    val b = (0 until 40).map { i =>
      val v = vec(i)
      val r = v.clone()
      r(0) = v(0) * c45 - v(1) * c45
      r(1) = v(0) * c45 + v(1) * c45
      r(2) = -v(2)
      (i.toLong, r)
    }.toDF("vec_id", "embedding")
    val out = sim.Procrustes.alignReport(a, b, "vec_id", "embedding")
      .collect()
    assert(out.length == 40)
    assert(out.forall(_.getDouble(2) > 0.9999),
      s"aligned cosine ≈ 1 everywhere: ${out.map(_.getDouble(2)).min}")
    val beforeAvg = out.map(_.getDouble(1)).sum / out.length
    val afterAvg = out.map(_.getDouble(2)).sum / out.length
    assert(beforeAvg < afterAvg - 0.01,
      s"raw cross-space cosine reads drift: $beforeAvg vs $afterAvg")
    val same = sim.Procrustes.alignReport(a, a, "vec_id", "embedding")
      .collect()
    assert(same.forall(r => r.getDouble(2) > 0.9999 &&
      math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-4),
      "identity snapshot: W ≈ I, before == after")
  }

  test("MlEval.icc: Shrout-Fleiss Table-2 value exact; perfect agreement → 1; single-rating units excluded") {
    import spark.implicits._
    val table2 = Seq(
      Seq(9, 2, 5, 8), Seq(6, 1, 3, 2), Seq(8, 4, 6, 8),
      Seq(7, 1, 2, 6), Seq(10, 5, 6, 9), Seq(6, 2, 4, 7))
    val rows = table2.zipWithIndex.flatMap { case (rs, u) =>
      rs.map(x => ("sf", u.toLong, x.toDouble)) }
    val perfect = (0 until 4).flatMap(u =>
      Seq(("p", u.toLong, u * 10.0), ("p", u.toLong, u * 10.0)))
    val single = Seq(("sf", 99L, 5.0)) // one rating → excluded, counted
    val allSingle = Seq(("s1", 1L, 3.0), ("s1", 2L, 4.0)) // every unit single
    val out = etl.MlEval.icc((rows ++ perfect ++ single ++ allSingle)
        .toDF("k", "unit", "rating"), Seq("k"), col("unit"), col("rating"))
      .collect().map(r => r.getString(0) -> r).toMap
    val sf = out("sf")
    assert(sf.getLong(1) == 6L && sf.getLong(2) == 24L && sf.getLong(3) == 1L,
      s"single-rating unit excluded AND counted: $sf")
    assert(math.abs(sf.getDouble(6) - 0.165742) < 1e-6,
      s"Shrout-Fleiss ICC(1,1): $sf")
    assert(out("p").getDouble(6) == 1.0, s"zero within-variance: ${out("p")}")
    assert(out("p").getLong(3) == 0L, s"no singles in p: ${out("p")}")
    // a key whose EVERY unit is single must not vanish: NULL icc, counts
    val s1 = out("s1")
    assert(s1.getLong(1) == 0L && s1.getLong(3) == 2L && s1.isNullAt(6),
      s"all-single key surfaces with NULL icc + n_single: $s1")
  }

  test("MlEval.cronbachAlpha: hand two-item alpha 8/9; incomplete unit excluded and counted; one-item NULL") {
    import spark.implicits._
    // X1 = [1,2,3], X2 = [2,4,6] → alpha = 8/9
    val full = Seq(("k", 1L, "a", 1.0), ("k", 1L, "b", 2.0),
      ("k", 2L, "a", 2.0), ("k", 2L, "b", 4.0),
      ("k", 3L, "a", 3.0), ("k", 3L, "b", 6.0))
    val ragged = Seq(("k", 4L, "a", 9.0)) // missing rater b → excluded
    val oneItem = Seq(("o", 1L, "a", 1.0), ("o", 2L, "a", 2.0))
    // every unit incomplete → the key must still emit its NULL-alpha row
    val allRagged = Seq(("r", 1L, "a", 1.0), ("r", 1L, "b", 2.0),
      ("r", 2L, "a", 3.0), ("r", 3L, "b", 4.0), ("r", 2L, "c", 5.0))
    val out = etl.MlEval.cronbachAlpha(
      (full ++ ragged ++ oneItem ++ allRagged)
        .toDF("k", "unit", "rater", "rating"),
      Seq("k"), col("unit"), col("rater"), col("rating"))
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getLong(1) == 3L && k.getLong(2) == 2L && k.getLong(3) == 1L,
      s"3 complete units, 2 raters, 1 incomplete: $k")
    assert(math.abs(k.getDouble(4) - 8.0 / 9) < 1e-6, s"hand alpha: $k")
    assert(out("o").isNullAt(4), "one rater: consistency undefined")
    val r = out("r")
    assert(r.getLong(1) == 0L && r.getLong(2) == 3L && r.getLong(3) == 3L &&
      r.isNullAt(4),
      s"zero-complete key surfaces with NULL alpha + n_incomplete: $r")
  }

  test("MlEval.auc: perfect 1, inverted 0, random-ties 0.5, hand midrank value, one-class NULL") {
    val perfect = (1 to 10).map(i => ("p", i.toDouble, i > 5))
    val inverted = (1 to 10).map(i => ("i", i.toDouble, i <= 5))
    val allTie = (1 to 10).map(i => ("t", 7.0, i % 2 == 0))
    // hand: pos scores (3, 5), neg (1, 4): pairs pos>neg: (3>1),(5>1),(5>4)
    // + 0 ties -> AUC = 3/4
    val hand = Seq(("h", 3.0, true), ("h", 5.0, true),
      ("h", 1.0, false), ("h", 4.0, false))
    val onecls = Seq(("o", 1.0, true), ("o", 2.0, true))
    val out = etl.MlEval.auc(
      (perfect ++ inverted ++ allTie ++ hand ++ onecls).toDF("k", "s", "y"),
      Seq("k"), col("s"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("p").getDouble(1) == 1.0 && out("i").getDouble(1) == 0.0)
    assert(out("t").getDouble(1) == 0.5, "all-tied scores are chance")
    assert(out("h").getDouble(1) == 0.75, s"${out("h")}")
    assert(out("o").isNullAt(1) && out("o").getLong(2) == 2L,
      "one-class AUC undefined, counts visible")
  }

  test("MlEval.calibration: perfectly calibrated bins have ece 0; miscalibrated don't; edges") {
    // scores exactly at bin centers with matching positive rates
    val calib = (0 until 10).flatMap { b =>
      val p = b / 10.0 + 0.05
      (1 to 20).map(i => (p, i <= (p * 20).round))
    }
    val out = etl.MlEval.calibration(calib.toDF("s", "y"), col("s"),
      col("y"), bins = 10).collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 10)
    // bin 0: conf 0.05, acc 1/20 = 0.05 -> ece_term 0
    assert(out(0L).getDouble(2) == 0.05 && out(0L).getDouble(3) == 0.05 &&
      out(0L).getDouble(4) == 0.0, s"${out(0L)}")
    // score exactly 1.0 lands in the TOP bin, not bin 10
    val edge = etl.MlEval.calibration(
      Seq((1.0, true), (0.0, false)).toDF("s", "y"), col("s"), col("y"),
      bins = 10).collect().map(_.getLong(0)).toSet
    assert(edge == Set(0L, 9L), s"$edge")
    // overconfident predictor: conf 0.9, acc 0 -> big term
    val over = etl.MlEval.calibration(
      Seq.fill(10)((0.95, false)).toDF("s", "y"), col("s"), col("y"),
      bins = 10).collect().head
    assert(over.getDouble(4) == 0.95, s"$over")
  }

  test("MlEval.gainsTable: top bucket captures a planted head; buckets equal-count; lift sane") {
    // 100 rows, scores 100..1: positives exactly the top 10 scores
    val rows = (1 to 100).map(i => (i.toDouble, i.toLong, i > 90))
    val out = etl.MlEval.gainsTable(rows.toDF("s", "tie", "y"), col("s"),
      col("y"), col("tie"), parts = 10)
      .collect().sortBy(_.getLong(0))
    assert(out.length == 10 && out.forall(_.getLong(1) == 10L))
    val top = out.head
    assert(top.getLong(2) == 10L && top.getDouble(3) == 1.0 &&
      top.getDouble(4) == 10.0,
      s"top decile holds every positive at 10x lift: $top")
    assert(out.tail.forall(_.getLong(2) == 0L))
    assert(out.last.getDouble(3) == 1.0, "capture is cumulative to 1")
  }

  test("conformalThreshold: textbook order statistic, small-n NULL, guaranteed level exact") {
    // n=9 calibration scores 1..9, alpha=0.1: k = ceil(10*0.9) = 9
    // -> qhat = 9th smallest = 9, guaranteed 9/10 = 0.9
    val nine = (1 to 9).map(i => ("a", i.toDouble, i.toLong))
    // n=19, alpha=0.1: k = ceil(20*0.9) = 18 -> qhat = 18
    val nineteen = (1 to 19).map(i => ("b", i.toDouble, i.toLong))
    // n=5, alpha=0.1: k = ceil(6*0.9) = 6 > 5 -> NULL qhat, visible n
    val five = (1 to 5).map(i => ("c", i.toDouble, i.toLong))
    val out = etl.MlEval.conformalThreshold(
      (nine ++ nineteen ++ five).toDF("k", "s", "tie"), Seq("k"),
      col("s"), col("tie"), alpha = 0.1)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getDouble(1) == 9.0 && out("a").getDouble(3) == 0.9,
      s"${out("a")}")
    assert(out("b").getDouble(1) == 18.0 && out("b").getLong(2) == 19L)
    assert(out("c").isNullAt(1) && out("c").getLong(2) == 5L,
      "cannot guarantee 0.9 at n=5 — visible, not fabricated")
  }

  test("degreeAssortativity: star is perfectly disassortative; mixed ring+star in (-1, 0); regular NULL") {
    // symmetrized star: hub 0 <-> leaves 1..5 -> every edge pairs
    // degree 5 with degree 1 -> r = -1 exactly
    val star = (1 to 5).flatMap(i => Seq((0L, i.toLong), (i.toLong, 0L)))
    val r1 = operators.Assortativity.degreeAssortativity(
      star.toDF("src", "dst"), "src", "dst").collect().head
    assert(r1.getDouble(0) == -1.0 && r1.getLong(1) == 10L, s"$r1")
    // 4-ring: every node degree 2 -> zero variance -> NULL
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val r2 = operators.Assortativity.degreeAssortativity(
      ring.toDF("src", "dst"), "src", "dst").collect().head
    assert(r2.isNullAt(0), "regular graph has no degree correlation")
    // star + disjoint ring: still negative but not -1
    val r3 = operators.Assortativity.degreeAssortativity(
      (star ++ ring.map { case (a, b) => (a + 100L, b + 100L) })
        .toDF("src", "dst"), "src", "dst").collect().head
    assert(r3.getDouble(0) < 0.0 && r3.getDouble(0) > -1.0, s"$r3")
  }

  test("twoNN: random 1-D manifold reads ~1, random 2-D reads higher, duplicates dropped visibly") {
    // deterministic pseudo-random coordinates (the estimator assumes a
    // POINT PROCESS — equally spaced points have r1 = r2 everywhere and
    // ln(mu) = 0, a degenerate input, not a manifold sample)
    def pr(i: Int, salt: Int): Float = {
      val x = math.sin(i * 12.9898 + salt * 78.233) * 43758.5453
      ((x - math.floor(x)) * 100).toFloat
    }
    def embed(xs: Float*) = Array.tabulate(8)(d =>
      if (d < xs.length) xs(d) else 0f)
    val d1 = (1 to 80).map(i => (i.toLong, embed(pr(i, 1))))
    val out1 = sim.IntrinsicDim.twoNN(d1.toDF("vec_id", "embedding"),
      d1.toDF("vec_id", "embedding"), "vec_id", "embedding")
      .collect().head
    val id1 = out1.getDouble(3)
    assert(out1.getLong(0) == 80L && id1 > 0.6 && id1 < 1.6,
      s"random line should read ~1: $out1")
    val d2 = (1 to 120).map(i => (i.toLong, embed(pr(i, 1), pr(i, 2))))
    val out2 = sim.IntrinsicDim.twoNN(d2.toDF("vec_id", "embedding"),
      d2.toDF("vec_id", "embedding"), "vec_id", "embedding")
      .collect().head
    val id2 = out2.getDouble(3)
    assert(id2 > id1 && id2 > 1.4 && id2 < 3.2,
      s"random plane must read above the line: $out2")
    // exact duplicate pair: r1 = 0 rows drop with a visible count
    val dup = d1 ++ Seq((1000L, embed(pr(1, 1))))
    val out3 = sim.IntrinsicDim.twoNN(dup.toDF("vec_id", "embedding"),
      dup.toDF("vec_id", "embedding"), "vec_id", "embedding")
      .collect().head
    assert(out3.getLong(1) >= 2L, s"dup pair must drop visibly: $out3")
  }

  test("scalableQuantile: matches percentile() exactly on hostile shapes incl. cross-bin interpolation") {
    val data =
      (1 to 101).map(i => ("odd", i.toDouble)) ++
      (1 to 100).map(i => ("even", i.toDouble)) ++
      Seq.fill(99)(("skew", 1.0)) ++ Seq(("skew", 1000.0)) ++
      Seq(("flat", 3.0), ("flat", 3.0)) ++
      // interpolation ranks straddle two far-apart histogram bins
      Seq(("straddle", 0.0), ("straddle", 1.0), ("straddle", 99.0),
        ("straddle", 100.0))
    val df = data.toDF("k", "v")
    for (p <- Seq(0.25, 0.5, 0.9, 0.99)) {
      val got = etl.Aggregates.scalableQuantile(df, Seq("k"), "v", p,
        bins = 4).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val want = df.groupBy("k")
        .agg(expr(s"percentile(v, $p)").as("m"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      for ((k, m) <- want)
        assert(math.abs(got(k) - m) < 1e-6, s"p=$p $k: got ${got(k)}, want $m")
    }
  }

  test("densityRatio: planted shift gives reciprocal-ish weights; reweighted mean recovers reference") {
    // ref: 80% low / 20% high; cur: 20% low / 80% high
    val ref = Seq.fill(80)(("k", 1.0, true)) ++ Seq.fill(20)(("k", 9.0, true))
    val cur = Seq.fill(20)(("k", 1.0, false)) ++ Seq.fill(80)(("k", 9.0, false))
    val df = (ref ++ cur).toDF("k", "v", "r")
    val w = etl.Drift.densityRatio(df, Seq("k"), "v", col("r"), bins = 10)
      .collect().map(r => r.getLong(1) -> r).toMap
    val lowW = w(0L).getDouble(6); val highW = w(9L).getDouble(6)
    assert(lowW > 3.0 && highW < 0.3, s"low $lowW high $highW")
    // reweighted current mean ~ reference mean (2.6), not current (7.4)
    val reMean = (20 * lowW * 1.0 + 80 * highW * 9.0) /
      (20 * lowW + 80 * highW)
    assert(math.abs(reMean - 2.6) < 0.35, s"reweighted mean $reMean")
    // only observed bins emit; ref totals visible
    assert(w.keySet == Set(0L, 9L) && w(0L).getLong(2) == 80L)
  }

  test("hashFeatures: deterministic buckets in range, same tokens same cell, sparse long form") {
    val docs = Seq((1L, "alpha beta alpha"), (2L, "alpha  gamma"))
      .toDF("doc_id", "text")
    val out = text.HashFeatures.hashFeatures(docs, "doc_id", "text",
      dim = 64).collect()
    assert(out.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 64))
    val d1 = out.filter(_.getLong(0) == 1L)
    // 'alpha' twice with the same sign -> |value| = 2 in its cell
    assert(d1.exists(r => math.abs(r.getLong(2)) == 2L), s"${d1.toSeq}")
    // cross-doc determinism: alpha's cell is identical in doc 2
    val alphaCell = d1.filter(r => math.abs(r.getLong(2)) == 2L)
      .head.getLong(1)
    assert(out.filter(_.getLong(0) == 2L).map(_.getLong(1))
      .contains(alphaCell))
    // double space yields an empty token: filtered, not hashed
    val rerun = text.HashFeatures.hashFeatures(docs, "doc_id", "text",
      dim = 64).collect()
    assert(rerun.toSet == out.toSet, "pure function of the input")
  }

  test("binScatter: equal-mass buckets recover a nonlinear curve a correlation flattens; tiny-bucket CI NULL") {
    // y = (x - 50)^2: strong relation, near-zero linear correlation
    val rows = (1 to 100).map(i =>
      ("k", i.toDouble, math.pow(i - 50.0, 2), i.toLong))
    val out = etl.Aggregates.binScatter(rows.toDF("k", "x", "y", "t"),
      Seq("k"), col("x"), col("y"), col("t"), parts = 10)
      .collect().sortBy(_.getLong(1))
    assert(out.length == 10 && out.forall(_.getLong(2) == 10L))
    // U-shape: ends high, middle low
    assert(out.head.getDouble(4) > 1500 && out.last.getDouble(4) > 1500)
    assert(out(4).getDouble(4) < 100 && out(5).getDouble(4) < 100,
      s"${out.map(_.getDouble(4)).toSeq}")
    // CI brackets the mean and is ordered
    assert(out.forall(r => r.getDouble(6) <= r.getDouble(4) &&
      r.getDouble(4) <= r.getDouble(7)))
    // a 1-row key: mean real, sd undefined -> NULL CI
    val one = etl.Aggregates.binScatter(
      Seq(("s", 1.0, 5.0, 1L)).toDF("k", "x", "y", "t"), Seq("k"),
      col("x"), col("y"), col("t"), parts = 2).collect().head
    assert(one.getDouble(4) == 5.0 && one.isNullAt(5) && one.isNullAt(6))
  }

  test("psiQuantileBins: outlier-stretched range that HIDES from equal-width PSI is caught; identical halves ~0") {
    // ref: uniform 1..100; cur: shifted 31..130 — but ONE ref outlier
    // at 1e9 makes equal-width bins put ~everything in bin 0 (drift
    // hidden); decile bins don't care about the range
    val ref = (1 to 100).map(i => ("k", i.toDouble, true)) :+
      (("k", 1e9, true))
    val cur = (31 to 130).map(i => ("k", i.toDouble, false))
    val df = (ref ++ cur).toDF("k", "v", "r")
    val eqw = etl.Drift.psi(df, Seq("k"), "v", col("r"), bins = 10)
      .collect().head.getDouble(1)
    val qb = etl.Drift.psiQuantileBins(df, Seq("k"), "v", col("r"),
      bins = 10).collect().head.getDouble(1)
    assert(qb > 5 * math.max(eqw, 0.01),
      s"decile PSI $qb must dwarf the outlier-blinded equal-width $eqw")
    // identical distributions (same multiset both halves): near zero
    val same = (0 until 200).map(i => ("k", (i % 50).toDouble, i < 100))
    val z = etl.Drift.psiQuantileBins(same.toDF("k", "v", "r"), Seq("k"),
      "v", col("r"), bins = 10).collect().head.getDouble(1)
    assert(z < 0.02, s"identical halves must read ~0: $z")
  }

  test("bootstrapMeanCi: CI brackets the mean, width shrinks with n, deterministic across runs") {
    def rows(k: String, n: Int) =
      (1 to n).map(i => (k, 10.0 + (i % 21 - 10) * 0.5, i.toLong))
    val df = (rows("small", 40) ++ rows("big", 640)).toDF("k", "v", "id")
    val out = etl.Aggregates.bootstrapMeanCi(df, Seq("k"), "v", col("id"),
      reps = 50).collect().map(r => r.getString(0) -> r).toMap
    for ((_, r) <- out) {
      assert(r.getDouble(3) <= r.getDouble(1) &&
        r.getDouble(1) <= r.getDouble(4), s"CI must bracket the mean: $r")
      assert(r.getLong(5) == 50L)
    }
    val wSmall = out("small").getDouble(4) - out("small").getDouble(3)
    val wBig = out("big").getDouble(4) - out("big").getDouble(3)
    assert(wBig < wSmall / 2, s"16x the data: CI much tighter ($wBig vs $wSmall)")
    val rerun = etl.Aggregates.bootstrapMeanCi(df, Seq("k"), "v",
      col("id"), reps = 50).collect().map(r => r.getString(0) -> r).toMap
    assert(rerun("small").getDouble(3) == out("small").getDouble(3) &&
      rerun("big").getDouble(4) == out("big").getDouble(4),
      "hash draws: byte-deterministic, no RNG state")
  }

  test("fertility: hand counts exact; empty tokens filtered; TTR separates diverse from template") {
    val docs = Seq(
      ("en", "the cat sat"), ("en", "the  dog ran fast"),
      ("tpl", "buy now buy now"), ("tpl", "buy now"))
      .toDF("lang", "text")
    val out = text.Corpus.fertility(docs, "lang", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    val en = out("en")
    // 3 + 4 tokens (double space filtered), 6 types, 22 chars
    assert(en.getLong(1) == 2L && en.getLong(2) == 7L && en.getLong(3) == 6L)
    assert(en.getDouble(4) == 3.5, s"tokens/doc: $en")
    assert(math.abs(en.getDouble(5) - 22.0 / 7) < 1e-6, s"chars/token: $en")
    val tpl = out("tpl")
    assert(tpl.getDouble(6) < en.getDouble(6),
      "template flood must show a collapsed TTR")
    assert(math.abs(tpl.getDouble(6) - 2.0 / 6) < 1e-6)
  }

  test("Bpe: exact merge sequence on a hand corpus; segment replays the merges") {
    val docs = Seq((1L, "aaab aaab"), (2L, "aaab")).toDF("doc_id", "text")
    val m = text.Bpe.trainMerges(docs, "text", numMerges = 5)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2)))
    // (a,a) n=6 first; then (aa,a)/(a,b) tie at 3 → lexicographic l picks (a,b);
    // then (aa,ab); then no pairs remain → early stop at 3 merges
    assert(m.toSeq == Seq(("a", "a"), ("a", "b"), ("aa", "ab")), s"got ${m.toSeq}")
    val seg = text.Bpe.segment(docs, "doc_id", "text",
      Seq(("a", "a"), ("a", "b"), ("aa", "ab")))
      .filter(col("doc_id") === 1L).select("pieces").as[Seq[String]].collect()
    assert(seg.forall(_ == Seq("aaab")), s"merged to a single piece: ${seg.toSeq}")
    val part = text.Bpe.segment(docs, "doc_id", "text", Seq(("a", "a")))
      .filter(col("doc_id") === 2L).select("pieces").as[Seq[String]].head()
    assert(part == Seq("aa", "a", "b"), s"greedy left-to-right: $part")
  }

  test("hardNegatives: same-label neighbors pruned, different-label ranked by cosine") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), "A"),
      (2L, Array(1.0f, 0.0f), "A"),   // identical but same label => excluded
      (3L, Array(0.9f, 0.1f), "B"),
      (4L, Array(0.0f, 1.0f), "B")
    ).toDF("vec_id", "embedding", "label")
    val out = sim.Similarity.hardNegatives(emb, emb.filter(col("vec_id") === 1L),
      "vec_id", "embedding", "label", k = 3)
      .orderBy("rank").collect().map(_.getLong(1))
    assert(out.toSeq == Seq(3L, 4L), s"got ${out.toSeq}")
  }

  test("bm25TopK: planted rare term ranks its doc first; common terms score lower") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the zebra quagga runs across the plain"),
      (3L, "the quick dog sleeps near the quiet barn"),
      (4L, "a plain brown barn holds the quiet fox")
    ).toDF("doc_id", "text")
    val qs = Seq((10L, "zebra quagga"), (11L, "quick fox")).toDF("qid", "qtext")
    val out = text.Retrieval.bm25TopK(docs, qs, "doc_id", "text", "qid", "qtext", k = 2)
      .orderBy("qid", "rank").collect()
    // qid 10: only doc 2 contains the rare terms — it must be the sole hit
    val hits10 = out.filter(_.getLong(0) == 10L)
    assert(hits10.length == 1 && hits10.head.getLong(1) == 2L, s"got ${hits10.toSeq}")
    // qid 11: doc 1 has both quick and fox; it must outrank single-term docs
    val hits11 = out.filter(_.getLong(0) == 11L)
    assert(hits11.head.getLong(1) == 1L, s"got ${hits11.toSeq}")
    // determinism: scores are rounded and ranks dense per query
    assert(hits11.map(_.getLong(3)).toSeq == Seq(1L, 2L))
  }

  test("Scd2: collapse vs open row, consecutive collapse, chain close, new key, snapshotAt") {
    val dim = operators.Scd2.init(
      Seq((1L, "A"), (2L, "X")).toDF("k", "v"), Seq("k"), Seq("v"),
      epoch = "2020-01-01")
    val ups = Seq(
      (1L, "2021-01-01", "A"), // re-states the open value → no version
      (1L, "2021-02-01", "B"),
      (1L, "2021-03-01", "B"), // consecutive equal → collapses
      (1L, "2021-04-01", "C"),
      (3L, "2021-05-01", "N")  // brand-new key
    ).toDF("k", "ts", "v").withColumn("ts", to_date(col("ts")))
    val out = operators.Scd2.merge(dim, ups, Seq("k"), Seq("v"), "ts")
      .orderBy("k", "valid_from")
      .select(col("k"), col("v"), col("valid_from").cast("string"),
        col("valid_to").cast("string"), col("is_current"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        Option(r.getString(3)), r.getBoolean(4))).toSeq
    assert(out == Seq(
      (1L, "A", "2020-01-01", Some("2021-02-01"), false),
      (1L, "B", "2021-02-01", Some("2021-04-01"), false),
      (1L, "C", "2021-04-01", None, true),
      (2L, "X", "2020-01-01", None, true), // untouched key stays open
      (3L, "N", "2021-05-01", None, true)), s"got $out")
    // point-in-time lookup: half-open intervals, boundary belongs to the new version
    val dim2 = operators.Scd2.merge(dim, ups, Seq("k"), Seq("v"), "ts")
    val at = operators.Scd2.snapshotAt(dim2, "2021-02-01")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(at == Set((1L, "B"), (2L, "X")), s"got $at")
    // (key, ts) collisions are rejected, clean batches pass
    val bad = Seq((1L, "2021-01-01", "P"), (1L, "2021-01-01", "Q"))
      .toDF("k", "ts", "v")
    intercept[IllegalArgumentException] {
      operators.Scd2.requireUniqueInstants(bad, Seq("k"), "ts")
    }
    operators.Scd2.requireUniqueInstants(ups, Seq("k"), "ts")
  }

  test("TableDiff: statuses, null-safe change detection, O(drift) output, summary") {
    val a = Seq((1L, Some(1), "p"), (2L, None: Option[Int], "q"),
      (3L, Some(3), "r"), (4L, Some(4), "s")).toDF("k", "x", "y")
    val b = Seq((1L, Some(1), "p"), (2L, Some(2), "q"),
      (3L, Some(3), "zz"), (5L, Some(9), "n")).toDF("k", "x", "y")
    val d = operators.TableDiff.diff(a, b, Seq("k"))
      .orderBy("k")
      .select(col("k"), col("status"), concat_ws(",", col("changed_cols")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    // identical row 1 is ABSENT; null -> 2 is a change, not a false same
    assert(d == Seq((2L, "changed", "x"), (3L, "changed", "y"),
      (4L, "removed", ""), (5L, "added", "")), s"got $d")
    val sm = operators.TableDiff.summary(a, b, Seq("k"))
      .orderBy("status").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(sm == Seq(("added", 1L, 0L, 0L), ("changed", 2L, 1L, 1L),
      ("removed", 1L, 0L, 0L)), s"got $sm")
    // schema drift between the snapshots is a hard error, not a guess
    intercept[IllegalArgumentException] {
      operators.TableDiff.diff(a, b.withColumnRenamed("y", "z"), Seq("k"))
    }
  }

  test("stratifiedSplit: exact ceil proportions per stratum, repartition-stable") {
    val docs = ((1L to 10L).map(i => (i, "big")) ++
      (11L to 13L).map(i => (i, "small"))).toDF("doc_id", "lang")
    val out = text.Corpus.stratifiedSplit(docs, "lang", "doc_id", 0.8, 0.1)
    val counts = out.groupBy("lang", "split").count().collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    // n=10: exactly ceil(8)/ceil(9)-8/rest = 8/1/1 — the guarantee q82's
    // in-expectation split cannot make
    assert(counts == Map(("big", "train") -> 8L, ("big", "val") -> 1L,
      ("big", "test") -> 1L, ("small", "train") -> 3L),
      s"got $counts")
    // assignment is a pure function of (id, stratum): partitioning-proof
    val again = text.Corpus.stratifiedSplit(docs.repartition(7), "lang",
      "doc_id", 0.8, 0.1)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    assert(rows(again) == rows(out))
  }

  test("mmrRerank: near-dup of the top hit is demoted, lambda=1 is pure relevance, repartition-stable") {
    // doc 1 and its near-duplicate 2 both highly relevant; doc 3
    // orthogonal and less relevant. MMR must pick 1 then 3; pure
    // relevance (lambda=1) picks 1 then 2.
    val cands = Seq(
      (10L, 1L, 0.99, Seq(1.0f, 0.0f)),
      (10L, 2L, 0.98, Seq(0.999f, 0.04f)),
      (10L, 3L, 0.80, Seq(0.0f, 1.0f))
    ).toDF("query_id", "doc_id", "rel", "vec")
    def picks(lambda: Double) = sim.Similarity.mmrRerank(cands, "query_id",
        "doc_id", "rel", "vec", k = 2, lambda = lambda)
      .orderBy("mmr_rank").collect().map(_.getLong(1)).toSeq
    assert(picks(0.5) == Seq(1L, 3L), s"diversity pick: ${picks(0.5)}")
    assert(picks(1.0) == Seq(1L, 2L), s"pure relevance: ${picks(1.0)}")
    // rank 1 score is lambda*rel (empty selected set => zero penalty)
    val first = sim.Similarity.mmrRerank(cands, "query_id", "doc_id", "rel",
      "vec", k = 1, lambda = 0.5).collect().head
    assert(first.getLong(1) == 1L && math.abs(first.getDouble(3) - 0.495) < 1e-9)
    // deterministic under any input partitioning
    val again = sim.Similarity.mmrRerank(cands.repartition(5), "query_id",
        "doc_id", "rel", "vec", k = 2, lambda = 0.5)
      .orderBy("mmr_rank").collect().map(_.getLong(1)).toSeq
    assert(again == Seq(1L, 3L))
  }

  test("Scd2 tombstones: delete closes without successor, re-add reopens same value, unknown-key no-op") {
    val dim = operators.Scd2.init(
      Seq((1L, "A"), (2L, "B")).toDF("k", "v"), Seq("k"), Seq("v"),
      epoch = "2020-01-01")
    val ups = Seq(
      (1L, "2021-01-01", "A", true),  // tombstone closes the open A
      (1L, "2021-02-01", "A", false), // re-add of the SAME value must reopen
      (2L, "2021-03-01", null: String, true), // plain delete, no successor
      (9L, "2021-04-01", null: String, true)  // unknown key: no-op
    ).toDF("k", "ts", "v", "del").withColumn("ts", to_date(col("ts")))
    val out = operators.Scd2.merge(dim, ups, Seq("k"), Seq("v"), "ts",
        deleteCol = Some("del"))
      .orderBy("k", "valid_from")
      .select(col("k"), col("v"), col("valid_from").cast("string"),
        col("valid_to").cast("string"), col("is_current"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        Option(r.getString(3)), r.getBoolean(4))).toSeq
    assert(out == Seq(
      (1L, "A", "2020-01-01", Some("2021-01-01"), false),
      (1L, "A", "2021-02-01", None, true),
      (2L, "B", "2020-01-01", Some("2021-03-01"), false)), s"got $out")
    // snapshot inside the deletion gap: key 1 absent, key 2 still open
    val dim2 = operators.Scd2.merge(dim, ups, Seq("k"), Seq("v"), "ts",
      deleteCol = Some("del"))
    val mid = operators.Scd2.snapshotAt(dim2, "2021-01-15")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(mid == Set((2L, "B")), s"got $mid")
  }

  test("Intervals.mergeIntervals: touching merge, containment, chain through short bridge, per-key isolation") {
    val df = Seq(
      ("a", 1, 5), ("a", 5, 9),     // touching end-to-start → one island
      ("a", 2, 3),                  // contained → absorbed, extends nothing
      ("a", 20, 25), ("a", 21, 30), ("a", 29, 40), // overlap chain
      ("a", 50, 51),                // singleton
      ("b", 4, 6)                   // other key untouched by a's islands
    ).toDF("k", "s", "e")
    val out = operators.Intervals.mergeIntervals(df, Seq("k"), "s", "e")
      .orderBy("k", "s")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
    assert(out == Seq(
      ("a", 1, 9, 3L), ("a", 20, 40, 3L), ("a", 50, 51, 1L),
      ("b", 4, 6, 1L)), s"got $out")
  }

  test("olsTrend: exact line recovered; welchTTest matches the textbook Welch form") {
    val line = Seq(("k", 0.0, 1.0), ("k", 1.0, 3.0), ("k", 2.0, 5.0), ("k", 3.0, 7.0))
      .toDF("g", "x", "y")
    val t = etl.Aggregates.olsTrend(line, Seq("g"), col("x"), col("y")).collect().head
    assert((t.getDouble(1), t.getDouble(2), t.getDouble(3), t.getLong(4)) ==
      ((2.0, 1.0, 1.0, 4L)))

    // A = [1,2,3], B = [2,4,6,8]: t = -3/sqrt(2), Welch df ≈ 4.0755
    val ab = Seq((true, 1.0), (true, 2.0), (true, 3.0),
      (false, 2.0), (false, 4.0), (false, 6.0), (false, 8.0))
      .toDF("isA", "y").withColumn("g", lit("k"))
    val w = etl.Aggregates.welchTTest(ab, Seq("g"), col("isA"), col("y"))
      .collect().head
    assert((w.getLong(1), w.getLong(2)) == ((3L, 4L)))
    assert(w.getDouble(3) == -3.0)
    assert(math.abs(w.getDouble(4) - (-3.0 / math.sqrt(2.0))) < 5e-5)
    assert(math.abs(w.getDouble(5) - 4.0755) < 5e-4)
    assert(w.getLong(6) == 1L) // |t| = 2.12 > 1.96
  }

  test("collocations and bigramLogProb: counts and smoothed probabilities on a tiny corpus") {
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "z")).toDF("doc_id", "text")
    // bigrams: (a,b)x3, (b,a)x1, (b,c)x1; B=5; unigrams a:3 b:3 c:1 z:1, T=8
    val coll = text.Corpus.collocations(docs, "doc_id", "text", minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(coll.length == 1)
    val (w1, w2, n, pmi) = coll.head
    val expPmi = math.log((3.0 / 5.0) / (3.0 / 8.0) / (3.0 / 8.0))
    assert((w1, w2, n) == (("a", "b", 3L)) && math.abs(pmi - expPmi) < 1e-5)

    // V=4; p(b|a) = (3+1)/(3+4) — doc 3 has no bigram and drops out
    val lp = text.Corpus.bigramLogProb(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(lp.map(x => (x._1, x._2)).toSeq == Seq((1L, 3L), (2L, 2L)))
    val pAB = math.log(4.0 / 7.0)           // c12=3,c1(a)=3 → (3+1)/(3+4)
    val pBA = math.log(2.0 / 6.0)           // c12=1,c1(b)=2 → (1+1)/(2+4)
    val pBC = math.log(2.0 / 6.0)
    assert(math.abs(lp(0)._3 - (2 * pAB + pBA) / 3.0) < 1e-5)
    assert(math.abs(lp(1)._3 - (pAB + pBC) / 2.0) < 1e-5)
  }

  test("Intervals: gaps are the complement; coverage de-overlaps the sum") {
    val df = Seq(("a", "2024-01-01 00:00:00", "2024-01-01 01:00:00"),
      ("a", "2024-01-01 00:30:00", "2024-01-01 01:30:00"), // overlap: naive sum 2h, covered 1.5h
      ("a", "2024-01-01 03:00:00", "2024-01-01 03:30:00"))
      .toDF("k", "s", "e")
      .select(col("k"), col("s").cast("timestamp"), col("e").cast("timestamp"))
    val g = operators.Intervals.gaps(df, Seq("k"), "s", "e")
      .collect().map(r => (r.getTimestamp(1).toString, r.getTimestamp(2).toString)).toSeq
    assert(g == Seq(("2024-01-01 01:30:00.0", "2024-01-01 03:00:00.0")), s"got $g")
    val c = operators.Intervals.coverage(df, Seq("k"), "s", "e")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).head
    assert(c == ((5400000000L + 1800000000L, 2L, 3L)), s"got $c")
  }

  test("Triangles: hand graph — K4 minus an edge has 2 triangles; pendant untouched") {
    // vertices 1-2-3-4 with edges 12,13,14,23,24 (K4 minus 34) + pendant 5-1;
    // triangles {1,2,3} and {1,2,4}. Duplicates/reversed rows must not
    // double-count; self-loop dropped.
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (5L, 1L), (3L, 3L)).toDF("src", "dst")
    val g = operators.Triangles.census(edges, "src", "dst").collect().head
    assert((g.getLong(0), g.getLong(1), g.getLong(3)) == ((5L, 6L, 2L)),
      s"got $g")
    val pv = operators.Triangles.perVertex(edges, "src", "dst")
      .orderBy("v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // vertex 1: deg 4 (2,3,4,5), in both triangles; 2: deg 3, both;
    // 3/4: deg 2, one each; 5: deg 1, none
    assert(pv == Seq((1L, 4L, 2L), (2L, 3L, 2L), (3L, 2L, 1L),
      (4L, 2L, 1L), (5L, 1L, 0L)), s"got $pv")
    // clustering coefficients: v3 closed wedge → 1.0; v1 2/(4·3/2) = 1/3
    // (roundStable'd to 6 digits)
    val cc = operators.Triangles.perVertex(edges, "src", "dst")
      .orderBy("v").collect().map(_.getDouble(3)).toSeq
    assert(cc(0) == 0.333333 && cc(2) == 1.0 && cc(4) == 0.0, s"got $cc")
  }

  test("Drift.psi: identical windows score ~0; a shifted current window scores high") {
    val ref = (1 to 200).map(i => ("k", i % 10 + 0.0, true))
    val same = (1 to 200).map(i => ("k", i % 10 + 0.0, false))
    val shifted = (1 to 200).map(i => ("k", i % 10 + 20.0, false))
    val stable = etl.Drift.psi((ref ++ same).toDF("k", "v", "ref"),
      Seq("k"), "v", col("ref"), bins = 10).collect().head.getDouble(1)
    assert(math.abs(stable) < 0.01, s"identical windows psi=$stable")
    val drifted = etl.Drift.psi((ref ++ shifted).toDF("k", "v", "ref"),
      Seq("k"), "v", col("ref"), bins = 10).collect().head.getDouble(1)
    // everything clamps into the top edge bin → mass imbalance dominates
    assert(drifted > 1.0, s"shifted window psi=$drifted")
  }

  test("Drift.ksTest: same distribution D=0; disjoint supports D=1") {
    val a = (1 to 100).map(i => ("k", i + 0.0, true))
    val b = (1 to 100).map(i => ("k", i + 0.0, false))
    val d0 = etl.Drift.ksTest((a ++ b).toDF("k", "v", "isa"),
      Seq("k"), "v", col("isa")).collect().head.getDouble(1)
    assert(d0 == 0.0)
    val c = (1 to 100).map(i => ("k", i + 1000.0, false))
    val d1 = etl.Drift.ksTest((a ++ c).toDF("k", "v", "isa"),
      Seq("k"), "v", col("isa")).collect().head.getDouble(1)
    assert(d1 == 1.0)
  }

  test("tokenEntropy: uniform tokens maximize entropy; repetition drops TTR and entropy") {
    val docs = Seq((1L, "a b c d"), (2L, "a a a a"), (3L, "a a b b"))
      .toDF("doc_id", "text")
    val out = text.Corpus.tokenEntropy(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(out(0) == ((4L, 4L, 1.0, math.floor(math.log(4.0) * 1e6 + 0.5) / 1e6)))
    assert(out(1) == ((4L, 1L, 0.25, 0.0)))
    assert(out(2)._4 == math.floor(math.log(2.0) * 1e6 + 0.5) / 1e6)
  }

  test("quantileBins: exact equal-frequency split with remainder to the first bins") {
    val df = (1 to 23).map(i => ("k", i + 0.0, i.toLong)).toDF("k", "v", "id")
    val out = etl.Features.quantileBins(df, Seq("k"), "v", "id", nBins = 4)
      .orderBy("bin").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    // 23 rows / 4 bins → sizes 6,6,6,5 (ntile remainder-first)
    assert(out.map(_._2).toSeq == Seq(6L, 6L, 6L, 5L))
    assert(out(0)._3 == 1.0 && out(3)._4 == 23.0)
  }

  test("chiSquareIndep: independent mix scores ~0; a perfectly dependent one scores V=1") {
    // 2×2 with identical column mix across rows → chi2 = 0 exactly
    val indep = Seq.fill(30)(("s1", "en")) ++ Seq.fill(30)(("s1", "fr")) ++
      Seq.fill(10)(("s2", "en")) ++ Seq.fill(10)(("s2", "fr"))
    val r0 = etl.Drift.chiSquareIndep(indep.toDF("src", "lang"), "src", "lang")
      .collect().head
    assert(r0.getDouble(0) == 0.0 && r0.getLong(1) == 1L && r0.getLong(3) == 80L,
      s"got $r0")
    // each source speaks exactly one language → chi2 = n, V = 1
    val dep = Seq.fill(25)(("s1", "en")) ++ Seq.fill(15)(("s2", "fr"))
    val r1 = etl.Drift.chiSquareIndep(dep.toDF("src", "lang"), "src", "lang")
      .collect().head
    assert(r1.getDouble(0) == 40.0 && r1.getDouble(2) == 1.0, s"got $r1")
  }

  test("benford: a log-spread series conforms; a narrow-band series does not") {
    // multi-scale magnitudes (the Benford precondition) vs values all
    // starting with digit 1 (chi2 dominated by the absent-digit mass)
    val spread = (1 to 400).map(i => ("k", math.pow(10, i * 7.0 / 400) * 1.0))
    val narrow = (1 to 400).map(i => ("k", 100.0 + i * 0.2)) // 100..180
    val cSpread = etl.Drift.benford(spread.toDF("k", "v"), Seq("k"), "v")
      .collect().head.getDouble(1)
    val cNarrow = etl.Drift.benford(narrow.toDF("k", "v"), Seq("k"), "v")
      .collect().head.getDouble(1)
    assert(cSpread < 30.0, s"log-spread chi2=$cSpread")
    assert(cNarrow > 400.0, s"narrow-band chi2=$cNarrow") // all mass on digit 1
    // nonpositive values carry no first digit and must be excluded
    val withJunk = spread ++ Seq(("k", 0.0), ("k", -5.0))
    val n = etl.Drift.benford(withJunk.toDF("k", "v"), Seq("k"), "v")
      .collect().head.getLong(2)
    assert(n == 400L + 1L, s"got n=$n") // -5.0 keeps |v|=5; 0 drops
  }

  test("mannWhitneyU: identical samples center U at na*nb/2; disjoint samples max it") {
    val a = (1 to 50).map(i => ("k", i + 0.0, true))
    val same = (1 to 50).map(i => ("k", i + 0.0, false))
    val r0 = etl.Aggregates.mannWhitneyU((a ++ same).toDF("k", "v", "isa"),
      Seq("k"), col("isa"), col("v")).collect().head
    assert(r0.getDouble(1) == 1250.0 && r0.getDouble(2) == 0.0, s"got $r0")
    // every A above every B → U = na·nb, z strongly positive
    val below = (1 to 50).map(i => ("k", i - 1000.0, false))
    val r1 = etl.Aggregates.mannWhitneyU((a ++ below).toDF("k", "v", "isa"),
      Seq("k"), col("isa"), col("v")).collect().head
    assert(r1.getDouble(1) == 2500.0 && r1.getDouble(2) > 5.0, s"got $r1")
    // hand tie case: A={1,2,2}, B={2,3} → ranks 1, 3, 3 (avg of 2,3,4), 3, 5
    // → U = (1+3+3) − 3·4/2 = 1
    val ties = Seq(("k", 1.0, true), ("k", 2.0, true), ("k", 2.0, true),
      ("k", 2.0, false), ("k", 3.0, false))
    val r2 = etl.Aggregates.mannWhitneyU(ties.toDF("k", "v", "isa"),
      Seq("k"), col("isa"), col("v")).collect().head
    assert(r2.getDouble(1) == 1.0, s"got $r2")
  }

  test("zipfSlope: an exact 1/r frequency table fits slope -1 with r2 1") {
    // counts 12,6,4,3 = 12/r for ranks 1..4 → ln f = ln 12 − ln r exactly
    val toks = Seq.fill(12)("a") ++ Seq.fill(6)("b") ++
      Seq.fill(4)("c") ++ Seq.fill(3)("d")
    val docs = Seq((1L, "s", toks.mkString(" "))).toDF("doc_id", "src", "text")
    val r = text.Corpus.zipfSlope(docs, "src", "text").collect().head
    assert(math.abs(r.getDouble(1) + 1.0) < 1e-4, s"slope=${r.getDouble(1)}")
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-4, s"r2=${r.getDouble(3)}")
    assert(r.getLong(4) == 4L)
  }

  test("containmentPairs: a quoted doc scores 1.0 where Jaccard stays small") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),                  // 3 shingles
      (2L, "intro words then the quick brown fox jumps and a long tail of extra content here"),
      (3L, "completely different text with no overlap at all")).toDF("id", "text")
    val out = dedup.NGramJaccard.containmentPairs(docs, "id", "text",
      n = 3, minContainment = 0.9).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L && r.getDouble(4) == 1.0,
      s"got $r")
    // the same pair's Jaccard is far below the containment
    val j = dedup.NGramJaccard.similarPairs(docs, "id", "text", 3, 0.9).count()
    assert(j == 0L)
  }

  test("madOutliers: one wild reading flags itself without moving the fence") {
    val df = ((1 to 9).map(i => ("k", i + 0.0)) :+ (("k", 100.0)))
      .toDF("k", "v")
    val out = etl.Clean.madOutliers(df, Seq("k"), "v").collect()
    // median 5.5, MAD = median(0.5,0.5,...,94.5) = 2.5 → fence ≈ 12.97
    assert(out.count(_.getAs[Long]("is_outlier") == 1L) == 1)
    val flagged = out.find(_.getAs[Long]("is_outlier") == 1L).get
    assert(flagged.getAs[Double]("v") == 100.0)
    assert(flagged.getAs[Double]("med") == 5.5 && flagged.getAs[Double]("mad") == 2.5)
  }

  test("KCore: peeling keeps the clique, drops the tendril, early-stops at fixpoint") {
    // K4 on 1-4 plus chain 4-5-6: the 3-core is exactly the K4
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val core3 = operators.KCore.core(edges, "src", "dst", k = 3)
      .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(core3 == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)), s"got $core3")
    // k=1 is already a fixpoint — nothing peels
    assert(operators.KCore.core(edges, "src", "dst", k = 1).count() == 6L)
    // k above the max degree empties the graph
    assert(operators.KCore.core(edges, "src", "dst", k = 5).count() == 0L)
  }

  test("acf: a perfectly alternating series has acf_1 = -1 and acf_2 = +1") {
    val rows = (1 to 40).map(i => ("k", i.toLong, if (i % 2 == 0) 1.0 else -1.0))
    val out = etl.Aggregates.acf(rows.toDF("k", "t", "v"), Seq("k"),
      col("t"), col("t"), col("v"), lags = Seq(1, 2)).collect().head
    assert(out.getDouble(1) == -1.0 && out.getDouble(2) == 1.0, s"got $out")
    // white-noise-ish irrational rotation decorrelates
    val noise = (1 to 500).map(i => ("k", i.toLong, (i * 0.754877666) % 1.0))
    val a1 = etl.Aggregates.acf(noise.toDF("k", "t", "v"), Seq("k"),
      col("t"), col("t"), col("v"), lags = Seq(1)).collect().head.getDouble(1)
    assert(math.abs(a1) < 0.2, s"noise acf_1=$a1")
  }

  test("transitionMatrix: hand chain counts pairs per entity and row-normalizes") {
    // user 1: a→b→a→b ; user 2: a→a→c — transitions: a→b ×2, b→a ×1,
    // a→a ×1, a→c ×1 → from state a: P(b)=0.5, P(a)=0.25, P(c)=0.25
    val rows = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"), (1L, 4L, "b"),
      (2L, 1L, "a"), (2L, 2L, "a"), (2L, 3L, "c"))
    val out = operators.Sequences.transitionMatrix(
      rows.toDF("u", "t", "s"), "u", col("t"), col("t"), "s")
      .orderBy("state", "next").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(("a", "a", 1L, 0.25), ("a", "b", 2L, 0.5),
      ("a", "c", 1L, 0.25), ("b", "a", 1L, 1.0)), s"got ${out.toSeq}")
  }

  test("sessionPaths: gap splits sessions; order inside a path is (ts, tie)-pinned") {
    val base = 1700000000000000L
    def t(us: Long) = new java.sql.Timestamp(base / 1000 + us / 1000)
    // user 1: a,b then (gap > 10s) c ; user 2: a,b — paths: a>b ×2, c ×1
    val rows = Seq((1L, t(0L), 1L, "a"), (1L, t(1000000L), 2L, "b"),
      (1L, t(20000000L), 3L, "c"),
      (2L, t(0L), 4L, "a"), (2L, t(1000000L), 5L, "b"))
    val out = operators.Sequences.sessionPaths(
      rows.toDF("u", "ts", "id", "s"), "u", "ts", col("id"), "s",
      gapMicros = 10000000L)
      .orderBy(col("n_sessions").desc, col("path")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("a>b", 2L), ("c", 1L)), s"got ${out.toSeq}")
  }

  test("rrfFuse: a doc ranked well in both lists beats single-list leaders") {
    val l1 = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L))
      .toDF("qid", "doc_id", "rank")
    val l2 = Seq((1L, 20L, 1L), (1L, 40L, 2L), (1L, 10L, 3L))
      .toDF("qid", "doc_id", "rank")
    val out = text.Retrieval.rrfFuse(Seq(l1, l2), "qid", "doc_id", "rank",
      kRrf = 60, topK = 10).orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getLong(4)))
    // doc 20: 1/62 + 1/61 > doc 10: 1/61 + 1/63 > singles 30/40
    assert(out.head._1 == 20L && out(1)._1 == 10L, s"got ${out.toSeq}")
    assert(out.take(2).forall(_._2 == 2L) && out.drop(2).forall(_._2 == 1L))
  }

  test("cusum: a planted mean shift alarms after it, a stable series never does") {
    // reference: 200 pts alternating ±1 around 0 (sd ≈ 1); current:
    // 20 on-target pts then a +3σ shift — S accumulates ~2.5/pt after
    // the shift and crosses h=5 within a few points
    val ref = (1 to 200).map(i => ("k", i.toLong, if (i % 2 == 0) 1.0 else -1.0, true))
    val calm = (1 to 20).map(i => ("k", 1000L + i, if (i % 2 == 0) 1.0 else -1.0, false))
    val shifted = (1 to 30).map(i => ("k", 2000L + i, 3.0, false))
    val out = etl.Drift.cusum((ref ++ calm ++ shifted).toDF("k", "t", "v", "r"),
      Seq("k"), "v", col("t"), col("t"), col("r")).collect().head
    assert(out.getLong(1) > 20L, s"alarms=${out.getLong(1)}")
    assert(out.getLong(2) > 2000L && out.getLong(2) <= 2005L,
      s"first_alarm_at=${out.getLong(2)}")
    val stable = etl.Drift.cusum((ref ++ calm).toDF("k", "t", "v", "r"),
      Seq("k"), "v", col("t"), col("t"), col("r")).collect().head
    assert(stable.getLong(1) == 0L, s"stable alarms=${stable.getLong(1)}")
  }

  test("cusum: a downward shift alarms the LOWER side only; upper stays quiet") {
    // sensor degradation: −3σ from t=2000 — invisible to the upper
    // statistic (z−k drifts negative, S floors at 0), caught by the
    // lower one within a few points
    val ref = (1 to 200).map(i => ("k", i.toLong, if (i % 2 == 0) 1.0 else -1.0, true))
    val calm = (1 to 20).map(i => ("k", 1000L + i, if (i % 2 == 0) 1.0 else -1.0, false))
    val down = (1 to 30).map(i => ("k", 2000L + i, -3.0, false))
    val out = etl.Drift.cusum((ref ++ calm ++ down).toDF("k", "t", "v", "r"),
      Seq("k"), "v", col("t"), col("t"), col("r")).collect().head
    assert(out.getLong(1) == 0L, s"upper alarms=${out.getLong(1)}")
    assert(out.getLong(4) > 20L, s"lower alarms=${out.getLong(4)}")
    assert(out.getLong(5) > 2000L && out.getLong(5) <= 2005L,
      s"first_alarm_lo_at=${out.getLong(5)}")
  }

  test("cusum: a flat-reference key is emitted with NULL statistics, not dropped") {
    // σ=0 (constant reference) has no scale to standardize against —
    // the key must be VISIBLE as unmonitorable (null stats + its n_cur),
    // while a normal key in the same frame monitors as usual
    val flat = (1 to 50).map(i => ("flat", i.toLong, 7.0, true)) ++
      (1 to 10).map(i => ("flat", 100L + i, 9.0, false))
    val live = (1 to 200).map(i => ("live", i.toLong, if (i % 2 == 0) 1.0 else -1.0, true)) ++
      (1 to 30).map(i => ("live", 2000L + i, 3.0, false))
    val out = etl.Drift.cusum((flat ++ live).toDF("k", "t", "v", "r"),
        Seq("k"), "v", col("t"), col("t"), col("r"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.contains("flat"), "flat key must not vanish")
    val f = out("flat")
    assert(f.isNullAt(1) && f.isNullAt(3) && f.isNullAt(4) && f.isNullAt(6),
      s"flat stats must be null: $f")
    assert(f.getLong(7) == 10L, s"flat n_cur=${f.getLong(7)}")
    assert(out("live").getLong(1) > 20L, "live key must still alarm")
  }

  test("chiSquareIndep keyed: per-key tests match the global test run per slice") {
    // two sources with opposite association structure — the keyed form
    // must reproduce each source's standalone global test
    val s1 = Seq.tabulate(120)(i => ("s1", if (i % 2 == 0) "en" else "de",
      if (i % 2 == 0) "long" else "short")) // perfectly dependent
    val s2 = Seq.tabulate(120)(i => ("s2", if (i % 2 == 0) "en" else "de",
      if (i % 4 < 2) "long" else "short")) // independent
    val df = (s1 ++ s2).toDF("src", "lang", "len")
    val keyed = etl.Drift.chiSquareIndep(df, Seq("src"), "lang", "len")
      .collect().map(r => r.getString(0) -> r).toMap
    for (src <- Seq("s1", "s2")) {
      val global = etl.Drift.chiSquareIndep(
        df.filter(col("src") === src), "lang", "len").collect().head
      assert(keyed(src).getDouble(1) == global.getDouble(0),
        s"$src chi2: keyed=${keyed(src).getDouble(1)} global=${global.getDouble(0)}")
      assert(keyed(src).getDouble(3) == global.getDouble(2), s"$src cramers_v")
    }
    assert(keyed("s1").getDouble(3) == 1.0, "dependent source: V=1")
    assert(keyed("s2").getDouble(1) == 0.0, "independent source: chi2=0")
  }

  test("chiSquareIndep keyed: a constant-categorical key yields dof 0 and NULL V") {
    val rows = Seq.tabulate(40)(i => ("only", "en",
      if (i % 2 == 0) "long" else "short"))
    val r = etl.Drift.chiSquareIndep(rows.toDF("src", "lang", "len"),
      Seq("src"), "lang", "len").collect().head
    assert(r.getLong(2) == 0L, s"dof=${r.getLong(2)}")
    assert(r.isNullAt(3), "cramers_v must be NULL, not 0/0")
  }

  test("wasserstein1: pure location shift reads exactly the shift; identical halves 0; one-sided key NULL") {
    // ref {0,1}, cur {1,2}: every unit of mass travels exactly 1
    val hand = Seq(("k", 0.0, true), ("k", 1.0, true),
      ("k", 1.0, false), ("k", 2.0, false)).toDF("k", "v", "r")
    val h = etl.Drift.wasserstein1(hand, Seq("k"), "v", col("r"))
      .collect().head
    assert(h.getDouble(1) == 1.0, s"shift-by-1 must read W1=1: $h")
    assert(h.getDouble(2) == 0.5, s"range 2 -> w1_norm 0.5: $h")
    // a +7 shift of an arbitrary shape reads exactly 7
    val base = (1 to 50).map(i => ("s", math.pow(1.07, i % 13), true))
    val shifted = base.map { case (k, v, _) => (k, v + 7.0, false) }
    val s = etl.Drift.wasserstein1((base ++ shifted).toDF("k", "v", "r"),
      Seq("k"), "v", col("r")).collect().head
    assert(math.abs(s.getDouble(1) - 7.0) < 1e-6, s"location shift: $s")
    // identical halves: 0; one-sided key: NULL with counts visible
    val mixed = (1 to 40).map(i => ("same", (i % 10).toDouble, i <= 20)) ++
      Seq(("refonly", 1.0, true), ("refonly", 2.0, true))
    val out = etl.Drift.wasserstein1(mixed.toDF("k", "v", "r"), Seq("k"),
      "v", col("r")).collect().map(r => r.getString(0) -> r).toMap
    assert(out("same").getDouble(1) == 0.0)
    assert(out("refonly").isNullAt(1) && out("refonly").isNullAt(2) &&
      out("refonly").getLong(3) == 2L && out("refonly").getLong(4) == 0L)
  }

  test("mannKendall: monotone series textbook z; all-tied NULL z with S=0; single-bucket key visible") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(d: Int) = new java.sql.Timestamp(ts0.getTime + d * 86400000L)
    val up = (0 until 10).map(d => ("up", at(d), d.toDouble))
    val down = (0 until 10).map(d => ("down", at(d), -d.toDouble))
    val flat = (0 until 10).map(d => ("flat", at(d), 3.0))
    val lone = Seq(("lone", at(0), 1.0))
    val df = (up ++ down ++ flat ++ lone).toDF("k", "ts", "v")
    val out = etl.Aggregates.mannKendall(df, Seq("k"), to_date(col("ts")),
      "v").collect().map(r => r.getString(0) -> r).toMap
    // S = 45, Var = 10*9*25/18 = 125, z = 44/sqrt(125)
    assert(out("up").getLong(1) == 45L &&
      out("up").getDouble(4) == 125.0 &&
      math.abs(out("up").getDouble(5) - 44.0 / math.sqrt(125.0)) < 1e-6)
    assert(out("down").getLong(1) == -45L &&
      math.abs(out("down").getDouble(5) + 44.0 / math.sqrt(125.0)) < 1e-6)
    assert(out("flat").getLong(1) == 0L && out("flat").isNullAt(5),
      "all-tied: Var(S)=0, z NULL, not 0/0")
    assert(out("lone").isNullAt(1) && out("lone").getLong(3) == 0L,
      "single bucket: no pair to sign, visible not dropped")
  }

  test("mutualInfo: identical columns give NMI=1, independence ~0, constant column NULL NMI") {
    val dep = (1 to 40).map(i => ("dep", s"c${i % 3}", s"c${i % 3}"))
    val ind = for (i <- 0 until 10; j <- 0 until 10)
      yield ("ind", s"a$i".take(2), s"b${j % 2}")
    val const = (1 to 10).map(i => ("const", "only", s"b${i % 2}"))
    val df = (dep ++ ind ++ const).toDF("k", "a", "b")
    val out = etl.Drift.mutualInfo(df, Seq("k"), "a", "b")
      .collect().map(r => r.getString(0) -> r).toMap
    val d = out("dep")
    assert(math.abs(d.getDouble(4) - 1.0) < 1e-9, s"a==b: NMI 1: $d")
    assert(math.abs(d.getDouble(1) - d.getDouble(2)) < 1e-9,
      "a==b: MI equals the marginal entropy")
    assert(math.abs(out("ind").getDouble(1)) < 1e-9, "uniform grid: MI 0")
    assert(out("const").getDouble(1) == 0.0 && out("const").isNullAt(4),
      "constant a: MI 0 by construction, NMI NULL")
  }

  test("maxDrawdown: order-aware (beats max-min), earliest trough on ties, non-positive peak NULL frac") {
    // [5,3,4,1,6,2]: peak path [5,5,5,5,6,6], dd [0,2,1,4,0,4] — the
    // worst drop is 4 TWICE (value 1 off peak 5, value 2 off peak 6);
    // earliest wins. max-min would claim 6-1=5, which never happened
    // as a decline.
    val vals = Seq(5.0, 3.0, 4.0, 1.0, 6.0, 2.0)
    val rows = vals.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) } ++
      (0 until 4).map(i => ("up", i.toLong, i.toDouble)) ++
      Seq(("neg", 0L, -5.0), ("neg", 1L, -7.0))
    val df = rows.toDF("k", "o", "v")
    val out = etl.Aggregates.maxDrawdown(df, Seq("k"), "v", col("o"),
      col("o")).collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getDouble(1) == 4.0 && k.getDouble(2) == 0.8 &&
      k.getDouble(3) == 5.0 && k.getLong(4) == 3L,
      s"dd 4 at the EARLIEST trough (o=3, peak 5): $k")
    assert(out("up").getDouble(1) == 0.0 && out("up").getLong(4) == 0L,
      "monotone rise: zero drawdown, trough pinned to the first row")
    assert(out("neg").getDouble(1) == 2.0 && out("neg").isNullAt(2),
      "negative peak: absolute dd real, relative NULL not nonsense")
  }

  test("runsTest: alternation reads high z, clustering low z, median ties excluded") {
    // 12 values alternating around median -> R = 12 (max possible)
    val alt = (0 until 12).map(i =>
      ("alt", i.toLong, if (i % 2 == 0) 1.0 else 2.0))
    // same multiset clustered -> R = 2 (min possible)
    val clu = (0 until 12).map(i =>
      ("clu", i.toLong, if (i < 6) 1.0 else 2.0))
    // 1,2,3 with median 2: the 2 is EXCLUDED, leaving one run boundary
    val tie = Seq(("tie", 0L, 1.0), ("tie", 1L, 2.0), ("tie", 2L, 3.0))
    val df = (alt ++ clu ++ tie).toDF("k", "o", "v")
    val out = etl.Aggregates.runsTest(df, Seq("k"), "v", col("o"), col("o"))
      .collect().map(r => r.getString(0) -> r).toMap
    val np = 6.0; val nn = 6.0; val n = 12.0
    val mu = 1.0 + 2 * np * nn / n
    val sd = math.sqrt(2 * np * nn * (2 * np * nn - n) / (n * n * (n - 1)))
    assert(out("alt").getLong(3) == 12L &&
      math.abs(out("alt").getDouble(5) - (12 - mu) / sd) < 1e-6,
      s"alternation: R=12, z=+(12-mu)/sd: ${out("alt")}")
    assert(out("clu").getLong(3) == 2L &&
      math.abs(out("clu").getDouble(5) - (2 - mu) / sd) < 1e-6,
      s"clustering: R=2: ${out("clu")}")
    val t = out("tie")
    assert(t.getLong(1) == 1L && t.getLong(2) == 1L && t.getLong(3) == 2L,
      s"median row excluded, 2 runs remain: $t")
  }

  test("hodgesLehmann: sits between median and mean on skewed data; symmetric case equals both") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(d: Int) = new java.sql.Timestamp(ts0.getTime + d * 86400000L)
    // daily values [1,2,10]: Walsh avgs {1,1.5,5.5,2,6,10} -> HL 3.75;
    // series median 2, mean 4.33 — HL strictly between
    val skew = Seq(("skew", at(0), 1.0), ("skew", at(1), 2.0),
      ("skew", at(2), 10.0))
    val sym = (0 until 5).map(d => ("sym", at(d), (d + 1).toDouble))
    val df = (skew ++ sym).toDF("k", "ts", "v")
    val out = etl.Aggregates.hodgesLehmann(df, Seq("k"), to_date(col("ts")),
      "v").collect().map(r => r.getString(0) -> r).toMap
    val s = out("skew")
    assert(s.getDouble(1) == 3.75 && s.getDouble(2) == 2.0 &&
      s.getLong(3) == 3L && s.getLong(4) == 6L, s"skewed: $s")
    assert(out("sym").getDouble(1) == 3.0 && out("sym").getDouble(2) == 3.0,
      "symmetric 1..5: HL == median == mean == 3")
  }

  test("burstiness: even spread reads 0, one-doc burst reads n-1, partial clump exact") {
    val docs = Seq(
      (1L, "the x x x x"), (2L, "the b b"), (3L, "the b b"), (4L, "the"))
      .toDF("doc_id", "text")
    val out = text.Corpus.burstiness(docs, "doc_id", "text", minDf = 1)
      .collect().map(r => r.getString(0) -> r).toMap
    // "the": [1,1,1,1] -> var 0 -> fano 0 (perfectly even)
    assert(out("the").getDouble(3) == 0.0 && out("the").getLong(1) == 4L)
    // "x": [4,0,0,0] -> mean 1, E[x^2] 4, var 3 -> fano 3
    assert(out("x").getDouble(3) == 3.0 && out("x").getLong(1) == 1L &&
      out("x").getLong(2) == 4L)
    // "b": [0,2,2,0] -> mean 1, E[x^2] 2, var 1 -> fano 1
    assert(out("b").getDouble(3) == 1.0)
    // minDf prunes: df("x") = 1 < 2
    val pruned = text.Corpus.burstiness(docs, "doc_id", "text", minDf = 2)
      .collect().map(_.getString(0)).toSet
    assert(pruned == Set("the", "b"), s"minDf=2 must drop x: $pruned")
  }

  test("heapsLaw: all-new tokens fit beta=1 k=1 exactly; template flood collapses beta to 0") {
    // grow: doc d contributes d tokens, all globally new -> V == n
    val grow = (1 to 6).map(d =>
      ("grow", d.toLong, (1 to d).map(i => s"g${d}_$i").mkString(" ")))
    // tpl: every doc is the same 3 tokens -> V frozen at 3 after doc 1
    val tpl = (1 to 6).map(d => ("tpl", d.toLong, "a b c"))
    val df = (grow ++ tpl).toDF("source", "doc_id", "text")
    val out = text.Corpus.heapsLaw(df, "source", "doc_id", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    val g = out("grow")
    assert(g.getDouble(1) == 1.0 && g.getDouble(2) == 1.0 &&
      g.getDouble(3) == 1.0 && g.getLong(4) == 6L,
      s"V==n: beta 1, k 1, r2 1: $g")
    val t = out("tpl")
    assert(t.getDouble(1) == 0.0 && t.isNullAt(3),
      s"frozen vocabulary: beta 0, r2 NULL (zero y-variance — the case " +
        s"that made corr unusable here): $t")
    assert(math.abs(t.getDouble(2) - 3.0) < 1e-5,
      s"frozen vocab: K ~ the vocabulary size itself: $t")
  }

  test("rfm: aligned deciles give diagonal segments with exact cell averages") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def day(d: Int) = new java.sql.Timestamp(ts0.getTime + d * 86400000L)
    // customer i: i orders, total i*100, last active day i — all three
    // rankings coincide, so segments are the 5 diagonal cells
    val rows = for (i <- 1 to 10; j <- 1 to i)
      yield (i.toLong, day(if (j == i) i else 0), 100.0)
    val out = etl.Features.rfm(rows.toDF("c", "ts", "amt"), col("c"),
      col("ts"), col("amt"))
      .orderBy("r_score").collect()
    assert(out.length == 5, s"diagonal only: ${out.mkString("; ")}")
    for ((r, idx) <- out.zipWithIndex) {
      val k = idx + 1
      assert(r.getInt(0) == k && r.getInt(1) == k && r.getInt(2) == k)
      assert(r.getLong(3) == 2L, s"two customers per quintile: $r")
      // pair (2k-1, 2k): freq avg 2k-0.5, money avg 100*(2k-0.5),
      // recency vs anchor day 10: avg 10-(2k-0.5)
      assert(r.getDouble(5) == 2 * k - 0.5 &&
        r.getDouble(6) == 100.0 * (2 * k - 0.5) &&
        r.getDouble(4) == 10.0 - (2 * k - 0.5), s"cell $k: $r")
    }
  }

  test("qqShift: location shift reads +delta at every decile; one-sided key keeps NULL rows") {
    val ref = (0 to 100).map(i => ("k", i.toDouble, true))
    val cur = (0 to 100).map(i => ("k", i + 10.0, false))
    val lone = (1 to 5).map(i => ("refonly", i.toDouble, true))
    val out = etl.Drift.qqShift((ref ++ cur ++ lone).toDF("k", "v", "r"),
      Seq("k"), "v", col("r"))
      .collect().groupBy(_.getString(0))
    val ks = out("k").sortBy(_.getLong(1))
    assert(ks.length == 9)
    for (r <- ks) {
      val d = r.getLong(1).toDouble
      assert(r.getDouble(2) == d * 10 && r.getDouble(3) == d * 10 + 10 &&
        r.getDouble(4) == 10.0, s"decile ${d.toInt}: $r")
    }
    val lo = out("refonly")
    assert(lo.length == 9 && lo.forall(r =>
      !r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4)),
      s"one-sided: ref quantiles real, cur and shift NULL: ${lo.head}")
  }

  test("contribution: abs-share decomposition survives offsetting segments; ranked by |delta|") {
    val rows =
      (1 to 10).map(_ => ("A", 10.0, true)) ++
        (1 to 16).map(_ => ("A", 10.0, false)) ++
        (1 to 10).map(_ => ("B", 10.0, true)) ++
        (1 to 7).map(_ => ("B", 10.0, false)) ++
        (1 to 5).map(_ => ("C", 10.0, true)) ++
        (1 to 6).map(_ => ("C", 10.0, false))
    val out = etl.Aggregates.contribution(rows.toDF("seg", "v", "r"),
      Seq("seg"), "v", col("r"))
      .collect().map(r => r.getString(0) -> r).toMap
    // deltas: A +60, B -30, C +10; net +40 but total |movement| 100
    assert(out("A").getDouble(3) == 60.0 && out("A").getDouble(4) == 0.6 &&
      out("A").getLong(5) == 1L, s"A drives 60%: ${out("A")}")
    assert(out("B").getDouble(3) == -30.0 && out("B").getDouble(4) == 0.3 &&
      out("B").getLong(5) == 2L, s"B offsets 30%: ${out("B")}")
    assert(out("C").getDouble(3) == 10.0 && out("C").getDouble(4) == 0.1 &&
      out("C").getLong(5) == 3L)
  }

  test("effectSize: textbook pooled d and Hedges g exact; degenerate arms NULL with counts") {
    val good = Seq(("g", 0L, 1.0), ("g", 2L, 2.0), ("g", 4L, 3.0),
      ("g", 1L, 3.0), ("g", 3L, 4.0), ("g", 5L, 5.0))
    val oneArm = Seq(("one", 0L, 1.0), ("one", 2L, 2.0))
    val flat = Seq(("flat", 0L, 2.0), ("flat", 2L, 2.0),
      ("flat", 1L, 2.0), ("flat", 3L, 2.0))
    val df = (good ++ oneArm ++ flat).toDF("k", "u", "v")
    val out = etl.Aggregates.effectSize(df, Seq("k"),
      isA = col("u") % 2 === 0, yCol = col("v"))
      .collect().map(r => r.getString(0) -> r).toMap
    val g = out("g")
    // arms [1,2,3] vs [3,4,5]: means 2/4, both var 1 -> pooled SD 1,
    // d = -2; g = d*(1 - 3/(4*6-9)) = -1.6 exactly
    assert(g.getDouble(5) == -2.0 && g.getDouble(6) == -1.6, s"$g")
    assert(out("one").isNullAt(5) && out("one").getLong(1) == 2L,
      "empty arm: NULL effect, counts visible")
    assert(out("flat").isNullAt(5), "zero pooled variance: NULL not Inf")
  }

  test("jaccardTopK: overlap fraction discriminates where counts tie; maxDeg excludes hub centers") {
    // (1,3),(2,3),(2,4),(2,5): pair (1,2) shares 1 of 3 total contacts
    // (J=1/3); pair (4,5) shares its ONLY contact (J=1) — same raw
    // common-neighbor count, opposite verdicts
    val edges = Seq((1L, 3L), (2L, 3L), (2L, 4L), (2L, 5L))
      .toDF("src", "dst")
    val out = operators.LinkPrediction.jaccardTopK(edges, "src", "dst",
      k = 5, maxDeg = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(math.abs(out((1L, 2L)).getDouble(3) - 1.0 / 3) < 1e-6)
    assert(out((4L, 5L)).getDouble(3) == 1.0 &&
      out((4L, 5L)).getLong(2) == 1L)
    // u=4's ranking: the full-overlap 5 before the half-overlap 3
    val u4 = operators.LinkPrediction.jaccardTopK(edges, "src", "dst",
      k = 5, maxDeg = 100).filter(col("u") === 4)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(u4 == Seq(5L, 3L), s"u=4 ranks by fraction: $u4")
    // center 2 (deg 3) excluded at maxDeg=2: (4,5) vanishes, (1,2)
    // survives via center 3 (deg 2)
    val capped = operators.LinkPrediction.jaccardTopK(edges, "src", "dst",
      k = 5, maxDeg = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((1L, 2L)) && !capped.contains((4L, 5L)),
      s"hub-center wedges must not enumerate: $capped")
  }

  test("abcClasses: textbook 80/15/5 splits A/B/C; zero-total key NULL class") {
    val items = Seq(("k", 1L, 80.0), ("k", 2L, 15.0)) ++
      (3 to 7).map(i => ("k", i.toLong, 1.0)) ++
      Seq(("z", 1L, 0.0), ("z", 2L, 0.0))
    val byCls = etl.Aggregates.abcClasses(items.toDF("k", "id", "v"),
      Seq("k"), col("id"), "v").collect()
      .map(r => (r.getString(0), Option(r.getString(1)).getOrElse("null")) -> r)
      .toMap
    assert(byCls(("k", "A")).getLong(2) == 1L &&
      byCls(("k", "A")).getDouble(3) == 80.0 &&
      byCls(("k", "A")).getDouble(4) == 0.8)
    assert(byCls(("k", "B")).getLong(2) == 1L &&
      byCls(("k", "B")).getDouble(3) == 15.0)
    assert(byCls(("k", "C")).getLong(2) == 5L &&
      byCls(("k", "C")).getDouble(3) == 5.0)
    assert(byCls(("z", "null")).getLong(2) == 2L &&
      byCls(("z", "null")).isNullAt(4),
      "no mass to classify: NULL class visible, not dropped")
  }

  test("interArrival: clockwork reads B=-1, planted bursts positive, single gap NULL spread") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts0.getTime + s * 1000L)
    val clock = (0 until 10).map(i => ("clock", i.toLong, at(i * 10L)))
    // gaps [1,1,1,97]: mean 25, sd 48 -> cv 1.92, B = 23/73
    val burst = Seq(0L, 1L, 2L, 3L, 100L).zipWithIndex.map {
      case (s, i) => ("burst", i.toLong, at(s)) }
    val lone = Seq(("lone", 0L, at(0)), ("lone", 1L, at(5)))
    val df = (clock ++ burst ++ lone).toDF("k", "id", "ts")
    val out = etl.Aggregates.interArrival(df, Seq("k"), col("ts"),
      col("id")).collect().map(r => r.getString(0) -> r).toMap
    val c = out("clock")
    assert(c.getDouble(3) == 10.0 && c.getDouble(4) == 0.0 &&
      c.getDouble(5) == -1.0, s"metronome: cv 0, B -1: $c")
    val b = out("burst")
    assert(b.getDouble(3) == 25.0 &&
      math.abs(b.getDouble(4) - 48.0 / 25) < 1e-6 &&
      math.abs(b.getDouble(5) - 23.0 / 73) < 1e-6, s"bursty: $b")
    assert(out("lone").getLong(2) == 1L && out("lone").isNullAt(4),
      "one gap: mean real, spread NULL")
  }

  test("quantileCi: textbook ranks on 1..100; tiny key clamps to [1, n]") {
    val df = ((1 to 100).map(i => ("k", i.toDouble)) ++
      Seq(("tiny", 3.0), ("tiny", 7.0))).toDF("k", "v")
    val out = etl.Aggregates.quantileCi(df, Seq("k"), "v", p = 0.5)
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    // n=100: spread = 1.96*sqrt(25) = 9.8 -> ranks ceil(40.2)=41,
    // ceil(59.8)=60; point = interpolated median 50.5
    assert(k.getDouble(1) == 50.5 && k.getDouble(2) == 41.0 &&
      k.getDouble(3) == 60.0 && k.getLong(4) == 41L &&
      k.getLong(5) == 60L, s"$k")
    val t = out("tiny")
    assert(t.getLong(4) == 1L && t.getLong(5) == 2L &&
      t.getDouble(2) == 3.0 && t.getDouble(3) == 7.0,
      s"degenerate-but-visible CI spans the data: $t")
  }

  test("brierDecomposition: perfect forecaster 0, base-rate forecaster REL 0 RES 0, Murphy identity holds") {
    val perfect = (1 to 40).map(i => ("perf", if (i % 4 == 0) 1.0 else 0.0,
      i % 4 == 0))
    // always predicts the base rate 0.25: calibrated (REL 0) and
    // useless (RES 0) — brier == uncertainty
    val base = (1 to 40).map(i => ("base", 0.25, i % 4 == 0))
    val messy = (1 to 60).map(i =>
      ("messy", (i % 7).toDouble / 7, i % 3 == 0))
    val df = (perfect ++ base ++ messy).toDF("k", "s", "y")
    val out = etl.MlEval.brierDecomposition(df, Seq("k"), col("s"),
      col("y")).collect().map(r => r.getString(0) -> r).toMap
    val p = out("perf")
    assert(p.getDouble(1) == 0.0 && p.getDouble(2) == 0.0,
      s"perfect: brier 0, rel 0: $p")
    val b = out("base")
    assert(b.getDouble(2) == 0.0 && b.getDouble(3) == 0.0 &&
      b.getDouble(1) == b.getDouble(4),
      s"calibrated-and-useless: REL 0, RES 0, brier == UNC: $b")
    val m = out("messy")
    assert(math.abs(m.getDouble(1) -
      (m.getDouble(2) - m.getDouble(3) + m.getDouble(4))) <= 2e-6,
      s"Murphy identity REL - RES + UNC == brier: $m")
  }

  test("seasonalStrength: planted daily cycle reads ~1, pseudo-noise low, constant key NULL") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(h: Int) = new java.sql.Timestamp(ts0.getTime + h * 3600000L)
    val seas = (0 until 240).map(h =>
      ("seas", h.toLong, at(h), math.sin(2 * math.Pi * (h % 24) / 24) * 10))
    val rand = (0 until 240).map(h =>
      ("rand", h.toLong, at(h), ((h * 2654435761L) % 1000) / 100.0))
    val flat = (0 until 48).map(h => ("flat", h.toLong, at(h), 5.0))
    val df = (seas ++ rand ++ flat).toDF("k", "id", "ts", "v")
    val out = etl.Aggregates.seasonalStrength(df, "k", "ts", "id", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("seas").getDouble(1) > 0.8,
      s"pure daily cycle: seasonal strength ~1: ${out("seas")}")
    assert(out("rand").getDouble(1) < out("seas").getDouble(1) - 0.3,
      s"noise must read far below the cycle: ${out("rand")}")
    assert(out("flat").isNullAt(1) && out("flat").isNullAt(2),
      "no variance to explain: NULL, visible")
  }

  test("concurrency: sweep-line hand case exact; end-meets-start does not overlap; zero-length invisible") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Int) = new java.sql.Timestamp(ts0.getTime + s * 1000L)
    val iv = Seq((at(0), at(10)), (at(5), at(15)), (at(20), at(30)))
      .toDF("st", "en")
    val r = operators.Intervals.concurrency(iv, Nil, "st", "en")
      .collect().head
    assert(r.getLong(0) == 2L, s"peak 2 during [5,10): $r")
    assert(r.getDouble(1) == 1.0, s"time-weighted avg (5*1+5*2+5*1+5*0+10*1)/30: $r")
    assert(r.getLong(2) == 3L &&
      r.getTimestamp(3).getTime == at(5).getTime, s"peak first at t=5: $r")
    // half-open: [0,10] and [10,20] never overlap
    val touch = Seq((at(0), at(10)), (at(10), at(20))).toDF("st", "en")
    assert(operators.Intervals.concurrency(touch, Nil, "st", "en")
      .collect().head.getLong(0) == 1L, "end-meets-start must read 1")
    // a zero-length interval adds nothing
    val zero = Seq((at(0), at(10)), (at(5), at(5))).toDF("st", "en")
    assert(operators.Intervals.concurrency(zero, Nil, "st", "en")
      .collect().head.getLong(0) == 1L, "empty [5,5) is invisible")
  }

  test("ols2: exact plane recovered to the bit; collinear regressors NULL") {
    val pts = for (i <- 0 to 3; j <- Seq(0.0, 2.0))
      yield ("k", i.toDouble, j, 2.0 + 3.0 * i - 1.5 * j)
    val out = etl.Aggregates.ols2(pts.toDF("k", "x1", "x2", "y"),
      Seq("k"), col("x1"), col("x2"), col("y")).collect().head
    assert(out.getDouble(1) == 3.0 && out.getDouble(2) == -1.5 &&
      out.getDouble(3) == 2.0 && out.getDouble(4) == 1.0,
      s"y = 2 + 3*x1 - 1.5*x2 on a power-of-two grid is exact: $out")
    val col2 = pts.map { case (k, x1, _, y) => (k, x1, 2 * x1, y) }
    val c = etl.Aggregates.ols2(col2.toDF("k", "x1", "x2", "y"),
      Seq("k"), col("x1"), col("x2"), col("y")).collect().head
    assert(c.isNullAt(1) && c.isNullAt(2) && c.isNullAt(4),
      s"x2 = 2*x1: same signal, NULL not a blowup: $c")
  }

  test("freqSpectrum: hand counts exact, shares sum to 1") {
    val docs = Seq(("a a b"), ("a c")).toDF("text")
    val out = text.Corpus.freqSpectrum(docs, "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 2L &&
      out(1L).getDouble(2) == 0.4 &&
      math.abs(out(1L).getDouble(3) - 2.0 / 3) < 1e-6, s"${out(1L)}")
    assert(out(3L).getLong(1) == 1L && out(3L).getDouble(2) == 0.6,
      s"${out(3L)}")
    assert(math.abs(out.values.map(_.getDouble(2)).sum - 1.0) < 1e-9,
      "mass shares partition the corpus")
  }

  test("fkAudit: orphans vs null FKs counted separately; clean relation reads 0") {
    val child = Seq(Some(1L), Some(1L), Some(2L), Some(9L), None)
      .toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val clean = Seq(Some(3L), Some(3L)).toDF("fk")
    val out = etl.Rules.fkAudit(Seq(
      ("dirty", child, col("fk"), parent, col("pk")),
      ("clean", clean, col("fk"), parent, col("pk"))))
      .collect().map(r => r.getString(0) -> r).toMap
    val d = out("dirty")
    assert(d.getLong(1) == 4L && d.getLong(2) == 1L &&
      d.getLong(3) == 1L && d.getDouble(4) == 0.25,
      s"4 non-null children, 1 null FK, 1 broken pointer (9): $d")
    val c = out("clean")
    assert(c.getLong(3) == 0L && c.getDouble(4) == 0.0, s"$c")
  }

  test("levene: hand-exact two-group F; zero-deviation-variance key NULL with counts") {
    val a = Seq(0.0, 1.0, 2.0, 3.0, 4.0).map(("k", true, _))
    val b = Seq(0.0, 5.0, 10.0, 15.0, 20.0).map(("k", false, _))
    // degenerate: both groups symmetric two-value -> all |dev| equal,
    // within-variance 0
    val d = Seq(("d", true, -1.0), ("d", true, 1.0),
      ("d", false, -3.0), ("d", false, 3.0))
    val df = (a ++ b ++ d).toDF("k", "arm", "v")
    val out = etl.Aggregates.levene(df, Seq("k"), col("arm"), col("v"))
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    // za=[2,1,0,1,2] zb=[10,5,0,5,10]: F = 8*57.6/72.8
    assert(k.getDouble(3) == 1.2 && k.getDouble(4) == 6.0 &&
      math.abs(k.getDouble(5) - 8 * 57.6 / 72.8) < 1e-5, s"$k")
    assert(out("d").isNullAt(5) && out("d").getLong(1) == 2L,
      s"no deviation variance: NULL F, counts visible: ${out("d")}")
  }

  test("rateMix: identity closes exactly; same-rate segments put everything in mix; new segment pure mix") {
    val rows =
      (1 to 10).map(_ => ("A", 10.0, true)) ++
        (1 to 30).map(_ => ("A", 10.0, false)) ++
        (1 to 30).map(_ => ("B", 50.0, true)) ++
        (1 to 10).map(_ => ("B", 50.0, false)) ++
        (1 to 10).map(_ => ("C", 20.0, false)) // absent in ref
    val df = rows.toDF("seg", "v", "r")
    val out = etl.Aggregates.rateMix(df, Seq("seg"), "v", col("r"))
      .collect().map(x => x.getString(0) -> x).toMap
    // per-segment rates never change -> rate effects all exactly 0
    for ((s0, r) <- out)
      assert(r.getDouble(5) == 0.0, s"same rates: rate_effect 0 for $s0: $r")
    // identity: sum of effects == overall_cur - overall_ref
    val overallRef = (10 * 10.0 + 30 * 50.0) / 40
    val overallCur = (30 * 10.0 + 10 * 50.0 + 10 * 20.0) / 50
    val total = out.values.map(r => r.getDouble(5) + r.getDouble(6)).sum
    assert(math.abs(total - (overallCur - overallRef)) < 1e-6,
      s"decomposition must close: $total vs ${overallCur - overallRef}")
    assert(out("C").getDouble(1) == 0.0 && out("C").getDouble(3) == 20.0,
      s"new segment: ref share 0, rate borrowed from cur: ${out("C")}")
  }

  test("embeddingCensus: hand norms, zero vector counted and excluded from cosine, adjacent pairing") {
    val vecs = Seq(
      (0L, Array(3f, 4f)), (1L, Array(6f, 8f)),
      (2L, Array(0f, 0f)), (3L, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    val r = sim.Similarity.embeddingCensus(vecs, "vec_id", "embedding")
      .collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L && r.getLong(2) == 2L)
    assert(r.getDouble(3) == 4.0, s"mean norm (5+10+0+1)/4: $r")
    assert(math.abs(r.getDouble(4) - math.sqrt(62.0 / 3)) < 1e-5)
    assert(r.getLong(5) == 1L, s"zero vector counted: $r")
    // pairs (0,1) cos 1; (1,2),(2,3) involve the zero vector -> excluded
    assert(r.getDouble(6) == 1.0 && r.getLong(7) == 1L, s"$r")
  }

  test("pageHinkley: upward step alarms upper side only, downward the lower, flat neither") {
    def series(k: String, post: Double) =
      (0 until 30).map(i => (k, i.toLong, 0.0)) ++
        (30 until 60).map(i => (k, i.toLong, post))
    val df = (series("up", 20.0) ++ series("down", -20.0) ++
      (0 until 60).map(i => ("flat", i.toLong, 5.0))).toDF("k", "o", "v")
    val out = etl.Drift.pageHinkley(df, Seq("k"), "v", col("o"), col("o"),
      delta = 1.0, lambda = 50.0)
      .collect().map(r => r.getString(0) -> r).toMap
    val up = out("up")
    assert(up.getLong(1) > 0 && up.getLong(4) == 0L,
      s"+20 step: upper alarms, lower quiet: $up")
    val dn = out("down")
    assert(dn.getLong(1) == 0L && dn.getLong(4) > 0,
      s"-20 step: lower alarms, upper quiet: $dn")
    assert(out("flat").getLong(1) == 0L && out("flat").getLong(4) == 0L &&
      out("flat").getDouble(3) == 0.0,
      s"constant series: PH identically 0: ${out("flat")}")
  }

  test("degreeCensus: star graph hand-exact including the CSN alpha") {
    val star = (1 to 5).map(i => (0L, i.toLong)).toDF("src", "dst")
    val r = operators.Triangles.degreeCensus(star, "src", "dst")
      .collect().head
    assert(r.getLong(0) == 6L && r.getLong(1) == 5L &&
      r.getLong(2) == 1L && r.getLong(3) == 5L)
    assert(math.abs(r.getDouble(4) - 10.0 / 6) < 1e-6)
    val alpha = 1.0 + 6.0 / (math.log(10.0) + 5 * math.log(2.0))
    assert(math.abs(r.getDouble(5) - alpha) < 1e-5, s"alpha: $r")
    assert(r.getDouble(6) == 0.5, s"hub holds half the endpoints: $r")
  }

  test("cohenKappa: textbook 0.4, crossed labels -1 (the missing-diagonal case), unfalsifiable NULL") {
    val textbook =
      (1 to 20).map(_ => ("t", "y", "y")) ++ (1 to 5).map(_ => ("t", "y", "n")) ++
        (1 to 10).map(_ => ("t", "n", "y")) ++ (1 to 15).map(_ => ("t", "n", "n"))
    // raters NEVER use the same label for the same row AND no (l,l)
    // cell exists — a cell-local p_e fold would read 0 here
    val crossed = Seq(("x", "a", "b"), ("x", "b", "a"))
    val const = Seq(("c", "s", "s"), ("c", "s", "s"))
    val df = (textbook ++ crossed ++ const).toDF("k", "ra", "rb")
    val out = etl.MlEval.cohenKappa(df, Seq("k"), col("ra"), col("rb"))
      .collect().map(r => r.getString(0) -> r).toMap
    val t = out("t")
    assert(t.getDouble(1) == 0.7 && t.getDouble(2) == 0.5 &&
      t.getDouble(3) == 0.4, s"Cohen's worked example: $t")
    assert(out("x").getDouble(3) == -1.0,
      s"perfect disagreement with shared label SET: kappa -1: ${out("x")}")
    assert(out("c").isNullAt(3) && out("c").getDouble(1) == 1.0,
      s"constant identical raters: p_e = 1, kappa unfalsifiable: ${out("c")}")
  }

  test("audienceOverlap: hand Jaccard/lift; zero-overlap pair absent by contract") {
    val rows = Seq((1L, "A"), (2L, "A"), (3L, "A"), (2L, "B"), (3L, "B"),
      (4L, "B"), (1L, "C"), (2L, "A")) // dup membership dedupes
    val out = etl.Aggregates.audienceOverlap(rows.toDF("u", "c"),
      col("u"), col("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ab = out(("A", "B"))
    assert(ab.getLong(4) == 2L && ab.getLong(5) == 4L &&
      ab.getDouble(6) == 0.5 &&
      math.abs(ab.getDouble(7) - 8.0 / 9) < 1e-6, s"$ab")
    val ac = out(("A", "C"))
    assert(math.abs(ac.getDouble(6) - 1.0 / 3) < 1e-6 &&
      math.abs(ac.getDouble(7) - 4.0 / 3) < 1e-6, s"$ac")
    assert(!out.contains(("B", "C")),
      "B and C share nobody: the pair must be absent, not zero")
  }

  test("propTest: hand z and CI; empty arm NULL with counts") {
    val a = (1 to 10).map(i => ("k", 0L, i <= 5))
    val b = (1 to 10).map(i => ("k", 1L, i <= 2))
    val lone = (1 to 4).map(i => ("lone", 0L, i <= 2))
    val df = (a ++ b ++ lone).toDF("k", "arm", "hit")
    val out = etl.Aggregates.propTest(df, Seq("k"),
      isA = col("arm") === 0, isSuccess = col("hit"))
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    val (p1, p2, pp) = (0.5, 0.2, 0.35)
    val z = (p1 - p2) / math.sqrt(pp * (1 - pp) * (1.0 / 10 + 1.0 / 10))
    val se = math.sqrt(p1 * 0.5 / 10 + p2 * 0.8 / 10)
    assert(k.getDouble(5) == 0.5 && k.getDouble(6) == 0.2)
    assert(math.abs(k.getDouble(7) - z) < 1e-6, s"$k")
    assert(math.abs(k.getDouble(8) - (0.3 - 1.96 * se)) < 1e-6 &&
      math.abs(k.getDouble(9) - (0.3 + 1.96 * se)) < 1e-6, s"$k")
    assert(out("lone").isNullAt(7) && out("lone").getLong(1) == 4L,
      s"one-arm key: NULL z, counts visible: ${out("lone")}")
  }

  test("weightedQuantile: mass sits where the weight says, not where the rows do") {
    val df = Seq(("k", 1.0, 1.0), ("k", 2.0, 1.0), ("k", 3.0, 1.0),
      ("k", 4.0, 7.0), ("k", 9.0, 0.0)).toDF("k", "v", "w")
    def q(p: Double) = etl.Aggregates.weightedQuantile(df, Seq("k"),
      "v", "w", p).collect().head.getDouble(1)
    assert(q(0.5) == 4.0, "half the 10kg of mass sits on v=4")
    assert(q(0.3) == 3.0, "30% threshold lands at v=3")
    assert(etl.Aggregates.weightedQuantile(df, Seq("k"), "v", "w", 0.5)
      .collect().head.getDouble(2) == 10.0, "zero-weight row excluded")
  }

  test("kmSummary: textbook staircase integral, median crossing, not-reached NULL") {
    val full = (1 to 4).map(d => ("full", d.toLong, true))
    val alive = (1 to 4).map(d => ("alive", d.toLong, false))
    val df = (full ++ alive).toDF("k", "dur", "obs")
    val out = etl.Aggregates.kmSummary(df, Seq("k"), "dur", col("obs"))
      .collect().map(r => r.getString(0) -> r).toMap
    val f = out("full")
    assert(f.getLong(1) == 2L, s"S first <= 0.5 at t=2: $f")
    assert(f.getDouble(2) == 2.5,
      s"integral 1*1 + .75 + .5 + .25 + 0*0 = 2.5: $f")
    assert(f.getDouble(4) == 0.0 && f.getLong(5) == 4L)
    val a = out("alive")
    assert(a.isNullAt(1) && a.getDouble(4) == 1.0,
      s"all censored: median NOT REACHED (NULL), curve stays at 1: $a")
  }

  test("modeValue: lexicographic tiebreak, share and distinct counts exact") {
    val rows = Seq("b", "b", "b", "a", "a", "a", "c").map(("k", _))
    val r = etl.Aggregates.modeValue(rows.toDF("k", "v"), Seq("k"), "v")
      .collect().head
    assert(r.getString(1) == "a" && r.getLong(2) == 3L &&
      r.getLong(3) == 3L && math.abs(r.getDouble(4) - 3.0 / 7) < 1e-6,
      s"tie a/b at 3: value-asc tiebreak picks a deterministically: $r")
  }

  test("hll sketches: merged dailies track the direct sketch; estimate near exact") {
    val rows = (1 to 2000).map(i => ("a", i % 7, i.toLong))
    val df = rows.toDF("g", "day", "id")
    val dailies = etl.Aggregates.distinctSketchKeyed(df, Seq("g", "day"), "id")
    val merged = etl.Aggregates.sketchRollup(dailies, Seq("g"))
      .collect().head.getLong(1)
    val direct = etl.Aggregates.distinctSketch(df, "g", "id")
      .select(expr("hll_sketch_estimate(sketch)")).collect().head.getLong(0)
    // NOT register-identical: a union promotes sparse partials to dense
    // HLL mode on a different schedule than one big aggregation
    // (measured 1998 vs 1991 at n=2000) — mergeability is statistical,
    // within the sketch's error band, which is what q138's verdict gates
    assert(math.abs(merged - direct).toDouble / direct < 0.01,
      s"merged=$merged direct=$direct")
    assert(math.abs(merged - 2000.0) / 2000.0 < 0.05, s"estimate=$merged")
  }

  test("anovaF: hand F and eta^2; one-level and zero-variance keys NULL F") {
    val two = Seq(("k", 0L, 1.0), ("k", 0L, 2.0), ("k", 0L, 3.0),
      ("k", 1L, 4.0), ("k", 1L, 5.0), ("k", 1L, 6.0))
    val one = Seq(("mono", 0L, 1.0), ("mono", 0L, 2.0))
    val flat = Seq(("flat", 0L, 5.0), ("flat", 1L, 5.0),
      ("flat", 0L, 5.0), ("flat", 1L, 5.0))
    val df = (two ++ one ++ flat).toDF("k", "lvl", "y")
    val out = etl.Aggregates.anovaF(df, Seq("k"), col("lvl"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    // SSB = 3(2-3.5)^2 + 3(5-3.5)^2 = 13.5, SSW = 4, F = 13.5/(4/4)
    assert(k.getLong(1) == 2L && k.getLong(2) == 6L &&
      k.getLong(3) == 1L && k.getLong(4) == 4L, s"$k")
    assert(math.abs(k.getDouble(5) - 13.5) < 1e-6, s"$k")
    assert(math.abs(k.getDouble(6) - 13.5 / 17.5) < 1e-6, s"$k")
    assert(out("mono").isNullAt(5), "one level: no between-variance")
    assert(out("flat").isNullAt(5) && out("flat").isNullAt(6),
      "zero within-variance AND zero total: both NULL")
  }

  test("mcnemar: discordant cells only; unpaired subject excluded; concordant key NULL") {
    // phase 0 = first, 1 = second; hit as boolean
    def subj(s: Long, first: Boolean, second: Boolean) =
      Seq(("k", s, 0L, first), ("k", s, 1L, second))
    val rows = subj(1, true, false) ++ subj(2, true, false) ++
      subj(3, true, false) ++ subj(4, false, true) ++
      subj(5, true, true) ++ subj(6, false, false) ++
      Seq(("k", 7L, 0L, true)) ++ // present only in the first phase → no pair
      (subj(8, true, true) ++ subj(9, false, false))
        .map { case (_, s, p, h) => ("conc", s, p, h) }
    val out = etl.Aggregates.mcnemar(rows.toDF("k", "s", "phase", "hit"),
        Seq("k"), col("s"), inFirst = col("phase") === 0L,
        isHit = col("hit"))
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getLong(1) == 7L && k.getLong(2) == 6L, s"$k")
    assert(k.getLong(3) == 1L && k.getLong(4) == 1L &&
      k.getLong(5) == 3L && k.getLong(6) == 1L, s"$k")
    assert(math.abs(k.getDouble(7) - 1.0) < 1e-9, s"chi2 (3-1)^2/4: $k")
    assert(math.abs(k.getDouble(8) - 0.25) < 1e-9, s"cc (2-1)^2/4: $k")
    assert(out("conc").isNullAt(7) && out("conc").getLong(2) == 2L,
      s"no discordance: NULL chi2, pairs visible: ${out("conc")}")
  }

  test("cuped: theta from pooled moments, adjusted diff, rho^2 reduction; constant covariate NULL") {
    // arm A: y = x + 1, arm B: y = x → theta = 1, raw diff = adj diff = 1
    val a = Seq(1.0, 2.0, 3.0).map(x => ("k", 0L, x, x + 1))
    val b = Seq(1.0, 2.0, 3.0).map(x => ("k", 1L, x, x))
    val flat = Seq(("c", 0L, 5.0, 1.0), ("c", 0L, 5.0, 2.0),
      ("c", 1L, 5.0, 3.0))
    val out = etl.Aggregates.cuped((a ++ b ++ flat).toDF("k", "arm", "x", "y"),
        Seq("k"), isA = col("arm") === 0L, yCol = col("y"), xCol = col("x"))
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getLong(1) == 3L && k.getLong(2) == 3L, s"$k")
    assert(math.abs(k.getDouble(3) - 1.0) < 1e-6, s"theta cov/var = 0.8/0.8: $k")
    assert(math.abs(k.getDouble(4) - 1.0) < 1e-6 &&
      math.abs(k.getDouble(5) - 1.0) < 1e-6,
      s"balanced covariate: adjustment changes nothing: $k")
    assert(math.abs(k.getDouble(6) - 0.64 / 0.88) < 1e-6,
      s"rho^2 = cov^2/(vx*vy): $k")
    assert(out("c").isNullAt(3) && out("c").isNullAt(5),
      s"constant covariate: nothing to regress out: ${out("c")}")
  }

  test("powerMde: closed-form MDE and required n; degenerate arm NULL") {
    val k = Seq(("k", 0L, 0.0), ("k", 0L, 2.0), ("k", 1L, 0.0),
      ("k", 1L, 2.0))
    val lone = Seq(("lone", 0L, 1.0), ("lone", 0L, 2.0))
    val out = etl.Aggregates.powerMde((k ++ lone).toDF("k", "arm", "y"),
        Seq("k"), isA = col("arm") === 0L, yCol = col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    val r = out("k")
    val z = 2.801586
    val s2 = 4.0 / 3
    val mde = z * math.sqrt(s2 * (1.0 / 2 + 1.0 / 2))
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(math.abs(r.getDouble(5) - mde) < 1e-5, s"$r")
    assert(math.abs(r.getDouble(6) - mde) < 1e-5, "mean = 1: rel == abs")
    val nReq = math.ceil(r6(2.0 * s2 * z * z / (0.05 * 0.05))).toLong
    assert(r.getLong(7) == nReq, s"expected $nReq: $r")
    assert(out("lone").isNullAt(5) && out("lone").getLong(1) == 2L,
      s"empty B arm: NULL MDE, counts visible: ${out("lone")}")
  }

  test("ratioMetricCi: exact-ratio key has zero se; hand delta-method se; single unit NULL") {
    val exact = Seq(("e", 2.0, 1L), ("e", 4.0, 2L), ("e", 6.0, 3L))
    val varied = Seq(("v", 1.0, 1L), ("v", 3.0, 1L))
    val lone = Seq(("l", 5.0, 2L))
    val out = etl.Aggregates.ratioMetricCi(
        (exact ++ varied ++ lone).toDF("k", "y", "x"), Seq("k"),
        numCol = col("y"), denCol = col("x"))
      .collect().map(r => r.getString(0) -> r).toMap
    val e = out("e")
    assert(e.getDouble(4) == 2.0 && e.getDouble(5) == 0.0 &&
      e.getDouble(6) == 2.0 && e.getDouble(7) == 2.0,
      s"y = 2x exactly: ratio 2, zero variance: $e")
    val v = out("v")
    // vy = 2, vx = 0, cov = 0, n = 2, mx = 1 → se = sqrt(2/2)/1 = 1
    assert(v.getDouble(4) == 2.0 && math.abs(v.getDouble(5) - 1.0) < 1e-9,
      s"$v")
    assert(math.abs(v.getDouble(6) - (2.0 - 1.96)) < 1e-9 &&
      math.abs(v.getDouble(7) - (2.0 + 1.96)) < 1e-9, s"$v")
    assert(out("l").isNullAt(5) && out("l").getDouble(4) == 2.5,
      s"single unit: ratio visible, no CI: ${out("l")}")
  }

  test("logRank: identical curves z=0; separated curves hand chi2; one-arm key NULL") {
    val same = Seq(("same", true, 1L, true), ("same", true, 2L, true),
      ("same", false, 1L, true), ("same", false, 2L, true))
    // A both die at t=1; B both censored at t=2 → O−E = 1, V = 1/3
    val sep = Seq(("sep", true, 1L, true), ("sep", true, 1L, true),
      ("sep", false, 2L, false), ("sep", false, 2L, false))
    val solo = Seq(("solo", true, 1L, true))
    val out = etl.Aggregates.logRank(
        (same ++ sep ++ solo).toDF("k", "ga", "dur", "obs"), Seq("k"),
        "dur", col("obs"), isGroupA = col("ga"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("same").getDouble(6) == 0.0 &&
      out("same").getDouble(7) == 0.0, s"${out("same")}")
    val s = out("sep")
    assert(s.getLong(1) == 2L && s.getLong(2) == 2L &&
      s.getLong(3) == 2L && s.getLong(4) == 0L, s"$s")
    assert(math.abs(s.getDouble(5) - 1.0) < 1e-9, s"E_a = 2*2/4: $s")
    assert(math.abs(s.getDouble(6) - math.sqrt(3.0)) < 1e-5 &&
      math.abs(s.getDouble(7) - 3.0) < 1e-5, s"$s")
    assert(out("solo").isNullAt(6) && out("solo").getLong(2) == 0L,
      s"one-arm key: zero variance, NULL z: ${out("solo")}")
  }

  test("bartlett: equal variances T=0, hand unequal case, single-obs cell NULL") {
    val eq = Seq(("eq", 0L, 1.0), ("eq", 0L, 3.0), ("eq", 1L, 5.0),
      ("eq", 1L, 7.0))
    val ne = Seq(("ne", 0L, 0.0), ("ne", 0L, 2.0), ("ne", 1L, 0.0),
      ("ne", 1L, 6.0))
    val deg = Seq(("deg", 0L, 1.0), ("deg", 0L, 2.0), ("deg", 1L, 9.0))
    val out = etl.Aggregates.bartlett((eq ++ ne ++ deg).toDF("k", "lvl", "y"),
        Seq("k"), col("lvl"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    val e = out("eq")
    assert(e.getLong(1) == 2L && e.getDouble(4) == 2.0 &&
      e.getDouble(5) == 0.0, s"equal variances: T exactly 0: $e")
    val n = out("ne")
    val t = (2.0 * math.log(10.0) - (math.log(2.0) + math.log(18.0))) /
      (1.0 + (2.0 - 0.5) / 3.0)
    assert(math.abs(n.getDouble(5) - t) < 1e-5, s"expected $t: $n")
    assert(out("deg").isNullAt(5) && out("deg").getLong(2) == 3L,
      s"single-obs cell: NULL T, counts visible: ${out("deg")}")
  }

  test("xbarChart: pooled limits, rule-1 excursions both sides, rule-4 run of 8") {
    val sub = Seq(1 -> 1.0, 2 -> 5.0, 3 -> 3.0, 4 -> 11.0).flatMap {
      case (b, m) => Seq(("k", b.toLong, m - 1), ("k", b.toLong, m + 1))
    }
    // 2 buckets far below, then 8 consecutive above the grand mean of 0
    val run = (1 to 2).flatMap(b =>
      Seq(("run", b.toLong, -11.0), ("run", b.toLong, -9.0))) ++
      (3 to 10).flatMap(b =>
        Seq(("run", b.toLong, 1.5), ("run", b.toLong, 3.5)))
    val out = etl.Drift.xbarChart((sub ++ run).toDF("k", "b", "v"),
        Seq("k"), bucketCol = col("b"), valueCol = "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    val b1 = out(("k", 1L))
    assert(b1.getDouble(4) == 5.0 && b1.getDouble(5) == 8.0 &&
      b1.getDouble(6) == 2.0, s"grand 5, pooled var 2, n 2 → 5±3: $b1")
    assert(b1.getLong(7) == 1L, s"xbar 1 < lcl 2: $b1")
    assert(out(("k", 4L)).getLong(7) == 1L, "xbar 11 > ucl 8")
    assert(out(("k", 2L)).getLong(7) == 0L && out(("k", 3L)).getLong(7) == 0L)
    assert(out(("run", 10L)).getLong(8) == 1L,
      s"8th consecutive above-center bucket flags: ${out(("run", 10L))}")
    assert(out(("run", 9L)).getLong(8) == 0L,
      "frame still contains a below-center bucket")
  }

  test("tukeyPairs: hand q against pooled MSW; zero-MSW key NULL q") {
    val df = Seq(("k", 0L, 1.0), ("k", 0L, 3.0), ("k", 1L, 5.0),
      ("k", 1L, 7.0), ("z", 0L, 5.0), ("z", 0L, 5.0), ("z", 1L, 7.0),
      ("z", 1L, 7.0)).toDF("k", "lvl", "y")
    val out = etl.Aggregates.tukeyPairs(df, Seq("k"), col("lvl"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    // MSW = (2+2)/2 = 2 → se = sqrt(2/2 * (1/2+1/2)) = 1, q = 4
    assert(k.getLong(1) == 0L && k.getLong(2) == 1L &&
      k.getDouble(5) == -4.0, s"$k")
    assert(math.abs(k.getDouble(6) - 4.0) < 1e-9, s"$k")
    assert(out("z").isNullAt(6) && out("z").getDouble(5) == -2.0,
      s"zero within-variance: NULL q, diff visible: ${out("z")}")
  }

  test("windowFunnel: chain must fit the window; later view rescues the chain") {
    val rows = Seq(
      // u1: clean chain, span 20 ≤ 100
      (1L, "view", 0L), (1L, "click", 10L), (1L, "purchase", 20L),
      // u2: click 200s after view — chain broken at step 2
      (2L, "view", 0L), (2L, "click", 200L), (2L, "purchase", 210L),
      // u3: no view at all
      (3L, "click", 0L), (3L, "purchase", 5L),
      // u4: view→click fine, purchase stretches the SPAN past 100
      (4L, "view", 0L), (4L, "click", 50L), (4L, "purchase", 140L),
      // u5: the LATER view restarts a chain that fits
      (5L, "view", 0L), (5L, "click", 90L), (5L, "view", 100L),
      (5L, "click", 110L), (5L, "purchase", 150L))
      .zipWithIndex.map { case ((u, t, sec), i) => (u, t, sec, i.toLong) }
    val df = rows.toDF("u", "typ", "sec", "id")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = operators.Sequences.windowFunnel(df, "u", col("ts"),
        col("id"), col("typ"), Seq("view", "click", "purchase"),
        windowMicros = 100L * 1000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(3L -> 2L, 2L -> 1L, 1L -> 1L, 0L -> 1L),
      s"u1+u5 full, u4 depth 2, u2 depth 1, u3 depth 0: $out")
  }

  test("lMoments: uniform sample symmetric, point-mass-with-outlier maximally skewed") {
    val sym = Seq(1.0, 2.0, 3.0, 4.0).zipWithIndex.map {
      case (v, i) => ("sym", v, i.toLong) }
    val skw = Seq(0.0, 0.0, 0.0, 4.0).zipWithIndex.map {
      case (v, i) => ("skw", v, i.toLong) }
    val tiny = Seq(1.0, 2.0, 3.0).zipWithIndex.map {
      case (v, i) => ("tiny", v, i.toLong) }
    val out = etl.Aggregates.lMoments(
        (sym ++ skw ++ tiny).toDF("k", "v", "id"), Seq("k"), "v",
        tieCol = col("id"))
      .collect().map(r => r.getString(0) -> r).toMap
    val s = out("sym")
    assert(s.getDouble(2) == 2.5 && math.abs(s.getDouble(3) - 5.0 / 6) < 1e-6,
      s"l1 = mean, l2 = 2b1 - b0: $s")
    assert(s.getDouble(7) == 0.0 && s.getDouble(8) == 0.0,
      s"1..4 is L-symmetric with zero L-kurtosis: $s")
    val w = out("skw")
    assert(w.getDouble(7) == 1.0 && w.getDouble(8) == 1.0,
      s"0,0,0,4: maximal L-skew and L-kurt of 1: $w")
    assert(out("tiny").isNullAt(4) && !out("tiny").isNullAt(3),
      s"n = 3: l2 defined, l3/l4 NULL: ${out("tiny")}")
  }

  test("KTruss: clique survives, pendant triangle and dangling edge peel by k") {
    // 4-clique {1,2,3,4} + triangle {4,5,6} + dangling edge (6,7)
    val edges = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
      (4, 5), (5, 6), (4, 6), (6, 7))
      .map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
    val t4 = operators.KTruss.truss(edges, "src", "dst", k = 4, maxPeels = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(t4.keySet == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L)), s"only the clique survives a 4-truss: $t4")
    assert(t4.values.forall(_ == 2L), s"each clique edge closes 2 triangles: $t4")
    val t3 = operators.KTruss.truss(edges, "src", "dst", k = 3, maxPeels = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t3.size == 9 && !t3.contains((6L, 7L)),
      s"3-truss keeps both triangle structures, drops the dangler: $t3")
  }

  test("markovEntropy: corridor state H=0, hub state ln 2, tie breaks ascending") {
    val u1 = Seq("a", "b", "a", "b", "a").zipWithIndex.map {
      case (s, i) => (1L, i.toLong, s) }
    val u2 = Seq("c", "a", "c", "b").zipWithIndex.map {
      case (s, i) => (2L, i.toLong, s) }
    val out = operators.Sequences.markovEntropy(
        (u1 ++ u2).toDF("u", "o", "s"), "u", orderCol = col("o"),
        tieCol = col("o"), stateCol = col("s"))
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("a")
    assert(a.getLong(1) == 3L && a.getLong(2) == 2L, s"$a")
    val h = -(2.0 / 3) * math.log(2.0 / 3) - (1.0 / 3) * math.log(1.0 / 3)
    assert(math.abs(a.getDouble(3) - h) < 1e-6, s"$a")
    assert(a.getString(4) == "b" &&
      math.abs(a.getDouble(5) - 2.0 / 3) < 1e-6, s"$a")
    assert(out("b").getDouble(3) == 0.0 && out("b").getString(4) == "a",
      s"corridor: successor known: ${out("b")}")
    val c = out("c")
    assert(math.abs(c.getDouble(3) - math.log(2.0)) < 1e-6 &&
      c.getString(4) == "a", s"50/50 hub, tie -> ascending: $c")
  }

  test("gumbelReturn: fit replays the pinned-constant formula off rounded L-moments") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).zipWithIndex.map {
      case (v, i) => ("k", v, i.toLong) } ++ Seq(("solo", 9.0, 0L))
    val out = etl.Aggregates.gumbelReturn(df.toDF("k", "v", "id"),
        Seq("k"), "v", tieCol = col("id"))
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val l2 = r6(5.0 / 6)
    val beta = l2 / 0.693147
    val mu = 2.5 - 0.577216 * beta
    assert(k.getDouble(2) == 2.5 && k.getDouble(3) == l2, s"$k")
    assert(math.abs(k.getDouble(4) - beta) < 1e-6 &&
      math.abs(k.getDouble(5) - mu) < 1e-6, s"$k")
    assert(math.abs(k.getDouble(6) - (mu + beta * 2.250367)) < 1e-6 &&
      math.abs(k.getDouble(7) - (mu + beta * 4.600149)) < 1e-6, s"$k")
    assert(out("solo").isNullAt(4) && out("solo").getDouble(2) == 9.0,
      s"single block: no spread, no fit, l1 visible: ${out("solo")}")
  }

  test("forecastBand: exact quantile radius, flags only true excursions") {
    // day 1 all 10; day 2 echoes it except +5 at hour 3 and +1 at hour 7
    val rows = (0 until 48).map { h =>
      val v = if (h == 27) 15.0 else if (h == 31) 11.0 else 10.0
      ("k", h.toLong * 3600L, v)
    }
    val df = rows.toDF("k", "sec", "v")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = etl.Aggregates.forecastBand(df, Seq("k"), col("ts"), "v")
      .collect()
    assert(out.length == 24, s"24 forecastable hours: ${out.length}")
    // |resid| sorted: 22 zeros, 1, 5 → interpolated p95 = 0.85
    val hot = out.filter(_.getLong(7) == 1L)
    assert(hot.map(_.getDouble(4)).sorted.toSeq == Seq(1.0, 5.0),
      s"exactly the two planted excursions flag: ${hot.toSeq}")
    val h27 = out.find(_.getDouble(4) == 5.0).get
    assert(h27.getDouble(2) == 15.0 && h27.getDouble(3) == 10.0 &&
      h27.getDouble(5) == 9.15 && h27.getDouble(6) == 10.85,
      s"band 10 ± 0.85: $h27")
  }

  test("adfTest: closed-form replay on a drifting walk; constant series NULL") {
    val steps = (1 to 30).map(i => if (i % 3 == 0) -1.0 else 1.0)
    val y = steps.scanLeft(0.0)(_ + _)
    val rows = y.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) } ++
      (0 until 5).map(i => ("flat", i.toLong, 7.0))
    val out = etl.Aggregates.adfTest(rows.toDF("k", "o", "v"), Seq("k"),
        orderCol = col("o"), tieCol = col("o"), valueCol = "v")
      .collect().map(r => r.getString(0) -> r).toMap
    // independent replay of the same closed form
    val yl = y.dropRight(1); val dy = y.tail.zip(yl).map { case (a, b) => a - b }
    val n = yl.size.toDouble
    val sxx = yl.map(a => a * a).sum - yl.sum * yl.sum / n
    val syy = dy.map(a => a * a).sum - dy.sum * dy.sum / n
    val sxy = yl.zip(dy).map { case (a, b) => a * b }.sum - yl.sum * dy.sum / n
    val beta = sxy / sxx
    val t = beta / math.sqrt(((syy - beta * sxy) / (n - 2.0)) / sxx)
    val k = out("k")
    assert(k.getLong(1) == 30L, s"$k")
    assert(math.abs(k.getDouble(2) - beta) < 1e-6 &&
      math.abs(k.getDouble(3) - t) < 1e-6, s"expected beta=$beta t=$t: $k")
    assert(k.getLong(4) == (if (t > -2.86) 1L else 0L), s"$k")
    assert(out("flat").isNullAt(2) && out("flat").isNullAt(3),
      s"constant series: no lag variance: ${out("flat")}")
  }

  test("granger: closed-form replay where x leads y; collinear pair NULL F") {
    val xs = (0 until 25).map(i => ((i * 7) % 5).toDouble)
    val ys = xs.indices.scanLeft(1.0) { (prev, i) =>
      0.5 * prev + 0.8 * xs(i) + ((i * 3) % 7 - 3) * 0.1
    }.take(25)
    val rows = (0 until 25).map(i => (i.toLong, ys(i), xs(i)))
    val out = etl.Aggregates.granger(rows.toDF("t", "y", "x"), Nil,
      orderCol = col("t"), yCol = col("y"), xCol = col("x"))
      .collect().head
    // independent replay
    val y = ys.tail; val y1 = ys.dropRight(1); val x1 = xs.dropRight(1)
    val n = y.size.toDouble
    def c2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (p, q) => p * q }.sum - a.sum * b.sum / n
    val (syy, s11, s22) = (c2(y, y), c2(y1, y1), c2(x1, x1))
    val (s12, sy1, sy2) = (c2(y1, x1), c2(y, y1), c2(y, x1))
    val det = s11 * s22 - s12 * s12
    val b = (sy1 * s22 - sy2 * s12) / det
    val c = (sy2 * s11 - sy1 * s12) / det
    val rssU = syy - b * sy1 - c * sy2
    val rssR = syy - sy1 * sy1 / s11
    val f = (rssR - rssU) / (rssU / (n - 3.0))
    assert(out.getLong(0) == 24L, s"$out")
    assert(math.abs(out.getDouble(1) - b) < 1e-6 &&
      math.abs(out.getDouble(2) - c) < 1e-6, s"expected b=$b c=$c: $out")
    assert(math.abs(out.getDouble(5) - f) < 1e-4, s"expected F=$f: $out")
    assert(out.getDouble(4) > out.getDouble(3),
      s"x1 must add explanatory power: $out")
    val coll = (0 until 10).map(i => (i.toLong, ys(i), ys(i)))
    val c2r = etl.Aggregates.granger(coll.toDF("t", "y", "x"), Nil,
      orderCol = col("t"), yCol = col("y"), xCol = col("x"))
      .collect().head
    assert(c2r.isNullAt(5), s"x = y exactly: singular design, NULL F: $c2r")
  }

  test("neymanAllocation: mass-proportional split, largest remainder, population cap") {
    val a = Seq(0.0, 2.0, 0.0, 2.0).map(("A", _))
    val b = Seq(5.0, 5.0, 5.0, 5.0).map(("B", _))
    val c = Seq(0.0, 4.0).map(("C", _))
    val out = etl.Aggregates.neymanAllocation((a ++ b ++ c).toDF("k", "v"),
        Seq("k"), "v", totalN = 10L)
      .collect().map(r => r.getString(0) -> r).toMap
    // masses: A = 4·1.1547, B = 0, C = 2·2.8284; raws 4.494 / 0 / 5.506
    assert(out("A").getLong(4) == 4L, s"${out("A")}")
    assert(out("B").getLong(4) == 0L,
      s"zero variance: nothing to learn from more rows: ${out("B")}")
    assert(out("C").getLong(4) == 2L,
      s"remainder unit goes to C but caps at its population 2: ${out("C")}")
    assert(out("C").getDouble(5) == 1.0, s"${out("C")}")
  }

  test("smdBalance: hand SMD flags imbalance; constant covariate NULL") {
    val rows = Seq((0L, 1.0, 5.0), (0L, 3.0, 5.0),
      (1L, 5.0, 5.0), (1L, 7.0, 5.0))
    val out = etl.Aggregates.smdBalance(rows.toDF("arm", "m1", "m2"),
        isA = col("arm") === 0L, metricCols = Seq("m1", "m2"))
      .collect().map(r => r.getString(0) -> r).toMap
    val m1 = out("m1")
    assert(m1.getDouble(3) == 2.0 && m1.getDouble(4) == 6.0, s"$m1")
    assert(math.abs(m1.getDouble(5) - (-4.0 / math.sqrt(2.0))) < 1e-6 &&
      m1.getLong(6) == 1L, s"$m1")
    assert(out("m2").isNullAt(5) && out("m2").getDouble(3) == 5.0,
      s"constant covariate: NULL SMD, means visible: ${out("m2")}")
  }

  test("blockingEval: RR from block sizes, PC misses the cross-prefix near-dup") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),                    // exact dup of 1
      (3L, "alpha beta gamma different tail here now"),  // shares prefix, not a near-dup
      (4L, "zzz totally other text words entirely"),
      (5L, "one two three four five six seven"),
      (6L, "zz one two three four five six seven")       // near-dup of 5, DIFFERENT prefix
    ).toDF("doc_id", "text")
    val r = dedup.BlockingEval.prefixBlockingReport(docs, "doc_id", "text",
      prefixLen = 5, n = 3, minJaccard = 0.5).collect().head
    assert(r.getLong(0) == 6L && r.getLong(1) == 4L &&
      r.getLong(2) == 3L, s"$r")
    assert(r.getLong(3) == 3L, s"one block of 3 → C(3,2) candidates: $r")
    assert(r.getLong(4) == 2L && r.getLong(5) == 1L,
      s"truth = (1,2) and (5,6); only (1,2) shares a block: $r")
    assert(r.getDouble(6) == 0.8, s"RR = 1 - 3/15: $r")
    assert(r.getDouble(7) == 0.5, s"PC misses the cross-prefix pair: $r")
    assert(math.abs(r.getDouble(8) - 1.0 / 3) < 1e-6, s"PQ = 1/3: $r")
  }

  test("readability: hand Flesch/FK from run-counted sentences and vowel groups") {
    val df = Seq((1L, "The cat sat. It ran!"), (2L, "no punctuation here"))
      .toDF("id", "t")
    val out = df.select(col("id"),
        text.TextStats.wsTokenCount(col("t")).as("w"),
        text.TextStats.sentenceCount(col("t")).as("s"),
        text.TextStats.syllableCount(col("t")).as("sy"),
        text.TextStats.fleschEase(col("t")).as("f"),
        text.TextStats.fkGrade(col("t")).as("g"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val a = out(1L)
    assert(a.getLong(1) == 5L && a.getLong(2) == 2L && a.getLong(3) == 5L,
      s"'.' and '!' are two sentence runs; 5 vowel groups: $a")
    assert(math.abs(a.getDouble(4) -
      (206.835 - 1.015 * 2.5 - 84.6 * 1.0)) < 1e-9, s"$a")
    assert(math.abs(a.getDouble(5) -
      (0.39 * 2.5 + 11.8 * 1.0 - 15.59)) < 1e-9, s"$a")
    assert(out(2L).getLong(2) == 1L, "fragment floors at one sentence")
  }

  test("logOddsWords: symmetric z, shared word zero, replay of the shrunk formula") {
    val df = Seq((true, "x x common"), (false, "y y common"))
      .toDF("a", "t")
    val out = text.Corpus.logOddsWords(df, isA = col("a"), textCol = "t",
        alpha0 = 2.0, minCount = 2L)
      .collect().map(r => r.getString(0) -> r).toMap
    val (na, nb) = (3.0, 3.0)
    def rep(ya: Double, yb: Double) = {
      val aw = 2.0 * (ya + yb) / (na + nb)
      val d = math.log((ya + aw) / (na + 2.0 - ya - aw)) -
        math.log((yb + aw) / (nb + 2.0 - yb - aw))
      (d, d / math.sqrt(1.0 / (ya + aw) + 1.0 / (yb + aw)))
    }
    val x = out("x")
    assert(math.abs(x.getDouble(3) - rep(2, 0)._1) < 1e-6 &&
      math.abs(x.getDouble(4) - rep(2, 0)._2) < 1e-6, s"$x")
    assert(x.getDouble(4) > 0 && out("y").getDouble(4) < 0, "signs")
    assert(math.abs(x.getDouble(4) + out("y").getDouble(4)) < 1e-9,
      "mirror-image corpus: z antisymmetric")
    assert(out("common").getDouble(4) == 0.0,
      s"equally-used word: exactly zero: ${out("common")}")
  }

  test("binseg: three-level series splits at the big shift, then the halves") {
    val vals = Seq.fill(20)(0.0) ++ Seq.fill(20)(10.0) ++ Seq.fill(20)(5.0)
    val df = vals.zipWithIndex.map { case (v, i) => ("k", i.toLong + 1, v) }
      .toDF("k", "t", "v")
    val out = etl.Drift.binseg(df, Seq("k"), orderCol = col("t"),
        tieCol = col("t"), valueCol = "v", minSeg = 5)
      .collect().map(r => r.getString(1) -> r).toMap
    val root = out("root")
    assert(root.getInt(3) == 20 && root.getDouble(5) == 750.0,
      s"best single split after the 0-run; gain = 1000 - 250: $root")
    assert(out("L").getDouble(5) == 0.0,
      s"constant left half: zero gain, tiebreak split: ${out("L")}")
    val r = out("R")
    assert(r.getInt(3) == 40 && r.getDouble(5) == 250.0,
      s"right half splits 10s from 5s: $r")
  }

  test("retentionHalfLife: exact halving cohort reads half-life 1.0 with r2 = 1") {
    // Mondays: 8 actives w0, 4 w1, 2 w2, 1 w3
    val rows =
      (1 to 8).map(u => (u.toLong, "2024-01-01 10:00:00")) ++
      (1 to 4).map(u => (u.toLong, "2024-01-08 10:00:00")) ++
      (1 to 2).map(u => (u.toLong, "2024-01-15 10:00:00")) ++
      Seq((1L, "2024-01-22 10:00:00"))
    val df = rows.toDF("u", "s").withColumn("ts", to_timestamp(col("s")))
    val out = etl.Aggregates.retentionHalfLife(df, tsCol = col("ts"),
      entityCol = col("u")).collect()
    assert(out.length == 1, out.toSeq.toString)
    val r = out.head
    assert(r.getLong(1) == 3L, s"$r")
    assert(math.abs(r.getDouble(2) - math.log(0.5)) < 1e-6, s"$r")
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 1.0,
      s"exact exponential: r2 = 1, half-life 1 week: $r")
  }

  test("peaks: local maxima above the robust bar; plateau flags once; endpoints never") {
    val a = Seq(0.0, 0.0, 10.0, 0.0, 5.0, 0.0).zipWithIndex.map {
      case (v, i) => ("a", i.toLong + 1, v) }
    val b = Seq(0.0, 0.0, 7.0, 7.0, 0.0, 0.0, 0.0, 12.0).zipWithIndex.map {
      case (v, i) => ("b", i.toLong + 1, v) }
    val out = etl.Drift.peaks((a ++ b).toDF("k", "t", "v"), Seq("k"),
        orderCol = col("t"), tieCol = col("t"), valueCol = "v", k = 1.0)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    assert(out.keySet == Set(("a", 3L), ("a", 5L), ("b", 3L)),
      s"two peaks on a; plateau flags once; the 12.0 endpoint never: $out")
    assert(out(("a", 3L)).getDouble(2) == 10.0 &&
      out(("a", 3L)).getDouble(4) == 10.0, s"${out(("a", 3L))}")
  }

  test("diffInDiff: nets the standing difference AND the time trend; thin cell NULL") {
    def rows(k: String, t: Long, p: Long, vs: Seq[Double]) =
      vs.map(v => (k, t, p, v))
    val good = rows("k", 1, 0, Seq(1, 3)) ++ rows("k", 1, 1, Seq(5, 7)) ++
      rows("k", 0, 0, Seq(2, 4)) ++ rows("k", 0, 1, Seq(3, 5))
    val thin = rows("thin", 1, 0, Seq(1, 3)) ++ rows("thin", 1, 1, Seq(9)) ++
      rows("thin", 0, 0, Seq(2, 4)) ++ rows("thin", 0, 1, Seq(3, 5))
    val out = etl.Aggregates.diffInDiff((good ++ thin).toDF("k", "t", "p", "v"),
        Seq("k"), isTreat = col("t") === 1L, isPost = col("p") === 1L,
        yCol = col("v"))
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getDouble(9) == 3.0,
      s"(6-2) - (4-3): trend and level both netted: $k")
    assert(math.abs(k.getDouble(10) - 2.0) < 1e-9, s"se sqrt(4*(2/2)): $k")
    assert(math.abs(k.getDouble(11) - (3.0 - 3.92)) < 1e-6 &&
      math.abs(k.getDouble(12) - (3.0 + 3.92)) < 1e-6, s"$k")
    assert(out("thin").isNullAt(9) && out("thin").getDouble(5) == 9.0,
      s"single-row cell: NULL effect, means visible: ${out("thin")}")
  }

  test("bestStump: perfect split found exactly; constant feature yields no split") {
    val rows = (1 to 4).flatMap(_ => Seq((1.0, false), (2.0, false),
      (3.0, true)))
    val df = rows.toDF("x", "y")
    val out = etl.Features.bestStump(df, labelCol = col("y"),
        features = Seq("f" -> col("x"), "g" -> lit(5.0)))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("f"),
      s"single-valued feature has no candidate split: ${out.keySet}")
    val f = out("f")
    assert(f.getDouble(2) == 2.0 && f.getDouble(4) == 0.0,
      s"<=2 vs >2 separates perfectly: $f")
    assert(math.abs(f.getDouble(3) - 4.0 / 9) < 1e-6 &&
      math.abs(f.getDouble(5) - 4.0 / 9) < 1e-6,
      s"before = gini(1/3), gain = all of it: $f")
  }

  test("postStratified: mix-adjusted mean, SE, missing-stratum NULL with counts") {
    val a = Seq.fill(30)(("A", true, 0.0)) ++
      Seq(("A", false, 1.0), ("A", false, 3.0))
    val b = Seq.fill(10)(("B", true, 0.0)) ++
      Seq(("B", false, 10.0), ("B", false, 14.0))
    val newS = Seq(("D", false, 7.0))
    val out = etl.Aggregates.postStratified(
        (a ++ b ++ newS).toDF("s", "ref", "v"), Seq("s"),
        valueCol = col("v"), isRef = col("ref")).collect().head
    assert(out.getLong(0) == 2L && out.getLong(1) == 0L &&
      out.getLong(2) == 1L, s"$out")
    assert(math.abs(out.getDouble(3) - 7.0) < 1e-9,
      s"raw mean over all 5 sample rows incl. the new stratum: $out")
    assert(out.getDouble(4) == 4.5,
      s"(30/40)*2 + (10/40)*12 — the mix correction: $out")
    assert(math.abs(out.getDouble(5) - math.sqrt(0.8125)) < 1e-6, s"$out")
    val miss = etl.Aggregates.postStratified(
        (a ++ b ++ Seq(("C", true, 0.0))).toDF("s", "ref", "v"),
        Seq("s"), valueCol = col("v"), isRef = col("ref"))
      .collect().head
    assert(miss.isNullAt(4) && miss.getLong(1) == 1L,
      s"reference stratum with no sample: estimator undefined: $miss")
  }

  test("bcubed: hand P/R from contingency cells; giant cluster cannot dominate") {
    val el = Seq((1L, "X", "a"), (2L, "X", "a"), (3L, "X", "b"),
      (4L, "Y", "a")).toDF("id", "cl", "tr")
    val r = dedup.BlockingEval.bcubed(el, "id", "cl", "tr").collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L && r.getLong(2) == 2L,
      s"$r")
    assert(math.abs(r.getDouble(3) - 2.0 / 3) < 1e-6 &&
      math.abs(r.getDouble(4) - 2.0 / 3) < 1e-6, s"$r")
    assert(math.abs(r.getDouble(5) - 2.0 / 3) < 1e-5, s"$r")
    val perfect = Seq((1L, "X", "a"), (2L, "X", "a"), (3L, "Y", "b"))
      .toDF("id", "cl", "tr")
    val p = dedup.BlockingEval.bcubed(perfect, "id", "cl", "tr")
      .collect().head
    assert(p.getDouble(3) == 1.0 && p.getDouble(4) == 1.0 &&
      p.getDouble(5) == 1.0, s"clustering == truth: all ones: $p")
  }

  test("recordCounts: both directions counted, harmonic expectation, first row is a record") {
    val vals = Seq(1.0, 3.0, 2.0, 5.0, 4.0)
    val df = vals.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }
      .toDF("k", "t", "v")
    val r = etl.Aggregates.recordCounts(df, Seq("k"), orderCol = col("t"),
      tieCol = col("t"), valueCol = "v").collect().head
    val h = (1 to 5).map(1.0 / _).sum
    assert(r.getLong(1) == 5L && r.getLong(2) == 3L && r.getLong(3) == 1L,
      s"ups 1,3,5; downs just the first: $r")
    assert(math.abs(r.getDouble(4) - h) < 1e-6, s"$r")
    assert(math.abs(r.getDouble(5) - 3.0 / h) < 1e-6 &&
      math.abs(r.getDouble(6) - 1.0 / h) < 1e-6, s"$r")
  }

  test("ebShrinkRates: 1/1 cannot beat 60/100 after shrinkage; flat prior NULL") {
    val rows = Seq(("A", 1, 1), ("B", 100, 40), ("C", 100, 60),
      ("D", 100, 50)).flatMap { case (u, n, x) =>
      (1 to n).map(i => (u, i <= x)) }
    val out = etl.Aggregates.ebShrinkRates(rows.toDF("u", "hit"),
        itemCols = Seq("u"), isSuccess = col("hit"))
      .collect().map(r => r.getString(0) -> r).toMap
    val rates = Seq(1.0, 0.4, 0.6, 0.5)
    val m = rates.sum / 4
    val v = rates.map(r => (r - m) * (r - m)).sum / 3
    val ab = m * (1.0 - m) / v - 1.0
    def shrunk(x: Double, n: Double) = (m * ab + x) / (ab + n)
    assert(math.abs(out("A").getDouble(6) - shrunk(1, 1)) < 1e-6,
      s"${out("A")}")
    assert(out("A").getDouble(6) < 0.8 && out("A").getDouble(3) == 1.0,
      "the 1/1 item's rate moves far toward the prior mean")
    assert(math.abs(out("C").getDouble(6) - shrunk(60, 100)) < 1e-6 &&
      math.abs(out("C").getDouble(6) - 0.6) < 0.01,
      s"the 60/100 item barely moves: ${out("C")}")
    val flat = (1 to 4).flatMap(u => Seq((s"u$u", true), (s"u$u", false)))
    val f = etl.Aggregates.ebShrinkRates(flat.toDF("u", "hit"),
      Seq("u"), col("hit")).collect().head
    assert(f.isNullAt(6), s"zero between-item variance: no prior: $f")
  }

  test("simpsonCheck: within-segment sign flips against the pooled sign") {
    def cell(seg: Long, arm: Long, mean: Double, n: Int) =
      (1 to n).map(_ => ("k", seg, arm, mean))
    val rows = cell(1, 0, 90, 10) ++ cell(1, 1, 85, 100) ++
      cell(2, 0, 40, 100) ++ cell(2, 1, 35, 10)
    val r = etl.Aggregates.simpsonCheck(rows.toDF("k", "seg", "arm", "v"),
        Seq("k"), segCol = col("seg"), isA = col("arm") === 0L,
        yCol = col("v")).collect().head
    assert(r.getDouble(4) == 5.0, s"A wins every segment by 5: $r")
    assert(r.getDouble(3) < 0, s"pooled says A loses badly: $r")
    assert(r.getLong(5) == 1L, s"that is the paradox flag: $r")
  }

  test("cellResiduals: Haberman-adjusted residuals, symmetric 2x2, flags at 3 sigma") {
    val rows = Seq(("p", 0L, 30), ("p", 1L, 10), ("q", 0L, 10),
      ("q", 1L, 30)).flatMap { case (a, b, n) =>
      (1 to n).map(_ => (a, b)) }
    val out = etl.Drift.cellResiduals(rows.toDF("a", "b"),
        aCol = col("a"), bCol = col("b"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    val p0 = out(("p", 0L))
    assert(p0.getLong(2) == 30L && p0.getDouble(3) == 20.0, s"$p0")
    assert(math.abs(p0.getDouble(4) - 10.0 / math.sqrt(5.0)) < 1e-6 &&
      p0.getLong(5) == 1L, s"$p0")
    assert(math.abs(out(("p", 1L)).getDouble(4) +
      10.0 / math.sqrt(5.0)) < 1e-6, "antisymmetric in a 2x2")
  }

  test("nelsonAalen: textbook H and variance; censored-only key stays at H=0") {
    val full = (1 to 4).map(d => ("full", d.toLong, true))
    val alive = (1 to 4).map(d => ("alive", d.toLong, false))
    val out = etl.Aggregates.nelsonAalen(
        (full ++ alive).toDF("k", "dur", "obs"), Seq("k"), "dur",
        col("obs"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    val t1 = out(("full", 1L))
    assert(t1.getLong(2) == 4L && t1.getLong(3) == 1L, s"$t1")
    assert(t1.getDouble(5) == 0.25 && t1.getDouble(6) == 0.0625, s"$t1")
    assert(math.abs(t1.getDouble(7) - math.exp(-0.25)) < 1e-6, s"$t1")
    val t4 = out(("full", 4L))
    // H = 1/4 + 1/3 + 1/2 + 1 rounded at 6dp
    assert(t4.getDouble(5) == 2.083333, s"$t4")
    val a4 = out(("alive", 4L))
    assert(a4.getDouble(5) == 0.0 && a4.getDouble(7) == 1.0 &&
      a4.getLong(4) == 1L, s"all censored: hazard never accrues: $a4")
  }

  test("silhouette: separated clusters read ~1; a misfiled point reads s<0 and counts") {
    // cluster A hugs (10,0); cluster B hugs (0,10); one "A" point is
    // planted AT B's centroid — it must be the only misfit
    val df = Seq(
      (1L, "A", Array(10.0f, 0.0f)), (2L, "A", Array(10.2f, 0.0f)),
      (3L, "A", Array(9.8f, 0.0f)),
      (4L, "B", Array(0.0f, 10.0f)), (5L, "B", Array(0.0f, 10.2f)),
      (6L, "B", Array(0.0f, 9.8f)),
      (7L, "A", Array(0.0f, 10.0f)) // misfiled
    ).toDF("id", "src", "v")
    val out = sim.Geometry.silhouette(df, "id", "src", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("B").getDouble(2) > 0.9 && out("B").getDouble(3) == 0.0)
    assert(out("A").getLong(1) == 4L)
    assert(out("A").getDouble(3) == 0.25, s"exactly the planted misfit: ${out("A")}")
    assert(out("A").getDouble(2) < out("B").getDouble(2))
  }

  test("pc1Power: planted dominant axis recovered, canonical sign, var share ~1") {
    // all variance lives on dim 2 (negative direction first — the
    // canonical-sign rule must still read the loading positive)
    val df = (0 until 40).map(i =>
      (i.toLong, Array(0.5f, 0.0f, (if (i % 2 == 0) -4.0f else 4.0f) * (1 + i % 3), 0.0f)))
      .toDF("id", "v")
    val out = sim.Geometry.pc1Power(df, "v", iters = 10).collect()
    assert(out.length == 4)
    val byPos = out.map(r => r.getLong(0) -> r).toMap
    assert(byPos(2L).getDouble(1) > 0.999, s"dominant loading: ${byPos(2L)}")
    assert(math.abs(byPos(0L).getDouble(1)) < 1e-3)
    assert(byPos(2L).getDouble(2) > 0.999, s"var share: ${byPos(2L)}")
  }

  test("knnOutliers: the planted far point ranks first; ranks dense and bounded") {
    val ring = (0 until 12).map { i =>
      val a = i * math.Pi / 6
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat, 1.0f))
    }
    // the outlier points AWAY in the third dim → large cosine distance
    val df = (ring :+ ((99L, Array(0.0f, 0.0f, -1.0f)))).toDF("id", "v")
    val out = sim.Geometry.knnOutliers(df, "id", "v", k = 3, topN = 5).collect()
    assert(out.length == 5)
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 99L,
      s"planted outlier first: ${out.head}")
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(out.head.getDouble(2) > out.last.getDouble(2))
  }

  test("isotonicCalibration: textbook PAV pooling, monotone fit, clean segments untouched") {
    // one sample per bin, outcomes 0,1,0,1,1 → PAV pools bins 1-2 to
    // 0.5; bins 0 and 3-4 keep their raw rates
    val df = Seq((0.1, false), (0.3, true), (0.5, false), (0.7, true),
      (0.9, true)).toDF("s", "y")
    val out = etl.MlEval.isotonicCalibration(df, col("s"), col("y"),
      bins = 5).orderBy("bin").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    val fit = out.map(_.getDouble(4)).toSeq
    assert(fit == Seq(0.0, 0.5, 0.5, 1.0, 1.0), s"PAV fit: $fit")
    assert(fit == fit.sorted, "fit must be non-decreasing")
    assert(out.map(_.getDouble(3)).toSeq == Seq(0.0, 1.0, 0.0, 1.0, 1.0))
  }

  test("isotonicCalibration: weights pool correctly (heavier bin drags the pooled mean)") {
    // bin0 rate 1.0 (1 row), bin1 rate 0.0 (3 rows) → pooled (1+0)/4
    val df = Seq((0.1, true), (0.5, false), (0.55, false), (0.58, false))
      .toDF("s", "y")
    val out = etl.MlEval.isotonicCalibration(df, col("s"), col("y"),
      bins = 2).orderBy("bin").collect()
    assert(out.map(_.getDouble(4)).toSeq == Seq(0.25, 0.25))
  }

  test("dispersionIndex: hand moments, single-unit key NULLs, Poisson-flat reads D≈0") {
    val rows =
      Seq.fill(2)(("a", 1L, "d1")) ++ Seq.fill(4)(("a", 2L, "d1")) ++
        Seq.fill(3)(("b", 9L, "d1"))
    val df = rows.toDF("k", "u", "d")
    val out = etl.Drift.dispersionIndex(df, Seq("k"),
      Seq(col("u"), col("d"))).collect().map(r => r.getString(0) -> r).toMap
    val a = out("a") // counts 2, 4: mean 3, var 2, D = 2/3
    assert(a.getLong(1) == 2L && a.getLong(2) == 6L)
    assert(a.getDouble(3) == 3.0)
    assert(math.abs(a.getDouble(4) - 2.0 / 3) < 1e-6)
    assert(math.abs(a.getDouble(5) - 2.0 / 3) < 1e-6)
    assert(math.abs(a.getDouble(6) -
      (math.sqrt(4.0 / 3) - math.sqrt(1.0))) < 1e-6)
    val b = out("b") // one unit: variance undefined
    assert(b.getLong(1) == 1L && b.isNullAt(4) && b.isNullAt(5) && b.isNullAt(6))
  }

  test("fdAudit: g3 counts minimum deletions, null determinants excluded, true FD reads 0") {
    val df = Seq(
      (Some(1L), "x"), (Some(1L), "x"), (Some(1L), "y"),
      (Some(2L), "x"), (None: Option[Long], "z")
    ).toDF("d", "p")
    val out = etl.Rules.fdAudit(df, Seq(("d", "p"), ("p", "p")))
      .orderBy("determinant").collect()
    val dp = out(0) // det 1 → {x:2, y:1}, det 2 → {x:1}
    assert(dp.getLong(2) == 2L && dp.getLong(3) == 4L)
    assert(dp.getLong(4) == 1L && dp.getDouble(5) == 0.25)
    val pp = out(1) // a column determines itself exactly
    assert(pp.getLong(4) == 0L && pp.getDouble(5) == 0.0)
    assert(pp.getLong(3) == 5L, "null det rule applies to the DET side only")
  }

  test("richness: hand Good-Turing mass and Chao1, n2=0 stays finite") {
    // "a b a c": counts a:2 b:1 c:1 → N=4 V=3 n1=2 n2=1,
    // P0=0.5, chao1 = 3 + 2·1/(2·2) = 3.5
    val df = Seq((1L, "a b a c", "s"), (2L, "z z", "t"))
      .toDF("doc_id", "text", "source")
    val out = text.Corpus.richness(df, "source", "text")
      .orderBy("source").collect()
    val s = out(0)
    assert(s.getLong(1) == 4L && s.getLong(2) == 3L &&
      s.getLong(3) == 2L && s.getLong(4) == 1L)
    assert(s.getDouble(5) == 0.5 && s.getDouble(6) == 0.5)
    assert(s.getDouble(7) == 3.5)
    val t = out(1) // "z z": n1=0, n2=1 → P0=0, chao1 = V = 1; and a
    // hapax-free slice with n2=0 would still divide by 2(0+1)
    assert(t.getDouble(5) == 0.0 && t.getDouble(7) == 1.0)
  }

  test("hillNumbers: hand D0/D1/D2, uniform slice reads D0=D1=D2") {
    val df = Seq((1L, "a b a c", "s"), (2L, "x y z w", "u"))
      .toDF("doc_id", "text", "source")
    val out = text.Corpus.hillNumbers(df, "source", "text")
      .orderBy("source").collect()
    val s = out(0) // H = ln4 − (2ln2)/4 → D1 = 2^1.5; D2 = 16/6
    assert(s.getLong(2) == 3L)
    assert(math.abs(s.getDouble(3) - math.pow(2, 1.5)) < 1e-6)
    assert(math.abs(s.getDouble(4) - 16.0 / 6) < 1e-6)
    assert(math.abs(s.getDouble(5) - math.pow(2, 1.5) / 3) < 1e-6)
    val u = out(1) // 4 uniform types: all three numbers = 4, evenness 1
    assert(u.getLong(2) == 4L && u.getDouble(3) == 4.0 &&
      u.getDouble(4) == 4.0 && u.getDouble(5) == 1.0)
  }

  test("captureRecapture: hand Chapman + Seber, single-window items kept, m=0 finite") {
    // key k: A-only {1,2}, B-only {3}, both {4,5}
    val df = Seq(("k", 1L, "a"), ("k", 2L, "a"), ("k", 3L, "b"),
      ("k", 4L, "a"), ("k", 4L, "b"), ("k", 5L, "a"), ("k", 5L, "b"),
      ("j", 7L, "a"), ("j", 8L, "b")).toDF("key", "item", "win")
    val out = etl.Aggregates.captureRecapture(df, Seq("key"), col("item"),
        inA = col("win") === "a", inB = col("win") === "b")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k") // n1=4 n2=3 m=2 → N̂ = 5·4/3 − 1 = 17/3
    assert(k.getLong(1) == 4L && k.getLong(2) == 3L && k.getLong(3) == 2L)
    assert(math.abs(k.getDouble(4) - 17.0 / 3) < 1e-6)
    assert(math.abs(k.getDouble(5) - math.sqrt(40.0 / 36)) < 1e-6)
    assert(math.abs(k.getDouble(6) - 5 / (17.0 / 3)) < 1e-6)
    val j = out("j") // disjoint windows: N̂ = 2·2/1 − 1 = 3, SE defined
    assert(j.getLong(3) == 0L && j.getDouble(4) == 3.0)
    assert(math.abs(j.getDouble(6) - 2.0 / 3) < 1e-6)
  }

  // OLS diagnostics share one fixture: hourly series 0,1,0,1 fits
  // b=0.2, a rides the epoch offset; e = −0.2, 0.6, −0.6, 0.2
  private def diagDf = Seq(
    ("a", "2024-01-01 00:00:00", 0.0), ("a", "2024-01-01 01:00:00", 1.0),
    ("a", "2024-01-01 02:00:00", 0.0), ("a", "2024-01-01 03:00:00", 1.0),
    ("b", "2024-01-01 00:00:00", 0.0), ("b", "2024-01-01 01:00:00", 1.0),
    ("b", "2024-01-01 02:00:00", 2.0), ("b", "2024-01-01 03:00:00", 3.0)
  ).toDF("k", "tss", "value").withColumn("ts", to_timestamp(col("tss")))

  test("durbinWatson: hand DW on alternating residuals, perfect line NULLs") {
    val out = etl.Aggregates.durbinWatson(diagDf, Seq("k"), col("ts"),
      "value").collect().map(r => r.getString(0) -> r).toMap
    val a = out("a") // SSE 0.8, Σ(Δe)² = 0.64+1.44+0.64 → DW 3.4
    assert(a.getLong(1) == 4L)
    assert(math.abs(a.getDouble(2) - 3.4) < 1e-5)
    assert(math.abs(a.getDouble(3) - -0.7) < 1e-5)
    val b = out("b") // y = x exactly: SSE 0 → guard NULL, count visible
    assert(b.getLong(1) == 4L && b.isNullAt(2) && b.isNullAt(3))
  }

  test("cooksInfluence: hand leverage/rstudent/D, edge points outrank bigger central residual") {
    // hl = .7,.3,.3,.7; s² = .4; D = .388889 at the edges, .27551 mid
    val out = etl.Aggregates.cooksInfluence(
      diagDf.filter(col("k") === "a"), Seq("k"), col("ts"), "value",
      topN = 3).orderBy("rk").collect()
    assert(out.length == 3)
    assert(out(0).getLong(1) == 1L &&
      out(0).getTimestamp(2).toString.startsWith("2024-01-01 00:"))
    assert(out(1).getTimestamp(2).toString.startsWith("2024-01-01 03:"))
    assert(out(2).getTimestamp(2).toString.startsWith("2024-01-01 01:"))
    assert(math.abs(out(0).getDouble(5) - 0.7) < 1e-5, "edge leverage")
    assert(math.abs(out(0).getDouble(6) - -0.57735) < 1e-4)
    assert(math.abs(out(0).getDouble(7) - 0.388889) < 1e-5)
    assert(math.abs(out(2).getDouble(7) - 0.27551) < 1e-5)
    assert(math.abs(out(0).getDouble(4) - 0.2) < 1e-5, "fitted at x0")
  }

  test("breuschPagan: symmetric residuals read LM 0, planted fan reads the hand slope") {
    val out = etl.Aggregates.breuschPagan(diagDf, Seq("k"), col("ts"),
      "value").collect().map(r => r.getString(0) -> r).toMap
    val a = out("a") // e² symmetric in x → corr 0 → LM 0, slope 0
    assert(a.getLong(1) == 4L)
    assert(math.abs(a.getDouble(2)) < 1e-5 && a.getDouble(4) == 0.0)
    // fan: y = 0,0,0,6 → e² = 1.44,.36,5.76,3.24; aux slope 1.08,
    // LM = 4·(1.8²/(5.5728·5/3)), z = +√LM
    val fan = Seq(("f", "2024-01-01 00:00:00", 0.0),
      ("f", "2024-01-01 01:00:00", 0.0), ("f", "2024-01-01 02:00:00", 0.0),
      ("f", "2024-01-01 03:00:00", 6.0)).toDF("k", "tss", "value")
      .withColumn("ts", to_timestamp(col("tss")))
    val f = etl.Aggregates.breuschPagan(fan, Seq("k"), col("ts"), "value")
      .collect().head
    val lm = 4 * 3.24 / 9.288
    assert(math.abs(f.getDouble(2) - 1.08) < 1e-5)
    assert(math.abs(f.getDouble(4) - lm) < 1e-5)
    assert(math.abs(f.getDouble(5) - math.sqrt(lm)) < 1e-5)
  }

  test("crossPerplexity: hand smoothed cross-entropy matrix, zero excess on the diagonal") {
    // s: "a a b", t: "a c"; V=3, k=0.5 → H(s,t) hand-computed
    val df = Seq((1L, "a a b", "s"), (2L, "a c", "t"))
      .toDF("doc_id", "text", "source")
    val out = text.Corpus.crossPerplexity(df, "source", "text", k = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val hss = -(2.0 / 3 * math.log(2.5 / 4.5) + 1.0 / 3 * math.log(1.5 / 4.5))
    val hst = -(2.0 / 3 * math.log(1.5 / 3.5) + 1.0 / 3 * math.log(0.5 / 3.5))
    val ss = out(("s", "s"))
    assert(ss.getLong(2) == 3L)
    assert(math.abs(ss.getDouble(3) - hss) < 1e-5)
    assert(ss.getDouble(5) == 0.0, "diagonal excess is 0 by definition")
    val st = out(("s", "t"))
    assert(math.abs(st.getDouble(3) - hst) < 1e-5)
    assert(math.abs(st.getDouble(4) - math.exp(hst)) < 1e-4)
    assert(math.abs(st.getDouble(5) - (hst - hss)) < 1e-5)
  }

  test("burrowsDelta: hand z-space L1, clone sources read 0, zero-variance word drops") {
    // A/C clones up to label; "w" has identical rel-freq everywhere →
    // σ=0 → dropped (n_words 2, not 3)
    val df = Seq((1L, "x x y w", "A"), (2L, "x y y w", "B"),
      (3L, "y y x w", "C")).toDF("doc_id", "text", "source")
    val out = text.Corpus.burrowsDelta(df, "source", "text", topWords = 150)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out(("B", "C")).getDouble(3) == 0.0,
      "one pipeline wearing two names")
    assert(out(("A", "B")).getLong(2) == 2L, "σ=0 word must drop")
    assert(math.abs(out(("A", "B")).getDouble(3) - 2.12132) < 1e-5)
    assert(math.abs(out(("A", "C")).getDouble(3) - 2.12132) < 1e-5)
  }

  test("mutualNearest: only mutually-top-1 pairs survive; the hub loses its one-directional suitors") {
    val a = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val b = Seq((11L, Array(1.0f, 0.01f)), (12L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = sim.Similarity.mutualNearest(a, b, "vec_id", "embedding")
      .collect()
    // a1→b1, a2→b1 (hub), b1→a1, b2→a2: only (1, 11) is mutual
    assert(out.length == 1)
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 11L)
    assert(out.head.getDouble(2) > 0.999)
  }

  private def hourSeries(k: String, ys: Seq[Double]) =
    ys.zipWithIndex.map { case (y, i) =>
      (k, f"2024-01-01 $i%02d:00:00", y) }

  test("hurstExponent: hand block variances on a ramp; flat-block key vanishes") {
    // ramp 0..15: var of m-means = 21, 20, 16 at m = 2, 4, 8 (m=16 has
    // one block → dropped); alternating series has zero variance at
    // every complete level → no levels → key absent
    val df = (hourSeries("r", (0 until 16).map(_.toDouble)) ++
      hourSeries("a", Seq.fill(8)(Seq(0.0, 1.0)).flatten))
      .toDF("k", "tss", "value")
      .withColumn("ts", to_timestamp(col("tss")))
    val out = etl.Aggregates.hurstExponent(df, Seq("k"), col("ts"),
      "value").collect().map(r => r.getString(0) -> r).toMap
    assert(!out.contains("a"), "no surviving levels → no row")
    val r = out("r")
    assert(r.getLong(1) == 3L)
    val xs = Seq(math.log(2), math.log(4), math.log(8))
    val ysv = Seq(math.log(21.0), math.log(20.0), math.log(16.0))
    val mx = xs.sum / 3; val my = ysv.sum / 3
    val slope = xs.zip(ysv).map { case (x, y) => (x - mx) * (y - my) }.sum /
      xs.map(x => (x - mx) * (x - mx)).sum
    assert(math.abs(r.getDouble(2) - slope) < 1e-5)
    assert(math.abs(r.getDouble(3) - (1 + slope / 2)) < 1e-5)
  }

  test("waveletEnergy: alternating series is all level-1 energy, midpoint step all level-4") {
    val df = (hourSeries("a", Seq.fill(8)(Seq(0.0, 1.0)).flatten) ++
      hourSeries("s", Seq.fill(8)(0.0) ++ Seq.fill(8)(1.0)))
      .toDF("k", "tss", "value")
      .withColumn("ts", to_timestamp(col("tss")))
    val out = etl.Aggregates.waveletEnergy(df, Seq("k"), col("ts"),
      "value").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    val a1 = out(("a", 1)) // 8 blocks of d² = 1/2 → E = 4, share 1
    assert(a1.getLong(2) == 8L && a1.getDouble(3) == 4.0 &&
      a1.getDouble(4) == 1.0)
    assert(out(("a", 2)).getDouble(3) == 0.0)
    val s4 = out(("s", 4)) // d = −8 → 64/16 = 4, the only energy
    assert(s4.getDouble(3) == 4.0 && s4.getDouble(4) == 1.0)
    assert(out(("s", 1)).getDouble(3) == 0.0 &&
      out(("s", 3)).getDouble(3) == 0.0)
  }

  test("cochranArmitage: hand z = 8/√5, all-success key NULLs") {
    val rows =
      (1 to 10).map(i => ("k", 1, i <= 1)) ++
        (1 to 10).map(i => ("k", 2, i <= 5)) ++
        (1 to 10).map(i => ("k", 3, i <= 9)) ++
        Seq(("d", 1, true), ("d", 2, true))
    val df = rows.toDF("key", "w", "succ")
    val out = etl.Drift.cochranArmitage(df, Seq("key"), col("w"),
      col("succ")).collect().map(r => r.getString(0) -> r).toMap
    val k = out("k") // T = 38 − 30 = 8, Var = 0.25·(140 − 120) = 5
    assert(k.getLong(1) == 3L && k.getLong(2) == 30L && k.getLong(3) == 15L)
    assert(k.getDouble(4) == 0.5 && k.getDouble(5) == 8.0)
    assert(math.abs(k.getDouble(6) - 8.0 / math.sqrt(5)) < 1e-6)
    val d = out("d") // p̄ = 1 → Var 0 → NULL z, counts visible
    assert(d.getLong(2) == 2L && d.isNullAt(6))
  }

  test("profileDrift: null surge and cardinality collapse flag, stable column doesn't") {
    val before = Seq((Some(1L), "x", 1.0), (Some(2L), "x", 2.0),
      (Some(3L), "x", 3.0)).toDF("id", "cat", "v")
    val after = Seq((Some(1L), "x", 1.0), (None: Option[Long], "y", 2.0),
      (None: Option[Long], "z", 2.5)).toDF("id", "cat", "v")
    val out = etl.Profile.profileDrift(before, after,
        Seq("id", "cat", "v")).collect()
      .map(r => r.getString(0) -> r).toMap
    val id = out("id") // nulls 0 → 2/3, distinct 3 → 1
    assert(math.abs(id.getAs[Double]("null_delta") - 0.666667) < 1e-6)
    assert(id.getAs[Double]("distinct_ratio") == 0.333333)
    assert(id.getAs[Boolean]("flag"))
    assert(out("cat").getAs[Boolean]("flag"), "1 → 3 distinct trips 2x")
    assert(!out("v").getAs[Boolean]("flag"), "stable column stays quiet")
  }

  test("negbinFit: hand MoM on clumped counts, underdispersed key refuses to fit") {
    val rows = Seq(("o", 1L), ("o", 2L)) ++ Seq.fill(4)(("o", 3L)) ++
      (Seq.fill(2)(("u", 1L)) ++ Seq.fill(4)(("u", 2L)))
    val df = rows.toDF("k", "u").withColumn("d", lit("d1"))
    val out = etl.Drift.negbinFit(df, Seq("k"), Seq(col("u"), col("d")))
      .collect().map(r => r.getString(0) -> r).toMap
    val o = out("o") // counts {1,1,4}: mean 2, var 3 → r 4, p 2/3
    assert(o.getDouble(2) == 2.0 && o.getDouble(3) == 3.0)
    assert(o.getDouble(4) == 4.0)
    assert(math.abs(o.getDouble(5) - 2.0 / 3) < 1e-6)
    assert(math.abs(o.getDouble(6) - 16.0 / 81) < 1e-6)
    val u = out("u") // counts {2,4}: var 2 < mean 3 → not NB, moments visible
    assert(u.getDouble(2) == 3.0 && u.getDouble(3) == 2.0 && u.isNullAt(4))
  }

  test("waterFill: hand waterline, supply-bound source spills to the rest, over-budget NULLs λ") {
    val sup = Seq(("a", 1.0, 1.0), ("b", 1.0, 10.0)).toDF("k", "w", "s")
    val out = text.Corpus.waterFill(sup, "k", "w", "s", budget = 5.0)
      .collect().map(r => r.getString(0) -> r).toMap
    // λ = (5−1)/1 = 4: a capped at 1, b gets 4, Σ = 5
    assert(out("a").getDouble(3) == 1.0 && out("a").getBoolean(4))
    assert(out("b").getDouble(3) == 4.0 && !out("b").getBoolean(4))
    assert(out("b").getDouble(5) == 4.0)
    val over = text.Corpus.waterFill(sup, "k", "w", "s", budget = 20.0)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(over("b").getDouble(3) == 10.0 && over("b").getBoolean(4))
    assert(over("b").isNullAt(5), "B > Σs: nothing to ration, λ NULL")
    // fractional budget: B = Σs → the waterline is the largest ratio
    val frac = text.Corpus.waterFill(sup, "k", "w", "s", budget = 1.0,
      asFraction = true).collect().map(r => r.getString(0) -> r).toMap
    assert(frac("b").getDouble(3) == 10.0 && frac("b").getDouble(5) == 10.0)
  }

  test("hubness: planted hub counted by everyone, antihub share, zero-occurrence materialized") {
    // both satellites' 1-NN is the hub; the hub's 1-NN ties → id break
    val df = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.95f, 0.31f)),
      (3L, Array(0.95f, -0.31f))).toDF("vec_id", "embedding")
    val out = sim.Geometry.hubness(df, "vec_id", "embedding", k = 1,
      topN = 3).orderBy("rank").collect()
    assert(out(0).getLong(1) == 1L && out(0).getLong(2) == 2L)
    assert(out(1).getLong(2) == 1L && out(2).getLong(2) == 0L)
    // occ {2,1,0}: symmetric → skewness 0; one antihub of three
    assert(out(0).getDouble(3) == 0.0)
    assert(math.abs(out(0).getDouble(4) - 1.0 / 3) < 1e-6)
  }

  test("lidMle: hand MLE on planted radii (per-point labels expose each LID)") {
    // from v0: distances 0.1 and 0.2 → LID = 1/ln2 at k=2
    val df = Seq(
      (1L, Array(1.0f, 0.0f), 1),
      (2L, Array(0.9f, math.sqrt(0.19).toFloat), 2),
      (3L, Array(0.8f, 0.6f), 3)).toDF("vec_id", "embedding", "label")
    val out = sim.Geometry.lidMle(df, "vec_id", "embedding", "label",
      k = 2).collect().map(r => r.getInt(0) -> r).toMap
    assert(math.abs(out(1).getDouble(3) - 1.0 / math.log(2)) < 1e-3)
    assert(out(1).getLong(1) == 1L && out(1).getLong(2) == 1L)
  }

  test("marginMutualNearest: ratio margin from the rounded runs, hand denominator") {
    val a = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val b = Seq((11L, Array(1.0f, 0.02f)), (12L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = sim.Similarity.marginMutualNearest(a, b, "vec_id",
      "embedding", k = 2).collect()
    assert(out.length == 1 && out.head.getLong(0) == 1L &&
      out.head.getLong(1) == 11L)
    // ma = (0.9998+0)/2, mb = (0.9998+0.9959)/2 → margin ≈ 1.3351
    assert(math.abs(out.head.getDouble(3) -
      0.9998 / ((0.4999 + 0.99785) / 2)) < 1e-3)
  }

  test("longestStreak: islands split on gaps, duplicate days collapse, tie → earliest start") {
    val df = Seq(("u", "2024-01-01"), ("u", "2024-01-02"),
      ("u", "2024-01-02"), ("u", "2024-01-03"), ("u", "2024-01-05"),
      ("u", "2024-01-06"), ("u", "2024-01-10"),
      ("t", "2024-01-01"), ("t", "2024-01-02"), ("t", "2024-01-04"),
      ("t", "2024-01-05")).toDF("k", "ds")
      .withColumn("d", to_date(col("ds")))
    val out = operators.Sequences.longestStreak(df, Seq("k"), col("d"))
      .collect().map(r => r.getString(0) -> r).toMap
    val u = out("u")
    assert(u.getLong(1) == 3L && u.getDate(2).toString == "2024-01-01" &&
      u.getDate(3).toString == "2024-01-03")
    assert(u.getLong(4) == 3L && u.getLong(5) == 6L)
    val t = out("t") // two length-2 islands: earliest start wins
    assert(t.getLong(1) == 2L && t.getDate(2).toString == "2024-01-01")
  }

  test("rankMovers: displacement ranks, absent-in-one-period entity drops") {
    val rows = Seq(("A", true, 30.0), ("B", true, 20.0), ("C", true, 10.0),
      ("D", true, 5.0), ("A", false, 10.0), ("B", false, 20.0),
      ("C", false, 30.0)).toDF("e", "b", "v")
    val out = etl.Aggregates.rankMovers(rows, "e", col("v"), col("b"),
      topN = 2).orderBy("mover_rank").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("A", "C"))
    assert(out(0).getLong(6) == 1L && out(0).getLong(5) == -2L,
      "A fell rank 1 → 3")
    assert(out(1).getLong(5) == 2L, "C rose 3 → 1 (D ranks 4th before but can't move)")
    assert(!out.exists(_.getString(0) == "D"), "debut is not a move")
  }

  test("skyline2D: dominated points drop, co-located ids all surface") {
    val df = Seq((1L, 1.0, 5L), (2L, 2.0, 10L), (3L, 3.0, 7L),
      (4L, 2.0, 3L), (5L, 4.0, 10L), (6L, 2.0, 10L))
      .toDF("id", "price", "size")
    val out = operators.Sequences.skyline2D(df, "id", col("price"),
      col("size")).orderBy("x", "id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 6L),
      "frontier = (1,5),(2,10) with both co-located ids")
    assert(!out.exists(r => r.getLong(0) == 5L),
      "equal y at higher x is dominated (needs STRICT improvement)")
  }

  test("burnRate: hand multi-window burns, boundary not-alert at exactly threshold, silent-hour gap widens") {
    def hour(k: Int, err: Boolean, n: Int) = Seq.fill(n)(
      ("s", f"2024-01-01 $k%02d:00:00", if (err) "error" else "ok"))
    val rows = hour(0, false, 10) ++
      (hour(1, false, 6) ++ hour(1, true, 4)) ++
      (hour(2, false, 6) ++ hour(2, true, 4)) ++
      hour(3, false, 10) ++ (hour(5, true, 10))
    val df = rows.toDF("k", "tss", "et")
      .withColumn("ts", to_timestamp(col("tss")))
    val out = etl.Slo.burnRate(df, Seq("k"), col("ts"),
      col("et") === "error", budget = 0.1, shortHours = 2,
      longHours = 3, threshold = 2.0).orderBy("hour").collect()
    val bs = out.map(_.getDouble(4))
    assert(bs(1) == 2.0 && bs(2) == 4.0 && bs(3) == 2.0)
    assert(math.abs(out(2).getDouble(5) - 2.666667) < 1e-6)
    assert(!out(1).getBoolean(6), "burn exactly at threshold must NOT alert")
    assert(out(2).getBoolean(6))
    // hour 5 after a silent hour 4: short window = {4,5} → only h5 rows
    assert(bs(4) == 10.0 && out(4).getBoolean(6))
  }

  test("incidents: variable-gap merging, MTBF from starts, single incident NULLs MTBF") {
    def e(k: String, h: Int) =
      (k, f"2024-01-01 $h%02d:15:00", "error", 500.0)
    val rows = Seq(e("k", 0), e("k", 1), e("k", 4), e("k", 9), e("k", 10),
      e("k", 11), e("j", 5), ("k", "2024-01-01 02:00:00", "ok", 500.0))
    val df = rows.toDF("k", "tss", "et", "v")
      .withColumn("ts", to_timestamp(col("tss")))
    val out = etl.Slo.incidents(df, Seq("k"), col("ts"),
      col("et") === "error" && col("v") > 400, gapHours = 2)
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k") // [0-1],[4],[9-11]: durs 2,1,3; starts 0,4,9
    assert(k.getLong(1) == 3L && k.getDouble(2) == 2.0)
    assert(k.getDouble(3) == 4.5 && k.getLong(4) == 6L)
    val j = out("j")
    assert(j.getLong(1) == 1L && j.isNullAt(3), "one incident: no between-time")
  }

  test("apdex: satisfied/tolerating boundaries inclusive, NULL latency excluded") {
    val df = Seq(("a", Some(50.0)), ("a", Some(100.0)), ("a", Some(150.0)),
      ("a", Some(400.0)), ("a", Some(401.0)), ("a", None: Option[Double]))
      .toDF("k", "v")
    val out = etl.Slo.apdex(df, Seq("k"), col("v"), t = 100).collect().head
    assert(out.getLong(1) == 5L && out.getLong(2) == 2L &&
      out.getLong(3) == 2L)
    assert(out.getDouble(4) == 0.6)
  }

  test("jarqueBera: hand moments on a skewed and a symmetric set, constant key NULLs") {
    val df = Seq(("s", 0.0), ("s", 0.0), ("s", 0.0), ("s", 1.0),
      ("y", -1.0), ("y", 1.0), ("c", 5.0), ("c", 5.0)).toDF("k", "v")
    val out = etl.Aggregates.jarqueBera(df, Seq("k"), col("v"))
      .collect().map(r => r.getString(0) -> r).toMap
    val s = out("s") // S = 2/√3, K = −2/3, JB = 4/6(4/3 + 1/9)
    assert(math.abs(s.getDouble(2) - 2 / math.sqrt(3)) < 1e-6)
    assert(math.abs(s.getDouble(3) - -2.0 / 3) < 1e-6)
    assert(math.abs(s.getDouble(4) -
      4.0 / 6 * (4.0 / 3 + (4.0 / 9) / 4)) < 1e-5)
    val y = out("y") // symmetric two-point: S 0, K −2, JB = 2/6·1
    assert(y.getDouble(2) == 0.0 && y.getDouble(3) == -2.0)
    assert(math.abs(y.getDouble(4) - 1.0 / 3) < 1e-6)
    assert(out("c").isNullAt(2) && out("c").isNullAt(4))
  }

  test("friedman: textbook Q = 6 on perfectly consistent ranks, incomplete block dropped, tie mean-ranks") {
    val rows = (for (b <- 1 to 3; (t, v) <- Seq(("a", 1.0), ("b", 2.0),
      ("c", 3.0))) yield (f"2024-01-0$b", t, v)) :+
      (("2024-01-04", "a", 9.0))
    val df = rows.toDF("ds", "t", "v").withColumn("d", to_date(col("ds")))
    val out = etl.Drift.friedman(df, col("d"), col("t"), col("v"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getLong(1) == 3L, "incomplete block 4 must not vote")
    assert(out("a").getDouble(2) == 3.0 && out("c").getDouble(2) == 9.0)
    assert(out("b").getDouble(3) == 2.0)
    assert(out("a").getDouble(4) == 6.0, "Q = 12/36·126 − 36")
    // tie: equal cells share the mean rank
    val tied = Seq(("2024-01-01", "a", 1.0), ("2024-01-01", "b", 1.0),
      ("2024-01-01", "c", 3.0)).toDF("ds", "t", "v")
      .withColumn("d", to_date(col("ds")))
    val t2 = etl.Drift.friedman(tied, col("d"), col("t"), col("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(t2("a") == 1.5 && t2("b") == 1.5 && t2("c") == 3.0)
  }

  test("grubbs: hand G on a planted spike, short key NULLs") {
    val df = Seq(("k", 1.0), ("k", 2.0), ("k", 3.0), ("k", 10.0),
      ("j", 1.0), ("j", 2.0)).toDF("key", "v")
    val out = etl.Aggregates.grubbs(df, Seq("key"), col("v"))
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k") // μ=4, s=√(50/3): G = 6/4.082483
    assert(math.abs(k.getDouble(2) - 6 / math.sqrt(50.0 / 3)) < 1e-5)
    assert(k.getDouble(3) == 10.0 && k.getString(4) == "high")
    val j = out("j") // n < 3: statistic undefined, counts visible
    assert(j.getLong(1) == 2L && j.isNullAt(2) && j.isNullAt(4))
  }

  test("dauStickiness: trailing ranges age users out across a silent stretch") {
    val df = Seq((1L, "2024-01-01"), (1L, "2024-01-02"),
      (2L, "2024-01-01"), (1L, "2024-02-10")).toDF("u", "ds")
      .withColumn("ts", to_timestamp(col("ds")))
    val out = etl.Growth.dauStickiness(df, col("u"), col("ts"))
      .collect().map(r => r.getDate(0).toString -> r).toMap
    val d1 = out("2024-01-01")
    assert(d1.getLong(1) == 2L && d1.getLong(2) == 2L &&
      d1.getLong(3) == 2L && d1.getDouble(4) == 1.0)
    val d2 = out("2024-01-02")
    assert(d2.getLong(1) == 1L && d2.getLong(2) == 2L &&
      d2.getLong(3) == 2L && d2.getDouble(4) == 0.5)
    val d3 = out("2024-02-10") // 39 days on: everyone aged out
    assert(d3.getLong(1) == 1L && d3.getLong(2) == 1L &&
      d3.getLong(3) == 1L)
  }

  test("growthAccounting: lifecycle identity, churn lands in the silent week, quick ratio") {
    // u1: w1, w2, w4 (skips w3); u2: w3 only — Mondays
    val df = Seq((1L, "2024-01-01"), (1L, "2024-01-08"),
      (1L, "2024-01-22"), (2L, "2024-01-15")).toDF("u", "ds")
      .withColumn("ts", to_timestamp(col("ds")))
    val out = etl.Growth.growthAccounting(df, col("u"), col("ts"))
      .collect().map(r => r.getDate(0).toString -> r).toMap
    assert(out("2024-01-01").getLong(2) == 1L, "w1: u1 new")
    assert(out("2024-01-08").getLong(3) == 1L, "w2: u1 retained")
    val w3 = out("2024-01-15") // u2 new; u1 churned INTO this week
    assert(w3.getLong(2) == 1L && w3.getLong(5) == 1L)
    assert(w3.getDouble(6) == 1.0, "quick ratio (1 new + 0 res)/1 churn")
    val w4 = out("2024-01-22") // u1 resurrected; u2 churned into w4
    assert(w4.getLong(4) == 1L && w4.getLong(5) == 1L)
    // identity: active = new + retained + resurrected on every row
    out.values.foreach(r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3) + r.getLong(4)))
  }

  test("powerUserCurve: histogram shares and top-down cumulatives") {
    val df = Seq((1L, "2024-01-01"), (1L, "2024-01-02"), (1L, "2024-01-03"),
      (2L, "2024-01-01"), (3L, "2024-01-05"), (3L, "2024-01-05"))
      .toDF("u", "ds").withColumn("ts", to_timestamp(col("ds")))
    val out = etl.Growth.powerUserCurve(df, col("u"), col("ts"))
      .orderBy(col("n_days").desc).collect()
    val top = out(0) // one 3-day user: 60% of activity, cum from top
    assert(top.getLong(0) == 3L && top.getLong(1) == 1L)
    assert(top.getDouble(3) == 0.6 && top.getDouble(5) == 0.6)
    assert(math.abs(top.getDouble(4) - 1.0 / 3) < 1e-6)
    val one = out(1) // two 1-day users (dup same-day rows collapse)
    assert(one.getLong(1) == 2L && one.getDouble(4) == 1.0 &&
      one.getDouble(5) == 1.0)
  }

  test("vocabCoverageCurve: cumulative mass at cuts, n_types capped at vocab") {
    val df = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val out = text.Corpus.vocabCoverageCurve(df, "text", cuts = Seq(1, 2, 10))
      .orderBy("vocab_size").collect()
    assert(out(0).getLong(1) == 1L && out(0).getDouble(2) == 0.5)
    assert(math.abs(out(1).getDouble(2) - 5.0 / 6) < 1e-6)
    assert(out(2).getLong(1) == 3L && out(2).getDouble(2) == 1.0,
      "cut past the vocab covers everything with V types")
  }

  test("dupProfile: intra vs cross locality, unique docs in neither") {
    val df = Seq(("A", "t1"), ("A", "t1"), ("A", "t2"),
      ("B", "t2"), ("B", "t3")).toDF("source", "text")
    val out = text.Corpus.dupProfile(df, "source", md5(col("text")))
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("A")
    assert(a.getLong(1) == 3L && a.getLong(2) == 2L)
    assert(a.getLong(3) == 2L && a.getLong(4) == 1L)
    assert(math.abs(a.getDouble(5) - 2.0 / 3) < 1e-6)
    val b = out("B") // t2 is cross, t3 unique
    assert(b.getLong(3) == 0L && b.getLong(4) == 1L &&
      b.getDouble(6) == 0.5)
  }

  test("charClassProfile: exact length arithmetic, empty slice NULLs") {
    val df = Seq(("s", "ab 12!"), ("e", "")).toDF("src", "text")
    val out = text.Corpus.charClassProfile(df, "src", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    val s = out("s") // 2 alpha, 2 digit, 1 space, 1 other of 6
    assert(s.getLong(2) == 6L)
    assert(math.abs(s.getDouble(3) - 1.0 / 3) < 1e-6)
    assert(math.abs(s.getDouble(4) - 1.0 / 3) < 1e-6)
    assert(s.getDouble(5) == 0.166667 && s.getDouble(6) == 0.166667)
    val e = out("e")
    assert(e.getLong(2) == 0L && e.isNullAt(3) && e.isNullAt(6))
  }

  test("msprt: hand Λ fold, p capped at 1 then drops, silent-arm day NULLs") {
    val rows = Seq(
      ("k", "2024-01-01", 2L, 1.0), ("k", "2024-01-01", 4L, 3.0),
      ("k", "2024-01-01", 1L, 0.0), ("k", "2024-01-01", 3L, 2.0),
      ("k", "2024-01-02", 2L, 5.0), ("k", "2024-01-02", 4L, 5.0),
      ("k", "2024-01-02", 1L, 1.0), ("k", "2024-01-02", 3L, 1.0),
      ("e", "2024-01-01", 2L, 7.0))
    val df = rows.toDF("key", "ds", "u", "v")
      .withColumn("ts", to_timestamp(col("ds")))
    val out = etl.Experiment.msprt(df, Seq("key"), col("ts"),
      isTreat = col("u") % 2 === 0, valueCol = col("v"), tau = 1.0)
      .collect().map(r => (r.getString(0), r.getDate(1).toString) -> r)
      .toMap
    val d1 = out(("k", "2024-01-01")) // Λ < 1 → p capped at 1
    assert(d1.getDouble(4) == 1.0)
    assert(math.abs(d1.getDouble(5) -
      math.sqrt(2.0 / 3) * math.exp(1.0 / 12)) < 1e-5)
    assert(d1.getDouble(6) == 1.0 && !d1.getBoolean(7))
    val d2 = out(("k", "2024-01-02")) // Λ = √0.52·e^(6.25/4.51389)
    val lam2 = math.sqrt(1.083333333 / 2.083333333) *
      math.exp(6.25 / (2 * 1.0833333333 * 2.0833333333))
    assert(math.abs(d2.getDouble(5) - lam2) < 1e-4)
    assert(math.abs(d2.getDouble(6) - 1 / lam2) < 1e-4)
    val e1 = out(("e", "2024-01-01")) // control arm silent: no Λ, and
    // the always-valid p is trivially 1 before any evidence exists
    assert(e1.isNullAt(4) && e1.isNullAt(5))
    assert(e1.getDouble(6) == 1.0 && !e1.getBoolean(7))
  }

  test("ucb1: exploration bonus lets a 0-mean single-pull arm outrank a proven one") {
    val rows = Seq.fill(90)(("k", "d", true)) ++
      Seq.fill(10)(("k", "d", false)) :+ (("k", "e", false))
    val df = rows.toDF("key", "arm", "succ")
    val out = etl.Experiment.ucb1(df, Seq("key"), col("arm"),
      col("succ")).collect().map(r => r.getString(1) -> r).toMap
    val d = out("d") // 0.9 + √(2·ln101/100)
    assert(math.abs(d.getDouble(4) -
      (0.9 + math.sqrt(2 * math.log(101.0) / 100))) < 1e-5)
    val e = out("e") // mean 0, bonus √(2·ln101)
    assert(e.getDouble(3) == 0.0)
    assert(e.getBoolean(5) && !d.getBoolean(5),
      "optimism must pull the unexplored arm")
  }

  test("srm: absent design arm materializes at observed 0 and dominates the chi-square") {
    val rows = Seq.fill(50)(("k", 0L)) ++ Seq.fill(30)(("k", 1L))
    val df = rows.toDF("key", "u")
    val out = etl.Experiment.srm(df, Seq("key"), col("u"),
      expected = Seq(("0", 1.0 / 3), ("1", 1.0 / 3), ("2", 1.0 / 3)))
      .collect().map(r => r.getString(1) -> r).toMap
    val e = 80.0 / 3
    val chi2 = math.pow(50 - e, 2) / e + math.pow(30 - e, 2) / e +
      math.pow(0 - e, 2) / e
    val a2 = out("2")
    assert(a2.getLong(2) == 0L)
    assert(math.abs(a2.getDouble(4) - -math.sqrt(e)) < 1e-5)
    assert(math.abs(a2.getDouble(5) - chi2) < 1e-4)
  }

  test("brownForecast: constant series reads flat, hand ramp level/trend at α=0.5") {
    val rows = (0 to 4).map(i => ("r", f"2024-01-01 0$i%01d:00:00", i.toLong,
      i.toDouble)) ++ (0 to 4).map(i =>
      ("c", f"2024-01-01 0$i%01d:00:00", i.toLong, 5.0))
    val df = rows.toDF("k", "tss", "eid", "value")
      .withColumn("ts", to_timestamp(col("tss")))
    val out = etl.Aggregates.brownForecast(df, "k", "ts", "eid", "value",
      alpha = 0.5, span = 24, horizon = 6)
      .collect().map(r => r.getString(0) -> r).toMap
    val c = out("c")
    assert(c.getDouble(4) == 5.0 && c.getDouble(5) == 0.0 &&
      c.getDouble(6) == 5.0 && c.getDouble(7) == 5.0)
    val r = out("r") // hand: s1=3.161290, s2=2.443922 (6dp inter-pass)
    assert(math.abs(r.getDouble(2) - 3.161290) < 1e-5)
    assert(math.abs(r.getDouble(4) - 3.878658) < 1e-3)
    assert(math.abs(r.getDouble(5) - 0.717368) < 1e-3)
    assert(r.getDouble(5) > 0, "a ramp must read an upward trend")
  }

  test("fellegiSunter: agreement/disagreement log-ratios sum, NULL field is no evidence") {
    val pairs = Seq((1L, 2L, Some("x"), Some("x"), "a", "b", 1, 2),
      (3L, 4L, None: Option[String], Some("x"), "a", "a", 5, 5))
      .toDF("id_a", "id_b", "ta", "tb", "ca", "cb", "za", "zb")
    val out = operators.FuzzyJoin.fellegiSunter(pairs, Seq(
      ("type", col("ta") === col("tb"), 0.9, 0.05),
      ("container", col("ca") === col("cb"), 0.8, 0.1),
      ("size", col("za") === col("zb"), 0.85, 0.15)))
      .collect().map(r => r.getLong(0) -> r).toMap
    val w1 = math.log(0.9 / 0.05) + math.log(0.2 / 0.9) +
      math.log(0.15 / 0.85)
    assert(math.abs(out(1L).getAs[Double]("match_weight") - w1) < 1e-5)
    assert(out(1L).getAs[Long]("n_agree") == 1L)
    // pair 3: type NULL (0 evidence), container+size agree
    val w2 = math.log(0.8 / 0.1) + math.log(0.85 / 0.15)
    assert(math.abs(out(3L).getAs[Double]("match_weight") - w2) < 1e-5)
    assert(out(3L).getAs[Long]("n_agree") == 2L)
  }

  test("lastDigitUniformity: spiked digit named, absent digits still evidence") {
    val df = ((1 to 9).map(i => ("k", i * 10.0)) :+ (("k", 11.0)))
      .toDF("key", "v")
    val out = etl.Drift.lastDigitUniformity(df, Seq("key"), col("v"))
      .collect().head
    // digits: 0×9, 1×1; e=1 → chi2 = 64 + 0 + 8·1 = 72
    assert(out.getLong(1) == 10L && out.getDouble(2) == 72.0)
    assert(out.getInt(3) == 0 && out.getDouble(4) == 0.9)
  }

  test("rake: product-form table converges in one sweep, final col marginals exact") {
    val cells = Seq(("r1", "c1", 1L), ("r1", "c2", 1L),
      ("r2", "c1", 1L), ("r2", "c2", 1L)).toDF("r", "c", "n")
    val rt = Seq(("r1", 6.0), ("r2", 6.0)).toDF("r", "target")
    val ct = Seq(("c1", 4.0), ("c2", 8.0)).toDF("c", "target")
    val out = etl.Weighting.rake(cells, "r", "c", col("n"), rt, ct,
      sweeps = 3).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x).toMap
    assert(out(("r1", "c1")).getDouble(3) == 2.0)
    assert(out(("r1", "c2")).getDouble(3) == 4.0)
    assert(out(("r1", "c1")).getDouble(4) == 2.0, "weight = raked/n")
    assert(out(("r1", "c1")).getDouble(5) == 0.0, "row marginal exact")
    // structural zero: absent cell stays absent; final COLUMN
    // marginals are exact by construction (col sweep runs last)
    val cells2 = Seq(("r1", "c1", 1L), ("r2", "c1", 1L),
      ("r2", "c2", 1L)).toDF("r", "c", "n")
    val rt2 = Seq(("r1", 2.0), ("r2", 4.0)).toDF("r", "target")
    val ct2 = Seq(("c1", 3.0), ("c2", 3.0)).toDF("c", "target")
    val o2 = etl.Weighting.rake(cells2, "r", "c", col("n"), rt2, ct2,
      sweeps = 3).collect()
    val colSums = o2.groupBy(_.getString(1))
      .map { case (k, rows) => k -> rows.map(_.getDouble(3)).sum }
    assert(math.abs(colSums("c1") - 3.0) < 1e-5)
    assert(math.abs(colSums("c2") - 3.0) < 1e-5)
  }

  test("essDeff: hand Kish numbers, counts ≡ exploded units") {
    val df = Seq(("k", 1.0, 1L), ("k", 3.0, 1L), ("u", 1.0, 2L))
      .toDF("key", "w", "c")
    val out = etl.Weighting.essDeff(df, Seq("key"), col("w"), col("c"))
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k") // sw 4, sw2 10: ess 1.6, deff 1.25
    assert(k.getDouble(2) == 1.6 && k.getDouble(3) == 1.25)
    val u = out("u") // two uniform units via one counted cell
    assert(u.getLong(1) == 2L && u.getDouble(2) == 2.0 &&
      u.getDouble(3) == 1.0)
  }

  test("trimWeights: median cap flattens the spike, ESS recovers, mass accounted") {
    val df = (1 to 4).map(i => ("k", 1.0)) :+ (("k", 10.0))
    val out = etl.Weighting.trimWeights(df.toDF("key", "w"), Seq("key"),
      col("w"), p = 0.5).collect().head
    assert(out.getDouble(2) == 1.0, "cap = median")
    assert(math.abs(out.getDouble(3) - 9.0 / 14) < 1e-6)
    assert(math.abs(out.getDouble(4) - 196.0 / 104) < 1e-5)
    assert(out.getDouble(5) == 5.0, "uniform after trim: ESS = n")
  }

  test("waldIv: hand LATE = ITT/first-stage, weak instrument refuses the ratio") {
    val rows = Seq(("k", true, true, 10.0), ("k", true, true, 20.0),
      ("k", true, false, 0.0), ("k", true, false, 2.0),
      ("k", false, false, 1.0), ("k", false, false, 3.0),
      ("w", true, true, 5.0), ("w", false, true, 7.0))
    val df = rows.toDF("key", "z", "d", "y")
    val out = etl.Causal.waldIv(df, Seq("key"), col("z"), col("d"),
      col("y")).collect().map(r => r.getString(0) -> r).toMap
    val k = out("k") // itt = 8−2 = 6, fs = 0.5 → LATE 12
    assert(k.getDouble(3) == 6.0 && k.getDouble(4) == 0.5)
    assert(k.getDouble(5) == 12.0)
    val w = out("w") // everyone treated: fs = 0 → NULL, stages visible
    assert(w.getDouble(4) == 0.0 && w.isNullAt(5))
  }

  test("rdd: separate side fits, hand jump at the cutoff") {
    // centered x: left (−2,1),(−1,2) → line y = x+3; right (0,10),(1,11)
    val df = Seq(("k", 248L, 1.0), ("k", 249L, 2.0), ("k", 250L, 10.0),
      ("k", 251L, 11.0)).toDF("key", "u", "y")
    val out = etl.Causal.rdd(df, Seq("key"), col("u"), col("y"),
      cutoff = 250.0, bandwidth = 100.0).collect().head
    assert(out.getLong(1) == 2L && out.getLong(2) == 2L)
    assert(out.getDouble(3) == 3.0 && out.getDouble(4) == 10.0)
    assert(out.getDouble(5) == 1.0 && out.getDouble(6) == 1.0)
    assert(out.getDouble(7) == 7.0, "jump = right − left intercept")
  }

  test("eValue: hand bound, protective RR inverts to the same E") {
    val harm = Seq(("h", true, true), ("h", true, true),
      ("h", true, false), ("h", true, false),
      ("h", false, true), ("h", false, false), ("h", false, false),
      ("h", false, false)).toDF("key", "exp", "out")
    val o1 = etl.Causal.eValue(harm, Seq("key"), col("exp"), col("out"))
      .collect().head
    assert(o1.getDouble(3) == 2.0)
    assert(math.abs(o1.getDouble(4) - (2 + math.sqrt(2))) < 1e-6)
    val prot = harm.withColumn("exp", !col("exp"))
    val o2 = etl.Causal.eValue(prot, Seq("key"), col("exp"), col("out"))
      .collect().head
    assert(o2.getDouble(3) == 0.5)
    assert(math.abs(o2.getDouble(4) - (2 + math.sqrt(2))) < 1e-6,
      "protective RR must invert to the same E")
  }

  test("cIndex: perfect ordering reads 1, score tie takes half credit, censored-first pair unusable") {
    val df = Seq(("k", 1L, true, 9.0), ("k", 2L, true, 5.0),
      ("k", 3L, false, 1.0),
      ("t", 1L, true, 5.0), ("t", 2L, false, 5.0)).toDF("c", "d", "o", "s")
    val out = etl.Survival.cIndex(df, Seq("c"), col("d"), col("o"),
      col("s")).collect().map(r => r.getString(0) -> r).toMap
    assert(out("k").getLong(1) == 3L && out("k").getDouble(2) == 1.0)
    assert(out("t").getLong(1) == 1L && out("t").getDouble(2) == 0.5)
  }

  test("survivalSummary: hand step integral to τ, median at the 0.5 crossing, not-reached NULL") {
    val df = Seq(("k", 2L, true), ("k", 4L, true), ("k", 6L, false),
      ("n", 3L, false)).toDF("c", "dur", "o")
    val out = etl.Survival.survivalSummary(df, Seq("c"), "dur",
      col("o"), tau = 5.0).collect().map(r => r.getString(0) -> r).toMap
    val k = out("k") // 2·1 + 2·⅔ + 1·⅓ = 3.666667
    assert(math.abs(k.getDouble(1) - 3.666667) < 1e-5)
    assert(k.getLong(2) == 4L, "S first ≤ 0.5 at t=4")
    assert(k.getLong(3) == 6L && math.abs(k.getDouble(4) - 1.0 / 3) < 1e-5)
    val n = out("n") // pure censoring: S ≡ 1, median not reached
    assert(n.isNullAt(2) && n.getDouble(1) == 3.0 + 2.0,
      "head 3 at S=1 plus 2 more at S=1 to τ")
  }

  test("rateRatio: hand person-time rates and log-scale CI") {
    val df = Seq(("k", true, 5L, true), ("k", true, 5L, false),
      ("k", false, 10L, true), ("k", false, 10L, true))
      .toDF("c", "ex", "dur", "o")
    val out = etl.Survival.rateRatio(df, Seq("c"), col("ex"),
      col("dur"), col("o")).collect().head
    assert(out.getLong(1) == 1L && out.getDouble(2) == 10.0)
    assert(out.getLong(3) == 2L && out.getDouble(4) == 20.0)
    assert(out.getDouble(5) == 1.0, "0.1 vs 0.1 per day")
    val se = math.sqrt(1.0 + 0.5)
    assert(math.abs(out.getDouble(6) - math.exp(-1.96 * se)) < 1e-5)
    assert(math.abs(out.getDouble(7) - math.exp(1.96 * se)) < 1e-4)
  }

  test("inequality: hand Theil/Atkinson/Palma, uniform key reads all zeros and palma fixed") {
    val vals = Seq.fill(4)(1.0) ++ Seq.fill(5)(2.0) :+ 10.0
    val df = (vals.map(("k", _)) ++ Seq.fill(10)(("u", 3.0)))
      .toDF("key", "v")
    val out = etl.Aggregates.inequality(df, Seq("key"), col("v"))
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k") // μ = 2.4; hand sums
    val mu = 2.4
    val theil = (5 * 2 * math.log(2) + 10 * math.log(10)) / (10 * mu) -
      math.log(mu)
    val atk = 1 - math.exp((5 * math.log(2) + math.log(10)) / 10) / mu
    assert(math.abs(k.getDouble(3) - theil) < 1e-6)
    assert(math.abs(k.getDouble(4) - atk) < 1e-6)
    assert(k.getDouble(5) == 2.5, "top-10% sum 10 over bottom-40% sum 4")
    val u = out("u") // perfectly equal: every index reads 0, palma 1/4
    assert(u.getDouble(3) == 0.0 && u.getDouble(4) == 0.0)
    assert(math.abs(u.getDouble(5) - 3.0 / 12.0) < 1e-6,
      "uniform palma = k10/k40 by construction")
  }

  test("fisherIndex: hand L/P/F on a matched basket, unmatched item counted not priced") {
    val df = Seq(("A", 0, 10.0, 10.0), ("A", 1, 10.0, 5.0),
      ("B", 0, 4.0, 1.0), ("B", 1, 8.0, 2.0), ("C", 0, 3.0, 1.0))
      .toDF("item", "per", "spend", "qty")
    val out = etl.Econ.fisherIndex(df, col("item"), col("per") === 0,
      col("per") === 1, col("spend"), col("qty")).collect().head
    assert(out.getLong(0) == 3L && out.getLong(1) == 2L)
    val l = 24.0 / 14; val p = 18.0 / 13
    assert(math.abs(out.getDouble(2) - l) < 1e-6)
    assert(math.abs(out.getDouble(3) - p) < 1e-6)
    assert(math.abs(out.getDouble(4) - math.sqrt(l * p)) < 1e-6)
  }

  test("abcXyz: boundary-inclusive Pareto cut × CV classes, single-period item is Z") {
    val rows = Seq(("i1", "p1", 40.0, 10.0), ("i1", "p2", 40.0, 10.0),
      ("i2", "p1", 6.0, 1.0), ("i2", "p2", 9.0, 9.0),
      ("i3", "p1", 5.0, 3.0)).toDF("item", "per", "rev", "q")
    val out = etl.Econ.abcXyz(rows, col("item"), col("per"),
      col("rev"), col("q")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out(("A", "X")).getLong(2) == 1L, "80 hits the A boundary inclusively, CV 0")
    assert(out(("B", "Y")).getLong(2) == 1L, "CV 0.8 is Y")
    assert(out(("C", "Z")).getLong(2) == 1L, "single period has no CV")
    assert(out(("A", "X")).getDouble(4) == 0.8)
  }

  test("elasticityFe: planted within-item elasticity −2, single-row item contributes nothing") {
    val df = Seq(("i1", 1.0, 8.0), ("i1", 2.0, 2.0), ("i2", 99.0, 1.0))
      .toDF("item", "p", "q")
    val out = etl.Econ.elasticityFe(df, col("item"), col("p"), col("q"))
      .collect().head
    assert(out.getLong(0) == 3L && out.getLong(1) == 2L)
    assert(math.abs(out.getDouble(2) - -2.0) < 1e-6)
    assert(math.abs(out.getDouble(3) - 1.0) < 1e-6)
  }

  test("concentration: hand HHI/effective-N, single source flagged") {
    val df = Seq(("p1", "s1", 50.0), ("p1", "s2", 30.0),
      ("p1", "s3", 20.0), ("p2", "s9", 7.0)).toDF("g", "m", "v")
    val out = etl.Econ.concentration(df, col("g"), col("m"), col("v"))
      .collect().map(r => r.getString(0) -> r).toMap
    val p1 = out("p1") // shares .5/.3/.2 → HHI 0.38
    assert(p1.getLong(1) == 3L && p1.getDouble(2) == 0.38)
    assert(math.abs(p1.getDouble(3) - 1.0 / 0.38) < 1e-5)
    assert(p1.getDouble(4) == 0.5 && !p1.getBoolean(5))
    val p2 = out("p2")
    assert(p2.getDouble(2) == 1.0 && p2.getBoolean(5))
  }

  test("OuterProductAgg/VecSumAgg: hand scatter across partitions, NULL rows skipped, empty → NULL") {
    // rows x=[1,2], y=[3,4,5] and x=[10,20], y=[1,0,2]:
    // S = [[1*3+10*1, 1*4, 1*5+10*2], [2*3+20, 2*4, 2*5+40]]
    val df = Seq(
      (Seq(1.0, 2.0), Some(Seq(3.0, 4.0, 5.0))),
      (Seq(10.0, 20.0), Some(Seq(1.0, 0.0, 2.0))),
      (Seq(9.0, 9.0), None)) // NULL y → skipped
      .toDF("x", "y").repartition(3) // force multi-partition merge
    val row = df.agg(
      functions.OuterProductAgg.outerProductSum(col("x"), col("y")).as("s"),
      functions.VecSumAgg.vecSum(col("x")).as("v")).head()
    assert(row.getSeq[Double](0) ==
      Seq(13.0, 4.0, 25.0, 26.0, 8.0, 50.0), s"scatter: $row")
    assert(row.getSeq[Double](1) == Seq(20.0, 31.0), s"vec sum: $row")
    val empty = Seq(Seq(1.0)).toDF("x").filter(lit(false))
      .agg(functions.OuterProductAgg.outerProductSum(col("x"), col("x")))
      .head()
    assert(empty.isNullAt(0), "empty input evals to NULL")
  }

  test("VecMat: hand vector-matrix product, float vector, codegen plan") {
    // v=[1,2], M=[[1,2,3],[4,5,6]] → vM = [9, 12, 15]
    val m = Seq(Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))
    val df = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(0.0, 1.0))).toDF("id", "v")
    val out = df.select(col("id"),
        functions.VectorExpressions.vecMat(col("v"), typedLit(m)).as("mv"))
      .orderBy("id").collect()
    assert(out(0).getSeq[Double](1) == Seq(9.0, 12.0, 15.0), s"${out(0)}")
    assert(out(1).getSeq[Double](1) == Seq(4.0, 5.0, 6.0), s"${out(1)}")
    val fl = Seq((1L, Seq(2.0f, 0.0f))).toDF("id", "vf")
      .select(functions.VectorExpressions.vecMat(col("vf"), typedLit(m)))
      .head()
    assert(fl.getSeq[Double](0) == Seq(2.0, 4.0, 6.0), s"float input: $fl")
    // stays inside whole-stage codegen (no interpreted fallback) — a
    // range source, because a LocalRelation is folded before codegen
    val cg = spark.range(2).select(functions.VectorExpressions
      .vecMat(array(lit(1.0), col("id").cast("double")), typedLit(m)).as("mv"))
    val plan = cg.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [vec_mat"),
      s"codegen span (the *(n) marker) expected on the projection:\n$plan")
    val cgRows = cg.orderBy("mv").collect() // executes the generated code
    assert(cgRows(0).getSeq[Double](0) == Seq(1.0, 2.0, 3.0), s"${cgRows(0)}")
    assert(cgRows(1).getSeq[Double](0) == Seq(5.0, 7.0, 9.0), s"${cgRows(1)}")
  }

  test("pc1Fit at d=256: plan uses the typed scatter aggregate, no posexplode; loadings match the planted axis") {
    import scala.util.Random
    val rnd = new Random(7)
    val d = 256
    // planted: dim 17 has 10x the variance of the isotropic noise
    val rows = (0 until 300).map { _ =>
      val v = Array.fill(d)(rnd.nextGaussian() * 0.1)
      v(17) += rnd.nextGaussian() * 3.0
      v.toSeq
    }
    val df = rows.toDF("v")
    // the plan the aggregate replaces the n·d² explode with: ONE
    // partial_outer_product_sum per partition, zero Generate nodes
    val vd = transform(col("v"), x => x.cast("double"))
    val aggPlan = df.agg(functions.OuterProductAgg
        .outerProductSum(vd, vd)).queryExecution.executedPlan.toString
    assert(aggPlan.contains("outer_product_sum"), s"agg in plan:\n$aggPlan")
    assert(!aggPlan.contains("Generate"), s"no explode in plan:\n$aggPlan")
    val (w, share) = sim.Geometry.pc1Fit(df, "v", iters = 10)
    assert(w.length == d)
    val argmax = w.indices.maxBy(i => math.abs(w(i)))
    assert(argmax == 17, s"planted axis recovered: $argmax")
    assert(share > 0.5, s"var share dominated by the planted axis: $share")
  }

  test("Procrustes: rank-deficient overlap still yields an ORTHOGONAL W (Gram-Schmidt completion); empty overlap errors clearly") {
    // all vectors in a 1-d subspace of d=4 → C has rank 1
    val a = Seq((1L, Seq(1.0, 0.0, 0.0, 0.0)), (2L, Seq(2.0, 0.0, 0.0, 0.0)),
      (3L, Seq(-1.0, 0.0, 0.0, 0.0))).toDF("id", "v")
    val b = Seq((1L, Seq(0.0, 1.0, 0.0, 0.0)), (2L, Seq(0.0, 2.0, 0.0, 0.0)),
      (3L, Seq(0.0, -1.0, 0.0, 0.0))).toDF("id", "v")
    val w = sim.Procrustes.fitW(a, b, "id", "v")
    val d = w.length
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(k => w(i)(k) * w(j)(k)).sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-9,
        s"WW^T[$i][$j] = $dot — W must be fully orthogonal")
    }
    // the witnessed direction still maps correctly: e1 -> e2
    assert(math.abs(w(0)(1) - 1.0) < 1e-9, s"e1 maps to e2: ${w(0).toSeq}")
    // alignReport's cos_after = 1 for the witnessed ids (norm preserved)
    val rep = sim.Procrustes.alignReport(a, b, "id", "v")
      .orderBy("id").collect()
    assert(rep.forall(r => math.abs(r.getDouble(2) - 1.0) < 1e-5),
      s"aligned cosines: ${rep.toSeq}")
    val err = intercept[IllegalArgumentException] {
      sim.Procrustes.fitW(a, b.withColumn("id", col("id") + 100L), "id", "v")
    }
    assert(err.getMessage.contains("share no"), err.getMessage)
  }

  test("Urls: non-default ports are distinct origins; scheme-aware default stripping; digit-suffixed utm params dropped") {
    val df = Seq(
      (1L, "http://x.com:443/a"),   // NOT http's default → kept
      (2L, "https://x.com:80/a"),   // NOT https's default → kept
      (3L, "http://x.com:80/a"),    // default → stripped
      (4L, "https://WWW.x.com:443/a"), // default + www → stripped
      (5L, "http://x.com/a?utm_source_2=z&utm_id=7&b=1&fbclid=q"))
      .toDF("id", "url")
    val out = text.Urls.canonicalize(df, col("url"))
      .orderBy("id").select("canonical").as[String].collect()
    assert(out(0) == "http://x.com:443/a", out(0))
    assert(out(1) == "https://x.com:80/a", out(1))
    assert(out(2) == "http://x.com/a", out(2))
    assert(out(3) == "https://x.com/a", out(3))
    assert(out(4) == "http://x.com/a?b=1", out(4))
  }

  test("PageRank redistributeDangling: mass conserved to 1e-9; default leaks it; hand recurrence on a 3-node sink graph") {
    import spark.implicits._
    // a -> b, a -> c, b -> c; c is a sink
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("s", "d")
    val leaked = operators.PageRank.run(edges, "s", "d", iters = 10)
      .agg(sum(col("rank"))).head().getDouble(0)
    assert(leaked < 0.6, s"default leaks sink mass: total=$leaked")
    val kept = operators.PageRank.run(edges, "s", "d", iters = 10,
      redistributeDangling = true)
    val total = kept.agg(sum(col("rank"))).head().getDouble(0)
    assert(math.abs(total - 1.0) < 1e-9, s"mass conserved: $total")
    // hand recurrence, 2 rounds, d=0.85, n=3, start 1/3 each:
    //   m1 = r(c)/3; a' = .05 + .85*m1; b' = .05 + .85*(a/2 + m1);
    //   c' = .05 + .85*(a/2 + b + m1)
    var (ra, rb, rc) = (1.0 / 3, 1.0 / 3, 1.0 / 3)
    for (_ <- 1 to 10) {
      val m = rc / 3
      val (na, nb, nc) = (0.05 + 0.85 * m, 0.05 + 0.85 * (ra / 2 + m),
        0.05 + 0.85 * (ra / 2 + rb + m))
      ra = na; rb = nb; rc = nc
    }
    val got = kept.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(got("a") - ra) < 1e-9 && math.abs(got("b") - rb) < 1e-9 &&
      math.abs(got("c") - rc) < 1e-9, s"hand recurrence: $got vs ($ra,$rb,$rc)")
    // personalized: dangling mass teleports to the SEEDS — conserved too
    val seeds = Seq("a").toDF("n")
    val ppr = operators.PageRank.personalized(edges, "s", "d", seeds, "n",
      iters = 10, redistributeDangling = true)
    val pprTotal = ppr.agg(sum(col("rank"))).head().getDouble(0)
    assert(math.abs(pprTotal - 1.0) < 1e-9, s"PPR mass conserved: $pprTotal")
  }

  test("participationRatio: +-1 cube on 3 of 6 dims reads exactly 3; one direction reads 1; degenerate NULL") {
    import spark.implicits._
    // all 8 sign combos over dims 0-2, dims 3-5 constant zero:
    // C = I_3 (+) 0 -> tr = 3, tr(C^2) = 3, PR = 3, share = 0.5
    val cube = (0 until 8).map { m =>
      Seq(if ((m & 1) == 0) -1.0 else 1.0, if ((m & 2) == 0) -1.0 else 1.0,
        if ((m & 4) == 0) -1.0 else 1.0, 0.0, 0.0, 0.0)
    }
    val pr3 = sim.Geometry.participationRatio(cube.toDF("v"), "v")
      .collect().head
    assert(pr3.getLong(0) == 6L && pr3.getLong(1) == 8L, s"$pr3")
    assert(pr3.getDouble(3) == 3.0 && pr3.getDouble(4) == 0.5,
      s"PR of a 3-dim cube in 6-dim space: $pr3")
    // every row a multiple of e_1 -> rank-1 covariance -> PR = 1
    val line = Seq(1.0, 2.0, 3.0, 4.0).map(t => Seq(t, 0.0, 0.0))
    val pr1 = sim.Geometry.participationRatio(line.toDF("v"), "v")
      .collect().head
    assert(pr1.getDouble(3) == 1.0, s"one-direction corpus: $pr1")
    // constant corpus: zero variance -> NULL ratio, trace 0 visible
    val const = Seq.fill(3)(Seq(7.0, 7.0)).toDF("v")
    val pr0 = sim.Geometry.participationRatio(const, "v").collect().head
    assert(pr0.isNullAt(3) && pr0.getDouble(2) == 0.0,
      s"degenerate corpus NULL: $pr0")
  }

  test("knBigramLogProb: hand interpolated-KN on a 3-doc corpus; observed continuations sum to 1; short docs drop") {
    import spark.implicits._
    // bigrams: (a,b) x2, (a,c) x1 -> c1(a)=3, N1f(a)=2, B=2 types,
    // pcont(b)=pcont(c)=1/2. P(b|a) = (2-.75 + .75*2*.5)/3 = 2/3;
    // P(c|a) = (.25 + .75)/3 = 1/3 — and they sum to 1 (KN normalizes).
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "solo"))
      .toDF("doc_id", "text")
    val out = text.Corpus.knBigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!out.contains(4L), "sub-2-token doc has no bigram")
    assert(math.abs(out(1L).getDouble(2) - math.log(2.0 / 3)) < 1e-6,
      s"P(b|a)=2/3: ${out(1L)}")
    assert(math.abs(out(3L).getDouble(2) - math.log(1.0 / 3)) < 1e-6,
      s"P(c|a)=1/3: ${out(3L)}")
    assert(out(1L).getLong(1) == 1L && out(2L).getDouble(2) ==
      out(1L).getDouble(2), "identical docs score identically")
  }

  test("knTrigramLogProb: hand interpolated-KN with estimated discounts on a 3-doc corpus; observed continuations sum to 1; short docs drop") {
    import spark.implicits._
    // trigrams: (a,b,c) x2, (a,b,d) x1 -> count-of-counts n1=1, n2=1
    //   => D_hi = 1/3. Continuation counts N1+(.bc)=N1+(.bd)=1 -> n1=2,
    //   n2=0 => D_mid = 1. Middle: den2(b)=2, n1f2(b)=2, pcont=1/2 each
    //   => p_mid(c|b)=p_mid(d|b)=1/2. Top: c(ab.)=3, N1+(ab.)=2:
    //   p(c|ab) = (2-1/3 + (1/3)*2*(1/2))/3 = 2/3
    //   p(d|ab) = (1-1/3 + 1/3)/3 = 1/3  — and they sum to 1.
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b d"),
      (4L, "x y")).toDF("doc_id", "text")
    val out = text.Corpus.knTrigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!out.contains(4L), "sub-3-token doc has no trigram")
    assert(math.abs(out(1L).getDouble(2) - math.log(2.0 / 3)) < 1e-6,
      s"P(c|ab)=2/3: ${out(1L)}")
    assert(math.abs(out(3L).getDouble(2) - math.log(1.0 / 3)) < 1e-6,
      s"P(d|ab)=1/3: ${out(3L)}")
    assert(out(1L).getDouble(3) == 0.333333 && out(1L).getDouble(4) == 1.0,
      s"estimated discounts ride the rows: ${out(1L)}")
    assert(out(2L).getDouble(2) == out(1L).getDouble(2),
      "identical docs score identically")
  }

  test("alphaSpending: both functions spend exactly alpha at t=1; a planted z~3 effect crosses Pocock at look 1 but not OBF-type, and crosses both by look 5") {
    import spark.implicits._
    // 20 rows/arm/look over 5 equal time slices; value = 1.0 + (i%2)*0.2
    // (+0.0961 for treat) -> per-arm s2 = 20*0.01/19, cumulative look-1
    // Welch z = 0.0961/sqrt(2*s2/20) = 2.962, p_two = 0.00306 — between
    // the OBF-type look-1 increment (2(1-Phi(4.383)) = 1.2e-5) and the
    // Pocock-type one (0.05*ln(1+0.3437) = 0.01477)
    val rows = for {
      look <- 0 until 5
      i <- 0 until 40
    } yield {
      val treat = i % 2 == 0
      val v = 1.0 + (i / 2 % 2) * 0.2 + (if (treat) 0.0961 else 0.0)
      ("k", new java.sql.Timestamp(look.toLong), // 1 ms apart -> 5 looks
        if (treat) 0L else 1L, v)
    }
    val df = rows.toDF("event_type", "ts", "user_id", "value")
    val out = etl.Experiment.alphaSpending(df, Seq("event_type"),
        col("ts"), isTreat = col("user_id") % 2 === 0,
        valueCol = col("value"))
      .orderBy(col("look")).collect()
    assert(out.length == 5)
    val l1 = out(0); val l5 = out(4)
    // both spending functions hit exactly alpha at full information
    assert(l5.getAs[Double]("obf_spent") == 0.05, l5)
    assert(l5.getAs[Double]("pocock_spent") == 0.05, l5)
    // increments are positive and sum to the cumulative spend
    assert(math.abs(out.map(_.getAs[Double]("obf_inc")).sum - 0.05) < 1e-5)
    assert(math.abs(out.map(_.getAs[Double]("pocock_inc")).sum - 0.05) < 1e-5)
    // the planted effect: Pocock fires at look 1, OBF-type does not
    assert(math.abs(l1.getAs[Double]("z") - 2.962) < 0.01, l1)
    assert(l1.getAs[Boolean]("crossed_pocock") && !l1.getAs[Boolean]("crossed_obf"), l1)
    // by the final look the cumulative z (~6.6) crosses both
    assert(l5.getAs[Boolean]("crossed_obf") && l5.getAs[Boolean]("crossed_pocock"), l5)
  }

  test("knFourgramLogProb: hand interpolated-KN one order up; observed continuations sum to 1; short docs drop") {
    import spark.implicits._
    // fourgrams: (a,b,c,d) x2, (a,b,c,e) x1 -> n1=1, n2=1 => D4 = 1/3.
    //   cont3 types (b,c,d)/(b,c,e) both 1 -> D3 = 1; cont2 types
    //   (c,d)/(c,e) both 1 -> D2 = 1. p_low(d)=p_low(e)=1/2;
    //   p_mid2 = p_mid3 = 1/2 each. Top: c(abc.)=3, N1+(abc.)=2:
    //   p(d|abc) = (2-1/3 + (1/3)*2*(1/2))/3 = 2/3
    //   p(e|abc) = (1-1/3 + 1/3)/3 = 1/3  — they sum to 1.
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "a b c e"),
      (4L, "x y z")).toDF("doc_id", "text")
    val out = text.Corpus.knFourgramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!out.contains(4L), "sub-4-token doc has no fourgram")
    assert(math.abs(out(1L).getDouble(2) - math.log(2.0 / 3)) < 1e-6,
      s"P(d|abc)=2/3: ${out(1L)}")
    assert(math.abs(out(3L).getDouble(2) - math.log(1.0 / 3)) < 1e-6,
      s"P(e|abc)=1/3: ${out(3L)}")
    assert(out(1L).getDouble(3) == 0.333333 &&
      out(1L).getDouble(4) == 1.0 && out(1L).getDouble(5) == 1.0,
      s"estimated discounts ride the rows: ${out(1L)}")
    assert(out(2L).getDouble(2) == out(1L).getDouble(2),
      "identical docs score identically")
  }

  test("knDiscount: Chen-Goodman estimate in (0,1]; no-singleton corpora fall back to the fixed bigram discount") {
    assert(text.Corpus.knDiscount(3, 2) == 3.0 / 7.0)
    assert(text.Corpus.knDiscount(2, 0) == 1.0)
    // every n-gram repeats (tiny vocab / duplicated corpus): the
    // estimate is 0/2n2-undefined — documented fallback to 0.75
    assert(text.Corpus.knDiscount(0, 5) == 0.75)
    assert(text.Corpus.knDiscount(0, 0) == 0.75)
  }

  test("knTrigramLogProb: no-singleton corpus scores with the fallback discounts instead of erroring") {
    import spark.implicits._
    // every trigram appears exactly twice -> n1 = 0 at the TOP order
    // (D_hi falls back to 0.75); the middle order's CONTINUATION counts
    // N1+(.bc) = N1+(.bd) = 1 are singletons -> D_mid = 2/(2+0) = 1.0
    // (estimated, no fallback needed)
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b d"),
      (4L, "a b d")).toDF("doc_id", "text")
    val out = text.Corpus.knTrigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getDouble(3) == 0.75 && out(1L).getDouble(4) == 1.0,
      s"top-order fallback, middle estimated: ${out(1L)}")
    // D_mid=1: p_mid(c|b) = (0 + 1*2*(1/2))/2 = .5;
    // D_hi=.75: p(c|ab) = ((2-.75) + .75*2*.5)/4 = .5 — sums to 1
    assert(math.abs(out(1L).getDouble(2) - math.log(0.5)) < 1e-6,
      s"${out(1L)}")
  }

  test("Bench.priorColds: parses the queries object out of bench-latest.json; absent/garbled files yield empty") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bench").toString
    val f = s"$tmp/bench-latest.json"
    // the exact line shape Bench writes: n_queries BEFORE the queries
    // object (the indexOf must not bite on it), telemetry after
    java.nio.file.Files.write(java.nio.file.Paths.get(f),
      ("{\"metric\":\"total_full\",\"n_queries\":2,\"inversions\":{}," +
        "\"queries\":{\"q01_agg\":1.234,\"q02_x\":10.5}," +
        "\"warm\":{\"q01_agg\":0.9},\"telemetry\":{}}").getBytes("UTF-8"))
    val m = Bench.priorColds(f)
    assert(m == Map("q01_agg" -> 1.234, "q02_x" -> 10.5), m.toString)
    assert(Bench.priorColds(s"$tmp/nope.json").isEmpty, "missing file")
    java.nio.file.Files.write(java.nio.file.Paths.get(f),
      "not json at all".getBytes("UTF-8"))
    assert(Bench.priorColds(f).isEmpty, "garbled file")
  }

  test("Blocks.hardReset: drops the broadcast blocks releaseSince leaves behind; a replayed persist survives (the CacheManager landmine)") {
    import spark.implicits._
    val before = Blocks.persistedIds(spark)
    // force a real broadcast-hash join (blocks land in the block manager)
    val big = spark.range(10000).toDF("id")
    val small = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    big.join(broadcast(small), "id").count()
    Blocks.hardReset(spark, before)
    val resid = org.apache.spark.GraftSparkShims
      .storageBlocks(spark.sparkContext)
      .filter(_._1.startsWith("broadcast"))
    assert(resid.isEmpty, s"broadcast blocks survived hardReset: $resid")
    // the r12 bench landmine: a PARQUET-backed persist, reset, then the
    // structurally-identical persist again — without clearing the
    // relation cache the second persist reuses the stale physical plan
    // and dies fetching the dropped hadoop-conf broadcast
    val dir = java.nio.file.Files.createTempDirectory("graft_hardreset").toString
    spark.range(1000).toDF("id").write.mode("overwrite").parquet(s"$dir/t")
    def run(): Long = {
      val b = Blocks.persistedIds(spark)
      val df = spark.read.parquet(s"$dir/t").filter(col("id") % 2 === 0)
        .persist()
      val n = df.count()
      Blocks.hardReset(spark, b)
      n
    }
    assert(run() == 500L)
    assert(run() == 500L, "replayed persist after hardReset must not " +
      "resurrect a stale cached plan (destroyed broadcast)")
  }

  test("participationRatioBy: per-key PR isolates the collapsed cohort; matches the global fn on a single-key corpus") {
    import spark.implicits._
    // key 1: the 3-dim cube (PR 3); key 2: a one-direction corpus (PR 1)
    val cube = (0 until 8).map { m =>
      (1L, Seq(if ((m & 1) == 0) -1.0 else 1.0,
        if ((m & 2) == 0) -1.0 else 1.0,
        if ((m & 4) == 0) -1.0 else 1.0, 0.0, 0.0, 0.0))
    }
    val line = Seq(1.0, 2.0, 3.0, 4.0).map(t =>
      (2L, Seq(t, 0.0, 0.0, 0.0, 0.0, 0.0)))
    val out = sim.Geometry.participationRatioBy(
      (cube ++ line).toDF("k", "v"), "k", "v")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getDouble(4) == 3.0 && out(1L).getLong(2) == 8L,
      s"cube cohort: ${out(1L)}")
    assert(out(2L).getDouble(4) == 1.0, s"collapsed cohort: ${out(2L)}")
    // keyed fn on a single-key corpus == the global fn
    val g = sim.Geometry.participationRatio(cube.map(_._2).toDF("v"), "v")
      .collect().head
    assert(g.getDouble(3) == out(1L).getDouble(4),
      "single-key grouped PR equals the global PR")
  }

  test("covFit family: NULL-vector rows excluded from n — NULL-laced corpus equals the NULL-free corpus exactly") {
    import spark.implicits._
    // the moment aggregates skip NULL vectors; n must count the SAME rows
    // or every covariance cell divides by an inflated denominator
    val cube = (0 until 8).map { m =>
      Some(Seq(if ((m & 1) == 0) -1.0 else 1.0,
        if ((m & 2) == 0) -1.0 else 1.0,
        if ((m & 4) == 0) -1.0 else 1.0, 0.0, 0.0, 0.0))
    }
    val laced = (cube ++ Seq(None, None, None)).toDF("v")
    val clean = cube.toDF("v")
    val prL = sim.Geometry.participationRatio(laced, "v").collect().head
    val prC = sim.Geometry.participationRatio(clean, "v").collect().head
    assert(prL.getLong(1) == 8L, s"n_vectors counts non-NULL only: $prL")
    assert(prL.getDouble(3) == prC.getDouble(3) &&
      prL.getDouble(2) == prC.getDouble(2),
      s"NULL rows must not bias the covariance: $prL vs $prC")
    // removeTopComponent: same mean/PC1 with or without the NULL rows
    // (NULL-vec rows pass through the map with NULL debiased values)
    val lacedIds = (cube.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      Seq((100L, None), (101L, None))).toDF("id", "v")
    val cleanIds = cube.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val dL = sim.Geometry.removeTopComponent(lacedIds, "id", "v")
      .filter(col("id") < 100).orderBy("id", "pos")
      .select("debiased").as[Option[Double]].collect()
    val dC = sim.Geometry.removeTopComponent(cleanIds, "id", "v")
      .orderBy("id", "pos").select("debiased").as[Option[Double]].collect()
    assert(dL.toSeq == dC.toSeq,
      "debiasing must use the NULL-free mean and PC1")
    // keyed form: a NULL row inside a key doesn't skew it; an all-NULL
    // key folds away instead of dividing NULL moments by a nonzero n
    val keyed = (cube.map(v => (1L, v)) ++
      Seq((1L, None), (2L, None), (2L, None))).toDF("k", "v")
    val by = sim.Geometry.participationRatioBy(keyed, "k", "v").collect()
    assert(by.length == 1 && by.head.getLong(0) == 1L,
      s"all-NULL key dropped: ${by.toSeq}")
    assert(by.head.getLong(2) == 8L && by.head.getDouble(4) == 3.0,
      s"keyed PR unbiased by the NULL row: ${by.head}")
  }

  test("CovStream.covBatch: n counts only non-NULL vectors, so the persisted moment triple stays internally consistent") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_covnull").toString
    val cube = (0 until 8).map { m =>
      Some(Seq(if ((m & 1) == 0) -1.0 else 1.0,
        if ((m & 2) == 0) -1.0 else 1.0,
        if ((m & 4) == 0) -1.0 else 1.0, 0.0, 0.0, 0.0))
    }
    // batch 0 carries NULL vectors; batch 1 is clean
    streaming.CovStream.covBatch(
      (cube.take(4) ++ Seq(None, None)).toDF("v"), 0L, "v", s"$tmp/state")
    streaming.CovStream.covBatch(
      cube.drop(4).toDF("v"), 1L, "v", s"$tmp/state")
    val landed = spark.read.parquet(s"$tmp/state/moments")
      .select("n").as[Long].collect().sorted
    assert(landed.toSeq == Seq(4L, 4L),
      s"per-batch n must match the rows the moments consumed: ${landed.toSeq}")
    val merged = streaming.CovStream.participationRatio(spark, s"$tmp/state")
      .collect().head
    val oneShot = sim.Geometry.participationRatio(cube.toDF("v"), "v")
      .collect().head
    assert(merged.getLong(1) == 8L &&
      merged.getDouble(3) == oneShot.getDouble(3),
      s"merged readout unbiased by NULL batch rows: $merged vs $oneShot")
  }

  test("AnnVerdict.topKVerdict: perfect ANN reads all-1s; dropped query fails coverage; low recall fails the floor; unsorted fails sorted_ok") {
    import spark.implicits._
    val truth = Seq(
      (1L, 10L, 0.9, 1L), (1L, 11L, 0.8, 2L),
      (2L, 20L, 0.7, 1L), (2L, 21L, 0.6, 2L))
      .toDF("query_id", "neighbor_id", "cosine", "rank")
    val perfect = sim.AnnVerdict.topKVerdict(truth, truth, k = 2,
      recallFloor = 1.0).head()
    assert(perfect.getLong(0) == 2L && perfect.getLong(1) == 2L &&
      perfect.getLong(2) == 1L && perfect.getLong(3) == 1L &&
      perfect.getLong(4) == 1L, s"$perfect")
    // query 2 missing entirely: coverage 0 AND its recall counts as 0
    val dropped = truth.filter(col("query_id") === 1L)
    val v2 = sim.AnnVerdict.topKVerdict(dropped, truth, k = 2,
      recallFloor = 0.6).head()
    assert(v2.getLong(0) == 2L, "query universe comes from truth")
    assert(v2.getLong(2) == 0L, s"coverage must fail: $v2")
    assert(v2.getLong(4) == 0L, s"mean recall 0.5 < 0.6 must fail: $v2")
    // wrong neighbors: recall 0
    val wrong = truth.withColumn("neighbor_id", col("neighbor_id") + 100L)
    val v3 = sim.AnnVerdict.topKVerdict(wrong, truth, k = 2,
      recallFloor = 0.1).head()
    assert(v3.getLong(4) == 0L && v3.getLong(2) == 1L, s"$v3")
    // scores increasing with rank: sorted_ok 0
    val unsorted = Seq((1L, 10L, 0.5, 1L), (1L, 11L, 0.8, 2L),
      (2L, 20L, 0.7, 1L), (2L, 21L, 0.6, 2L))
      .toDF("query_id", "neighbor_id", "cosine", "rank")
    val v4 = sim.AnnVerdict.topKVerdict(unsorted, truth, k = 2,
      recallFloor = 0.0).head()
    assert(v4.getLong(3) == 0L, s"unsorted must fail: $v4")
  }

  test("AnnVerdict.mmrVerdict: first pick carries the candidate relevance; picks outside the candidate list fail subset_ok; repeats fail distinct_ok") {
    import spark.implicits._
    val cands = Seq((1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.7))
      .toDF("query_id", "neighbor_id", "cosine")
    val mmr = Seq((1L, 10L, 1L, 0.63), (1L, 12L, 2L, 0.2))
      .toDF("query_id", "doc_id", "mmr_rank", "mmr_score")
    val v = sim.AnnVerdict.mmrVerdict(mmr, cands, k = 2).head()
    assert(v.getLong(1) == 10L && v.getDouble(2) == 0.9 &&
      v.getLong(3) == 2L && v.getLong(4) == 1L && v.getLong(5) == 1L, s"$v")
    val rogue = Seq((1L, 10L, 1L, 0.63), (1L, 99L, 2L, 0.2))
      .toDF("query_id", "doc_id", "mmr_rank", "mmr_score")
    val vr = sim.AnnVerdict.mmrVerdict(rogue, cands, k = 2).head()
    assert(vr.getLong(4) == 0L, s"pick 99 not in candidates: $vr")
    val repeat = Seq((1L, 10L, 1L, 0.63), (1L, 10L, 2L, 0.2))
      .toDF("query_id", "doc_id", "mmr_rank", "mmr_score")
    val vd = sim.AnnVerdict.mmrVerdict(repeat, cands, k = 2).head()
    assert(vd.getLong(5) == 0L, s"repeated pick: $vd")
  }

  test("Procrustes.fitW: unequal snapshot widths error clearly even when dx*dy is a perfect square (4x9)") {
    import spark.implicits._
    val a = Seq((1L, Seq.fill(4)(1.0)), (2L, Seq.fill(4)(2.0))).toDF("id", "v")
    val b = Seq((1L, Seq.fill(9)(1.0)), (2L, Seq.fill(9)(2.0))).toDF("id", "v")
    // 4*9 = 36 = 6² — the sqrt-derived d would silently mis-index the
    // row-major buffer instead of erroring
    val err = intercept[IllegalArgumentException] {
      sim.Procrustes.fitW(a, b, "id", "v")
    }
    assert(err.getMessage.contains("widths differ"), err.getMessage)
  }

  test("q383 state dir is self-contained: a stale alien batch dir from a 'previous build' is wiped at query entry") {
    import spark.implicits._
    // plant batch=99 — a batch id today's {0,1,2} grid never writes, so
    // without the entry wipe it would survive every overwrite and leak
    // into dupProfile's merged read (r13's latent hazard)
    val staleDir = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_q383_${Integer.toHexString(sfDir.hashCode)}" +
        s"-p${ProcessHandle.current().pid()}/cells/batch=99")
    staleDir.mkdirs()
    Seq(("ALIEN_SOURCE", "deadbeef", 1000L)).toDF("source", "fp", "c")
      .coalesce(1).write.mode("overwrite").parquet(staleDir.getAbsolutePath)
    val out = SparkEntry.queries("q383_stream_census")(spark, sfDir)
    val sources = out.select("source").collect().map(_.getString(0)).toSet
    assert(!sources.contains("ALIEN_SOURCE"),
      s"stale batch dir leaked into the census: $sources")
    assert(out.count() > 0)
  }
}
