package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the `private[sql]` Column↔Expression converters — the
  * supported way for external libraries to wrap custom Catalyst
  * expressions as user-facing Columns in Spark 4 (the Column constructor
  * taking an Expression moved behind `org.apache.spark.sql.classic`) —
  * and to `Dataset.ofRows` for wrapping custom logical plans.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  def hasOptimizerRule(spark: SparkSession, rule: AnyRef): Boolean =
    spark.asInstanceOf[classic.SparkSession].sessionState.optimizer
      .extendedOperatorOptimizationRules.exists(_ eq rule)

  /** Bucket spec of a catalog table as (numBuckets, bucketCols, sortCols),
    * None when the table is unbucketed. Reading it from the catalog (vs
    * threading a count parameter around) makes bucketed APPENDS
    * mismatch-proof: the writer re-states exactly the spec the table was
    * created with.
    */
  def bucketSpec(spark: SparkSession, table: String): Option[(Int, Seq[String], Seq[String])] = {
    val ss = spark.asInstanceOf[classic.SparkSession].sessionState
    val ident = ss.sqlParser.parseTableIdentifier(table)
    ss.catalog.getTableMetadata(ident).bucketSpec
      .map(b => (b.numBuckets, b.bucketColumnNames, b.sortColumnNames))
  }

  /** Resolved storage location of a catalog table — correct under any
    * current database (<warehouse>/<db>.db/<table>), unlike path
    * reconstruction from the warehouse dir.
    */
  def tableLocation(spark: SparkSession, table: String): java.net.URI = {
    val ss = spark.asInstanceOf[classic.SparkSession].sessionState
    ss.catalog.getTableMetadata(ss.sqlParser.parseTableIdentifier(table)).location
  }

  /** Lineage cut for iterative loops that stays in InternalRow: run the
    * plan once, cache the raw row blocks, and return a Dataset rooted at
    * a LogicalRDD over them plus the RDD handle for deterministic
    * release. Replaces `createDataFrame(df.rdd, df.schema)`, which pays
    * a per-row InternalRow→external-Row→InternalRow round trip (the
    * optimization guide's §1.4 `.rdd` tax). NOTE on partitioning:
    * although `fromDataset` is the `localCheckpoint` mechanism and CAN
    * carry the executed plan's partitioning/ordering, in practice the
    * committed steady-state plans show `UnknownPartitioning(0)` on the
    * resulting ExistingRDD (plans/r17/q106_pagerank_round2_steady_state
    * .txt:491) — the AQE-finalized root's partitioning does not survive
    * the attribute rewrite — and the next round's rank join broadcasts
    * the small cut side anyway (BroadcastHashJoin, same plan:501), so no
    * per-round Exchange is saved. The measured wins of this helper are
    * the decode tax and the deterministic block release, nothing more.
    *
    * `eager=true` materializes before returning (the common loop shape);
    * `eager=false` lets the caller's own action (e.g. a convergence
    * count) be the materializing pass — but under AQE `toRdd` itself
    * already executes every INTERMEDIATE shuffle stage at cut-creation
    * time (stage-by-stage re-optimization), so only the final stage is
    * actually deferred to the caller's action. The cut is persisted
    * MEMORY_AND_DISK as a normal cached Dataset — the caller owns its
    * `unpersist` ([[graft.Blocks.Rounds]] owns it for every loop's round
    * cuts) — unlike `localCheckpoint`, whose block handle is unreachable
    * and whose blocks a loop would leak until the session-level reset.
    *
    * The graph loops also build their loop-invariant inputs (edge
    * frames, node sets) with it instead of `persist` + `count`. Spark
    * plans a cached frame without AQE's partition coalescing
    * (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` is
    * false), so it keeps every shuffle partition: q170's edge frame, a
    * union of two `distinct`s, was cached as 64 tiny partitions, and
    * every BFS round ran 65 tasks to relax it. The cut keeps the AQE
    * plan's coalesced partition count instead.
    */
  def cachedCut(df: Dataset[Row], eager: Boolean = true): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    // toRdd finalizes the (AQE) physical plan, so fromDataset can read
    // its real output partitioning/ordering; the RDD itself is NOT
    // persisted — the returned Dataset is, which (a) caches columnar
    // with ACTUAL size statistics (losing them demotes downstream
    // broadcast joins to sort-merge — measured on q66/q69's final
    // comps⋈docs join) and (b) keeps the usual persist/unpersist
    // lifecycle, which graft.Blocks.Rounds runs for the loops.
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    val plan = execution.LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    val cut = classic.Dataset.ofRows(ds.sparkSession, plan)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (eager) cut.count(): Unit
    cut
  }

  /** Physical partition count of a frame's execution RDD, read without
    * building the external-row deserializer lineage `Dataset.rdd` adds
    * on top of `toRdd` ([[graft.Tables.spread]]'s under-parallel probe).
    * Caveat shared with `.rdd`: on a plan containing exchanges, AQE
    * materializes the intermediate stages here — only probe scan-rooted
    * frames.
    */
  def planPartitions(df: Dataset[Row]): Int =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd.getNumPartitions

  /** Whether a frame's physical plan shuffles, read from the plan (AQE's
    * initial plan before execution, its stages after) without running it
    * — the guard on [[planPartitions]]' scan-rooted contract.
    */
  def hasShuffle(df: Dataset[Row]): Boolean =
    new execution.adaptive.AdaptiveSparkPlanHelper {}
      .find(df.asInstanceOf[classic.Dataset[Row]].queryExecution.executedPlan)(
        _.isInstanceOf[execution.exchange.ShuffleExchangeLike]).isDefined

  /** Whether a frame's physical output is already clustered on the named
    * columns (e.g. hash-partitioned on a subset of them), read from the
    * plan (AQE's initial plan) without running it: a window or
    * aggregation keyed on them then needs no shuffle.
    */
  def clusteredOn(df: Dataset[Row], keys: Seq[String]): Boolean = {
    val plan = df.asInstanceOf[classic.Dataset[Row]].queryExecution.executedPlan match {
      case a: execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val resolver = df.sparkSession.sessionState.conf.resolver
    val attrs = keys.flatMap(k => plan.output.find(a => resolver(a.name, k)))
    attrs.size == keys.size && plan.outputPartitioning.satisfies(
      catalyst.plans.physical.ClusteredDistribution(attrs))
  }

  /** Drop every CacheManager entry (the `private[sql]` relation cache
    * behind `DataFrame.persist`). Unpersisting a cached plan's RDDs
    * DIRECTLY (the [[graft.Blocks]] id-delta path) leaves the
    * InMemoryRelation entry behind, and that entry strongly references
    * the plan's BroadcastExchange futures and broadcast Hadoop confs —
    * (a) the reason those broadcasts can never be GC-reclaimed (the r12
    * ~40-blocks-per-run leak), and (b) a live landmine once the blocks
    * ARE force-dropped: the next structurally-identical `persist()`
    * REUSES the stale physical plan and fails fetching the destroyed
    * broadcast (the r12 q165/q191/q98 bench errors, reproduced with a
    * full stack through CachedRDDBuilder). A timed harness must clear
    * the entries, not just the blocks.
    */
  def clearRelationCache(spark: SparkSession): Unit =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.clearCache()
}
