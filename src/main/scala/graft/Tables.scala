package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Lazy table loaders for a scale-factor directory of parquet tables.
  *
  * The driver's testdata layout is `dir/<table>.parquet`; every query in
  * [[SparkEntry.queries]] goes through here so filters/projections in the
  * downstream plan push into the parquet scan (Catalyst handles pushdown —
  * nothing to hand-schedule).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** `events.ts` has shipped in two physical shapes across testdata
    * generations; normalize BOTH to session-local `TimestampType` so
    * every downstream query (`unix_micros`, interval arithmetic, range
    * joins) sees one type:
    *
    *  - TIMESTAMP(NANOS) parquet, which Spark 4 only reads via
    *    `spark.sql.legacy.parquet.nanosAsLong` (set in every session we
    *    build) — surfaces as `LongType`; convert the raw nanos back to a
    *    microsecond timestamp with integer division (ns magnitudes
    *    overflow double math).
    *  - naive `timestamp[us]` parquet (isAdjustedToUTC=false) — surfaces
    *    as `TimestampNTZType`, which Spark 4 rejects in `unix_micros` et
    *    al; cast to `TimestampType`. The session timezone is pinned UTC
    *    ([[Sessions.local]]), so the cast re-interprets the naive value
    *    as the identical UTC instant — bit-for-bit the same micros.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  val all: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Ensure at least cluster-default parallelism before a compute-heavy
    * per-row stage (guide §2.2 stragglers): a single-row-group parquet
    * file scans as ONE task no matter how many cores exist, so per-row
    * md5/regex/shingle/n-gram work serializes — measured 10× on
    * Winnow.fingerprints at sf0.1 (4.4 s → 0.45 s warm on 32 cores).
    * Hash-repartitions by `key` ONLY when the plan is under-parallel:
    * at production scale the scan already carries ≥ cores partitions
    * and this is a no-op — no 100 TB reshuffle is introduced. The
    * EXPLICIT partition count matters: without it AQE's small-data
    * coalescing would merge the tiny text exchange straight back to
    * one task. Keyed (not round-robin) so downstream per-key windows
    * and aggregations can reuse the distribution, and so the row
    * placement is deterministic under retries.
    */
  def spread(df: DataFrame, key: String): DataFrame = {
    // CONTRACT: call this on raw table scans (or scan + narrow ops)
    // only. The probe below reads the physical plan's partition count,
    // which for an input CONTAINING a shuffle is the static pre-AQE
    // number (spark.sql.shuffle.partitions), not the runtime-coalesced
    // one — the guard could misjudge in both directions there (r17
    // advisor note), and probing it would run the upstream stages.
    // `toRdd` (not `.rdd`) skips building the second external-row
    // deserializer lineage just to read a partition count.
    require(!org.apache.spark.sql.GraftShims.hasShuffle(df),
      "Tables.spread needs a scan-rooted input (a table scan plus narrow " +
        "operators); this input's plan shuffles, so its partition count " +
        "is not known before it runs")
    val target = df.sparkSession.sparkContext.defaultParallelism
    val parts = org.apache.spark.sql.GraftShims.planPartitions(df)
    if (parts >= target) df
    else df.repartition(target, col(key))
  }

  /** Register every table as a temp view so SQL users can query the
    * dataset directly (`spark.sql("SELECT ... FROM lineitem ...")`) —
    * combined with [[GraftExtensions]]' registered functions this makes
    * the whole library usable from pure SQL.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach { t =>
      val df = if (t == "events") events(spark, dir) else table(spark, dir, t)
      df.createOrReplaceTempView(t)
    }
}
