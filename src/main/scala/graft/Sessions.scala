package graft

import org.apache.spark.sql.SparkSession

/** One place for session config so Verify, Bench, and tests agree.
  *
  * - `nanosAsLong`: the testdata's `events.ts` is TIMESTAMP(NANOS);
  *   Spark 4 refuses it unless read as raw longs ([[Tables.events]]
  *   converts back to a timestamp).
  * - AQE on: runtime coalescing + skew-join handling is the 100 TB
  *   posture; it costs nothing locally.
  * - UTC so timestamp math matches the DuckDB oracle.
  * - Generated-code cache of 1000 classes, not Spark's 100. One
  *   air-quality pass (land, daily, validate and the four dashboard
  *   analyses) generates about 165 classes. At 100 entries, in four
  *   segments of 25, every repeat of those queries recompiled about 161
  *   of them with Janino. At 1000 (250 per segment, against about 41
  *   per segment for that pass) a repeat compiles none: a steady pass
  *   of 320 stations × 3 days went from 8.35 s to 5.70 s (medians of 10
  *   runs, 4-core VM; memory cost measured in CHANGES.md). It is a
  *   STATIC conf, read once when `CodeGenerator` first initializes in
  *   the JVM, so it can only be set here, where every session is built.
  */
object Sessions {
  def local(cpus: String, shufflePartitions: String = "32"): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // runtime bloom-filter pruning of shuffle-join probe sides — free
      // win for selective fact-dim joins at scale
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // PINNED (default true upstream, but load-bearing here): q386's
      // watermark-expiry oracle needs the no-data micro-batch that runs
      // after a watermark advance to EVICT expired dedup state before
      // the next data batch — dropDuplicatesWithinWatermark only
      // guarantees dedup WITHIN the horizon, so with this off, state
      // could legally linger and the "2 survivors per key" gate would
      // depend on best-effort eviction timing.
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
