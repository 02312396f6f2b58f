package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.types.StructType

/** Message-bus streaming sources — the `readStream → options → binary
  * key/value → typed projection` contract every bus connector (Kafka,
  * Pulsar, Kinesis via their Spark connectors) shares — and the one
  * streaming sink, [[sink]].
  *
  * The raw frame a bus source emits is
  * `(key binary, value binary, timestamp, topic/partition/offset …)`;
  * everything downstream of [[decodeJson]] is connector-agnostic, which
  * is what the specs exercise: a MemoryStream producing the same frame
  * shape drives the identical decode → window pipeline the Kafka path
  * would. (The Kafka connector jar itself is not in this environment —
  * [[readKafka]] is compile-checked and its option plumbing spec-checked
  * up to source resolution.)
  */
object Stream {

  /** Generic bus reader: format + options, no projection. */
  def readBus(spark: SparkSession, format: String, options: Map[String, String]): DataFrame =
    spark.readStream.format(format).options(options).load()

  /** Kafka-shaped source. `maxOffsetsPerTrigger` bounds per-batch intake
    * (backpressure at 100 TB backfills); `startingOffsets` selects
    * replay vs tail. Requires the spark-sql-kafka connector on the
    * classpath at deployment.
    */
  def readKafka(spark: SparkSession, brokers: String, topic: String,
      startingOffsets: String = "latest",
      maxOffsetsPerTrigger: Option[Long] = None): DataFrame =
    readBus(spark, "kafka",
      Map(
        "kafka.bootstrap.servers" -> brokers,
        "subscribe" -> topic,
        "startingOffsets" -> startingOffsets) ++
        maxOffsetsPerTrigger.map("maxOffsetsPerTrigger" -> _.toString))

  /** Decode a bus frame whose value payload is JSON: bytes → string →
    * schema-projected columns. The event time comes from the PAYLOAD
    * (`tsField`), not the broker append time — watermarks must follow
    * the domain clock, or a lagging producer reorders windows. The
    * broker timestamp is kept as `ingest_ts` for lag monitoring
    * (`ingest_ts - ts` is the end-to-end pipeline delay).
    *
    * Corrupt payloads: `from_json` yields nulls rather than failing the
    * stream; `dropCorrupt = false` keeps them for a dead-letter sink.
    */
  def decodeJson(bus: DataFrame, schema: StructType,
      dropCorrupt: Boolean = true): DataFrame = {
    val decoded = bus.select(
      from_json(col("value").cast("string"), schema).as("v"),
      col("timestamp").as("ingest_ts"))
    val kept = if (dropCorrupt) decoded.filter(col("v").isNotNull) else decoded
    kept.select(col("v.*"), col("ingest_ts"))
  }

  /** The one streaming sink: run `batch` on every micro-batch of
    * `stream`, checkpointed at `checkpoint`, in Append mode. Each stream
    * in `graft.streaming` is a per-batch function
    * (`HistStream.histBatch`, `DedupStream.dedupBatch`, …) that the
    * catalog and backfills call directly; this starts the same function
    * on a live stream, e.g.
    * `Stream.sink(df, ck)(HistStream.histBatch(geom, _, _, "v", dir)).start()`.
    *
    * `foreachBatch` delivers at least once: after a crash the last batch
    * id re-runs with the same rows, so every batch function is
    * replay-idempotent (its own `batch=<id>` directory, a batch-id gate,
    * or a monotone gate). The mode is Append: a stream without an
    * aggregation emits each row once, as Update would, and a windowed
    * aggregation fed here emits each window once its watermark closes.
    */
  def sink(stream: DataFrame, checkpoint: String)(
      batch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(batch)
}
