package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface: watermarked windowed aggregation and
  * stateful sessionization over the `events` shape
  * (event_id, ts, user_id, event_type, value).
  *
  * The windowed aggregation is the streaming twin of the batch
  * `q27_time_bucket` query — same `window()` expression, so a backfill
  * batch job and the live stream produce identical buckets.
  */
object EventStream {

  /** Tumbling (or, with `slide`, sliding/hopping) window counts/sums with
    * a watermark bounding state.
    */
  def windowedAgg(events: DataFrame, windowLen: String = "6 hours",
      watermark: String = "1 hour", slide: Option[String] = None): DataFrame = {
    val win = slide.fold(window(col("ts"), windowLen))(s => window(col("ts"), windowLen, s))
    events
      .withWatermark("ts", watermark)
      // group by the full window struct — projecting .start inside the
      // groupBy severs the watermark→window linkage and append mode is
      // rejected as "aggregation without watermark"
      .groupBy(win.as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("bucket"), col("event_type"), col("n"), col("sum_value"))
  }

  /** Stream-stream interval join (attribution shape): each left event is
    * paired with right events by the same key that occur AT OR AFTER it,
    * within `horizon`. Watermarks on both sides plus the closed time-range
    * condition let Spark expire join state — without the range bound a
    * stream-stream join's state grows forever. Output columns are the
    * left event, the matched right event id/time, and the delay.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      key: String = "user_id", horizon: String = "30 minutes",
      watermark: String = "1 hour", joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(r, expr(
        s"l.$key = r.$key AND r.ts >= l.ts AND r.ts <= l.ts + interval $horizon"),
        joinType)
      .select(col(s"l.$key").as(key),
        col("l.event_id").as("left_id"), col("l.ts").as("left_ts"),
        col("r.event_id").as("right_id"), col("r.ts").as("right_ts"),
        (unix_millis(col("r.ts")) - unix_millis(col("l.ts"))).as("delay_ms"))
  }

  /** Left-outer interval join: the attribution shape where UNCONVERTED
    * events matter too. Same state-bounded join; a left event with no
    * in-horizon match is emitted with null right columns — but only
    * once the watermark passes its horizon (before that a match could
    * still arrive), so null emissions trail by watermark + horizon.
    */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame,
      key: String = "user_id", horizon: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    intervalJoin(left, right, key, horizon, watermark, joinType = "leftOuter")

  /** One micro-batch's upsert: the batch merges into a keyed
    * parquet snapshot with last-write-wins semantics — existing rows
    * whose key appears in the batch are replaced; within a batch the
    * survivor is the last row by `orderCol`. The rewrite goes to a temp
    * dir and swaps in through the Hadoop FileSystem API (any scheme, not
    * just local disk); each batch first heals leftovers of a swap that
    * crashed mid-sequence, so a failure between the two renames costs at
    * most one batch replay, never the snapshot. At production scale a
    * table format with ACID merge (Delta/Iceberg) replaces the swap and
    * closes the brief window where the live path is absent; the MERGE
    * semantics expressed here are the part that carries over.
    *
    * Stream it with [[graft.sources.Stream.sink]] over a row stream.
    * IDEMPOTENT under foreachBatch's at-least-once contract: replaying a
    * batch against a snapshot that already merged it anti-joins away the
    * batch's keys and re-inserts identical survivors — the snapshot is
    * byte-stable under replay (spec-asserted), so a post-failure re-run
    * cannot duplicate or reorder rows.
    */
  def upsertBatch(batch: DataFrame, path: String,
      keys: Seq[String], orderCol: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol).desc)
    val latest = batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = live.suffix("__upserting")
    graft.sources.Io.recoverSwap(fs, live, tmp)
    val merged =
      if (fs.exists(live)) mergePlan(spark.read.parquet(path), latest, keys)
      else latest
    merged.write.mode("overwrite").parquet(tmp.toString)
    graft.sources.Io.swapDirs(fs, live, tmp)
  }

  /** The snapshot-merge plan (existing rows minus the batch's keys, plus
    * the batch survivors) — exposed so the plan-shape gate can assert the
    * anti-join carries NO static broadcast hint. The documented
    * replay/backfill path feeds whole tables through this entry point, so
    * a forced broadcast of the "batch" key set is an unbounded driver
    * collect; AQE broadcasts at runtime when the side actually fits.
    */
  private[graft] def mergePlan(existing: DataFrame, latest: DataFrame,
      keys: Seq[String]): DataFrame =
    existing.join(latest.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(latest)

  /** Streaming exact dedup: duplicates of a key arriving within the
    * watermark horizon are dropped; state self-expires with the
    * watermark (the streaming twin of the batch `Clean.dedupExact`).
    */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
  case class Session(user_id: Long, start: Timestamp, end: Timestamp, n_events: Int, sum_value: Double)
  /** Internal running-session state (public: Catalyst codegen must be
    * able to instantiate it).
    */
  case class SessionState(startMs: Long, endMs: Long, nEv: Int, total: Double)

  /** Gap-based session windows via flatMapGroupsWithState: a session
    * closes when no event arrives within `gapMs`. State is one small
    * record per active user — bounded by the event-time timeout.
    *
    * `maxSessionMs` is the per-group state-TTL knob: a session that has
    * spanned longer than this closes even while events keep arriving
    * (the next event starts a fresh session). Without it, one
    * pathologically chatty key (a bot emitting inside the gap forever)
    * keeps its state entry alive indefinitely; with it every state
    * record has a hard upper lifetime of maxSessionMs + gapMs.
    */
  def sessionize(events: Dataset[Event], gapMs: Long,
      maxSessionMs: Long = Long.MaxValue): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, new Timestamp(s.startMs), new Timestamp(s.endMs), s.nEv, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.endMs <= gapMs && t - s.startMs <= maxSessionMs =>
                  cur = Some(SessionState(s.startMs, t, s.nEv + 1, s.total + e.value))
                case Some(s) =>
                  closed ::= Session(userId, new Timestamp(s.startMs), new Timestamp(s.endMs), s.nEv, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // the timeout is also TTL-capped: state self-expires no
              // later than startMs + maxSessionMs + gapMs even if the
              // watermark stalls short of endMs + gapMs
              val cap = if (maxSessionMs == Long.MaxValue) s.endMs + gapMs
                        else math.min(s.endMs + gapMs, s.startMs + maxSessionMs + gapMs)
              state.setTimeoutTimestamp(cap)
            }
            closed.reverseIterator
          }
      }
  }
}
