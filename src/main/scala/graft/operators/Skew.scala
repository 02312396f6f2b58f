package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation helpers for hot keys.
  *
  * AQE's skew-join splitting handles most cases at runtime; salting is
  * the explicit fallback for aggregations over pathological keys (one
  * key ≫ a partition) and for pre-AQE-style two-phase rollups.
  */
object Skew {

  /** Two-phase (salted) aggregation: a deterministic salt spreads each
    * key over `buckets` partial groups, which are then merged. Use when a
    * single group's rows exceed an executor partition. The partial
    * aggregate is the map-side combine Catalyst already does — salting
    * additionally bounds the *reduce-side* group size.
    *
    * sumCols/countCols are re-aggregated correctly; avg is derived from
    * sum/count rather than averaged-of-averages.
    */
  /** Salt expression in [0, buckets). Prefer `saltFrom = Some(uniqueCol)`
    * — a deterministic row key (event id, primary key) makes the partial
    * stage reproducible under task retry / stage recomputation. With no
    * such key the fallback is `monotonically_increasing_id()`, which is
    * NON-DETERMINISTIC across attempts: a recomputed partition can be
    * re-salted differently. The final merge keeps results correct either
    * way (sums/counts re-associate), but retried partials aren't
    * byte-identical — acceptable for aggregation, documented here.
    *
    * The salt must NOT come from a value column: salting on values
    * collapses to a single bucket exactly in the classic skew case (a hot
    * key whose rows share one default/zero value).
    */
  private def saltExpr(buckets: Int, saltFrom: Option[String]): Column =
    pmod(xxhash64(saltFrom.fold(monotonically_increasing_id())(col)), lit(buckets))

  /** The one salted partial stage: `aggs` per (keys, salt) group. */
  private def saltedStage(df: DataFrame, keys: Seq[Column], buckets: Int,
      saltFrom: Option[String])(agg: Column, aggs: Column*): DataFrame =
    df.withColumn("__salt", saltExpr(buckets, saltFrom))
      .groupBy((keys :+ col("__salt")): _*)
      .agg(agg, aggs: _*)

  /** The salted partial stage of [[saltedSum]], exposed so tests can
    * assert the salt actually spreads a hot key across buckets.
    */
  private[graft] def saltedPartial(df: DataFrame, keys: Seq[String], valueCol: String,
      buckets: Int, saltFrom: Option[String] = None): DataFrame =
    saltedStage(df, keys.map(col), buckets, saltFrom)(
      sum(col(valueCol)).as("__s"), count(lit(1)).as("__c"))

  def saltedSum(df: DataFrame, keys: Seq[String], valueCol: String, buckets: Int,
      saltFrom: Option[String] = None): DataFrame =
    saltedPartial(df, keys, valueCol, buckets, saltFrom)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__s")).as("sum_value"), sum(col("__c")).as("n"))
      .withColumn("avg_value", col("sum_value") / col("n"))

  /** `(as, out)`: the sum of `value` per `key` (renamed `as`). At one
    * bucket this is the plain `groupBy(key).agg(sum)`; above it the sum
    * runs two-phase, partial per (key, salt from `saltFrom`), final per
    * key, so a hot key's reduce-side group is bounded even when
    * map-side partial aggregation degrades. The salted sum reorders fp
    * addition: compare rounded results.
    */
  private[operators] def sumBy(df: DataFrame, key: String, as: String, value: Column,
      out: String, buckets: Int, saltFrom: String): DataFrame =
    if (buckets <= 1) df.groupBy(col(key).as(as)).agg(sum(value).as(out))
    else saltedStage(df, Seq(col(key).as(as)), buckets, Some(saltFrom))(
        sum(value).as("__s"))
      .groupBy(col(as)).agg(sum(col("__s")).as(out))

  /** Skew DIAGNOSTIC — the measurement half of this module (salting is
    * the cure; this tells you whether, and on which keys, you need it):
    * the top `topN` heaviest keys with row count, share of the table,
    * and the skew factor `count / mean-rows-per-key`. A factor near 1
    * is uniform; ≫ 1 on the head key is the shuffle that dies at 100×
    * scale (one key > one task's memory) — feed exactly those keys to
    * `saltedAgg`/`saltedJoin` buckets. One keyed count + one global
    * one-row agg (broadcast) + a top-N window over the per-key rows.
    */
  def skewReport(df: DataFrame, keys: Seq[String], topN: Int,
                 digits: Int = 6): DataFrame = {
    require(topN >= 1, s"need topN >= 1, got $topN")
    val keyCols = keys.map(col)
    val counts = df.groupBy(keyCols: _*).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("__t"),
      count(lit(1)).as("__k"), max(col("n")).as("__mx"))
    // TakeOrdered cuts to topN DISTRIBUTED (partial top-N per
    // partition); only then does the single-partition rank window run —
    // over ≤ topN rows, never over the full #keys table
    val ord = col("n").desc +: keyCols
    val top = counts.orderBy(ord: _*).limit(topN)
    val w = org.apache.spark.sql.expressions.Window.orderBy(ord: _*)
    top.crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(keyCols ++ Seq(col("rank"), col("n"),
        graft.functions.roundStable(
          col("n").cast("double") / col("__t"), digits).as("share"),
        graft.functions.roundStable(
          col("n").cast("double") / (col("__t").cast("double") / col("__k")),
          digits).as("skew_factor"),
        graft.functions.roundStable(
          col("__mx").cast("double") / (col("__t").cast("double") / col("__k")),
          digits).as("max_skew_factor")): _*)
  }

  /** Two-sided JOIN-skew pre-flight — [[skewReport]] asks "is one key
    * heavy in THIS table"; this asks the question that actually melts a
    * cluster: "which keys AMPLIFY when these two tables meet" — a key
    * with n_l × n_r output rows lands on ONE reduce task in a
    * shuffle-hash/sort-merge join, and AQE's skew split only helps when
    * the skew is in INPUT partition sizes, not in join fan-out. Emits
    * the top-N keys by output rows with both side counts, each key's
    * share of the total join output, and the total estimate — the
    * numbers that decide between broadcast, salting
    * ([[saltedJoin]]), or a pre-aggregation before the join. Two keyed
    * counts + one keyed equi-join on O(#keys) rows + a top-N cut —
    * the report NEVER materializes a single output row of the real
    * join.
    */
  def joinSkewReport(left: DataFrame, right: DataFrame, key: String,
                     topN: Int, digits: Int = 6): DataFrame = {
    require(topN >= 1, s"need topN >= 1, got $topN")
    val l = left.groupBy(col(key)).agg(count(lit(1)).as("n_left"))
    val r = right.groupBy(col(key)).agg(count(lit(1)).as("n_right"))
    val keys = l.join(r, Seq(key)) // inner: only matching keys produce output
      .withColumn("out_rows", col("n_left") * col("n_right"))
    val tot = keys.agg(sum(col("out_rows")).as("__t"),
      count(lit(1)).as("__k"))
    val ord = Seq(col("out_rows").desc, col(key))
    val top = keys.orderBy(ord: _*).limit(topN)
    val w = org.apache.spark.sql.expressions.Window.orderBy(ord: _*)
    top.crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col(key), col("rank"), col("n_left"), col("n_right"),
        col("out_rows"),
        graft.functions.roundStable(
          col("out_rows").cast("double") / col("__t"), digits)
          .as("out_share"),
        col("__t").cast("long").as("total_out_rows"),
        col("__k").as("n_matching_keys"))
      .orderBy(col("rank"))
  }

  /** Salted join for a skewed left key: left rows get a salt in
    * [0, buckets), the (small) right side is exploded `buckets`× so every
    * salted left row still finds its match. Right side must be the small
    * side — its blowup is the price of splitting the hot key. At one
    * bucket this is the plain equi-join on `key`.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String, buckets: Int,
      saltFrom: Option[String] = None): DataFrame =
    if (buckets <= 1) left.join(right, Seq(key))
    else {
      val l = left.withColumn("__salt", saltExpr(buckets, saltFrom))
      val r = right.withColumn("__salt", explode(sequence(lit(0L), lit(buckets.toLong - 1))))
      l.join(r, Seq(key, "__salt")).drop("__salt")
    }
}
