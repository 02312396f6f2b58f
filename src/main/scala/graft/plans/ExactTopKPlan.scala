package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnknownPartitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.functions.TopKAgg

/** Logical node for exact cosine top-k scoring (see
  * [[graft.sim.Similarity.bruteForceTopK]] for the contract): every
  * `corpus` row is scored against every `queries` row whose id differs,
  * and each corpus partition emits, per query, its k best
  * (rounded cosine desc NULLS LAST, neighbor id asc) candidates as
  * `output` = (query_id, neighbor_id, cosine) rows. The caller merges
  * the partials per query with [[graft.functions.TopKAgg]].
  *
  * `ansi` is the session's `spark.sql.ansi.enabled` when the frame was
  * built, as a `Divide` would capture it: a zero norm product then
  * fails with DIVIDE_BY_ZERO instead of scoring NULL.
  */
case class ExactTopKLogical(
    corpus: LogicalPlan, queries: LogicalPlan,
    corpusId: Attribute, corpusVec: Attribute,
    queryId: Attribute, queryVec: Attribute,
    k: Int, simDigits: Int, ansi: Boolean,
    output: Seq[Attribute]) extends BinaryNode {
  override def left: LogicalPlan = corpus
  override def right: LogicalPlan = queries
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): ExactTopKLogical =
    copy(corpus = newLeft, queries = newRight)
}

/** Plans [[ExactTopKLogical]] as [[ExactTopKExec]]. Injected by
  * [[graft.GraftExtensions]].
  */
object ExactTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: ExactTopKLogical =>
      ExactTopKExec(planLater(n.corpus), planLater(n.queries), n.corpusId,
        n.corpusVec, n.queryId, n.queryVec, n.k, n.simDigits, n.ansi, n.output) :: Nil
    case _ => Nil
  }
}

/** The exact top-k scoring kernel. The corpus streams in its own
  * partitions; the queries arrive as a broadcast of their rows
  * (`BroadcastDistribution(IdentityBroadcastMode)`, the build side of a
  * `BroadcastNestedLoopJoinExec`). Each task unpacks the queries once
  * into one flat `double[]` plus their norms, then for every corpus row
  * widens its vector once and offers each pair's score to that query's
  * k-bounded [[TopKAgg.Buf]]. Memory per task: |Q| × (d + k) slots.
  *
  * The score is bit for bit the Catalyst expression it replaces,
  * `roundStable(vec_dot(q, c) / (norm(q) * norm(c)), simDigits)`:
  *   - products widened to double, summed index 0 → min(|q|, |c|) − 1,
  *     as [[graft.functions.DotProduct]] does; norms `sqrt(dot(v, v))`;
  *   - a NULL vector on either side scores NULL; a zero norm product
  *     fails with DIVIDE_BY_ZERO under ANSI and scores NULL otherwise,
  *     as Spark's `Divide` does;
  *   - `floor(x · 10^d + 0.5)` truncates to a long as Spark's `Floor`
  *     does (NaN → 0, ±Inf saturate) before the division by 10^d.
  * Pairs with a NULL id on either side, or with equal ids, are never
  * scored (the `query_id =!= neighbor_id` join condition).
  *
  * `numPairs` counts the pairs scored.
  */
case class ExactTopKExec(
    corpus: SparkPlan, queries: SparkPlan,
    corpusId: Attribute, corpusVec: Attribute,
    queryId: Attribute, queryVec: Attribute,
    k: Int, simDigits: Int, ansi: Boolean,
    output: Seq[Attribute]) extends BinaryExecNode {

  override def left: SparkPlan = corpus
  override def right: SparkPlan = queries
  override def producedAttributes: AttributeSet = AttributeSet(output)

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override def outputPartitioning: Partitioning =
    UnknownPartitioning(corpus.outputPartitioning.numPartitions)

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numPairs" -> SQLMetrics.createMetric(sparkContext, "number of pairs scored"))

  protected override def doExecute(): RDD[InternalRow] = {
    val broadcastQueries = queries.executeBroadcast[Array[InternalRow]]()
    val numOutputRows = longMetric("numOutputRows")
    val numPairs = longMetric("numPairs")
    def ordinal(plan: SparkPlan, a: Attribute) = plan.output.indexWhere(_.exprId == a.exprId)
    val (cIdAt, cVecAt) = (ordinal(corpus, corpusId), ordinal(corpus, corpusVec))
    val (qIdAt, qVecAt) = (ordinal(queries, queryId), ordinal(queries, queryVec))
    def isFloat(a: Attribute) = a.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    val (cFloat, qFloat) = (isFloat(corpusVec), isFloat(queryVec))
    val (k, ansi) = (this.k, this.ansi)
    val p = math.pow(10.0, simDigits)
    val outTypes = output.map(_.dataType).toArray

    corpus.execute().mapPartitions { rows =>
      val qs = new ExactTopKExec.Queries(broadcastQueries.value, qIdAt, qVecAt, qFloat)
      val nq = qs.ids.length
      val bufs = Array.fill(nq)(new TopKAgg.Buf(k))
      var cv = new Array[Double](64)
      var pairs = 0L
      if (nq > 0) rows.foreach { row =>
        if (!row.isNullAt(cIdAt)) {
          val cid = row.getLong(cIdAt)
          val cNull = row.isNullAt(cVecAt)
          var cLen = 0
          var cNorm = 0.0
          if (!cNull) {
            val a = row.getArray(cVecAt)
            cLen = a.numElements()
            if (cv.length < cLen) cv = new Array[Double](cLen)
            ExactTopKExec.widen(a, cFloat, cv, 0)
            cNorm = math.sqrt(ExactTopKExec.dot(cv, 0, cv, 0, cLen))
          }
          var j = 0
          while (j < nq) {
            if (qs.ids(j) != cid) {
              pairs += 1
              val buf = bufs(j)
              if (cNull || qs.nulls(j)) buf.offer(false, true, 0.0, false, cid)
              else {
                val den = qs.norms(j) * cNorm
                if (den == 0.0) {
                  if (ansi) throw GraftShims.divideByZeroError()
                  buf.offer(false, true, 0.0, false, cid)
                } else {
                  val off = qs.offsets(j)
                  val n = math.min(qs.offsets(j + 1) - off, cLen)
                  val x = ExactTopKExec.dot(qs.values, off, cv, 0, n) / den
                  buf.offer(false, false, math.floor(x * p + 0.5).toLong.toDouble / p, false, cid)
                }
              }
            }
            j += 1
          }
        }
      }
      numPairs += pairs
      val project = UnsafeProjection.create(outTypes)
      val out = new GenericInternalRow(3)
      Iterator.range(0, nq).flatMap { j =>
        val buf = bufs(j)
        Iterator.range(0, buf.size).map { e =>
          numOutputRows += 1
          out.setLong(0, qs.ids(j))
          out.setLong(1, buf.id(e))
          if (buf.nul(e)) out.setNullAt(2) else out.setDouble(2, buf.score(e))
          project(out)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): ExactTopKExec =
    copy(corpus = newLeft, queries = newRight)
}

object ExactTopKExec {

  /** Σ a(aOff + i) · b(bOff + i) for i in [0, n), left to right. */
  private def dot(a: Array[Double], aOff: Int, b: Array[Double], bOff: Int, n: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < n) { s += a(aOff + i) * b(bOff + i); i += 1 }
    s
  }

  /** Writes `a`'s elements, widened to double, into `dst` from `off`. */
  private def widen(a: ArrayData, isFloat: Boolean, dst: Array[Double], off: Int): Unit = {
    var i = 0
    while (i < a.numElements()) {
      dst(off + i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
  }

  /** The broadcast queries unpacked once per task: rows with a NULL id
    * are dropped (they never score); vector `j` is
    * `values(offsets(j) until offsets(j + 1))`, widened to double, with
    * its norm in `norms(j)` (`nulls(j)` marks a NULL vector).
    */
  private final class Queries(rows: Array[InternalRow], idAt: Int, vecAt: Int,
      isFloat: Boolean) {
    private val live = rows.filter(r => !r.isNullAt(idAt))
    val ids: Array[Long] = live.map(_.getLong(idAt))
    val nulls: Array[Boolean] = live.map(_.isNullAt(vecAt))
    val offsets: Array[Int] = live.indices.scanLeft(0) { (off, j) =>
      off + (if (nulls(j)) 0 else live(j).getArray(vecAt).numElements())
    }.toArray
    val values: Array[Double] = new Array[Double](offsets.last)
    val norms: Array[Double] = new Array[Double](live.length)
    live.indices.foreach { j =>
      if (!nulls(j)) {
        val off = offsets(j)
        widen(live(j).getArray(vecAt), isFloat, values, off)
        norms(j) = math.sqrt(dot(values, off, values, off, offsets(j + 1) - off))
      }
    }
  }
}
