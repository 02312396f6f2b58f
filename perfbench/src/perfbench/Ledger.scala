package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one timed interval at a layer boundary. `start`/`end` are
  * epoch milliseconds (the clock Spark stamps its own events with), so
  * query-planning phases can be placed inside the span that ran them.
  */
final case class Span(id: Int, name: String, parent: Int, startMs: Long, endMs: Long,
    durNs: Long)

/** What the engine did inside one span, as seen through its public
  * listeners. Counts are exact per span; byte totals are as the task
  * metrics report them.
  */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var planMs = 0L
  var pairsScored = 0L
}

/** Spans and listener counters for the traced run, kept in memory and
  * written out when the run ends. Attribution works through a Spark
  * local property that carries the open span's id: every job the
  * calling thread submits — including broadcast and AQE stages, which
  * Spark runs with the submitter's properties — names the span that
  * caused it. Query-planning time arrives through a
  * [[QueryExecutionListener]] after the fact and is placed by the
  * timestamps of its planning phases.
  */
final class Ledger extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val bySpan = mutable.HashMap.empty[Int, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long, Long)] // (phase start ms, plan ms, pairs)

  def counters(span: Int): Counters = synchronized(bySpan.getOrElseUpdate(span, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Ledger.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(s => stageSpan(s) = span)
    counters(span).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    c.taskNs += e.taskInfo.duration * 1000000L
    val m = e.taskMetrics
    if (m != null) {
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val planMs = phases.map(p => p.endTimeMs - p.startTimeMs).sum
      // the scored (query, candidate) pairs of a brute-force kNN leave
      // its nested-loop join; the join's own row count is the pair count
      val pairs = collectWithSubqueries(qe.executedPlan) {
        case j: BroadcastNestedLoopJoinExec => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
      synchronized(plans += ((phases.map(_.startTimeMs).min, planMs, pairs)))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Credit planning time and scored pairs to the innermost span whose
    * interval holds the query's first planning phase. Call once the
    * listener buses are drained.
    */
  def placePlans(): Unit = synchronized {
    val leaves = spans.filter(s => !spans.exists(_.parent == s.id))
    plans.foreach { case (startMs, planMs, pairs) =>
      leaves.find(s => s.startMs <= startMs && startMs <= s.endMs).foreach { s =>
        val c = counters(s.id)
        c.planMs += planMs
        c.pairsScored += pairs
      }
    }
    plans.clear()
  }
}

object Ledger {
  val SpanKey = "perfbench.span"
}
