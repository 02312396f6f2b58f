package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression gate: the operator tree of every query is part
  * of the perf contract — a silently changed plan (new shuffle, join
  * strategy flip, filter no longer pushed below a window/join) should
  * fail CI even while results stay correct.
  *
  * The fingerprint is the operator TREE SHAPE (node names only) of the
  * optimized logical plan and the pre-adaptive physical plan. Expression
  * strings are deliberately excluded: Spark 4's canonicalization reorders
  * commutative chains (`multicommutativeop`) non-deterministically run to
  * run, so text/hash comparisons of full plans flap. Node shape is stable
  * and is what the perf contract is about.
  *
  * To regenerate after an INTENTIONAL plan change:
  *   REGEN_PLAN_HASHES=1 sbt "testOnly graft.PlanRegressionSpec"
  * and commit the updated plan-shapes.txt with a note on what changed.
  */
// @Slow: the full plan-shape sweep -- run per round close and after
// intentional plan changes; the quick tier skips it
@org.scalatest.tags.Slow
class PlanRegressionSpec extends AnyFunSuite {
  import TestSpark._

  private val shapeFile = Paths.get("plan-shapes.txt")

  private def shape(p: org.apache.spark.sql.catalyst.trees.TreeNode[_]): String = {
    val kids = p.children.asInstanceOf[Seq[org.apache.spark.sql.catalyst.trees.TreeNode[_]]]
    if (kids.isEmpty) p.nodeName
    else p.nodeName + kids.map(shape).mkString("(", ",", ")")
  }

  /** Library surfaces that are NOT registered driver queries but whose
    * plan shape is still a perf contract — the scale-smoke pipelines.
    * [[dedup.MinHashLsh.similarPairs]] materializes eagerly (its
    * registered queries fingerprint as a LogicalRDD scan), so the gate
    * inspects the lazy [[dedup.MinHashLsh.pairsPlan]]: this is the exact
    * plan ScaleShapeSpec and `ScaleRun minhash` run, and the shape pins the
    * O(n·bands) banded candidate join (a shape flip to a nested-loop /
    * cartesian candidate stage would fail here even while tiny-SF
    * results stay correct).
    */
  private def extraPlans(): Map[String, org.apache.spark.sql.DataFrame] = {
    val docs = Tables.documents(spark, sfDir)
    val sets = dedup.NGramJaccard.shingleSets(docs, "doc_id", "text", 3)
    Map(
      "lib_dedup_minhash_pipeline" ->
        dedup.MinHashLsh.pairsPlan(sets, "doc_id", minJaccard = 0.8),
      // the pipeline scenario's hottest stage (ScaleRun, ScaleShapeSpec):
      // the 7-column single-shuffle
      // interpolation over the synthetic air-quality shape
      "lib_scale_interpolate" ->
        etl.Clean.interpolateLinear(etl.Synth.airQuality(spark, 2, 48),
          "station", Seq("ts", "reading_id"), etl.AirQualityPipeline.numericCols, maxGap = 3))
  }

  private def currentShapes(): Map[String, String] = {
    val queries = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, sfDir)
    }
    (queries ++ extraPlans().toSeq).map { case (name, df) =>
      val qe = df.queryExecution
      name -> s"logical=${shape(qe.optimizedPlan)} physical=${shape(qe.sparkPlan)}"
    }.toMap
  }

  test("query plan shapes match the committed baseline") {
    val current = currentShapes()
    if (sys.env.contains("REGEN_PLAN_HASHES") || !Files.exists(shapeFile)) {
      Files.write(shapeFile,
        current.toSeq.sorted.map { case (k, v) => s"$k $v" }.asJava)
      info(s"wrote ${current.size} plan shapes to $shapeFile")
    } else {
      val baseline = Files.readAllLines(shapeFile).asScala
        .map(_.split(" ", 2)).collect { case Array(k, v) => k -> v }.toMap
      val changed = current.filter { case (k, v) => baseline.get(k).exists(_ != v) }
      changed.foreach { case (k, v) =>
        info(s"$k\n  baseline: ${baseline(k)}\n  current:  $v")
      }
      assert(changed.isEmpty,
        s"plan shapes changed for ${changed.keys.toSeq.sorted.mkString(", ")} — " +
          "if intentional, regenerate with REGEN_PLAN_HASHES=1")
      val missing = current.keySet -- baseline.keySet
      assert(missing.isEmpty,
        s"new queries without a plan baseline: ${missing.toSeq.sorted.mkString(", ")} — " +
          "regenerate with REGEN_PLAN_HASHES=1")
    }
  }
}
