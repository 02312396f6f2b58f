package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The repository runs through five mains: the oracle dump (`Verify`),
  * the driver bench (`Bench`, `BenchOne`), the reference twin
  * (`BaselineTwin`) and the scale harness (`ScaleRun`). A one-off main
  * brings its own timer, printout and environment knobs that no test
  * runs; a scale claim belongs in a `ScaleRun` scenario and a
  * `ScaleShapeSpec` case instead.
  */
class MainsSpec extends AnyFunSuite {
  private val home = Paths.get("src/main/scala/graft")
  private val allowed = Seq("Verify", "Bench", "BenchOne", "BaselineTwin", "ScaleRun")
    .map(m => home.resolve(s"$m.scala"))

  test("def main appears in src/main only in Verify, Bench, BenchOne, BaselineTwin and ScaleRun") {
    val mains = scala.util.Using.resource(Files.walk(Paths.get("src/main"))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }.filter(p => """\bdef\s+main\s*\(""".r.findFirstIn(Files.readString(p)).isDefined)
    val offenders = mains.filterNot(allowed.contains).map(_.getFileName.toString).sorted
    assert(offenders.isEmpty,
      s"add a ScaleRun scenario or a spec instead of a main: ${offenders.mkString(", ")}")
    assert(mains.size == allowed.size, s"mains: $mains")
  }
}
