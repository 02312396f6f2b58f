package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Each stream in `graft.streaming` is one replay-idempotent per-batch
  * function, and `sources.Stream.sink` is the one place that starts
  * such a function on a stream (Append mode, checkpoint,
  * `foreachBatch`). A second `foreachBatch` wiring or a per-stream
  * `to…Sink` wrapper brings back the copies that helper replaced.
  */
class StreamSinkSpec extends AnyFunSuite {
  private val sinkHome = Paths.get("src/main/scala/graft/sources/Stream.scala")
  private val foreachBatchCall = """\.\s*foreachBatch\b""".r

  private def mainSources: List[Path] =
    scala.util.Using.resource(Files.walk(Paths.get("src/main"))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }

  /** `file:line` of every line of `srcs` that matches `pattern`. */
  private def sites(srcs: List[Path], pattern: scala.util.matching.Regex): List[String] =
    srcs.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).isDefined => s"${p.getFileName}:${i + 1}"
      }
    }

  test("foreachBatch is called only by sources.Stream.sink") {
    val offenders = sites(mainSources.filterNot(_.endsWith(sinkHome)), foreachBatchCall)
    assert(offenders.isEmpty,
      s"start streams with sources.Stream.sink(stream, checkpoint)(batchFn): $offenders")
    assert(sites(List(sinkHome), foreachBatchCall).size == 1)
  }

  test("no main source defines a to…Sink wrapper") {
    val offenders = sites(mainSources, """\bdef\s+to\w*Sink\w*""".r)
    assert(offenders.isEmpty,
      s"a stream is its batch function, started with sources.Stream.sink: $offenders")
  }
}
