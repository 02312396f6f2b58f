package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The graph loops build their loop-invariant inputs with
  * `GraftShims.cachedCut`. A frame that is persisted and then counted
  * is cached from a plan without AQE, at one partition per shuffle
  * partition, and every round scans all of them. Their rounds run on
  * `Blocks.rounds`, which owns the cut, the release of the previous
  * cut and the broadcast drop.
  */
class LoopInputsSpec extends AnyFunSuite {
  private def sources(dir: String): List[java.nio.file.Path] =
    scala.util.Using.resource(Files.walk(Paths.get(dir))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }

  test("no method outside Blocks cuts a frame inside or after its first loop") {
    val offenders = sources("src/main/scala")
      .filterNot(_.getFileName.toString == "Blocks.scala")
      .flatMap { p =>
        val obj = p.getFileName.toString.stripSuffix(".scala")
        Files.readString(p).split("""\bdef\s""").toList.tail.collect {
          case body if """\b(?:for|while)\s*\(""".r.split(body).drop(1)
              .exists(_.contains("cachedCut(")) =>
            s"$obj.${"""\w+""".r.findPrefixOf(body).getOrElse("?")}"
        }
      }
    assert(offenders.isEmpty, s"run loop rounds through Blocks.rounds: $offenders")
  }

  test("no operator persists a loop input and then counts it") {
    // a val/var whose initializer (not crossing another val/var/def) persists
    val persisted = """\b(?:val|var)\s+(\w+)\s*=((?:(?!\b(?:val|var|def)\b)[^;])*?)\.persist\(""".r
    val offenders = sources("src/main/scala/graft/operators").flatMap { p =>
      // per method, the statements before its first loop build the loop's inputs
      Files.readString(p).split("""\bdef\s""").toList.flatMap { body =>
        val preLoop = """\b(?:for|while)\s*\(""".r.split(body).head
        persisted.findAllMatchIn(preLoop).collect {
          case m if s"""\\b${m.group(1)}\\.count\\(\\)""".r
              .findFirstIn(preLoop.substring(m.end)).isDefined =>
            s"${p.getFileName}: ${m.group(1)}"
        }
      }
    }
    assert(offenders.isEmpty, s"build loop inputs with GraftShims.cachedCut: $offenders")
  }
}
