package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The graph loops build their loop-invariant inputs with
  * `GraftShims.cachedCut`. A frame that is persisted and then counted
  * is cached from a plan without AQE, at one partition per shuffle
  * partition, and every round scans all of them.
  */
class LoopInputsSpec extends AnyFunSuite {
  test("no operator persists a loop input and then counts it") {
    // a val/var whose initializer (not crossing another val/var/def) persists
    val persisted = """\b(?:val|var)\s+(\w+)\s*=((?:(?!\b(?:val|var|def)\b)[^;])*?)\.persist\(""".r
    val offenders = scala.util.Using.resource(Files.walk(Paths.get("src/main/scala/graft/operators"))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }.flatMap { p =>
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
