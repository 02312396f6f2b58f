package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Sessions]] is the only place a session is built, so its static
  * confs (read once per JVM) reach every main, test and benchmark.
  */
class SessionsSpec extends AnyFunSuite {
  test("no main source outside Sessions.scala builds a SparkSession") {
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val offenders = scala.util.Using.resource(Files.walk(Paths.get("src/main"))) {
      _.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Sessions.scala")
        .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
        .toList
    }
    assert(offenders.isEmpty, s"build sessions through graft.Sessions: $offenders")
  }
}
