package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One session bootstrap: [[Sessions]] is the only code that builds a
  * SparkSession, so the CLI, the harness mains and this suite all run
  * with the same confs and the same GraftExtensions. A source scan
  * keeps a hand-rolled builder — or a query-time re-registration of
  * the extensions — from drifting back. The needles are spliced so
  * this file does not match itself. */
class SessionBootstrapSpec extends AnyFunSuite {

  private val builderCall = "SparkSession" + ".builder("
  private val lazyRegister = "GraftExtensions" + ".register"

  private lazy val sources: Seq[(Path, String)] = {
    val stream = Files.walk(Paths.get("src")) // cwd = repo root under sbt
    try stream.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
    finally stream.close()
  }

  test("the scan sees the source tree, Sessions.scala included") {
    assert(sources.exists(_._1.endsWith("graft/Sessions.scala")))
    assert(sources.size > 50, sources.size)
  }

  test("only Sessions.scala calls SparkSession.builder") {
    val offenders = sources.collect {
      case (p, text) if text.contains(builderCall)
        && !p.endsWith("src/main/scala/graft/Sessions.scala") => p
    }
    assert(offenders.isEmpty, s"hand-rolled session builders: $offenders")
  }

  test("nothing re-registers GraftExtensions on a live session") {
    val offenders = sources.collect {
      case (p, text) if text.contains(lazyRegister) => p
    }
    assert(offenders.isEmpty, s"query-time extension registration: $offenders")
  }
}
