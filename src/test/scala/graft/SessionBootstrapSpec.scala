package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One session bootstrap: [[Sessions]] is the only code that builds a
  * SparkSession, so the CLI, the harness mains and this suite all run
  * with the same confs and the same GraftExtensions. A source scan
  * keeps a hand-rolled builder — or a query-time re-registration of
  * the extensions — from drifting back, and keeps [[Trace]] the one
  * ledger that listens to a session. The needles are spliced so this
  * file does not match itself. */
class SessionBootstrapSpec extends AnyFunSuite {

  private lazy val sources: Seq[(Path, String)] = {
    val stream = Files.walk(Paths.get("src")) // cwd = repo root under sbt
    try stream.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
    finally stream.close()
  }

  /** The scanned files that contain a needle, `owner` excepted. */
  private def offenders(needles: Seq[String], owner: Option[String] = None) =
    sources.collect {
      case (p, text) if needles.exists(text.contains) && !owner.exists(p.endsWith) => p
    }

  test("the scan sees the source tree, Sessions.scala included") {
    assert(sources.exists(_._1.endsWith("graft/Sessions.scala")))
    assert(sources.size > 50, sources.size)
  }

  test("only Sessions.scala calls SparkSession.builder") {
    val o = offenders(Seq("SparkSession" + ".builder("),
      Some("src/main/scala/graft/Sessions.scala"))
    assert(o.isEmpty, s"hand-rolled session builders: $o")
  }

  test("nothing re-registers GraftExtensions on a live session") {
    val o = offenders(Seq("GraftExtensions" + ".register"))
    assert(o.isEmpty, s"query-time extension registration: $o")
  }

  test("only Trace.scala registers a listener, and only the drain shim " +
    "names the listener bus") {
    val o = offenders(Seq("addSparkListener" + "(", "listenerManager" + ".register("),
      Some("src/main/scala/graft/Trace.scala"))
    assert(o.isEmpty, s"listener registrations outside Trace: $o")
    val b = offenders(Seq("listener" + "Bus"),
      Some("src/main/scala/org/apache/spark/ListenerBusDrain.scala"))
    assert(b.isEmpty, s"listener bus named outside the shim: $b")
  }
}
