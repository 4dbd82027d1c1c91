package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps two decisions in one module each: the session configuration
  * in [[Session]] and the runtime listener in [[Telemetry]]. A harness
  * or spec that builds its own session, or main code that hand-writes a
  * listener, fails here. */
class SingleSourceSpec extends AnyFunSuite {

  /** Scala sources under `roots` whose text contains any of `needles`. */
  private def containing(roots: Seq[String], needles: Seq[String]): Set[String] =
    roots.flatMap { r =>
      val w = Files.walk(Paths.get(r))
      try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }.filter { p: Path =>
      val text = Files.readString(p)
      needles.exists(text.contains)
    }.map(_.toString).toSet

  test("only Session builds a SparkSession") {
    // split so this file does not match its own scan
    val builder = "SparkSession" + ".builder"
    assert(containing(Seq("src/main", "src/test"), Seq(builder)) ==
      Set("src/main/scala/graft/Session.scala"))
  }

  test("only Telemetry implements a SparkListener in main code") {
    val needles = Seq("extends SparkListener", "new SparkListener",
      "new org.apache.spark.scheduler.SparkListener")
    assert(containing(Seq("src/main"), needles) ==
      Set("src/main/scala/graft/Telemetry.scala"))
  }
}
