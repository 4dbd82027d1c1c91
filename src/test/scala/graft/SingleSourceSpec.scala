package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps four decisions in one module each: the session configuration
  * in [[Session]], the runtime listener in [[Telemetry]], the
  * per-(session, sfDir) substrate cache in [[graft.queries.SessionMemo]]
  * and the stream start-and-drain in [[StreamRun]]'s drain helper.
  * A harness or spec that builds its own session, or main code that
  * hand-writes a listener, a session-keyed cache or a stream query,
  * fails here. */
class SingleSourceSpec extends AnyFunSuite {

  private def scalaFiles(roots: Seq[String]): Seq[Path] =
    roots.flatMap { r =>
      val w = Files.walk(Paths.get(r))
      try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }

  /** Scala sources under `roots` whose text contains any of `needles`. */
  private def containing(roots: Seq[String], needles: Seq[String]): Set[String] =
    scalaFiles(roots).filter { p =>
      val text = Files.readString(p)
      needles.exists(text.contains)
    }.map(_.toString).toSet

  private val Def = """\s*(?:private )?def (\w+)\b.*""".r

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

  test("only SessionMemo keys a cache by SparkSession in main code") {
    val memoKey = "TrieMap[" + "(SparkSession"
    assert(containing(Seq("src/main"), Seq(memoKey)) ==
      Set("src/main/scala/graft/queries/SessionMemo.scala"))
  }

  test("only StreamRun's drain helper starts and drains a stream in main code") {
    for (needle <- Seq(".writeStream", "processAllAvailable")) {
      // (file, enclosing def) of every line that mentions the needle
      val sites = for {
        p <- scalaFiles(Seq("src/main"))
        lines = Files.readAllLines(p).asScala.toVector
        i <- lines.indices if lines(i).contains(needle)
      } yield (p.toString,
        lines.take(i).reverseIterator.collectFirst { case Def(name) => name })
      assert(sites == Seq(("src/main/scala/graft/StreamRun.scala", Some("drain"))),
        needle)
    }
  }
}
