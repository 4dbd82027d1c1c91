package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps six decisions in one module each: the session configuration
  * in [[Session]], the runtime listener in [[Telemetry]], the
  * per-(session, sfDir) substrate cache in [[graft.queries.SessionMemo]],
  * the stream start-and-drain in [[StreamRun]]'s drain helper, the
  * keyed spread in [[graft.operators.Spread]] and the checkpoint
  * registry [[Checkpoints]]. A harness or spec that builds its own
  * session, or main code that hand-writes a listener, a session-keyed
  * cache, a stream query, a keyed repartition or an unregistered
  * checkpoint, fails here. */
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

  /** The argument text of the call whose `(` ends at `open` (exclusive),
    * up to its balanced closing paren. */
  private def argsAt(text: String, open: Int): String = {
    var depth = 1
    var i = open
    while (depth > 0) {
      text(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      i += 1
    }
    text.substring(open, i - 1)
  }

  /** Whether an argument list names a partitioning key: more than one
    * top-level argument (count, key…), or a lone column. */
  private def keyed(args: String): Boolean = {
    var depth = 0
    val topComma = args.exists {
      case '(' => depth += 1; false
      case ')' => depth -= 1; false
      case ',' => depth == 0
      case _ => false
    }
    topComma || Seq("col(", "column(", "expr(", "$\"").exists(args.contains)
  }

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

  test("only Spread.byKey hash-partitions by a key in main code") {
    // keyless repartition(1) / repartition(n) stays legal
    val call = ".repartition("
    val sites = for {
      p <- scalaFiles(Seq("src/main/scala/graft/operators",
        "src/main/scala/graft/queries"))
      if p.getFileName.toString != "Spread.scala"
      text = Files.readString(p)
      i <- java.util.regex.Pattern.quote(call).r.findAllMatchIn(text)
        .map(_.start).toSeq
      if keyed(argsAt(text, i + call.length))
    } yield s"$p:${text.substring(0, i).count(_ == '\n') + 1}"
    assert(sites.isEmpty, sites.mkString("keyed repartition at ", ", ", ""))
  }

  test("only Checkpoints calls localCheckpoint in operators/ and queries/") {
    // a raw checkpoint's blocks are never registered, so releaseAll
    // cannot drop them
    val call = ".localCheckpoint("
    val sites = for {
      p <- scalaFiles(Seq("src/main/scala/graft/operators",
        "src/main/scala/graft/queries"))
      lines = Files.readAllLines(p).asScala.toVector
      i <- lines.indices if lines(i).contains(call)
    } yield s"$p:${i + 1}"
    assert(sites.isEmpty, sites.mkString("raw localCheckpoint at ", ", ", ""))
  }
}
