package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SessionMemo

/** The build/share/release policy every build-once substrate follows
  * through [[SessionMemo]]: one locked build per key, nothing cached
  * for a failed build, a sfDir switch releases the old entry once, and
  * `invalidate` touches one session only. */
class SessionMemoSpec extends AnyFunSuite with SparkTestBase {

  /** A memo whose release appends the released value to the buffer. */
  private def recording(): (SessionMemo[String], ArrayBuffer[String]) = {
    val released = ArrayBuffer[String]()
    (new SessionMemo[String](v => released.synchronized { released += v; () }),
      released)
  }

  test("8 threads asking for the same key build it once") {
    val memo = new SessionMemo[Int](_ => ())
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val got = (1 to 8).map { _ =>
        pool.submit(() => {
          start.await()
          memo(spark, "d") { Thread.sleep(50); builds.incrementAndGet() }
        })
      }
      start.countDown()
      assert(got.map(_.get(30, TimeUnit.SECONDS)).toSet == Set(1))
      assert(builds.get == 1)
    } finally pool.shutdownNow()
  }

  test("a sfDir switch releases the previous entry exactly once") {
    val (memo, released) = recording()
    assert(memo(spark, "a")("A") == "A")
    assert(memo(spark, "b")("B") == "B")
    assert(memo(spark, "b")("unused") == "B")
    assert(released == Seq("A"))
    assert(memo(spark, "a")("A2") == "A2")
    assert(released == Seq("A", "B"))
  }

  test("a build that throws caches nothing; the next call builds") {
    val (memo, _) = recording()
    intercept[IllegalStateException](memo(spark, "d")(throw new IllegalStateException))
    assert(memo(spark, "d")("built") == "built")

    // the dir kind also removes the dir the failed fill was given
    val dirs = SessionMemo.indexDirs("graft_memospec")
    var given = ""
    intercept[IllegalStateException] {
      dirs(spark, "/x/sf0") { dir => given = dir; throw new IllegalStateException }
    }
    assert(given.nonEmpty && !Files.exists(Paths.get(given)))
    val kept = dirs(spark, "/x/sf0")(_ => ())
    assert(kept != given && Files.isDirectory(Paths.get(kept)))
  }

  test("invalidate(s) leaves another session's entries alone") {
    val (memo, released) = recording()
    val other = spark.newSession()
    memo(spark, "d")("shared")
    memo(other, "d")("other")
    SessionMemo.invalidate(other)
    assert(released == Seq("other"))
    assert(memo(spark, "d")("unused") == "shared")
    assert(memo(other, "d")("rebuilt") == "rebuilt")
  }
}
