package graft

import org.scalatest.funsuite.AnyFunSuite

/** The full file-drop → stream → foreachBatch-sink → parity harness
  * (StreamRun) must be green on the sf0.001 fixture inside the test
  * suite: one test per claim of [[StreamRun.channels]] (tumbling and
  * co-edges share one), so a channel added to the table is tested
  * automatically. The sf0.1 run is `runMain graft.StreamRun
  * /root/testdata/sf0.1` (recorded in COVERAGE.md). */
class StreamEndToEndSpec extends AnyFunSuite with SparkTestBase {

  for (claim <- StreamRun.channels.map(_.claim).distinct) test(claim) {
    val work = java.nio.file.Files.createTempDirectory("stream_e2e").toString
    for (ch <- StreamRun.channels if ch.claim == claim) {
      val (bad, rows) = ch.run(spark, "/root/testdata/sf0.001", work)
      assert(rows > 0, s"${ch.verdict}: the batch twin is empty")
      assert(bad == 0, s"$bad ${ch.verdict} rows diverge from the batch twin")
      assert(Checkpoints.trackedCount(spark, includePinned = false) == 0,
        s"${ch.verdict} left unpinned checkpoint blocks behind")
    }
  }
}
