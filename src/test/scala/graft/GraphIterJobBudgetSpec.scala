package graft

import org.scalatest.funsuite.AnyFunSuite

/** Job budget of the two queries of perfbench's `graph-iter` workload
  * (q98 directed PageRank, q104 HITS): a warm execution — the pinned
  * co-ship, k-NN, pair and directed citation spines already built —
  * runs one vertex-state checkpoint, then one exchange and one
  * checkpoint per round or half-round with its loop scalar observed on
  * it, and the final action; no separate edge checkpoint, per-round
  * join, `count()` or scalar aggregate, and no rebuild of the citation
  * spine. Each budget is the count measured at sf0.001 on `local[4]`
  * plus a margin of 2 for AQE job jitter. */
class GraphIterJobBudgetSpec extends AnyFunSuite with SparkTestBase {

  private val budgets = Seq(
    "q98_citation_pagerank" -> (9 + 2),
    "q104_citation_hits" -> (11 + 2))

  budgets.foreach { case (q, budget) =>
    test(s"$q runs at most $budget jobs per warm execution") {
      val d = "/root/testdata/sf0.001"
      def run(): Unit = SparkEntry.queries(q)(spark, d)
        .write.format("noop").mode("overwrite").save()
      // warm pass: builds the session-pinned spines the query reads
      try run() finally Checkpoints.releaseAll(spark)
      val (tap, err) = Telemetry.measure(spark)(
        try run() finally Checkpoints.releaseAll(spark))
      assert(err.isEmpty, err.toString)
      assert(tap.jobs.get <= budget, s"$q ran ${tap.jobs.get} jobs")
    }
  }
}
