package graft

import org.scalatest.funsuite.AnyFunSuite

/** Job budget of the iterative queries. Over the directed citation
  * spine: q98 directed PageRank and q104 HITS (perfbench's `graph-iter`
  * workload), q105 weighted and q143 personalized PageRank. A warm
  * execution — the pinned co-ship, k-NN, pair and citation spines and
  * the query's pinned vertex state already built — runs one exchange
  * per round or half-round, a checkpoint with its loop scalar observed
  * for every one but PageRank's last round, which the final action
  * computes; no vertex-state build, per-round join, `count()`, scalar
  * aggregate or seed pick. The `Graph.fixpoint` loops — q19 root
  * closure, q34 components, q110 shortest paths, q191 earliest arrival
  * and q200 generations — run one superstep and one observing
  * checkpoint per round, with no `count()` or `isEmpty` job. Each
  * budget is the count measured at sf0.001 on `local[4]` plus a margin
  * for AQE job jitter: 2, or 1 for q104, so that its budget still fails
  * the 11 jobs HITS ran when every execution built its own vertex
  * state. */
class GraphIterJobBudgetSpec extends AnyFunSuite with SparkTestBase {

  private val budgets = Seq(
    "q98_citation_pagerank" -> (6 + 2),
    "q104_citation_hits" -> (9 + 1),
    "q105_citation_pagerank_weighted" -> (6 + 2),
    "q143_personalized_pagerank" -> (6 + 2),
    "q19_root_closure" -> (13 + 2),
    "q34_cosupply_components" -> (7 + 2),
    "q110_shortest_paths" -> (20 + 2),
    "q191_temporal_reach" -> (11 + 2),
    "q200_citation_generations" -> (15 + 2))

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
