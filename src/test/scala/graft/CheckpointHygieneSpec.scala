package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SessionMemo

/** Storage hygiene contract (round-2 VERDICT "What's wrong" #2): a
  * bench-style pass — run query, then `Checkpoints.releaseAll` — must
  * leave ZERO checkpoint blocks in the block manager, except the
  * deliberately pinned session views (co-ship pair spine, the co-ship
  * edge aggregate and the substrates derived from them), which `SessionMemo.invalidate` drops — every one
  * of them, whichever query family built it.
  * The session is shared with other suites, so all assertions are on
  * the DELTA of persistent RDD ids. */
class CheckpointHygieneSpec extends AnyFunSuite with SparkTestBase {

  test("bench-style run + releaseAll leaves only the pinned spine; invalidate clears it") {
    val d = "/root/testdata/sf0.001"
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // the checkpoint-heavy members of every family: spine (q15/q17),
    // PPJoin dedup (q25), iterative CC + BFS (q34/q35), shared
    // intermediates (q50), IVF index (q51), LSH near-dup (q70), and one
    // consumer of each pinned view outside the spine family: refined
    // communities (q188), ANF registers (q206), contamination census
    // (q195), graded (exact, ann) rankings (q196)
    val heavy = Seq("q15_cosupply_edges", "q17_supplier_triangles",
      "q25_ngram_jaccard", "q34_cosupply_components", "q35_ego_bfs",
      "q50_sole_blame", "q51_ann_ivf_topk", "q70_embed_neardup_lsh",
      "q188_communities_refined", "q206_anf_reach",
      "q195_contamination_census", "q196_ann_recall_at_k")
    heavy.foreach { q =>
      SparkEntry.queries(q)(spark, d)
        .write.format("noop").mode("overwrite").save()
      Checkpoints.releaseAll(spark)
    }
    assert(Checkpoints.trackedCount(spark, includePinned = false) == 0)
    // at most the pinned materialized views these queries build may
    // remain: pair spine, co-ship edge aggregate, thresholded edge set,
    // directed k-NN, refined labels, ANF registers, census, and the
    // (exact, ann) pair
    val afterRun = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(afterRun.size <= 9, s"stale non-pinned blocks: $afterRun")

    SessionMemo.invalidate(spark)
    val afterInvalidate = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(afterInvalidate.isEmpty,
      s"stale blocks after SessionMemo.invalidate: $afterInvalidate")
  }

  test("iterative loops retain at most two rounds of state while running") {
    import spark.implicits._
    import graft.operators.Graph
    // a 64-node path graph forces many propagation rounds; historical
    // behavior pinned 2 checkpoints per round for the whole call
    val path = (0L until 63L).map(i => (i, i + 1, 1L))
    val edges = path.map(e => (e._1, e._2)).toDF("a", "b")
    Checkpoints.release(edges) // not a checkpoint: a no-op, must not throw
    val weighted = path.toDF("a", "b", "w")
    val cycle = (0L until 8L).map(i => (i, (i + 1) % 8)).toDF("src", "dst")
    // every fixpoint loop, run to its fixpoint or cap over the path (the
    // SCC coloring, over a cycle, is the minReachBoth fixpoint)
    val loops = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "connectedComponentsStar" -> (() => Graph.connectedComponentsStar(edges)),
      "connectedComponents" -> (() => Graph.connectedComponents(edges)),
      "rootClosure" -> (() => Graph.rootClosure(edges.toDF("child", "parent"))),
      "shortestPathsInt" -> (() => Graph.shortestPathsInt(weighted, 0L, rounds = 20)),
      "earliestArrival" -> (() =>
        Graph.earliestArrival(weighted, Seq(0L), ts = "w", maxIter = 70)),
      "dagGenerations" -> (() => Graph.dagGenerations(edges.toDF("src", "dst"))),
      "kCore" -> (() => Graph.kCore(edges, k = 2)),
      "kTruss" -> (() => Graph.kTruss(edges, k = 3)),
      "stronglyConnectedComponents" -> (() => Graph.stronglyConnectedComponents(
        cycle, "src", "dst", 50, 100, pivotFastPath = false, numPivots = 1)))
    loops.foreach { case (name, run) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val rows = run().collect()
      if (name == "connectedComponentsStar")
        assert(rows.forall(_.getLong(1) == 0L))
      val live = spark.sparkContext.getPersistentRDDs.keySet -- before
      // the result's blocks only (verts + final edge set for the star,
      // settled batch + emptied vertex and edge sets for the SCC) —
      // every superseded round was released
      assert(live.size <= 3, s"$name retained ${live.size} checkpoints")
      Checkpoints.releaseAll(spark)
      val after = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(after.isEmpty, name)
    }
  }
}
