package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** Property checks for the iterative graph operators against
  * driver-side brute force on seeded random graphs — the distributed
  * fixpoint loops must agree with the obvious sequential algorithms on
  * arbitrary topologies, not just the hand-built spec fixtures.
  * (scalacheck's scalatest bridge is not in the offline cache, so these
  * are seeded-Random property loops.) */
class GraphPropertySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def randomEdges(rnd: scala.util.Random, nV: Int, nE: Int) =
    Seq.fill(nE)((rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong))
      .filter { case (a, b) => a != b }.distinct

  /** Sequential union-find. */
  private def bruteComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // canonical label = min vertex in component
    val byRoot = verts.groupBy(find)
    byRoot.values.flatMap(vs => vs.map(_ -> vs.min)).toMap
  }

  /** Sequential BFS over an undirected adjacency. */
  private def bruteBfs(edges: Seq[(Long, Long)], seed: Long,
                       depth: Int): Map[Long, Int] = {
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    var level = Map(seed -> 0)
    var frontier = Set(seed)
    (1 to depth).foreach { l =>
      frontier = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
        .diff(level.keySet)
      level = level ++ frontier.map(_ -> l)
    }
    level
  }

  /** Driver-side replay of the integer PageRank recurrence the
    * operators document: `seeds` = None is [[Graph.pageRankDirectedInt]]
    * (k = n), Some(S) is [[Graph.pageRankPersonalizedInt]] (k = |S|).
    * Edges are (s, d, w); self-loops and non-positive weights drop,
    * duplicate rows collapse. */
  private def replayPageRank(edges: Seq[(Long, Long, Long)],
                             seeds: Option[Set[Long]], iters: Int,
                             scale: Long): Map[Long, Long] = {
    val e = edges.filter { case (s, d, w) => s != d && w > 0 }.distinct
    val verts = e.flatMap { case (s, d, _) => Seq(s, d) }.distinct
    if (verts.isEmpty) return Map.empty
    val tw = e.groupMapReduce(_._1)(_._3)(_ + _)
    val k = seeds.fold(verts.size.toLong)(_.size.toLong)
    def isw(v: Long) = if (seeds.forall(_(v))) 1L else 0L
    val tele = 15L * (scale / k) / 100L
    var r = verts.map(v => v -> isw(v) * (scale / k)).toMap
    (1 to iters).foreach { _ =>
      val dsh = verts.filterNot(tw.contains).map(r).sum / k
      val m = e.groupMapReduce(_._2) { case (s, _, w) => r(s) * w / tw(s) }(_ + _)
      r = verts.map(v =>
        v -> (tele * isw(v) + 85L * (m.getOrElse(v, 0L) + isw(v) * dsh) / 100L)).toMap
    }
    r
  }

  /** Driver-side replay of [[Graph.hitsInt]]'s L1-rescaled integer
    * half-rounds; a total of 0 (no raw sums, or all of them 0) divides
    * by 1. */
  private def replayHits(edges: Seq[(Long, Long)], iters: Int,
                         scale: Long): Map[Long, (Long, Long)] = {
    val e = edges.filter { case (s, d) => s != d }.distinct
    val verts = e.flatMap { case (s, d) => Seq(s, d) }.distinct
    def rescale(raw: Map[Long, Long]): Map[Long, Long] = {
      val tot = raw.values.sum max 1L
      verts.map(v => v -> raw.getOrElse(v, 0L) * scale / tot).toMap
    }
    val (a, h) = (1 to iters).foldLeft(
      (Map.empty[Long, Long], verts.map(_ -> scale).toMap)) { case ((_, h), _) =>
      val a = rescale(e.groupMapReduce(_._2)(x => h(x._1))(_ + _))
      (a, rescale(e.groupMapReduce(_._1)(x => a(x._2))(_ + _)))
    }
    verts.map(v => v -> (a(v), h(v))).toMap
  }

  private def hitsRanks(edges: org.apache.spark.sql.DataFrame, iters: Int,
                        scale: Long): Map[Long, (Long, Long)] =
    Graph.hitsInt(edges, iters = iters, scale = scale)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap

  /** Random digraph rows with self-loops, duplicate rows, sinks and
    * sources, and weights in [-2, 5] (non-positive ones included). */
  private def randomDigraph(rnd: scala.util.Random, nV: Int,
                            nE: Int): Seq[(Long, Long, Long)] = {
    val base = Seq.fill(nE)((rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong,
      rnd.nextInt(8).toLong - 2))
    // a dedicated sink and source beyond nV, a self-loop, a duplicate
    base ++ Seq((0L, nV.toLong, 1L), (nV + 1L, 1L, 1L), (2L, 2L, 1L), base.head)
  }

  test("integer PageRank and HITS equal the driver-side replay of their " +
       "recurrences on random digraphs") {
    val rnd = new scala.util.Random(31)
    (1 to 4).foreach { trial =>
      val rows = randomDigraph(rnd, nV = 10 + 4 * trial, nE = 12 + 8 * trial)
      val weighted = rows.toDF("src", "dst", "w")
      val plain = rows.map { case (s, d, _) => (s, d, 1L) }
      val verts = rows.flatMap(r => Seq(r._1, r._2)).distinct.sorted
      // a seed outside the graph keeps its share of |S| but no vertex
      val seeds = Seq(verts.head, verts(verts.size / 2), 1000L)
      val iters = 1 + trial % 3
      Seq(1000000000000L, 1000L).foreach { scale =>
        def ranks(df: org.apache.spark.sql.DataFrame) =
          df.as[(Long, Long)].collect().toMap
        assert(ranks(Graph.pageRankDirectedInt(weighted, iters = iters,
          scale = scale)) == replayPageRank(plain, None, iters, scale),
          s"directed, trial $trial, scale $scale: $rows")
        assert(ranks(Graph.pageRankDirectedInt(weighted, iters = iters,
          scale = scale, weightCol = "w")) ==
          replayPageRank(rows, None, iters, scale),
          s"weighted, trial $trial, scale $scale: $rows")
        assert(ranks(Graph.pageRankPersonalizedInt(weighted, seeds,
          iters = iters, scale = scale)) ==
          replayPageRank(plain, Some(seeds.toSet), iters, scale),
          s"personalized, trial $trial, scale $scale: $rows")
      }
      // scale 7 floors many rescaled values, and some totals, to 0
      Seq(1000000L, 7L).foreach { scale =>
        val edges = rows.map { case (s, d, _) => (s, d) }
        assert(hitsRanks(edges.toDF("src", "dst"), iters, scale) ==
          replayHits(edges, iters, scale), s"hits, trial $trial, scale $scale: $edges")
      }
      graft.Checkpoints.releaseAll(spark)
    }
    // two edges at scale 1: each authority floors to 1 div 2 = 0, so the
    // hub half-round's raw sums are present and total 0
    val split = Seq((0L, 1L), (2L, 3L))
    assert(replayHits(split, 1, 1L).values.forall(_ == ((0L, 0L))))
    assert(hitsRanks(split.toDF("src", "dst"), 1, 1L) == replayHits(split, 1, 1L))
    graft.Checkpoints.releaseAll(spark)
  }

  test("parallel edges with distinct weights all count, exact duplicates once") {
    // (0→1) at weights 2 and 5 and (0→2) at weight 2 are three distinct
    // rows; each of them also appears twice
    val base = Seq((0L, 1L, 2L), (0L, 1L, 5L), (0L, 2L, 2L), (1L, 2L, 1L),
      (2L, 0L, 3L), (2L, 3L, 1L), (3L, 1L, 4L), (3L, 1L, 1L))
    val rows = base ++ base.take(3) ++ Seq((2L, 3L, 1L))
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    val weighted = Graph.pageRankDirectedInt(rows.toDF("src", "dst", "w"),
      iters = 3, weightCol = "w")
    assert(ranks(weighted) == replayPageRank(base, None, 3, 1000000000000L))
    assert(ranks(weighted) == ranks(Graph.pageRankDirectedInt(
      base.toDF("src", "dst", "w"), iters = 3, weightCol = "w")))
    // HITS ignores weights: parallel (s, d) pairs are one edge
    val pairs = rows.map { case (s, d, _) => (s, d) }
    assert(hitsRanks(pairs.toDF("src", "dst"), 2, 1000000L) ==
      replayHits(pairs.distinct, 2, 1000000L))
    graft.Checkpoints.releaseAll(spark)
  }

  test("one pinned vertex state serves repeated executions at iters 1 to 3, " +
       "equal to the edges form term for term, also after releaseAll") {
    val rows = randomDigraph(new scala.util.Random(43), nV = 18, nE = 40)
    val df = rows.toDF("src", "dst", "w")
    val seeds = rows.flatMap(r => Seq(r._1, r._2)).distinct.sorted.take(3)
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    def pinned = graft.Checkpoints.trackedCount(spark) -
      graft.Checkpoints.trackedCount(spark, includePinned = false)
    val pinnedBefore = pinned
    val weighted = Graph.pageRankState(df, weightCol = "w", pin = true)
    val personalized = Graph.pageRankState(df, seeds = Some(seeds), pin = true)
    val hubs = Graph.hitsState(df, pin = true)
    try {
      // a lazy last round that reads the pinned state directly, run
      // only after the rounds' own blocks are released
      val oneRound = Graph.pageRankRounds(weighted, iters = 1)
      (1 to 2).foreach { pass =>
        (1 to 3).foreach { iters =>
          val at = s"pass $pass, iters $iters"
          assert(ranks(Graph.pageRankRounds(weighted, iters)) ==
            ranks(Graph.pageRankDirectedInt(df, iters = iters, weightCol = "w")),
            s"weighted, $at")
          assert(ranks(Graph.pageRankRounds(personalized, iters)) ==
            ranks(Graph.pageRankPersonalizedInt(df, seeds, iters = iters)),
            s"personalized, $at")
          assert(hits(Graph.hitsRounds(hubs, iters)) ==
            hits(Graph.hitsInt(df, iters = iters)), s"hits, $at")
        }
        graft.Checkpoints.releaseAll(spark)
        assert(pinned == pinnedBefore + 3, s"pass $pass")
      }
      assert(ranks(oneRound) == replayPageRank(rows, None, 1, 1000000000000L))
    } finally Seq(weighted, personalized, hubs)
      .foreach(st => graft.Checkpoints.release(st.frame))
    assert(pinned == pinnedBefore)
  }

  test("connectedComponents agrees with union-find on random graphs") {
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val edges = randomEdges(rnd, nV = 40, nE = 55)
      val got = Graph.connectedComponents(edges.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      assert(got == bruteComponents(edges), s"trial $trial: $edges")
    }
  }

  test("connectedComponentsStar agrees with union-find on random graphs") {
    val rnd = new scala.util.Random(17)
    (1 to 3).foreach { trial =>
      val edges = randomEdges(rnd, nV = 40, nE = 55)
      val got = Graph.connectedComponentsStar(edges.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      assert(got == bruteComponents(edges), s"trial $trial: $edges")
    }
  }

  test("connectedComponentsStar handles a path graph (worst case for label prop)") {
    // 0-1-2-...-63: diameter 63, but star contraction needs O(log n) rounds
    val path = (0L until 63L).map(i => (i, i + 1))
    val got = Graph.connectedComponentsStar(path.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(got == (0L to 63L).map(_ -> 0L).toMap)
  }

  test("egoBfs agrees with sequential BFS on random graphs") {
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { trial =>
      val edges = randomEdges(rnd, nV = 30, nE = 45)
      val seed = edges.head._1
      val got = Graph.egoBfs(spark, edges.toDF("a", "b"), seed, depth = 3)
        .as[(Long, Int)].collect().toMap
      assert(got == bruteBfs(edges, seed, 3), s"trial $trial: $edges")
    }
  }

  test("anfKmv registers equal the exact k-min ball hashes on random " +
       "graphs (the whole sketch state, not just the estimate)") {
    val M = 2147483647L
    val k = 8
    def h(u: Long): Long = (u * 1103515245L + 12345L) % M
    val rnd = new scala.util.Random(13)
    (1 to 3).foreach { trial =>
      val edges = randomEdges(rnd, nV = 30, nE = 40)
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val got = Graph.anfKmv(edges.toDF("a", "b"))
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
      val brute = (for {
        v <- verts; hop <- 1 to 3
      } yield {
        val ball = bruteBfs(edges, v, hop).keySet
        val hashes = ball.map(h).toSeq.distinct.sorted
        val reg = hashes.take(k)
        val est = if (reg.size < k) reg.size.toLong
                  else (k - 1) * M / math.max(reg.last, 1L)
        (v, hop.toLong) -> (reg.size.toLong, reg.last, est)
      }).toMap
      assert(got == brute, s"trial $trial")
    }
  }

  test("q227 neighborhood function is the exact per-hop readout of the " +
       "q206 registers (sum, monotone, integer basis points, 90% flag)") {
    val d = "/root/testdata/sf0.001"
    val regs = SparkEntry.queries("q206_anf_reach")(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect()
    val nf = SparkEntry.queries("q227_anf_diameter")(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(nf.keySet == Set(1L, 2L, 3L))
    val expected = regs.groupBy(_._2).view
      .mapValues(rs => (rs.map(_._5).sum, rs.length.toLong)).toMap
    val nfMax = expected(3L)._1
    (1L to 3L).foreach { h =>
      val (gotNf, gotNv, frac, flag) = nf(h)
      assert((gotNf, gotNv) == expected(h), s"hop $h")
      assert(frac == gotNf * 10000L / nfMax, s"hop $h frac")
      assert(flag == (if (gotNf * 10 >= nfMax * 9) 1L else 0L), s"hop $h flag")
    }
    // N(h) monotone non-decreasing: a ball only grows with the radius
    assert(nf(1L)._1 <= nf(2L)._1 && nf(2L)._1 <= nf(3L)._1)
    assert(nf(3L)._3 == 10000L && nf(3L)._4 == 1L)
  }

  test("q234 assortativity pieces equal the local degree-Pearson replay " +
       "on the real spine, with the symmetry identities") {
    val d = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q234_degree_assortativity")(spark, d)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    val ed = graft.queries.GraphQueries.knnSpine(spark, d)
      .as[(Long, Long)].collect().toSeq
    val sy = ed ++ ed.map { case (a, b) => (b, a) }
    val deg = sy.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val xs = sy.map { case (u, _) => deg(u) }
    val xys = sy.map { case (u, v) => deg(u) * deg(v) }
    val m2 = sy.size.toLong
    val (sx, sxy, sxx) = (xs.sum, xys.sum, xs.map(x => x * x).sum)
    assert(got == ((m2, sx, sxy, sxx,
      m2 * sxy - sx * sx, m2 * sxx - sx * sx)), s"got $got")
    // directed-both symmetry: Σy = Σx and Σy² = Σx² by construction,
    // so |r_num| ≤ r_den (Cauchy–Schwarz) and r_den ≥ 0
    assert(got._6 >= 0L && math.abs(got._5) <= got._6)
  }

  test("conductance on two triangles joined by a bridge: each side " +
       "leaks exactly the bridge, denominator symmetric") {
    // triangles {1,2,3} and {4,5,6}, bridge 3-4; m = 7
    // community A = {1,2,3}: cut 1, vol = 2+2+3 = 7, min(7, 14-7) = 7
    val ed = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("a", "b")
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L),
      (5L, 20L), (6L, 20L)).toDF("v", "community")
    val got = Graph.conductance(ed, labels)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(10L) == ((10L, 3L, 1L, 7L, 7L, 1428L)), s"${got(10L)}")
    assert(got(20L) == ((20L, 3L, 1L, 7L, 7L, 1428L)), s"${got(20L)}")
    // one community covering everything: cut 0, guarded denominator
    val one = Graph.conductance(ed,
      Seq(1L, 2L, 3L, 4L, 5L, 6L).map(v => (v, 1L)).toDF("v", "community"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(one == ((1L, 6L, 0L, 14L, 7L, 0L)), s"$one")
    graft.Checkpoints.releaseAll(spark)
  }

  test("q237 reciprocity: mutual picks are even and the undirected " +
       "spine size equals n_edges - n_mutual/2") {
    val d = "/root/testdata/sf0.001"
    val (nEdges, nMutual, recip) =
      SparkEntry.queries("q237_knn_reciprocity")(spark, d)
        .as[(Long, Long, Long)].collect().head
    assert(nMutual % 2 == 0, "each mutual pair contributes two picks")
    assert(nMutual >= 0 && nMutual <= nEdges)
    assert(recip == nMutual * 10000L / nEdges)
    // every mutual PAIR collapses to one undirected edge, every
    // one-way pick stays one: |E_und| = n_edges − n_mutual/2
    val undirected = graft.queries.GraphQueries.knnSpine(spark, d).count()
    assert(undirected == nEdges - nMutual / 2,
      s"undirected $undirected vs $nEdges - ${nMutual / 2}")
  }

  test("rootClosure resolves the min-parent chain on random forests") {
    val rnd = new scala.util.Random(13)
    (1 to 3).foreach { trial =>
      // random parent pointers upward: parent(v) < v ensures a DAG with
      // multi-parent nodes when duplicated
      val edges = (1 to 35).flatMap { v =>
        Seq.fill(1 + rnd.nextInt(2))((v.toLong, rnd.nextInt(v).toLong))
      }.distinct
      val minParent = edges.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      def root(v: Long): Long =
        minParent.get(v).map(root).getOrElse(v)
      val expected = (edges.map(_._1) ++ edges.map(_._2)).distinct
        .map(v => v -> root(v)).toMap
      val got = Graph.rootClosure(edges.toDF("child", "parent"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"trial $trial")
    }
  }

  /** Sequential SCC: per-vertex forward DFS reachability, then
    * scc_id(v) = min u with v →* u and u →* v (self included). */
  private def bruteScc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def reach(s: Long): Set[Long] = {
      var seen = Set(s)
      var frontier = Set(s)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
          .diff(seen)
        seen = seen ++ frontier
      }
      seen
    }
    val r = verts.map(v => v -> reach(v)).toMap
    verts.map(v => v -> (r(v).filter(u => r(u).contains(v)) + v).min).toMap
  }

  test("stronglyConnectedComponents agrees with brute force on random digraphs") {
    val rnd = new scala.util.Random(31)
    (1 to 3).foreach { trial =>
      // denser than the undirected trials: directed cycles need both
      // orientations to appear, and density drives non-trivial SCCs
      val edges = randomEdges(rnd, nV = 30, nE = 70)
      val got = Graph.stronglyConnectedComponents(
        edges.toDF("src", "dst")).as[(Long, Long)].collect().toMap
      assert(got == bruteScc(edges), s"trial $trial: $edges")
      graft.Checkpoints.releaseAll(spark)
    }
  }

  test("multi-pivot SCC agrees with brute force on sharded digraphs") {
    // the multi-pivot regime: several weak components, each with its
    // own non-trivial SCC structure — degree-ranked pivots seed
    // multiple components at once and same-SCC waves must dedupe
    val rnd = new scala.util.Random(47)
    (1 to 2).foreach { trial =>
      val shards = (0 until 3).flatMap { c =>
        randomEdges(rnd, nV = 12, nE = 30)
          .map { case (a, b) => (a + c * 100L, b + c * 100L) }
      }
      val got = Graph.stronglyConnectedComponents(
        shards.toDF("src", "dst"), "src", "dst", 50, 100,
        pivotFastPath = true, numPivots = 8)
        .as[(Long, Long)].collect().toMap
      assert(got == bruteScc(shards), s"trial $trial: $shards")
      graft.Checkpoints.releaseAll(spark)
    }
  }

  test("dagGenerations equals brute-force longest path on random DAGs " +
       "and detects cycles") {
    val rnd = new scala.util.Random(53)
    (1 to 3).foreach { trial =>
      // random DAG: edges only low id -> high id
      val edges = Seq.fill(60)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .collect { case (a, b) if a < b => (a, b) }.distinct
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // brute force: relax in id order (a valid topological order here)
      val lvl = scala.collection.mutable.Map(verts.map(_ -> 0L): _*)
      verts.sorted.foreach { v =>
        edges.filter(_._1 == v).foreach { case (_, w) =>
          lvl(w) = math.max(lvl(w), lvl(v) + 1L)
        }
      }
      val got = Graph.dagGenerations(edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(got == lvl.toMap, s"trial $trial: $edges")
      graft.Checkpoints.releaseAll(spark)
    }
    // a cycle must fail loudly, not settle on garbage levels
    val ex = intercept[IllegalArgumentException] {
      Graph.dagGenerations(
        Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst"), maxIter = 20)
    }
    assert(ex.getMessage.contains("cycle"))
    graft.Checkpoints.releaseAll(spark)
  }

  test("dagGenerations of an edgeless input is empty") {
    val got = Graph.dagGenerations(Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(got.columns.toSeq == Seq("v", "generation"))
    assert(got.collect().isEmpty)
    graft.Checkpoints.releaseAll(spark)
  }

  test("shortestPathsInt equals hop-bounded Bellman-Ford on random weighted graphs") {
    val rnd = new scala.util.Random(61)
    (1 to 3).foreach { trial =>
      // weights -1..7: negative edges drop, parallel edges keep the min
      val edges = Seq.fill(50)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong,
        rnd.nextInt(9).toLong - 1L)).filter(e => e._1 != e._2)
      val sym = edges.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
        .filter(_._3 >= 0L)
      val src = edges.head._1
      val rounds = trial + 1
      var dist = Map(src -> 0L)
      (1 to rounds).foreach { _ =>
        val cand = for ((u, v, w) <- sym; du <- dist.get(u)) yield v -> (du + w)
        dist = (dist.toSeq ++ cand).groupMapReduce(_._1)(_._2)(math.min)
      }
      val got = Graph.shortestPathsInt(edges.toDF("a", "b", "w"), src, rounds)
        .as[(Long, Long)].collect().toMap
      assert(got == dist, s"trial $trial: $edges")
      graft.Checkpoints.releaseAll(spark)
    }
    // a source outside the edge list still reaches itself
    assert(Graph.shortestPathsInt(Seq((1L, 2L, 3L)).toDF("a", "b", "w"), 9L, 2)
      .as[(Long, Long)].collect().toMap == Map(9L -> 0L))
    graft.Checkpoints.releaseAll(spark)
  }

  /** Sequential label-correcting earliest arrival (undirected temporal
    * edges, t ≥ tail arrival, sources at -1). */
  private def bruteArrival(edges: Seq[(Long, Long, Long)],
                           sources: Seq[Long]): Map[Long, Long] = {
    val sym = edges.flatMap { case (u, v, t) => Seq((u, v, t), (v, u, t)) }
      .filter(e => e._1 != e._2).distinct
    var arr = sources.map(_ -> -1L).toMap
    var changed = true
    while (changed) {
      changed = false
      sym.foreach { case (u, v, t) =>
        if (arr.get(u).exists(t >= _) && arr.get(v).forall(t < _)) {
          arr += v -> t; changed = true
        }
      }
    }
    arr
  }

  test("earliestArrival agrees with brute force on random temporal graphs") {
    val rnd = new scala.util.Random(23)
    (1 to 3).foreach { trial =>
      val edges = Seq.fill(60)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong,
        rnd.nextInt(6).toLong)).filter(e => e._1 != e._2).distinct
      val srcs = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted.take(3)
      val got = Graph.earliestArrival(edges.toDF("a", "b", "ts"), srcs)
        .as[(Long, Long)].collect().toMap
      assert(got == bruteArrival(edges, srcs), s"trial $trial: $edges")
      graft.Checkpoints.releaseAll(spark)
    }
  }

  test("earliestArrival respects time where static reachability does not") {
    // 1 -(t=5)- 2 -(t=3)- 3: statically connected, but the only journey
    // to 3 runs backward in time — temporally unreachable
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 3L))
    val got = Graph.earliestArrival(edges.toDF("a", "b", "ts"), Seq(1L))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> -1L, 2L -> 5L))
    graft.Checkpoints.releaseAll(spark)
  }

  test("stronglyConnectedComponents handles a pure cycle and a pure DAG") {
    // one n-cycle = one SCC; trim must also clear a DAG chain without
    // ever entering the coloring phase's worst case
    val cycle = (0L until 12L).map(i => (i, (i + 1) % 12))
    val gotC = Graph.stronglyConnectedComponents(cycle.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(gotC == (0L until 12L).map(_ -> 0L).toMap)
    val chain = (0L until 15L).map(i => (i, i + 1))
    val gotD = Graph.stronglyConnectedComponents(chain.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(gotD == (0L to 15L).map(v => v -> v).toMap)
    graft.Checkpoints.releaseAll(spark)
  }
}
