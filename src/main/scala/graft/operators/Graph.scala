package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Checkpoints
import graft.Strings.jsonEscape

/** Iterative graph operators — the reference's distinctive layer
  * (SURVEY.md §2.9), redesigned as whole-graph dataflow: one distributed
  * job per iteration instead of the reference's per-vertex driver
  * round-trips (its author flags that as the scalability bug,
  * `StaticNet.scala:337-345`).
  *
  * Scale design: state lives in DataFrames keyed by vertex — shuffles
  * partition by vertex id, never collect to the driver — and the
  * closure, component, distance, arrival, generation, peel and
  * core-number loops run under the one [[fixpoint]] loop:
  *  - each round is one eager `localCheckpoint` (lineage truncation:
  *    an unchecked iterative plan grows exponentially in Catalyst) that
  *    also observes the loop's convergence scalar
  *    ([[Checkpoints.checkpointObserved]]) — no separate `count()` job;
  *  - each superseded round is released as soon as its successor is
  *    materialized, so a loop retains at most two rounds of state; the
  *    frame a loop is given is never released (its caller owns it);
  *  - every loop has a round cap, and returns whether it converged, so
  *    a caller that needs the fixpoint can require it.
  * A neighbour-aggregate round is one [[superstep]] over a vertex state
  * that carries its adjacency and a `changed` flag ([[relax]]): only
  * changed vertices send, one exchange per round.
  */
object Graph {

  /** Root resolution over a parent hierarchy (G2 — the reference's
    * recursive per-row `getRootFos`, `App.scala:21-35`, made a bulk
    * fixpoint). `edges` = (child, parent). Returns (node, root) — exactly
    * ONE row per node.
    *
    * The hierarchy may be a DAG (MAG FieldOfStudyChildren allows several
    * parents per child; the reference resolves the FIRST parent,
    * `App.scala:26`, an arbitrary pick). We make that deterministic:
    * each step follows the MINIMUM parent id, so every node has one
    * functional successor and the iteration carries one row per node —
    * no per-level fan-out on multi-parent hierarchies.
    *
    * Self-loops are dropped up front (the reference defends against
    * `parent == fieldId` cycles, `App.scala:28-31`); other cycles are
    * cut by the iteration bound.
    *
    * Scale shape: a [[fixpoint]] of [[relax]] rounds over a vertex state
    * (node, its children, anc): after k rounds anc(v) is v's k-th
    * ancestor, and anc_{k+1}(v) = anc_k(parent(v)), so each node sends
    * its anc to its children — one exchange per round, the moved-node
    * count observed on the round's checkpoint. */
  def rootClosure(edges: DataFrame, child: String = "child",
                  parent: String = "parent", maxIter: Int = 20): DataFrame = {
    val e = edges.filter(col(child) =!= col(parent))
      .groupBy(col(child).as("c")).agg(min(col(parent)).as("p")) // functional: one parent per child
    val kids = e.select(col("c").as("vx"), lit(null).cast(e.schema("c").dataType).as("k"))
      .union(e.select(col("p").as("vx"), col("c").as("k")))
      .groupBy(col("vx")).agg(collect_list(col("k")).as("kids"))
    fixpoint(kids.select(col("vx"), col("kids"), col("vx").as("anc"),
        lit(true).as("changed")), maxIter) { st =>
      relax(st, "anc", min,
        _.select(explode(col("kids")).as("vx"), col("anc").as("x")))(_ =!= _)
    }._1.select(col("vx").as("node"), col("anc").as("root"))
  }

  /** Ego BFS to `depth` over undirected edges (G5 — the reference's
    * driver loop `StaticNet.scala:305-420` as one job per LEVEL).
    * Returns (vertex, level), level = first-reach distance from seed. */
  def egoBfs(spark: SparkSession, edges: DataFrame, seed: Long,
             depth: Int, a: String = "a", b: String = "b"): DataFrame = {
    import spark.implicits._
    val adj = Checkpoints.checkpoint(edges.select(col(a).as("s"), col(b).as("d"))
      .union(edges.select(col(b).as("s"), col(a).as("d")))
      .distinct())
    var visited = Checkpoints.checkpoint(Seq((seed, 0)).toDF("v", "level"))
    var frontier = visited.select(col("v"))
    var prevNext: DataFrame = null
    var l = 1
    while (l <= depth && !frontier.isEmpty) {
      val next = Checkpoints.checkpoint(frontier.join(adj, frontier("v") === adj("s"))
        .select(col("d").as("v")).distinct()
        .join(visited, Seq("v"), "left_anti")
        .withColumn("level", lit(l)))
      val grown = Checkpoints.checkpoint(visited.union(next))
      Checkpoints.release(visited) // superseded by `grown`
      if (prevNext != null) Checkpoints.release(prevNext)
      visited = grown
      frontier = next.select(col("v"))
      prevNext = next
      l += 1
    }
    if (prevNext != null) Checkpoints.release(prevNext)
    Checkpoints.release(adj)
    visited
  }

  /** Multi-source BFS — hop distances from MANY sources in ONE
    * dataflow (the landmark / closeness-centrality pattern): state is
    * (src, v, level) keyed by vertex, one relaxation join per level,
    * min-level merge — [[egoBfs]] generalized so k sources cost one
    * loop, not k loops (at 100 TB the per-round scheduling dominates,
    * so batching sources into the same rounds is the scale move; state
    * grows as sources × reach, partitioned by vertex like everything
    * else). Bounded `depth` like [[shortestPathsInt]]'s fixed rounds:
    * exact within the horizon, oracle-unrollable. Returns (src, v,
    * level), level = hop distance, sources included at level 0. */
  def multiSourceBfs(edges: DataFrame, sources: Seq[Long], depth: Int,
                     a: String = "a", b: String = "b"): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val adj = Checkpoints.checkpoint(
      edges.select(col(a).as("s"), col(b).as("d"))
        .union(edges.select(col(b).as("s"), col(a).as("d")))
        .filter(col("s") =!= col("d")).distinct())
    var dist = Checkpoints.checkpoint(sources.toDF("src")
      .select(col("src"), col("src").as("v"), lit(0L).as("level")))
    var i = 0
    while (i < depth) {
      val relaxed = dist.alias("dd").join(adj.alias("aa"),
          col("dd.v") === col("aa.s"))
        .select(col("dd.src").as("src"), col("aa.d").as("v"),
          (col("dd.level") + 1L).as("level"))
      val next = Checkpoints.checkpoint(
        dist.select(col("src"), col("v"), col("level")).union(relaxed)
          .groupBy(col("src"), col("v")).agg(min(col("level")).as("level")))
      Checkpoints.release(dist)
      dist = next
      i += 1
    }
    Checkpoints.release(adj)
    dist
  }

  /** DETERMINISTIC uniform random walks — the graph-embedding
    * training-corpus primitive (DeepWalk, Perozzi et al. KDD'14;
    * node2vec with p = q = 1 — public algorithms): `numWalks` walks of
    * `steps` hops start at every vertex, and each hop moves to a
    * uniformly-pseudorandom neighbor. The transition is the engine's
    * LCG hash over (current vertex, walk index, step) modulo the
    * vertex's degree, indexing into the id-ranked neighbor list — no
    * RNG state, so walks are reproducible, partitioning-independent,
    * and REPLAYABLE: the oracle unrolls the hops with the same rank
    * and hash arithmetic. Returns the exploded trajectory
    * (start_v, walk_j, step, v) with step 0 = the start vertex.
    *
    * Scale shape: the walk frontier is (vertices × numWalks) rows and
    * each hop is one equi-join against the ranked adjacency — the
    * standard distributed walk dataflow (keyed exchange per hop, no
    * per-walk driver state). */
  def randomWalks(edges: DataFrame, numWalks: Int = 2, steps: Int = 4,
                  a: String = "a", b: String = "b"): DataFrame = {
    require(numWalks >= 1 && steps >= 1, "need numWalks, steps >= 1")
    val spark = edges.sparkSession
    import spark.implicits._
    // checkpointed: both relations feed every hop
    val adj = Checkpoints.checkpoint(
      edges.select(col(a).as("s"), col(b).as("d"))
        .union(edges.select(col(b).as("s"), col(a).as("d")))
        .filter(col("s") =!= col("d")).distinct())
    val ranked = Checkpoints.checkpoint(adj.withColumn("idx",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("s")).orderBy(col("d"))) - 1L))
    val deg = ranked.groupBy(col("s")).agg(count(lit(1)).as("deg"))
    val starts = adj.select(col("s").as("v")).distinct()
      .crossJoin((0 until numWalks).map(_.toLong).toDF("walk_j"))
    var cur = Checkpoints.checkpoint(starts
      .select(col("v").as("start_v"), col("walk_j"), lit(0L).as("step"),
        col("v")))
    val hops = scala.collection.mutable.ArrayBuffer(cur)
    var t = 1
    while (t <= steps) {
      val seed = col("v") * 1000L + col("walk_j") * 101L + lit(t) * 11L
      val next = Checkpoints.checkpoint(cur
        .join(deg, cur("v") === deg("s"))
        .withColumn("pick", pmod(graft.queries.lcgHash(seed), col("deg")))
        .join(ranked.select(col("s").as("ns"), col("d").as("nd"),
          col("idx")), col("v") === col("ns") && col("pick") === col("idx"))
        .select(col("start_v"), col("walk_j"), lit(t.toLong).as("step"),
          col("nd").as("v")))
      hops += next
      cur = next
      t += 1
    }
    val out = hops.reduce(_ unionByName _)
    val res = Checkpoints.checkpoint(out)
    (hops :+ adj :+ ranked).foreach(Checkpoints.release)
    res
  }

  /** DETERMINISTIC node2vec-style BIASED walks (Grover & Leskovec,
    * KDD'16 — public): the SECOND-ORDER extension of [[randomWalks]].
    * After the uniform first hop, each transition from `v` with
    * predecessor `prev` weights candidate neighbors by position in
    * the node2vec scheme — `wReturn` for stepping back to `prev`
    * (α = 1/p), `wCommon` for a common neighbor of `prev` and `v`
    * (α = 1, distance 1 from prev), `wOut` for an outward vertex
    * (α = 1/q) — with the rational p/q ratios pre-scaled to exact
    * integer weights (defaults encode p = q = 2). The pick is the
    * LCG hash modulo the walk position's total weight, resolved
    * against the running weight sum over the id-ordered candidate
    * list — stateless, reproducible, and unrollable hop by hop in the
    * oracle (the common-neighbor test is an EXISTS against the same
    * adjacency).
    *
    * Scale shape: per hop one equi-join against the adjacency (the
    * candidate fan-out), one (prev, cand) membership join, and one
    * per-walk-position window (partition = one neighbor list, ≤ max
    * degree rows). Returns (start_v, walk_j, step, v). */
  def biasedWalks(edges: DataFrame, numWalks: Int = 2, steps: Int = 4,
                  wReturn: Long = 1L, wCommon: Long = 2L, wOut: Long = 1L,
                  a: String = "a", b: String = "b"): DataFrame = {
    require(numWalks >= 1 && steps >= 2, "need numWalks >= 1, steps >= 2")
    require(wReturn > 0 && wCommon > 0 && wOut > 0, "weights must be > 0")
    val spark = edges.sparkSession
    import spark.implicits._
    val adj = Checkpoints.checkpoint(
      edges.select(col(a).as("s"), col(b).as("d"))
        .union(edges.select(col(b).as("s"), col(a).as("d")))
        .filter(col("s") =!= col("d")).distinct())
    val ranked = Checkpoints.checkpoint(adj.withColumn("idx",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("s")).orderBy(col("d"))) - 1L))
    val deg = ranked.groupBy(col("s")).agg(count(lit(1)).as("deg"))
    val starts = adj.select(col("s").as("v")).distinct()
      .crossJoin((0 until numWalks).map(_.toLong).toDF("walk_j"))
    val hop0 = Checkpoints.checkpoint(starts
      .select(col("v").as("start_v"), col("walk_j"), lit(0L).as("step"),
        col("v")))
    // hop 1: uniform (no predecessor yet) — the q157 pick
    val seed1 = col("v") * 1000L + col("walk_j") * 101L + lit(1) * 11L
    val hop1 = Checkpoints.checkpoint(hop0
      .join(deg, hop0("v") === deg("s"))
      .withColumn("pick", pmod(graft.queries.lcgHash(seed1), col("deg")))
      .join(ranked.select(col("s").as("ns"), col("d").as("nd"), col("idx")),
        col("v") === col("ns") && col("pick") === col("idx"))
      .select(col("start_v"), col("walk_j"), lit(1L).as("step"),
        col("v").as("prev"), col("nd").as("v")))
    val hops = scala.collection.mutable.ArrayBuffer(hop0,
      hop1.select(col("start_v"), col("walk_j"), col("step"), col("v")))
    var cur = hop1 // (start_v, walk_j, step, prev, v)
    val tracked = scala.collection.mutable.ArrayBuffer(hop0, hop1)
    var t = 2
    while (t <= steps) {
      val cand = cur.select(col("start_v"), col("walk_j"), col("prev"),
          col("v"))
        .join(adj.select(col("s").as("cs"), col("d").as("nw")),
          col("v") === col("cs"))
      val flagged = cand
        .join(adj.select(col("s").as("fs"), col("d").as("fd"),
            lit(1L).as("is_common")),
          col("prev") === col("fs") && col("nw") === col("fd"), "left")
        .select(col("start_v"), col("walk_j"), col("prev"), col("v"),
          col("nw"),
          when(col("nw") === col("prev"), lit(wReturn))
            .when(col("is_common").isNotNull, lit(wCommon))
            .otherwise(lit(wOut)).as("wgt"))
      val part = org.apache.spark.sql.expressions.Window
        .partitionBy(col("start_v"), col("walk_j"))
      val seed = col("v") * 1000L + col("walk_j") * 101L + lit(t) * 11L
      val picked = flagged
        .withColumn("cum", sum(col("wgt")).over(part.orderBy(col("nw"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
        .withColumn("tot", sum(col("wgt")).over(part))
        .withColumn("r", pmod(graft.queries.lcgHash(seed), col("tot")))
        .filter(col("cum") - col("wgt") <= col("r") && col("r") < col("cum"))
      val next = Checkpoints.checkpoint(picked
        .select(col("start_v"), col("walk_j"), lit(t.toLong).as("step"),
          col("v").as("prev"), col("nw").as("v")))
      hops += next.select(col("start_v"), col("walk_j"), col("step"),
        col("v"))
      tracked += next
      cur = next
      t += 1
    }
    val out = hops.reduce(_ unionByName _)
    val res = Checkpoints.checkpoint(out)
    (tracked :+ adj :+ ranked).foreach(Checkpoints.release)
    res
  }

  /** Sampled-source STRESS centrality — how many shortest paths pass
    * THROUGH each vertex (Shimbel 1953; the integer sibling of
    * betweenness, which Brandes' accumulation computes with rational
    * path FRACTIONS that no cross-engine float replay survives).
    * For each sampled source s:
    *
    *  - forward BFS carries σ(v) = #shortest s→v paths (additive:
    *    first-arrival sigma sums over the frontier's in-edges — the
    *    [[multiSourceBfs]] loop with one extra summed column);
    *  - backward pass over the BFS DAG computes h(v) = #shortest-path
    *    TAILS leaving v, h(v) = Σ_{w ∈ succ(v)} (h(w)+1) where
    *    succ(v) = neighbors one level deeper — processed deepest level
    *    first, one join per level;
    *  - #paths through v from s = σ(v)·h(v) (every prefix pairs with
    *    every tail), summed over sources with v ≠ s.
    *
    * Everything is exact int64 counting, so the whole computation —
    * both passes — unrolls into the oracle. Bounded `depth` horizon
    * exactly like [[multiSourceBfs]]: paths longer than the horizon
    * are not counted (documented truncation, q114/q142 convention).
    * State is sources × reach rows keyed by vertex; each round is one
    * equi-join + keyed agg — the iterative-family shuffle shape. */
  def stressCentrality(edges: DataFrame, sources: Seq[Long], depth: Int,
                       a: String = "a", b: String = "b"): DataFrame = {
    require(sources.nonEmpty, "stressCentrality needs at least one source")
    require(depth >= 1, "stressCentrality needs depth >= 1")
    val spark = edges.sparkSession
    import spark.implicits._
    // checkpointed: the adjacency feeds BOTH passes in every round AND
    // every later round's visited union
    val adj = Checkpoints.checkpoint(
      edges.select(col(a).as("s"), col(b).as("d"))
        .union(edges.select(col(b).as("s"), col(a).as("d")))
        .filter(col("s") =!= col("d")).distinct())
    // ---- forward: (src, v, level, sigma), sigma summed at FIRST
    // level. Only the per-level frontiers are checkpointed; the
    // accumulated visited set is their (cheap, <= depth-ary) lazy
    // union — checkpointing the union itself trips Spark's Union
    // constraint rewrite on the literal level column.
    //
    // STAGE-FUSED SHAPE (r17 VERDICT item 1): the forward pass
    // additionally materializes each round's BFS-DAG edge list
    // (src, p, v) — the anti-join survivors BEFORE the sigma groupBy,
    // one materialization carrying both consumers — so the backward
    // pass never has to re-join the adjacency to rediscover
    // successors. Combined with the SPARSE h convention below, the
    // backward rounds drop from 4 shuffles each (adj join + h join +
    // agg + densifying left join) to 2 (h join + agg): this was the
    // most barrier-dense query in the surface (57 executed stages),
    // and every removed barrier is a removed straggler wait at 1000
    // executors (and a removed multi-ms parked-vCPU wakeup on the
    // degraded bench host).
    val frontiers = scala.collection.mutable.ArrayBuffer(
      Checkpoints.checkpoint(sources.toDF("src")
        .select(col("src"), col("src").as("v"), lit(0L).as("level"),
          lit(1L).as("sigma"))))
    // dagEdges(l): level-l -> level-l+1 DAG edges (src, p, v, sigma);
    // unique per (src, p, v) because adj is distinct and a frontier
    // carries one row per (src, p)
    val dagEdges = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var l = 0
    while (l < depth) {
      val visitedKeys = frontiers.map(_.select(col("src"), col("v")))
        .reduce(_ union _)
      val expanded = frontiers.last.alias("ff").join(adj.alias("aa"),
          col("ff.v") === col("aa.s"))
        .select(col("ff.src").as("src"), col("ff.v").as("p"),
          col("aa.d").as("v"), col("ff.sigma").as("sigma"))
      val anti = Checkpoints.checkpoint(expanded
        .join(visitedKeys, Seq("src", "v"), "left_anti"))
      val nextF = Checkpoints.checkpoint(anti
        .groupBy(col("src"), col("v"))
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("src"), col("v"), lit((l + 1).toLong).as("level"),
          col("sigma")))
      dagEdges += anti
      frontiers += nextF
      l += 1
    }
    val visited = frontiers.reduce(_ unionByName _)
    // ---- backward: h per level, deepest first, SPARSE — a row exists
    // only where h > 0 (the vertex has an in-horizon DAG successor);
    // h(v) = sum over DAG children w of (h(w) + 1), read off the
    // captured edge list with absent children's h coalesced to 0. The
    // deepest level's h is identically 0, so the recursion starts from
    // the empty frame implicitly: the first backward round reduces to
    // a per-parent child count.
    var hNext: DataFrame = null
    val hAll = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var lv = depth - 1
    while (lv >= 0) {
      val de = dagEdges(lv).select(col("src"), col("p"), col("v"))
      val contrib =
        if (hNext == null)
          de.groupBy(col("src"), col("p"))
            .agg(count(lit(1)).cast("long").as("h"))
        else {
          val hn = hNext.select(col("src"), col("v"),
            col("h").as("hw"))
          de.join(hn, Seq("src", "v"), "left")
            .groupBy(col("src"), col("p"))
            .agg(sum(coalesce(col("hw"), lit(0L)) + 1L).as("h"))
        }
      val hL = Checkpoints.checkpoint(
        contrib.select(col("src"), col("p").as("v"), col("h")))
      hNext = hL
      hAll += hL
      lv -= 1
    }
    // per (src, v) the BFS level is unique, so the union stays keyed
    val h = hAll.reduce(_ unionByName _)
    val out = visited.join(h, Seq("src", "v"), "left")
      .filter(col("v") =!= col("src"))
      .groupBy(col("v"))
      .agg(sum(col("sigma") * coalesce(col("h"), lit(0L))).as("stress"))
    // materialize the (small, per-vertex) result, then drop every
    // intermediate block — releaseAll cleans the result after the query
    val res = Checkpoints.checkpoint(out)
    (frontiers ++ dagEdges ++ hAll :+ adj).foreach(Checkpoints.release)
    res
  }

  /** Single-source WEIGHTED shortest paths by bounded Bellman-Ford
    * relaxation — the weighted sibling of [[egoBfs]] (which measures
    * hops): dist_k(v) = min(dist_{k-1}(v), min over in-edges (u,v) of
    * dist_{k-1}(u) + w(u,v)), `rounds` fixed rounds over undirected
    * edges. All-int64 arithmetic, so the rounds unroll as EXACT DuckDB
    * CTEs (the q87/q98 discipline applied to path costs — float
    * shortest paths never hash-match cross-engine).
    *
    * Fixed `rounds` (a query parameter, like PageRank's iteration
    * count) rather than a convergence guard: distances are exact for
    * every vertex within `rounds` hops of the source, and the oracle
    * unrolls the same count. Once no distance changes, every remaining
    * round is an identity, so the loop stops early with the same result.
    *
    * Scale shape: a [[fixpoint]] of [[relax]] rounds over a vertex state
    * (v, adjacency with weights, dist, changed); an unreached vertex
    * has a null dist, and only vertices whose distance changed relax
    * their edges. Returns (v, dist) for vertices reached within
    * `rounds` hops (source included at dist 0). */
  def shortestPathsInt(edges: DataFrame, source: Long, rounds: Int,
                       a: String = "a", b: String = "b",
                       w: String = "w"): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = edges.select(col(a).as("u"), col(b).as("v"), col(w).cast("long").as("wt"))
      .union(edges.select(col(b).as("u"), col(a).as("v"), col(w).cast("long").as("wt")))
      .filter(col("u") =!= col("v") && col("wt") >= 0L)
      .groupBy(col("u"), col("v")).agg(min(col("wt")).as("wt"))
      .select(col("u").as("vx"), struct(col("v"), col("wt")).as("o"),
        lit(null).cast("long").as("dist"))
    val st = sym.union(Seq(source).toDF("vx").select(col("vx"),
        lit(null).cast(sym.schema("o").dataType).as("o"), lit(0L).as("dist")))
      .groupBy(col("vx")).agg(collect_list(col("o")).as("adj"), min(col("dist")).as("dist"))
    fixpoint(st.withColumn("changed", col("dist").isNotNull), rounds) { cur =>
      relax(cur, "dist", min, _.select(explode(col("adj")).as("o"), col("dist"))
        .select(col("o.v").as("vx"), (col("dist") + col("o.wt")).as("x")))(_ < _)
    }._1.filter(col("dist").isNotNull).select(col("vx").as("v"), col("dist"))
  }

  /** TEMPORAL (time-respecting) EARLIEST-ARRIVAL reachability — the
    * temporal-graph primitive (Xuan-Ferreira-Jarry 2003 foremost
    * journeys; Wu et al. VLDB'14 one-pass earliest-arrival — public
    * algorithms) that static reachability gets WRONG: an edge
    * (u, v, t) is traversable only at time t ≥ the arrival time at u,
    * so information/contagion can only flow forward in time (a 1995
    * collaboration cannot propagate something first reaching its
    * endpoint in 1997, even though the static path exists).
    *
    * Label-correcting dataflow: arrival(v) starts at -1 ("before
    * everything") on the sources, each round relaxes every edge whose
    * timestamp is ≥ its tail's arrival and keeps the per-vertex MIN;
    * labels only decrease and the edge set only widens as labels
    * drop, so the fixpoint is the true earliest arrival. Rounds ≤ the
    * longest foremost journey's hop count. Edges are treated as
    * undirected (both traversal directions at the edge's timestamp).
    *
    * Scale shape: a [[fixpoint]] of [[relax]] rounds over a vertex state
    * (v, timestamped adjacency, arrival, changed): only vertices whose
    * arrival changed relax their edges, and the round with no change
    * ends the loop; an unconverged loop fails rather than return
    * incomplete arrivals.
    *
    * Returns (v, arrival) for every temporally reachable vertex;
    * sources carry the -1 sentinel. */
  def earliestArrival(edges: DataFrame, sources: Seq[Long],
                      a: String = "a", b: String = "b", ts: String = "ts",
                      maxIter: Int = 30): DataFrame = {
    require(sources.nonEmpty, "at least one source")
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = edges.select(col(a).cast("long").as("u"), col(b).cast("long").as("v"),
        col(ts).cast("long").as("t"))
      .union(edges.select(col(b).cast("long").as("u"),
        col(a).cast("long").as("v"), col(ts).cast("long").as("t")))
      .filter(col("u") =!= col("v") && col("t").isNotNull)
      .select(col("u").as("vx"), struct(col("v"), col("t")).as("o"),
        lit(null).cast("long").as("arrival"))
    val st = sym.union(sources.distinct.toDF("vx").select(col("vx"),
        lit(null).cast(sym.schema("o").dataType).as("o"), lit(-1L).as("arrival")))
      .groupBy(col("vx")).agg(collect_set(col("o")).as("adj"), min(col("arrival")).as("arrival"))
    val (arr, converged) = fixpoint(
        st.withColumn("changed", col("arrival").isNotNull), maxIter) { cur =>
      relax(cur, "arrival", min, _.select(explode(col("adj")).as("o"), col("arrival"))
        .filter(col("o.t") >= col("arrival"))
        .select(col("o.v").as("vx"), col("o.t").as("x")))(_ < _)
    }
    require(converged,
      s"earliestArrival did not converge in $maxIter rounds " +
        "(a foremost journey is longer) — raise maxIter")
    arr.filter(col("arrival").isNotNull).select(col("vx").as("v"), col("arrival"))
  }

  /** Connected components by min-label propagation — the clustering
    * step of duplicate-entity resolution (SURVEY.md §2.11): candidate
    * pairs from LSH become edges, components become entity groups.
    * Returns (vertex, component = min vertex id in component).
    *
    * Scale shape: a [[fixpoint]] of [[relax]] rounds over a vertex state
    * (v, neighbours, comp): a vertex whose label dropped sends it to its
    * neighbours, one exchange per round. */
  def connectedComponents(edges: DataFrame, a: String = "a",
                          b: String = "b", maxIter: Int = 15): DataFrame = {
    val st = edges.select(col(a).as("vx"), col(b).as("d"))
      .union(edges.select(col(b).as("vx"), col(a).as("d")))
      .groupBy(col("vx")).agg(collect_set(col("d")).as("nbrs"))
    fixpoint(st.select(col("vx"), col("nbrs"), col("vx").as("comp"),
        lit(true).as("changed")), maxIter) { cur =>
      relax(cur, "comp", min,
        _.select(explode(col("nbrs")).as("vx"), col("comp").as("x")))(_ < _)
    }._1.select(col("vx").as("v"), col("comp"))
  }

  /** Approximate Neighborhood Function via mergeable KMV registers —
    * HyperBall (Boldi & Vigna, "In-Core Computation of Geometric
    * Centralities with HyperBall", 2013; ANF: Palmer, Gibbons,
    * Faloutsos KDD'02) with K-MINIMUM-VALUES registers instead of HLL:
    * per vertex and hop h, the k smallest distinct hashes over the
    * h-hop ball, with est(|ball|) = (k−1)·M / kth-min once the
    * register fills. KMV is chosen over HLL deliberately — the
    * register is a DETERMINISTIC function of the ball (k smallest of a
    * fixed hash image), so the whole sketch state is exactly
    * replayable by an oracle (the q69 KMV-twin discipline), while the
    * estimator keeps the sketch-family guarantee the q44 HLL gate can
    * only rows-check.
    *
    * State is one (v, reg[≤k]) row per vertex; a hop is one edge join
    * + one groupBy with an order-free merge (distinct ∪ → sort → take
    * k), so a hop costs exactly what a BFS hop costs but with k longs
    * of state per vertex instead of the ball itself — THE reason ANF
    * scales where exact per-vertex reach sets (O(n·ball)) cannot.
    *
    * Returns (v, hop ∈ [1, maxHop], n_reg, kth_min = max of the
    * register, est_reach: exact n_reg while the register is partial,
    * the KMV estimate once full). */
  def anfKmv(edges: DataFrame, a: String = "a", b: String = "b",
             maxHop: Int = 3, k: Int = 8): DataFrame = {
    val M = 2147483647L
    val sym = Checkpoints.checkpoint(
      edges.select(col(a).as("s"), col(b).as("d"))
        .union(edges.select(col(b).as("s"), col(a).as("d")))
        .distinct())
    val hash = (v: org.apache.spark.sql.Column) =>
      pmod(v * lit(1103515245L) + lit(12345L), lit(M))
    var state = Checkpoints.checkpoint(
      sym.select(col("s").as("v")).distinct()
        .select(col("v"), array(hash(col("v"))).as("reg")))
    val outs = (1 to maxHop).map { h =>
      val contrib = sym.join(state, sym("d") === state("v"))
        .select(sym("s").as("v"), col("reg"))
      // every hop's state stays pinned until the caller's releaseAll:
      // the per-hop output rows below read their hop's register block,
      // and the whole chain is maxHop × k longs per vertex — tiny
      val next = Checkpoints.checkpoint(
        contrib.union(state.select(col("v"), col("reg")))
          .groupBy(col("v"))
          .agg(slice(array_sort(array_distinct(
            flatten(collect_list(col("reg"))))), 1, k).as("reg")))
      state = next
      val kth = element_at(col("reg"), size(col("reg")))
      state.select(col("v"), lit(h.toLong).as("hop"),
        size(col("reg")).cast("long").as("n_reg"),
        kth.as("kth_min"),
        when(size(col("reg")) < k, size(col("reg")).cast("long"))
          .otherwise(floor(lit((k - 1) * M) / greatest(kth, lit(1L)))
            .cast("long"))
          .as("est_reach"))
    }
    outs.reduce(_ unionByName _)
  }

  /** Connected components by alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14 — public algorithm): the 100 TB path that
    * [[connectedComponents]]'s scaladoc promises. Min-label propagation
    * needs O(diameter) rounds — fine for near-clique dedup clusters,
    * quadratic pain on path-shaped graphs — while star contraction
    * converges in O(log n) rounds on any topology.
    *
    * Per round, with m(u) = min(Γ(u) ∪ {u}) over the symmetrized edge
    * set: large-star rewires every neighbor v > u to m(u); small-star
    * rewires every v <= u (and u itself) to m(u). At the fixed point
    * the edges form stars whose centers are the component minima.
    * Each phase is one groupBy(min) + one join, all keyed by vertex;
    * a round (both phases) is one [[fixpoint]] checkpoint observing the
    * edge count.
    *
    * Returns (v, comp = min vertex id in component). */
  def connectedComponentsStar(edges: DataFrame, a: String = "a",
                              b: String = "b", maxIter: Int = 25): DataFrame = {
    val verts = Checkpoints.checkpoint(edges.select(col(a).as("v"))
      .union(edges.select(col(b).as("v"))).distinct())

    def phase(ed: DataFrame, large: Boolean): DataFrame = {
      val sym = ed.union(ed.select(col("v").as("u"), col("u").as("v")))
        .distinct()
      val mins = sym.groupBy(col("u"))
        .agg(min(col("v")).as("mv"))
        .select(col("u").as("mu"), least(col("u"), col("mv")).as("m"))
      val rewired = sym
        .filter(if (large) col("v") > col("u") else col("v") <= col("u"))
        .join(mins, col("u") === col("mu"))
        .select(col("v").as("u"), col("m").as("v"))
      val kept = if (large) rewired
        else rewired.union(mins.select(col("mu").as("u"), col("m").as("v")))
      kept.filter(col("u") =!= col("v")).distinct()
    }

    // fixed point: identical edge sets — except() runs only on the
    // rounds whose observed edge count already matches
    val (e, _) = fixpoint(edges.select(col(a).as("u"), col(b).as("v"))
        .filter(col("u") =!= col("v")).distinct(), maxIter, count(lit(1)),
      (p, n) => n.m == p.m && n.frame.except(p.frame).isEmpty) { cur =>
      phase(phase(cur, large = true), large = false)
    }
    // stars: every non-center u points at its component min (min-agg is
    // defensive for an early maxIter stop mid-contraction)
    val target = e.groupBy(col("u")).agg(min(col("v")).as("tgt"))
    verts.join(target, verts("v") === target("u"), "left")
      .select(verts("v"), coalesce(col("tgt"), verts("v")).as("comp"))
  }

  /** Min-label reachability coloring over DIRECTED edges — the inner
    * fixpoint of [[stronglyConnectedComponents]]: for every vertex,
    * BOTH the minimum id over all vertices that can REACH it (dir 0 —
    * ancestors, self included) and over all it can reach (dir 1 —
    * descendants). The two directions run in ONE tagged fixpoint
    * (state keyed by (v, dir) over the forward + reversed edge union),
    * so the loop takes max(fwd, bwd) convergence rounds instead of
    * their sum and half the per-round scheduling. Returns
    * (v, f = dir-0 min, b = dir-1 min). */
  private def minReachBoth(verts: DataFrame, edges: DataFrame,
                           maxIter: Int): DataFrame = {
    val e2 = edges.select(col("s"), col("d"), lit(0).as("dir"))
      .union(edges.select(col("d").as("s"), col("s").as("d"),
        lit(1).as("dir")))
    // SHORTCUTTING (pointer jumping on the label relation): the
    // current label m(v) is by invariant a vertex that reaches v
    // (dir-adjusted), and reachability is transitive, so (m → v) is
    // a valid propagation edge — each step then relays minima over
    // doubling distances and the fixpoint arrives in O(log diameter)
    // steps instead of O(diameter) (the Hash-Min-with-shortcuts
    // trick from the CC literature, valid here for the same
    // transitivity reason). The original edges stay in the union, so
    // the fixpoint itself is unchanged.
    def step(l: DataFrame): DataFrame = {
      val lblEdges = l.filter(col("m") =!= col("v"))
        .select(col("m").as("s"), col("v").as("d"), col("dir"))
      val prop = e2.union(lblEdges).alias("ee").join(l.alias("ll"),
          col("ee.s") === col("ll.v") && col("ee.dir") === col("ll.dir"))
        .groupBy(col("ee.d").as("v"), col("ee.dir").as("dir"))
        .agg(min(col("ll.m")).as("pm"))
      l.alias("lb").join(prop.alias("pp"),
          col("lb.v") === col("pp.v") && col("lb.dir") === col("pp.dir"),
          "left")
        .select(col("lb.v").as("v"), col("lb.dir").as("dir"),
          least(col("lb.m"), coalesce(col("pm"), col("lb.m"))).as("m"),
          col("lb.m0").as("m0"))
    }
    // TWO steps per [[fixpoint]] round: the checkpoint fixed cost (the
    // dominant per-round cost of a Spark fixpoint) is paid once per two
    // propagation steps; `m0` carries the round-start label so
    // `changed` is still exact.
    val (lbl, converged) = fixpoint(
        verts.select(col("v"), explode(array(lit(0), lit(1))).as("dir"))
          .withColumn("m", col("v")).withColumn("changed", lit(true)),
        maxIter) { cur =>
      step(step(cur.drop("changed").withColumn("m0", col("m"))))
        .select(col("v"), col("dir"), col("m"), (col("m") < col("m0")).as("changed"))
    }
    // unconverged f/b labels could settle vertices into WRONG SCCs
    // while still draining nActive — the outer require would not catch
    // it, so the fixpoint itself must assert (shortcutting makes
    // maxIter rounds unreachable in practice; the guard is free)
    require(converged,
      s"SCC reachability coloring did not converge in $maxIter rounds " +
        "— raise maxInner")
    val out = Checkpoints.checkpoint(
      lbl.groupBy(col("v"))
        .agg(min(when(col("dir") === 0, col("m"))).as("f"),
          min(when(col("dir") === 1, col("m"))).as("b")))
    Checkpoints.release(lbl)
    out
  }

  /** STRONGLY connected components over a directed edge list — the
    * classic directed-graph grouping the citation layer needs (the
    * reference's paper-reference graph is directed and cyclic in the
    * wild; mutual-citation clusters are its SCCs). Forward-backward
    * reachability coloring with all-minima pivots (the FW-BW /
    * coloring family: Fleischer-Hendrickson-Pinar 2000, Orzan 2004,
    * Slota-Rajamanickam-Madduri 2014 — public algorithms), run as
    * whole-graph dataflow in the [[connectedComponentsStar]]
    * discipline:
    *
    * Per outer round on the ACTIVE subgraph:
    *  1. TRIM to fixpoint: a vertex with no in-edges or no out-edges
    *     lies on no cycle — the peel iterates on the edge relation
    *     alone and every vertex dropped along the way settles as a
    *     singleton in one batch (clears DAG tails/sources; the
    *     standard FW-BW preprocessing).
    *  2. COLOR: f(v) = min id that reaches v, b(v) = min id v reaches
    *     — BOTH directions in one tagged [[minReachBoth]] fixpoint
    *     with label SHORTCUTTING (each round also propagates along
    *     the current (label → vertex) edges, valid by reachability
    *     transitivity, so convergence is sub-diameter). f and b are
    *     constant on any SCC (members share ancestor and descendant
    *     sets).
    *  3. SETTLE where f(v) = b(v) = c: c is then both an ancestor and
    *     a descendant of v, so v ∈ SCC(c) — and c ∈ SCC(c) with
    *     c = min(SCC), so the settled label IS the canonical min
    *     member id. Remove settled vertices and their edges.
    *
    * Every weak component settles at least its min-vertex SCC per
    * round (f and b of that SCC both equal the component minimum), so
    * the loop terminates; in practice most pivots settle
    * simultaneously and rounds ≈ the condensation's level count.
    * Worst case (a long chain of SCCs) degrades to O(#levels) outer
    * rounds — the known cost of the coloring family (GraphX's SCC
    * shares it); trimming keeps the common power-law + DAG-spine case
    * in a handful of rounds. All state is vertex-keyed DataFrames
    * (shuffles partition by vertex id, nothing collects); each round
    * retains ≤ 2 checkpointed relations.
    *
    * Returns (v, scc_id = min vertex id in the SCC). */
  def stronglyConnectedComponents(edges: DataFrame, src: String = "src",
                                  dst: String = "dst", maxOuter: Int = 50,
                                  maxInner: Int = 100): DataFrame =
    stronglyConnectedComponents(edges, src, dst, maxOuter, maxInner,
      pivotFastPath = true, numPivots = 1)

  /** [[pivotScc]] — the GIANT-SCC fast path of
    * [[stronglyConnectedComponents]] (the parallel FW-BW first step,
    * Fleischer-Hendrickson-Pinar 2000; multi-pivot per Slota-
    * Rajamanickam-Madduri 2014): one forward + one backward frontier
    * BFS from EACH of up to `NumPivots` max-degree pivots, all waves
    * in ONE tagged frontier (state keyed by (p, v, dir)), each
    * intersected into its pivot's SCC. On a scale-free graph a
    * max-degree pivot lands in the giant bow-tie core with
    * overwhelming probability, and on a MULTI-COMPONENT graph (a
    * sharded corpus; the 10x disjoint-copy scale probe) the degree-
    * ranked pivot set seeds several components at once — so the first
    * (and by far the largest) whole-graph coloring round never runs,
    * and the general FW-BW coloring only sees satellites. SCCs are
    * equivalence classes, so per-pivot cores are pairwise identical
    * (same SCC) or disjoint — the settle dedupes by (v, scc_id).
    * Frontiers shrink as the waves pass; every shuffle is keyed by
    * (p, v, dir) and AQE right-sizes the tiny late rounds.
    *
    * Returns the settled rows (v, scc_id = min member id) of every
    * pivot's SCC (always contains the pivots themselves). */
  private def pivotScc(pivots: Seq[Long], edges: DataFrame,
                       maxIter: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e2 = edges.select(col("s"), col("d"), lit(0).as("dir"))
      .union(edges.select(col("d").as("s"), col("s").as("d"),
        lit(1).as("dir")))
    var reached = Checkpoints.checkpoint(
      pivots.flatMap(p => Seq((p, p, 0), (p, p, 1)))
        .toDF("p", "v", "dir"))
    var frontier = reached
    var n = 1L
    var i = 0
    // MULTI-HOP rounds: each checkpointed round advances every wave
    // `Hops` hops inside ONE plan (hop -> distinct -> anti-join reached,
    // chained), so the job/checkpoint/count fixed cost is paid once
    // per Hops hops instead of per hop — the waves are diameter-bound,
    // and per-round scheduling is the dominant cost of a Spark
    // fixpoint at any scale. The anti-join uses the round-start
    // `reached` for every hop (a vertex first seen at hop j can be
    // re-expanded at hop k > j within the round); the closing distinct
    // dedupes, so the only cost is bounded intra-round re-expansion —
    // the standard batched-frontier trade.
    val Hops = 5
    var lastHop = Hops.toLong
    while (n > 0 && lastHop == Hops && i < maxIter) {
      var cur = frontier
      var acc: DataFrame = null
      for (h <- 1 to Hops) {
        cur = cur.alias("f").join(e2.alias("e"),
            col("f.v") === col("e.s") && col("f.dir") === col("e.dir"))
          .select(col("f.p").as("p"), col("e.d").as("v"),
            col("e.dir").as("dir")).distinct()
          .join(reached, Seq("p", "v", "dir"), "left_anti")
        val tagged = cur.withColumn("hop", lit(h.toLong))
        acc = if (acc == null) tagged else acc.union(tagged)
      }
      // keep each (pivot, vertex)'s FIRST hop: max(hop) then tells
      // whether ANY wave was still alive at the round's last hop — if
      // all died earlier, the fixpoint is already reached and the
      // usual confirm round (an entire extra multi-hop job) is skipped
      val nf = Checkpoints.checkpoint(
        acc.groupBy(col("p"), col("v"), col("dir"))
          .agg(min(col("hop")).as("hop")))
      // cheap: nf is already materialized by the checkpoint
      val stats = nf.agg(count(lit(1)), coalesce(max(col("hop")), lit(0L))).head
      n = stats.getLong(0)
      lastHop = stats.getLong(1)
      if (n > 0) {
        // stripConstraints: the checkpoints carry inferred constraints
        // over projected-away attributes that crash
        // Union.rewriteConstraints (see PlanBridge.stripConstraints)
        val strip = org.apache.spark.sql.graftshim.PlanBridge.stripConstraints _
        val nr = Checkpoints.checkpoint(
          strip(reached).union(
            strip(nf).select(col("p"), col("v"), col("dir"))))
        if (frontier ne reached) Checkpoints.release(frontier)
        Checkpoints.release(reached)
        reached = nr
        frontier = nf
      } else {
        Checkpoints.release(nf)
        if (frontier ne reached) Checkpoints.release(frontier)
        frontier = reached
      }
      // WAVE DEDUPE (after the first round only — hub pivots of one
      // SCC are mutually within a few hops): pivots reached by another
      // pivot's wave in BOTH directions share that pivot's SCC, so all
      // but one representative per known-equivalent group are dropped
      // — their waves would reproduce an identical core. On a single
      // giant-SCC graph this collapses all NumPivots redundant waves
      // to one before the expensive mid-wave rounds. The probe rows
      // are a bounded <= 2·P² collect; the union-find is driver-side
      // over <= P pivots. Unconfirmed equivalences simply keep both
      // waves — correct, just less pruned.
      if (i == 0 && n > 0 && pivots.length > 1) {
        val hits = reached.filter(col("v").isin(pivots: _*))
          .collect().map(r => (r.getLong(0), r.getLong(1),
            r.getAs[Number](2).intValue))
        val mutual = hits.groupBy(t => (t._1, t._2))
          .collect { case ((p, q), rs) if rs.map(_._3).distinct.length == 2 =>
            (p, q) }
        val rep = scala.collection.mutable.Map(pivots.map(p => p -> p): _*)
        def find(x: Long): Long =
          if (rep(x) == x) x else { val r = find(rep(x)); rep(x) = r; r }
        mutual.foreach { case (p, q) =>
          if (rep.contains(p) && rep.contains(q)) {
            val (a, b) = (find(p), find(q))
            if (a != b) rep(math.max(a, b)) = math.min(a, b)
          }
        }
        val keep = pivots.map(find).distinct
        if (keep.length < pivots.length) {
          val nr = Checkpoints.checkpoint(
            reached.filter(col("p").isin(keep: _*)))
          val nfr = Checkpoints.checkpoint(
            frontier.filter(col("p").isin(keep: _*)))
          if (frontier ne reached) Checkpoints.release(frontier)
          Checkpoints.release(reached)
          reached = nr
          frontier = nfr
        }
      }
      i += 1
    }
    if (frontier ne reached) Checkpoints.release(frontier)
    require(n == 0 || lastHop < Hops,
      s"pivot reachability BFS did not converge in $maxIter rounds " +
        "— raise maxInner")
    // v is in SCC(p) <=> reached from p in BOTH directions; cores of
    // same-SCC pivots are identical, so (v, min member) dedupes them
    val core = reached.groupBy(col("p"), col("v"))
      .agg(count(lit(1)).as("nd")).filter(col("nd") === 2)
      .select(col("p"), col("v"))
    val settled = Checkpoints.checkpoint(
      core.join(core.groupBy(col("p")).agg(min(col("v")).as("scc_id")),
          Seq("p"))
        .select(col("v"), col("scc_id")).distinct())
    Checkpoints.release(reached)
    settled
  }

  /** `numPivots` > 1 launches several tagged waves at once — the
    * multi-pivot FW-BW variant for heavily SHARDED graphs (many weak
    * components, each with its own giant SCC), where the degree-ranked
    * pivot set seeds several components in one BFS. Measured on the
    * single-giant-SCC fixture, redundant same-SCC waves cost more than
    * the wave-dedupe recovers (16 pivots: +55% wall), while the
    * general coloring already settles every remaining component
    * CONCURRENTLY in one fixpoint — so the production default is 1;
    * the multi-pivot path stays property-tested (GraphPropertySpec)
    * for the sharded regime. */
  private[graft] def stronglyConnectedComponents(edges: DataFrame, src: String,
                                          dst: String, maxOuter: Int,
                                          maxInner: Int,
                                          pivotFastPath: Boolean,
                                          numPivots: Int): DataFrame = {
    // checkpoint the RAW edge projection once: `active` and `verts`
    // both derive from it, and the input subtree (e.g. a window over
    // the co-ship spine) must not execute twice
    val rawE = Checkpoints.checkpoint(
      edges.select(col(src).cast("long").as("s"),
        col(dst).cast("long").as("d")))
    var active = Checkpoints.checkpoint(
      rawE.filter(col("s") =!= col("d")).distinct())
    var verts = Checkpoints.checkpoint(
      rawE.select(col("s").as("v"))
        .union(rawE.select(col("d").as("v"))).distinct())
    Checkpoints.release(rawE)
    // settled (v, scc_id) accumulator — each batch is ALREADY a bare
    // checkpoint, so the result is a lazy union over materialized
    // blocks (bounded by maxOuter batches): no per-round re-checkpoint
    // of the growing union, no lineage chaining. The batches stay
    // alive as the result's inputs; the harness releaseAll reclaims
    // them once the consumer's action completes.
    // stripConstraints: the checkpointed batches carry inferred
    // constraints mentioning projected-away attributes, which crash
    // Union.rewriteConstraints (see PlanBridge.stripConstraints)
    val batches = scala.collection.mutable.ListBuffer[DataFrame]()
    def settle(batch: DataFrame): Unit =
      batches += org.apache.spark.sql.graftshim.PlanBridge
        .stripConstraints(batch)
    def removeSettled(settled: DataFrame): Unit = {
      val nv = Checkpoints.checkpoint(
        verts.join(settled.select(col("v")), Seq("v"), "left_anti"))
      val na = Checkpoints.checkpoint(active
        .join(settled.select(col("v").as("s")), Seq("s"), "left_anti")
        .join(settled.select(col("v").as("d")), Seq("d"), "left_anti"))
      Checkpoints.release(verts); Checkpoints.release(active)
      verts = nv; active = na
    }
    var outer = 0
    var nActive = verts.count()
    while (nActive > 0 && outer < maxOuter) {
      // The giant-SCC fast path runs INSTEAD of the first trim+color
      // round: the pivot sweeps don't need a trimmed graph (satellites
      // just never enter the core), and the single trim that follows
      // core removal peels the original DAG tails AND the newly
      // exposed core-adjacent satellites in one phase — one trim
      // fixpoint instead of two.
      val pivotRound = pivotFastPath && outer == 0
      // 1. TRIM to fixpoint: no-in or no-out vertices lie on no cycle.
      // The [[peel]] iterates on the EDGE relation alone; every vertex
      // dropped along the way is settled as a singleton in ONE batch at
      // the end — per-iteration settle/remove churn was the dominant
      // constant at fixture scale. Alive after the peel = vertices with
      // both directions in the surviving edge set; everything else is
      // a singleton SCC.
      if (!pivotRound) {
        val kept = peel(active, maxInner) { cur =>
          val ok = cur.select(col("d").as("v")).distinct() // in AND out degree ≥ 1
            .join(cur.select(col("s").as("v")).distinct(), Seq("v"))
          cur.join(ok.select(col("v").as("s")), Seq("s"), "left_semi")
            .join(ok.select(col("v").as("d")), Seq("d"), "left_semi")
        }
        Checkpoints.release(active)
        active = kept
        val aliveV = Checkpoints.checkpoint(
          active.select(col("d").as("v")).distinct()
            .join(active.select(col("s").as("v")).distinct(), Seq("v")))
        val dead = Checkpoints.checkpoint(
          verts.join(aliveV, Seq("v"), "left_anti")
            .select(col("v"), col("v").as("scc_id")))
        val trimmed = dead.count()
        if (trimmed > 0) {
          settle(dead) // dead stays alive as a result batch
          Checkpoints.release(verts)
          verts = aliveV
          nActive -= trimmed
        } else { Checkpoints.release(aliveV); Checkpoints.release(dead) }
      }
      if (nActive > 0 && pivotRound) {
        // GIANT-SCC FAST PATH (first round only): tagged frontier
        // sweeps from the top-degree pivot set extract the bow-tie
        // cores — several weak components' giants at once on a
        // sharded graph — so the first (and by far the largest)
        // whole-graph coloring never runs; the general FW-BW coloring
        // below then only sees the satellites the next round's trim
        // didn't already peel. The pivot rows are a bounded
        // `NumPivots`-row collect (the repo's scalar-argmax
        // convention).
        val pivots = active
          .select(col("s").as("v")).union(active.select(col("d").as("v")))
          .groupBy(col("v")).agg(count(lit(1)).as("deg"))
          .orderBy(col("deg").desc, col("v")).limit(numPivots)
          .collect().map(_.getLong(0)).toSeq
        val settled = pivotScc(pivots, active, maxInner)
        val coreN = settled.count()
        settle(settled) // stays alive as a result batch
        removeSettled(settled)
        nActive -= coreN
      } else if (nActive > 0) {
        // 2. color both directions; 3. settle the f = b pivot SCCs
        val fb = minReachBoth(verts, active, maxInner)
        val settled = Checkpoints.checkpoint(
          fb.filter(col("f") === col("b"))
            .select(col("v"), col("f").as("scc_id")))
        val nSettled = settled.count()
        Checkpoints.release(fb)
        // ≥ 1 SCC settles per weak component per round (the min-vertex
        // one), so nSettled = 0 only on an empty active set
        settle(settled) // stays alive as a result batch
        removeSettled(settled)
        nActive -= nSettled
      }
      outer += 1
    }
    require(nActive == 0,
      s"SCC coloring did not converge in $maxOuter outer rounds " +
        s"($nActive vertices unsettled) — raise maxOuter")
    // empty edge list → nothing ever settled; keep the (v, scc_id) shape
    if (batches.isEmpty) verts.select(col("v"), col("v").as("scc_id"))
    else batches.reduce(_ union _)
  }

  /** Longest-path LEVELS of a DAG — topological GENERATIONS (layer =
    * length of the longest directed path ending at the vertex; the
    * standard generation/stratum assignment consumed after an SCC
    * condensation). Iterative monotone Bellman relax as whole-graph
    * dataflow: lvl(v) starts 0 everywhere, each round takes
    * max(lvl(v), max over in-edges (p → v) of lvl(p) + 1). Levels
    * only INCREASE and are bounded by the DAG depth, so the loop
    * settles in depth+1 rounds; on a CYCLIC input levels grow without
    * bound and the convergence require fires — the operator doubles as
    * a cycle detector. Rounds = depth (small for condensations of
    * scale-free graphs — the giant core contracts to one vertex).
    *
    * Scale shape: a [[fixpoint]] of [[relax]] rounds over a vertex state
    * (v, out-neighbours, lvl): a vertex whose level rose sends lvl + 1
    * along its out-edges, and the max wins.
    *
    * Returns (v, generation) for every vertex of the edge list. */
  def dagGenerations(edges: DataFrame, src: String = "src",
                     dst: String = "dst", maxIter: Int = 100): DataFrame = {
    val e = edges.select(col(src).cast("long").as("s"),
      col(dst).cast("long").as("d")).distinct()
    val st = e.select(col("s").as("vx"), col("d").as("o"))
      .union(e.select(col("d").as("vx"), lit(null).cast("long").as("o")))
      .groupBy(col("vx")).agg(collect_list(col("o")).as("outs"))
    val (lvl, converged) = fixpoint(st.select(col("vx"), col("outs"),
        lit(0L).as("lvl"), lit(true).as("changed")), maxIter) { cur =>
      relax(cur, "lvl", max,
        _.select(explode(col("outs")).as("vx"), (col("lvl") + 1L).as("x")))(_ > _)
    }
    require(converged,
      s"dagGenerations did not converge in $maxIter rounds — " +
        "the input has a directed cycle or depth > maxIter")
    lvl.select(col("vx").as("v"), col("lvl").as("generation"))
  }

  /** Triangle enumeration by degree-ordered orientation (Cohen,
    * "Graph Twiddling in a MapReduce World", CiSE'09; the
    * compact-forward scheme — public algorithm). Orient every
    * undirected edge from its lower-(degree, id) endpoint to the
    * higher one; each triangle then has exactly one pivot vertex with
    * two out-edges, so it is emitted once, and wedge fan-out per pivot
    * is bounded by out-degree = O(sqrt(m)) — the skew bound that keeps
    * a celebrity vertex with 10^7 neighbors from generating 10^14
    * wedge candidates on the naive a<b<c self-join. Shapes: one
    * degree groupBy, two hash joins (wedge build + closure probe), all
    * hash-partitioned — no nested loops.
    *
    * `edges` is an undirected edge list (either orientation,
    * duplicates and self-loops tolerated). Returns one row per
    * triangle: (x, y, z) with x < y < z. */
  def triangles(edges: DataFrame, a: String = "a", b: String = "b",
                assumeCanonical: Boolean = false): DataFrame = {
    // assumeCanonical: caller guarantees (a < b, distinct, non-null)
    // rows — the k-truss peel loop's invariant — so the
    // canonicalization shuffle is skipped. On a 100 TB graph the edge
    // set is the large relation; re-deduping it EVERY peel round was
    // pure waste (r18).
    val und =
      if (assumeCanonical) edges.select(col(a).as("u"), col(b).as("v"))
      else undirected(edges, a, b)
    val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // orient by (deg, id): src is the smaller endpoint in that order
    val oriented = und
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")),
             struct(col("dv"), col("v")))
          .otherwise(struct(col("du").as("dv"), col("u").as("v"))).as("dst"))
    // wedges at each pivot: two out-neighbors ordered by (deg, id) —
    // the candidate closing edge is then itself in oriented form
    val wedges = oriented.select(col("src"), col("dst").as("d1"))
      .join(oriented.select(col("src"), col("dst").as("d2")), Seq("src"))
      .filter(col("d1") < col("d2"))
    val closing = oriented
      .select(col("src").as("w1"), col("dst").getField("v").as("w2"))
    wedges
      .select(col("src").as("p"),
        col("d1").getField("v").as("w1"), col("d2").getField("v").as("w2"))
      .join(closing, Seq("w1", "w2"), "left_semi")
      .select(least(col("p"), col("w1"), col("w2")).as("x"),
        greatest(
          least(col("p"), col("w1")),
          least(greatest(col("p"), col("w1")), col("w2"))).as("y"),
        greatest(col("p"), col("w1"), col("w2")).as("z"))
  }

  /** Per-vertex triangle participation counts over [[triangles]]:
    * (v, n_triangles) for every vertex in at least one triangle. */
  def triangleCounts(edges: DataFrame, a: String = "a",
                     b: String = "b"): DataFrame =
    triangles(edges, a, b)
      .select(explode(array(col("x"), col("y"), col("z"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_triangles"))

  /** Per-edge triangle support — how many triangles each undirected
    * edge participates in (the k-truss building block: a k-truss keeps
    * edges with support ≥ k−2; community cores survive, bridges fall
    * away). One [[triangles]] pass + an explode of each triangle's
    * three edges + a zero-filled join back to the edge set — exact
    * integers, no iteration. */
  def triangleSupport(edges: DataFrame, a: String = "a",
                      b: String = "b",
                      assumeCanonical: Boolean = false): DataFrame = {
    val und =
      if (assumeCanonical) edges.select(col(a).as("u"), col(b).as("v"))
      else undirected(edges, a, b)
    val sup = triangles(edges, a, b, assumeCanonical)
      .select(explode(array(
        struct(col("x").as("u"), col("y").as("v")),
        struct(col("y").as("u"), col("z").as("v")),
        struct(col("x").as("u"), col("z").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("support"))
    und.join(sup, Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Common-neighbor link prediction — rank NON-edges by shared
    * neighborhood (the classic social-network "people you may know"
    * primitive; Liben-Nowell & Kleinberg'03). For every vertex pair
    * (u, v), u < v, NOT already an edge, with at least `minCommon`
    * shared neighbors: the common-neighbor count and the neighborhood-
    * union size — Jaccard = cn / union_size, kept in exact integer
    * RATIO FORM (numerator, denominator) so results are bit-identical
    * across engines (the q66 TF-IDF discipline).
    *
    * Scale shape: wedge generation at each shared neighbor (one self-
    * join keyed on the pivot), aggregation keyed on the candidate
    * pair, degree join, then an anti-join against the edge set. Wedge
    * fan-out is quadratic in pivot degree — inherent to the semantics
    * (hubs really do connect many candidate pairs); `maxDegree` drops
    * super-hub pivots (a standard, semantics-documented cap: a
    * celebrity neighbor carries ~no signal anyway), bounding per-pivot
    * work at maxDegree² with NO effect on pairs whose every shared
    * neighbor is below the cap. */
  def commonNeighbors(edges: DataFrame, a: String = "a", b: String = "b",
                      minCommon: Long = 1L,
                      maxDegree: Long = Long.MaxValue): DataFrame = {
    val und = undirected(edges, a, b)
    val adj = und.select(col("u").as("s"), col("v").as("d"))
      .union(und.select(col("v").as("s"), col("u").as("d")))
    val deg = adj.groupBy(col("s").as("n")).agg(count(lit(1)).as("deg"))
    val pivots = adj.join(
      deg.filter(col("deg") <= maxDegree).select(col("n").as("s")), Seq("s"))
    val cn = pivots.select(col("s"), col("d").as("u"))
      .join(pivots.select(col("s"), col("d").as("v")), Seq("s"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= minCommon)
      .join(und, Seq("u", "v"), "left_anti") // predict NEW links only
    cn.join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("cn"),
        (col("du") + col("dv") - col("cn")).as("union_size"))
  }

  /** Integer-arithmetic PageRank over the symmetrized graph. Every
    * operation is int64 floor arithmetic (ranks scaled by `scale`,
    * damping 85/100), so the ranks are BIT-IDENTICAL on any engine —
    * which is what lets an iterative centrality sit under a
    * cross-engine oracle at all: float PageRank never hash-matches
    * across engines because per-group summation order differs. The
    * floor divisions leak a little probability mass per round (bounded
    * by deg·iters ulps of `scale`), which perturbs absolute values but
    * not the centrality ordering — the quantity of interest.
    *
    * The symmetrized adjacency has no dangling vertex, so this is
    * [[pageRankDirectedInt]] over both directions of every undirected
    * edge: the same rounds, with a dangling share that is always 0.
    *
    * Scale shape: see [[pageRankRounds]]: one checkpoint of the vertex
    * state (each vertex's adjacency set and out-weight on its row),
    * which observes the vertex count, then one exchange per round, a
    * checkpoint for every round but the last. A canonical pair seen
    * twice, or in both orientations, collapses in the adjacency set,
    * so no `distinct` runs here. */
  def pageRankInt(edges: DataFrame, a: String = "a", b: String = "b",
                  iters: Int = 3,
                  scale: Long = 1000000000000L): DataFrame = {
    val und = edges
      .select(least(col(a), col(b)).as("u"), greatest(col(a), col(b)).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull)
    pageRankRounds(pageRankState(
      und.select(col("u").as("s"), col("v").as("d"))
        .union(und.select(col("v").as("s"), col("u").as("d"))), "s", "d"),
      iters, scale)
  }

  /** DIRECTED integer PageRank with explicit dangling-mass
    * redistribution — the citation-graph centrality [[pageRankInt]]
    * cannot express (it symmetrizes; the reference's
    * `PaperReferences(citing, cited)` is directed — `models.scala:28`,
    * with directional per-year citation counting
    * `DynamicNet.scala:256-263`).
    *
    * Same int64 floor discipline as [[pageRankInt]] so the rounds
    * unroll as exact cross-engine oracle CTEs:
    *   tele      = (15 · (scale div n)) div 100
    *   dsh_k     = (Σ r_{k−1} over dangling vertices) div n
    *   share(s→v) = (r_{k−1}(s) · w(s→v)) div W(s),  W(s) = Σ out-weights
    *   r_k(v)    = tele + (85 · (Σ_{s→v} share(s→v) + dsh_k)) div 100
    * With no `weightCol` every w is 1 and W(s) = outdeg(s), so the
    * per-edge share reduces to exactly r div outdeg — the unweighted
    * form. A weight column (citation multiplicity — the reference
    * counts citations WITH multiplicity, `DynamicNet.scala:256-263`)
    * splits each vertex's mass proportionally instead (non-positive
    * weights drop the edge, like a null endpoint). Int64 headroom:
    * the per-edge multiply is ≤ scale · w, so weights are safe to
    * ~9e6 at the default scale.
    * Dangling vertices (no out-edges — citation sinks, the oldest
    * papers) surrender their whole mass to the uniform pool instead of
    * silently leaking it; every vertex, sinks included, receives
    * tele + the dangling share. Total mass is conserved modulo the
    * documented floor leakage (each div discards < 1 unit per EDGE
    * per round — GraphSpec asserts the bound).
    *
    * Scale shape: [[pageRankState]], then [[pageRankRounds]] — one
    * exchange per round over a vertex state keyed by vertex, a
    * checkpoint for every round but the last, which the caller's
    * action computes; the dangling mass and the vertex count are
    * observed on the checkpoints that compute them and enter the next
    * round as literals. Duplicate (s, d, w) rows collapse in the
    * adjacency set, so no `distinct` runs here. */
  def pageRankDirectedInt(edges: DataFrame, src: String = "src",
                          dst: String = "dst", iters: Int = 3,
                          scale: Long = 1000000000000L,
                          weightCol: String = ""): DataFrame =
    pageRankRounds(pageRankState(edges, src, dst, weightCol), iters, scale)

  /** PERSONALIZED PageRank (PPR) — importance relative to a SEED set
    * (Page et al.'s personalization vector; the seed-based relevance
    * ranking recommender and similarity systems run): teleport mass
    * and dangling mass restart to the seeds (scale/|S| each) instead
    * of uniformly, and ranks start on the seeds — so rank flows
    * outward from the seed neighborhood and unreachable vertices hold
    * exactly 0. Same exact-int64 discipline as
    * [[pageRankDirectedInt]]: every step is integer floor division,
    * so the rounds unroll as exact oracle CTEs (q143). With seeds =
    * ALL vertices the recursion is term-for-term the uniform directed
    * form — GraphSpec asserts that equality as the cross-operator
    * consistency property.
    *
    * Scale shape: the rounds of [[pageRankRounds]], identical dataflow
    * to the uniform form — one exchange per round, a checkpoint for
    * every round but the last; the seed set rides as a 0/1 column of
    * the vertex state, and the dangling seed-restart mass is observed
    * on each checkpointed round — never a driver-side loop or a
    * broadcast scalar. */
  def pageRankPersonalizedInt(edges: DataFrame, seeds: Seq[Long],
                              src: String = "src", dst: String = "dst",
                              iters: Int = 3,
                              scale: Long = 1000000000000L): DataFrame =
    pageRankRounds(pageRankState(edges, src, dst, seeds = Some(seeds)),
      iters, scale)

  /** A checkpointed vertex state keyed by `vx` — the input of
    * [[pageRankRounds]] ([[pageRankState]]) or [[hitsRounds]]
    * ([[hitsState]]) — with the scalars its build observed: `n`
    * vertices and `dseeds` dangling seeds; `k` is the size of the seed
    * set (n for the uniform form and HITS). The rounds never release
    * it, so one pinned state serves every execution of a session. */
  final case class VertexState(frame: DataFrame, n: Long, dseeds: Long, k: Long)

  /** The vertex state of the PageRank rounds over the directed edges
    * (src → dst, weight `weightCol` or 1): one row per vertex,
    * (vx, adj = collect_set(struct(d, w)), tw = W(vx), dang, isw), one
    * exchange and one eager checkpoint, pinned when `pin` (a
    * [[graft.queries.SessionMemo]] then holds it). Self-loops, null
    * endpoints and non-positive weights drop; the set does the edge
    * dedup, so a repeated (s, d, w) row counts once. `seeds` = None is
    * the uniform form (every vertex is a seed, k = n); Some(S) restarts
    * teleport and dangling mass to S (k = |S|, isw(v) = 1 for v in S,
    * else 0). The checkpoint observes n and the dangling seed count,
    * which prices round 0, whose ranks are the literal scale div k and
    * are never materialized. The vertex type comes from the edges:
    * vertices need not be longs (q218's are words). */
  def pageRankState(edges: DataFrame, src: String = "src",
                    dst: String = "dst", weightCol: String = "",
                    seeds: Option[Seq[Long]] = None,
                    pin: Boolean = false): VertexState = {
    require(seeds.forall(_.nonEmpty),
      "personalization needs a non-empty seed set")
    val w = if (weightCol.isEmpty) lit(1L) else col(weightCol).cast("long")
    val e = edges.select(col(src).as("s"), col(dst).as("d"), w.as("w"))
      .filter(col("s").isNotNull && col("d").isNotNull &&
        col("s") =!= col("d") && col("w") > 0)
    val isw: Column => Column = seeds match {
      case None => _ => lit(1L)
      case Some(ss) => v => when(v.isin(ss: _*), lit(1L)).otherwise(lit(0L))
    }
    val out = e.select(col("s").as("vx"), struct(col("d"), col("w")).as("o"))
    val (frame, vs) = Checkpoints.checkpointObserved(
      out.union(e.select(col("d").as("vx"),
          lit(null).cast(out.schema("o").dataType).as("o")))
        .groupBy(col("vx")).agg(collect_set(col("o")).as("adj"))
        .select(col("vx"), col("adj"),
          aggregate(col("adj"), lit(0L), (t, o) => t + o("w")).as("tw"),
          (size(col("adj")) === 0).as("dang"), isw(col("vx")).as("isw")),
      pin)(count(lit(1)).as("n"),
      coalesce(sum(when(col("dang"), col("isw"))), lit(0L)).as("dseeds"))
    val n = vs.getLong(0)
    VertexState(frame, n, vs.getLong(1), seeds.fold(n)(_.size.toLong))
  }

  /** The integer rounds shared by the three PageRank forms, over a
    * [[pageRankState]]. With isw(v) = 1 for a seed, else 0:
    *   r_0(v) = isw(v) · (scale div k)
    *   r_k(v) = (15 · (scale div k)) div 100 · isw(v)
    *          + (85 · (Σ_{s→v} (r_{k−1}(s) · w) div W(s)
    *                   + isw(v) · (Σ_{dangling} r_{k−1} div k))) div 100
    *
    * Scale shape: Pregel-style vertex state, one row per vertex, and
    * no driver scalar outside the checkpoints that compute them
    * ([[Checkpoints.checkpointObserved]]):
    *  - round 0 reads the state's observed n and dangling seed count;
    *    the state is given, so a memoized one costs no job here;
    *  - every round is a [[superstep]] — each vertex keeps its row and
    *    sends (r · w) div tw along its adjacency, one exchange groups
    *    both by vertex. Each round but the last is one checkpoint
    *    observing Σ r over the dangling vertices, which enters the next
    *    round as a literal; the last round's dangling mass is never
    *    read, so it stays lazy and the caller's action computes it.
    * The loop releases each superseded state it created as soon as its
    * successor is materialized, never the given state, which the lazy
    * last round reads when `iters` = 1. An empty graph returns a 0-row
    * frame over the (live) given state. */
  def pageRankRounds(st: VertexState, iters: Int = 3,
                     scale: Long = 1000000000000L): DataFrame = {
    if (st.n == 0L) // empty graph: no vertices to price, avoid scale/0
      return st.frame.select(col("vx").as("v"), lit(0L).as("rank_scaled"))
    val k = st.k
    val tele = (15L * (scale / k)) / 100L
    def round(cur: DataFrame, r: Column, dm: Long): DataFrame =
      superstep(cur, "r", cur.select(explode(col("adj")).as("o"), r.as("r"),
          col("tw")).select(col("o.d").as("vx"), expr("(r * o.w) div tw").as("x")))
        .select(col("vx"), col("adj"), col("tw"), col("dang"), col("isw"),
          (lit(tele) * col("isw") + expr(
            s"(85 * (coalesce(x, 0) + isw * ${dm / k})) div 100")).as("r"))
    // round 0 is the literal r_0; its dangling mass is dseeds · r_0
    var dm = st.dseeds * (scale / k)
    var r = col("isw") * lit(scale / k)
    var cur = st.frame
    var i = 1
    while (i < iters) {
      val (nxt, obs) = Checkpoints.checkpointObserved(round(cur, r, dm))(
        coalesce(sum(when(col("dang"), col("r"))), lit(0L)).as("dm"))
      if (cur ne st.frame) Checkpoints.release(cur)
      cur = nxt
      r = col("r")
      dm = obs.getLong(0)
      i += 1
    }
    val ranked = if (iters >= 1) round(cur, r, dm) else cur.withColumn("r", r)
    ranked.select(col("vx").as("v"), col("r").as("rank_scaled"))
  }

  /** One message-passing superstep over a vertex state `st` keyed by
    * `vx` (Pregel's vertex-state rounds): every vertex keeps its row,
    * `msgs` = (vx, x) adds one row per message, and ONE exchange groups
    * both by vertex. The messages' `agg` (sum, min or max) becomes `x`
    * (null for a vertex that received none); every state column but
    * `vx` and `replaced` rides through the group with
    * `first(ignoreNulls)`, since message rows hold nulls there. */
  private def superstep(st: DataFrame, replaced: String, msgs: DataFrame,
                        agg: Column => Column = sum): DataFrame = {
    val carry = st.columns.toSeq.filterNot(Set("vx", replaced))
    st.select(col("vx") +: carry.map(col) :+
        lit(null).cast(msgs.schema("x").dataType).as("x"): _*)
      .union(msgs.select(col("vx") +: carry.map(c =>
        lit(null).cast(st.schema(c).dataType).as(c)) :+ col("x"): _*))
      .groupBy(col("vx"))
      .agg(agg(col("x")).as("x"),
        carry.map(c => first(col(c), ignoreNulls = true).as(c)): _*)
  }

  /** One round of a monotone label loop: a [[superstep]] over a vertex
    * state (vx, …, `lbl`, changed) in which only the `changed` vertices
    * send, `send` turning their rows into (vx, x) messages. A vertex
    * takes the messages' `agg` where it is `better` than its label (or
    * its label is null, not yet reached), and `changed` then marks
    * exactly the vertices whose label moved. Sending only from changed
    * vertices leaves every round's state identical to sending from all:
    * an unchanged vertex would repeat the message its receivers already
    * absorbed last round (by monotonicity for min and max labels; in
    * the root climb a child's label already is its parent's last one). */
  private def relax(st: DataFrame, lbl: String, agg: Column => Column,
                    send: DataFrame => DataFrame)(
      better: (Column, Column) => Column): DataFrame = {
    val moved = col("x").isNotNull && coalesce(better(col("x"), col(lbl)), lit(true))
    superstep(st, "changed", send(st.filter(col("changed"))), agg)
      .select(st.columns.toSeq.map {
        case `lbl` => when(moved, col("x")).otherwise(col(lbl)).as(lbl)
        case "changed" => moved.as("changed")
        case c => col(c)
      }: _*)
  }

  /** A checkpointed [[fixpoint]] state and the scalar its job observed. */
  private final case class Round(frame: DataFrame, m: Long)

  /** The one convergence loop of this object. It checkpoints `init`, then
    * applies `round` until `done(previous, next)` holds or `cap` rounds
    * ran, and returns the last state with whether it converged (callers
    * that need the fixpoint require it, with their own message). It owns
    * the loop discipline:
    *  - each state is one eager checkpoint that observes `metric` (a
    *    Long aggregate over its rows) on the same job
    *    ([[Checkpoints.checkpointObserved]]) — no `count()` action;
    *  - a state whose metric is 0 is settled: nothing changed, or
    *    nothing is left;
    *  - each superseded state is released once its successor is
    *    materialized, so at most two are alive; the last one stays for
    *    the caller's action (the harness's `releaseAll` drops it), and
    *    `init` itself is never released (the caller owns what it
    *    gives; the loop releases only the checkpoints it made).
    * The default metric counts `changed` rows and the default `done` is
    * "no row changed": the monotone label loops of [[relax]]. */
  private def fixpoint(init: DataFrame, cap: Int,
                       metric: Column = count(when(col("changed"), lit(1))),
                       done: (Round, Round) => Boolean = (_, n) => n.m == 0L)(
      round: DataFrame => DataFrame): (DataFrame, Boolean) = {
    def materialize(df: DataFrame): Round = {
      val (cp, obs) = Checkpoints.checkpointObserved(df)(metric.as("m"))
      Round(cp, obs.getLong(0))
    }
    var cur = materialize(init)
    var converged = cur.m == 0L
    var i = 0
    while (!converged && i < cap) {
      val nxt = materialize(round(cur.frame))
      converged = done(cur, nxt)
      Checkpoints.release(cur.frame)
      cur = nxt
      i += 1
    }
    (cur.frame, converged)
  }

  /** k-truss decomposition by iterative peel over [[triangleSupport]]:
    * drop every edge with support < k−2, recompute support on the
    * surviving subgraph, repeat to fixpoint. The k-truss is the
    * maximal subgraph where every edge closes ≥ k−2 triangles — the
    * community-core extraction behind the reference's rendered
    * coauthor nets (`StaticNet.scala:451`, `jsNets.scala`): cores
    * survive the peel, bridges and pendant structure fall away.
    *
    * Integer state throughout (edge list + int64 supports), so the
    * peel unrolls as exact oracle CTEs: fixture graphs reach fixpoint
    * in a handful of rounds (GraphSpec asserts convergence within the
    * oracle's unroll depth; the spec also checks ≡ brute-force peel on
    * random graphs).
    *
    * Scale shape: each round is one [[triangles]] pass (degree-ordered
    * orientation, O(Σ d_out²) wedges with the O(√m) celebrity bound) +
    * one keyed groupBy + one keyed join — never all-pairs. The rounds
    * run under [[peel]]: each round's edge count is observed on its
    * checkpoint, and the fixpoint is "count unchanged or 0". Round
    * count is O(peel depth), small on real graphs; each round only
    * shrinks the edge set, so per-round cost is non-increasing. */
  def kTruss(edges: DataFrame, k: Int, a: String = "a",
             b: String = "b"): DataFrame = {
    require(k >= 3, "k-truss needs k >= 3")
    // the state is canonical by construction (the input is
    // canonicalized; each round's output is a filtered projection of
    // it) — skip the per-round re-canonicalization shuffles
    peel(undirected(edges, a, b)) { cur =>
      triangleSupport(cur, "u", "v", assumeCanonical = true)
        .filter(col("support") >= k - 2).select(col("u"), col("v"))
    }
  }

  /** Integer HITS (hubs and authorities) on a DIRECTED graph — the
    * mutually-recursive counterpart of [[pageRankDirectedInt]]: an
    * authority is pointed to by good hubs, a hub points to good
    * authorities, a distinction that only exists once direction does
    * (a symmetrized graph collapses the two into eigenvector
    * centrality). Per half-round:
    *   a_raw(v) = Σ_{s→v} h(s);  a(v) = (a_raw(v) · scale) div Σ a_raw
    *   h_raw(v) = Σ_{v→d} a(d);  h(v) = (h_raw(v) · scale) div Σ h_raw
    * The classic L2 normalization is replaced by integer L1 rescaling
    * to `scale` — same ranking fixpoint, but every step stays exact
    * int64 floor arithmetic, so the rounds unroll as cross-engine
    * oracle CTEs (the q87/q98 discipline). A total of 0 (no edges, or
    * every raw sum floored to 0) divides by 1, so every value reads 0.
    * Overflow headroom: values are ≤ scale after each rescale, so raw
    * sums are ≤ maxdeg · scale and the rescale multiply is
    * ≤ maxdeg · scale² — scale 1e6 holds to maxdeg ~9e6.
    *
    * Scale shape: [[hitsState]], then [[hitsRounds]]. */
  def hitsInt(edges: DataFrame, src: String = "src", dst: String = "dst",
              iters: Int = 2, scale: Long = 1000000L): DataFrame =
    hitsRounds(hitsState(edges, src, dst), iters, scale)

  /** The vertex state of the HITS rounds over the directed edges
    * (src → dst): one row per vertex, (vx, outs, ins), one exchange
    * and one eager checkpoint, pinned when `pin`, observing n (the
    * rounds read no scalar of it). Self-loops and null endpoints drop;
    * the two sets do the edge dedup. */
  def hitsState(edges: DataFrame, src: String = "src", dst: String = "dst",
                pin: Boolean = false): VertexState = {
    val e = edges.select(col(src).as("s"), col(dst).as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
    val none = lit(null).cast(e.schema("s").dataType)
    val (frame, vs) = Checkpoints.checkpointObserved(
      e.select(col("s").as("vx"), col("d").as("o"), none.as("i"))
        .union(e.select(col("d").as("vx"), none.as("o"), col("s").as("i")))
        .groupBy(col("vx"))
        .agg(collect_set(col("o")).as("outs"), collect_set(col("i")).as("ins")),
      pin)(count(lit(1)).as("n"))
    VertexState(frame, vs.getLong(0), 0L, vs.getLong(0))
  }

  /** The half-rounds of [[hitsInt]] over a [[hitsState]].
    *
    * Scale shape: each half-round is ONE [[superstep]] and ONE
    * checkpoint over the vertex state: every vertex sends its rescaled
    * hub value along `outs` (or its authority along `ins`), with the
    * previous total a literal, and the group sums the raw `a` (or `h`)
    * column while the other one rides along. Each checkpoint observes
    * its own L1 total for the next half-round
    * ([[Checkpoints.checkpointObserved]]: no scalar aggregate,
    * broadcast cross join or driver collect); the last one's total
    * rescales the hubs, so every half-round is materialized. Round 0's
    * hub weights are the literal `scale`. The result rescales the last
    * state's raw columns — sources (no in-edges) get authority 0, sinks
    * hub 0, exactly as in the float formulation — and leaves that one
    * block live (the harness's `releaseAll` drops it); every
    * superseded state the loop created is released eagerly, the given
    * state never. */
  def hitsRounds(st: VertexState, iters: Int = 2,
                 scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, "hitsInt needs at least one iteration")
    var cur = st.frame
    // every vertex sends `x` along its `along` set; the receivers' sums
    // become raw column `raw`, returned with their L1 total
    def half(along: String, x: Column, raw: String): Long = {
      val (nxt, tot) = Checkpoints.checkpointObserved(
        superstep(cur, raw, cur.select(explode(col(along)).as("vx"), x.as("x")))
          .withColumnRenamed("x", raw))(
        coalesce(sum(col(raw)), lit(0L)).as("tot"))
      if (cur ne st.frame) Checkpoints.release(cur)
      cur = nxt
      val t = tot.getLong(0)
      if (t == 0L) 1L else t
    }
    def rescaled(raw: String, tot: Long) = expr(s"($raw * $scale) div $tot")
    var at, ht = 0L
    var i = 0
    while (i < iters) {
      at = half("outs", if (i == 0) lit(scale) else rescaled("h", ht), "a")
      ht = half("ins", rescaled("a", at), "h")
      i += 1
    }
    cur.select(col("vx").as("v"),
      rescaled("coalesce(a, 0)", at).as("authority"),
      rescaled("coalesce(h, 0)", ht).as("hub"))
  }

  /** k-core decomposition by iterative degree peel: drop every vertex
    * with degree < k (and its edges), recompute degrees, repeat to
    * fixpoint — the degree-based sibling of [[kTruss]] (a k-truss is
    * always inside the (k−1)-core; cores are the cheap first cut,
    * trusses the cohesive refinement). Returns the surviving edge set.
    *
    * Scale shape: each round is one degree groupBy + two semi-joins —
    * strictly cheaper than a truss round (no triangle enumeration);
    * the same [[peel]] as [[kTruss]]. The edge set only
    * shrinks, so per-round cost is non-increasing; round count is the
    * peel depth (measured 9 at sf0.1 on the q103 substrate). */
  def kCore(edges: DataFrame, k: Int, a: String = "a",
            b: String = "b"): DataFrame = {
    require(k >= 1, "k-core needs k >= 1")
    peel(undirected(edges, a, b)) { cur =>
      val keep = cur.select(col("u").as("n"))
        .union(cur.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k).select(col("n"))
      cur.join(keep.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("n").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
    }
  }

  /** A peel to fixpoint over an edge set: `round` drops edges until a
    * round keeps every edge or none (or `cap` rounds ran), read off each
    * round's observed edge count. */
  private def peel(init: DataFrame, cap: Int = Int.MaxValue)(
      round: DataFrame => DataFrame): DataFrame =
    fixpoint(init, cap, count(lit(1)), (p, n) => n.m == p.m || n.m == 0L)(round)._1

  /** Distinct canonical (u < v) undirected edges over endpoint columns
    * `a` and `b`; self-loops and null endpoints drop. */
  private def undirected(edges: DataFrame, a: String, b: String): DataFrame =
    edges.select(least(col(a), col(b)).as("u"), greatest(col(a), col(b)).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull).distinct()

  /** Temporal edge CHURN over a (src, dst, period) long-form edge log
    * — the year-over-year evolution measure the reference's dynamic
    * network tracks via per-year DLink attributes
    * (`DynamicNet.scala:251`), as one relational pass: for every
    * ACTIVE period, how many distinct undirected edges were active
    * (`n_active`), how many appeared for the first time ever
    * (`n_new`), and how many of the previous period's edges did not
    * recur (`n_lost` — attributed to the period they went missing).
    *
    * Scale shape: one distinct over (edge, period), then three keyed
    * aggregations — first-appearance is a min-period groupBy, loss is
    * a shifted-period left-anti self-join; output is one row per
    * period regardless of graph size. */
  def edgeChurn(longForm: DataFrame, src: String = "a", dst: String = "b",
                period: String = "year"): DataFrame = {
    // checkpoint: four consumers (active counts, first-appearance,
    // both sides of the loss anti-join) share the distinct pass
    val act = Checkpoints.checkpoint(longForm
      .select(least(col(src), col(dst)).as("u"),
        greatest(col(src), col(dst)).as("v"), col(period).as("p"))
      .filter(col("u") =!= col("v") && col("u").isNotNull &&
        col("p").isNotNull)
      .distinct())
    val active = act.groupBy(col("p")).agg(count(lit(1)).as("n_active"))
    val firstSeen = act.groupBy(col("u"), col("v"))
      .agg(min(col("p")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("n_new"))
    val lost = act
      .select(col("u"), col("v"), (col("p") + 1).as("p"))
      .join(act, Seq("u", "v", "p"), "left_anti")
      .groupBy(col("p")).agg(count(lit(1)).as("n_lost"))
    active.join(firstSeen, Seq("p"), "left")
      .join(lost, Seq("p"), "left")
      .na.fill(0L, Seq("n_new", "n_lost"))
      .select(col("p").as(period), col("n_active"), col("n_new"),
        col("n_lost"))
  }

  /** Community detection by SYNCHRONOUS label propagation (Raghavan/
    * Albert/Kumara 2007, the deterministic synchronous variant —
    * public algorithm): every vertex starts as its own label; each
    * round it adopts the label most frequent among its neighbors,
    * ties broken by MIN label — fully deterministic, so a fixed round
    * count replays exactly (the pageRankInt discipline; asynchronous
    * LPA's update order is engine-internal and can't be oracled).
    * Densely connected groups converge onto one label within a few
    * rounds; `rounds` is a query parameter, not a fixpoint search.
    *
    * Per round: one adjacency join + one (vertex, label) count + one
    * per-vertex top-1 (WindowGroupLimit-planned) — all keyed by
    * vertex, no driver state at all. Returns (v, community). */
  def labelPropagation(edges: DataFrame, rounds: Int = 4,
                       a: String = "a", b: String = "b"): DataFrame = {
    require(rounds >= 1, "at least one propagation round")
    val und = Checkpoints.checkpoint(undirected(edges, a, b))
    val adj = Checkpoints.checkpoint(
      und.select(col("u").as("s"), col("v").as("d"))
        .union(und.select(col("v").as("s"), col("u").as("d"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("s")).orderBy(col("c").desc, col("lab"))
    var lab = Checkpoints.checkpoint(
      adj.select(col("s").as("v")).distinct().withColumn("lab", col("v")))
    (0 until rounds).foreach { _ =>
      val nxt = Checkpoints.checkpoint(
        adj.join(lab.select(col("v").as("d"), col("lab")), "d")
          .groupBy(col("s"), col("lab")).agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("s").as("v"), col("lab")))
      Checkpoints.release(lab)
      lab = nxt
    }
    lab.select(col("v"), col("lab").as("community"))
  }

  /** SEMI-SUPERVISED label spreading — the graph-SSL primitive (Zhu &
    * Ghahramani 2002, hard-label variant — public): `seeds` (v, label)
    * carry fixed ground-truth labels; each synchronous round every
    * vertex takes the majority label over its LABELED neighbors
    * ((count DESC, label ASC) — [[labelPropagation]]'s deterministic
    * vote), and seed vertices stay CLAMPED to their given label — the
    * property that separates SSL from plain community LPA (a label
    * cannot be voted off its own seed, so spreading converges toward
    * the seeds' basins). Fixed rounds → oracle-unrollable; vertices no
    * label has reached are absent from the output. The
    * training-data-labeling shape: a few human labels, a similarity
    * graph, labels for the rest. */
  def labelSpread(edges: DataFrame, seeds: DataFrame, rounds: Int = 4,
                  a: String = "a", b: String = "b"): DataFrame = {
    require(rounds >= 1, "at least one spreading round")
    val und = Checkpoints.checkpoint(undirected(edges, a, b))
    val adj = Checkpoints.checkpoint(
      und.select(col("u").as("s"), col("v").as("d"))
        .union(und.select(col("v").as("s"), col("u").as("d"))))
    val sd = Checkpoints.checkpoint(
      seeds.select(col("v"), col("label")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("s")).orderBy(col("c").desc, col("label"))
    var lab = sd
    (0 until rounds).foreach { _ =>
      val votes = adj.join(lab.select(col("v").as("d"), col("label")), "d")
        .groupBy(col("s"), col("label")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("s").as("v"), col("label"))
      val nxt = Checkpoints.checkpoint(
        sd.unionByName(
          votes.join(sd.select(col("v")), Seq("v"), "left_anti")))
      if (!(lab eq sd)) Checkpoints.release(lab)
      lab = nxt
    }
    lab
  }

  /** MODULARITY of a vertex partition over an undirected edge list —
    * the standard Newman-Girvan quality score
    * Q = Σ_c [e_in(c)/m − (deg_c/2m)²], reported per community in
    * EXACT integer form: contrib = 4m·e_in − deg_sum², so
    * Σ contrib = 4m²·Q and every value replays bit-exactly in any
    * engine (no float division until the reader derives Q). `edges`
    * must be distinct undirected pairs (a ≠ b); `labels` must cover
    * every endpoint (as [[labelPropagation]]'s output does).
    * One degree aggregate + one two-sided label join + one group —
    * all keyed exchanges, m is the only broadcast scalar. */
  def modularity(edges: DataFrame, labels: DataFrame,
                 a: String = "a", b: String = "b"): DataFrame = {
    val ed = Checkpoints.checkpoint(edges.select(col(a), col(b)))
    val deg = ed.select(col(a).as("v"))
      .unionByName(ed.select(col(b).as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val m = ed.agg(count(lit(1)).as("m"))
    val ein = ed
      .join(labels.select(col("v").as(a), col("community").as("ca")), a)
      .join(labels.select(col("v").as(b), col("community").as("cb")), b)
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("e_in"))
    val byComm = labels.join(deg, "v")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_vertices"), sum(col("deg")).as("deg_sum"))
    byComm.join(ein, Seq("community"), "left")
      .na.fill(0L, Seq("e_in"))
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_vertices"), col("e_in"),
        col("deg_sum"), col("m"),
        (lit(4L) * col("m") * col("e_in") -
          col("deg_sum") * col("deg_sum")).as("contrib"))
  }

  /** CONDUCTANCE per community — the cut-quality twin of
    * [[modularity]] (Kannan–Vempala–Vetta 2004): φ(c) = cut(c) /
    * min(vol(c), 2m − vol(c)), where cut(c) counts edges with exactly
    * one endpoint in c and vol(c) is c's degree mass. Reported in
    * EXACT integer form — cut, vol, m ride along and φ is integer
    * basis points with a guarded denominator (`greatest(1, …)`: a
    * partition that converged to one community has 2m − vol = 0; both
    * engines guard identically so the gate still hash-matches).
    * Same scale shape as modularity: one degree aggregate, one
    * two-sided label join, one cut explode, all keyed exchanges; m is
    * the only broadcast scalar. */
  def conductance(edges: DataFrame, labels: DataFrame,
                  a: String = "a", b: String = "b"): DataFrame = {
    val ed = Checkpoints.checkpoint(edges.select(col(a), col(b)))
    val deg = ed.select(col(a).as("v"))
      .unionByName(ed.select(col(b).as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val m = ed.agg(count(lit(1)).as("m"))
    val tagged = ed
      .join(labels.select(col("v").as(a), col("community").as("ca")), a)
      .join(labels.select(col("v").as(b), col("community").as("cb")), b)
      .filter(col("ca") =!= col("cb"))
    // a cut edge charges BOTH its communities
    val cut = tagged.select(col("ca").as("community"))
      .unionByName(tagged.select(col("cb").as("community")))
      .groupBy(col("community")).agg(count(lit(1)).as("cut"))
    labels.join(deg, "v")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_vertices"), sum(col("deg")).as("vol"))
      .join(cut, Seq("community"), "left")
      .na.fill(0L, Seq("cut"))
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_vertices"), col("cut"), col("vol"),
        col("m"),
        expr("cut * 10000 div greatest(1L, least(vol, 2 * m - vol))")
          .as("phi_x10k"))
  }

  /** LOUVAIN-STYLE local-move refinement of a community partition —
    * phase 1 of Blondel et al. 2008 (public), made deterministic and
    * replay-exact: per round every vertex computes its best
    * neighboring-community move by EXACT integer modularity gain
    * (with Q_int = Σ_c (4m·e_c − deg_c²) = 4m²·Q, moving v from a to
    * b changes Q_int by ΔQ = 4m·(k_b − k_a) − 2·deg_v·(d_b − (d_a −
    * deg_v)), where k_c = v's edge count into c and d_c = c's degree
    * mass — no floats anywhere), keeping moves with ΔQ > 0, ties →
    * smaller target label.
    *
    * Louvain's sequential sweep can't be distributed verbatim (each
    * move invalidates the d_c terms of every later gain), so the round
    * applies the synchronous proposal set ONLY IF the exactly
    * recomputed Q_int improves; otherwise it falls back to the single
    * best proposal (ΔQ desc, v asc), whose gain is exact by
    * construction. Either branch strictly increases Q_int (or the
    * round is an identity when no vertex proposes), so
    * Q(refined) ≥ Q(input) ALWAYS holds — GraphSpec asserts it, and
    * the branch decision is itself replay-exact (two integer Q_int
    * scalars), so a fixed round count unrolls into the oracle.
    *
    * Shapes per round: degree/label joins and (vertex, community)
    * counts — all keyed exchanges; the two Q_int scalars and m are
    * 1-row broadcasts (the q42 convention); the single-best fallback
    * is a distributed TakeOrdered(1), not a global window. Returns
    * (v, community). */
  def refineCommunities(edges: DataFrame, labels: DataFrame,
                        rounds: Int = 2, a: String = "a",
                        b: String = "b"): DataFrame = {
    require(rounds >= 1, "at least one refinement round")
    val und = Checkpoints.checkpoint(undirected(edges, a, b))
    val adj = Checkpoints.checkpoint(
      und.select(col("u").as("s"), col("v").as("d"))
        .union(und.select(col("v").as("s"), col("u").as("d"))))
    val deg = Checkpoints.checkpoint(
      adj.groupBy(col("s")).agg(count(lit(1)).as("deg"))
        .select(col("s").as("v"), col("deg")))
    // m MATERIALIZED once (guide §2.4): the 1-row broadcast is
    // consumed by prop AND the guard in EVERY round, and un-checkpointed
    // each use re-ran the count over the full edge blocks — 2 edge-scale
    // scans per round for a loop-invariant scalar.
    val mm = Checkpoints.checkpoint(und.agg(count(lit(1)).as("m")))
    // Guard comparison Q(proposed) > Q(current) with BOTH partitions
    // scored in ONE edge-scale pass (guide §2.4): the old shape ran the
    // exact integer score qint = 4m·Σe_in − Σd_c² twice per round — two
    // separate und⋈labels⋈labels double joins over the edge list.
    // Carrying both labelings on one joined (v, lab_old, lab_new) frame
    // prices both partitions from a single double join; the integers
    // are term-for-term the same (e_in = Σ_edges [l_u = l_v], count ≡
    // coalesced conditional sum; Σd² per labeling over the same frame).
    def guardFlag(labOld: DataFrame, labNew: DataFrame): DataFrame = {
      val both = labOld.select(col("v"), col("lab").as("lo"))
        .join(labNew.select(col("v"), col("lab").as("ln")), Seq("v"))
      val ein2 = und
        .join(both.select(col("v").as("u"), col("lo").as("lou"),
          col("ln").as("lnu")), Seq("u"))
        .join(both.select(col("v"), col("lo").as("lov"),
          col("ln").as("lnv")), Seq("v"))
        .agg(coalesce(sum(when(col("lou") === col("lov"), 1L)
            .otherwise(0L)), lit(0L)).as("eo"),
          coalesce(sum(when(col("lnu") === col("lnv"), 1L)
            .otherwise(0L)), lit(0L)).as("en"))
      val bd = both.join(deg, "v")
      val sdo = bd.groupBy(col("lo")).agg(sum(col("deg")).as("dsum"))
        .agg(sum(col("dsum") * col("dsum")).as("sdo"))
      val sdn = bd.groupBy(col("ln")).agg(sum(col("deg")).as("dsum"))
        .agg(sum(col("dsum") * col("dsum")).as("sdn"))
      ein2.crossJoin(sdo).crossJoin(sdn).crossJoin(broadcast(mm))
        .select((lit(4L) * col("m") * col("en") - col("sdn") >
          lit(4L) * col("m") * col("eo") - col("sdo")).as("take_all"))
    }
    var lab = Checkpoints.checkpoint(
      labels.select(col("v"), col("community").as("lab")))
    (0 until rounds).foreach { _ =>
      val dc = lab.join(deg, "v").groupBy(col("lab"))
        .agg(sum(col("deg")).as("dsum"))
      val kv = adj.join(lab.select(col("v").as("d"), col("lab")), "d")
        .groupBy(col("s"), col("lab")).agg(count(lit(1)).as("k"))
        .select(col("s").as("v"), col("lab"), col("k"))
      val own = lab.select(col("v"), col("lab").as("cur"))
        .join(deg, "v")
        .join(dc.select(col("lab").as("cur"), col("dsum").as("dcur")),
          Seq("cur"))
        .join(kv.select(col("v"), col("lab").as("cur"),
          col("k").as("kown")), Seq("v", "cur"), "left")
        .na.fill(0L, Seq("kown"))
      val wBest = org.apache.spark.sql.expressions.Window
        .partitionBy(col("v")).orderBy(col("dq").desc, col("lab"))
      val prop = Checkpoints.checkpoint(
        own.join(kv, Seq("v")).filter(col("lab") =!= col("cur"))
          .join(dc, Seq("lab"))
          .crossJoin(broadcast(mm))
          .withColumn("dq",
            lit(4L) * col("m") * (col("k") - col("kown")) -
              lit(2L) * col("deg") *
                (col("dsum") - (col("dcur") - col("deg"))))
          .withColumn("rn", row_number().over(wBest))
          .filter(col("rn") === 1 && col("dq") > 0)
          .select(col("v"), col("lab").as("tgt"), col("dq")))
      val pall = Checkpoints.checkpoint(
        lab.join(prop.select(col("v"), col("tgt")), Seq("v"), "left")
          .select(col("v"), coalesce(col("tgt"), col("lab")).as("lab")))
      val flag = guardFlag(lab, pall)
      val single = prop.orderBy(col("dq").desc, col("v")).limit(1)
        .select(col("v"), col("tgt"))
      val nxt = Checkpoints.checkpoint(
        lab.join(pall.select(col("v"), col("lab").as("pl")), Seq("v"))
          .join(single.select(col("v"), col("tgt").as("sl")),
            Seq("v"), "left")
          .crossJoin(broadcast(flag))
          .select(col("v"),
            when(col("take_all"), col("pl"))
              .when(col("sl").isNotNull, col("sl"))
              .otherwise(col("lab")).as("lab")))
      Checkpoints.release(lab)
      Checkpoints.release(prop)
      Checkpoints.release(pall)
      lab = nxt
    }
    Checkpoints.release(und)
    Checkpoints.release(mm)
    Checkpoints.release(adj)
    Checkpoints.release(deg)
    lab.select(col("v"), col("lab").as("community"))
  }

  /** MULTI-LEVEL Louvain (Blondel et al. 2008, "Fast unfolding of
    * communities in large networks" — public): the coarsen-and-repeat
    * level loop the one-level [[refineCommunities]] pass stops short
    * of. Level 1 is exactly the q188 pipeline (LPA seed + guarded
    * integer-ΔQ local moves); the partition is then CONTRACTED to its
    * community multigraph — one weighted vertex per community,
    * cross-community edge weights summed, internal edges folded into
    * self-loop weights — and the SAME guarded local-move rounds run
    * again with weighted arithmetic (sum(w) where level 1 counts
    * edges; total weight m is preserved by contraction, so the
    * integer score 4m·(e_in_cross + w_self_total) − Σ D_c² is the
    * SAME 4m²·Q scale at both levels and Q is monotone across levels
    * by the guard: full proposal set only if the recomputed score
    * improves, else the single best exact-ΔQ move, else no change).
    *
    * Scale shape: the contraction is two keyed joins + one aggregate;
    * the coarse graph has one vertex per community, so the level-2
    * rounds run on data orders of magnitude smaller than the input —
    * the property that makes Louvain viable at 100 TB (each level
    * shrinks the graph geometrically; all joins stay
    * hash-partitioned on vertex/community keys).
    *
    * Returns (v, c1, community): the level-1 label and the final
    * level-2 label projected back to the finest grain. */
  def louvainTwoLevel(edges: DataFrame, lpaRounds: Int = 4,
                      refineRounds: Int = 2, coarseRounds: Int = 2,
                      a: String = "a", b: String = "b",
                      level1: Option[DataFrame] = None): DataFrame = {
    // `level1` lets a caller hand in an already-materialized level-1
    // partition (v, community) — the build/serve split when the q188
    // labels are session-pinned and shared
    val l1 = Checkpoints.checkpoint(level1.getOrElse(
      refineCommunities(edges,
        labelPropagation(edges, lpaRounds, a, b), refineRounds, a, b)))
    val und = undirected(edges, a, b)
    // community multigraph: cu <= cv, cu == cv rows carry internal mass
    val ce = Checkpoints.checkpoint(und
      .join(l1.select(col("v").as("u"), col("community").as("cu")), Seq("u"))
      .join(l1.select(col("v"), col("community").as("cv")), Seq("v"))
      .select(least(col("cu"), col("cv")).as("cu"),
        greatest(col("cu"), col("cv")).as("cv"))
      .groupBy(col("cu"), col("cv")).agg(count(lit(1)).as("w")))
    val l2 = localMoveWeighted(ce, coarseRounds)
    val out = l1.select(col("v"), col("community").as("c1"))
      .join(l2.select(col("c").as("c1"), col("lab").as("community")),
        Seq("c1"))
      .select(col("v"), col("c1"), col("community"))
    out
  }

  /** Guarded local-move rounds over a WEIGHTED community multigraph
    * (`ce`: cu <= cv, weight; cu == cv rows are self-loops) starting
    * from the identity partition — the coarse-level engine of
    * [[louvainTwoLevel]]. Mirrors [[refineCommunities]] with
    * sum-of-weight arithmetic: weighted degree D_c = 2·w_self +
    * Σ cross w, move gain ΔQ_int = 4m(k_new − k_own) −
    * 2·D_c·(D_tgt − (D_cur − D_c)), and the partition score
    * 4m·(cross-internal weight + total self-loop weight) − Σ D² (the
    * self-loop term is labeling-invariant but keeps the score on the
    * exact 4m²·Q scale). Returns (c, lab). */
  private[graft] def localMoveWeighted(ce: DataFrame,
                                       rounds: Int): DataFrame = {
    require(rounds >= 1, "at least one move round")
    val cross = Checkpoints.checkpoint(
      ce.filter(col("cu") =!= col("cv"))
        .select(col("cu"), col("cv"), col("w")))
    // 1-row loop-invariant scalars materialized once (guide §2.4) —
    // selfW and m are broadcast into every round's guard (and m into
    // every round's proposals); un-checkpointed each broadcast re-ran
    // its aggregate over the coarse edge relation per use.
    val selfW = Checkpoints.checkpoint(
      ce.filter(col("cu") === col("cv"))
        .agg(coalesce(sum(col("w")), lit(0L)).as("sw")))
    val adj = Checkpoints.checkpoint(
      cross.select(col("cu").as("s"), col("cv").as("d"), col("w"))
        .union(cross.select(col("cv").as("s"), col("cu").as("d"), col("w"))))
    val deg = Checkpoints.checkpoint(
      adj.select(col("s").as("c"), col("w"))
        .union(ce.filter(col("cu") === col("cv"))
          .select(col("cu").as("c"), (col("w") * 2).as("w")))
        .groupBy(col("c")).agg(sum(col("w")).as("deg"))
        .select(col("c").as("v"), col("deg")))
    val mm = Checkpoints.checkpoint(ce.agg(sum(col("w")).as("m")))
    // fused guard — see [[refineCommunities]].guardFlag: both labelings
    // scored from ONE cross⋈labels⋈labels pass (weighted arithmetic;
    // the self-loop term sw rides on both sides exactly as before)
    def guardFlag(labOld: DataFrame, labNew: DataFrame): DataFrame = {
      val both = labOld.select(col("v"), col("lab").as("lo"))
        .join(labNew.select(col("v"), col("lab").as("ln")), Seq("v"))
      val ein2 = cross
        .join(both.select(col("v").as("cu"), col("lo").as("lou"),
          col("ln").as("lnu")), Seq("cu"))
        .join(both.select(col("v").as("cv"), col("lo").as("lov"),
          col("ln").as("lnv")), Seq("cv"))
        .agg(coalesce(sum(when(col("lou") === col("lov"), col("w"))
            .otherwise(0L)), lit(0L)).as("eo"),
          coalesce(sum(when(col("lnu") === col("lnv"), col("w"))
            .otherwise(0L)), lit(0L)).as("en"))
      val bd = both.join(deg, "v")
      val sdo = bd.groupBy(col("lo")).agg(sum(col("deg")).as("dsum"))
        .agg(sum(col("dsum") * col("dsum")).as("sdo"))
      val sdn = bd.groupBy(col("ln")).agg(sum(col("deg")).as("dsum"))
        .agg(sum(col("dsum") * col("dsum")).as("sdn"))
      ein2.crossJoin(sdo).crossJoin(sdn)
        .crossJoin(broadcast(mm)).crossJoin(broadcast(selfW))
        .select((lit(4L) * col("m") * (col("en") + col("sw")) - col("sdn") >
          lit(4L) * col("m") * (col("eo") + col("sw")) - col("sdo"))
          .as("take_all"))
    }
    var lab = Checkpoints.checkpoint(
      ce.select(col("cu").as("v")).union(ce.select(col("cv").as("v")))
        .distinct().withColumn("lab", col("v")))
    (0 until rounds).foreach { _ =>
      val dc = lab.join(deg, "v").groupBy(col("lab"))
        .agg(sum(col("deg")).as("dsum"))
      val kv = adj.join(lab.select(col("v").as("d"), col("lab")), "d")
        .groupBy(col("s"), col("lab")).agg(sum(col("w")).as("k"))
        .select(col("s").as("v"), col("lab"), col("k"))
      val own = lab.select(col("v"), col("lab").as("cur"))
        .join(deg, "v")
        .join(dc.select(col("lab").as("cur"), col("dsum").as("dcur")),
          Seq("cur"))
        .join(kv.select(col("v"), col("lab").as("cur"),
          col("k").as("kown")), Seq("v", "cur"), "left")
        .na.fill(0L, Seq("kown"))
      val wBest = org.apache.spark.sql.expressions.Window
        .partitionBy(col("v")).orderBy(col("dq").desc, col("lab"))
      val prop = Checkpoints.checkpoint(
        own.join(kv, Seq("v")).filter(col("lab") =!= col("cur"))
          .join(dc, Seq("lab"))
          .crossJoin(broadcast(mm))
          .withColumn("dq",
            lit(4L) * col("m") * (col("k") - col("kown")) -
              lit(2L) * col("deg") *
                (col("dsum") - (col("dcur") - col("deg"))))
          .withColumn("rn", row_number().over(wBest))
          .filter(col("rn") === 1 && col("dq") > 0)
          .select(col("v"), col("lab").as("tgt"), col("dq")))
      val pall = Checkpoints.checkpoint(
        lab.join(prop.select(col("v"), col("tgt")), Seq("v"), "left")
          .select(col("v"), coalesce(col("tgt"), col("lab")).as("lab")))
      val flag = guardFlag(lab, pall)
      val single = prop.orderBy(col("dq").desc, col("v")).limit(1)
        .select(col("v"), col("tgt"))
      val nxt = Checkpoints.checkpoint(
        lab.join(pall.select(col("v"), col("lab").as("pl")), Seq("v"))
          .join(single.select(col("v"), col("tgt").as("sl")),
            Seq("v"), "left")
          .crossJoin(broadcast(flag))
          .select(col("v"),
            when(col("take_all"), col("pl"))
              .when(col("sl").isNotNull, col("sl"))
              .otherwise(col("lab")).as("lab")))
      Checkpoints.release(lab)
      Checkpoints.release(prop)
      Checkpoints.release(pall)
      lab = nxt
    }
    Checkpoints.release(cross)
    Checkpoints.release(adj)
    Checkpoints.release(deg)
    Checkpoints.release(selfW)
    Checkpoints.release(mm)
    lab.select(col("v").as("c"), col("lab"))
  }

  /** FULL k-core decomposition — the per-vertex core NUMBER (largest k
    * with v in the k-core; the degeneracy ordering curation and
    * graph-ML want), not one fixed-k slice like [[kCore]].
    *
    * Iterated peeling needs max-coreness outer stages (99 on the sf0.01
    * substrate); instead this runs the h-index propagation of
    * Montresor/De Pellegrini/Miorandi, "Distributed k-core
    * decomposition" (IEEE TPDS 2013) / Lü et al. 2016 — both public:
    * est(v) starts at degree(v) and each round contracts
    * est(v) ← min(est(v), H({est(u) : u ∼ v})) where H is the h-index
    * operator (largest h with ≥ h neighbors estimating ≥ h). Estimates
    * decrease monotonically and the fixpoint is exactly coreness.
    * Rounds are data-dependent (≤ graph diameter-ish in practice —
    * GraphSpec measures the real substrate; a path graph is the
    * pathological O(n) case); each round is one join + one windowed
    * rank + one groupBy, all keyed by vertex — a [[fixpoint]] loop whose
    * certificate, the monotone Σest scalar, is observed on each
    * round's checkpoint.
    *
    * H via window rank: neighbors ranked by estimate desc;
    * H = max(min(rank, est)) — ties get arbitrary distinct ranks,
    * which cannot change the max. Returns (v, core). */
  def coreNumbers(edges: DataFrame, a: String = "a",
                  b: String = "b"): DataFrame = {
    // checkpointed: the adjacency feeds every round (and round 0
    // twice: degree init + first H)
    val und = Checkpoints.checkpoint(undirected(edges, a, b))
    val adj = Checkpoints.checkpoint(
      und.select(col("u").as("s"), col("v").as("d"))
        .union(und.select(col("v").as("s"), col("u").as("d"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("s")).orderBy(col("nc").desc)
    // Σest strictly decreases every non-fixpoint round (updates only
    // ever lower estimates), so an unchanged sum is the fixpoint
    fixpoint(adj.groupBy(col("s")).agg(count(lit(1)).as("c"))
        .select(col("s").as("v"), col("c")), Int.MaxValue,
      coalesce(sum(col("c")), lit(0L)), (p, n) => n.m == p.m) { est =>
      val h = adj
        .join(est.select(col("v").as("d"), col("c").as("nc")), "d")
        .select(col("s"), col("nc"))
        .withColumn("rk", row_number().over(w))
        .groupBy(col("s"))
        .agg(max(least(col("rk"), col("nc"))).as("h"))
      est.join(h, est("v") === h("s"))
        .select(col("v"), least(col("c"), col("h")).as("c"))
    }._1.select(col("v"), col("c").as("core"))
  }

  /** Temporal (dynamic) edges — G7, the reference's DLink
    * (`DynamicNet.scala:251`): per-edge nested map year → attribute.
    * The CANONICAL form is relational long form (src, dst, year, n) —
    * columnar-friendly, joinable, incrementally maintainable; the
    * map-typed edge attribute is materialized only at export, exactly
    * as SURVEY.md §7.4.5 prescribes. Entries are sorted by year so the
    * map column is deterministic. */
  def toTemporalEdges(longForm: DataFrame, src: String = "a",
                      dst: String = "b", period: String = "year",
                      value: String = "n"): DataFrame =
    longForm
      // pre-aggregate duplicate (src, dst, period) rows — same
      // DUPLICATED_MAP_KEY totality guard as toNestedTemporalEdges
      .groupBy(col(src), col(dst), col(period))
      .agg(sum(col(value)).as(value))
      .groupBy(col(src), col(dst))
      .agg(map_from_entries(array_sort(
        collect_list(struct(col(period), col(value))))).as("by_period"))

  /** The reference's exact DLink edge attribute
    * (`DynamicNet.scala:251`): NESTED map year → (paper → citation
    * count), materialized from the canonical long form (src, dst,
    * year, paper, n). Export-only like [[toTemporalEdges]]; both map
    * levels are built from year-/paper-sorted entries so the column is
    * byte-deterministic. */
  def toNestedTemporalEdges(longForm: DataFrame, src: String = "a",
                            dst: String = "b", period: String = "year",
                            item: String = "paper",
                            value: String = "n"): DataFrame =
    longForm
      // pre-aggregate: duplicate (src, dst, period, item) rows would
      // otherwise hit map_from_entries' DUPLICATED_MAP_KEY error —
      // summing makes the op total over un-aggregated event logs
      .groupBy(col(src), col(dst), col(period), col(item))
      .agg(sum(col(value)).as(value))
      .groupBy(col(src), col(dst), col(period))
      .agg(map_from_entries(array_sort(
        collect_list(struct(col(item), col(value))))).as("items"))
      .groupBy(col(src), col(dst))
      // struct<period, map> is not orderable as a whole — sort the
      // entries by the period key alone with an explicit comparator
      .agg(map_from_entries(array_sort(
        collect_list(struct(col(period), col("items"))),
        (l, r) => when(l.getField(period) < r.getField(period), -1)
          .when(l.getField(period) > r.getField(period), 1)
          .otherwise(0))).as("by_period"))

  /** D3 force-layout JSON export (G9's second format — the reference's
    * `jsNets.scala:115-1207` renders its nets through a browser force
    * layout): `{"nodes":[{"id","label"}],"links":[{"source","target",
    * "weight"}]}`, the exact shape `d3.forceSimulation`/`forceLink`
    * consumes. Bounded graphs only — collects to the driver by design,
    * like [[toGexf]]. */
  def toForceJson(vertices: DataFrame, edges: DataFrame): String = {
    val vs = vertices.select(col("id").cast("string"), col("label").cast("string"))
      .collect().map(r =>
        s"""{"id":"${jsonEscape(r.getString(0))}","label":"${jsonEscape(r.getString(1))}"}""")
    val es = edges.select(col("src").cast("string"), col("dst").cast("string"),
        col("weight").cast("double"))
      .collect().map(r =>
        s"""{"source":"${jsonEscape(r.getString(0))}","target":"${jsonEscape(r.getString(1))}","weight":${r.getDouble(2)}}""")
    s"""{"nodes":[${vs.mkString(",")}],"links":[${es.mkString(",")}]}"""
  }

  /** Standalone HTML page with an interactive force-directed rendering
    * of the graph — the reference's second export format (its notebook
    * emits GEXF + a D3 v3 force viewer, `jsNets.scala:218-310`).
    * The graph data is EMBEDDED as [[toForceJson]] JSON; the only
    * external reference is the public d3 CDN script tag, exactly as
    * the reference page has (the artifact is for a browser, not for
    * this engine to load). Writable through
    * [[graft.sources.Ingest.writeSingleText]]. */
  def toForceHtml(vertices: DataFrame, edges: DataFrame,
                  title: String = "graft network"): String = {
    val data = toForceJson(vertices, edges)
    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8"><title>${title}</title>
       |<script src="https://d3js.org/d3.v7.min.js"></script>
       |<style>circle{fill:#69b;stroke:#fff}line{stroke:#999;stroke-opacity:.6}text{font:10px sans-serif}</style>
       |</head><body><svg width="960" height="600"></svg>
       |<script>
       |const graph = ${data};
       |const svg = d3.select("svg"), W = +svg.attr("width"), H = +svg.attr("height");
       |const sim = d3.forceSimulation(graph.nodes)
       |  .force("link", d3.forceLink(graph.links).id(d => d.id)
       |    .strength(d => Math.min(1, d.weight / 10)))
       |  .force("charge", d3.forceManyBody().strength(-60))
       |  .force("center", d3.forceCenter(W / 2, H / 2));
       |const link = svg.append("g").selectAll("line").data(graph.links).join("line")
       |  .attr("stroke-width", d => Math.sqrt(d.weight));
       |const node = svg.append("g").selectAll("circle").data(graph.nodes).join("circle")
       |  .attr("r", 5).call(d3.drag()
       |    .on("start", (e, d) => { if (!e.active) sim.alphaTarget(.3).restart(); d.fx = d.x; d.fy = d.y; })
       |    .on("drag", (e, d) => { d.fx = e.x; d.fy = e.y; })
       |    .on("end", (e, d) => { if (!e.active) sim.alphaTarget(0); d.fx = null; d.fy = null; }));
       |node.append("title").text(d => d.label);
       |sim.on("tick", () => {
       |  link.attr("x1", d => d.source.x).attr("y1", d => d.source.y)
       |      .attr("x2", d => d.target.x).attr("y2", d => d.target.y);
       |  node.attr("cx", d => d.x).attr("cy", d => d.y);
       |});
       |</script></body></html>""".stripMargin
  }

  /** XML attribute-value escaping (the five predefined entities) for
    * the GEXF writers: ids/labels come from real data — author display
    * names contain `&`, quotes, and angle brackets in any real dump,
    * and an unescaped one emits malformed GEXF. */
  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("'", "&apos;")

  /** GEXF XML export (U6, reference `StaticNet.scala:451-465`) for
    * bounded (ego-net-sized) graphs: collects to the driver by design —
    * callers cap the net size, as the reference does. */
  def toGexf(vertices: DataFrame, edges: DataFrame): String = {
    val vs = vertices.select(col("id").cast("string"), col("label").cast("string"))
      .collect().map(r =>
        s"""      <node id="${xmlEscape(r.getString(0))}" label="${xmlEscape(r.getString(1))}" />""")
    val es = edges.select(col("src").cast("string"), col("dst").cast("string"),
        col("weight").cast("string"))
      .collect().zipWithIndex.map { case (r, i) =>
        s"""      <edge id="$i" source="${xmlEscape(r.getString(0))}" target="${xmlEscape(r.getString(1))}" weight="${r.getString(2)}" />"""
      }
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<gexf xmlns="http://www.gexf.net/1.2draft" version="1.2">
       |  <graph mode="static" defaultedgetype="undirected">
       |    <nodes>
       |${vs.mkString("\n")}
       |    </nodes>
       |    <edges>
       |${es.mkString("\n")}
       |    </edges>
       |  </graph>
       |</gexf>""".stripMargin
  }

  /** DYNAMIC GEXF export — the temporal twin of [[toGexf]], closing
    * the reference's dynamic-network loop: its per-year nested edge
    * map (`DynamicNet.scala:251` DLink) feeds a D3 layer with dynamic
    * attribute support (`jsNets.scala:607` `dynamicAttribute`), but
    * its own GEXF writer emits `mode="static"` only
    * (`jsNets.scala:83-96`). This writer takes the CANONICAL long form
    * instead — one (src, dst, yr, weight) row per active year, the
    * q40 temporal-edge shape — and renders GEXF 1.2 dynamics: a year
    * `y` is the interval `[y, y+1)`, contiguous active years merge
    * into one `<spell>`, and the per-year weights ride a dynamic edge
    * attribute as `<attvalue start end>` rows. Bounded nets only
    * (collects to the driver by design, same cap discipline as
    * [[toGexf]]). */
  def toGexfDynamic(vertices: DataFrame, temporalEdges: DataFrame): String = {
    val vs = vertices.select(col("id").cast("string"), col("label").cast("string"))
      .collect().map(r =>
        s"""      <node id="${xmlEscape(r.getString(0))}" label="${xmlEscape(r.getString(1))}" />""")
    val rows = temporalEdges.select(col("src").cast("long"),
        col("dst").cast("long"), col("yr").cast("int"),
        col("weight").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2, t._3))
    val es = rows.groupBy(t => (t._1, t._2)).toSeq.sortBy(_._1)
      .zipWithIndex.map { case (((src, dst), yrs), i) =>
        val sorted = yrs.sortBy(_._3)
        val atts = sorted.map { case (_, _, y, w) =>
          s"""          <attvalue for="0" value="$w" start="$y" end="${y + 1}" />"""
        }
        // merge consecutive years into [start, end) spells
        val spells = sorted.map(_._3).foldLeft(List.empty[(Int, Int)]) {
          case ((s0, e0) :: tail, y) if y == e0 => (s0, y + 1) :: tail
          case (acc, y) => (y, y + 1) :: acc
        }.reverse.map { case (s0, e0) =>
          s"""          <spell start="$s0" end="$e0" />"""
        }
        s"""      <edge id="$i" source="$src" target="$dst">
           |        <attvalues>
           |${atts.mkString("\n")}
           |        </attvalues>
           |        <spells>
           |${spells.mkString("\n")}
           |        </spells>
           |      </edge>""".stripMargin
      }
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<gexf xmlns="http://www.gexf.net/1.2draft" version="1.2">
       |  <graph mode="dynamic" timeformat="integer" defaultedgetype="undirected">
       |    <attributes class="edge" mode="dynamic">
       |      <attribute id="0" title="weight" type="long" />
       |    </attributes>
       |    <nodes>
       |${vs.mkString("\n")}
       |    </nodes>
       |    <edges>
       |${es.mkString("\n")}
       |    </edges>
       |  </graph>
       |</gexf>""".stripMargin
  }
}
