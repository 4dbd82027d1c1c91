package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Scale-behavior probe: runs the scale-critical operators (prefix
  * -filtered Jaccard join, sign-LSH ANN) on a base corpus and on a
  * larger one, and reports the work ratio vs the data ratio. The
  * operators are designed to grow ~linearly on organic data (sharded
  * growth: more documents, stable near-dup density); a superlinear
  * ratio here means a quadratic candidate explosion crept in.
  *
  * Usage: runMain graft.ScaleProbe [baseDir] [bigDir]
  * (bigDir defaults to /tmp/scale10 — see tools/make_scale10 note; the
  * probe skips silently if the dir is absent.)
  */
object ScaleProbe {

  /** Runs `f` under [[Telemetry.measure]] on the active session and
    * returns the settled tap with `f`'s result; a failure propagates. */
  private def tapped(f: => Long): (Telemetry.Tap, Long) = {
    var n = 0L
    val (tap, err) = Telemetry.measure(SparkSession.active) { n = f }
    err.foreach(throw _)
    (tap, n)
  }

  /** Wall seconds and result of `f`. */
  private def time(f: => Long): (Double, Long) = {
    val (tap, n) = tapped(f)
    (tap.wallS, n)
  }

  /** Wall seconds of `f` and the shuffle records its tasks read. */
  private def shuffled(f: => Long): (Double, Long) = {
    val (tap, _) = tapped(f)
    (tap.wallS, tap.tasks.map(_.shuffleRecordsRead).sum)
  }

  /** Wall seconds of `f` and the max/median of `metric` over the tasks
    * of its heaviest stage (largest `metric` total): the straggler
    * ratio; 0 if no task ran. */
  private def straggler(metric: Telemetry.TaskRow => Long)(
      f: => Long): (Double, Double) = {
    val (tap, _) = tapped(f)
    val byStage = tap.tasks.groupBy(_.stageId).values
    val ratio =
      if (byStage.isEmpty) 0.0
      else {
        val heavy = byStage.maxBy(_.map(metric).sum).map(metric).sorted
        heavy.last.toDouble / math.max(1L, heavy(heavy.length / 2))
      }
    (tap.wallS, ratio)
  }

  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--")).toSet
    val pos = args.filterNot(_.startsWith("--"))
    val base = pos.headOption.getOrElse("/root/testdata/sf0.1")
    val big = if (pos.length > 1) pos(1) else "/tmp/scale10"
    // fixed local[32]: the 32-way figures below and the README scale
    // notes are written around it, whatever the machine
    val spark = Session.local(32)

    // Probe selection (r17 ADVICE): each named probe runs only when its
    // flag is present OR no probe flag was given at all — so
    // `--personal-net` really does run alone (its scaladoc contract),
    // and a flagless run keeps the historical run-everything behavior.
    val probeFlags = Set("--dist-windows", "--personal-net")
    val selected = flags.intersect(probeFlags)
    def wants(f: String) = selected.isEmpty || selected.contains(f)
    if (wants("--dist-windows")) distWindowsProbe(spark, base)
    if (wants("--personal-net")) personalNetProbe(spark, base)
    if (selected.nonEmpty) { spark.stop(); return }

    def jaccard(dir: String): (Double, Long) = {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      time(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.4).count())
    }
    def ann(dir: String): (Double, Long) = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") % 20 === 0)
      time(Similarity.signLshTopK(emb, queries, "vec_id", "embedding", 5).count())
    }
    def neardup(dir: String): (Double, Long) = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      time(Similarity.cosinePairsLsh(emb, "vec_id", "embedding", 0.4).count())
    }
    def neardupIvf(dir: String): (Double, Long) = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      time(Similarity.cosinePairsIvf(emb, "vec_id", "embedding", 0.4).count())
    }

    // --- graph family (triangles / PageRank): runs on the fixtures
    // alone. The 10x corpus is 10 DISJOINT id-offset copies of the real
    // sf0.1 k-NN spine — degree structure (and so wedge fan-out) is
    // preserved exactly, triangles scale exactly 10x, so the honest
    // work ratio for these keyed-dataflow ops is ~10x wall or less
    // (fixed per-round scheduling amortizes over more data).
    {
      import graft.operators.Graph
      val li = spark.read.parquet(s"$base/lineitem.parquet")
      val m = li.select(col("l_orderkey"), col("l_suppkey")).distinct()
      val pairs = m.select(col("l_orderkey"), col("l_suppkey").as("s"))
        .join(m.select(col("l_orderkey"), col("l_suppkey").as("nbr")),
          Seq("l_orderkey"))
        .filter(col("s") =!= col("nbr"))
        .groupBy(col("s"), col("nbr")).agg(count(lit(1)).as("w"))
      val byStrength = org.apache.spark.sql.expressions.Window
        .partitionBy(col("s")).orderBy(col("w").desc, col("nbr"))
      val spine = pairs.withColumn("rn", row_number().over(byStrength))
        .filter(col("rn") <= 3)
        .select(least(col("s"), col("nbr")).as("a"),
          greatest(col("s"), col("nbr")).as("b")).distinct()
        .localCheckpoint()
      // per-copy offset derived from the ACTUAL max id: a hard-coded
      // stride would silently overlap copies on a larger fixture,
      // creating cross-copy edges that break the "peel depth
      // preserved" premise of the probe
      def idStride(e: DataFrame): Long =
        e.agg(greatest(max(col("a")), max(col("b"))).cast("long")).head.getLong(0) + 1L
      val spineStride = idStride(spine)
      val spine10 = (0L until 10L).map { k =>
        spine.select((col("a") + k * spineStride).as("a"),
          (col("b") + k * spineStride).as("b"))
      }.reduce(_ union _).localCheckpoint()
      def tri(e: DataFrame) = time(Graph.triangleCounts(e).count())
      def pr(e: DataFrame) =
        time(Graph.pageRankInt(e).agg(sum(col("rank_scaled"))).count())
      tri(spine); pr(spine) // codegen warmup, same methodology as below
      val (tb, _) = tri(spine); val (tB, nT) = tri(spine10)
      val (pb, _) = pr(spine); val (pB, _) = pr(spine10)
      println(f"[probe] triangles:   $tb%.1fs -> $tB%.1fs (${tB / tb}%.1fx, $nT verts, edges 10x)")
      println(f"[probe] pagerank:    $pb%.1fs -> $pB%.1fs (${pB / pb}%.1fx, edges 10x)")

      // iterative peel + directed walk (r6 operators) on the
      // triangle-rich weight>=6 substrate (the q99/q103 choice — the
      // k-NN spine is triangle-starved by construction); disjoint
      // copies preserve peel depth exactly, so rounds don't grow with
      // data and the honest ratio is ~linear or better
      val strong = pairs.filter(col("w") >= 6)
        .select(least(col("s"), col("nbr")).as("a"),
          greatest(col("s"), col("nbr")).as("b")).distinct()
        .localCheckpoint()
      val strongStride = idStride(strong)
      val strong10 = (0L until 10L).map { k =>
        strong.select((col("a") + k * strongStride).as("a"),
          (col("b") + k * strongStride).as("b"))
      }.reduce(_ union _).localCheckpoint()
      def truss(e: DataFrame) = time(Graph.kTruss(e, k = 4).count())
      // canonical a<b orientation as the directed graph: a real DAG
      // with genuine dangling vertices (locally-minimal ids)
      def dpr(e: DataFrame) = time(Graph.pageRankDirectedInt(
        e.select(col("a").as("src"), col("b").as("dst")))
        .agg(sum(col("rank_scaled"))).count())
      truss(strong); dpr(strong) // codegen warmup
      val (kb, _) = truss(strong); val (kB, nK) = truss(strong10)
      val (db2, _) = dpr(strong); val (dB2, _) = dpr(strong10)
      println(f"[probe] ktruss:      $kb%.1fs -> $kB%.1fs (${kB / kb}%.1fx, $nK core edges, edges 10x)")
      println(f"[probe] dir-pagerank:$db2%.1fs -> $dB2%.1fs (${dB2 / db2}%.1fx, edges 10x)")

      // k-core peel + HITS (the remaining r6 iterative ops): same
      // disjoint-copies protocol — peel depth / iteration count is
      // copy-invariant, so the honest ratio is ~linear
      def core(e: DataFrame) = time(Graph.kCore(e, k = 25).count())
      def hits(e: DataFrame) = time(Graph.hitsInt(
        e.select(col("a").as("src"), col("b").as("dst")))
        .agg(sum(col("hub"))).count())
      core(strong); hits(strong) // codegen warmup
      val (cb, _) = core(strong); val (cB, nC) = core(strong10)
      val (hb, _) = hits(strong); val (hB, _) = hits(strong10)
      println(f"[probe] kcore:       $cb%.1fs -> $cB%.1fs (${cB / cb}%.1fx, $nC core verts, edges 10x)")
      println(f"[probe] hits:        $hb%.1fs -> $hB%.1fs (${hB / hb}%.1fx, edges 10x)")

      // r7 bounded-round walks: fixed rounds make the honest ratio the
      // per-round data growth alone (disjoint copies: sources replicate
      // per copy for msbfs via the per-copy min vertices)
      def sssp(e: DataFrame) = {
        val w = e.withColumn("w", lit(1L) + pmod(col("a") + col("b"), lit(7L)))
        val src = w.agg(least(min(col("a")), min(col("b")))).head.getLong(0)
        time(Graph.shortestPathsInt(w, src, rounds = 4).count())
      }
      def msbfs(e: DataFrame) = {
        val srcs = e.select(col("a").as("v"))
          .union(e.select(col("b").as("v")))
          .distinct().orderBy(col("v")).limit(3)
          .collect().map(_.getLong(0)).toSeq
        time(Graph.multiSourceBfs(e, srcs, depth = 3).count())
      }
      sssp(strong); msbfs(strong) // codegen warmup
      val (pb2, _) = sssp(strong); val (pB2, _) = sssp(strong10)
      val (mb, _) = msbfs(strong); val (mB, _) = msbfs(strong10)
      println(f"[probe] sssp:        $pb2%.1fs -> $pB2%.1fs (${pB2 / pb2}%.1fx, edges 10x)")
      println(f"[probe] msbfs:       $mb%.1fs -> $mB%.1fs (${mB / mb}%.1fx, edges 10x)")

      // r12 SCC on the DIRECTED k-NN pick graph (one giant bow-tie
      // core per copy — the q187 substrate shape). The base run is the
      // production single-pivot fast path; the 10-copy run is the
      // SHARDED regime multi-pivot exists for: 16 degree-ranked pivots
      // seed every copy's giant SCC in ONE tagged BFS (same round
      // count as one copy — diameter is copy-invariant), wave dedupe
      // collapses same-SCC extras, and the coloring only ever sees
      // satellites. Honest ratio: ~linear wall at 10x edges.
      val byS = org.apache.spark.sql.expressions.Window
        .partitionBy(col("s")).orderBy(col("w").desc, col("nbr"))
      val dknn = pairs.withColumn("rn", row_number().over(byS))
        .filter(col("rn") <= 3)
        .select(col("s").as("src"), col("nbr").as("dst")).localCheckpoint()
      val dStride = dknn.agg(greatest(max(col("src")), max(col("dst")))
        .cast("long")).head.getLong(0) + 1L
      val dknn10 = (0L until 10L).map { k =>
        dknn.select((col("src") + k * dStride).as("src"),
          (col("dst") + k * dStride).as("dst"))
      }.reduce(_ union _).localCheckpoint()
      def scc(e: DataFrame, p: Int) =
        time(Graph.stronglyConnectedComponents(e, "src", "dst", 50, 100,
          pivotFastPath = true, numPivots = p).count())
      scc(dknn, 1) // codegen warmup
      val (sb, _) = scc(dknn, 1); val (sB, nS) = scc(dknn10, 16)
      println(f"[probe] scc:         $sb%.1fs -> $sB%.1fs (${sB / sb}%.1fx, $nS verts, edges 10x, 16 pivots)")
    }

    // --- skew survival (q107's substrate): one key holds ~20% of
    // lineitem rows; with broadcast and AQE skew handling disabled the
    // unsalted shuffle join runs its hot key in ONE straggler task,
    // the salted form spreads it over 32. Recorded per TASK, not just
    // wall: at local[32] the reduce-side join of this shape is cheap
    // enough that wall time is scan-dominated and nearly identical —
    // the straggler shows up as the max/median TASK-duration ratio,
    // which is exactly what turns into a stuck executor when reducers
    // have real work (wide rows, spill, network) on a cluster. (AQE's
    // runtime skew split is the default remedy — this measures the
    // explicit rewrite used when the hot key is known in advance.)
    {
      import graft.operators.Joins
      val conf = spark.conf
      val saveBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
      val saveSkew = conf.get("spark.sql.adaptive.skewJoin.enabled")
      val saveCoalesce =
        conf.get("spark.sql.adaptive.coalescePartitions.enabled")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      // coalescing merges the COLD partitions up to the advisory size,
      // hiding the hot one at probe scale; at 100 TB the hot key
      // exceeds any coalescing target, so off = the honest regime
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      try {
        // x16 amplification: at raw sf0.1 the hot key is only ~120k
        // rows and every task finishes in milliseconds — no straggler
        // to observe. At ~10M rows the hot partition carries ~22% of
        // the join while the other 31 carry ~2.5% each, which is the
        // regime the salt exists for.
        val li = spark.read.parquet(s"$base/lineitem.parquet")
          .filter(col("l_orderkey") >= 0)
          .select(when(col("l_orderkey") % 5 === 0, lit(1L))
            .otherwise(col("l_suppkey")).as("k"), col("l_quantity"))
          .withColumn("rep", explode(sequence(lit(0), lit(15))))
          .localCheckpoint()
        val sup = spark.read.parquet(s"$base/supplier.parquet")
          .select(col("s_suppkey").as("k"), col("s_nationkey"))
        def agg(j: DataFrame) = j.groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
        // the straggler is the one reduce task of the join stage (the
        // stage reading the most shuffle records) that receives the
        // hot key's rows — max/median shuffle-read within that stage
        // is the skew itself, deterministic and free of timing noise.
        // Records, not bytes: the hot partition is a single repeated
        // key and lz4-compresses far better than mixed partitions,
        // which deflates a byte-based ratio.
        def unsalted() =
          straggler(_.shuffleRecordsRead)(agg(li.join(sup, "k")).count())
        def salted() = straggler(_.shuffleRecordsRead)(
          agg(Joins.saltedJoin(li, sup, "k", 32)).count())
        unsalted(); salted() // codegen warmup
        val (ub, us) = unsalted(); val (sb, ss) = salted()
        println(f"[probe] skew-join:   unsalted reduce-read max/median $us%.1fx vs salted $ss%.1fx (wall $ub%.1fs vs $sb%.1fs, hot key ~20%%)")
      } finally {
        conf.set("spark.sql.autoBroadcastJoinThreshold", saveBroadcast)
        conf.set("spark.sql.adaptive.skewJoin.enabled", saveSkew)
        conf.set("spark.sql.adaptive.coalescePartitions.enabled",
          saveCoalesce)
      }
    }

    // --- entity resolution end-to-end (q93's resolveEntities with the
    // O(log n) star-contraction path): fixtures-only like the graph
    // family. The 10x corpus is 10 id-offset copies with a per-copy
    // word suffix ("w" -> "w_k"): within-copy shingle structure — and
    // so near-dup density and component shapes — is preserved exactly,
    // while cross-copy Jaccard drops to 0 (no fake 10-way duplicate
    // groups from identical text). Honest growth for the PPJoin
    // blocking + keyed CC pipeline is therefore ~linear.
    {
      val docs = spark.read.parquet(s"$base/documents.parquet")
        .select(col("doc_id"), col("text")).localCheckpoint()
      val docStride = // same max-id-derived stride as the graph family
        docs.agg(max(col("doc_id")).cast("long")).head.getLong(0) + 1L
      val docs10 = (0L until 10L).map { k =>
        docs.select((col("doc_id") + k * docStride).as("doc_id"),
          concat_ws(" ", transform(split(col("text"), " "),
            w => concat(w, lit(s"_$k")))).as("text"))
      }.reduce(_ union _).localCheckpoint()
      def er(d: DataFrame) = time(
        Dedup.resolveEntities(d, "doc_id", "text", 0.8).count())
      er(docs); er(docs10) // codegen warmup at both sizes (see below)
      val (eb, _) = er(docs); val (eB, nE) = er(docs10)
      println(f"[probe] entity-res:  $eb%.1fs -> $eB%.1fs (${eB / eb}%.1fx, $nE docs grouped, data 10x)")
    }

    // --- prefix-sum family (q86/q111/q113/q117/q118 ride
    // Relational.globalCumsum): two phases — a range shuffle + a
    // per-partition window with broadcast offsets — both linear in
    // rows with the partition count now derived from
    // spark.sql.shuffle.partitions. Fixtures-only: 10 unioned copies
    // of the value column multiply rows exactly 10x (ranks only need
    // the multiset), so the honest ratio for the whole family is ~10x
    // wall or less. A superlinear ratio here means a single-reducer
    // stage crept back in.
    {
      import graft.operators.{Dedup, Relational}
      val li = spark.read.parquet(s"$base/lineitem.parquet")
        .select(col("l_extendedprice").as("v")).localCheckpoint()
      val li10 = (0 until 10).map(_ => li).reduce(_ union _).localCheckpoint()
      def ranked(d: DataFrame) = time(
        Relational.globalCumsum(d, Seq(col("v")), lit(1L), "rnk")
          .agg(max(col("rnk"))).count())
      def quant(d: DataFrame) = time(
        Relational.exactQuantiles(d, col("v"), Seq(0.25, 0.5, 0.75)).count())
      ranked(li); quant(li) // codegen warmup
      val (rb, _) = ranked(li); val (rB, _) = ranked(li10)
      val (qb, _) = quant(li); val (qB, _) = quant(li10)
      println(f"[probe] cumsum-rank: $rb%.1fs -> $rB%.1fs (${rB / rb}%.1fx, rows 10x)")
      println(f"[probe] quantiles:   $qb%.1fs -> $qB%.1fs (${qB / qb}%.1fx, rows 10x)")
      // sorted-neighborhood blocking (q111): the globalCumsum rank plus
      // ONE equi-join on shifted ranks — stays n·window candidates
      // however keys cluster. Disjoint id-offset copies with a per-copy
      // key suffix preserve within-copy ordering exactly.
      val cust = spark.read.parquet(s"$base/customer.parquet")
        .select(col("c_custkey"), col("c_name")).localCheckpoint()
      val custStride =
        cust.agg(max(col("c_custkey")).cast("long")).head.getLong(0) + 1L
      val cust10 = (0L until 10L).map { k =>
        cust.select((col("c_custkey") + k * custStride).as("c_custkey"),
          concat(col("c_name"), lit(s"#$k")).as("c_name"))
      }.reduce(_ union _).localCheckpoint()
      def snb(d: DataFrame) = time(
        Dedup.sortedNeighborhoodPairs(d, "c_custkey", "c_name", window = 5)
          .count())
      snb(cust) // codegen warmup
      val (sb2, _) = snb(cust); val (sB2, nS) = snb(cust10)
      println(f"[probe] sorted-nbhd: $sb2%.1fs -> $sB2%.1fs (${sB2 / sb2}%.1fx, $nS pairs, rows 10x)")
    }

    // --- Bloom semi-join reduction (q121): with broadcast disabled
    // (the 100 TB regime — dim too big for a hash relation), the plain
    // join SHUFFLES the whole fact side; the Bloom pre-filter drops
    // non-matching fact rows before the exchange, so fact shuffle
    // records fall to ~dim-selectivity × fact (+ the tiny filter-build
    // shuffle). Records via the task listener, not wall: at probe
    // scale the join is scan-dominated, but shuffle volume is the
    // quantity that buys back network + spill on a cluster.
    {
      import graft.operators.Joins
      val conf = spark.conf
      val saveBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val li = spark.read.parquet(s"$base/lineitem.parquet")
          .select(col("l_orderkey"), col("l_extendedprice"))
          .localCheckpoint()
        val dim = spark.read.parquet(s"$base/orders.parquet")
          .filter(col("o_totalprice") > 450000.0) // ~10% of orders
          .select(col("o_orderkey"), col("o_orderpriority"))
          .localCheckpoint()
        def plain() = shuffled(
          li.join(dim, col("l_orderkey") === col("o_orderkey")).count())
        def bloomed() = shuffled(
          Joins.bloomPrefilterJoin(li, "l_orderkey", dim, "o_orderkey")
            .count())
        plain(); bloomed() // codegen warmup
        val (pw, pr) = plain(); val (bw, br) = bloomed()
        println(f"[probe] bloom-join:  plain shuffle-read $pr%d rec vs " +
          f"bloomed $br%d (${br.toDouble / math.max(1L, pr)}%.2fx, wall " +
          f"$pw%.1fs vs $bw%.1fs, dim ~10%% of orders)")
      } finally
        conf.set("spark.sql.autoBroadcastJoinThreshold", saveBroadcast)
    }

    // --- q29 multi-probe recall@cost (sign-LSH ANN): probes = # of
    // Hamming-1 band-key flips probed on the QUERY side (0 = exact
    // bucket only). Recall vs exact brute-force top-k on the same
    // fixtures; the operator default is chosen from this table.
    {
      val emb = spark.read.parquet(s"$base/embeddings.parquet")
        .localCheckpoint()
      val qs = emb.filter(col("vec_id") % 20 === 0).localCheckpoint()
      def pairs(df: DataFrame): Set[(Long, Long)] =
        df.select(col("q_id"), col("n_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exactTop = pairs(
        Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 5))
      Seq(0, 2, 4).foreach { p =>
        def run() = time(Similarity.signLshTopK(
          emb, qs, "vec_id", "embedding", 5, probes = p).count())
        run() // codegen warmup
        val (w, _) = run()
        val got = pairs(Similarity.signLshTopK(
          emb, qs, "vec_id", "embedding", 5, probes = p))
        val rec = (got & exactTop).size.toDouble / exactTop.size
        println(f"[probe] ann-probes:  probes=$p wall $w%.2fs recall $rec%.3f")
      }
    }

    // --- BPE learning (q132): rounds iterate on the VOCABULARY
    // histogram, so 10x corpus (same vocabulary — plain unioned
    // copies; organic growth adds vocab only at the Heaps'-law
    // margin) costs one extra histogram scan, not 10x per round.
    {
      import graft.functions.Bpe
      val docs = spark.read.parquet(s"$base/documents.parquet")
        .filter(col("doc_id") >= 0).select(col("text")).localCheckpoint()
      val docs10 = (0 until 10).map(_ => docs).reduce(_ union _)
        .localCheckpoint()
      def learn(d: DataFrame) =
        time(Bpe.learnMerges(d, col("text"), 12).size.toLong)
      learn(docs) // codegen warmup
      val (bb, _) = learn(docs); val (bB, _) = learn(docs10)
      println(f"[probe] bpe-learn:   $bb%.1fs -> $bB%.1fs (${bB / bb}%.1fx, rows 10x, vocab shared)")
    }

    // --- sketch families (q122 Count-Min / q133 HLL / q120 q-digest):
    // the scale claim is cardinality-free SHUFFLE state — cells /
    // registers / partial buffers per map partition, independent of
    // row count. Partition count held at 32 on both sizes (the
    // fixed-executor regime), so the honest shuffle-read-records
    // ratio at 10x rows is ~1x. CDC snapshot (q129) is the contrast:
    // one keyed exchange that legitimately moves ~rows, so its WALL
    // (not its state) should scale ~linearly.
    {
      import graft.operators.{Cdc, Sketches}
      import graft.functions.QDigestAgg
      val li = spark.read.parquet(s"$base/lineitem.parquet")
        .select(col("l_suppkey").cast("string").as("k"),
          (col("l_extendedprice") * 100).cast("long").as("v"))
        .repartition(32).localCheckpoint()
      val li10 = (0 until 10).map(_ => li).reduce(_ union _)
        .repartition(32).localCheckpoint()
      def cm(d: DataFrame) = shuffled(
        Sketches.countMinCells(d, col("k"), Seq(31L, 37L, 41L), 256)
          .agg(sum(col("c"))).count())
      def hll(d: DataFrame) = shuffled(
        Sketches.hllRegisters(
            d.withColumn("g", pmod(col("v"), lit(5))), Seq("g"), col("k"))
          .agg(sum(col("reg"))).count())
      def qd(d: DataFrame) = shuffled(
        d.agg(QDigestAgg(24, 4096, Seq(0.25, 0.5, 0.75))(col("v")))
          .count())
      // heavy hitters: a planted ~20% key over the supplier keyspace —
      // shuffle moves only candidates (≤ s·partitions) + the recount
      // of the few survivors, never the keyspace
      def hh(d: DataFrame) = shuffled(
        Sketches.heavyHitters(
          d.select(when(pmod(col("v"), lit(5)) === 0, lit("hot"))
            .otherwise(col("k")).as("k")),
          col("k"), 1L, 10L, 15).count())
      Seq(("countmin", cm _), ("hll-reg", hll _), ("q-digest", qd _),
          ("mg-heavyhit", hh _))
        .foreach { case (nm, f) =>
          f(li) // codegen warmup
          val (wb, rb2) = f(li); val (wB, rB2) = f(li10)
          println(f"[probe] $nm%-12s shuffle-read $rb2%d -> $rB2%d rec " +
            f"(${rB2.toDouble / math.max(1L, rb2)}%.2fx at rows 10x; " +
            f"wall $wb%.1fs -> $wB%.1fs)")
        }
      // CDC snapshot: same derived changelog shape as q129, on 10
      // id-offset copies of orders — keyed exchange moves ~rows
      val ord = spark.read.parquet(s"$base/orders.parquet")
        .filter(col("o_orderkey") >= 0).localCheckpoint()
      val stride = ord.agg(max(col("o_orderkey")).cast("long"))
        .head.getLong(0) + 1L
      val ord10 = (0L until 10L).map { c =>
        ord.withColumn("o_orderkey", col("o_orderkey") + c * stride)
      }.reduce(_ unionByName _).localCheckpoint()
      def cdc(b: DataFrame) = time {
        val upd = b.filter(col("o_orderkey") % 7 === 0)
          .withColumn("seq", lit(1L)).withColumn("op", lit("U"))
        val dels = b.filter(col("o_orderkey") % 11 === 0)
          .withColumn("seq", lit(2L)).withColumn("op", lit("D"))
        Cdc.snapshot(b, upd.unionByName(dels),
          Seq("o_orderkey"), "seq", "op").count()
      }
      cdc(ord) // codegen warmup
      val (cb2, _) = cdc(ord); val (cB2, _) = cdc(ord10)
      println(f"[probe] cdc-snap:    $cb2%.1fs -> $cB2%.1fs (${cB2 / cb2}%.1fx, rows 10x)")
    }

    // --- r9/r10 family: sequence packing (q139), grouped heavy
    // hitters (q140), semantic dedup (q141), personalized PageRank
    // (q143), span dedup (q144), core decomposition (q145).
    // (q142 landmark closeness = the msbfs probe + one aggregate —
    // covered above.)
    {
      import graft.operators.{Graph, Relational, Sketches}
      // q139 packing arithmetic on a precomputed (doc_id, n_tokens)
      // relation (the BPE count itself is the bpe-learn probe): the
      // globalCumsum rank + explode-to-sequences span math. 10
      // id-offset copies multiply rows exactly; honest ratio ~linear.
      val toks = spark.read.parquet(s"$base/documents.parquet")
        .filter(col("doc_id") >= 0)
        .select(col("doc_id"),
          (length(col("text")) / 5 + 1).cast("long").as("n_tokens"))
        .localCheckpoint()
      val tokStride =
        toks.agg(max(col("doc_id")).cast("long")).head.getLong(0) + 1L
      val toks10 = (0L until 10L).map { k =>
        toks.select((col("doc_id") + k * tokStride).as("doc_id"),
          col("n_tokens"))
      }.reduce(_ union _).localCheckpoint()
      def pack(d: DataFrame) = time(
        Relational.globalCumsum(d, Seq(col("doc_id")), col("n_tokens"), "cum")
          .select(col("doc_id"), col("n_tokens"),
            (col("cum") - col("n_tokens")).as("st"), col("cum"))
          .select(explode(sequence(
            call_function("div", col("st"), lit(512L)),
            call_function("div", col("cum") - 1, lit(512L)))).as("seq_id"))
          .groupBy(col("seq_id")).count().count())
      pack(toks) // codegen warmup
      val (pk, _) = pack(toks); val (pK, nPk) = pack(toks10)
      println(f"[probe] seq-pack:    $pk%.1fs -> $pK%.1fs (${pK / pk}%.1fx, $nPk seqs, rows 10x)")

      // q140 grouped heavy hitters: shuffle-read records at fixed 32
      // partitions — per-group candidate state (≤ s·partitions·groups),
      // never the keyspace; honest records ratio ~1x at 10x rows
      val li = spark.read.parquet(s"$base/lineitem.parquet")
        .select(pmod(col("l_orderkey"), lit(4)).cast("string").as("g"),
          when(col("l_suppkey") % 5 === 0, lit("hot"))
            .otherwise(col("l_suppkey").cast("string")).as("k"))
        .repartition(32).localCheckpoint()
      val li10 = (0 until 10).map(_ => li).reduce(_ union _)
        .repartition(32).localCheckpoint()
      def hhg(d: DataFrame) = shuffled(
        Sketches.heavyHittersByGroup(d, col("g"), col("k"), 1L, 10L, 15)
          .count())
      hhg(li) // codegen warmup
      val (gb, gr) = hhg(li); val (gB, gR) = hhg(li10)
      println(f"[probe] hh-by-group: shuffle-read $gr%d -> $gR%d rec " +
        f"(${gR.toDouble / math.max(1L, gr)}%.2fx at rows 10x; " +
        f"wall $gb%.1fs -> $gB%.1fs)")

      // q141 semantic dedup end-to-end (IVF pairs + star CC + keeper):
      // 10 copies with per-copy RADEMACHER sign flips — cos(x⊙s, y⊙s)
      // = cos(x, y), so within-copy near-dup structure is preserved
      // EXACTLY (norms and dot products unchanged), while cross-copy
      // cosines concentrate near 0 (random-sign dot over 64 dims) —
      // no fake 10-way components. Cells are data-adaptive, so cell
      // occupancy stays constant; honest ratio ~linear.
      val emb = spark.read.parquet(s"$base/embeddings.parquet")
        .select(col("vec_id"), col("embedding")).localCheckpoint()
      val embStride =
        emb.agg(max(col("vec_id")).cast("long")).head.getLong(0) + 1L
      val emb10 = (0L until 10L).map { k =>
        emb.select((col("vec_id") + k * embStride).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(pmod(i * 2654435761L + k * 40503L, lit(97L)) < 48,
              -x).otherwise(x)).as("embedding"))
      }.reduce(_ union _).localCheckpoint()
      def sd(d: DataFrame) = time(
        Similarity.semanticDedup(d, "vec_id", "embedding", 0.4)
          .filter(!col("keep")).count())
      sd(emb) // codegen warmup
      val (sdb, _) = sd(emb); val (sdB, nSd) = sd(emb10)
      println(f"[probe] semdedup:    $sdb%.1fs -> $sdB%.1fs (${sdB / sdb}%.1fx, $nSd dropped, rows 10x)")

      // q261 decontamination SCREEN against a persisted IVF index:
      // FIXED eval set (the base corpus's %20 slice), corpus 10x.
      // Cells held at 16, so per-cell occupancy — and with it the
      // candidate fan-out of the probed cells — grows ~10x; the wall
      // is dominated by the candidate re-rank, honest ratio ~linear.
      // Candidate fan-out is recorded alongside the wall so a probe
      // regression can be attributed (fan-out jump vs per-candidate
      // cost jump).
      var deconCand = 0L
      def decon(corpus: DataFrame): Long = {
        val dirPath =
          java.nio.file.Files.createTempDirectory("decon_probe")
        try {
          val dir = dirPath.toString
          Similarity.buildIvfIndex(corpus, "vec_id", "embedding", dir,
            cells = 16, lloydIters = 2)
          val q = Similarity.vectors(emb.filter(col("vec_id") % 20 === 0),
            "vec_id", "embedding", Similarity.Query)
          val cand = Similarity.ivfProbe(q, Similarity.ivfCentroids(spark, dir),
            Similarity.ivfPostings(spark, dir), 4, keep = lit(true))
          deconCand = cand.count()
          val screened = Similarity.bestPerQuery(Similarity.rerank(cand,
              Similarity.vectors(corpus, "vec_id", "embedding"), q,
              Similarity.cosScore), "cos", 1).count()
          Checkpoints.releaseAll(spark)
          screened
        } finally {
          val w = java.nio.file.Files.walk(dirPath)
          try w.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
          finally w.close()
        }
      }
      decon(emb) // codegen warmup
      val (dcb, _) = time(decon(emb)); val candBase = deconCand
      val (dcB, nDc) = time(decon(emb10))
      println(f"[probe] decon-screen:$dcb%.1fs -> $dcB%.1fs " +
        f"(${dcB / dcb}%.1fx, $nDc evals screened, fan-out " +
        f"$candBase%d -> $deconCand%d cand, corpus 10x)")

      // q275 materialized-aggregate maintenance: base corpus 10x
      // (count-multiplying disjoint copies — the census group count is
      // CALENDAR-bounded, so it stays fixed), delta FIXED. The serve
      // path aggregates only the delta and folds it into the persisted
      // base at census grain (≤35 rows), so the maintenance wall
      // should hold ~flat while the base build — the full recompute a
      // naive pipeline would re-run — scales with the corpus.
      {
        val o = spark.read.parquet(s"$base/orders.parquet")
          .select(col("o_orderdate"), col("o_orderpriority"),
            col("o_totalprice"))
        val cut = "1997-01-01"
        val baseSide = o.filter(col("o_orderdate") < lit(cut))
          .localCheckpoint()
        val delta = o.filter(col("o_orderdate") >= lit(cut))
          .localCheckpoint()
        val baseSide10 = baseSide
          .withColumn("rep", explode(sequence(lit(0), lit(9))))
          .drop("rep").localCheckpoint()
        def census(df: DataFrame): DataFrame = df.groupBy(
            year(col("o_orderdate")).cast("long").as("o_year"),
            col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum((graft.queries.dec(col("o_totalprice")) * 100)
              .cast("long")).as("revenue_cents"))
        def run(baseDf: DataFrame): (Double, Double, Long) = {
          val dirPath =
            java.nio.file.Files.createTempDirectory("aggmaint_probe")
          try {
            val dir = dirPath.toString
            val (bt, _) = time {
              census(baseDf).write.parquet(s"$dir/base"); 1L
            }
            val (st, n) = time {
              census(delta)
                .unionByName(spark.read.parquet(s"$dir/base"))
                .groupBy(col("o_year"), col("o_orderpriority"))
                .agg(sum(col("n_orders")).as("n_orders"),
                  sum(col("revenue_cents")).as("revenue_cents"))
                .count()
            }
            (bt, st, n)
          } finally {
            val w = java.nio.file.Files.walk(dirPath)
            try w.sorted(java.util.Comparator.reverseOrder())
              .forEach(p => java.nio.file.Files.deleteIfExists(p))
            finally w.close()
          }
        }
        run(baseSide) // codegen warmup
        val (bb, sb, _) = run(baseSide)
        val (bB, sB, nG) = run(baseSide10)
        println(f"[probe] agg-maint:  serve $sb%.1fs -> $sB%.1fs " +
          f"(${sB / sb}%.1fx, base build $bb%.1fs -> $bB%.1fs " +
          f"(${bB / bb}%.1fx), $nG groups, base 10x delta fixed)")
      }


      // q143 personalized PageRank + q145 core decomposition on the
      // weight>=6 substrate (disjoint copies: fixed rounds / copy-
      // invariant propagation depth → honest ratio ~linear)
      val liRaw = spark.read.parquet(s"$base/lineitem.parquet")
      val m = liRaw.select(col("l_orderkey"), col("l_suppkey")).distinct()
      val strong = m.select(col("l_orderkey"), col("l_suppkey").as("s"))
        .join(m.select(col("l_orderkey"), col("l_suppkey").as("nbr")),
          Seq("l_orderkey"))
        .filter(col("s") =!= col("nbr"))
        .groupBy(col("s"), col("nbr")).agg(count(lit(1)).as("w"))
        .filter(col("w") >= 6)
        .select(least(col("s"), col("nbr")).as("a"),
          greatest(col("s"), col("nbr")).as("b")).distinct()
        .localCheckpoint()
      val strongStride =
        strong.agg(greatest(max(col("a")), max(col("b"))).cast("long"))
          .head.getLong(0) + 1L
      val strong10 = (0L until 10L).map { k =>
        strong.select((col("a") + k * strongStride).as("a"),
          (col("b") + k * strongStride).as("b"))
      }.reduce(_ union _).localCheckpoint()
      def ppr(e: DataFrame) = {
        val de = e.select(col("a").as("src"), col("b").as("dst"))
        val seeds = de.select(col("src").as("v"))
          .union(de.select(col("dst").as("v")))
          .distinct().orderBy(col("v")).limit(3)
          .collect().map(_.getLong(0)).toSeq
        time(Graph.pageRankPersonalizedInt(de, seeds)
          .agg(sum(col("rank_scaled"))).count())
      }
      def corenum(e: DataFrame) =
        time(Graph.coreNumbers(e).agg(max(col("core"))).count())
      ppr(strong); corenum(strong) // codegen warmup
      val (rb, _) = ppr(strong); val (rB, _) = ppr(strong10)
      val (nb, _) = corenum(strong); val (nB, _) = corenum(strong10)
      println(f"[probe] pers-pr:     $rb%.1fs -> $rB%.1fs (${rB / rb}%.1fx, edges 10x)")
      println(f"[probe] core-nums:   $nb%.1fs -> $nB%.1fs (${nB / nb}%.1fx, edges 10x)")

      // q144 span dedup: the entity-res per-copy word-suffix protocol
      // (within-copy duplicated spans preserved, cross-copy shingle
      // equality broken) — honest ratio ~linear
      val docs = spark.read.parquet(s"$base/documents.parquet")
        .select(col("doc_id"), col("text")).localCheckpoint()
      val docStride =
        docs.agg(max(col("doc_id")).cast("long")).head.getLong(0) + 1L
      val docs10 = (0L until 10L).map { k =>
        docs.select((col("doc_id") + k * docStride).as("doc_id"),
          concat_ws(" ", transform(split(col("text"), " "),
            w => concat(w, lit(s"_$k")))).as("text"))
      }.reduce(_ union _).localCheckpoint()
      def spans(d: DataFrame) = time(
        Dedup.duplicateSpans(d, "doc_id", "text", 8).count())
      spans(docs) // codegen warmup
      val (vb, _) = spans(docs); val (vB, nV) = spans(docs10)
      println(f"[probe] span-dedup:  $vb%.1fs -> $vB%.1fs (${vB / vb}%.1fx, $nV spans, rows 10x)")

      // r10 additions — stress centrality (sources PER COPY so the
      // sources x reach state grows with the data, the honest scale
      // dimension) and random walks (every vertex starts walks) on the
      // strong substrate; disjoint copies preserve BFS depth and
      // degree structure, so both are ~linear when keyed correctly
      val baseSeeds = strong.select(col("a").as("v"))
        .union(strong.select(col("b").as("v")))
        .distinct().orderBy(col("v")).limit(3)
        .collect().map(_.getLong(0)).toSeq
      val seeds10 = (0L until 10L).flatMap(k =>
        baseSeeds.map(_ + k * strongStride))
      def stress(e: DataFrame, seeds: Seq[Long]) =
        time(Graph.stressCentrality(e, seeds, 3)
          .agg(sum(col("stress"))).count())
      def walks(e: DataFrame) = time(Graph.randomWalks(e, 2, 4).count())
      stress(strong, baseSeeds); walks(strong) // codegen warmup
      val (stb, _) = stress(strong, baseSeeds)
      val (stB, _) = stress(strong10, seeds10)
      val (wkb, _) = walks(strong); val (wkB, nW) = walks(strong10)
      println(f"[probe] stress:      $stb%.1fs -> $stB%.1fs (${stB / stb}%.1fx, sources+edges 10x)")
      println(f"[probe] walks:       $wkb%.1fs -> $wkB%.1fs (${wkB / wkb}%.1fx, $nW rows, edges 10x)")

      // q153 KMV pipeline on the suffixed 10x corpus with the SAME
      // source set: per-source distinct shingles grow 10x (the sketch
      // build, ~linear) while the pair-estimate stage reads only the
      // k-row sketches (scale-invariant by construction)
      val docsS = spark.read.parquet(s"$base/documents.parquet")
        .select(col("doc_id"), col("source"), col("text")).localCheckpoint()
      val docsS10 = (0L until 10L).map { k =>
        docsS.select((col("doc_id") + k * docStride).as("doc_id"),
          col("source"),
          concat_ws(" ", transform(split(col("text"), " "),
            w => concat(w, lit(s"_$k")))).as("text"))
      }.reduce(_ union _).localCheckpoint()
      def kmvOps(d: DataFrame) = {
        val srcHash = Dedup.docShingles(d, "doc_id", "text", 5)
          .join(d.select(col("doc_id"), col("source")), "doc_id")
          .select(col("source"),
            graft.operators.Sketches.mixedStringHash(col("sh")).as("h"))
        val sk = graft.operators.Sketches.kmvMinHashes(
          srcHash, "source", col("h"), 128)
        time(graft.operators.Sketches.kmvPairEstimates(sk, "source", 128)
          .count())
      }
      kmvOps(docsS) // codegen warmup
      val (kvb, _) = kmvOps(docsS); val (kvB, _) = kmvOps(docsS10)
      println(f"[probe] kmv-ops:     $kvb%.1fs -> $kvB%.1fs (${kvB / kvb}%.1fx, rows 10x, pair grid fixed)")

      // r10b additions — cdc chunking (q166, the span-dedup word-
      // suffix protocol: within-copy chunk duplication preserved,
      // cross-copy chunk equality broken), greedy coverage (q170,
      // fixed k=5 rounds → rounds-driven cost), and rolling 7-day
      // actives (q171) on a user-id-offset 10x event copy
      def cdcP(d: DataFrame) = time(
        Dedup.cdcChunks(d, "doc_id", "text", 16, 4).count())
      cdcP(docs) // codegen warmup
      val (cdb, _) = cdcP(docs); val (cdB, nCd) = cdcP(docs10)
      println(f"[probe] cdc-chunks:  $cdb%.1fs -> $cdB%.1fs (${cdB / cdb}%.1fx, $nCd dup groups, rows 10x)")
      def coverP(d: DataFrame) = time(
        Dedup.greedyCoverage(d, "doc_id", "text", 5).count())
      coverP(docs) // codegen warmup
      val (gvb, _) = coverP(docs); val (gvB, _) = coverP(docs10)
      println(f"[probe] coverage:    $gvb%.1fs -> $gvB%.1fs (${gvB / gvb}%.1fx, k=5 rounds, rows 10x)")
      val ev = spark.read.parquet(s"$base/events.parquet")
        .filter(col("user_id").isNotNull && col("user_id") >= 0)
        .select(col("user_id"), col("ts")).localCheckpoint()
      val uStride =
        ev.agg(max(col("user_id")).cast("long")).head.getLong(0) + 1L
      val ev10 = (0L until 10L).map(k =>
        ev.select((col("user_id") + k * uStride).as("user_id"), col("ts")))
        .reduce(_ union _).localCheckpoint()
      def activesP(d: DataFrame) = {
        val day = call_function("div",
          unix_timestamp(col("ts")), lit(86400L))
        val ud = d.select(col("user_id"), day.as("day")).distinct()
          .localCheckpoint()
        val days = ud.select(col("day")).distinct()
        time(ud.select(col("user_id"),
            explode(sequence(col("day"), col("day") + 6)).as("day"))
          .join(days, "day").groupBy(col("day"))
          .agg(countDistinct(col("user_id"))).count())
      }
      activesP(ev) // codegen warmup
      val (rab, _) = activesP(ev); val (raB, _) = activesP(ev10)
      println(f"[probe] roll-active: $rab%.1fs -> $raB%.1fs (${raB / rab}%.1fx, users 10x)")

      // r11 additions — indexed BM25 serving (q175), quantile
      // normalization (q184), and the q186 parse census.
      //
      // bm25-serve: the build/serve split's scale claim is that a
      // query reads the PROBED TERMS' postings, never the corpus —
      // measured two ways: the wall ratio of the serve at 10x corpus
      // (postings of the probed terms grow 10x, so ~linear in THEIR
      // postings), and the serve's file-input bytes as a fraction of
      // the on-disk postings, which must stay well below 1 at BOTH
      // sizes (row-group statistics push the term IN-filter down; a
      // fraction near 1 would mean the serve scans the whole index).
      // Id-offset copies with UNCHANGED text: per-term postings grow
      // with the corpus, the honest serving dimension.
      val docsId10 = (0L until 10L).map(k =>
        docs.select((col("doc_id") + k * docStride).as("doc_id"),
          col("text")))
        .reduce(_ union _).localCheckpoint()
      val idxB = java.nio.file.Files
        .createTempDirectory("graft_probe_bm25").toString
      val idx10 = java.nio.file.Files
        .createTempDirectory("graft_probe_bm25x").toString
      graft.operators.TextIndex.buildBm25Index(docs, "doc_id", "text", idxB)
      graft.operators.TextIndex.buildBm25Index(
        docsId10, "doc_id", "text", idx10)
      val terms = spark.read.parquet(s"$idxB/termdf")
        .orderBy(col("df_").desc, col("term")).limit(3)
        .collect().map(_.getString(0)).toSeq
      def dirBytes(p: String): Long = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator()
          .asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
      }
      def served(dir: String): (Double, Double) = {
        val (tap, _) = tapped(graft.operators.TextIndex.bm25TopKIndexed(
          spark, dir, terms, 20).count())
        (tap.wallS, tap.tasks.map(_.inputBytes).sum.toDouble / dirBytes(dir))
      }
      served(idxB) // codegen warmup
      val (svb, fracB) = served(idxB)
      val (svB, frac10) = served(idx10)
      println(f"[probe] bm25-serve:  $svb%.2fs -> $svB%.2fs " +
        f"(${svB / svb}%.1fx wall, input/index $fracB%.2f -> $frac10%.2f, " +
        f"corpus 10x)")
      // both probe indexes are per-invocation scratch — delete them
      // (the ivf-append leak's sibling, fixed the same way)
      Seq(idxB, idx10).foreach { p =>
        val w = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
        try w.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
        finally w.close()
      }
      assert(fracB < 0.7 && frac10 < 0.7,
        f"bm25 serve read $fracB%.2f/$frac10%.2f of the index — term " +
          "pushdown is not pruning")

      // q184 quantile normalization: two range-partitioned two-phase
      // cumsums + a rank-spine equi-join — no single-reducer window
      // anywhere, so the honest ratio is ~linear
      val docsQn = spark.read.parquet(s"$base/documents.parquet")
        .filter(col("doc_id") >= 0)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .localCheckpoint()
      val docsQn10 = (0L until 10L).map(k =>
        docsQn.select((col("doc_id") + k * docStride).as("doc_id"),
          col("source"), col("n_chars")))
        .reduce(_ union _).localCheckpoint()
      def qnorm(d: DataFrame) = time {
        val bySrc = Relational.globalCumsum(d,
          Seq(col("source"), col("n_chars"), col("doc_id")), lit(1L), "gr")
        val offs = bySrc.groupBy(col("source").as("_s"))
          .agg(min(col("gr")).as("off"), count(lit(1)).as("n_s"))
        val withR = bySrc.join(broadcast(offs), col("source") === col("_s"))
          .select(col("doc_id"), col("source"),
            (col("gr") - col("off") + 1L).as("r"), col("n_s"))
        val spine = Relational.globalCumsum(
          d.select(col("n_chars").as("v"), col("doc_id").as("did")),
          Seq(col("v"), col("did")), lit(1L), "rr")
        val nTot = spine.agg(count(lit(1)).as("n_tot"))
        withR.crossJoin(broadcast(nTot))
          .withColumn("tr", call_function("div",
            col("r") * col("n_tot") + col("n_s") - 1, col("n_s")))
          .join(spine.select(col("rr").as("tr"), col("v")), "tr")
          .count()
      }
      qnorm(docsQn) // codegen warmup
      val (qnb, _) = qnorm(docsQn); val (qnB, _) = qnorm(docsQn10)
      println(f"[probe] qnorm:       $qnb%.1fs -> $qnB%.1fs (${qnB / qnb}%.1fx, rows 10x)")

      // q186 parse census: one scan + one keyed agg, the from_json
      // judge is row-local — the honest ratio is the scan ratio
      val evP = spark.read.parquet(s"$base/events.parquet")
        .select(col("event_id"), col("event_type"), col("props"))
        .localCheckpoint()
      val eStride =
        evP.agg(max(col("event_id")).cast("long")).head.getLong(0) + 1L
      val evP10 = (0L until 10L).map(k =>
        evP.select((col("event_id") + k * eStride).as("event_id"),
          col("event_type"), col("props")))
        .reduce(_ union _).localCheckpoint()
      def census(d: DataFrame) = time {
        d.withColumn("payload",
            when(col("event_id") % 17 === 0,
              concat(lit("x"), col("props"))).otherwise(col("props")))
          .withColumn("k", from_json(col("payload"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)), sum(when(col("k").isNull, 1L).otherwise(0L)),
            sum(coalesce(col("k"), lit(0L))))
          .count()
      }
      census(evP) // codegen warmup
      val (csb, _) = census(evP); val (csB, _) = census(evP10)
      println(f"[probe] parse-census: $csb%.1fs -> $csB%.1fs (${csB / csb}%.1fx, rows 10x)")
    }

    // --- r12b probes: the second-wave shapes with genuinely NEW scale
    // behavior — containment prefix join (q203), KMV-HyperBall ANF
    // (q206), SQ8 compressed serve (q204). Fixtures-only, the same
    // corpus protocols as the families above.
    {
      import graft.operators.Graph
      // q203 containment: per-copy word-suffix corpus (the entity-res
      // protocol — within-copy containment structure preserved,
      // cross-copy sharing 0). Candidate volume is Σ_prefix
      // df(shingle); with rarity-first probe prefixes the honest
      // growth is ~linear — superlinear means the container-side
      // index found a hot shingle the prefix no longer avoids.
      val docs = spark.read.parquet(s"$base/documents.parquet")
        .select(col("doc_id"), col("text")).localCheckpoint()
      val docStride =
        docs.agg(max(col("doc_id")).cast("long")).head.getLong(0) + 1L
      val docs10 = (0L until 10L).map { k =>
        docs.select((col("doc_id") + k * docStride).as("doc_id"),
          concat_ws(" ", transform(split(col("text"), " "),
            w => concat(w, lit(s"_$k")))).as("text"))
      }.reduce(_ union _).localCheckpoint()
      def cont(d: DataFrame) = time(
        Dedup.containmentPairs(d, "doc_id", "text", 3).count())
      cont(docs); cont(docs10) // codegen warmup at both sizes
      val (cb, _) = cont(docs); val (cB, nC) = cont(docs10)
      println(f"[probe] containment: $cb%.1fs -> $cB%.1fs (${cB / cb}%.1fx, $nC pairs, rows 10x)")

      // q206 ANF: 10 disjoint id-offset copies of the co-ship top-3
      // spine (the graph-family corpus — degree structure preserved,
      // so ball growth per hop is copy-invariant). Hop count is fixed
      // (3) and state is k longs per vertex, so the honest growth is
      // ~linear wall; superlinear means register merges stopped being
      // size-bounded.
      val li = spark.read.parquet(s"$base/lineitem.parquet")
      val m = li.select(col("l_orderkey"), col("l_suppkey")).distinct()
      val prs = m.select(col("l_orderkey"), col("l_suppkey").as("s"))
        .join(m.select(col("l_orderkey"), col("l_suppkey").as("nbr")),
          Seq("l_orderkey"))
        .filter(col("s") =!= col("nbr"))
        .groupBy(col("s"), col("nbr")).agg(count(lit(1)).as("w"))
      val byW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("s")).orderBy(col("w").desc, col("nbr"))
      val spine = prs.withColumn("rn", row_number().over(byW))
        .filter(col("rn") <= 3)
        .select(least(col("s"), col("nbr")).as("a"),
          greatest(col("s"), col("nbr")).as("b")).distinct()
        .localCheckpoint()
      val vStride =
        spine.agg(greatest(max(col("a")), max(col("b"))).cast("long"))
          .head.getLong(0) + 1L
      val spine10 = (0L until 10L).map(k =>
        spine.select((col("a") + k * vStride).as("a"),
          (col("b") + k * vStride).as("b")))
        .reduce(_ union _).localCheckpoint()
      def anf(e: DataFrame) = time {
        val n = Graph.anfKmv(e).count()
        Checkpoints.releaseAll(spark) // the per-hop pinned registers
        n
      }
      anf(spine); anf(spine10) // codegen warmup
      val (fb, _) = anf(spine); val (fB, nF) = anf(spine10)
      println(f"[probe] anf-kmv:     $fb%.1fs -> $fB%.1fs (${fB / fb}%.1fx, $nF rows, edges 10x)")

      // q204 SQ8 serve: corpus ×10 (id-offset copies, vectors reused —
      // scan cost is what grows), QUERY set held FIXED (base-range ids
      // only), each size served from its own persisted index. The
      // compressed integer-dot scan is linear in corpus per query;
      // the shortlist re-rank is constant.
      val emb = spark.read.parquet(s"$base/embeddings.parquet")
        .select(col("vec_id"), col("embedding")).localCheckpoint()
      val eStride2 =
        emb.agg(max(col("vec_id")).cast("long")).head.getLong(0) + 1L
      val emb10 = (0L until 10L).map(k =>
        emb.select((col("vec_id") + k * eStride2).as("vec_id"),
          col("embedding")))
        .reduce(_ union _).localCheckpoint()
      val qs = emb.filter(col("vec_id") % 20 === 0).localCheckpoint()
      val sqB = java.nio.file.Files.createTempDirectory("sq_probe_b").toString
      val sqX = java.nio.file.Files.createTempDirectory("sq_probe_x").toString
      Similarity.buildSqIndex(emb, "vec_id", "embedding", sqB)
      Similarity.buildSqIndex(emb10, "vec_id", "embedding", sqX)
      def sq(dir: String, corpus: DataFrame) = time(
        Similarity.sqTopKIndexed(dir, corpus, qs, "vec_id", "embedding", 5)
          .count())
      sq(sqB, emb); sq(sqX, emb10) // codegen warmup
      val (sb, _) = sq(sqB, emb); val (sB, nS) = sq(sqX, emb10)
      println(f"[probe] sq8-serve:   $sb%.1fs -> $sB%.1fs (${sB / sb}%.1fx, $nS results, corpus 10x, queries fixed)")

      // r13 two-level Louvain (q251): disjoint copies preserve each
      // copy's community structure, so LPA/refine round counts are
      // copy-invariant and the coarse graph simply has 10x community
      // vertices — every stage is keyed dataflow, honest ratio ~linear
      def louv(e: DataFrame) = {
        val n = Graph.louvainTwoLevel(e).count()
        Checkpoints.releaseAll(spark)
        n
      }
      louv(spine) // codegen warmup
      val (vb, _) = time(louv(spine)); val (vB, nV) = time(louv(spine10))
      println(f"[probe] louvain2:    $vb%.1fs -> $vB%.1fs (${vB / vb}%.1fx, $nV verts, edges 10x)")

      // r13 IVF append (q252): the batch is assigned against FROZEN
      // written centroids — O(batch · cells) work, corpus never
      // rescanned; 10x batch → ~linear append wall
      def ivfApp(corpus: DataFrame): Long = {
        val dirPath = java.nio.file.Files.createTempDirectory("ivfapp_probe")
        val dir = dirPath.toString
        try {
          Similarity.buildIvfIndex(corpus.filter(col("vec_id") % 5 =!= 4),
            "vec_id", "embedding", dir, cells = 16, lloydIters = 2)
          Similarity.appendToIvfIndex(spark, dir,
            corpus.filter(col("vec_id") % 5 === 4), "vec_id", "embedding")
          val n = spark.read.parquet(s"$dir/assignments.parquet").count()
          Checkpoints.releaseAll(spark)
          n
        } finally {
          // each invocation builds a throwaway index — remove it or
          // repeated probes leak one temp dir per run
          val w = java.nio.file.Files.walk(dirPath)
          try w.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
          finally w.close()
        }
      }
      ivfApp(emb) // codegen warmup
      val (ib, _) = time(ivfApp(emb)); val (iB, nI) = time(ivfApp(emb10))
      println(f"[probe] ivf-append:  $ib%.1fs -> $iB%.1fs (${iB / ib}%.1fx, $nI index rows, corpus 10x)")
    }

    if (!new java.io.File(s"$big/documents.parquet").exists()) {
      println(s"[probe] $big absent; nothing to compare"); spark.stop(); return
    }
    // time the SECOND run at each size: the first big-corpus run carries
    // Janino codegen for AQE-specialized plan shapes the small corpus
    // never produced, which would otherwise read as fake superlinearity
    jaccard(base); ann(base); neardupIvf(base)
    val (jb, _) = jaccard(base); jaccard(big); val (jB, nB) = jaccard(big)
    val (ab, _) = ann(base); ann(big); val (aB, nA) = ann(big)
    val (db, _) = neardupIvf(base); neardupIvf(big); val (dB, nD) = neardupIvf(big)
    val nDocs = spark.read.parquet(s"$big/documents.parquet").count().toDouble /
      spark.read.parquet(s"$base/documents.parquet").count()
    println(f"[probe] data ratio ${nDocs}%.0fx")
    println(f"[probe] jaccard:     $jb%.1fs -> $jB%.1fs (${jB / jb}%.1fx, $nB pairs)")
    println(f"[probe] ann:         $ab%.1fs -> $aB%.1fs (${aB / ab}%.1fx, $nA results)")
    println(f"[probe] neardup-ivf: $db%.1fs -> $dB%.1fs (${dB / db}%.1fx, $nD pairs)")
    // sign-LSH near-dup at this LOW threshold is the documented
    // anti-example (random band collisions 2^-3: ~quadratic, 31x at
    // 10x); run it only when asked
    if (args.contains("--lsh")) {
      neardup(base); neardup(big) // same second-run methodology as above
      val (lb, _) = neardup(base); val (lB, nL) = neardup(big)
      println(f"[probe] neardup-lsh: $lb%.1fs -> $lB%.1fs (${lB / lb}%.1fx, $nL pairs)")
    }
    spark.stop()
  }

  /** q266 grouped-distribution-window straggler probe — runnable
    * alone via `runMain graft.ScaleProbe --dist-windows [baseDir]`. */
  // q266's grouped distribution windows: partitionBy(nation) sorts
  // each nation's customers in ONE task — fine at 25 nations ×
  // 60k customers, but the per-nation sort is the straggler
  // candidate at 100×. Probe: the same (nation, customer, revenue)
  // relation with customers 10× (disjoint id-offset copies — group
  // COUNT fixed at 25, group SIZE 10×, the exact hazard), the
  // windowed form vs a two-phase rewrite (globalCumsum rank over
  // (nation, rev, cust) — range-partitioned, balanced regardless
  // of group sizes — + a 25-row broadcast of per-nation offsets,
  // ntile/pct_rank/cume recomputed from the rank in exact
  // arithmetic). Both walls and the window stage's max/median
  // task-DURATION ratio (the straggler itself) are recorded, and
  // the rewrite is asserted row-identical before it can ever be
  // considered a swap-in.
  private def distWindowsProbe(spark: SparkSession,
                               base: String): Unit = {
    import graft.operators.Relational
    import org.apache.spark.sql.expressions.Window
    val cust = spark.read.parquet(s"$base/customer.parquet")
    val nat = spark.read.parquet(s"$base/nation.parquet")
    val ords = spark.read.parquet(s"$base/orders.parquet")
      .select(col("o_custkey"),
        (graft.queries.dec(col("o_totalprice")) * 100).cast("long")
          .as("cents"))
    val rev = cust
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(ords, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("n_name"), col("c_custkey"))
      .agg(coalesce(sum(col("cents")), lit(0L)).as("revenue_cents"))
      .localCheckpoint()
    val stride = rev.agg(max(col("c_custkey")).cast("long"))
      .head.getLong(0) + 1L
    val rev10 = (0L until 10L).map { k =>
      rev.select(col("n_name"),
        (col("c_custkey") + k * stride).as("c_custkey"),
        col("revenue_cents"))
    }.reduce(_ unionByName _).localCheckpoint()

    def windowed(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("n_name"))
        .orderBy(col("revenue_cents"), col("c_custkey"))
      df.select(col("n_name"), col("c_custkey"), col("revenue_cents"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 4).as("pct_rank"),
        round(cume_dist().over(w), 4).as("cume"))
    }
    def twoPhase(df: DataFrame): DataFrame = {
      // global rank over (nation, rev, cust): ranks within a
      // nation are contiguous, so per-nation rank = global −
      // offset + 1; all three stats are pure functions of (r, n)
      // under the unique total order (ntile's uneven-bucket rule
      // reproduced exactly: first n%4 buckets get one extra row)
      val ranked = Relational.globalCumsum(df,
        Seq(col("n_name"), col("revenue_cents"), col("c_custkey")),
        lit(1L), "grk")
      val offs = ranked.groupBy(col("n_name"))
        .agg(min(col("grk")).as("off"), count(lit(1)).as("ng"))
      // int division via floor on doubles: every operand ≤ n ≈
      // 15M ≪ 2^53, so the double quotient is exact
      def idiv(a: org.apache.spark.sql.Column,
               b: org.apache.spark.sql.Column) =
        floor(a / b).cast("long")
      val r = col("grk") - col("off") + 1L
      val q = idiv(col("ng"), lit(4L))
      val rem = col("ng") % 4L
      val out = ranked.join(broadcast(offs), "n_name")
        .select(col("n_name"), col("c_custkey"), col("revenue_cents"),
          when(r <= (q + 1L) * rem, idiv(r - 1L, q + 1L) + 1L)
            .otherwise(rem + idiv(r - (q + 1L) * rem - 1L,
              greatest(q, lit(1L))) + 1L).as("quartile"),
          round(when(col("ng") === 1L, lit(0.0))
            .otherwise((r - 1L).cast("double") /
              (col("ng") - 1L).cast("double")), 4).as("pct_rank"),
          round(r.cast("double") / col("ng").cast("double"), 4)
            .as("cume"))
      out
    }
    // per-task durations of the heaviest stage (by total duration):
    // the straggler is the one task sorting the biggest nation
    def timedStraggler(f: => Long) = straggler(_.durationMs)(f)
    // the rewrite must be row-identical before its wall means
    // anything (ntile bucket-rule + pct/cume reproduction)
    val diff = windowed(rev).except(twoPhase(rev)).count() +
      twoPhase(rev).except(windowed(rev)).count()
    Checkpoints.releaseAll(spark)
    // a bare count() lets ColumnPruning delete the window operators
    // from the plan (measured: 0.1 s for the 1.5M-row sort — the
    // windows never ran); the checksum aggregate REQUIRES all three
    // window columns, so the measured wall is the real sort + compute
    def force(df: DataFrame): Long = {
      val n = df.agg(sum(col("quartile") +
        (col("pct_rank") * 10000).cast("long") +
        (col("cume") * 10000).cast("long"))).head.getLong(0)
      Checkpoints.releaseAll(spark)
      n
    }
    timedStraggler(force(windowed(rev))) // codegen warmup
    val (wwb, _) = timedStraggler(force(windowed(rev)))
    val (wwB, wsB) = timedStraggler(force(windowed(rev10)))
    timedStraggler(force(twoPhase(rev))) // codegen warmup
    val (tpb, _) = timedStraggler(force(twoPhase(rev)))
    val (tpB, tsB) = timedStraggler(force(twoPhase(rev10)))
    println(f"[probe] dist-windows: windowed $wwb%.1fs -> $wwB%.1fs " +
      f"(straggler max/med $wsB%.1fx at 10x) vs two-phase " +
      f"$tpb%.1fs -> $tpB%.1fs ($tsB%.1fx), rewrite-diff $diff%d " +
      f"(groups fixed 25, group size 10x)")
  }

  /** q277's personal-net closure at 10× edges — runnable alone via
    * `runMain graft.ScaleProbe --personal-net [baseDir]`. The alter-
    * pair self-join is Σ_ego C(deg, 2): quadratic in DEGREE but linear
    * in disjoint shards, so the probe's 10 id-offset copies (per-copy
    * degrees preserved exactly) must read ~linear wall and ~10× pair
    * volume — a superlinear ratio here means cross-copy edges crept in
    * or the closure's broadcast probe regressed to a shuffle. Dense
    * substrate = q277's: papers are every 17th order, authors its
    * lineitem suppliers, years deterministic from the key (the closure
    * only compares them with greatest). */
  private def personalNetProbe(spark: SparkSession,
                               base: String): Unit = {
    import graft.operators.CoOccur
    val li = spark.read.parquet(s"$base/lineitem.parquet")
      .filter(col("l_orderkey") % 17 === 0)
      .select(col("l_orderkey").as("paper"), col("l_suppkey").as("author"))
      .distinct()
    val papers = li.select(col("paper")).distinct()
      .select(col("paper"), (col("paper") % 7 + 1992).as("year"))
    val edges = CoOccur.firstPeriodEdges(li, papers,
        "paper", "author", "year")
      .select(col("a"), col("b"), col("first_year").as("year"))
      .localCheckpoint()
    val stride = edges.agg(greatest(max(col("a")), max(col("b")))
      .cast("long")).head.getLong(0) + 1L
    val edges10 = (0L until 10L).map { k =>
      edges.select((col("a") + k * stride).as("a"),
        (col("b") + k * stride).as("b"), col("year"))
    }.reduce(_ unionByName _).localCheckpoint()
    def run(e: DataFrame) = time(CoOccur.personalNet(broadcast(e)).count())
    run(edges) // codegen warmup
    val (pb, nb) = run(edges)
    val (pB, nB) = run(edges10)
    println(f"[probe] personal-net: $pb%.1fs -> $pB%.1fs " +
      f"(${pB / pb}%.1fx wall, $nb%d -> $nB%d closed pairs, " +
      f"edges 10x disjoint)")
  }
}
