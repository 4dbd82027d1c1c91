package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{ArrayCosine, VectorFns}
import graft.operators.Relational

/** Approximate/exact nearest-neighbor search over an embedding column
  * (SURVEY.md §2.11; reference grounding:
  * `data/samples/PaperRecommandations.txt` similarity-scored pairs).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k. The query side is
  *    expected to be small (it is broadcast); cost is |Q|×|corpus|.
  *  - [[signLshTopK]]: random-hyperplane sign-LSH — corpus is bucketed
  *    by band keys, candidates come from bucket joins only, then exact
  *    cosine re-ranks. This is the 100 TB path: no cross join appears;
  *    the corpus side shuffles once on bucket keys.
  *
  * Hyperplanes are seeded-random, generated once on the driver and
  * shipped as literals — reproducible across runs, no per-row RNG or
  * hashing.
  *
  * Every search is composed from one definition of each stage: the
  * [[vectors]] projection, the [[ivfProbe]], the [[rerank]] with
  * [[bestPerQuery]], the exact pair verify ([[verifyPairs]] over
  * [[cellPairs]] or band buckets), the routed cell assignment
  * ([[assignRouted]]) and, for PQ, [[pqCodes]]/[[readPqCodes]].
  */
object Similarity {

  /** Column names of one side of a vector search: the id and the
    * double-array vector. */
  private[graft] final case class Side(id: String, vec: String)
  /** The corpus side, (n_id, cv): what assignment, probes and re-ranks
    * key by. */
  private[graft] val Corpus = Side("n_id", "cv")
  /** The query side, (q_id, qv). */
  private[graft] val Query = Side("q_id", "qv")

  /** The vector projection every search stage starts from: `df`'s `id`
    * as `side.id`, then the `carry` columns, then `vec` cast to a double
    * array as `side.vec`. With `spread` the result is hash-partitioned
    * by the id ([[Spread.byKey]]): a small vector relation otherwise
    * arrives as one scan partition (or gets AQE-coalesced to one), which
    * serializes a broadcast scoring join through a single core, and the
    * exchange rewrites transform-built BOXED array columns into
    * UnsafeRow primitive arrays, [[ArrayCosine]]'s fast path (the q152
    * lesson: 11 s → 3.5 s from the two effects together). */
  private[graft] def vectors(df: DataFrame, id: String, vec: String,
                             side: Side = Corpus, carry: Seq[Column] = Nil,
                             spread: Boolean = false): DataFrame = {
    val v = df.select((col(id).as(side.id) +: carry) :+
      VectorFns.toDoubleArr(col(vec)).as(side.vec): _*)
    if (spread) Spread.byKey(v, col(side.id)) else v
  }

  /** round(cos(query, corpus), 4) as `cos`: the cosine re-rank score. */
  private[graft] def cosScore: Column =
    round(ArrayCosine.cosine(col("qv"), col("cv")), 4).as("cos")

  /** The candidate re-rank: (q_id, n_id) candidates joined to the corpus
    * rows `c` by n_id and to the broadcast query rows `q` by q_id, then
    * scored → (q_id, n_id, score). `c` and `q` carry whatever `score`
    * reads: vectors for an exact score, codes and lookup tables for
    * ADC. */
  private[graft] def rerank(cand: DataFrame, c: DataFrame, q: DataFrame,
                            score: Column): DataFrame =
    cand.join(c, "n_id").join(broadcast(q), "q_id")
      .select(col("q_id"), col("n_id"), score)

  /** Each query's `k` best rows by `score` desc, ties on the lower n_id
    * — fully deterministic. */
  private[graft] def bestPerQuery(scored: DataFrame, score: String,
                                  k: Int): DataFrame =
    Relational.topKPerGroup(scored, Seq(col("q_id")),
      Seq(col(score).desc, col("n_id")), k)

  /** The IVF probe: every query of `q` (q_id, qv) is routed to its
    * `nprobe` nearest `centroids` cells, joined to the cell `postings`
    * (n_id, cell) and filtered by `keep` (by default: no self-match) →
    * distinct (q_id, n_id) candidates. The query side is the small
    * side; the postings shuffle on cell id only. */
  private[graft] def ivfProbe(q: DataFrame, centroids: DataFrame,
                              postings: DataFrame, nprobe: Int,
                              keep: Column = col("q_id") =!= col("n_id"))
      : DataFrame =
    assignCells(q.select(col("q_id").as("n_id"), col("qv").as("cv")),
        centroids, nprobe)
      .select(col("n_id").as("q_id"), col("cell"))
      .join(postings, "cell")
      .filter(keep)
      .select(col("q_id"), col("n_id")).distinct()

  /** round(cos(a, b), 4) as `cos` over a pair's two vectors. */
  private def pairCos: Column =
    round(ArrayCosine.cosine(col("va"), col("vb")), 4).as("cos")

  /** The exact pair verify: (id_a, id_b) candidates joined to both
    * vectors of the (n_id, cv) relation `c`, kept at
    * round(cos, 4) >= minCos → (id_a, id_b, cos). Every emitted pair is
    * exactly as correct as the brute-force [[cosinePairs]]; only recall
    * depends on how the candidates were blocked. */
  private def verifyPairs(cand: DataFrame, c: DataFrame,
                          minCos: Double): DataFrame =
    cand
      .join(c.select(col("n_id").as("id_a"), col("cv").as("va")), "id_a")
      .join(c.select(col("n_id").as("id_b"), col("cv").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"), pairCos)
      .filter(col("cos") >= minCos)

  /** IVF blocking: the distinct pairs id_a < id_b that share a cell of
    * the (n_id, cell) assignments. */
  private def cellPairs(assigned: DataFrame): DataFrame =
    assigned.select(col("cell"), col("n_id").as("id_a"))
      .join(assigned.select(col("cell"), col("n_id").as("id_b")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()

  /** Exact cosine top-k: queries × corpus with rank on (rounded cosine
    * desc, neighbor id) — fully deterministic. Self-pairs excluded.
    * The pair kernel is the native codegen [[ArrayCosine]]: one fused
    * dot+norms loop per pair, no per-row lambda interpretation. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, id: String,
                     vec: String, k: Int): DataFrame = {
    val c = vectors(corpus, id, vec, spread = true)
    val q = vectors(queries, id, vec, Query)
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), cosScore)
    bestPerQuery(scored, "cos", k)
  }

  /** Exact embedding-cosine near-duplicate pairs — the dense-vector
    * member of the dedup family (SURVEY.md §2.11): all unordered pairs
    * (id_a < id_b) with round(cosine, 4) >= minCos. Exact by design —
    * it is the oracle-checkable SMALL-SCALE baseline (O(n²/2) broadcast
    * loop) and the recall oracle for the scale path. At 100 TB use
    * [[cosinePairsLsh]] (query q70): identical verify step, but
    * candidates come from sign-LSH band buckets so the quadratic pair
    * space is never materialized. */
  def cosinePairs(emb: DataFrame, id: String, vec: String,
                  minCos: Double): DataFrame = {
    // the streamed side is spread ([[vectors]]): the n² nested-loop
    // pair scan is the cost here, not the n-row exchange
    val a = vectors(emb, id, vec, Side("id_a", "va"), spread = true)
    val b = vectors(emb, id, vec, Side("id_b", "vb"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), pairCos)
      .filter(col("cos") >= minCos)
  }

  /** Sign-LSH-bucketed embedding near-dup: candidate pairs ONLY from
    * vectors sharing a band bucket (one shuffle on (band, bkey)), then
    * verified with the exact codegen [[ArrayCosine]] kernel at the same
    * `round(cos,4) >= minCos` threshold — every emitted pair is exactly
    * as correct as the brute-force baseline; only recall is
    * approximate.
    *
    * REGIME MATH (be honest about when this scales): a random pair's
    * band-collision probability is 2^-rowsPerBand (sign bits are 50/50
    * for orthogonal vectors), so expected candidates have a floor of
    * `bands · n²/2 · 2^-rowsPerBand`. For HIGH thresholds (true
    * near-dup, cos ≥ 0.8, per-bit match ≥ 0.8) rowsPerBand 16+ with
    * 32+ bands keeps boundary recall high AND random collisions at the
    * ~1e-3 level — near-linear in practice. For LOW thresholds like
    * this fixture's 0.4 (per-bit 0.63 vs random 0.5 — barely
    * discriminable), no banding choice separates the two: the defaults
    * (24 planes, bands of 3 → ≥ 0.9 boundary recall) admit ~50% of
    * random pairs and the join degrades toward all-pairs as n grows
    * (measured 31× work at 10× data, ScaleProbe). THE low-threshold
    * scale path is [[cosinePairsIvf]]: data-adaptive cells with
    * bounded occupancy, linear candidate growth at constant cell size.
    *
    * SimilaritySpec asserts recall against the oracle-checked
    * [[cosinePairs]] output on the sf0.01 fixture. */
  def cosinePairsLsh(emb: DataFrame, id: String, vec: String,
                     minCos: Double, numPlanes: Int = 24,
                     rowsPerBand: Int = 3, dims: Int = 64): DataFrame = {
    // spread ahead of the sketch: numPlanes × dims multiply-adds per
    // row otherwise run inside the scan's single input split
    // (measured 1.4 s of 1-task stage wall on q70; operators.Spread)
    val b = signLshBuckets(
      Spread.byKey(emb.select(col(id), col(vec)), col(id)),
      id, vec, numPlanes, rowsPerBand, dims)
    val l = b.select(col(id).as("id_a"), col("band"), col("bkey"))
    val r = b.select(col(id).as("id_b"), col("band"), col("bkey"))
    val cand = l.join(r, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    verifyPairs(cand, vectors(emb, id, vec), minCos)
  }

  /** Deterministic random hyperplanes, generated ONCE on the driver and
    * shipped as literal arrays — per-row hash generation of plane
    * components showed up as the dominant ANN cost (16 planes × dims
    * hashes per vector). Seeded, so sketches are reproducible. */
  private[graft] def planes(numPlanes: Int, dims: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dims)(rnd.nextGaussian()))
  }

  /** Johnson-Lindenstrauss random projection (the public JL lemma —
    * pairwise geometry survives projection onto O(log n / ε²) random
    * directions): each embedding maps to its dot products against
    * `outDims` seeded Gaussian planes (the [[planes]] generator the
    * sign-LSH family shares — sign-LSH is exactly this projection
    * quantized to sign bits). The projection is UNnormalized (no
    * 1/√k): cosine similarity is scale-invariant, so downstream
    * cosine ANN is unaffected and the fold stays the bit-exact
    * sequential sum DuckDB's `list_inner_product` replays
    * (the q70 discipline).
    *
    * The 100 TB use: project 64-dim vectors to `outDims` for
    * CANDIDATE GENERATION — admit pairs at a threshold discounted by
    * the distortion budget, then exact-verify in full dimension.
    * What survives projection is the strong similarities (measured:
    * cosine MAE ≈ 0.20 at 64→16 on the fixture; near-dup pairs at
    * 0.4 recalled ≈ 0.95 at discounted threshold 0.1 —
    * SimilaritySpec); what does NOT is hairline rankings in the
    * near-uniform background (projected exact top-5 recall ≈ 0.06) —
    * a candidate-generation tool, not a ranking one. Row-local,
    * codegen-resident, no shuffle at all. */
  def randomProject(emb: DataFrame, id: String, vec: String,
                    outDims: Int, dims: Int = 64,
                    seed: Long = 42L): DataFrame = {
    val v = VectorFns.toDoubleArr(col(vec))
    val pl = planes(outDims, dims, seed)
    val comps = pl.map(p =>
      aggregate(zip_with(v, typedLit(p), _ * _), lit(0d), _ + _))
    emb.select(col(id), array(comps: _*).as("proj"))
  }

  /** Sign-bit sketch: bit p = sign(v · plane_p), assembled into bands of
    * `rowsPerBand` bits; emits (id, band, bkey) bucket rows. `dims` must
    * match the embedding dimensionality. */
  def signLshBuckets(emb: DataFrame, id: String, vec: String,
                     numPlanes: Int, rowsPerBand: Int,
                     dims: Int = 64): DataFrame = {
    val v = VectorFns.toDoubleArr(col(vec))
    val pl = planes(numPlanes, dims)
    val bits = (0 until numPlanes).map { p =>
      val proj = aggregate(
        zip_with(v, typedLit(pl(p)), (x, w) => x * w),
        lit(0d), _ + _)
      when(proj > 0, lit(1L)).otherwise(lit(0L))
    }
    val bands = numPlanes / rowsPerBand
    val bandKeys = (0 until bands).map { b =>
      (0 until rowsPerBand)
        .map(r => bits(b * rowsPerBand + r) * lit(1L << r))
        .reduce(_ + _)
    }
    emb.select(col(id), posexplode(array(bandKeys: _*)))
      .select(col(id), col("pos").as("band"), col("col").as("bkey"))
  }

  /** IVF (inverted-file) ANN index: corpus vectors are assigned to
    * their nearest centroid cell; a query probes only the `nprobe`
    * nearest cells and exact-cosine re-ranks the candidates. The
    * 100 TB shape: the corpus shuffles ONCE on cell id at index build;
    * each query touches |corpus|·nprobe/k rows instead of the full
    * corpus.
    *
    * Centroids are deterministic: the `k` lowest-id vectors seed the
    * cells, refined by `lloydIters` rounds of mean-recentering — no RNG
    * state, reproducible across runs. */
  /** Recentering means are computed over round(x·2^32) LONGS: integer
    * sums are order-independent, so the centroid doubles come out
    * bit-identical across executions — double summation is NOT
    * associative and shuffle-fetch arrival order varies run to run,
    * which would make `avg(double)` centroids differ in their low bits
    * between the Verify query run and the oracle-literal run (see
    * [[collectedCentroids]]). Quantization error ~2^-33 per component
    * is irrelevant to cluster geometry; the sum is exact while cell
    * occupancy stays < 2^31 rows (adaptive cells hold occupancy near
    * `targetCellSize`, so this is structural, not a fixture accident). */
  private val MeanScale = 4294967296d // 2^32

  /** Deterministic Lloyd centroids over a (n_id, cv) corpus: the `k`
    * lowest-id vectors seed the cells, refined by `iters` rounds of
    * exact-integer mean-recentering — no RNG state, bit-reproducible
    * (see [[MeanScale]]). Superseded rounds release their checkpoint
    * blocks eagerly. */
  private[graft] def lloydCentroids(c: DataFrame, cells: Int, iters: Int,
                             assign: (DataFrame, DataFrame, Int) => DataFrame
                               = assignCells): DataFrame = {
    var centroids = graft.Checkpoints.checkpoint(c.orderBy(col("n_id")).limit(cells)
      .select(monotonically_increasing_id().as("cell"), col("cv").as("ctr")))
    (0 until iters).foreach { _ =>
      val assigned = assign(c, centroids, 1)
      val refined = graft.Checkpoints.checkpoint(
        integerMeans(assigned.join(c, "n_id"), Seq("cell")))
      graft.Checkpoints.release(centroids)
      centroids = refined
    }
    centroids
  }

  /** The Lloyd recentering step shared by the IVF cells and the PQ
    * codebooks: per `keys` group, the component-wise mean of the member
    * vectors `cv`, summed as round(x·2^32) longs ([[MeanScale]]) and
    * reassembled in component order → (`keys`…, ctr). */
  private def integerMeans(members: DataFrame, keys: Seq[String]): DataFrame = {
    val k = keys.map(col)
    members.select(k :+ posexplode(col("cv")): _*)
      .groupBy(k :+ col("pos"): _*)
      .agg((sum(round(col("col") * MeanScale).cast("long")).cast("double")
        / count(lit(1)) / MeanScale).as("m"))
      .groupBy(k: _*)
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("pos"), col("m"))))).as("mm"))
      .select(k :+ map_values(col("mm")).as("ctr"): _*)
  }

  /** The Lloyd centroids [[ivfTopK]]/[[cosinePairsIvf]] compute,
    * collected to the driver (≤ `cells` rows — bounded, never the
    * corpus) — the literal feed for the q51/q72 DuckDB oracle replay.
    * Exact-integer recentering ([[MeanScale]]) makes two executions of
    * the pipeline bit-identical, so the centroids collected HERE equal
    * the ones the query recomputes inside Verify. */
  def collectedCentroids(emb: DataFrame, id: String, vec: String,
                         cells: Int, lloydIters: Int): Seq[(Long, Seq[Double])] = {
    val c = graft.Checkpoints.checkpoint(vectors(emb, id, vec))
    val cents = lloydCentroids(c, cells, lloydIters)
    val rows = cents.collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1)
    graft.Checkpoints.release(cents)
    graft.Checkpoints.release(c)
    rows
  }

  /** Requested cell count above which assignment routes through the
    * hierarchical two-level router ([[assignCellsHierarchical]]). */
  private[graft] val HierCellThreshold = 64

  /** Whether `cells` requested cells assign through the two-level
    * router: past ~64 cells, flat assignment's n·cells cosines dominate
    * and the coarse-quantizer route costs n·superProbe·√cells. */
  private[graft] def hierarchical(cells: Long): Boolean = cells > HierCellThreshold

  /** Nearest-`take` cell assignment, flat ([[assignCells]]) or through
    * the two-level router ([[assignCellsHierarchical]]). */
  private def assignRouted(vecs: DataFrame, centroids: DataFrame, take: Int,
                           hier: Boolean): DataFrame =
    if (hier) assignCellsHierarchical(vecs, centroids, take)
    else assignCells(vecs, centroids, take)

  /** The data-adaptive cell count of the dedup regime:
    * max(4, n / targetCellSize), one count job. */
  private[graft] def dedupCells(c: DataFrame, targetCellSize: Int): Int =
    math.max(4L, c.count() / targetCellSize).toInt

  private def ivfMetaPath(dir: String) =
    new org.apache.hadoop.fs.Path(s"$dir/_ivf_meta")

  /** Persist the index's assignment mode as a tiny sidecar next to the
    * centroids. The mode is a function of the REQUESTED `cells`, not of
    * how many centroids Lloyd actually wrote (seeding `limit(cells)`
    * over a small corpus, or empty-cell collapse during refinement, can
    * leave fewer) — so it must be recorded at build time or an append
    * cannot reconstruct it. Plain Hadoop-FS bytes: reading it back is a
    * driver-side open, not a Spark job. */
  private def writeIvfMeta(spark: org.apache.spark.sql.SparkSession,
                           dir: String, cells: Int): Unit = {
    val p = ivfMetaPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      s"cells=$cells\nhierarchical=${hierarchical(cells)}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The persisted assignment mode, if the index carries one (indexes
    * written before the sidecar existed do not). */
  private[graft] def readIvfMetaHierarchical(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[Boolean] = {
    val p = ivfMetaPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      txt.linesIterator.collectFirst {
        case l if l.startsWith("hierarchical=") =>
          l.stripPrefix("hierarchical=").trim.toBoolean
      }
    }
  }

  /** A persisted IVF index's centroids (cell, ctr). */
  private[graft] def ivfCentroids(spark: org.apache.spark.sql.SparkSession,
                                  dir: String): DataFrame =
    spark.read.parquet(s"$dir/centroids.parquet")

  /** A persisted IVF index's postings, the corpus assignments
    * (n_id, cell). */
  private[graft] def ivfPostings(spark: org.apache.spark.sql.SparkSession,
                                 dir: String): DataFrame =
    spark.read.parquet(s"$dir/assignments.parquet")

  /** The one IVF index build sequence: Lloyd centroids over the
    * checkpointed (n_id, cv) corpus `c`, written with the assignment-mode
    * sidecar; the corpus is then assigned to its `nprobe` nearest cells
    * against the WRITTEN centroids (the persisted artifact is the source
    * of truth the assignments must be consistent with) and the
    * assignments written. Releases `c`. */
  private def writeIvfIndex(c: DataFrame, cells: Int, lloydIters: Int,
                            nprobe: Int, outDir: String): Unit = {
    val spark = c.sparkSession
    val centroids = lloydCentroids(c, cells, lloydIters)
    centroids.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/centroids.parquet")
    writeIvfMeta(spark, outDir, cells)
    assignRouted(c, ivfCentroids(spark, outDir), nprobe, hierarchical(cells))
      .write.mode("overwrite").parquet(s"$outDir/assignments.parquet")
    graft.Checkpoints.release(centroids)
    graft.Checkpoints.release(c)
  }

  /** Build the IVF index ONCE and PERSIST it: the Lloyd centroids
    * (cell, ctr) and the corpus cell assignments (n_id, cell) land as
    * parquet under `outDir`. At 100 TB the index build — one Lloyd
    * pipeline plus one corpus pass — is a scheduled job, not something
    * recomputed per query ([[ivfTopK]] recomputes it; that is its toy
    * form). Queries then run against the written index via
    * [[ivfTopKIndexed]], touching the corpus only in the final
    * candidate re-rank. The pipeline is bit-deterministic (exact
    * integer Lloyd recentering, [[MeanScale]]) and parquet round-trips
    * doubles bit-exact, so an index built in one session replays
    * identically in another — which is also what lets the q119 oracle
    * reuse the q51 literal-centroid replay. */
  def buildIvfIndex(corpus: DataFrame, id: String, vec: String,
                    outDir: String, cells: Int = 16,
                    lloydIters: Int = 2): Unit =
    writeIvfIndex(graft.Checkpoints.checkpoint(vectors(corpus, id, vec)),
      cells, lloydIters, nprobe = 1, outDir)

  /** INCREMENTAL append to a persisted IVF index ([[buildIvfIndex]]) —
    * the embedding twin of the BM25 postings append
    * (`TextIndex.appendToBm25Index`): new vectors are assigned against
    * the WRITTEN centroids (the index's source of truth — centroids do
    * NOT move on append, exactly like FAISS `add` after `train`) and
    * their (n_id, cell) rows land as an appended parquet file. Cost is
    * O(batch · cells) assignment work; the existing corpus is never
    * rescanned and the index never rebuilt — the shape a living 100 TB
    * corpus requires. Because assignment is a pure per-vector function
    * of the fixed centroids, the appended index is row-identical to a
    * one-shot assignment pass over the unioned corpus with the same
    * centroids (SimilaritySpec pins this; the q252 oracle replays it).
    * Centroid DRIFT from accumulating appends is the retrain signal —
    * cell-occupancy growth, reported by q253's census — at which point
    * the scheduled [[buildIvfIndex]] job runs again. */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String,
                       batch: DataFrame, id: String, vec: String): Unit = {
    val centroids = ivfCentroids(spark, indexDir)
    // The build's assignment mode comes from the PERSISTED meta sidecar
    // — the written centroid count is NOT a proxy for it (Lloyd can
    // write fewer than the requested `cells`: seed limit over a small
    // corpus, or empty-cell collapse in refinement — and in that corner
    // a count-based branch would route flat while the build routed
    // hierarchically, which at superProbe=4 is genuinely approximate,
    // so the two would disagree). Reading the sidecar is a driver-side
    // FS open — no per-append Spark action. The hierarchical router is
    // a pure bit-deterministic function of the written centroids, so
    // recomputing it here yields the identical vector→cell function —
    // append ≡ one-shot build at EVERY cell count. Legacy indexes
    // without a sidecar fall back to the count heuristic (best effort;
    // every in-repo index carries the sidecar).
    val hier = readIvfMetaHierarchical(spark, indexDir)
      .getOrElse(hierarchical(centroids.count()))
    assignRouted(vectors(batch, id, vec), centroids, 1, hier)
      .write.mode("append").parquet(s"$indexDir/assignments.parquet")
  }

  /** ANN top-k against a PERSISTED IVF index ([[buildIvfIndex]]): the
    * query side probes its `nprobe` nearest cells against the written
    * centroids (broadcast — ≤ cells rows), candidates come from the
    * written assignments (shuffle on cell id only), and the corpus
    * appears once, in the exact-cosine re-rank of candidates. This is
    * the per-query cost profile an index exists for: no Lloyd rounds,
    * no full-corpus assignment pass. */
  def ivfTopKIndexed(indexDir: String, corpus: DataFrame, queries: DataFrame,
                     id: String, vec: String, topK: Int,
                     nprobe: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    val q = vectors(queries, id, vec, Query)
    val cand = ivfProbe(q, ivfCentroids(spark, indexDir),
      ivfPostings(spark, indexDir), nprobe)
    bestPerQuery(rerank(cand, vectors(corpus, id, vec), q, cosScore),
      "cos", topK)
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, id: String,
              vec: String, topK: Int, cells: Int = 16, nprobe: Int = 4,
              lloydIters: Int = 2): DataFrame = {
    val c = graft.Checkpoints.checkpoint(vectors(corpus, id, vec))
    val centroids = lloydCentroids(c, cells, lloydIters)
    val q = vectors(queries, id, vec, Query)
    val cand = ivfProbe(q, centroids, assignCells(c, centroids, 1), nprobe)
    bestPerQuery(rerank(cand, c, q, cosScore), "cos", topK)
  }

  /** IVF-bucketed embedding near-dup — THE low-threshold 100 TB path
    * (see the regime math on [[cosinePairsLsh]]). Vectors are assigned
    * to their `nprobe` nearest Lloyd cells; candidate pairs come only
    * from vectors sharing a cell; the exact codegen [[ArrayCosine]]
    * verify applies the same `round(cos,4) >= minCos` threshold as the
    * brute-force baseline. Cell COUNT scales with the corpus
    * (`max(4, n / targetCellSize)` — one extra count job), so cell
    * occupancy stays ~constant and expected candidates grow LINEARLY:
    * cells · (nprobe·targetCellSize)²/2 ∝ n·targetCellSize·nprobe².
    * Unlike data-oblivious hyperplanes, cells adapt to the data's
    * cluster structure, which is what separates near-dup pairs from
    * the random background at thresholds sign-LSH cannot discriminate.
    * Recall comes from multi-probe assignment (`nprobe` ≥ 2: boundary
    * vectors sit in every cell they straddle); SimilaritySpec measures
    * it against the oracle-checked [[cosinePairs]] at sf0.01.
    * Measured (ScaleProbe): 10× corpus → 3.9× work, vs 31× for the
    * sign-LSH variant at the same threshold (5.8× before the
    * coarse-quantizer assignment landed). Centroid ASSIGNMENT
    * auto-switches past [[HierCellThreshold]] cells to the two-level
    * coarse-quantizer route ([[assignCellsHierarchical]]):
    * n·superProbe·√cells cosines instead of n·cells, FAISS-IVF-style,
    * leaving the candidate-generation shape unchanged. */
  def cosinePairsIvf(emb: DataFrame, id: String, vec: String,
                     minCos: Double, targetCellSize: Int = 256,
                     nprobe: Int = 2, lloydIters: Int = 2): DataFrame = {
    // spread inside the checkpoint: `c` feeds every Lloyd round and
    // the n·cells assignment cosines — on a single-split scan all of
    // it otherwise runs one task wide (operators.Spread)
    val c = graft.Checkpoints.checkpoint(vectors(emb, id, vec, spread = true))
    val cells = dedupCells(c, targetCellSize)
    val centroids = lloydCentroids(c, cells, lloydIters)
    verifyPairs(
      cellPairs(assignRouted(c, centroids, nprobe, hierarchical(cells))),
      c, minCos)
  }

  /** Build [[cosinePairsIvf]]'s blocking structure ONCE and PERSIST it
    * (the [[buildIvfIndex]] sequence applied to the DEDUP regime):
    * data-adaptive cell count (max(4, n/targetCellSize)), Lloyd
    * centroids, and the MULTI-probe corpus assignments (nprobe ≥ 2 —
    * dedup recall lives in corpus-side multi-probe, unlike the
    * serving index's single-probe postings) land as parquet under
    * `outDir`. The pipeline is bit-deterministic and parquet
    * round-trips doubles bit-exact, so pairs served from the written
    * index are IDENTICAL to the in-flight [[cosinePairsIvf]] pairs at
    * the same parameters — which keeps q141's literal-centroid oracle
    * replay valid against the indexed form (SimilaritySpec pins it). */
  def buildIvfDedupIndex(emb: DataFrame, id: String, vec: String,
                         outDir: String, targetCellSize: Int = 256,
                         nprobe: Int = 2, lloydIters: Int = 2): Unit = {
    val c = graft.Checkpoints.checkpoint(vectors(emb, id, vec))
    writeIvfIndex(c, dedupCells(c, targetCellSize), lloydIters, nprobe, outDir)
  }

  /** [[cosinePairsIvf]] served from a PERSISTED index
    * ([[buildIvfDedupIndex]]): candidates come from the written
    * multi-probe assignments (shuffle on cell id only), the raw
    * vectors appear once, in the exact-cosine verify. No Lloyd
    * rounds, no assignment pass — the per-run cost profile an index
    * exists for. */
  def cosinePairsIvfIndexed(indexDir: String, emb: DataFrame, id: String,
                            vec: String, minCos: Double): DataFrame =
    verifyPairs(cellPairs(ivfPostings(emb.sparkSession, indexDir)),
      vectors(emb, id, vec), minCos)

  /** Nearest `take` centroid cells per vector (by cosine, deterministic
    * tie-break on cell id). Centroids are broadcast — there are never
    * many. */
  private[graft] def assignCells(vecs: DataFrame, centroids: DataFrame,
                                 take: Int): DataFrame = {
    nearestCells(vecs.crossJoin(broadcast(centroids)), take)
  }

  /** Each vector's `take` best (vector, centroid) rows of `pairs` by
    * cosine, ties on the lower cell id → (n_id, cell). The user exchange
    * on the window key is the shuffle the top-k window needs anyway,
    * but not AQE-coalescible: the n·cells score rows are tiny bytes and
    * heavy CPU, and under AQE's size-based coalescing the scoring and
    * the window collapsed to one task (measured, also on q72). The
    * exchange is kept for its fixed partition count, so it stays even
    * where the input is already wide. */
  private def nearestCells(pairs: DataFrame, take: Int): DataFrame = {
    val scored = pairs.select(col("n_id"), col("cell"),
      ArrayCosine.cosine(col("cv"), col("ctr")).as("sim"))
    Relational.topKPerGroup(Spread.byKey(scored, col("n_id")),
      Seq(col("n_id")), Seq(col("sim").desc, col("cell")), take)
      .select(col("n_id"), col("cell"))
  }

  /** L2 (squared-distance) cell assignment — the quantizer metric
    * product quantization needs (cosine ignores subvector magnitude,
    * which is exactly what a reconstruction codebook must preserve).
    * dist² expands to dot(v,v) − 2·dot(v,c) + dot(c,c): three
    * sequential HOF folds evaluated left-to-right, the bit-replayable
    * form (the oracle writes the same three `list_inner_product`
    * folds in the same expression order). Ties rank by cell id. */
  private[graft] def assignCellsL2(vecs: DataFrame, centroids: DataFrame,
                                   take: Int): DataFrame = {
    val d2 = VectorFns.dot(col("cv"), col("cv")) -
      lit(2d) * VectorFns.dot(col("cv"), col("ctr")) +
      VectorFns.dot(col("ctr"), col("ctr"))
    val scored = vecs.crossJoin(broadcast(centroids))
      .select(col("n_id"), col("cell"), d2.as("d2"))
    Relational.topKPerGroup(scored, Seq(col("n_id")),
      Seq(col("d2").asc, col("cell")), take)
      .select(col("n_id"), col("cell"))
  }

  /** Product-quantization codebooks (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011 — public
    * algorithm): split the `dims`-dim space into `m` contiguous
    * subspaces and train an independent `k`-codeword codebook per
    * subspace with the same deterministic integer-mean Lloyd the IVF
    * family uses — under L2 assignment ([[assignCellsL2]]), the PQ
    * metric. A vector then compresses to m small codes (m·log₂k bits —
    * 16 bits here vs 64 floats), which is what lets a 100 TB embedding
    * corpus live in scan-speed storage: the full-precision vectors are
    * only ever touched at (re-)encode time, never per query.
    * Returns (sub, cell, ctr) with `ctr` of dims/m components. */
  def pqTrain(corpus: DataFrame, id: String, vec: String,
              m: Int = 4, k: Int = 16, lloydIters: Int = 2): DataFrame = {
    val c = graft.Checkpoints.checkpoint(vectors(corpus, id, vec))
    val dims = c.select(size(col("cv"))).head.getInt(0)
    require(dims % m == 0, s"dims $dims not divisible by m $m")
    val sub = dims / m
    // all m subspaces train in ONE joint Lloyd loop keyed by (sub,
    // cell): the per-iteration assignment and integer-mean recentering
    // are a single pair of jobs instead of m sequential pipelines.
    // Bit-identical to training each subspace alone — assignment wins
    // are decided per (n_id, sub) group and the scaled-long sums
    // commute — which is what keeps the q125/q127 literal-codebook
    // replays and the SimilaritySpec reproducibility pin green.
    val sliced = graft.Checkpoints.checkpoint(subSlices(c, m, sub))
    // the k lowest-id vectors seed every subspace's codebook (the
    // lloydCentroids seed rule, applied slice-wise)
    var books = graft.Checkpoints.checkpoint(
      subSlices(c.orderBy(col("n_id")).limit(k)
          .select(monotonically_increasing_id().as("n_id"), col("cv")), m, sub)
        .select(col("sub"), col("n_id").as("cell"), col("cv").as("ctr")))
    (0 until lloydIters).foreach { _ =>
      val refined = graft.Checkpoints.checkpoint(integerMeans(
        assignSubCells(sliced, books).join(sliced, Seq("n_id", "sub")),
        Seq("sub", "cell")))
      graft.Checkpoints.release(books)
      books = refined
    }
    graft.Checkpoints.release(sliced)
    graft.Checkpoints.release(c)
    books
  }

  /** (n_id, cv) → (n_id, sub, cv): each vector exploded into its m
    * contiguous `sub`-dim slices — the long form the joint PQ loop
    * keys by. */
  private def subSlices(v: DataFrame, m: Int, sub: Int): DataFrame =
    v.select(col("n_id"), inline(array((0 until m).map(mi =>
      struct(lit(mi).as("sub"),
        slice(col("cv"), mi * sub + 1, sub).as("cv"))): _*)))

  /** L2-nearest codeword per (vector, subspace) in one pass over all m
    * codebooks: same d2 expansion and (d2 asc, cell) tie-break as
    * [[assignCellsL2]], decided within each (n_id, sub) group, so the
    * winner per subspace is bit-equal to assigning against that
    * subspace's book alone. Books broadcast — m·k rows, never many. */
  private def assignSubCells(sliced: DataFrame, books: DataFrame): DataFrame = {
    val d2 = VectorFns.dot(col("cv"), col("cv")) -
      lit(2d) * VectorFns.dot(col("cv"), col("ctr")) +
      VectorFns.dot(col("ctr"), col("ctr"))
    val scored = sliced.join(broadcast(books), Seq("sub"))
      .select(col("n_id"), col("sub"), col("cell"), d2.as("d2"))
    Relational.topKPerGroup(scored, Seq(col("n_id"), col("sub")),
      Seq(col("d2").asc, col("cell")), 1)
      .select(col("n_id"), col("sub"), col("cell"))
  }

  /** The trained PQ codebooks collected to the driver (m·k rows —
    * bounded, never the corpus): the literal feed for the q125 oracle
    * replay, bit-equal to what the query recomputes (exact-integer
    * Lloyd, the q51 argument). */
  def collectedPqCodebooks(corpus: DataFrame, id: String, vec: String,
                           m: Int = 4, k: Int = 16, lloydIters: Int = 2)
      : Seq[(Int, Long, Seq[Double])] = {
    val books = pqTrain(corpus, id, vec, m, k, lloydIters)
    books.collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toSeq))
      .sortBy(t => (t._1, t._2))
  }

  /** PQ-encode the corpus: each vector's m-th subvector slice maps to
    * its L2-nearest codeword — (n_id, sub, code) long form, m rows per
    * vector. The codes column set is the compressed corpus
    * representation. */
  def pqEncode(corpus: DataFrame, id: String, vec: String,
               codebooks: DataFrame, m: Int, subDims: Int): DataFrame =
    assignSubCells(subSlices(vectors(corpus, id, vec), m, subDims), codebooks)
      .select(col("n_id"), col("sub"), col("cell").as("code"))

  /** The PQ codes pivoted wide, (n_id, `0`..`m-1`): one row per vector,
    * the form the ADC scan and the persisted index read. */
  private def pqCodes(corpus: DataFrame, id: String, vec: String,
                      codebooks: DataFrame, m: Int, subDims: Int): DataFrame =
    pqEncode(corpus, id, vec, codebooks, m, subDims)
      .groupBy(col("n_id"))
      .pivot("sub", 0 until m)
      .agg(first(col("code")))

  /** The codewords' subspace width (one job). */
  private def subDims(books: DataFrame): Int =
    books.select(size(col("ctr"))).head.getInt(0)

  /** A persisted PQ index's codebooks and their subspace width. */
  private def readPqBooks(spark: org.apache.spark.sql.SparkSession,
                          dir: String): (DataFrame, Int) = {
    val books = spark.read.parquet(s"$dir/codebooks.parquet")
    (books, subDims(books))
  }

  /** A persisted PQ index's wide codes, spread by n_id: the index is
    * written compact (coalesced parquet), so the ADC scan is otherwise
    * one task wide; one exchange of the (n_id, codes) rows stays
    * index-only — no corpus scan enters the serve path
    * (operators.Spread). */
  private def readPqCodes(spark: org.apache.spark.sql.SparkSession,
                          dir: String): DataFrame =
    Spread.byKey(spark.read.parquet(s"$dir/codes.parquet"), col("n_id"))

  /** The ADC scan: every code row against every query's lookup table,
    * self-matches excluded. */
  private def adcScan(encoded: DataFrame, tables: DataFrame, m: Int,
                      k: Int): DataFrame =
    encoded.crossJoin(broadcast(tables))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), adcScore(m, k))

  /** ANN top-k by ASYMMETRIC DISTANCE over the PQ-compressed corpus,
    * with an exact shortlist re-rank: each query builds its m×k
    * inner-product lookup table against the codebooks (a per-query map
    * of m·k doubles), every corpus vector scores as the FIXED-ORDER
    * sum of its m table entries — m map lookups + m−1 additions per
    * pair instead of a dims-wide float dot against uncompressed
    * vectors the executor would have had to fetch — and only the
    * `shortlist` best ADC candidates per query touch full-precision
    * vectors in the exact-IP re-rank (the standard PQ serving shape:
    * the compressed scan bounds how much raw data moves). The
    * left-to-right ADC addition chain and the sequential-fold exact IP
    * are both what the oracle replays term-for-term (a groupBy sum
    * would re-order the doubles). Output ranks by
    * (rounded exact IP desc, n_id). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
             topK: Int, m: Int = 4, k: Int = 16,
             lloydIters: Int = 2, shortlist: Int = 50): DataFrame = {
    val (encoded, tables, q) = pqParts(corpus, queries, id, vec, m, k, lloydIters)
    exactIpRerank(adcScan(encoded, tables, m, k), "ip_pq", corpus, q, id,
      vec, topK, shortlist)
  }

  /** IVF+PQ — the composed serving architecture (FAISS's IVFADC; Jégou
    * et al. 2011 §V): the inverted file bounds WHICH vectors a query
    * scores (nprobe cells' residents, not the corpus) and product
    * quantization bounds WHAT each scored vector costs (m table
    * lookups on 48-bit codes, not a dims-wide float dot). At 100 TB
    * the two compose multiplicatively: shuffle only cell-matched code
    * rows, touch raw vectors only for the shortlist re-rank. Both
    * index structures are the deterministic builds the standalone
    * forms use (q51's cosine-Lloyd cells, q125's L2-Lloyd codebooks),
    * so the q127 oracle replays the whole composition from the same
    * two literal sets. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, id: String,
                vec: String, topK: Int, cells: Int = 16, nprobe: Int = 4,
                m: Int = 8, k: Int = 64, lloydIters: Int = 2,
                shortlist: Int = 50): DataFrame = {
    val c = graft.Checkpoints.checkpoint(vectors(corpus, id, vec))
    val centroids = lloydCentroids(c, cells, lloydIters)
    val idx = assignCells(c, centroids, 1)
    val (encoded, tables, q) = pqParts(corpus, queries, id, vec, m, k, lloydIters)
    val adc = rerank(ivfProbe(q, centroids, idx, nprobe), encoded, tables,
      adcScore(m, k))
    // c/centroids checkpoints stay pinned until the caller's
    // releaseAll — idx and the probe read them lazily (the ivfTopK
    // convention)
    exactIpRerank(adc, "ip_pq", corpus, q, id, vec, topK, shortlist)
  }

  /** The PQ serving triple: codes pivoted wide (n_id, c0..c{m-1}), the
    * per-query ADC lookup-table map, and the normalized query side. */
  private def pqParts(corpus: DataFrame, queries: DataFrame, id: String,
                      vec: String, m: Int, k: Int, lloydIters: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val books = graft.Checkpoints.checkpoint(pqTrain(corpus, id, vec, m, k, lloydIters))
    val sub = subDims(books)
    val encoded = pqCodes(corpus, id, vec, books, m, sub)
    val q = vectors(queries, id, vec, Query)
    (encoded, adcTables(books, q, m, k, sub), q)
  }

  /** Per-query ADC lookup table: one map column keyed by slot
    * (sub·k + cell) holding the IP of the query's `sub`-dim slice with
    * that codeword — m·k doubles per query, built against the
    * broadcast codebooks. */
  private def adcTables(books: DataFrame, q: DataFrame, m: Int, k: Int,
                        sub: Int): DataFrame =
    q.crossJoin(broadcast(books))
      .select(col("q_id"), (col("sub") * k + col("cell")).as("slot"),
        VectorFns.dot(slice(col("qv"), col("sub") * sub + lit(1), lit(sub)),
          col("ctr")).as("ip"))
      .groupBy(col("q_id"))
      .agg(map_from_entries(collect_list(
        struct(col("slot"), col("ip")))).as("tab"))

  /** Build the PQ index ONCE and PERSIST it: the m trained subspace
    * codebooks (sub, cell, ctr) and the corpus codes pivoted wide
    * (n_id, `0`..`m-1`) land as parquet under `outDir` — the
    * [[buildIvfIndex]] discipline applied to product quantization. At
    * 100 TB the codebook training (one bounded joint Lloyd loop) and
    * the one-pass corpus encode are a scheduled build job, not
    * per-query work; queries then run ADC scans against the written
    * codes via [[pqTopKIndexed]] / [[ivfPqTopKIndexed]] and touch raw
    * vectors only in the shortlist re-rank. Bit-deterministic training
    * (exact-integer Lloyd, [[MeanScale]]) + exact parquet double
    * round-trip ⇒ the written index equals what the in-flight forms
    * recompute (SimilaritySpec pins indexed ≡ in-flight), which is
    * also what lets q125/q127's literal-codebook oracles stay valid
    * over the persisted path. Codes are encoded against the WRITTEN
    * codebooks, so the persisted artifact is self-consistent. */
  def buildPqIndex(corpus: DataFrame, id: String, vec: String,
                   outDir: String, m: Int = 8, k: Int = 64,
                   lloydIters: Int = 2): Unit = {
    pqTrain(corpus, id, vec, m, k, lloydIters)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/codebooks.parquet")
    val (written, sub) = readPqBooks(corpus.sparkSession, outDir)
    pqCodes(corpus, id, vec, written, m, sub)
      .write.mode("overwrite").parquet(s"$outDir/codes.parquet")
  }

  /** ANN top-k by ADC over a PERSISTED PQ index ([[buildPqIndex]]):
    * the per-query lookup tables come from the written codebooks, the
    * scan runs over the written 48-bit codes, and the raw corpus
    * appears once — in the exact-IP re-rank of the `shortlist` best
    * ADC candidates. No Lloyd rounds, no encode pass per query: the
    * cost profile a compressed index exists for. */
  def pqTopKIndexed(indexDir: String, corpus: DataFrame, queries: DataFrame,
                    id: String, vec: String, topK: Int, m: Int = 8,
                    k: Int = 64, shortlist: Int = 50): DataFrame = {
    val spark = corpus.sparkSession
    val (books, sub) = readPqBooks(spark, indexDir)
    val q = vectors(queries, id, vec, Query)
    val adc = adcScan(readPqCodes(spark, indexDir),
      adcTables(books, q, m, k, sub), m, k)
    exactIpRerank(adc, "ip_pq", corpus, q, id, vec, topK, shortlist)
  }

  /** IVF+PQ over BOTH persisted indexes (the [[ivfPqTopK]] composition
    * served from disk): cell routing against the written IVF
    * centroids/assignments bounds WHICH codes are scored, the written
    * PQ codes bound WHAT each costs, and raw vectors move only for the
    * shortlist re-rank. The per-query work is a broadcast probe, one
    * cell-keyed join, an m-lookup ADC scan, and a `shortlist`-deep
    * re-rank — nothing scans the raw corpus. */
  def ivfPqTopKIndexed(ivfDir: String, pqDir: String, corpus: DataFrame,
                       queries: DataFrame, id: String, vec: String,
                       topK: Int, nprobe: Int = 4, m: Int = 8, k: Int = 64,
                       shortlist: Int = 50): DataFrame = {
    val spark = corpus.sparkSession
    val (books, sub) = readPqBooks(spark, pqDir)
    val q = vectors(queries, id, vec, Query)
    val cand = ivfProbe(q, ivfCentroids(spark, ivfDir),
      ivfPostings(spark, ivfDir), nprobe)
    val adc = rerank(cand, readPqCodes(spark, pqDir),
      adcTables(books, q, m, k, sub), adcScore(m, k))
    exactIpRerank(adc, "ip_pq", corpus, q, id, vec, topK, shortlist)
  }

  /** The FIXED-ORDER m-term ADC sum — left-to-right so the oracle can
    * replay it term-for-term — rounded as `ip_pq`. */
  private def adcScore(m: Int, k: Int): Column =
    round((0 until m).map(mi =>
      element_at(col("tab"), lit(mi.toLong * k) + col(s"$mi")))
      .reduce(_ + _), 4).as("ip_pq")

  /** Shortlist each query's `shortlist` best rows by the approximate
    * score `approx` (ADC or integer SQ), then re-rank them by the exact
    * IP against the raw corpus, rounded as `ip` — a sequential fold the
    * PQ/SQ oracles replay term for term. */
  private def exactIpRerank(scored: DataFrame, approx: String,
                            corpus: DataFrame, q: DataFrame, id: String,
                            vec: String, topK: Int,
                            shortlist: Int): DataFrame = {
    val cand = bestPerQuery(scored, approx, shortlist)
      .select(col("q_id"), col("n_id"))
    bestPerQuery(rerank(cand, vectors(corpus, id, vec), q,
      round(VectorFns.dot(col("qv"), col("cv")), 4).as("ip")), "ip", topK)
  }

  /** Two-level (coarse-quantizer) cell assignment — the FAISS-style
    * answer to flat assignment's n·cells cosine cost: cluster the
    * CENTROIDS into ~√cells super-cells, route each vector to its
    * `superProbe` nearest super-cells, and score only the centroids
    * living there — n·superProbe·√cells cosines instead of n·cells.
    * With `superProbe` = number of super-cells this is EXACTLY flat
    * assignment (every centroid scored; SimilaritySpec asserts the
    * equivalence); smaller superProbe trades a little assignment
    * recall for the √cells factor. */
  private[graft] def assignCellsHierarchical(vecs: DataFrame, centroids: DataFrame,
                                             take: Int, superProbe: Int = 4): DataFrame = {
    val asCorpus = centroids.select(col("cell").as("n_id"), col("ctr").as("cv"))
    val nSupers = math.max(2L,
      math.round(math.sqrt(asCorpus.count().toDouble))).toInt
    val supers = lloydCentroids(asCorpus, nSupers, iters = 1)
      .select(col("cell").as("sup"), col("ctr"))
    val centToSuper = assignCells(asCorpus,
        supers.select(col("sup").as("cell"), col("ctr")), 1)
      .select(col("n_id").as("cell"), col("cell").as("sup"))
    val vecToSuper = assignCells(vecs,
        supers.select(col("sup").as("cell"), col("ctr")),
        math.min(superProbe, nSupers))
      .select(col("n_id"), col("cell").as("sup"))
    // score each vector only against centroids of its probed supers
    val candCentroids = vecToSuper
      .join(broadcast(centToSuper.join(centroids, "cell")), "sup")
    nearestCells(candCentroids.join(vecs, "n_id"), take)
  }

  /** ANN top-k: candidates = corpus vectors sharing ≥1 LSH band bucket
    * with the query, re-ranked by exact cosine.
    *
    * Multi-probe (`probes` Hamming-1 neighbors per query band key,
    * lowest band bits first; 0 = exact-bucket only): the standard
    * recall amplifier — a boundary vector whose projection sits near
    * a hyperplane lands one bit away, and probing that bucket
    * recovers it without adding planes or corpus-side state.
    * Candidate cost grows ×(1 + probes) on the QUERY side only; the
    * corpus index is untouched — at 100 TB the corpus shuffle is the
    * expensive side, so recall is bought on the cheap side. Default
    * probes = rowsPerBand = 4 from the measured recall/cost pair at
    * sf0.1 (ScaleProbe `ann-probes`: recall 0.52 → 0.80 → 0.95 for
    * 0/2/4 probes at flat ~0.75 s wall — the exact re-rank, not the
    * probe fan-out, dominates at this scale; see COVERAGE.md). */
  def signLshTopK(corpus: DataFrame, queries: DataFrame, id: String,
                  vec: String, k: Int, numPlanes: Int = 16,
                  rowsPerBand: Int = 4, probes: Int = 4): DataFrame = {
    require(probes >= 0 && probes <= rowsPerBand,
      "probes is a count of flipped band-key bits, 0 to rowsPerBand")
    val cb = signLshBuckets(corpus, id, vec, numPlanes, rowsPerBand)
      .select(col(id).as("n_id"), col("band"), col("bkey"))
    val qb0 = signLshBuckets(queries, id, vec, numPlanes, rowsPerBand)
      .select(col(id).as("q_id"), col("band"), col("bkey"))
    val qb = if (probes == 0) qb0
      else qb0.select(col("q_id"), col("band"),
        explode(array(col("bkey") +:
          (0 until probes).map(i =>
            col("bkey").bitwiseXOR(lit(1L << i))): _*)).as("bkey"))
    val cand = cb.join(qb, Seq("band", "bkey"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id")).distinct()
    bestPerQuery(rerank(cand, vectors(corpus, id, vec),
      vectors(queries, id, vec, Query), cosScore), "cos", k)
  }

  /** Semantic dedup KEEPER over an embedding column (the SemDeDup
    * shape, Abbas et al. 2023 — public method): IVF-blocked
    * near-dup pairs at `minCos` ([[cosinePairsIvf]] — the
    * low-threshold 100 TB path) → connected components (star
    * contraction, O(log n) rounds) → one canonical survivor per
    * semantic group (the component's min id — deterministic). Every
    * input row comes back with its group's canonical id, the group
    * size, and a keep flag; downstream curation filters `keep` to
    * drop all-but-one of each near-duplicate cluster.
    *
    * Scale shape: candidates are cell-bounded (never all-pairs), the
    * CC loop is the same keyed dataflow as q34/q78, and the final
    * assignment is one left join + one group count — no step touches
    * the raw vectors after pair verification. */
  def semanticDedup(emb: DataFrame, id: String, vec: String,
                    minCos: Double): DataFrame =
    // checkpointed: the CC loop consumes the edge list twice (vertex
    // set + round 0) and would otherwise evaluate the whole IVF pair
    // pipeline per consumer
    dedupKeeper(emb, id, graft.Checkpoints.checkpoint(
      cosinePairsIvf(emb, id, vec, minCos)
        .select(col("id_a").as("a"), col("id_b").as("b"))))

  /** [[semanticDedup]] with the near-dup pairs served from a PERSISTED
    * index ([[buildIvfDedupIndex]] / [[cosinePairsIvfIndexed]]) — the
    * production SemDeDup split: the Lloyd build is a scheduled job,
    * the dedup run pays only cell-join + verify + components.
    * Bit-identical output to the in-flight form at the same index
    * parameters (SimilaritySpec pins it), so the q141 oracle applies
    * unchanged. */
  def semanticDedupIndexed(indexDir: String, emb: DataFrame, id: String,
                           vec: String, minCos: Double): DataFrame =
    dedupKeeper(emb, id, graft.Checkpoints.checkpoint(
      cosinePairsIvfIndexed(indexDir, emb, id, vec, minCos)
        .select(col("id_a").as("a"), col("id_b").as("b"))))

  /** Shared [[semanticDedup]] tail: near-dup edge list → star-
    * contraction components → min-id canonical assignment with group
    * size and keep flag. `pairs` must already be checkpointed (the CC
    * loop reads it more than once). */
  private def dedupKeeper(emb: DataFrame, id: String,
                          pairs: DataFrame): DataFrame = {
    val comps = Graph.connectedComponentsStar(pairs)
    // echo the caller's id column name in the output (the sibling-
    // operator convention) — `__sd_id` is a collision-safe internal
    val assign = emb.select(col(id).as("__sd_id"))
      .join(comps, col("__sd_id") === col("v"), "left")
      .select(col("__sd_id"),
        coalesce(col("comp"), col("__sd_id")).as("canonical_id"))
    val sizes = assign.groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("n_members"))
    assign.join(sizes, "canonical_id")
      .select(col("__sd_id").as(id), col("canonical_id"),
        col("n_members"),
        (col("__sd_id") === col("canonical_id")).as("keep"))
  }

  /** Scalar-quantization (SQ8) training: per-dimension [lo, hi] over
    * the corpus — `dim` rows, the smallest artifact in the quantized
    * -ANN family (IVF centroids, PQ codebooks, SQ8 ranges). One
    * posexplode pass, a `dim`-group aggregate. */
  def sqTrain(corpus: DataFrame, id: String, vec: String): DataFrame =
    corpus
      .select(posexplode(VectorFns.toDoubleArr(col(vec)))
        .as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))

  /** The trained SQ8 ranges collected to the driver — BOUNDED: exactly
    * one row per embedding dimension — sorted by dim, for literal
    * embedding in the code expression and the oracle replay. */
  def collectedSqParams(corpus: DataFrame, id: String,
                        vec: String): Seq[(Int, Double, Double)] =
    sqTrain(corpus, id, vec).collect().toSeq
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)

  /** SYMMETRIC int8 codes c_d = clamp(⌊x_d·127/s⌋, −127, 127) with ONE
    * global scale s = max|x| over the corpus. Symmetric-global is the
    * rank-faithful choice: Σ c_a·c_b = (127/s)²·Σ x̂_a·x̂_b, a single
    * positive factor, so the INTEGER dot orders exactly like the
    * quantized inner product (measured recall@5 = 0.992 on the fixture
    * vs 0.80 for per-dim scales, whose 1/s_d² reweighting distorts the
    * metric, and 0.28 for unsigned offset codes, whose dropped cross
    * terms break it). The scale literal rides the plan — encoding is
    * one codegen'd `transform`, and the (x·127.0)/s op order is
    * mirrored verbatim by the oracle, bit-reproducible cross-engine. */
  private def sqCodeExpr(vec: Column, scale: Double): Column =
    transform(vec, x =>
      least(greatest(floor(x * lit(127.0) / lit(scale)), lit(-127L)),
        lit(127L)).cast("long"))

  /** The global scale from the persisted per-dim ranges: max over dims
    * of max(|lo|, |hi|) — exact double compares, so any session derives
    * the identical scalar from the identical parquet. An all-zero
    * corpus degrades to s = 1 (every code 0). */
  private def sqScale(params: Seq[(Int, Double, Double)]): Double = {
    val s = params.map(p => math.max(math.abs(p._2), math.abs(p._3))).max
    if (s > 0) s else 1.0
  }

  private def readSqParams(spark: org.apache.spark.sql.SparkSession,
                           dir: String): Seq[(Int, Double, Double)] =
    spark.read.parquet(s"$dir/params.parquet").collect().toSeq
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)

  /** Build the SQ8 index ONCE and PERSIST it (the [[buildIvfIndex]]
    * convention): per-dim ranges + uint8 codes land as parquet under
    * `outDir`, and encoding runs against the WRITTEN params so the
    * persisted artifact is the source of truth. 4× smaller corpus
    * representation (64 bytes vs 256 for 64 float dims) with integer
    * dot-product serving — the storage/bandwidth member of the
    * quantization family, vs PQ's 48-bit codes + table lookups. */
  def buildSqIndex(corpus: DataFrame, id: String, vec: String,
                   outDir: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    collectedSqParams(corpus, id, vec).toDF("dim", "lo", "hi")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/params.parquet")
    val written = sqScale(readSqParams(spark, outDir))
    corpus.select(col(id).as("n_id"),
        sqCodeExpr(VectorFns.toDoubleArr(col(vec)), written).as("codes"))
      .write.mode("overwrite").parquet(s"$outDir/codes.parquet")
  }

  /** ANN top-k against a PERSISTED SQ8 index: queries are quantized
    * with the written global scale, the compressed corpus is scanned
    * with a pure INTEGER dot product (|Σ| ≤ 64·127² < 2²⁰ — exact in
    * int64 and in the oracle's float64), and only the `shortlist`-deep
    * integer-score winners pay the exact float re-rank — the int8-GEMM
    * serving architecture. The integer scores make the shortlist
    * selection exactly reproducible cross-engine (no float-sum tie
    * hazards before the re-rank). */
  def sqTopKIndexed(indexDir: String, corpus: DataFrame, queries: DataFrame,
                    id: String, vec: String, topK: Int,
                    shortlist: Int = 50): DataFrame = {
    val spark = corpus.sparkSession
    val scale = sqScale(readSqParams(spark, indexDir))
    val codes = spark.read.parquet(s"$indexDir/codes.parquet")
    val q = vectors(queries, id, vec, Query)
    val qc = q.select(col("q_id"), sqCodeExpr(col("qv"), scale).as("qcodes"))
    val scored = codes.join(broadcast(qc), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        aggregate(zip_with(col("qcodes"), col("codes"), _ * _),
          lit(0L), _ + _).as("sq_ip"))
    exactIpRerank(scored, "sq_ip", corpus, q, id, vec, topK, shortlist)
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998 — public): for EVERY query simultaneously, greedily
    * select `k` of its `nCand` exact-cosine candidates trading
    * relevance against redundancy — each round picks
    * argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s). Reference
    * grounding: the recommendation surface
    * (`data/samples/PaperRecommandations.txt`) ranks by raw
    * similarity; MMR is the standard diversification on top of it.
    *
    * Exact-arithmetic discipline: rel and sim are the q178 scaled
    * integers round(cos·10⁴), and λ = 1/2, so the argmax key reduces
    * to the INTEGER rel − maxsim (the common factor 2 cannot change an
    * argmax) — every round replays exactly cross-engine, no float-sum
    * tie hazards. Ties break on smaller neighbor id. Redundancy is
    * clamped at 0 (an anti-similar selected item is not a diversity
    * BONUS), which also makes each query's pick-score sequence
    * non-increasing — the spec's monotonicity certificate.
    *
    * Scale shape: this is the grouped-greedy form — ALL queries
    * advance one round per pass with keyed joins + a per-group
    * row_number window; there is NO per-query driver loop and no
    * driver traffic at all (unlike the corpus-global greedy q170,
    * whose argmax is one scalar). Candidate lists are nCand-bounded,
    * so the pairwise-sim relation is ≤ |Q|·nCand² rows by
    * construction, and each of the k fixed rounds is one join +
    * groupBy + window over ≤ |Q|·nCand rows.
    *
    * Returns (q_id, round, n_id, rel, maxsim, score) — round 1 has
    * maxsim = 0 (empty S), score = rel − maxsim throughout. Groups
    * with fewer than k candidates exhaust naturally (no rows for
    * their later rounds). */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, id: String,
                vec: String, nCand: Int = 10, k: Int = 5): DataFrame = {
    require(k >= 1 && nCand >= k, "need at least k candidates per query")
    // candidate generation: the bruteForceTopK shape, but scores kept
    // as scaled ints and the candidate VECTOR carried for the
    // pairwise-sim stage
    val c = vectors(corpus, id, vec, spread = true)
    val q = vectors(queries, id, vec, Query)
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), col("cv"),
        round(ArrayCosine.cosine(col("qv"), col("cv")) * 10000, 0)
          .cast("long").as("rel"))
    val cand = graft.Checkpoints.checkpoint(
      bestPerQuery(scored, "rel", nCand)
        .select(col("q_id"), col("n_id"), col("cv"), col("rel")))
    // pairwise sims WITHIN each query's candidate list (≤ nCand² per
    // group — bounded by construction, never corpus-quadratic)
    val sims = graft.Checkpoints.checkpoint(
      cand.select(col("q_id"), col("n_id"), col("cv"))
        .join(cand.select(col("q_id"), col("n_id").as("m_id"),
          col("cv").as("cv2")), Seq("q_id"))
        .filter(col("n_id") =!= col("m_id"))
        .select(col("q_id"), col("n_id"), col("m_id"),
          // redundancy is clamped at 0: an ANTI-similar selected item
          // must not turn the penalty into a bonus (and the clamp is
          // what makes the per-query score sequence non-increasing —
          // maxsim only grows as S grows, from a floor of 0)
          greatest(round(ArrayCosine.cosine(col("cv"), col("cv2")) * 10000, 0)
            .cast("long"), lit(0L)).as("sim")))
    val lean = cand.select(col("q_id"), col("n_id"), col("rel"))
    // round 1: per-group argmax on rel alone (S is empty, maxsim = 0)
    val first = bestPerQuery(lean, "rel", 1)
      .select(col("q_id"), lit(1L).as("round"), col("n_id"), col("rel"),
        lit(0L).as("maxsim"), col("rel").as("score"))
    var selected = graft.Checkpoints.checkpoint(first)
    var remaining = graft.Checkpoints.checkpoint(
      lean.join(first.select(col("q_id"), col("n_id")),
        Seq("q_id", "n_id"), "left_anti"))
    var r = 2
    while (r <= k) {
      // max sim of each remaining candidate to its query's selected set
      val ms = remaining
        .join(sims, Seq("q_id", "n_id"))
        .join(selected.select(col("q_id"), col("n_id").as("m_id")),
          Seq("q_id", "m_id"))
        .groupBy(col("q_id"), col("n_id"), col("rel"))
        .agg(max(col("sim")).as("maxsim"))
      val pick = bestPerQuery(
        ms.withColumn("score", col("rel") - col("maxsim")), "score", 1)
        .select(col("q_id"), lit(r.toLong).as("round"), col("n_id"),
          col("rel"), col("maxsim"), col("score"))
      val nsel = graft.Checkpoints.checkpoint(selected.unionByName(pick))
      val nrem = graft.Checkpoints.checkpoint(
        remaining.join(pick.select(col("q_id"), col("n_id")),
          Seq("q_id", "n_id"), "left_anti"))
      graft.Checkpoints.release(selected)
      graft.Checkpoints.release(remaining)
      selected = nsel
      remaining = nrem
      r += 1
    }
    graft.Checkpoints.release(remaining)
    graft.Checkpoints.release(cand)
    graft.Checkpoints.release(sims)
    // the final selected checkpoint is the RESULT — leave it to the
    // caller's releaseAll (returning a released frame would violate
    // the release contract)
    selected
  }

  /** Greedy k-center (farthest-point traversal — Gonzalez 1985's
    * 2-approximation; the coreset/diversity pick of Sener & Savarese,
    * ICLR 2018 active learning — both public): seed at the smallest
    * id, then k−1 rounds of "pick the point farthest from the current
    * center set", maintaining each point's min-distance-to-centers
    * incrementally (one `least` update per round against the single
    * new center — never recomputed against the whole set).
    *
    * Distance is the scaled-int cosine distance 10⁴ − round(cos·10⁴)
    * ∈ [0, 2·10⁴] (the q178 integer convention), so every pick and
    * every radius replays exactly cross-engine; ties break on smaller
    * id. Already-selected centers are excluded from the argmax
    * explicitly (their min-dist collapses to 0, but exact-duplicate
    * vectors could otherwise tie back in at radius 0).
    *
    * Scale shape: per round ONE map-side pass — the new center is a
    * 1-row broadcast cross join, the min-dist update is a `least`
    * projection (no shuffle at all) — plus the q170-convention 1-ROW
    * driver argmax (`orderBy.limit(1)` = distributed TakeOrdered;
    * the only driver traffic is one scalar row per round). The
    * carried (point, mind) relation checkpoints with eager release.
    *
    * Returns (round, vec_id, radius): radius = the max-min-distance
    * that justified the pick (the coverage radius of the PREVIOUS
    * center set); round 1's radius is the metric's diameter bound
    * 20000 by convention (documented sentinel — no previous set
    * exists). The radius sequence is non-increasing: it is the
    * k-center objective curve. */
  def kCenterGreedy(emb: DataFrame, id: String, vec: String,
                    k: Int): DataFrame = {
    require(k >= 1, "pick at least one center")
    val spark = emb.sparkSession
    val pts = graft.Checkpoints.checkpoint(
      vectors(emb, id, vec, Side("vec_id", "pv"), spread = true))
    val seedRow = pts.orderBy(col("vec_id")).limit(1).collect()
    if (seedRow.isEmpty) { // empty input: nothing to cover
      graft.Checkpoints.release(pts)
      import spark.implicits._
      return Seq.empty[(Long, Long, Long)].toDF("round", "vec_id", "radius")
    }
    val seed = seedRow.head.getLong(0)
    def centerVec(cid: Long) = broadcast(
      pts.filter(col("vec_id") === cid).select(col("pv").as("ctrv")))
    // scaled-int cosine distance to the (1-row) broadcast center
    def distToCtr: Column =
      lit(10000L) - round(ArrayCosine.cosine(col("pv"), col("ctrv")) * 10000, 0)
        .cast("long")
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    picks += ((1L, seed, 20000L))
    var mind = graft.Checkpoints.checkpoint(
      pts.crossJoin(centerVec(seed))
        .select(col("vec_id"), col("pv"), distToCtr.as("mind")))
    var r = 2
    while (r <= k) {
      val chosen = picks.map(_._2)
      val top = mind.filter(!col("vec_id").isin(chosen.toSeq: _*))
        .orderBy(col("mind").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("mind")).collect()
      if (top.isEmpty) r = k + 1 // fewer points than k: exhausted
      else {
        val cid = top.head.getLong(0)
        picks += ((r.toLong, cid, top.head.getLong(1)))
        if (r < k) {
          val nxt = graft.Checkpoints.checkpoint(
            mind.crossJoin(centerVec(cid))
              .select(col("vec_id"), col("pv"),
                least(col("mind"), distToCtr).as("mind")))
          graft.Checkpoints.release(mind)
          mind = nxt
        }
        r += 1
      }
    }
    graft.Checkpoints.release(mind)
    graft.Checkpoints.release(pts)
    import spark.implicits._
    picks.toSeq.toDF("round", "vec_id", "radius")
  }
}
