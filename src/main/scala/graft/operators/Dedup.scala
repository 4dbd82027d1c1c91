package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Document deduplication family (SURVEY.md §2.11; grounded in the
  * reference's author-disambiguation archive `archive/links.md:6-39`).
  *
  * Scale design: every variant is a pure dataflow — normalize/shingle
  * per-row, aggregate per-doc, then a key-equality shuffle (group or
  * join). Nothing collects to the driver; candidate generation is
  * always through a bucketing key (exact key, LSH band, simhash
  * prefix), never an all-pairs cross join.
  */
object Dedup {

  /** Exact duplicate groups over a normalized text key (optionally a
    * prefix, for near-exact head dedup). Returns one row per key group:
    * the survivor (min id) and the group size. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String,
                  prefixLen: Int = Int.MaxValue): DataFrame = {
    val key = if (prefixLen == Int.MaxValue) TextFns.norm(col(textCol))
              else substring(TextFns.norm(col(textCol)), 1, prefixLen)
    df.groupBy(key.as("dup_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** Distinct (id, shingle) pairs — the unit of Jaccard/minhash work.
    *
    * Implemented as posexplode + windowed `lead` rather than the
    * array-HOF form (`transform` + `slice` + `concat_ws` per element):
    * the HOF path is interpreted and copies a sub-array per shingle,
    * and profiling showed it dominating the whole Jaccard join. The
    * window form is one shuffle on the doc id and stays in codegen. */
  def docShingles(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val base = df.select(col(idCol),
      posexplode(TextFns.words(TextFns.norm(col(textCol)))).as(Seq("pos", "w0")))
    val withLeads = (1 until n).foldLeft(base)((acc, k) =>
      acc.withColumn(s"w$k", lead(col("w0"), k).over(w)))
    withLeads.filter(col(s"w${n - 1}").isNotNull)
      .select(col(idCol),
        concat_ws(" ", (0 until n).map(k => col(s"w$k")): _*).as("sh"))
      .distinct()
  }

  /** Exact pairwise n-gram Jaccard ≥ t via a PPJoin-style prefix-filter
    * join (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    * Detection", WWW'08 — public algorithm):
    *
    *  1. order each doc's shingles by global rarity (doc-freq asc);
    *  2. index only the first |A| - ⌈t'·|A|⌉ + 1 rarest shingles, with
    *     t' slightly below t so every pair whose ROUNDED jaccard can
    *     reach the threshold is covered — two docs with Jaccard ≥ t'
    *     MUST share one inside these prefixes;
    *  3. candidate pairs from the prefix inverted index only, then
    *     verify exactly with a full-set intersection.
    *
    * Identical output to the naive inverted-index join, but the join
    * never touches high-frequency shingles (a ubiquitous shingle is in
    * almost no prefix), which removes the Σf² blowup that dominates at
    * scale. Output: id_a, id_b, jaccard (rounded 4). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, minJaccard: Double = 0.4): DataFrame = {
    // Shingle STRINGS are hashed to 8-byte longs ONCE here; rarity
    // ranking, the prefix index, the candidate join, and verification
    // all run on longs — far cheaper shuffles, compares, and array
    // intersects than ~20-byte strings. sz (distinct-shingle count) is
    // computed on the already-distinct shingle set, so sz and the
    // verified overlap stay exact; a 64-bit collision merging two
    // shingles of one doc has probability ~sz²·2⁻⁶⁴ — negligible.
    // Materialized once: referenced by both the rarity aggregate and
    // the rank join, which would otherwise recompute the shingling.
    val sh = graft.Checkpoints.checkpoint(docShingles(df, idCol, textCol, n)
      .select(col(idCol), xxhash64(col("sh")).as("hk")))
    // global rarity rank; ties broken by shingle hash for determinism.
    // The doc-frequency is a WINDOW count over the shingle hash (sh is
    // distinct per (doc, shingle), so the partition size IS the df) —
    // one shuffle on hk, where a groupBy + join back would shuffle the
    // same rows twice.
    val ranked = sh
      .withColumn("df_", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("hk"))))
      .withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol)).orderBy(col("df_"), col("hk"))))
    // two views of each doc's shingle-hash set: `shs` rank-ordered
    // (rarity prefix slicing), `shv` value-sorted (merge-scan verify)
    val docs = graft.Checkpoints.checkpoint(ranked.groupBy(col(idCol))
      .agg(count(lit(1)).as("sz"),
        collect_list(struct(col("rnk"), col("hk"))).as("shl"))
      .select(col(idCol), col("sz"),
        transform(array_sort(col("shl")), _.getField("hk")).as("shs"),
        array_sort(transform(col("shl"), _.getField("hk"))).as("shv")))
      // tiny per-doc rows; reused by index + verify. `sh` fed only the
      // `docs` materialization just completed — drop its blocks now.
    graft.Checkpoints.release(sh)
    // The VERIFY filter accepts round(jaccard, 4) >= t (the oracle's
    // semantics), so candidate generation must be complete for every
    // pair whose TRUE jaccard can round up across the threshold:
    // the filters below are derived from the loosened threshold
    // tLoose = floor(t·100000 - 5)/100000 <= t - 0.00005 (exact
    // integer scale 100000), never from t itself.
    val tScaled = math.max(0L, math.floor(minJaccard * 100000L).toLong - 5)
    // prefix index: at least sz - ceil(tLoose·sz) + 1 rarest shingles
    // (floor instead of ceil = one extra slot when fractional — double
    // noise in sz·tLoose can never shorten the prefix below the bound),
    // with the in-prefix position kept for the positional filter
    val prefix = docs.select(col(idCol), col("sz"),
        posexplode(slice(col("shs"), lit(1),
          (col("sz") - floor(col("sz") * (tScaled / 100000.0)) + 1).cast("int"))))
      .select(col(idCol), col("sz"), (col("pos") + 1).as("rnk"),
        col("col").as("hk"))
    // positional filter: tokens remaining after the match position must
    // still be able to reach the overlap bound α = ⌈t'/(1+t')·(za+zb)⌉.
    // The compare is EXACT integer math — 1+least ≥ t'/(1+t')·(za+zb)
    // multiplied through as (1+least)·(S+T) ≥ T·(za+zb) with t' = T/S —
    // because double ceil() can land one ulp above the rational bound
    // and wrongly prune pairs sitting exactly at the threshold.
    val cands = prefix.select(col(idCol).as("id_a"), col("sz").as("za"),
        col("rnk").as("ra"), col("hk"))
      .join(prefix.select(col(idCol).as("id_b"), col("sz").as("zb"),
        col("rnk").as("rb"), col("hk")), Seq("hk"))
      .filter(col("id_a") < col("id_b") &&
        // LENGTH filter (PPJoin Lemma 1): jaccard >= t forces
        // min(za,zb) >= t·max(za,zb) (overlap <= min, union >= max) —
        // prunes size-mismatched pairs before the distinct. Same
        // exact-integer t' form as the positional filter below.
        least(col("za"), col("zb")) * 100000L >=
          lit(tScaled) * greatest(col("za"), col("zb")) &&
        (lit(1) + least(col("za") - col("ra"), col("zb") - col("rb"))) *
          lit(100000L + tScaled) >= lit(tScaled) * (col("za") + col("zb")))
      .select(col("id_a"), col("id_b")).distinct()
    // exact verification on the value-sorted arrays: a codegen merge
    // scan (graft.functions.SortedLongOverlap) — no per-pair hash set
    cands
      .join(docs.select(col(idCol).as("id_a"), col("sz").as("sz_a"),
        col("shv").as("shv_a")), "id_a")
      .join(docs.select(col(idCol).as("id_b"), col("sz").as("sz_b"),
        col("shv").as("shv_b")), "id_b")
      .withColumn("co",
        graft.functions.SortedLongOverlap.overlap(col("shv_a"), col("shv_b")))
      .select(col("id_a"), col("id_b"),
        round(col("co").cast("double") / (col("sz_a") + col("sz_b") - col("co")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** ASYMMETRIC near-dup: shingle CONTAINMENT pairs — the subset
    * detector symmetric Jaccard is blind to. A short doc quoted whole
    * inside a long one has J = |A|/|B| (arbitrarily small) but
    * containment C(A→B) = |S(A)∩S(B)| / |S(A)| = 1; training-data
    * pipelines need this direction to drop quotes, boilerplate
    * inclusions, and truncated re-crawls that survive a Jaccard gate.
    *
    * Candidate generation is the containment form of the PPJoin prefix
    * rule: the CONTAINED side probes with its sz − ⌈τ·sz⌉ + 1 RAREST
    * shingles (global-df rank, the [[ngramJaccardPairs]] index), while
    * the container side must index every shingle — no symmetric length
    * filter exists (that asymmetry is the operator's point). Candidate
    * volume is Σ_prefix df(shingle); rarity-first prefixes keep it
    * near-linear. The positional filter on the probe side and the
    * verify threshold are EXACT integer math (τ = tNum/tDen, never a
    * double): a's remaining tokens after the match rank must reach
    * ⌈τ·sz_a⌉, i.e. (1 + sz_a − rnk)·tDen ≥ tNum·sz_a.
    *
    * Verification is the same codegen merge-scan
    * ([[graft.functions.SortedLongOverlap]]) on value-sorted hash
    * arrays. Returns ORDERED pairs (id_a = contained, id_b =
    * container, n_shared, sz_a, c_x10k = ⌊co·10⁴/sz_a⌋) — a
    * mutually-containing near-identical pair appears in both
    * directions. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, tNum: Long = 7,
                       tDen: Long = 10): DataFrame = {
    require(tNum > 0 && tNum <= tDen, s"need 0 < tNum/tDen <= 1: $tNum/$tDen")
    val sh = graft.Checkpoints.checkpoint(docShingles(df, idCol, textCol, n)
      .select(col(idCol), xxhash64(col("sh")).as("hk")))
    val ranked = sh
      .withColumn("df_", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("hk"))))
      .withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol)).orderBy(col("df_"), col("hk"))))
    val docs = graft.Checkpoints.checkpoint(ranked.groupBy(col(idCol))
      .agg(count(lit(1)).as("sz"),
        collect_list(struct(col("rnk"), col("hk"))).as("shl"))
      .select(col(idCol), col("sz"),
        transform(array_sort(col("shl")), _.getField("hk")).as("shs"),
        array_sort(transform(col("shl"), _.getField("hk"))).as("shv")))
    graft.Checkpoints.release(sh)
    // probe prefix: ceil(τ·sz) = (sz·tNum + tDen − 1) div tDen, all long
    val alpha = floor((col("sz") * tNum + (tDen - 1)) / tDen).cast("long")
    val prefix = docs.select(col(idCol), col("sz"),
        posexplode(slice(col("shs"), lit(1),
          (col("sz") - alpha + 1).cast("int"))))
      .select(col(idCol), col("sz"), (col("pos") + 1).as("rnk"),
        col("col").as("hk"))
    val cands = prefix.select(col(idCol).as("id_a"), col("sz").as("za"),
        col("rnk").as("ra"), col("hk"))
      .join(docs.select(col(idCol).as("id_b"),
          explode(col("shv")).as("hk")), Seq("hk"))
      .filter(col("id_a") =!= col("id_b") &&
        (lit(1) + col("za") - col("ra")) * lit(tDen) >= lit(tNum) * col("za"))
      .select(col("id_a"), col("id_b")).distinct()
    cands
      .join(docs.select(col(idCol).as("id_a"), col("sz").as("sz_a"),
        col("shv").as("shv_a")), "id_a")
      .join(docs.select(col(idCol).as("id_b"), col("shv").as("shv_b")),
        "id_b")
      .withColumn("co",
        graft.functions.SortedLongOverlap.overlap(col("shv_a"), col("shv_b"))
          .cast("long"))
      .filter(col("co") * lit(tDen) >= lit(tNum) * col("sz_a"))
      .select(col("id_a"), col("id_b"), col("co").as("n_shared"),
        col("sz_a"),
        floor(col("co") * 10000L / col("sz_a")).cast("long").as("c_x10k"))
  }

  /** Prime modulus of the portable shingle/word hash ([[docShingleKeys]])
    * and the affine minhash permutations — shared with the generated
    * DuckDB oracle SQL (TextQueries q26), so signatures replay
    * cross-engine. 2^31 - 1 keeps every product a_i·k < 2^61: exact on
    * both engines (DuckDB RAISES on BIGINT overflow where Spark wraps). */
  private[graft] val MinhashMod = 2147483647L

  /** Per-permutation affine constants (a_i ∈ [1, M), b_i ∈ [0, M)) —
    * seeded-deterministic, generated ONCE on the driver and embedded as
    * literals in both the Spark plan and the oracle SQL. A prefix is
    * stable in `n`: perms(8) == perms(32).take(8). */
  private[graft] def minhashPerms(n: Int): Seq[(Long, Long)] = {
    val r = new scala.util.Random(20260812L)
    Seq.fill(n)((1L + r.nextInt((MinhashMod - 1).toInt).toLong,
                 r.nextInt(MinhashMod.toInt).toLong))
  }

  /** Distinct (id, shingle-KEY) pairs with an engine-portable long key:
    * per-word polynomial hash (fold(acc·31 + ascii) mod 1e9+7, the q23
    * fingerprint family) combined across the n-gram with the same
    * fold — every step is exact nonnegative int64 arithmetic a DuckDB
    * oracle recomputes verbatim. Same window-lead shape as
    * [[docShingles]] (the words are hashed BEFORE the leads, so the
    * n-gram combine touches 3 longs, not 3 strings). */
  def docShingleKeys(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val base = df.select(col(idCol),
        posexplode(TextFns.words(TextFns.norm(col(textCol)))).as(Seq("pos", "w")))
      .select(col(idCol), col("pos"), TextFns.polyHash(col("w")).as("h0"))
    val withLeads = (1 until n).foldLeft(base)((acc, k) =>
      acc.withColumn(s"h$k", lead(col("h0"), k).over(w)))
    withLeads.filter(col(s"h${n - 1}").isNotNull)
      .select(col(idCol),
        (1 until n).foldLeft(col("h0"))((acc, k) =>
          pmod(acc * lit(31L) + col(s"h$k"), lit(1000000007L))).as("shk"))
      .distinct()
  }

  /** Benchmark DECONTAMINATION census (Brown et al., "Language Models
    * are Few-Shot Learners", appendix C; Gao et al., "The Pile" — both
    * public methodology): per corpus document, how many of its n-gram
    * shingles occur in ANY benchmark document — the check a training
    * pipeline runs so eval data never leaks into the training mix.
    * Distinct from dedup: the comparison set is an EXTERNAL benchmark,
    * not the corpus itself, and the verdict is per-corpus-doc with the
    * overlap magnitude, not a pair list.
    *
    * Scale shape: benchmarks are small by nature (MBs of eval sets vs
    * TBs of corpus), so the distinct benchmark shingle-key set is
    * BROADCAST and the corpus side streams map-side through one hash
    * probe — the corpus is never shuffled except the per-doc count on
    * its own id. Shingle keys ride [[docShingleKeys]]' portable
    * polynomial chain, so an oracle replays every key. Documents
    * shorter than n words carry no n-gram evidence and are not in the
    * census (no shingles ⇒ no verdict).
    *
    * Returns one row per corpus doc with ≥ 1 shingle: (id, n_shingles,
    * n_hit, contaminated = 1 iff any shingle hit). */
  def contaminationCensus(corpus: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String,
                          n: Int = 5): DataFrame = {
    // two consumers (total + hit counts) — shingle once
    val sh = graft.Checkpoints.checkpoint(
      docShingleKeys(corpus, idCol, textCol, n))
    val benchKeys = docShingleKeys(benchmark, idCol, textCol, n)
      .select(col("shk")).distinct()
    val totals = sh.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"))
    val hits = sh.join(broadcast(benchKeys), "shk")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    // materialize the verdicts so sh (the shared shingle block) can be
    // released HERE instead of leaking until the caller's releaseAll;
    // the output is one row per corpus doc — checkpoint-sized
    val out = graft.Checkpoints.checkpoint(
      totals.join(hits, Seq(idCol), "left")
        .na.fill(0L, Seq("n_hit"))
        .select(col(idCol), col("n_shingles"), col("n_hit"),
          (col("n_hit") >= 1L).cast("long").as("contaminated")))
    graft.Checkpoints.release(sh)
    out
  }

  /** N-GRAM NOVELTY census — the incremental-contribution metric a
    * curation pipeline ranks arrivals by: for each doc, how many of
    * its distinct n-gram keys were already introduced by an EARLIER
    * doc (ids are arrival order), and the floor-scaled novelty
    * fraction. A re-crawl scores 0; the first sighting of content
    * scores 10000; partial quotes land in between — the corpus-level
    * complement of the pairwise dedup family (no pairs, no clusters:
    * two keyed shuffles total, both with map-side combine, so the
    * census costs O(shingles) at any corpus size).
    *
    * Returns (id, n_shingles, n_seen_before, novelty_x10k) for every
    * doc with ≥ 1 shingle. */
  def noveltyCensus(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 3): DataFrame = {
    // two consumers of the shingle relation (first-sighting aggregate
    // + the join back) — shingle once
    val sh = graft.Checkpoints.checkpoint(
      docShingleKeys(docs, idCol, textCol, n))
    val first = sh.groupBy(col("shk")).agg(min(col(idCol)).as("first_id"))
    val out = graft.Checkpoints.checkpoint(sh.join(first, "shk")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") < col(idCol), 1L).otherwise(0L))
          .as("n_seen_before"))
      .select(col(idCol), col("n_shingles"), col("n_seen_before"),
        floor((col("n_shingles") - col("n_seen_before")) * 10000L /
          col("n_shingles")).cast("long").as("novelty_x10k")))
    graft.Checkpoints.release(sh)
    out
  }

  /** INCREMENTAL novelty — [[noveltyCensus]]'s ingestion form (the
    * q192 admission shape for the ORDER-DEPENDENT metric): the batch is
    * scored against the persisted first-sighting index PLUS its own
    * batch-local earlier arrivals (first = min(state, batch min), so a
    * shingle introduced mid-batch is already "seen" by later docs of
    * the same batch), then the batch's shingle minima are APPENDED to
    * the index — the corpus is never rescanned. State is (shk,
    * first_id): O(distinct shingles), compacted by min-on-read over
    * appended segments (a real deployment would fold segments
    * periodically; min is associative so compaction commutes with
    * reads). When batches arrive id-ordered, the accumulated verdicts
    * equal the one-shot census EXACTLY (StreamRun parity gate). */
  def incrementalNovelty(spark: org.apache.spark.sql.SparkSession,
                         stateDir: String, batch: DataFrame, idCol: String,
                         textCol: String, n: Int = 3): DataFrame = {
    val sh = graft.Checkpoints.checkpoint(
      docShingleKeys(batch, idCol, textCol, n))
    val bFirst = sh.groupBy(col("shk")).agg(min(col(idCol)).as("b_first"))
    val state = spark.read.parquet(stateDir)
      .groupBy(col("shk")).agg(min(col("first_id")).as("s_first"))
    val first = bFirst.join(state, Seq("shk"), "left")
      .select(col("shk"),
        least(col("b_first"), coalesce(col("s_first"), col("b_first")))
          .as("first_id"))
    val out = graft.Checkpoints.checkpoint(sh.join(first, "shk")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") < col(idCol), 1L).otherwise(0L))
          .as("n_seen_before"))
      .select(col(idCol), col("n_shingles"), col("n_seen_before"),
        floor((col("n_shingles") - col("n_seen_before")) * 10000L /
          col("n_shingles")).cast("long").as("novelty_x10k")))
    // append the batch minima BEFORE releasing the shingle block (the
    // append evaluates bFirst, which reads sh); the verdicts above are
    // already materialized, so they cannot see the appended segment
    bFirst.select(col("shk"), col("b_first").as("first_id"))
      .write.mode("append").parquet(stateDir)
    graft.Checkpoints.release(sh)
    out
  }

  /** MinHash signatures: sig[i] = min over shingle keys k of
    * (a_i·k + b_i) mod (2^31 - 1) — the portable affine family over
    * [[docShingleKeys]], with literal per-permutation constants
    * ([[minhashPerms]]) so a DuckDB oracle replays the signatures
    * exactly (the xxhash64 original had no cross-engine twin). One
    * exploded pass, `numPerms` min-aggregates — map-side combine keeps
    * the shuffle at one row per doc; the permutations hash an 8-byte
    * key, never the shingle string. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numPerms: Int = 32, shingleN: Int = 3): DataFrame = {
    val sh = docShingleKeys(df, idCol, textCol, shingleN)
    val aggs = minhashPerms(numPerms).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("shk") * lit(a) + lit(b), lit(MinhashMod))).as(s"m$i")
    }
    sh.groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(idCol),
        array((0 until numPerms).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Sorted-neighborhood blocking — the SORT-based member of the
    * blocking family (PPJoin prefix blocks, MinHash/SimHash bands,
    * name-prefix blocks, and this: the classic merge-purge strategy,
    * Hernández & Stolfo SIGMOD'95): records are globally ranked by a
    * sort key, and candidate pairs are records within `window`
    * positions of each other. Where PREFIX blocks degenerate when one
    * block is huge, the sorted window emits exactly n·window
    * candidates no matter how values cluster — the complementary
    * trade (misses pairs whose keys sort far apart).
    *
    * 100 TB shape: the global rank comes from
    * [[Relational.globalCumsum]] — a range-partitioned two-phase
    * prefix sum, never a single-partition window — and rank adjacency
    * is ONE equi-join on (rank + exploded offset), so nothing is ever
    * all-pairs: sort + n·window, fully parallel.
    *
    * Returns (id_a, key_a, id_b, key_b, gap) with id_a the earlier
    * record in (key, id) sort order and gap ∈ [1, window]; callers
    * verify (e.g. levenshtein, q111) exactly as with any other
    * blocking source. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, keyCol: String,
                              window: Int): DataFrame = {
    val ranked = Relational.globalCumsum(
      df.select(col(idCol), col(keyCol)),
      Seq(col(keyCol), col(idCol)), lit(1L), "rnk")
    val l = ranked
      .select(col(idCol).as("id_a"), col(keyCol).as("key_a"), col("rnk"))
      .withColumn("gap", explode(sequence(lit(1), lit(window))))
      .withColumn("rnk_b", col("rnk") + col("gap"))
      .drop("rnk")
    val r = ranked
      .select(col(idCol).as("id_b"), col(keyCol).as("key_b"),
        col("rnk").as("rnk_b"))
    l.join(r, "rnk_b")
      .select(col("id_a"), col("key_a"), col("id_b"), col("key_b"),
        col("gap").cast("long").as("gap"))
  }

  /** Plain-Scala per-document twin of [[minhashSignatures]] — the
    * row-local form the STREAMING near-dup path computes inside a
    * flatMap, where the batch window/groupBy machinery isn't
    * available. Bit-equal to the batch dataflow by construction: same
    * norm order (regexp → trim → lower), the same [[graft.functions.PolyHash]]
    * kernel per word, the same shingle fold and distinct, the same
    * affine [[minhashPerms]] — and StreamingSpec asserts the equality
    * against [[minhashSignatures]] on a real corpus. Returns null when
    * the doc has fewer than `shingleN` words (such docs have no batch
    * signature row either). */
  def localMinhashSig(text: String, numPerms: Int = 32,
                      shingleN: Int = 3): Array[Long] = {
    if (text == null) return null
    val norm = text.replaceAll("\\s+", " ").trim
      .toLowerCase(java.util.Locale.ROOT)
    val ws = norm.split(" ", -1)
    if (ws.length < shingleN) return null
    val hs = ws.map(w => graft.functions.PolyHash.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(w),
      31L, 1000000007L))
    val keys = scala.collection.mutable.HashSet.empty[Long]
    var i = 0
    while (i + shingleN <= hs.length) {
      var acc = hs(i)
      var k = 1
      while (k < shingleN) {
        acc = math.floorMod(acc * 31L + hs(i + k), 1000000007L)
        k += 1
      }
      keys.add(acc)
      i += 1
    }
    val perms = minhashPerms(numPerms)
    val sig = new Array[Long](numPerms)
    var p = 0
    while (p < numPerms) {
      val (a, b) = perms(p)
      var m = Long.MaxValue
      keys.foreach { k =>
        val v = math.floorMod(k * a + b, MinhashMod)
        if (v < m) m = v
      }
      sig(p) = m
      p += 1
    }
    sig
  }

  /** Row-local twin of [[lshCandidates]]' band-key fold (same LCG
    * constants), for the streaming path. */
  def localBandKeys(sig: Array[Long], rowsPerBand: Int = 4): Array[Long] = {
    val bands = sig.length / rowsPerBand
    Array.tabulate(bands) { b =>
      var h = 0L
      var r = 0
      while (r < rowsPerBand) {
        h = math.floorMod(h * 1103515245L + sig(b * rowsPerBand + r),
          graft.queries.LcgMod)
        r += 1
      }
      h
    }
  }

  /** MinHash Jaccard ESTIMATE for candidate pairs: the fraction of
    * matching signature slots is an unbiased estimator of the true
    * Jaccard (each slot matches with probability J). Joins the
    * signatures onto (id_a, id_b) pairs and scores with one fused
    * zip+count — the cheap middle step between LSH candidate
    * generation and exact verification: at 100 TB the estimate
    * discards the bulk of false candidates for the cost of comparing
    * `numPerms` longs, so only near-threshold pairs pay the full
    * shingle-set intersection. */
  def minhashEstimate(pairs: DataFrame, sigs: DataFrame,
                      idCol: String): DataFrame = {
    val a = sigs.select(col(idCol).as("id_a"), col("sig").as("sig_a"))
    val b = sigs.select(col(idCol).as("id_b"), col("sig").as("sig_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), _ + _).cast("double") / size(col("sig_a")))
          .as("est_jaccard"))
  }

  /** The (id, band, bkey) banding relation under [[lshCandidates]] —
    * band key = LCG fold over the band's signature slots (exact int64:
    * h < 2^31, h·1103515245 < 2^62) — engine-portable where the
    * original xxhash64-of-concat was not; slot values stay longs. */
  private def bandKeys(sigs: DataFrame, idCol: String,
                       numPerms: Int, rowsPerBand: Int): DataFrame = {
    val bands = numPerms / rowsPerBand
    sigs.select(col(idCol),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => (0 until rowsPerBand).foldLeft(lit(0L)) { (h, r) =>
          pmod(h * lit(1103515245L) +
            element_at(col("sig"), b * lit(rowsPerBand) + lit(r + 1)),
            lit(graft.queries.LcgMod))
        })))
      .select(col(idCol), col("pos").as("band"), col("col").as("bkey"))
  }

  /** LSH banding: hash each band of `rowsPerBand` signature slots,
    * self-join on (band, bandHash) → candidate pairs. Classic
    * probability: docs with Jaccard j collide in a band with j^r, in
    * any of b bands with 1-(1-j^r)^b. */
  def lshCandidates(sigs: DataFrame, idCol: String,
                    numPerms: Int = 32, rowsPerBand: Int = 4): DataFrame = {
    val banded = bandKeys(sigs, idCol, numPerms, rowsPerBand)
    banded.select(col(idCol).as("id_a"), col("band"), col("bkey"))
      .join(banded.select(col(idCol).as("id_b"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Persist the corpus' minhash index — signatures + band keys as two
    * parquet tables under `dir` (the IVF/PQ/BM25 build/serve
    * convention brought to the dedup layer): the CORPUS is tokenized
    * and signed exactly once; every later admission run reads only
    * these two keyed relations. */
  def buildMinhashIndex(docs: DataFrame, idCol: String, textCol: String,
                        dir: String, numPerms: Int = 32,
                        rowsPerBand: Int = 4): Unit = {
    val sigs = graft.Checkpoints.checkpoint(
      minhashSignatures(docs, idCol, textCol, numPerms))
    sigs.write.mode("overwrite").parquet(s"$dir/sigs")
    bandKeys(sigs, idCol, numPerms, rowsPerBand)
      .write.mode("overwrite").parquet(s"$dir/bands")
    graft.Checkpoints.release(sigs)
  }

  /** INCREMENTAL near-dup ADMISSION — the production ingestion shape
    * none of the whole-corpus dedup queries exercise: an incoming
    * batch is checked against the [[buildMinhashIndex]] corpus WITHOUT
    * touching corpus text. Batch docs are signed and banded (cost ∝
    * batch), candidates come from ONE equi-join of batch band keys
    * against the persisted band table, the verify is the 32-slot
    * signature agreement count against the persisted signature table,
    * and each batch doc gets its best corpus match ((n_agree DESC,
    * corpus id ASC) top-1) with an `is_dup` admission verdict at
    * `minAgree` agreeing slots (16/32 ≈ Jaccard 0.5). Docs with no
    * band collision — including sub-shingle-length ones that have no
    * signature at all — surface with a null match and is_dup = false:
    * nothing is silently dropped. Corpus-side serve cost is the keyed
    * index join; the corpus is never rescanned. */
  def incrementalNearDup(spark: org.apache.spark.sql.SparkSession,
                         dir: String, batch: DataFrame, idCol: String,
                         textCol: String, minAgree: Int = 16,
                         numPerms: Int = 32,
                         rowsPerBand: Int = 4): DataFrame = {
    val bs = graft.Checkpoints.checkpoint(
      minhashSignatures(batch, idCol, textCol, numPerms))
    val bb = bandKeys(bs, idCol, numPerms, rowsPerBand)
    val cb = spark.read.parquet(s"$dir/bands")
    val cs = spark.read.parquet(s"$dir/sigs")
    val cand = bb.select(col(idCol).as("bid"), col("band"), col("bkey"))
      .join(cb.select(col(idCol).as("cid"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .select(col("bid"), col("cid")).distinct()
    val agree = cand
      .join(bs.select(col(idCol).as("bid"), col("sig").as("sig_b")), "bid")
      .join(cs.select(col(idCol).as("cid"), col("sig").as("sig_c")), "cid")
      .select(col("bid"), col("cid"),
        aggregate(zip_with(col("sig_b"), col("sig_c"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), _ + _).as("n_agree"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bid")).orderBy(col("n_agree").desc, col("cid"))
    val best = agree.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("bid"), col("cid"), col("n_agree"))
    // materialize the verdicts so the batch-signature block `bs` can be
    // released HERE (the contaminationCensus discipline) — a streaming
    // foreachBatch caller then needs no session-wide releaseAll; the
    // output is one row per batch doc, checkpoint-sized
    val out = graft.Checkpoints.checkpoint(
      batch.select(col(idCol).as("bid")).distinct()
        .join(best, Seq("bid"), "left")
        .select(col("bid").as(idCol), col("cid").as("dup_of"),
          coalesce(col("n_agree"), lit(0L)).as("n_agree"),
          (coalesce(col("n_agree"), lit(0L)) >= minAgree).as("is_dup")))
    graft.Checkpoints.release(bs)
    out
  }

  /** Quality-aware near-dup CANONICAL SELECTION — the cluster-level
    * verdict pass a production fuzzy-dedup run ends with: q108's
    * pairwise drop rule keeps per-PAIR minima, but duplicates chain
    * (A~B, B~C with A and C below threshold), and the pipeline must
    * keep exactly ONE representative per transitive cluster — and the
    * BEST one, not the lowest id (the reference's author-dedup archive
    * keeps the richest profile, `archive/links.md:6-39`).
    *
    * LSH candidate pairs at ≥ `minAgree`/`numPerms` signature
    * agreement become edges; [[Graph.connectedComponentsStar]]
    * (O(log n) large-star/small-star rounds — duplicate chains make
    * label propagation's diameter unbounded) gives clusters; the
    * keeper is the longest member (normalized word count), ties to the
    * smallest id, computed with one max(struct) aggregate — never a
    * global window. Singleton docs never enter the pair graph and are
    * implicitly kept; output is one verdict row per CLUSTERED doc.
    *
    * Returns (doc_id, cluster_id = min id in cluster, keeper_id,
    * kept 0/1, n_members). */
  def nearDupKeeper(docs: DataFrame, idCol: String, textCol: String,
                    minAgree: Int = 16, numPerms: Int = 32): DataFrame = {
    val sigs = minhashSignatures(docs, idCol, textCol, numPerms)
    // checkpointed: the star-contraction loop's per-round guards
    // would otherwise re-run the LSH subtree
    val edges = graft.Checkpoints.checkpoint(
      minhashEstimate(lshCandidates(sigs, idCol, numPerms), sigs, idCol)
        .filter(col("est_jaccard") >= minAgree.toDouble / numPerms)
        .select(col("id_a"), col("id_b")))
    val cc = Graph.connectedComponentsStar(edges, "id_a", "id_b")
    val nWords = docs.select(col(idCol).as("v"),
      size(TextFns.words(TextFns.norm(col(textCol)))).cast("long")
        .as("n_words"))
    val members = cc.join(nWords, "v")
    val keepers = members.groupBy(col("comp"))
      .agg(max(struct(col("n_words"), (-col("v")).as("negid"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("comp"), (-col("best.negid")).as("keeper_id"),
        col("n_members"))
    members.join(keepers, "comp")
      .select(col("v").as("doc_id"), col("comp").as("cluster_id"),
        col("keeper_id"),
        when(col("v") === col("keeper_id"), 1L).otherwise(0L).as("kept"),
        col("n_members"))
  }

  /** End-to-end near-duplicate entity resolution — the reference's
    * intended author-dedup flow (`archive/links.md:6-39`) generalized:
    * prefix-filtered exact Jaccard pairs (swap in [[lshCandidates]] for
    * the approximate path) → connected components over verified pairs →
    * per-component survivor (min id).
    *
    * Returns (id, canonical_id): every document mapped to its duplicate
    * -cluster representative (itself when unique). Each stage is a
    * bounded-fanout dataflow; the only iteration is component
    * propagation.
    *
    * `starComponents = true` routes clustering through
    * [[Graph.connectedComponentsStar]] (large-star/small-star,
    * O(log n) rounds) — THE 100 TB path when duplicate clusters can
    * chain (propagation's round count is the cluster diameter, which
    * long chains of pairwise-similar docs make unbounded). The default
    * stays label propagation: near-dup clusters are usually
    * small-diameter, where its per-round cost wins. Both paths return
    * identical labels (min id per component) — DedupSpec asserts it. */
  def resolveEntities(df: DataFrame, idCol: String, textCol: String,
                      minJaccard: Double = 0.8,
                      starComponents: Boolean = false): DataFrame = {
    // checkpointed: the component loop's guards would otherwise
    // re-run the whole PPJoin subtree every round
    val verified = graft.Checkpoints.checkpoint(
      ngramJaccardPairs(df, idCol, textCol, 3, minJaccard)
        .select(col("id_a"), col("id_b")))
    val comps =
      if (starComponents) Graph.connectedComponentsStar(verified, "id_a", "id_b")
      else Graph.connectedComponents(verified, "id_a", "id_b")
    df.select(col(idCol))
      .join(comps, df(idCol) === comps("v"), "left")
      .select(col(idCol),
        coalesce(col("comp"), col(idCol)).as("canonical_id"))
  }

  /** SimHash near-duplicate pairs — the signature-join step the
    * Google-style dedup pipeline runs after [[simhash64]]: candidate
    * pairs from exact 16-bit band buckets, verified with
    * `bit_count(a XOR b) <= maxHamming`.
    *
    * EXACT for `maxHamming < 4` by pigeonhole: two 64-bit signatures
    * within hamming distance 3 differ in at most 3 of the 4 disjoint
    * 16-bit bands, so at least one band matches exactly and the pair
    * surfaces from a bucket join — never an all-pairs comparison. The
    * corpus shuffles once on (band, bucket); a hot bucket means
    * near-identical signatures, which are exactly the rows that must
    * meet anyway. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    hammingPairs64(simhash64(df, idCol, textCol), idCol, "simhash",
      maxHamming)

  /** Banded Hamming pairs over ANY 64-bit signature relation — the
    * [[simhashPairs]] bucket join factored out so every signature
    * family reuses it (simhash text signatures, q207's perceptual
    * image hashes): 4 disjoint 16-bit bands, pigeonhole-EXACT for
    * `maxHamming < 4` (≤ 3 differing bits touch ≤ 3 bands, so one band
    * matches exactly and the pair surfaces from its bucket — never an
    * all-pairs scan). Returns (id_a < id_b, hamming ≤ maxHamming). */
  def hammingPairs64(sig: DataFrame, idCol: String, sigCol: String,
                     maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"pigeonhole exactness over 4 bands needs 0 <= maxHamming < 4, got $maxHamming")
    val banded = sig.select(col(idCol), col(sigCol),
      posexplode(array((0 until 4).map(b =>
        shiftright(col(sigCol), b * 16).bitwiseAND(0xFFFFL)): _*)))
      .select(col(idCol), col(sigCol), col("pos").as("band"),
        col("col").as("bkey"))
    banded.select(col(idCol).as("id_a"), col(sigCol).as("sig_a"),
        col("band"), col("bkey"))
      .join(banded.select(col(idCol).as("id_b"), col(sigCol).as("sig_b"),
        col("band"), col("bkey")), Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long")
          .as("hamming"))
      // filter BEFORE distinct: a hot band bucket emits O(n²) far pairs
      // and the hamming cut discards them without a shuffle; distinct
      // then only dedups true near-dup pairs (hamming is a function of
      // the pair, so the order is semantics-preserving)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Bit width of [[simhash64]] signatures: 60 information-carrying
    * bits (two engine-portable 30-bit polynomial word hashes), stored
    * in a 64-bit long whose top 4 bits are structurally 0 — identical
    * on both engines, so the 16-bit banding of [[simhashPairs]] and
    * hamming distances are unaffected (band 3 simply carries 12 live
    * bits). */
  private[graft] val SimhashBits = 60

  /** Engine-portable 60-bit word hash: two independent polynomial
    * hashes (mults 31/37, prime moduli < 2^30), each POST-MIXED with
    * one LCG multiply-mod, packed as mix(h31) · 2^30 + mix(h37) — the
    * cross-engine replacement for xxhash64 that lets a DuckDB oracle
    * replay simhash signatures exactly (q27/q60).
    *
    * The post-mix is load-bearing: a raw polynomial of a SHORT word
    * (≤ 5 chars ⇒ value < 31⁴·122 ≈ 1e8) never wraps the ~2^30
    * modulus, so the upper bits of each half would be 0 for most of
    * the vocabulary and every document's simhash would agree on those
    * dead bits — hamming distances collapse and the ≤ 3 cut floods
    * with false pairs (measured: 394 pairs at sf0.001 unmixed vs 28
    * with the mix — the latter tracking the 28 exact-Jaccard pairs). One multiply by 1103515245 (> modulus/255) wraps every
    * nonzero value back across the range. Exact nonnegative int64:
    * h < 2^30, h·1103515245 < 2^61; the mixed halves stay < 2^30 so
    * the pack stays < 2^60. */
  private[graft] def wordHash60(w: Column): Column = {
    def mixed(mult: Long, mod: Long): Column =
      pmod(TextFns.polyHash(w, mult, mod) * lit(1103515245L), lit(mod))
    mixed(31L, 1000000007L) * lit(1073741824L) + mixed(37L, 998244353L)
  }

  /** SimHash over (distinct-word, count) pairs: bit j is the sign of
    * the count-weighted sum of word-hash bit j, over the 60-bit
    * portable [[wordHash60]]. */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val wc = df.select(col(idCol),
        explode(TextFns.words(TextFns.norm(col(textCol)))).as("w"))
      .groupBy(col(idCol), col("w"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("h", wordHash60(col("w")))
    val bitSums = (0 until SimhashBits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, col("cnt"))
        .otherwise(-col("cnt"))).as(s"b$j")
    }
    wc.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until SimhashBits).map(j =>
          when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** EXACT substring-span dedup: every maximal span of ≥ `minTokens`
    * whitespace tokens that occurs (normalized) more than once in the
    * corpus — the span-level duplication of Lee et al., "Deduplicating
    * Training Data Makes Language Models Better" (ACL 2022 — public
    * method), re-expressed relationally: their suffix-array pass over
    * the concatenated corpus becomes a sorted-shingle-run pass, which
    * is the same information for fixed minimum length L.
    *
    * Method: emit every L-token shingle with its start position; a
    * shingle whose corpus-wide occurrence count is ≥ 2 marks L
    * duplicated tokens starting there; CONSECUTIVE duplicated start
    * positions within a document merge (gaps-and-islands on
    * pos − row_number, the q111/q139 rank discipline — here the rank
    * is per-document, so the window never crosses doc boundaries)
    * into one maximal span. Output one row per (doc, maximal span):
    * token offsets [span_start, span_end] (0-based, inclusive),
    * span_tokens = its length, and n_copies = the MINIMUM corpus
    * occurrence count over the span's shingles — the number of times
    * the FULL span text appears is at most that, and equals it when
    * the span repeats as a unit (a conservative, deterministic,
    * oracle-replayable count).
    *
    * Unlike fixed-window chunk dedup (q94), a duplicated paragraph
    * that STRADDLES a chunk cut is still found: the shingle runs
    * don't know about chunk boundaries.
    *
    * Scale shape: shingling is the [[docShingles]] lead-window form
    * (one shuffle on the doc id, stays in codegen); shingles are
    * hashed to 8-byte longs before the frequency shuffle (collision
    * merging two distinct shingles ~n²·2⁻⁶⁴ — negligible, same
    * argument as [[ngramJaccardPairs]]); the frequency count is a
    * key-hash groupBy (never all-pairs); the island merge is a
    * per-document window. Nothing touches the driver. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     minTokens: Int = 8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val sh = spanShingles(df, idCol, textCol, minTokens)
    val freq = sh.groupBy(col("hk"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
    // sh stays checkpointed until the caller's action completes (the
    // harness releaseAll); releasing here would drop blocks the lazy
    // result still needs — truncated lineage cannot recompute.
    sh.join(freq, "hk")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(minTokens - 1).cast("long")).as("span_end"),
        (max(col("pos")) - min(col("pos")) + lit(minTokens).cast("long"))
          .as("span_tokens"),
        min(col("n_occ")).as("n_copies"))
      .drop("grp")
  }

  /** CONTENT-DEFINED CHUNKING dedup — the variable-boundary chunk
    * modality between q94's fixed-geometry chunks and [[duplicateSpans]]'
    * exact spans (public method: Rabin-style content-defined chunking
    * as in LBFS/restic/borg — boundaries cut where a window hash of
    * the content ITSELF hits a residue, so an insertion near the top
    * of a document shifts every fixed-geometry chunk after it but only
    * the ONE cdc chunk it lands in; chunking realigns at the next
    * content boundary and every later duplicated chunk still groups).
    *
    * Tokens are whitespace words of the normalized text; the window
    * hash is the 3-term polynomial C2·v(t−2) + C1·v(t−1) + v(t) mod M
    * over [[TextFns.polyHash]] token values — every constant exact,
    * engine-portable int64 (the q23 discipline), because here the
    * BOUNDARY decision itself must replay in the oracle (q144 only
    * needs shingle equality). Boundary after token t when the hash ≡ 0
    * mod `meanChunk` → expected chunk length ≈ meanChunk tokens
    * (measured 13.0 at the default 16 on the driver corpus).
    *
    * Output: one row per DUPLICATED chunk (identical token sequence,
    * ≥ `minReport` tokens, ≥ 2 occurrences corpus-wide): polyHash
    * fingerprint, token length, occurrence count, distinct docs, and
    * the smallest holding doc. Scale shape: one posexplode + per-DOC
    * windows (bounded by document length, never corpus-global) + one
    * chunk-key groupBy — the classic alternative (pairwise doc diff)
    * is quadratic in the corpus. */
  /** The cdc window-hash constants, shared by BOTH chunker forms so a
    * same-wrong-constant drift between them is impossible (the lcgHash
    * one-definition rule). CdcC2 = CdcC1² mod CdcM, precomputed. The
    * oracle SQL and spec twins embed these as literals deliberately —
    * they are the independent cross-engine replays. */
  private[graft] val CdcM = 1000000007L
  private[graft] val CdcC1 = 69069L
  private[graft] val CdcC2 = 770526733L

  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                meanChunk: Int = 16, minReport: Int = 4): DataFrame = {
    require(meanChunk >= 2 && minReport >= 1, "degenerate chunk geometry")
    val M = CdcM
    val C1 = CdcC1
    val C2 = CdcC2
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val tok = df.select(col(idCol),
        posexplode(TextFns.words(TextFns.norm(col(textCol))))
          .as(Seq("pos", "tk")))
      .withColumn("v", TextFns.polyHash(col("tk")))
    val hashed = tok.withColumn("hh",
      when(col("pos") >= 2,
        pmod(pmod(lag(col("v"), 2).over(w) * C2, lit(M)) +
          pmod(lag(col("v"), 1).over(w) * C1, lit(M)) + col("v"), lit(M))))
    val cids = hashed
      .withColumn("bf",
        when(col("hh").isNotNull &&
          pmod(col("hh"), lit(meanChunk.toLong)) === 0, 1L).otherwise(0L))
      .withColumn("cid", coalesce(sum(col("bf")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)), lit(0L)))
    val chunks = cids.groupBy(col(idCol), col("cid"))
      .agg(count(lit(1)).as("n_tokens"),
        array_join(transform(sort_array(collect_list(
            struct(col("pos"), col("tk")))), s => s.getField("tk")), " ")
          .as("chunk_text"))
    chunks.groupBy(col("chunk_text"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col(idCol)).as("n_docs"),
        min(col("n_tokens")).as("n_tokens"),
        min(col(idCol)).as("min_doc"))
      .filter(col("n_copies") >= 2 && col("n_tokens") >= minReport)
      .select(TextFns.polyHash(col("chunk_text")).as("chunk_fp"),
        col("n_tokens"), col("n_copies"), col("n_docs"), col("min_doc"))
  }

  /** GREEDY MAX-COVERAGE data selection — the classic submodular
    * curation primitive (Nemhauser/Wolsey/Fisher 1978 greedy, public;
    * the coreset-style "pick documents that cover the most new
    * content" selection a training-data pipeline runs before
    * budgeting): universe = distinct word `shingleN`-grams, and each
    * of `k` rounds picks the document with the largest MARGINAL gain
    * (new shingles not covered by earlier picks; ties → smaller
    * doc_id), which carries the (1 − 1/e) approximation guarantee.
    *
    * Returns (round, doc_id, gain) for the picked documents, in pick
    * order. Dataflow per round: one anti-join of the PINNED (doc,
    * shingle) relation against the broadcast covered set + one groupBy
    * count + a 1-ROW driver pick (the BPE-argmax convention — the only
    * driver traffic is one scalar per round). k is small and fixed —
    * cost is k keyed passes, never quadratic in the corpus.
    *
    * r18 shape: the big (doc, shingle) relation is materialized ONCE
    * and the small side — the union of the ≤ k picked documents'
    * shingles — is what grows round to round. The pre-r18 loop carried
    * the shrinking `remaining` relation through a localCheckpoint per
    * round, i.e. it REWROTE the near-full-size relation k − 1 times (a
    * single pick covers a vanishing fraction of a real corpus, so
    * `remaining` barely shrinks); now each round is a read-only scan
    * of the pinned blocks behind a broadcast anti-join. The covered
    * side accumulates each pick's NEW shingles only (disjoint across
    * rounds, so duplicate-free); it is bounded by the distinct-shingle
    * union of the ≤ k picked documents — small for any realistic k,
    * but k × max-doc-shingles in the worst case, which is why the
    * anti-join keeps the explicit broadcast hint on the accumulator
    * and not on anything derived from the corpus. */
  def greedyCoverage(df: DataFrame, idCol: String, textCol: String,
                     k: Int, shingleN: Int = 3): DataFrame = {
    require(k >= 1, "pick at least one document")
    val spark = df.sparkSession
    // shingles move as xxhash64 keys (the q144/spanShingles
    // convention): an 8-byte key shuffles and compares cheaper than
    // the n-gram string, and counting is collision-robust in practice.
    // Spread first: the norm→words→shingles→explode chain otherwise
    // runs inside the scan's single input split (measured 4.2 s of
    // 1-task stage wall at sf0.1 — see operators.Spread)
    val base = graft.Checkpoints.checkpoint(
      Spread.byKey(df.select(col(idCol), col(textCol)), col(idCol))
        .select(col(idCol),
          explode(TextFns.shingles(
            TextFns.words(TextFns.norm(col(textCol))), shingleN)).as("s0"))
        .select(col(idCol), xxhash64(col("s0")).as("s"))
        .distinct())
    // union of the picked documents' shingles (duplicates across picks
    // are harmless under anti-join); None until the first pick. The
    // union is CHECKPOINTED each round — it is the SMALL side, so the
    // materialization is ~free, and without it round r's broadcast
    // subtree would re-scan the full base r times (measured as a
    // regression at sf0.1 before this was added)
    var covered: Option[DataFrame] = None
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var exhausted = false
    (1 to k).foreach { round =>
      if (!exhausted) {
        val remaining = covered.fold(base)(c =>
          base.join(broadcast(c), Seq("s"), "left_anti"))
        val top = remaining.groupBy(col(idCol))
          .agg(count(lit(1)).as("gain"))
          .orderBy(col("gain").desc, col(idCol))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val id = top.head.getLong(0)
          picks += ((round.toLong, id, top.head.getLong(1)))
          if (round < k) {
            // NEW shingles only (from `remaining`, not `base`): a
            // pick's already-covered shingles are dead weight in the
            // broadcast side, and taking them from base let covered
            // grow to Σ_picks |doc shingles| with duplicates — up to
            // k × max-doc-shingles. From remaining, rounds contribute
            // DISJOINT sets, so covered is duplicate-free by
            // construction and bounded by the union's true size.
            // Checkpointed: as a lazy union of anti-join filters, round
            // r would re-scan base r+1 times; the accumulator is tiny.
            val pickShingles =
              remaining.filter(col(idCol) === id).select(col("s"))
            val newCov = graft.Checkpoints.checkpoint(
              covered.fold(pickShingles)(_ union pickShingles))
            covered.foreach(graft.Checkpoints.release)
            covered = Some(newCov)
          }
        }
      }
    }
    covered.foreach(graft.Checkpoints.release)
    graft.Checkpoints.release(base)
    import spark.implicits._
    picks.toSeq.toDF("round", idCol, "gain")
  }

  /** Row-local ARRAY form of the [[cdcChunks]] chunker — the
    * streaming-legal extraction (pure column expression, no window;
    * the spanShingles/shingles division of labor): the same polyHash
    * token values, 3-term boundary hash, and cut arithmetic, built
    * with transform/filter/zip_with over the token array. Returns
    * array<struct<chunk_text, n_tokens>>; DedupSpec pins it
    * chunk-for-chunk against the window form's local twin. */
  private[graft] def cdcChunkArray(textCol: Column,
                                   meanChunk: Int = 16): Column = {
    val M = CdcM
    val C1 = CdcC1
    val C2 = CdcC2
    val ws = TextFns.words(TextFns.norm(textCol))
    val vs = transform(ws, w => TextFns.polyHash(w))
    // cut after 0-based token i (i ≥ 2) whose window hash ≡ 0; the
    // token at 0-based j sits at element_at(vs, j + 1)
    val cuts = filter(sequence(lit(0), size(ws) - 1), i =>
      i >= 2 && pmod(pmod(
        pmod(element_at(vs, i - 1) * C2, lit(M)) +
          pmod(element_at(vs, i) * C1, lit(M)) +
          element_at(vs, i + 1), lit(M)), lit(meanChunk.toLong)) === 0)
    val bounds = transform(cuts, c => c + 1)
    val starts = concat(array(lit(0)), bounds)
    val ends = concat(bounds, array(size(ws)))
    filter(zip_with(starts, ends, (s, e) =>
        struct(array_join(slice(ws, s + 1, e - s), " ").as("chunk_text"),
          (e - s).cast("long").as("n_tokens"))),
      st => st.getField("n_tokens") > 0)
  }

  /** Checkpointed (id, pos, hk) shingle-start relation shared by
    * [[duplicateSpans]] and [[duplicateSpanCuts]]: every L-token
    * window's xxhash64 key with its 0-based start position. */
  private[graft] def spanShingles(df: DataFrame, idCol: String,
                                  textCol: String,
                                  minTokens: Int): DataFrame = {
    require(minTokens >= 2, "a span of < 2 tokens is word frequency")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val base = df.select(col(idCol),
      posexplode(TextFns.words(TextFns.norm(col(textCol))))
        .as(Seq("pos", "w0")))
    val withLeads = (1 until minTokens).foldLeft(base)((acc, k) =>
      acc.withColumn(s"w$k", lead(col("w0"), k).over(w)))
    // checkpoint: the frequency aggregate AND the downstream join both
    // read the shingle set; without it the shingling re-evaluates per
    // consumer
    graft.Checkpoints.checkpoint(
      withLeads.filter(col(s"w${minTokens - 1}").isNotNull)
        .select(col(idCol), col("pos").cast("long").as("pos"),
          xxhash64(concat_ws(" ",
            (0 until minTokens).map(k => col(s"w$k")): _*)).as("hk")))
  }

  /** TF-IDF VECTORIZATION — the bridge from document text into the
    * dense-vector similarity family ([[graft.operators.Similarity]]):
    * each document becomes a `vocabSize`-dim double vector over the
    * corpus' top-df dictionary, weighted tf·idf in the integer RATIO
    * form (w = (tf·N·10) div df — q66's log-free idf discipline, so
    * every component is an exactly-replayable integer and the
    * downstream rounded cosine hash-matches cross-engine).
    *
    * Dictionary = the `vocabSize` highest-df terms (ties by term):
    * top-V selection is a distributed orderBy+limit; the rank window
    * then runs over only V rows. Out-of-dictionary terms contribute
    * nothing (the standard top-V vocabulary cap that keeps vectors
    * dense and BOUNDED however large the real vocabulary grows);
    * documents with no in-dictionary terms are absent (a zero vector
    * has no cosine). Compose the output with [[Similarity]]'s exact,
    * LSH, IVF, or projected paths — term-weighted near-dup is then
    * one `cosinePairs` call (q152).
    *
    * Row-format note for eval-heavy consumers: the `transform`-built
    * vector column is BOXED (GenericArrayData) as produced; a kernel
    * that scores millions of pairs per partition (ArrayCosine) runs
    * ~3× slower on boxed arrays than on UnsafeRow primitive arrays.
    * Any exchange rewrites the format — q152 measures 11 s → 3.4 s at
    * sf0.1 from one `repartition` before its pair join. Consumers
    * that shuffle the vectors anyway (LSH/IVF bucketing) get the
    * rewrite for free. */
  def tfidfVectors(df: DataFrame, idCol: String, textCol: String,
                   vocabSize: Int = 32): DataFrame = {
    // spread ahead of tokenization — the norm→words→explode chain
    // otherwise runs inside the scan's single input split (measured
    // 1.2 s of 1-task stage wall on q152; see operators.Spread)
    val toks = Spread.byKey(df.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol),
        explode(TextFns.words(TextFns.norm(col(textCol)))).as("term"))
    // checkpoint: tf feeds the df aggregate AND the weight join
    val tf = graft.Checkpoints.checkpoint(
      toks.groupBy(col(idCol), col("term"))
        .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dict = dfreq.orderBy(col("df").desc, col("term")).limit(vocabSize)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("df").desc, col("term"))))
    val nDocs = df.agg(count(lit(1)).cast("long").as("n"))
    val w = tf.join(broadcast(dict), "term")
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("rank"),
        call_function("div", col("tf") * col("n") * 10L, col("df")).as("w"))
    // user exchange on the agg key REPLACES the planner's (same
    // shuffle count) but is not AQE-coalescible: the collect_list
    // assembly is CPU-heavy at tiny byte counts, and AQE's
    // size-based coalescing was measured running it one task wide
    Spread.byKey(w, col(idCol)).groupBy(col(idCol))
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("rank"), col("w"))))).as("m"))
      .select(col(idCol),
        transform(sequence(lit(1), lit(vocabSize)),
          r => coalesce(element_at(col("m"), r), lit(0L)).cast("double"))
          .as("tfidf"))
  }

  /** The APPLY step of span dedup (the remove-all-but-one-occurrence
    * semantics of Lee et al.'s dedup tooling — public method): for
    * every duplicated L-token shingle, the occurrence with the
    * globally minimal (doc, pos) is CANONICAL and survives; every
    * other occurrence marks its L covered tokens for removal. Covered
    * ranges are merged per document (classic interval merge on the
    * running max end — a per-document window), yielding the exact cut
    * list (doc_id, cut_start, cut_end, cut_tokens) a rewrite pass
    * applies. The canonical copy's text is untouched, so exactly one
    * occurrence of every duplicated span survives the cuts.
    *
    * Scale shape: canonical election is one rank inside the
    * duplicated-shingle groups (keyed by shingle hash); everything
    * else is the [[duplicateSpans]] dataflow plus a per-document
    * interval-merge window. */
  def duplicateSpanCuts(df: DataFrame, idCol: String, textCol: String,
                        minTokens: Int = 8): DataFrame = {
    val sh = spanShingles(df, idCol, textCol, minTokens)
    val freq = sh.groupBy(col("hk"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
    // canonical = rank 1 in (doc, pos) order within each duplicated
    // shingle group; ranks 2+ are the occurrences to cut
    val byOcc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hk")).orderBy(col(idCol), col("pos"))
    val cuts = sh.join(freq, "hk")
      .withColumn("occ", row_number().over(byOcc))
      .filter(col("occ") > 1)
      .select(col(idCol), col("pos").as("st"),
        (col("pos") + lit(minTokens - 1).cast("long")).as("en"))
    // interval merge per doc: a range opens a new island when it
    // starts past the running max end of all earlier ranges
    val byStart = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("st"), col("en"))
    val runBefore = byStart.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    cuts
      .withColumn("opens",
        when(col("st") > coalesce(max(col("en")).over(runBefore),
          lit(-1L)), 1L).otherwise(0L))
      .withColumn("grp", sum(col("opens")).over(byStart))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("st")).as("cut_start"), max(col("en")).as("cut_end"),
        (max(col("en")) - min(col("st")) + 1L).as("cut_tokens"))
      .drop("grp")
  }
}
