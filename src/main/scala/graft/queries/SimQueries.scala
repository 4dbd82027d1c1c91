package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Tables

/** Similarity search over the `embeddings` table: exact cosine top-k as
  * the baseline, sign-LSH bucketed ANN as the scale path. */
object SimQueries {
  type Q = (SparkSession, String) => DataFrame

  private def queriesSubset(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") % 20 === 0)

  /** Session-pinned (exact, ann) ranking pair shared by the q196/q197
    * eval queries — the graded substrate's brute-force exact side is
    * the dominant cost and would otherwise run once per metric (a
    * [[SessionMemo]]). */
  private val evalCache =
    SessionMemo.pinned[(DataFrame, DataFrame)](p => Seq(p._1, p._2))
  private def gradedRankings(s: SparkSession,
                             d: String): (DataFrame, DataFrame) =
    evalCache(s, d) {
      val emb = Tables.embeddings(s, d)
      val qs = queriesSubset(s, d)
      (graft.Checkpoints.checkpointPinned(
         Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 5)),
       graft.Checkpoints.checkpointPinned(
         Similarity.ivfTopK(emb, qs, "vec_id", "embedding", 5)))
    }

  val defs: Map[String, Q] = Map(
    // Exact brute-force cosine top-5 for a 5% query subset.
    "q28_cosine_topk" -> { (s, d) =>
      Similarity.bruteForceTopK(
        Tables.embeddings(s, d), queriesSubset(s, d), "vec_id", "embedding", 5)
    },

    // q28's exact top-5 in a JL-PROJECTED 16-dim space — the gated
    // surface for Similarity.randomProject (4× cheaper per-pair cost;
    // SimilaritySpec measures what projection preserves: near-dup
    // recall ~0.95 at a discounted threshold, NOT background top-k
    // rankings). Same seeded planes as the q29 LSH family — sign-LSH
    // is this projection quantized to sign bits — so the oracle
    // reuses the literal-plane replay: project via list_inner_product
    // folds, then the q28 top-k shape on the projected lists.
    "q149_ann_projected" -> { (s, d) =>
      val proj = Similarity.randomProject(
        Tables.embeddings(s, d), "vec_id", "embedding", 16)
      Similarity.bruteForceTopK(proj,
        proj.filter(col("vec_id") % 20 === 0), "vec_id", "proj", 5)
    },

    // Sign-LSH bucketed ANN top-5. Same query subset, candidates from
    // band buckets (multi-probe). Oracle-checked: the seeded hyperplanes
    // are driver-side literals, so the SAME doubles are embedded in the
    // DuckDB SQL and the bucket assignment replays exactly
    // (list_inner_product is a sequential left fold, bit-identical to
    // Spark's aggregate∘zip_with — verified empirically).
    "q29_ann_lsh_topk" -> { (s, d) =>
      Similarity.signLshTopK(
        Tables.embeddings(s, d), queriesSubset(s, d), "vec_id", "embedding", 5)
    },

    // IVF ANN top-5: inverted-file cells with deterministic Lloyd
    // centroids, nprobe=4 of 16. Oracle-checked via literal-CENTROID
    // replay (see dynamicOracles); SimilaritySpec additionally asserts
    // recall vs exact and full-probe ≡ exact.
    "q51_ann_ivf_topk" -> { (s, d) =>
      Similarity.ivfTopK(
        Tables.embeddings(s, d), queriesSubset(s, d), "vec_id", "embedding", 5)
    },

    // IVF INDEX-QUALITY report — the serving-health check an ANN
    // operator needs at scale: per cell of the q51 index (same 16-cell
    // deterministic Lloyd build), the occupancy and the SUM of
    // member-to-centroid cosines as an exact scaled integer
    // (round(cos·10⁴) summed — a mean of raw doubles would drift with
    // summation order; the reader divides once). Skewed occupancies or
    // a falling cosine mass are the rebuild signals. Oracle = the
    // literal-centroid assignment replay + the same scaled-int sum.
    "q178_ivf_quality" -> { (s, d) =>
      import graft.functions.ArrayCosine
      val emb = Similarity.vectors(Tables.embeddings(s, d), "vec_id", "embedding")
      val cents = Similarity.lloydCentroids(emb, 16, 2)
      Similarity.assignCells(emb, cents, 1)
        .join(emb, "n_id").join(broadcast(cents), "cell")
        .select(col("cell"),
          round(ArrayCosine.cosine(col("cv"), col("ctr")) * 10000, 0)
            .cast("long").as("cx"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("cx")).as("sum_cos_x10k"))
    },

    // Embedding-cosine near-dup pairs (dense-vector dedup): exact
    // threshold join — the oracle-checked small-scale baseline and the
    // recall oracle for q70, the LSH-bucketed 100 TB variant.
    "q56_embed_neardup" -> { (s, d) =>
      Similarity.cosinePairs(Tables.embeddings(s, d), "vec_id", "embedding", 0.4)
    },

    // LSH-bucketed embedding near-dup — the 100 TB path: candidates
    // only from sign-LSH band buckets, exact ArrayCosine verify at the
    // same >= 0.4 threshold. Oracle-checked via literal-plane replay
    // (see q29); SimilaritySpec additionally asserts recall vs q56.
    "q70_embed_neardup_lsh" -> { (s, d) =>
      Similarity.cosinePairsLsh(Tables.embeddings(s, d), "vec_id", "embedding", 0.4)
    },

    // IVF-bucketed embedding near-dup — the LOW-threshold 100 TB path
    // (data-adaptive cells, constant occupancy, linear candidate
    // growth; see Similarity.cosinePairsLsh regime math). Oracle-checked
    // via literal-centroid replay (dynamicOracles); SimilaritySpec
    // additionally asserts recall vs q56's oracle-checked pairs.
    "q72_embed_neardup_ivf" -> { (s, d) =>
      Similarity.cosinePairsIvf(Tables.embeddings(s, d), "vec_id", "embedding", 0.4)
    },

    // Semantic dedup KEEPER (SemDeDup shape): q72's IVF-blocked pair
    // set → star-contraction components → one canonical survivor per
    // semantic group, every row annotated (canonical_id, n_members,
    // keep). Served from the session's PERSISTED dedup index
    // (centroids + multi-probe assignments — the q119 convention;
    // Similarity.semanticDedup keeps the build-per-query toy form,
    // spec-pinned ≡ this one), so the per-run cost is cell join +
    // verify + components, no Lloyd rebuild. Oracle: the q72
    // literal-centroid pair replay composed with a recursive-CTE
    // component closure and the same min-id keeper (dynamicOracles —
    // the q93 discipline on the embedding side); the deterministic
    // build makes disk and in-flight centroids bit-equal, so the same
    // replay checks the indexed form.
    "q141_semantic_dedup" -> { (s, d) =>
      Similarity.semanticDedupIndexed(ivfDedupIndexDir(s, d),
        Tables.embeddings(s, d), "vec_id", "embedding", 0.4)
    },

    // IVF with the index built ONCE and PERSISTED (centroids +
    // assignments parquet, cached per session/dir), then queried from
    // disk — the production split q51's build-per-query form is the
    // toy of. Same parameters and query subset as q51, and the
    // deterministic pipeline makes the written index bit-equal to
    // q51's in-flight one, so the oracle REUSES q51's
    // literal-centroid replay verbatim (dynamicOracles).
    "q119_ann_ivf_indexed" -> { (s, d) =>
      Similarity.ivfTopKIndexed(ivfIndexDir(s, d), Tables.embeddings(s, d),
        queriesSubset(s, d), "vec_id", "embedding", 5)
    },

    // Serve from the INCREMENTALLY-assembled IVF index (80% trained +
    // 20% appended against the written centroids — the r12 VERDICT's
    // item 4, the q212 BM25-append twin for vectors): q119's exact
    // serving path, but the index was never rebuilt after the append
    // and the corpus never rescanned. Because append-assignment is a
    // pure function of the FIXED centroids, the served index is
    // row-identical to a one-shot assignment of the unioned corpus
    // (SimilaritySpec pins it); the oracle replays the 80%-trained
    // centroids as literals and assigns the full corpus in SQL.
    "q252_ivf_append_serve" -> { (s, d) =>
      Similarity.ivfTopKIndexed(ivfIncIndexDir(s, d), Tables.embeddings(s, d),
        queriesSubset(s, d), "vec_id", "embedding", 5)
    },

    // SEMANTIC decontamination screen — the embedding twin of q195's
    // n-gram contamination census: each EVAL vector (the % 20 holdout
    // convention) is screened against the TRAINING corpus (everything
    // else) through the persisted q119 IVF index; verdict = best
    // candidate cosine ≥ 0.8 → the eval item leaks into training in
    // paraphrase space where shingle overlap sees nothing. Serves
    // from the index (probe assignment + candidate cells), corpus
    // touched only in the exact re-rank; zero-candidate eval vectors
    // surface with a −10⁴ sentinel, never silently dropped.
    "q261_semantic_contamination" -> { (s, d) =>
      val dir = ivfIndexDir(s, d)
      val q = Similarity.vectors(queriesSubset(s, d), "vec_id", "embedding",
        Similarity.Query)
      val cand = Similarity.ivfProbe(q, Similarity.ivfCentroids(s, dir),
        Similarity.ivfPostings(s, dir), 4,
        keep = col("n_id") % 20 =!= 0) // training side only
      val scored = Similarity.rerank(cand,
        Similarity.vectors(Tables.embeddings(s, d), "vec_id", "embedding"), q,
        round(graft.functions.ArrayCosine.cosine(col("qv"), col("cv"))
          * 10000, 0).cast("long").as("cos_x10k"))
      val best = Similarity.bestPerQuery(scored, "cos_x10k", 1)
        .select(col("q_id"), col("n_id").as("best_match"),
          col("cos_x10k"))
      q.select(col("q_id")).join(best, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("best_match"), lit(-1L)).as("best_match"),
          coalesce(col("cos_x10k"), lit(-10000L)).as("cos_x10k"),
          when(coalesce(col("cos_x10k"), lit(-10000L)) >= 8000, 1L)
            .otherwise(0L).as("contaminated"))
    },

    // Occupancy-DRIFT census over the appended index — the retrain
    // trigger: per cell, base vs appended member counts and the
    // growth in basis points; a cell past 3000 bp (30%) raises the
    // retrain flag (appends have shifted its share enough that the
    // frozen centroids no longer describe the data — time to re-run
    // the scheduled build). Reads ONLY the persisted assignments:
    // the readout costs one index scan, never a corpus pass.
    "q253_ivf_append_drift" -> { (s, d) =>
      Similarity.ivfPostings(s, ivfIncIndexDir(s, d)).groupBy(col("cell"))
        .agg(sum(when(col("n_id") % 5 =!= 4, 1L).otherwise(0L)).as("n_base"),
          sum(when(col("n_id") % 5 === 4, 1L).otherwise(0L)).as("n_new"))
        .select(col("cell"), col("n_base"), col("n_new"),
          when(col("n_base") === 0, lit(999999L))
            .otherwise(expr("n_new * 10000 div n_base")).as("growth_x10k"))
        .withColumn("retrain",
          when(col("growth_x10k") >= 3000, 1L).otherwise(0L))
    },

    // Retrieval-quality EVAL, recall@k: the similarity family GENERATES
    // top-k lists (q28/q29/q51/q119/q125/q127); this GRADES one — per
    // query, how many of the exact brute-force top-5 the q51 IVF run
    // (cells=16, nprobe=4) actually retrieved. All-integer verdict
    // (n_hit of n_exact), so the measured recall itself hash-matches
    // the oracle's replay (literal-centroid ANN ∩ exact ranking). At
    // scale this is exactly how ANN recall is audited: a SAMPLED query
    // set (the % 20 subset) gets the exact ranking — corpus × sample,
    // not corpus² — and the serving index is graded against it.
    "q196_ann_recall_at_k" -> { (s, d) =>
      val (exact, ann) = gradedRankings(s, d)
      exact.select(col("q_id"), col("n_id"))
        .join(ann.select(col("q_id"), col("n_id"), lit(1L).as("hit")),
          Seq("q_id", "n_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
    },

    // Retrieval-quality EVAL, NDCG@k — position-aware grading of the
    // same IVF run: gain of a retrieved neighbor = its graded exact
    // relevance (6 − exact_rank ∈ 5..1, 0 if outside the exact top-5),
    // discounted by retrieval position. Discounts are the HARMONIC
    // 1/rank family scaled by lcm(1..5) = 60 (the q161 exact-integer
    // discipline — the discount function in Järvelin & Kekäläinen's
    // DCG is a free parameter; the usual 1/log2(rank+1) is irrational
    // and could never hash-match across engines). Emitted as the
    // integer pair (dcg_x60, idcg_x60); NDCG = their one division,
    // left to the reader. dcg = idcg ⟺ the ANN list equals the exact
    // list in order — SimilaritySpec pins the full-probe case to
    // exactly that.
    "q197_ann_ndcg_at_k" -> { (s, d) =>
      val (exact, ann) = gradedRankings(s, d)
      val w = call_function("div", lit(60L), col("rn")) // exact: rn | 60
      val idcg = exact
        .select(col("q_id"), ((lit(6L) - col("rn")) * w).as("g"))
        .groupBy(col("q_id")).agg(sum(col("g")).as("idcg_x60"))
      val rel = exact.select(col("q_id"), col("n_id"),
        (lit(6L) - col("rn")).as("rel"))
      val dcg = ann.select(col("q_id"), col("n_id"), w.as("w"))
        .join(rel, Seq("q_id", "n_id"), "left")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("rel"), lit(0L)) * col("w")).as("dcg"))
      idcg.join(dcg, Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("dcg"), lit(0L)).as("dcg_x60"),
          col("idcg_x60"))
    },

    // Retrieval-quality EVAL, MRR@k — the third member of the eval
    // triad (q196 recall = coverage, q197 NDCG = position-weighted
    // gain, MRR = how fast the FIRST relevant result appears — the
    // metric interactive search reads). Reciprocal ranks ride the same
    // lcm(1..5) = 60 integer scale as q197's discounts; a query whose
    // ANN list contains no exact-top-5 member keeps a row with rank 0
    // (the census convention — misses must be provably counted).
    "q211_ann_mrr_at_k" -> { (s, d) =>
      val (exact, ann) = gradedRankings(s, d)
      val hits = ann.select(col("q_id"), col("n_id"), col("rn"))
        .join(exact.select(col("q_id"), col("n_id")), Seq("q_id", "n_id"))
        .groupBy(col("q_id")).agg(min(col("rn")).as("fr"))
      exact.select(col("q_id")).distinct()
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("fr"), lit(0L)).as("first_hit_rank"),
          coalesce(call_function("div", lit(60L), col("fr")), lit(0L))
            .as("rr_x60"))
    },

    // HARD-NEGATIVE mining — the contrastive-training data op (DPR,
    // Karpukhin et al. 2020: negatives that the retriever ranks high
    // but that are NOT true neighbors train the sharpest boundaries):
    // from the graded substrate, the ANN-retrieved neighbors OUTSIDE
    // the exact top-k, with both ranks kept (ann_rank = how hard the
    // negative, exact absence = why it is a negative). Derived from
    // the pinned rankings — no extra scan of the corpus.
    "q215_hard_negatives" -> { (s, d) =>
      val (exact, ann) = gradedRankings(s, d)
      ann.select(col("q_id"), col("n_id"), col("rn").as("ann_rank"))
        .join(exact.select(col("q_id"), col("n_id"), lit(1L).as("pos")),
          Seq("q_id", "n_id"), "left")
        .filter(col("pos").isNull)
        .select(col("q_id"), col("n_id"), col("ann_rank"))
    },

    // Product-quantization ANN (m=8 subspaces × 64 codewords = 48-bit
    // codes vs 64 floats): ADC lookup-table scan over the compressed
    // corpus, exact-IP re-rank of the 50-deep shortlist — the
    // compressed-storage scale path (the raw corpus is touched only by
    // the shortlist). Served from the session's PERSISTED PQ index
    // (codebooks + codes parquet, built once per (session, dir) — the
    // q119 convention; Similarity.pqTopK keeps the build-per-query toy
    // form, spec-pinned ≡ this one). Oracle-checked via
    // literal-CODEBOOK replay (the q51 discipline per subspace —
    // dynamicOracles); SimilaritySpec additionally holds codebook
    // bit-reproducibility and recall (0.944 measured) vs exact
    // inner-product top-k.
    "q125_ann_pq_topk" -> { (s, d) =>
      Similarity.pqTopKIndexed(pqIndexDir(s, d), Tables.embeddings(s, d),
        queriesSubset(s, d), "vec_id", "embedding", 5, m = 8, k = 64)
    },

    // IVF+PQ — the composed serving architecture (FAISS IVFADC): the
    // inverted file bounds WHICH vectors score (nprobe=4 of 16 cells),
    // PQ bounds WHAT each costs (48-bit ADC codes), exact-IP re-rank
    // of the shortlist. BOTH structures come from the session's
    // persisted indexes (q119's IVF index + q125's PQ index — shared,
    // same parameters), so the per-query cost is probe + cell join +
    // ADC + re-rank, with no training or encode pass. Oracle replays
    // the WHOLE composition from the two literal sets (centroids +
    // codebooks — dynamicOracles); SimilaritySpec holds
    // full-probe+full-shortlist ≡ exact-IP top-k, the composed recall
    // floor, and indexed ≡ in-flight.
    "q127_ann_ivfpq_topk" -> { (s, d) =>
      Similarity.ivfPqTopKIndexed(ivfIndexDir(s, d), pqIndexDir(s, d),
        Tables.embeddings(s, d), queriesSubset(s, d), "vec_id", "embedding", 5)
    },

    // Scalar-quantized (SQ8) ANN — the third member of the compression
    // family: per-dim [lo,hi] ranges + uint8 codes (4× smaller corpus,
    // vs PQ's 48-bit codes), served by a pure INTEGER dot-product scan
    // over the persisted codes with an exact float re-rank of the
    // 50-deep shortlist. Integer approximate scores make the shortlist
    // exactly reproducible — the oracle replays quantize → int-dot →
    // shortlist → re-rank from the literal ranges (dynamicOracles).
    "q204_ann_sq8_topk" -> { (s, d) =>
      Similarity.sqTopKIndexed(sqIndexDir(s, d), Tables.embeddings(s, d),
        queriesSubset(s, d), "vec_id", "embedding", 5)
    },

    // MMR diverse re-ranking (Similarity.mmrRerank scaladoc): every
    // query's top-10 exact-cosine candidates greedily re-ranked into
    // 5 picks trading relevance vs redundancy at λ = 1/2 — the
    // diversification layer over the recommendation surface. All
    // arithmetic in round(cos·10⁴) scaled ints; the grouped-greedy
    // rounds are keyed windows (no driver loop). Oracle unrolls all
    // 5 rounds per query.
    "q216_mmr_rerank" -> { (s, d) =>
      Similarity.mmrRerank(Tables.embeddings(s, d), queriesSubset(s, d),
        "vec_id", "embedding", nCand = 10, k = 5)
    },

    // FILTERED vector search — the metadata-constrained ANN every
    // production vector store serves (filter first, then rank): each
    // query's exact top-5 restricted to corpus vectors with the SAME
    // label. The filter is an EQUI-key, so the candidate join is a
    // broadcast HASH join on label — the pair space shrinks to
    // per-label blocks BEFORE any cosine is computed (vs q28's full
    // broadcast sweep), which is the whole point of pre-filtering at
    // scale: selectivity prunes compute, not just output.
    // LABEL-QUALITY audit via k-NN agreement — the confident-learning
    // signal (Northcutt et al. 2021): every vector's exact top-5
    // cosine neighbors vote on its label; per label, member count and
    // mean agreement in basis points. A mislabeled or incoherent
    // class surfaces as a low-agreement row BEFORE training does.
    // Exact brute-force candidate sweep at the gate SFs (the q56
    // all-pairs precedent — intended broadcast NLJ); the 100 TB path
    // swaps the candidate join for the persisted IVF index (the q141
    // serve discipline) with the agreement readout unchanged.
    "q235_knn_label_agreement" -> { (s, d) =>
      val (c, q) = labelledSides(Tables.embeddings(s, d), identity)
      val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("q_label"), col("n_label"), col("n_id"),
          Similarity.cosScore)
      Similarity.bestPerQuery(scored, "cos", 5)
        .groupBy(col("q_label").cast("long").as("label"))
        .agg(expr("count(1) div 5").as("n_vecs"),
          sum(when(col("n_label") === col("q_label"), 1L).otherwise(0L))
            .as("n_agree"),
          count(lit(1)).as("n_pairs"))
        .select(col("label"), col("n_vecs"), col("n_agree"),
          expr("n_agree * 10000 div n_pairs").as("agree_x10k"))
    },

    "q224_ann_filtered" -> { (s, d) =>
      val (c, q) = labelledSides(Tables.embeddings(s, d),
        _.filter(col("vec_id") % 20 === 0))
      val scored = c.join(broadcast(q),
          col("q_label") === col("n_label") && col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("q_label").cast("long").as("label"),
          col("n_id"), Similarity.cosScore)
      Similarity.bestPerQuery(scored, "cos", 5)
    },

    // Class-conditional EMBEDDING-DRIFT census — the vector-space
    // member of the drift family (q174 monitors value histograms;
    // this monitors the representation itself, the MLOps check before
    // an index rebuild or a model refresh): reference half (even
    // vec_id) vs candidate half (odd), per label the two halves'
    // CENTROID cosine and the occupancy share delta. Exact
    // discipline: per-dim component sums in round(x·10⁶) scaled ints
    // (float sums would be order-dependent), the centroid cosine is
    // ONE float fold over the two integer sum-vectors cast to double
    // (list_inner_product-equivalent, bit-reproducible), shares in
    // integer div. A healthy refresh reads cos ≈ 10⁴ per label and
    // flat shares; a drifted class shows up as its own row. Scale
    // shape: one posexplode + (label, half, dim)-keyed sum — state is
    // labels × dims, cardinality-free in the row count.
    "q222_embedding_drift" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("label"), (col("vec_id") % 2).as("half"),
          posexplode(graft.functions.VectorFns.toDoubleArr(col("embedding"))))
        .select(col("label"), col("half"), col("pos").as("dim"),
          round(col("col") * 1000000, 0).cast("long").as("c"))
      val sums = e.groupBy(col("label"), col("half"), col("dim"))
        .agg(sum(col("c")).as("sv"))
      def side(h: Int, vecName: String) = sums.filter(col("half") === h)
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("sv")))),
          _.getField("sv").cast("double")).as(vecName))
      val cnt = Tables.embeddings(s, d)
        .groupBy(col("label"))
        .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("n_new"))
      val tot = cnt.agg(sum(col("n_ref")).as("t_ref"),
        sum(col("n_new")).as("t_new"))
      side(0, "va").join(side(1, "vb"), "label").join(cnt, "label")
        .crossJoin(broadcast(tot))
        .select(col("label").cast("long").as("label"),
          col("n_ref"), col("n_new"),
          round(graft.functions.ArrayCosine.cosine(col("va"), col("vb"))
            * 10000, 0).cast("long").as("centroid_cos_x10k"),
          expr("(n_new * 10000) div t_new - (n_ref * 10000) div t_ref")
            .as("share_delta_x10k"))
    },

    // Greedy k-center coreset (Similarity.kCenterGreedy scaladoc):
    // 8-center farthest-point traversal over the whole embedding
    // table in scaled-int cosine distance — the diversity-sampling /
    // active-learning curation pick, with the non-increasing coverage
    // radius sequence as the output. Oracle unrolls the 8 rounds
    // (seed = min id, per-round argmax + least-update).
    "q217_kcenter_coreset" -> { (s, d) =>
      Similarity.kCenterGreedy(Tables.embeddings(s, d), "vec_id",
        "embedding", k = 8)
    }
  )

  /** The labelled exact-search sides of q224/q235: the spread corpus
    * (n_id, n_label, cv) and the query side (q_id, q_label, qv) drawn
    * from `pick` of the same table. */
  private def labelledSides(emb: DataFrame, pick: DataFrame => DataFrame)
      : (DataFrame, DataFrame) =
    (Similarity.vectors(emb, "vec_id", "embedding",
       carry = Seq(col("label").as("n_label")), spread = true),
     Similarity.vectors(pick(emb), "vec_id", "embedding", Similarity.Query,
       carry = Seq(col("label").as("q_label"))))

  /** One persisted IVF index per (session, sfDir) — built on first use
    * (q51's parameters), reused by every later q119 run in the session:
    * the bench's repeat passes measure the QUERY-ONLY cost, which is
    * the point of an index. Plain parquet on local disk; survives
    * `Checkpoints.releaseAll` by construction. */
  private val ivfIndexDirs = SessionMemo.indexDirs("graft_ivf")
  private def ivfIndexDir(s: SparkSession, d: String): String =
    ivfIndexDirs(s, d) { dir =>
      Similarity.buildIvfIndex(Tables.embeddings(s, d), "vec_id", "embedding",
        dir, cells = 16, lloydIters = 2)
    }

  /** One INCREMENTALLY-assembled IVF index per (session, sfDir) — the
    * q212 BM25-append convention for the vector index: centroids
    * trained on the 80% base corpus (vec_id % 5 ≠ 4), the held-out
    * 20% appended afterward against the written centroids
    * (Similarity.appendToIvfIndex). Serving from it (q252) and the
    * occupancy-drift census over it (q253) both read ONLY the
    * persisted artifacts. */
  private val ivfIncIndexDirs = SessionMemo.indexDirs("graft_ivfi")
  private def ivfIncIndexDir(s: SparkSession, d: String): String =
    ivfIncIndexDirs(s, d) { dir =>
      val emb = Tables.embeddings(s, d)
      Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 4),
        "vec_id", "embedding", dir, cells = 16, lloydIters = 2)
      Similarity.appendToIvfIndex(s, dir,
        emb.filter(col("vec_id") % 5 === 4), "vec_id", "embedding")
    }

  /** One persisted PQ index per (session, sfDir) — the [[ivfIndexDir]]
    * convention for the compressed-code index: built on first use with
    * q125/q127's shared parameters (m=8, k=64, 2 Lloyd iters), reused
    * by every later run in the session, so the bench's repeat passes
    * measure the ADC-scan query cost, not codebook training. */
  private val pqIndexDirs = SessionMemo.indexDirs("graft_pq")
  private def pqIndexDir(s: SparkSession, d: String): String =
    pqIndexDirs(s, d) { dir =>
      Similarity.buildPqIndex(Tables.embeddings(s, d), "vec_id", "embedding",
        dir, m = 8, k = 64, lloydIters = 2)
    }

  /** One persisted SQ8 index per (session, sfDir) — the [[ivfIndexDir]]
    * convention for the scalar-quantized corpus (per-dim ranges +
    * uint8 codes): built on first use, so the bench measures the
    * integer-dot compressed scan, not the range pass. */
  private val sqIndexDirs = SessionMemo.indexDirs("graft_sq")
  private def sqIndexDir(s: SparkSession, d: String): String =
    sqIndexDirs(s, d) { dir =>
      Similarity.buildSqIndex(Tables.embeddings(s, d), "vec_id", "embedding",
        dir)
    }

  /** One persisted dedup-IVF index per (session, sfDir) — the
    * [[ivfIndexDir]] convention for the DEDUP regime (q72/q141's
    * data-adaptive cells and nprobe=2 multi-probe assignments, which
    * differ from q119's fixed-16-cell single-probe serving index):
    * built on first use, reused by every later q141 run in the
    * session, so the bench's repeat passes measure the dedup-run cost
    * (cell join + verify + components), not the Lloyd build. */
  private val ivfDedupIndexDirs = SessionMemo.indexDirs("graft_ivf_dedup")
  private def ivfDedupIndexDir(s: SparkSession, d: String): String =
    ivfDedupIndexDirs(s, d) { dir =>
      Similarity.buildIvfDedupIndex(Tables.embeddings(s, d), "vec_id",
        "embedding", dir, targetCellSize = 256, nprobe = 2, lloydIters = 2)
    }

  /** The seeded hyperplanes as a DuckDB VALUES list `(pidx, pv)`. Each
    * component is emitted as `(<shortest-round-trip repr>)::DOUBLE` —
    * a BARE decimal literal would parse as DECIMAL(17,16) and lose the
    * low bits, flipping near-zero projection signs. With the element
    * cast, DuckDB's `list_inner_product` is a sequential left fold over
    * exactly the doubles Spark folds in `signLshBuckets`, so the sign
    * bits (and hence every bucket key) replay bit-identically. */
  private def planesValues(numPlanes: Int, dims: Int): String =
    Similarity.planes(numPlanes, dims).zipWithIndex.map { case (p, i) =>
      s"($i, [" + p.map(x => s"($x)::DOUBLE").mkString(",") + "])"
    }.mkString(",\n")

  /** Shared oracle head for the sign-LSH family: embeddings as DOUBLE[]
    * plus per-vector band keys bkey = Σ_r bit(b·rpb + r)·2^r — the SQL
    * twin of `Similarity.signLshBuckets`. */
  private def lshBitsSql(numPlanes: Int, rowsPerBand: Int): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |p(pidx, pv) AS (VALUES
       |${planesValues(numPlanes, dims = 64)}),
       |bits AS (SELECT vec_id, pidx // $rowsPerBand AS band,
       |    CAST(sum(CASE WHEN list_inner_product(v, pv) > 0
       |      THEN (1 << (pidx % $rowsPerBand)) ELSE 0 END) AS BIGINT) AS bkey
       |  FROM e CROSS JOIN p GROUP BY 1, 2)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q28_cosine_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id % 20 = 0),
        |p AS (SELECT q.vec_id AS q_id, e.vec_id AS n_id,
        |        round(list_cosine_similarity(q.v, e.v), 4) AS cos
        |      FROM q JOIN e ON q.vec_id <> e.vec_id)
        |SELECT q_id, n_id, cos, rn FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos DESC, n_id) AS BIGINT) AS rn FROM p)
        |WHERE rn <= 5""".stripMargin,

    // q149: planes(16, 64) literals (the q29 seed), projection as 16
    // list_inner_product folds per vector, then the q28 top-k shape
    // on the projected lists.
    "q149_ann_projected" ->
      s"""WITH pl(pidx, pv) AS (VALUES
         |${planesValues(numPlanes = 16, dims = 64)}),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |      FROM embeddings),
         |pr AS (SELECT vec_id, list(ip ORDER BY pidx) AS pv2 FROM (
         |    SELECT e.vec_id, pl.pidx, list_inner_product(e.v, pl.pv) AS ip
         |    FROM e CROSS JOIN pl) GROUP BY vec_id),
         |p AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |        round(list_cosine_similarity(q.pv2, c.pv2), 4) AS cos
         |      FROM pr q JOIN pr c
         |        ON q.vec_id % 20 = 0 AND q.vec_id <> c.vec_id)
         |SELECT q_id, n_id, cos, rn FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, n_id) AS BIGINT) AS rn FROM p)
         |WHERE rn <= 5""".stripMargin,

    "q56_embed_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4""".stripMargin,

    // signLshTopK(k=5, numPlanes=16, rowsPerBand=4, probes=4 — the
    // default probe count): the query side probes its own bucket plus
    // the 4 Hamming-1 keys (band-key bits 0..3 flipped).
    "q29_ann_lsh_topk" ->
      s"""WITH ${lshBitsSql(numPlanes = 16, rowsPerBand = 4)},
         |qb AS (SELECT vec_id AS q_id, band,
         |    unnest([bkey, xor(bkey, 1), xor(bkey, 2),
         |            xor(bkey, 4), xor(bkey, 8)]) AS qkey
         |  FROM bits WHERE vec_id % 20 = 0),
         |cand AS (SELECT DISTINCT q.q_id, c.vec_id AS n_id
         |  FROM qb q JOIN bits c
         |    ON q.band = c.band AND q.qkey = c.bkey AND q.q_id <> c.vec_id),
         |scored AS (SELECT q_id, n_id,
         |    round(list_cosine_similarity(eq.v, ec.v), 4) AS cos
         |  FROM cand JOIN e eq ON cand.q_id = eq.vec_id
         |            JOIN e ec ON cand.n_id = ec.vec_id)
         |SELECT q_id, n_id, cos, rn FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, n_id) AS BIGINT) AS rn FROM scored)
         |WHERE rn <= 5""".stripMargin,

    // cosinePairsLsh(minCos=0.4, numPlanes=24, rowsPerBand=3): band
    // bucket join for candidates, exact rounded-cosine verify.
    "q70_embed_neardup_lsh" ->
      s"""WITH ${lshBitsSql(numPlanes = 24, rowsPerBand = 3)},
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bits a JOIN bits b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b,
         |  round(list_cosine_similarity(ea.v, eb.v), 4) AS cos
         |FROM cand JOIN e ea ON cand.id_a = ea.vec_id
         |          JOIN e eb ON cand.id_b = eb.vec_id
         |WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= 0.4""".stripMargin,

    // q216: candidates (top-10 scaled-int cosine per query), pairwise
    // candidate sims, then the 5 greedy MMR rounds unrolled — each
    // round's argmax is a per-query row_number over rel − max(sim to
    // the selected set), ties on n_id, exactly the Spark loop.
    "q216_mmr_rerank" -> mmrOracleSql,

    // q235: the q28 all-pairs top-k shape, aggregated into the
    // per-label agreement census (count is a multiple of 5 by
    // construction, so // 5 is exact).
    "q235_knn_label_agreement" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |p AS (SELECT q.vec_id AS q_id, q.label AS q_label,
        |        e.label AS n_label, e.vec_id AS n_id,
        |        round(list_cosine_similarity(q.v, e.v), 4) AS cos
        |      FROM e q JOIN e ON q.vec_id <> e.vec_id),
        |tk AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos DESC, n_id) AS rn FROM p) WHERE rn <= 5)
        |SELECT CAST(q_label AS BIGINT) AS label,
        |  CAST(count(*) // 5 AS BIGINT) AS n_vecs,
        |  CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_agree,
        |  CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
        |    * 10000 // count(*) AS BIGINT) AS agree_x10k
        |FROM tk GROUP BY 1""".stripMargin,

    // q224: the q28 top-k shape with the label equi-filter in the
    // candidate join.
    "q224_ann_filtered" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id % 20 = 0),
        |p AS (SELECT q.vec_id AS q_id, CAST(q.label AS BIGINT) AS label,
        |        e.vec_id AS n_id,
        |        round(list_cosine_similarity(q.v, e.v), 4) AS cos
        |      FROM q JOIN e ON q.label = e.label AND q.vec_id <> e.vec_id)
        |SELECT q_id, label, n_id, cos, rn FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos DESC, n_id) AS BIGINT) AS rn FROM p)
        |WHERE rn <= 5""".stripMargin,

    // q222: per-dim scaled-int component sums per (label, half),
    // dim-ordered sum-vectors, one cosine fold per label, integer
    // share deltas — the census replayed end to end.
    "q222_embedding_drift" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |x AS (SELECT label, vec_id % 2 AS half, i - 1 AS dim,
        |        CAST(round(v[i] * 1000000, 0) AS BIGINT) AS c
        |      FROM (SELECT vec_id, label, v,
        |              unnest(generate_series(1, len(v))) AS i FROM e) z),
        |s AS (SELECT label, half, dim, CAST(sum(c) AS BIGINT) AS sv
        |      FROM x GROUP BY 1, 2, 3),
        |va AS (SELECT label, list(CAST(sv AS DOUBLE) ORDER BY dim) AS cv
        |       FROM s WHERE half = 0 GROUP BY 1),
        |vb AS (SELECT label, list(CAST(sv AS DOUBLE) ORDER BY dim) AS cv
        |       FROM s WHERE half = 1 GROUP BY 1),
        |cn AS (SELECT label,
        |        CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_ref,
        |        CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_new
        |      FROM e GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
        |              CAST(sum(n_new) AS BIGINT) AS t_new FROM cn)
        |SELECT CAST(cn.label AS BIGINT) AS label, n_ref, n_new,
        |  CAST(round(list_cosine_similarity(va.cv, vb.cv) * 10000, 0)
        |    AS BIGINT) AS centroid_cos_x10k,
        |  (n_new * 10000) // t_new - (n_ref * 10000) // t_ref
        |    AS share_delta_x10k
        |FROM cn JOIN va ON cn.label = va.label
        |        JOIN vb ON cn.label = vb.label CROSS JOIN tt""".stripMargin,

    // q217: the 8 farthest-point rounds unrolled — seed = min id,
    // each d$k CTE least-updates the min-distance against the single
    // new center, each p$k is the (mind DESC, vec_id) argmax outside
    // the chosen set.
    "q217_kcenter_coreset" -> kCenterOracleSql
  )

  /** q216 oracle: the MMR greedy unrolled (see the q170 convention —
    * one CTE pair per round; MATERIALIZED because round k references
    * round k−1 and inlining would re-expand the candidate subtree
    * exponentially, the q99 lesson). */
  private lazy val mmrOracleSql: String = {
    def round(r: Int) =
      s"""m$r AS MATERIALIZED (SELECT c.q_id, c.n_id, c.rel,
         |    max(s.sim) AS maxsim
         |  FROM cd c JOIN sm s ON s.q_id = c.q_id AND s.n_id = c.n_id
         |  JOIN s${r - 1} t ON t.q_id = s.q_id AND t.n_id = s.m_id
         |  WHERE NOT EXISTS (SELECT 1 FROM s${r - 1} x
         |                    WHERE x.q_id = c.q_id AND x.n_id = c.n_id)
         |  GROUP BY 1, 2, 3),
         |p$r AS MATERIALIZED (SELECT q_id, CAST($r AS BIGINT) AS round,
         |    n_id, rel, maxsim, rel - maxsim AS score FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY rel - maxsim DESC, n_id) AS rn FROM m$r)
         |  WHERE rn = 1),
         |s$r AS (SELECT q_id, n_id FROM s${r - 1}
         |        UNION ALL SELECT q_id, n_id FROM p$r)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |qq AS (SELECT * FROM e WHERE vec_id % 20 = 0),
       |cd AS MATERIALIZED (SELECT q_id, n_id, rel FROM (
       |    SELECT qq.vec_id AS q_id, e.vec_id AS n_id,
       |      CAST(round(list_cosine_similarity(qq.v, e.v) * 10000, 0)
       |        AS BIGINT) AS rel,
       |      row_number() OVER (PARTITION BY qq.vec_id
       |        ORDER BY CAST(round(list_cosine_similarity(qq.v, e.v)
       |          * 10000, 0) AS BIGINT) DESC, e.vec_id) AS crn
       |    FROM qq JOIN e ON qq.vec_id <> e.vec_id)
       |  WHERE crn <= 10),
       |sm AS MATERIALIZED (SELECT a.q_id, a.n_id, b.n_id AS m_id,
       |    greatest(CAST(round(list_cosine_similarity(ea.v, eb.v)
       |      * 10000, 0) AS BIGINT), 0) AS sim
       |  FROM cd a JOIN cd b ON a.q_id = b.q_id AND a.n_id <> b.n_id
       |  JOIN e ea ON a.n_id = ea.vec_id
       |  JOIN e eb ON b.n_id = eb.vec_id),
       |p1 AS MATERIALIZED (SELECT q_id, CAST(1 AS BIGINT) AS round,
       |    n_id, rel, CAST(0 AS BIGINT) AS maxsim, rel AS score FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY rel DESC, n_id) AS rn FROM cd) WHERE rn = 1),
       |s1 AS (SELECT q_id, n_id FROM p1),
       |${(2 to 5).map(round).mkString(",\n")}
       |${(1 to 5).map(r => s"SELECT * FROM p$r").mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** q217 oracle: greedy k-center unrolled — d$k carries every point's
    * min distance to the first k centers, p${k+1} picks the farthest
    * point outside the chosen set, c$k accumulates the chosen ids. */
  private lazy val kCenterOracleSql: String = {
    def dist(vcol: String) =
      s"10000 - CAST(round(list_cosine_similarity($vcol, s.v) * 10000, 0) AS BIGINT)"
    def round(r: Int) =
      s"""p$r AS MATERIALIZED (SELECT vec_id, mind FROM d${r - 1}
         |  WHERE vec_id NOT IN (SELECT id FROM c${r - 1})
         |  ORDER BY mind DESC, vec_id LIMIT 1),
         |c$r AS (SELECT id FROM c${r - 1}
         |        UNION ALL SELECT vec_id FROM p$r)""".stripMargin +
      (if (r < 8)
        s""",
           |d$r AS MATERIALIZED (SELECT d${r - 1}.vec_id,
           |    least(d${r - 1}.mind, ${dist("ev.v")}) AS mind
           |  FROM d${r - 1} JOIN e ev ON d${r - 1}.vec_id = ev.vec_id
           |  CROSS JOIN (SELECT e2.v FROM e e2
           |              JOIN p$r ON e2.vec_id = p$r.vec_id) s)""".stripMargin
       else "")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |c1 AS (SELECT min(vec_id) AS id FROM e),
       |d1 AS MATERIALIZED (SELECT e.vec_id, ${dist("e.v")} AS mind
       |  FROM e CROSS JOIN (SELECT e2.v FROM e e2
       |                     JOIN c1 ON e2.vec_id = c1.id) s),
       |${(2 to 8).map(round).mkString(",\n")}
       |SELECT CAST(1 AS BIGINT) AS round, id AS vec_id,
       |  CAST(20000 AS BIGINT) AS radius FROM c1
       |${(2 to 8).map(r =>
          s"UNION ALL SELECT CAST($r AS BIGINT), vec_id, mind FROM p$r")
          .mkString("\n")}""".stripMargin
  }

  /** Collected Lloyd centroids as a DuckDB VALUES list `(cell, ctr)` —
    * same literal convention as [[planesValues]] (shortest round-trip
    * repr with an element DOUBLE cast, so no decimal-parse bit loss). */
  private def centroidValues(cents: Seq[(Long, Seq[Double])]): String =
    cents.map { case (cell, ctr) =>
      s"($cell, [" + ctr.map(x => s"($x)::DOUBLE").mkString(",") + "])"
    }.mkString(",\n")

  /** Shared oracle head for the IVF family: embeddings as DOUBLE[],
    * centroid literals, and the UNROUNDED vector↔centroid cosine —
    * written as three sequential `list_inner_product` folds
    * (dot/(√na·√nb)), which mirrors ArrayCosine's single index-order
    * pass bit-for-bit (each accumulator folds 0..n-1 independently), so
    * the `sim DESC, cell` assignment ranking replays exactly.
    * MATERIALIZED: `sim` is referenced twice downstream and DuckDB
    * would otherwise inline (recompute) it per reference. */
  private def ivfSimSql(cents: Seq[(Long, Seq[Double])]): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |cent(cell, ctr) AS (VALUES
       |${centroidValues(cents)}),
       |sim AS MATERIALIZED (SELECT e.vec_id AS n_id, c.cell,
       |    list_inner_product(v, ctr) /
       |      (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(ctr, ctr))) AS sim
       |  FROM e CROSS JOIN cent c)""".stripMargin

  /** Data-dependent oracles for the IVF family (q51/q72), generated at
    * Verify time with the live session: the Lloyd centroids are
    * COMPUTED in Spark, collected, and embedded as literals, so DuckDB
    * replays cell assignment, candidate generation, and the
    * rounded-cosine verify exactly — the q29/q70 literal-plane trick
    * extended to data-dependent state. The centroid computation itself
    * stays covered by SimilaritySpec (full-probe ≡ exact; recall
    * floors vs the oracle-checked exact baselines). */
  def dynamicOracles(s: SparkSession, d: String): Map[String, String] = {
    val emb = Tables.embeddings(s, d)
    // q51 = ivfTopK(topK=5, cells=16, nprobe=4, lloydIters=2)
    val c51 = Similarity.collectedCentroids(emb, "vec_id", "embedding",
      cells = 16, lloydIters = 2)
    // the q51 ANN ranking as a reusable CTE chain (`annr`): q51 selects
    // it directly; q196/q197 grade it against the exact ranking `exr`
    val annCtes =
      s"""${ivfSimSql(c51)},
         |idx AS (SELECT n_id, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY n_id
         |      ORDER BY sim DESC, cell) AS arn FROM sim)
         |  WHERE arn <= 1),
         |probes AS (SELECT n_id AS q_id, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY n_id
         |      ORDER BY sim DESC, cell) AS arn
         |    FROM sim WHERE n_id % 20 = 0)
         |  WHERE arn <= 4),
         |cand AS (SELECT DISTINCT p.q_id, i.n_id
         |  FROM probes p JOIN idx i ON p.cell = i.cell AND p.q_id <> i.n_id),
         |scored AS (SELECT q_id, n_id,
         |    round(list_cosine_similarity(eq.v, ec.v), 4) AS cos
         |  FROM cand JOIN e eq ON cand.q_id = eq.vec_id
         |            JOIN e ec ON cand.n_id = ec.vec_id),
         |annr AS (SELECT q_id, n_id, cos, rn FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, n_id) AS BIGINT) AS rn FROM scored)
         |WHERE rn <= 5)""".stripMargin
    // the q28 exact ranking, rebuilt on the shared `e` CTE
    val exrCte =
      """exr AS (SELECT q_id, n_id, rn FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.v, c.v), 4) DESC,
        |               c.vec_id) AS BIGINT) AS rn
        |  FROM e q JOIN e c ON q.vec_id % 20 = 0 AND q.vec_id <> c.vec_id)
        |WHERE rn <= 5)""".stripMargin
    val q51 = s"WITH $annCtes\nSELECT q_id, n_id, cos, rn FROM annr"
    val q196 =
      s"""WITH $annCtes,
         |$exrCte
         |SELECT x.q_id, CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(coalesce(sum(CASE WHEN a.n_id IS NOT NULL
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit
         |FROM exr x LEFT JOIN annr a
         |  ON x.q_id = a.q_id AND x.n_id = a.n_id
         |GROUP BY 1""".stripMargin
    val q197 =
      s"""WITH $annCtes,
         |$exrCte,
         |idcg AS (SELECT q_id,
         |    CAST(sum((6 - rn) * (60 // rn)) AS BIGINT) AS idcg_x60
         |  FROM exr GROUP BY 1),
         |dcg AS (SELECT a.q_id,
         |    CAST(sum(coalesce(6 - x.rn, 0) * (60 // a.rn)) AS BIGINT)
         |      AS dcg_x60
         |  FROM annr a LEFT JOIN exr x
         |    ON a.q_id = x.q_id AND a.n_id = x.n_id
         |  GROUP BY 1)
         |SELECT i.q_id, CAST(coalesce(d.dcg_x60, 0) AS BIGINT) AS dcg_x60,
         |  i.idcg_x60
         |FROM idcg i LEFT JOIN dcg d ON i.q_id = d.q_id""".stripMargin
    val q215 =
      s"""WITH $annCtes,
         |$exrCte
         |SELECT a.q_id, a.n_id, a.rn AS ann_rank
         |FROM annr a LEFT JOIN exr x
         |  ON a.q_id = x.q_id AND a.n_id = x.n_id
         |WHERE x.n_id IS NULL""".stripMargin
    val q211 =
      s"""WITH $annCtes,
         |$exrCte,
         |h AS (SELECT a.q_id, min(a.rn) AS fr
         |  FROM annr a JOIN exr x ON a.q_id = x.q_id AND a.n_id = x.n_id
         |  GROUP BY 1)
         |SELECT q.q_id,
         |  CAST(coalesce(h.fr, 0) AS BIGINT) AS first_hit_rank,
         |  CAST(coalesce(60 // h.fr, 0) AS BIGINT) AS rr_x60
         |FROM (SELECT DISTINCT q_id FROM exr) q
         |LEFT JOIN h ON q.q_id = h.q_id""".stripMargin
    // q72 = cosinePairsIvf(minCos=0.4, targetCellSize=256, nprobe=2,
    // lloydIters=2) — cells are data-adaptive; past 64 cells the engine
    // switches to two-level assignment, which this replay does not
    // mirror → keep the rows-only check there (not reached at the
    // driver's SFs: sf0.1 is 5000/256 → 19 cells).
    val cells72 = Similarity.dedupCells(emb, 256)
    val q72map =
      if (Similarity.hierarchical(cells72)) Map.empty[String, String]
      else {
        val c72 = Similarity.collectedCentroids(emb, "vec_id", "embedding",
          cells = cells72, lloydIters = 2)
        // the shared IVF pair pipeline (assignment → candidates →
        // verified pairs), composed bare by q72 and under a
        // recursive component closure by q141
        val pairCtes =
          s"""${ivfSimSql(c72)},
             |asg AS (SELECT n_id, cell FROM (
             |    SELECT *, row_number() OVER (PARTITION BY n_id
             |      ORDER BY sim DESC, cell) AS arn FROM sim)
             |  WHERE arn <= 2),
             |cand AS (SELECT DISTINCT a.n_id AS id_a, b.n_id AS id_b
             |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.n_id < b.n_id),
             |prs AS (SELECT id_a, id_b,
             |    round(list_cosine_similarity(ea.v, eb.v), 4) AS cos
             |  FROM cand JOIN e ea ON cand.id_a = ea.vec_id
             |            JOIN e eb ON cand.id_b = eb.vec_id
             |  WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= 0.4)""".stripMargin
        Map(
          "q72_embed_neardup_ivf" ->
            s"""WITH $pairCtes
               |SELECT id_a, id_b, cos FROM prs""".stripMargin,
          // q141: the q93 recursive-closure + min-id keeper discipline
          // over the q72 pair set
          "q141_semantic_dedup" ->
            s"""WITH RECURSIVE $pairCtes,
               |adj AS (SELECT id_a AS s, id_b AS d FROM prs
               |        UNION SELECT id_b AS s, id_a AS d FROM prs),
               |verts AS (SELECT DISTINCT s AS v FROM adj),
               |reach(v, u) AS (SELECT v, v FROM verts
               |  UNION
               |  SELECT r.v, adj.d FROM reach r JOIN adj ON r.u = adj.s),
               |comp AS (SELECT v, min(u) AS c FROM reach GROUP BY v),
               |assign AS (SELECT emb.vec_id,
               |    CAST(coalesce(comp.c, emb.vec_id) AS BIGINT)
               |      AS canonical_id
               |  FROM embeddings emb LEFT JOIN comp ON emb.vec_id = comp.v),
               |sizes AS (SELECT canonical_id, CAST(count(*) AS BIGINT)
               |            AS n_members FROM assign GROUP BY 1)
               |SELECT a.vec_id, a.canonical_id, s.n_members,
               |  a.vec_id = a.canonical_id AS keep
               |FROM assign a JOIN sizes s
               |  ON a.canonical_id = s.canonical_id""".stripMargin)
      }
    // q178: the same c51 literals — assignment replay + per-cell
    // occupancy and the scaled-integer cosine mass
    val q178 =
      s"""WITH ${ivfSimSql(c51)},
         |asg AS (SELECT n_id, cell, sim FROM (
         |    SELECT *, row_number() OVER (PARTITION BY n_id
         |      ORDER BY sim DESC, cell) AS arn FROM sim)
         |  WHERE arn <= 1)
         |SELECT CAST(cell AS BIGINT) AS cell,
         |  CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(sum(CAST(round(sim * 10000, 0) AS BIGINT)) AS BIGINT)
         |    AS sum_cos_x10k
         |FROM asg GROUP BY 1""".stripMargin
    // q119 runs the same parameters against the PERSISTED index; the
    // deterministic build makes disk and in-flight indexes bit-equal,
    // so the same replay checks both
    val books = Similarity.collectedPqCodebooks(emb, "vec_id", "embedding",
      m = 8, k = 64, lloydIters = 2)
    // q204: the SQ8 ranges are deterministic (exact min/max), so the
    // recomputed global scale equals the persisted index's bit-for-bit
    // (the q119 build-replay argument)
    val sqS = {
      val p = Similarity.collectedSqParams(emb, "vec_id", "embedding")
      val s = p.map(t => math.max(math.abs(t._2), math.abs(t._3))).max
      if (s > 0) s else 1.0
    }
    // q252/q253: centroids trained on the 80% base corpus (the
    // incremental index's frozen quantizer), assignment replayed over
    // the FULL table — appended rows land exactly where the one-shot
    // pass puts them, which is the append-equivalence the oracle pins
    val c80 = Similarity.collectedCentroids(
      emb.filter(col("vec_id") % 5 =!= 4), "vec_id", "embedding",
      cells = 16, lloydIters = 2)
    val q252 =
      s"""WITH ${ivfSimSql(c80)},
         |idx AS (SELECT n_id, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY n_id
         |      ORDER BY sim DESC, cell) AS arn FROM sim)
         |  WHERE arn <= 1),
         |probes AS (SELECT n_id AS q_id, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY n_id
         |      ORDER BY sim DESC, cell) AS arn
         |    FROM sim WHERE n_id % 20 = 0)
         |  WHERE arn <= 4),
         |cand AS (SELECT DISTINCT p.q_id, i.n_id
         |  FROM probes p JOIN idx i ON p.cell = i.cell AND p.q_id <> i.n_id),
         |scored AS (SELECT q_id, n_id,
         |    round(list_cosine_similarity(eq.v, ec.v), 4) AS cos
         |  FROM cand JOIN e eq ON cand.q_id = eq.vec_id
         |            JOIN e ec ON cand.n_id = ec.vec_id)
         |SELECT q_id, n_id, cos, rn FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, n_id) AS BIGINT) AS rn FROM scored)
         |WHERE rn <= 5""".stripMargin
    val q253 =
      s"""WITH ${ivfSimSql(c80)},
         |idx AS (SELECT n_id, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY n_id
         |      ORDER BY sim DESC, cell) AS arn FROM sim)
         |  WHERE arn <= 1),
         |census AS (SELECT cell,
         |    CAST(sum(CASE WHEN n_id % 5 <> 4 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_base,
         |    CAST(sum(CASE WHEN n_id % 5 = 4 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_new
         |  FROM idx GROUP BY 1)
         |SELECT CAST(cell AS BIGINT) AS cell, n_base, n_new,
         |  CASE WHEN n_base = 0 THEN 999999
         |       ELSE n_new * 10000 // n_base END AS growth_x10k,
         |  CAST(CASE WHEN (CASE WHEN n_base = 0 THEN 999999
         |       ELSE n_new * 10000 // n_base END) >= 3000
         |    THEN 1 ELSE 0 END AS BIGINT) AS retrain
         |FROM census""".stripMargin
    // q261: the q51 literal-centroid replay restricted to training-side
    // candidates, top-1, ×10⁴ verdict with the no-candidate sentinel
    val q261 =
      s"""WITH ${ivfSimSql(c51)},
         |idx AS (SELECT n_id, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY n_id
         |      ORDER BY sim DESC, cell) AS arn FROM sim)
         |  WHERE arn <= 1),
         |probes AS (SELECT n_id AS q_id, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY n_id
         |      ORDER BY sim DESC, cell) AS arn
         |    FROM sim WHERE n_id % 20 = 0)
         |  WHERE arn <= 4),
         |cand AS (SELECT DISTINCT p.q_id, i.n_id
         |  FROM probes p JOIN idx i ON p.cell = i.cell
         |  WHERE i.n_id % 20 <> 0),
         |scored AS (SELECT q_id, n_id,
         |    CAST(round(list_cosine_similarity(eq.v, ec.v) * 10000, 0)
         |      AS BIGINT) AS cos_x10k
         |  FROM cand JOIN e eq ON cand.q_id = eq.vec_id
         |            JOIN e ec ON cand.n_id = ec.vec_id),
         |best AS (SELECT q_id, n_id AS best_match, cos_x10k FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos_x10k DESC, n_id) AS rn FROM scored)
         |  WHERE rn <= 1)
         |SELECT q.q_id,
         |  CAST(coalesce(b.best_match, -1) AS BIGINT) AS best_match,
         |  CAST(coalesce(b.cos_x10k, -10000) AS BIGINT) AS cos_x10k,
         |  CAST(CASE WHEN coalesce(b.cos_x10k, -10000) >= 8000
         |    THEN 1 ELSE 0 END AS BIGINT) AS contaminated
         |FROM (SELECT vec_id AS q_id FROM embeddings
         |      WHERE vec_id % 20 = 0) q
         |LEFT JOIN best b ON q.q_id = b.q_id""".stripMargin
    Map("q51_ann_ivf_topk" -> q51, "q119_ann_ivf_indexed" -> q51,
      "q261_semantic_contamination" -> q261,
      "q252_ivf_append_serve" -> q252, "q253_ivf_append_drift" -> q253,
      "q196_ann_recall_at_k" -> q196, "q197_ann_ndcg_at_k" -> q197,
      "q211_ann_mrr_at_k" -> q211,
      "q215_hard_negatives" -> q215,
      "q178_ivf_quality" -> q178,
      "q125_ann_pq_topk" -> pqOracle(books),
      "q127_ann_ivfpq_topk" -> ivfPqOracle(c51, books),
      "q204_ann_sq8_topk" -> sqOracle(sqS)) ++ q72map
  }

  /** q204 replay: the literal global scale re-quantizes every vector
    * (the SAME (x·127.0)/s op order as the Spark transform, so the
    * float path is bit-reproducible), the integer dot product over
    * code lists picks the 50-deep shortlist with NO float-tie hazard,
    * and the exact-IP re-rank mirrors the pq tail. */
  private def sqOracle(s: Double): String = {
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |cd AS MATERIALIZED (SELECT vec_id, list_transform(v, x ->
       |    least(greatest(CAST(floor(x * 127.0 / ($s)::DOUBLE) AS BIGINT),
       |      -127), 127)) AS cl
       |  FROM e),
       |sq AS MATERIALIZED (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    CAST(list_inner_product(q.cl, c.cl) AS BIGINT) AS sq_ip
       |  FROM cd q JOIN cd c ON q.vec_id % 20 = 0 AND q.vec_id <> c.vec_id),
       |cand AS (SELECT q_id, n_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY sq_ip DESC, n_id) AS srn FROM sq) WHERE srn <= 50),
       |scored AS (SELECT q_id, n_id,
       |    round(list_inner_product(eq.v, ec.v), 4) AS ip
       |  FROM cand JOIN e eq ON cand.q_id = eq.vec_id
       |            JOIN e ec ON cand.n_id = ec.vec_id)
       |SELECT q_id, n_id, ip, rn FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY ip DESC, n_id) AS BIGINT) AS rn FROM scored)
       |WHERE rn <= 5""".stripMargin
  }

  /** PQ codebooks as a DuckDB VALUES list `(sub, cell, ctr)` — the
    * [[centroidValues]] literal convention. */
  private def pqCodebookValues(books: Seq[(Int, Long, Seq[Double])]): String =
    books.map { case (sub, cell, ctr) =>
      s"($sub, $cell, [" + ctr.map(x => s"($x)::DOUBLE").mkString(",") + "])"
    }.mkString(",\n")

  // q125/q127 PQ replay building blocks (m=8, k=64, 8-dim slices)
  private val PqSv = "v[cb.sub*8+1:cb.sub*8+8]" // the row's sub-slice
  private val PqCWide = (0 until 8).map(i =>
    s"max(CASE WHEN sub = $i THEN cell END) AS c$i").mkString(",\n    ")
  private val PqAdcSum = (0 until 8).map(i => s"t$i.ip").mkString(" + ")
  private def pqTJoins(qIdExpr: String) = (1 until 8).map(i =>
    s"JOIN tb t$i ON t$i.q_id = $qIdExpr AND t$i.sub = $i " +
      s"AND t$i.cell = ew.c$i").mkString("\n  ")

  /** PQ CTEs shared by the q125 and q127 replays (assume `e` is already
    * defined): codebook literals, the L2 code assignment (the same
    * three-fold dist² expression in the same order), the pivoted code
    * table, and the per-query ADC lookup tables. */
  private def pqCtes(books: Seq[(Int, Long, Seq[Double])]): String =
    s"""cb(sub, cell, ctr) AS (VALUES
       |${pqCodebookValues(books)}),
       |enc AS MATERIALIZED (SELECT vec_id, sub, cell FROM (
       |    SELECT e.vec_id, cb.sub, cb.cell,
       |      row_number() OVER (PARTITION BY e.vec_id, cb.sub ORDER BY
       |        list_inner_product($PqSv, $PqSv)
       |          - 2 * list_inner_product($PqSv, cb.ctr)
       |          + list_inner_product(cb.ctr, cb.ctr) ASC, cb.cell) AS arn
       |    FROM e CROSS JOIN cb) WHERE arn <= 1),
       |ew AS MATERIALIZED (SELECT vec_id,
       |    $PqCWide
       |  FROM enc GROUP BY 1),
       |tb AS MATERIALIZED (SELECT e.vec_id AS q_id, cb.sub, cb.cell,
       |    list_inner_product($PqSv, cb.ctr) AS ip
       |  FROM e CROSS JOIN cb WHERE e.vec_id % 20 = 0)""".stripMargin

  /** Shared replay tail: ADC shortlist (50) then exact-IP re-rank. */
  private val pqTailSql =
    """cand AS (SELECT q_id, n_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id
      |      ORDER BY ip_pq DESC, n_id) AS srn FROM adc) WHERE srn <= 50),
      |scored AS (SELECT q_id, n_id,
      |    round(list_inner_product(eq.v, ec.v), 4) AS ip
      |  FROM cand JOIN e eq ON cand.q_id = eq.vec_id
      |            JOIN e ec ON cand.n_id = ec.vec_id)
      |SELECT q_id, n_id, ip, rn FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
      |    ORDER BY ip DESC, n_id) AS BIGINT) AS rn FROM scored)
      |WHERE rn <= 5""".stripMargin

  /** q125 replay: codebooks computed in Spark land as literals; DuckDB
    * re-derives the code assignment, the ADC tables, the FIXED-ORDER
    * eight-term ADC sum over ALL (query, vector) pairs, the 50-deep
    * shortlist, and the exact-IP re-rank — every double op mirrors the
    * Spark expression tree, so the hash matches bit-for-bit. */
  private def pqOracle(books: Seq[(Int, Long, Seq[Double])]): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |${pqCtes(books)},
       |adc AS MATERIALIZED (SELECT t0.q_id, ew.vec_id AS n_id,
       |    round($PqAdcSum, 4) AS ip_pq
       |  FROM ew
       |  JOIN tb t0 ON t0.sub = 0 AND t0.cell = ew.c0
       |  ${pqTJoins("t0.q_id")}
       |  WHERE ew.vec_id <> t0.q_id),
       |$pqTailSql""".stripMargin

  /** q127 replay: q51's centroid-literal cell routing produces the
    * candidate set, then the SAME PQ CTEs score only those candidates —
    * the composed IVFADC pipeline replayed end-to-end from the two
    * literal sets. */
  private def ivfPqOracle(cents: Seq[(Long, Seq[Double])],
                          books: Seq[(Int, Long, Seq[Double])]): String =
    s"""WITH ${ivfSimSql(cents)},
       |idx AS (SELECT n_id, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY n_id
       |      ORDER BY sim DESC, cell) AS arn FROM sim)
       |  WHERE arn <= 1),
       |probes AS (SELECT n_id AS q_id, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY n_id
       |      ORDER BY sim DESC, cell) AS arn
       |    FROM sim WHERE n_id % 20 = 0)
       |  WHERE arn <= 4),
       |cd AS (SELECT DISTINCT p.q_id, i.n_id
       |  FROM probes p JOIN idx i ON p.cell = i.cell AND p.q_id <> i.n_id),
       |${pqCtes(books)},
       |adc AS MATERIALIZED (SELECT cd.q_id, cd.n_id,
       |    round($PqAdcSum, 4) AS ip_pq
       |  FROM cd
       |  JOIN ew ON ew.vec_id = cd.n_id
       |  JOIN tb t0 ON t0.q_id = cd.q_id AND t0.sub = 0 AND t0.cell = ew.c0
       |  ${pqTJoins("cd.q_id")}),
       |$pqTailSql""".stripMargin
}
