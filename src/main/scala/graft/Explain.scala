package graft

import graft.Telemetry.{censusKeys, measure}

/** Plan-hygiene inspector.
  *
  * `runMain graft.Explain [sfDir] [queryName...]` — prints
  * `explain("formatted")` for the named queries (or a representative
  * default set) so scan pushdown, broadcast choices, and
  * WholeStageCodegen spans can be reviewed.
  *
  * `runMain graft.Explain --audit [sfDir] [queryName...]` — executes
  * every declared query (or the named ones) through the noop sink in
  * the production configuration, checkpoints on, each in a fresh
  * session and twice: a warm pass that builds the session-pinned spines
  * and persisted indexes the query serves from, then a measured pass.
  * It writes one row per query to AUDIT.json — AUDIT_subset.json when
  * queries are named, so a subset never overwrites the full record;
  * `GRAFT_AUDIT_OUT` overrides either ([[auditOut]]) — under a header
  * naming the code it ran ([[Telemetry.Revision]]):
  *
  *  - `rt_*`: what the measured pass ran — jobs, completed, skipped
  *    (AQE exchange reuse, already-computed checkpoint parents) and
  *    failed stages, stage retries;
  *  - the plan census over BOTH passes: shuffle exchanges and
  *    bhj/smj/shj/nlj join nodes of the final (AQE) plan of every SQL
  *    execution — the action itself, and every eager checkpoint round,
  *    loop guard or scalar collect the query runs while it is built.
  *
  * Nested-loop joins outside the intended set (broadcast grids,
  * scalars, centroid assignment, and the documented brute-force
  * baselines) are flagged, and an intended entry whose census reads 0
  * is reported as stale. The audit is the mechanical form of the
  * "explain-and-iterate" discipline: a new query that silently plans a
  * cartesian shows up here before it shows up in the bench.
  */
object Explain {

  /** Queries whose nested-loop joins are by design. An entry whose
    * audited census reads 0 NLJ is stale — the audit lists it as
    * `stale_intended_nlj` so the list shrinks with the plans it
    * describes. */
  private val intendedNlj = Set(
    "q10_yearly_grid",      // broadcast year-grid cross join
    "q28_cosine_topk",      // brute-force baseline: broadcast queries
    "q204_ann_sq8_topk",    // broadcast query-codes × compressed scan
    "q216_mmr_rerank",      // broadcast queries candidate gen (q28 shape)
    "q217_kcenter_coreset", // broadcast 1-row center × points (q42 shape)
    "q219_fk_census",       // 7× 1-row child-agg × 1-row parent-agg combine (q135 shape)
    "q220_walk_pmi",        // q160 walk-index grid + broadcast pair-total scalar (q158 shape)
    "q221_blocking_eval",   // 3× 1-row metric scalar combines (q135 shape)
    "q222_embedding_drift", // broadcast 1-row corpus-total scalar (q42 shape)
    "q225_markov_attribution", // variants×states domain grid + 1-row baseline (q117/q42 shapes)
    "q227_anf_diameter",    // broadcast 1-row N(3) total scalar (q42 shape)
    "q228_shapley_attribution", // ≤2^k-row coalition-grid containment probes
    "q229_rfm_segments",    // broadcast 1-row customer-count scalar (q42 shape)
    "q230_lorenz_deciles",  // broadcast 1-row (n, total) scalar (q42 shape)
    "q231_revenue_gini",    // broadcast 1-row (n, total) scalar (q42 shape)
    "q232_cusum_changepoint", // broadcast 1-row total + |max| scalars (q42 shape)
    "q233_benford_census",  // broadcast 1-row corpus-count scalar (q42 shape)
    "q259_sample_allocation", // broadcast mass-total + seats-left scalars (q42 shape)
    "q235_knn_label_agreement", // exact all-pairs candidate sweep (q28/q56 shape)
    "q243_skew_audit",      // broadcast 1-row totals scalar (q42 shape)
    "q263_abstract_invindex", // broadcast 1-row n_docs scalar (q42 shape)
    "q265_profile_journey",   // 2× broadcast 7-row year-grid densify (q10 shape)
    "q278_profile_dense",     // same 2× 7-row year-grid, dense %17 snapshot (q265 shape)
    "q267_decision_stump",    // broadcast 1-row bounds + totals scalars (q162/q42 shape)
    "q268_stump_eval",        // broadcast 1-row bounds + 1-row model scalars (q162/q42 shape)
    "q269_feature_importance", // broadcast 1-row bounds scalar (q162/q42 shape)
    "q270_pr_curve",          // broadcast 1-row bounds + positives-total scalars (q162/q42 shape)
    "q271_rater_kappa",       // broadcast 1-row bounds scalar (q162/q42 shape)
    "q272_mcnemar_compare",   // broadcast 1-row bounds scalar (q162/q42 shape)
    "q246_ks_drift",        // broadcast 1-row group-totals scalars (q42 shape)
    "q247_exact_auc",       // broadcast 1-row group-totals scalar (q42 shape)
    "q248_lift_curve",      // broadcast 1-row (n, conv) totals scalar (q42 shape)
    "q236_conductance",     // broadcast 1-row edge-count scalar (q165 shape)
    "q237_knn_reciprocity", // 1-row count × 1-row count combine (q135 shape)
    "q149_ann_projected",   // projected brute-force baseline (q28 shape)
    "q42_important_parts",  // broadcast global-total scalar
    "q214_dataset_card",    // broadcast 1-row metric scalars (q42 shape)
    "q51_ann_ivf_topk",     // broadcast centroid assignment
    "q72_embed_neardup_ivf", // broadcast centroid assignment (same as q51)
    "q141_semantic_dedup",  // index build: broadcast centroid assignment (q51 shape)
    "q56_embed_neardup",    // exact all-pairs baseline (documented)
    "q66_tfidf_topterms",   // broadcast corpus-size scalar
    "q250_citation_context_terms", // broadcast token-total scalar (q66 shape)
    "q86_weighted_sample",  // broadcast total-weight scalar (q42 shape)
    "q88_bm25_topterms",    // broadcast corpus-stats scalar (q66 shape)
    "q117_grouped_quantiles", // broadcast groups(≤5)×probs(4) target grid
    "q118_bpe_budget",      // broadcast corpus-total scalar (q42 shape)
    "q119_ann_ivf_indexed", // broadcast centroid probe assignment (q51 shape)
    "q252_ivf_append_serve", // broadcast centroid probe assignment (q119 shape)
    "q253_ivf_append_drift", // index build: broadcast centroid assignment (q252 shape)
    "q261_semantic_contamination", // broadcast centroid probe assignment (q119 shape)
    "q120_quantile_sketch", // broadcast 1-row sketch scalar (q42 shape)
    "q121_bloom_join",      // broadcast 1-row Bloom-filter scalar (q42 shape)
    "q124_mixture_sample",  // broadcast budget + weight-total scalars
    "q194_customer_frontier", // broadcast prune-vector scalar (q42 shape)
    "q125_ann_pq_topk",     // broadcast codebook/ADC-table assignment (q51 shape)
    "q126_token_mixture",   // broadcast token-total + weight-total scalars
    "q146_language_mixture", // broadcast token/weight-total scalars (q126 shape)
    "q152_tfidf_neardup",   // broadcast doc-count scalar (q42 shape)
    "q153_kmv_source_ops",  // broadcast source-name pair grid (20 rows)
    "q154_quality_curriculum", // broadcast doc-count scalar (q42 shape)
    "q155_temperature_mixture", // broadcast token/weight-total scalars (q126 shape)
    "q157_random_walks",    // broadcast walk-index grid (2 rows)
    "q158_pmi_collocations", // broadcast bigram-total scalar (q42 shape)
    "q160_node2vec_walks",  // broadcast walk-index grid (q157 shape)
    "q162_equiwidth_histogram", // broadcast min/max scalar (q42 shape)
    "q163_ab_test",         // 1-row variant x 1-row variant combine (q135 shape)
    "q165_modularity",      // broadcast edge-count scalar (q42 shape)
    "q174_dist_drift",      // broadcast range/total scalars (q162 shape)
    "q175_bm25_indexed",    // broadcast 1-row corpus-stats scalar (q88 shape)
    "q212_bm25_incremental", // broadcast 1-row corpus-stats scalar (q88 shape)
    "q176_copurchase_rules", // broadcast order-count scalar (q42 shape)
    "q184_quantile_normalize", // broadcast total-count scalar (q42 shape)
    "q178_ivf_quality",     // broadcast centroid assignment (q51 shape)
    "q167_rank_fusion",     // broadcast corpus-stats + query-vector scalars (q88 shape)
    "q127_ann_ivfpq_topk",  // broadcast centroid + codebook assignment (q51 shape)
    "q135_cm_join_size",    // 1-row est x 1-row exact scalar combine
    "q188_communities_refined", // broadcast 1-row Q_int guard-flag scalars (q42 shape)
    "q251_louvain_multilevel", // broadcast 1-row Q_int guard-flag scalars (q188 shape)
    "q196_ann_recall_at_k", // brute-force exact side (q28) + centroid assignment (q51)
    "q197_ann_ndcg_at_k",   // brute-force exact side (q28) + centroid assignment (q51)
    "q211_ann_mrr_at_k",    // brute-force exact side (q28) + centroid assignment (q51)
    "q215_hard_negatives")  // brute-force exact side (q28) + centroid assignment (q51)

  /** The audit's output path: `override` (`GRAFT_AUDIT_OUT`) if set,
    * else AUDIT.json for a full audit and AUDIT_subset.json for a
    * subset of named queries. */
  private[graft] def auditOut(`override`: Option[String], subset: Boolean): String =
    `override`.getOrElse(if (subset) "AUDIT_subset.json" else "AUDIT.json")

  def main(args: Array[String]): Unit = {
    val audit = args.headOption.contains("--audit")
    val rest = if (audit) args.drop(1) else args
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (rest.length > 1) rest.drop(1).toSeq
      else if (audit) SparkEntry.queries.keys.toSeq.sorted
      else Seq("q01_pricing_summary", "q03_topk_revenue", "q05_region_volume",
        "q15_cosupply_edges", "q28_cosine_topk")
    // fixed local[4], so AUDIT.json does not depend on the machine
    def session() = Session.local(4)

    if (audit) {
      val revision = Telemetry.revision()
      var flagged = 0
      val audited = names.map { n =>
        // A fresh session per query: its warm pass builds every
        // session-pinned spine and persisted index it serves from (even
        // one another query shares), so the census over both passes
        // covers them, and the measured pass's rt_* record the query's
        // OWN dataflow. A warm-pass failure recurs in the measured pass.
        val spark = session()
        def run(): Unit = SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val (warm, _) = measure(spark)(run())
        val (c, err) = measure(spark)(try run() finally Checkpoints.releaseAll(spark))
        spark.stop()
        err.foreach(e => System.err.println(s"[audit] $n FAILED: ${e.getMessage}"))
        val ok = err.isEmpty
        val k = censusKeys.map(key => key -> (warm.census(key) + c.census(key))).toMap
        val unintended = k("nlj") > 0 && !intendedNlj(n)
        if (unintended) flagged += 1
        println(f"[audit] $n%-28s jobs=${c.jobs.get}%-4d " +
          f"stages=${c.completedOk.get}%-5d skipped=${c.skipped}%-5d " +
          censusKeys.map(key => f"$key=${k(key)}%-4d").mkString(" ") +
          (if (unintended) "  <-- UNINTENDED NLJ" else "") +
          (if (ok) "" else "  FAILED"))
        s""""$n": {"rt_jobs": ${c.jobs.get}, """ +
          s""""rt_stages": ${c.completedOk.get}, """ +
          s""""rt_stages_skipped": ${c.skipped}, """ +
          s""""rt_stages_failed": ${c.failed.get}, """ +
          s""""rt_stage_retries": ${c.retries}, "rt_ok": $ok, """ +
          censusKeys.map(key => s""""$key": ${k(key)}, """).mkString +
          s""""nlj_intended": ${intendedNlj(n)}, """ +
          s""""unintended_nlj": $unintended}""" -> k("nlj")
      }
      val rows = audited.map(_._1)
      // allow-list entries audited here whose census reads no NLJ
      val stale = names.zip(audited).collect {
        case (n, (_, 0)) if intendedNlj(n) => n
      }
      println(s"[audit] stale intended-NLJ entries: ${stale.mkString(" ")}")
      println(s"[audit] ${names.size} queries, $flagged unintended nested-loop plans")
      val out = auditOut(sys.env.get("GRAFT_AUDIT_OUT"), subset = rest.length > 1)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        rows.mkString(
          s"""{"sf": "$sfDir", ${revision.json}, """ +
            s""""unintended_nlj_total": $flagged, """ +
            s""""stale_intended_nlj": [${stale.map(n => s""""$n"""").mkString(", ")}], """ +
            s""""queries": {""",
          ",\n", "}}"))
      println(s"[audit] wrote $out")
    } else {
      val spark = session()
      names.foreach { n =>
        println(s"\n===== $n =====")
        SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      }
      spark.stop()
    }
  }
}
