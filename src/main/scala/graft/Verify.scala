package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Every query whose oracle comes from [[SparkEntry.dynamicOracleSql]]
    * rather than the static map. A subset run (3rd arg) only triggers
    * dynamic-oracle generation when it selects one of these, so an
    * omission silently degrades that query to rows-only during local
    * iteration — ContractSpec pins this list to the actual keys
    * `dynamicOracleSql` emits so it can never drift again (the r10
    * wart: q141 was missing). */
  val dynamicKeys: Seq[String] =
    Seq("q51_ann_ivf_topk", "q72_embed_neardup_ivf", "q119_ann_ivf_indexed",
      "q125_ann_pq_topk", "q127_ann_ivfpq_topk", "q132_bpe_learned",
      "q141_semantic_dedup", "q178_ivf_quality", "q183_geo_enrichment",
      "q190_json_source_census",
      "q196_ann_recall_at_k", "q197_ann_ndcg_at_k", "q204_ann_sq8_topk",
      "q211_ann_mrr_at_k", "q215_hard_negatives", "q249_aux_dwarf",
      "q250_citation_context_terms", "q252_ivf_append_serve",
      "q253_ivf_append_drift", "q254_fos_relationship_census",
      "q255_conference_seasons", "q256_reco_reciprocity",
      "q257_venue_catalog", "q260_conference_orders",
      "q261_semantic_contamination", "q263_abstract_invindex",
      "q264_personalnet_journey", "q265_profile_journey",
      "q277_personalnet_dense", "q278_profile_dense")

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes — run only the
    // matching queries (local iteration; the driver always runs all)
    val only: String => Boolean = args.lift(2) match {
      case Some(pfx) =>
        val ps = pfx.split(',').toSeq; name => ps.exists(name.startsWith)
      case None => _ => true
    }
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Checkpoints.releaseAll(spark) // drop the finished query's blocks
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + Strings.jsonEscape(s) + "\""
    // data-dependent oracles (IVF literal-centroid replay) are computed
    // here with the live session; a failure degrades those queries to
    // the rows-only check instead of sinking the whole dump. Skipped
    // entirely when a subset run filters their queries out — the Lloyd
    // pipelines are the only oracle-side computation with real cost.
    // NonFatal only: an OOM or other fatal error must crash the dump
    // loudly, not silently weaken q51/q72 to the rows-only check. A
    // nonfatal degradation is RECORDED next to the oracle json so the
    // round report shows those queries ran without their hash oracle.
    val dynamic =
      if (!dynamicKeys.exists(only)) Map.empty[String, String]
      else try SparkEntry.dynamicOracleSql(spark, sfDir)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] dynamic oracles failed: ${e.getMessage}")
        Files.writeString(Paths.get(s"$outDir/oracle_degraded.txt"),
          s"dynamic oracles (${dynamicKeys.mkString(", ")}) degraded to " +
            s"rows-only: ${e.getClass.getName}: ${e.getMessage}\n")
        Map.empty[String, String]
      }
    Checkpoints.releaseAll(spark)
    val json = (SparkEntry.oracleSql ++ dynamic).filter(kv => only(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
