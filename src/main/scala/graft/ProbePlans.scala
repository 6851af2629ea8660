package graft

import org.apache.spark.sql.execution.FormattedMode

/** Regenerate PLANS.md: formatted physical plans for the headline
  * queries whose shapes PlanSpec gates (plus the newest operators).
  * Usage: `sbt "runMain graft.ProbePlans [sfDir] [outFile]"`. */
object ProbePlans {
  val headline: Seq[String] = Seq(
    "q01_pruned_scan", "q02_agg_pricing", "q03_join_broadcast", "q04_join_agg",
    "q15_asof_join", "q32_minhash_dups", "q36_knn_brute",
    "q59_edit_distance", "q62_domain_cap", "q64_tfidf", "q68_token_budget",
    "q72_line_dedup", "q76_range_join", "q85_kmeans_iter",
    "q106_semdedup", "q107_boilerplate_lines", "q112_pagerank", "q120_zorder_layout",
    "q128_curation_e2e", "q139_bigram_ppl", "q147_tfidf_pairs",
    "q157_substr_fingerprints", "q158_record_linkage", "q160_attribution",
    "q161_kmv_distinct", "q162_triangles", "q166_psi_drift",
    "q172_interval_overlap", "q173_bloom_anti_join",
    "q177_kmeans_lloyd", "q178_semdedup", "q183_assoc_rules",
    "q187_sequence_packing", "q188_ivf_trained", "q190_rrf_fusion",
    "q195_ecdf_transform", "q198_ks_drift", "q202_phrase_search",
    "q203_clustering_coeff", "q206_adamic_adar", "q213_gini",
    "q224_sorted_neighborhood", "q226_embedding_covariance",
    "q228_harmonic_centrality", "q240_jsd_sources", "q243_mg_heavy_hitters",
    "q249_rbo_sources", "q300_ngram_novelty", "q307_weighted_sample",
    "q311_zonemap_skip", "q312_pca_power", "q313_query_likelihood",
    "q314_jw_linkage", "q337_phash_dedup", "q343_rolling_wau",
    "q354_ivf_recall_curve",
    // round-11 plan changes: codegen CMS probe, selector-anchored q55,
    // real-image-decode promotion query
    "q115_cms_heavy_hitters", "q55_percentiles", "q361_image_decode",
    // round-16: star-shaped two-tier pHash dedup at realistic
    // distinct-hash cardinality (one partial-agg shuffle for the
    // representatives; band join over the rep frame only)
    "q373_phash_band_probe",
    // round-16b: representative per-row decode legs of the new codec
    // family (JBIG2 incl. symbol/text; Separation function LUT) — the
    // plan truth is one fan-out exchange + map-side kernels
    "q379_pdf_jbig2", "q381_pdf_separation", "q383_pdf_devicen")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    // four cores: the session PlanSpec gates these shapes on
    val spark = GraftSession.local(4)
    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans of headline queries (sf0.01, AQE on)\n\n"
    sb ++= "Generated by `graft.ProbePlans`; shapes gated in `PlanSpec.scala`.\n"
    for (name <- headline) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(FormattedMode)
      sb ++= s"\n## $name\n\n```\n$plan\n```\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[plans] wrote ${headline.size} plans to $outFile")
    spark.stop()
  }
}
