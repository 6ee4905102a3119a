package graft
import org.apache.spark.sql.SparkSession

/** Plan-audit tool: `runMain graft.Explain <query> [sfDir]` prints the
  * formatted physical plan of a registered query — the dev loop for checking
  * pushdown, broadcast, and codegen span before trusting a bench number. */
object Explain {

  /** `Explain all` audits the FULL registry minus the m4* streaming
    * drains: invoking a drain executes its bounded streaming topology
    * (stage temp input → run → drain) rather than returning a plannable
    * batch frame, so their sink/state plans are exercised by StreamingSpec
    * instead. Every batch query gets a committed formatted plan in
    * EXPLAINS.md — the cheapest plan-regression tripwire the repo has. */
  def auditable: Seq[String] =
    SparkEntry.queries.keys.toSeq.filterNot(_.startsWith("m4")).sorted

  /** The historical curated subset (one per distinct physical shape) —
    * retained as the quick audit for dev loops: `Explain headline`. */
  val headline: Seq[String] = Seq(
    "a1_window_agg", "a7_salted_agg", "a8_sessionize", "a10_rollup",
    "a11_percentiles", "m1_quality_scorecard",
    "j1_broadcast_join", "j5_bucketed_join", "j6_asof_join", "j7_range_join",
    "j4_upsert_merge",
    "m6_decontaminate", "m6_corpus_build",
    "w1_rolling_avg", "w3_anomaly_2sigma", "w8_latest_per_key",
    "o1_sort_limit", "o3_api_pagination", "s7_incremental_read",
    "s2_kafka_envelope", "s12_partitioned_output",
    "m6_cosine_topk", "m6_ann_lsh", "m6_ann_ivf", "m6_minhash_dedup",
    "m6_simhash_pairs", "m6_embed_dedup", "m6_fingerprint", "m6_vocab_hll",
    "m6_token_tf",
    "v8_validation_split", "v1b_closed_schema", "a4b_quality_alerts",
    "m5e_health_probe", "m5d_sql_pricing_summary", "a11b_percentiles_approx",
    "m6_repetition_filter", "m6_pii_scrub", "m6_incremental_dedup",
    "m6_incremental_commit", "m6_tfidf", "m6_pack_sequences",
    "m6_cms_heavy_hitters", "m6_dup_clusters", "m6_embed_clusters",
    "m6_bigram_lm", "m6_token_budget", "m6_chunk_windows", "m6_postings",
    "a12_funnel", "a13_retention", "m6_embed_quantize", "m6_ann_sq8",
    "m6_lang_confusion", "j8_shipping_priority", "w9_gap_fill",
    "m6_dup_density", "m6_epoch_mix", "m5f_keyset_page",
    "j9_regional_revenue", "a14_cube", "w10_ema", "m5g_value_histogram",
    "m6_pagerank", "m7_pcm_energy", "a15_sliding_window",
    "w11_value_deciles", "m6_lsh_eval", "m6_bpe_pairs", "m6_doc_len_stats",
    "s13_jsonl_roundtrip", "j10_big_spenders", "j11_small_qty_revenue",
    "j12_promo_share", "m6_ngram_novelty", "s15_orc_roundtrip",
    "u1_union_reingest", "u2_intersect_active", "u4_except_all_surplus",
    "j13_important_parts", "j14_wealthy_lapsed", "w12_mad_anomaly",
    "m6_dataset_card", "m6_edit_verify", "j15_waiting_suppliers",
    "w13_cusum_shift", "m6_ann_ivf2", "m6_passage_scrub", "m6_ann_pq",
    "m6_lm_support", "m6_cluster_keep_best", "m6_ivf_stats",
    "s16_compact_roundtrip", "j16_cheapest_supplier", "a16_daily_users",
    "m6_ann_ivfpq", "m6_quality_classifier", "m6_containment",
    "s17_schema_evolution", "j17_late_priority", "j18_class_priority",
    "j19_custdist", "j20_partsupp_census", "j21_disjunctive_revenue",
    "j22_dominant_suppliers", "j23_nation_flow", "j24_market_share",
    "j25_product_profit", "j26_returned_revenue", "m6_source_overlap",
    "m6_contamination_score", "m6_shard_manifest", "m7_ahash_neardup",
    "m6_bpe_train", "u5_union_distinct", "u6_intersect_all_overlap",
    "m6_bpe_encode", "m6_ann_ivfpq_rerank", "j27_revenue_delta",
    "j28_top_supplier", "m6_bm25_topk", "m6_phrase_search", "m6_dsir_weights",
    "m6_rrf_fusion", "m6_rrf_fusion_ann", "m6_source_divergence")

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.bootstrap(spark)
    if (name == "all" || name == "headline") {
      // dump the plans to EXPLAINS.md — the reviewable plan-audit
      // artifact (pushdown / broadcast / exchange placement at a glance)
      val sel = if (name == "all") auditable else headline
      val mode = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
      val out = new StringBuilder
      // the header states exactly what this file contains — a headline-mode
      // dump must never masquerade as the full-registry artifact
      if (name == "all") {
        out ++= "# EXPLAINS — formatted physical plans of every registered batch query\n\n"
        out ++= s"Generated by `runMain graft.Explain all` at $sfDir. See README\n"
        out ++= "§Scale design for what each plan is expected to show.\n"
        out ++= "Excluded by name: the m4* streaming drains — invoking one runs\n"
        out ++= "its bounded topology instead of returning a plannable batch\n"
        out ++= "frame; StreamingSpec exercises their sink/state plans.\n"
      } else {
        out ++= s"# EXPLAINS — HEADLINE SUBSET (${headline.size} of " +
          s"${SparkEntry.queries.size} registered queries)\n\n"
        out ++= s"Generated by `runMain graft.Explain headline` at $sfDir — the\n"
        out ++= "curated dev-loop audit, NOT the committed full-registry\n"
        out ++= "artifact. Re-run `runMain graft.Explain all` before committing.\n"
      }
      sel.foreach { q =>
        val plan = SparkEntry.queries(q)(spark, sfDir)
          .queryExecution.explainString(mode)
        // drop the query's persisted intermediates, as Bench and Verify do
        // per entry, so no later plan reads an earlier query's cache
        spark.catalog.clearCache()
        // deep plans (multi-branch pair searches, cached subtrees printed
        // under every read) run to hundreds of lines; the audit value is
        // in the first occurrences of each shape, so cap a runaway dump
        val lines = plan.linesIterator.toSeq
        val capped =
          if (lines.length <= 600) plan
          else lines.take(600).mkString("", "\n",
            s"\n… (truncated at 600 of ${lines.length} lines — the " +
              "remaining rounds repeat the same per-round shape)\n")
        out ++= s"\n## $q\n\n```\n$capped```\n"
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("EXPLAINS.md"), out.toString)
      println(s"wrote EXPLAINS.md (${sel.size} plans)")
    } else {
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
