package graft

/** Dump formatted physical plans for the headline queries (plan-audit
  * tool; output reviewed into PLANS.md). */
object PrintPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = LocalSession.create()
    val interesting = Seq("q1_agg", "s2_scan_pushdown", "j1_equi_join",
      "j_multiway", "j3_range_join", "w1_row_number", "k1_cosine_topk",
      "dedup_exact", "a4_pivot_stats", "events_hourly", "events_sessionize",
      "decontaminate_overlap", "sample_hash_split", "docs_scrub",
      "emb_normalize", "emb_quantize", "docs_line_dedup", "a_approx_distinct",
      "dedup_substring", "knn_graph", "docs_bigram_nll", "sample_token_budget",
      "a_histogram", "dedup_incremental",
      "j_fuzzy_names", "q3_top_orders", "q5_region_volume",
      "events_transitions", "docs_postings", "sample_weighted_priority",
      "q10_returned_revenue", "j_interval_two_table", "emb_mean_pool",
      "events_gapfill", "sync_bucket_diff", "cdc_apply_delta",
      "emb_standardize", "rank_bm25", "rank_fusion", "rank_maxsim",
      "emb_hamming_topk", "docs_strip_html", "events_ewma",
      "a_mad_extremes", "graph_pagerank",
      "j_fuzzy_dl", "events_scd2", "j_asof_nearest", "pref_pairs",
      "sample_interleave", "vocab_oov_rate", "sft_transcripts")
    // args beyond the sf dir narrow the dump to the named queries —
    // `PrintPlans <sfDir> web_frontier` audits one plan without paying
    // for the whole headline list
    val selected =
      if (args.length > 1) args.drop(1).toSeq else interesting
    selected.foreach { name =>
      println(s"\n===== $name =====")
      println(SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
