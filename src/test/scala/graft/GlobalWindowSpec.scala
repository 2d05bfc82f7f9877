package graft

import org.apache.spark.sql.catalyst.plans.logical.Window

/** Pins the EXACT set of suite queries whose plans contain a Window with
  * an empty partitionSpec — the ones that would log `WindowExec: No
  * Partition Defined` and execute single-partition.
  *
  * Two facts make this a spec instead of a per-site `partitionBy(lit(1))`
  * fix: (1) Spark 4's `EliminateWindowPartitions` optimizer rule REMOVES
  * foldable partition expressions, so the lit(1) idiom no longer
  * suppresses anything — the optimized plan is identical either way; and
  * (2) every entry below is global ON PURPOSE (a top-k / vocab / sidecar-
  * sized frame, or a gate form mirroring its oracle's global-order
  * semantics), so the risk to manage is a FUTURE query accidentally
  * windowing data-sized input with no key. This allowlist turns that
  * mistake into a named test failure; the harness mains silence the
  * WindowExec logger (`LocalSession`) because the warning carries no query
  * name and the gated list is maintained here.
  *
  * Bounded-frame justification per entry:
  *  - a_rfm: exact RFM quartiles are a global order by definition;
  *    frame = per-customer aggregate. Production path at 100 TB:
  *    approx-quantile cutpoints, documented in CurationQueries.
  *  - ann_* / emb_* / rank_fusion: top-k or candidate-k frames (≤ ~100
  *    rows) after partition-pruned retrieval.
  *  - curriculum_stages / pipeline_tokenize_pack / sample_interleave:
  *    gate forms mirroring the oracle's `OVER (ORDER BY …)`; production
  *    forms use two-pass per-partition prefix sums (Packing/Sampling
  *    scaladoc).
  *  - docs_encode_vocab / vocab_top_terms / vocab_zipf_audit:
  *    vocabulary-sized tables.
  *  - docs_ks_drift: distinct-value CDF frame of ONE measure column.
  *  - events_share / events_trailing_zscore: post-aggregation sidecars
  *    (event types / days).
  *  - classifier_conformal_audit: cumulative + total windows over the
  *    distinct-score HISTOGRAM (≤ 506 rows by data design — the
  *    order statistic is read off the histogram precisely to avoid a
  *    global data sort; TrainingQueries scaladoc).
  */
class GlobalWindowSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val allowed: Map[String, Int] = Map(
    "a_rfm" -> 3,
    // cutpointScoresMulti: one distinct-value cumulative window per RFM
    // dimension (order statistics ARE global); frames are histogram-sized
    "a_rfm_cutpoints" -> 3,
    "ann_ivf_dominance" -> 2,
    // conformal threshold: cum + total windows on the ≤506-row histogram
    "classifier_conformal_audit" -> 2,
    "ann_ivfpq_dominance" -> 2,
    "ann_pqindex_topk" -> 2,
    "curriculum_stages" -> 1,
    // CCNet buckets: ONE cumulative window over the distinct
    // sbo_score histogram (Quantiles.cutpointScores order statistics —
    // bounded by the rounded-score domain, not the corpus)
    "docs_ccnet_buckets" -> 1,
    "docs_encode_vocab" -> 1,
    "docs_ks_drift" -> 1,
    "emb_hamming_rerank" -> 2,
    "emb_matryoshka_rerank" -> 2,
    "emb_project_rerank" -> 2,
    "events_share" -> 1,
    "events_trailing_zscore" -> 1,
    "pipeline_tokenize_pack" -> 1,
    "rank_fusion" -> 3,
    "sample_interleave" -> 2,
    "vocab_top_terms" -> 1,
    "vocab_zipf_audit" -> 1)

  test("global (unpartitioned) windows appear ONLY in the allowlisted " +
      "queries, each with its pinned count") {
    val found = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val n = fn(spark, sf).queryExecution.optimizedPlan.collect {
          case w: Window if w.partitionSpec.isEmpty => w
        }.size
        if (n > 0) Some(name -> n) else None
    }.toMap
    val unexpected = found.filterNot { case (k, v) => allowed.get(k).contains(v) }
    val missing = allowed.filterNot { case (k, v) => found.get(k).contains(v) }
    assert(unexpected.isEmpty && missing.isEmpty,
      s"global-window drift — new/changed: $unexpected; " +
        s"no-longer-present: $missing. If intentional, justify the entry " +
        "in this spec's scaladoc and update the allowlist.")
  }
}
