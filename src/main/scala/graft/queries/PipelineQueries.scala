package graft.queries

import graft.operators.{Dedup, Packing, TextAnalysis, WebArchive}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables.t

/** The flagship END-TO-END composition (VERDICT r11 #2): the full
  * crawl → training-set pipeline a 100 TB pretraining run executes,
  * chained through FOUR of the individually-green families so the gate
  * catches inter-stage schema/semantics drift no per-piece oracle can:
  *
  *   1. WARC ingest → WET text  (the docs_warc_wet container gauntlet:
  *      HTTP parse, charset decode, de-chunking, html-vs-plain strip
  *      dispatch, per-record gzip — [[WebArchive.wetConversion]] +
  *      [[WebArchive.records]] round-trip)
  *   2. quality gate            (the docs_quality_gate signals; strictly
  *      above the corpus MEDIAN — computed over exact micro-unit
  *      integers so the percentile replays ulp-exactly cross-engine)
  *   3. LSH near-dup removal    (the dedup_apply_lsh shape:
  *      MinHash-band candidates, exact-Jaccard verification,
  *      connected components, keep-first)
  *   4. token-budget packing    (the pack_sequences shape: GPT-style
  *      greedy concatenation into 512-token training sequences)
  *
  * Every stage keeps its production scale shape: WET conversion is
  * row-grain and bounded by records-per-archive; the quality gate is two
  * corpus passes with one broadcast scalar; LSH candidates are banded
  * (sub-quadratic) with ids-only shuffles; packing is two-pass partition
  * prefix sums. The DuckDB oracle replays all four stages in closed form
  * over the same parquet — WET text per branch, the quality formula +
  * interpolated median, exact shingle-Jaccard pairs + recursive
  * reachability, and the global-window packing formulation. */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Stage 1 alone: per-doc WARC archive → WET conversion records →
    * (doc_id, rec_idx, text). The 404 branch (id%3==2) drops here,
    * exactly as a real crawl's error responses never reach curation.
    * Materialized ONCE: five flagship consumers read it (the quality
    * frame, the median scalar, the LSH signature build, the drop side,
    * the token count) and each would otherwise re-run the whole
    * synth→convert→decode codec chain. At 100 TB this is the *.warc.wet
    * artifact a crawl pipeline writes to storage between stages; the
    * checkpoint is the single-process stand-in. `rec_idx` rides along
    * for the audit's composite-id checks. */
  private[graft] def wetRecords(s: SparkSession, d: String): DataFrame = {
    val wet = WebArchive.wetConversion(
      t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .select(col("doc_id"),
          WebQueries.warcResponseSynth(col("doc_id"), col("text"))
            .as("bytes")),
      "doc_id", "bytes")
    WebArchive.records(wet, "doc_id", "wet")
      .filter(col("warc_type") === "conversion")
      .select(col("doc_id"), col("rec_idx").cast("long").as("rec_idx"),
        col("payload").as("text"))
      .localCheckpoint()
  }

  /** Stages 1-3 (ingest → quality gate → LSH dedup) as one DataFrame —
    * exposed separately because stage 4's two-pass packing crosses an
    * RDD boundary that truncates the visible plan, and the PlanShapeSpec
    * pins (anti-join, no cartesian) must see THESE stages' plan. `wet`
    * lets the audit pass in an already-materialized stage-1 product so
    * the codec chain runs once per audit, not twice. */
  private[graft] def dedupedCorpus(s: SparkSession, d: String,
      wet: Option[DataFrame] = None): DataFrame = {
    val wetText = wet.getOrElse(wetRecords(s, d))
      .select(col("doc_id"), col("text"))

    // ── stage 2: quality gate — strictly above the corpus median.
    //    Quality rides as round4·10000 BIGINT micro-units so the
    //    interpolated median is exact-integer-or-half on BOTH engines
    //    (a double median of raw round4 values could differ in the
    //    last ulp between interpolation formulas). ────────────────────
    // Materialized ONCE (r17): `q` feeds the median action AND the
    // survivor join below, and the survivor join is itself evaluated by
    // BOTH stage-3 consumers (the LSH signature build and the dedup
    // drop side) — so the quality kernel, a full typed pass over the
    // corpus text, ran three times per pipeline. The checkpoint is two
    // longs per doc; every consumer now rides it.
    val q = TextAnalysis.qualityFrame(wetText, "doc_id", "text")
      .select(col("doc_id"),
        round(col("quality") * 10000).cast("long").as("q4"))
      .localCheckpoint()
    val med = q.agg(percentile(col("q4"), lit(0.5)))
      .first().getDouble(0)
    val kept = wetText.join(
      q.filter(col("q4") > lit(med)).select("doc_id"), Seq("doc_id"))

    // ── stage 3: LSH near-dup removal on the survivors (banded
    //    MinHash candidates verified with exact shingle Jaccard →
    //    survivor set equals the exact form's, which is what the
    //    oracle replays).
    //    Recall dependence (ADVICE r12): the oracle replays dedup with
    //    exact ALL-PAIRS Jaccard, so this gate additionally asserts the
    //    16-band × 4-row candidate generation achieves FULL recall on
    //    J ≥ 0.8 pairs over THIS corpus — a true pair missed by all 16
    //    bands (~2e-4 per boundary pair, deterministic per corpus)
    //    would change connected components vs the oracle. Measured
    //    perfect at all three replay SFs (r12: 161/163/1610 rows green
    //    at sf0.001/0.01/0.1); a future SF bump or (n, k, bands)
    //    change must re-run the three-SF replay before trusting the
    //    gate (tools/local_verify.sh at each SF — the verify skill's
    //    standing protocol). ─────────────────────────────────────────
    val pairs = Dedup.minhashLshPairs(kept, "doc_id", "text",
      n = 3, k = 64, bands = 16, threshold = 0.8)
    Dedup.dropNearDuplicates(kept, "doc_id", pairs)
  }

  /** Stage 4: token counting + greedy sequence packing at 512. */
  private def packStage(uniq: DataFrame): DataFrame = {
    val withTokens = uniq.select(col("doc_id"),
      size(graft.functions.Fingerprints.tokens(col("text")))
        .cast("long").as("tok"))
    Packing.packSequences(withTokens, "doc_id", "tok",
        Seq("doc_id"), seqLen = 512)
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, Q] = Map(

    "pipeline_crawl_to_pack" -> ((s, d) =>
      packStage(dedupedCorpus(s, d))),

    // ── flagship INVARIANT audit (VERDICT r12 #3): the value oracle
    //    above proves the output; this proves the output's CONTRACTS
    //    hold under ANY stage drift — the split_leakage_safe pattern
    //    applied to the flagship. Four violation classes, all 0-row:
    //    (1) lsh_pair_survived — no surviving pair at exact Jaccard
    //        ≥ 0.8, checked with the INDEPENDENT prefix-filtered exact
    //        generator (PPJoin-complete), so it also mechanically
    //        certifies the pipeline's banded-LSH full-recall assumption
    //        on the survivor side;
    //    (2) below_median_survivor — every survivor's q4 strictly above
    //        the independently recomputed corpus median;
    //    (3) bad_composite — every stage-1 record forms a valid
    //        composite id (rec_idx inside the 2^20 span, archive id in
    //        [0, Long.MaxValue/span − 1], and the composite DIVides
    //        back to its archive id — the overflow detector), the
    //        contract the streaming twin's loud guard enforces;
    //    (4) bad_pack — packing structure: non-negative seqs/tokens,
    //        end ≥ start, zero-token docs pinned to their start. ───────
    "pipeline_crawl_audit" -> ((s, d) => {
      val recs = wetRecords(s, d)
      auditFrame(recs, dedupedCorpus(s, d, Some(recs)))
    }))

  /** The audit's four detectors over a stage-1 record table and a
    * survivor corpus — separate from the gate form so a spec can feed
    * it corrupted inputs (the live-detector negative control). The
    * detectors — exact pair generation, the median
    * recompute, the pack structure — are always the audit's OWN work:
    * independence from the pipeline's computation is the point. */
  private[graft] def auditFrame(recs: DataFrame,
      survivors: DataFrame): DataFrame = {
      val span = graft.streaming.DocIngest.RecordIdSpan
      val maxArch = Long.MaxValue / span - 1
      val vComposite = recs
        .withColumn("cid", col("doc_id") * lit(span) + col("rec_idx"))
        // NULLs matched EXPLICITLY, like the streaming twin's guard: a
        // NULL factor would turn every comparison disjunct NULL and
        // slip past the filter as a green audit over a NULL composite
        .filter(col("doc_id").isNull || col("rec_idx").isNull ||
          col("rec_idx") < 0 || col("rec_idx") >= lit(span) ||
          col("doc_id") < 0 || col("doc_id") > lit(maxArch) ||
          expr(s"cid DIV ${span}") =!= col("doc_id"))
        .select(lit("bad_composite").as("kind"),
          col("doc_id").as("id_a"), col("cid").as("id_b"))
      val q4 = TextAnalysis.qualityFrame(
          recs.select(col("doc_id"), col("text")), "doc_id", "text")
        .select(col("doc_id"),
          round(col("quality") * 10000).cast("long").as("q4"))
      val med = q4.agg(percentile(col("q4"), lit(0.5)))
        .first().getDouble(0) // 1-value scalar, bounded by definition
      val vPairs = Dedup.prefixFilterJaccardPairs(survivors, "doc_id",
          "text", n = 3, threshold = 0.8)
        .select(lit("lsh_pair_survived").as("kind"),
          col("id_a").cast("long").as("id_a"),
          col("id_b").cast("long").as("id_b"))
      val vQuality = survivors.join(q4, Seq("doc_id"))
        .filter(col("q4") <= lit(med))
        .select(lit("below_median_survivor").as("kind"),
          col("doc_id").as("id_a"), col("q4").as("id_b"))
      val packed = Packing.packSequences(
        survivors.select(col("doc_id"),
          size(graft.functions.Fingerprints.tokens(col("text")))
            .cast("long").as("tok")),
        "doc_id", "tok", Seq("doc_id"), seqLen = 512)
      val vPack = packed
        .filter(col("tokens") < 0 || col("start_seq") < 0 ||
          col("end_seq") < col("start_seq") ||
          (col("tokens") === 0 && col("end_seq") =!= col("start_seq")))
        .select(lit("bad_pack").as("kind"),
          col("doc_id").cast("long").as("id_a"),
          col("start_seq").as("id_b"))
      vComposite.unionByName(vPairs).unionByName(vQuality)
        .unionByName(vPack)
        .orderBy(col("kind"), col("id_a"), col("id_b"))
  }

  val oracles: Map[String, String] = Map(

    // all four stages in closed form: WET text per branch (the
    // docs_warc_wet oracle), the quality formula + micro-unit median
    // (the docs_quality_gate oracle), exact shingle-Jaccard pairs +
    // recursive reachability keep-first (the dedup_apply oracle), and
    // the global-window packing (the pack_sequences oracle)
    "pipeline_crawl_to_pack" ->
      """WITH RECURSIVE p AS (
        |  SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0
        |    THEN 'T' || doc_id || ' ' || text || ' & tail'
        |    ELSE text END AS text
        |  FROM documents WHERE doc_id % 3 < 2),
        |f AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |  [x FOR x IN string_split_regex(lower(text), '\s+') IF len(x) > 0]
        |    AS tk,
        |  length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g')) AS punct
        |  FROM p),
        |g AS (
        |  SELECT doc_id, n_chars, punct, len(tk) AS n_tok,
        |  len([t FOR t IN tk
        |    IF t IN ('the','and','of','to','in','is','a')]) AS stop
        |  FROM f),
        |q AS (
        |  SELECT doc_id,
        |  CAST(round(round((least(n_tok / 100.0, 1.0) +
        |    least((CASE WHEN n_tok > 0 THEN stop * 1.0 / n_tok
        |      ELSE 0.0 END) * 5.0, 1.0) +
        |    (1.0 - least((CASE WHEN n_chars > 0 THEN punct * 1.0 / n_chars
        |      ELSE 0.0 END) * 10.0, 1.0))) / 3.0, 4) * 10000) AS BIGINT)
        |    AS q4
        |  FROM g),
        |m AS (SELECT quantile_cont(q4, 0.5) AS med FROM q),
        |kept AS (
        |  SELECT p.doc_id, p.text FROM p JOIN q USING (doc_id), m
        |  WHERE q.q4 > m.med),
        |toks AS (
        |  SELECT doc_id,
        |  [x FOR x IN string_split_regex(lower(text), '\s+') IF len(x) > 0]
        |    AS tk
        |  FROM kept),
        |sh AS (
        |  SELECT DISTINCT doc_id, sg FROM (
        |    SELECT doc_id,
        |    unnest([array_to_string(tk[i:i+2], ' ')
        |            FOR i IN range(1, len(tk) - 1)]) AS sg
        |    FROM toks WHERE len(tk) >= 3)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
        |  FROM sh a JOIN sh b ON a.sg = b.sg AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT ida AS a, idb AS b FROM common
        |  JOIN sizes sa ON ida = sa.doc_id
        |  JOIN sizes sb ON idb = sb.doc_id
        |  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |losers AS (
        |  SELECT a AS id FROM reach GROUP BY a
        |  HAVING least(a, min(b)) <> a),
        |tt AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS tokens FROM toks
        |  WHERE doc_id NOT IN (SELECT id FROM losers)),
        |c AS (
        |  SELECT doc_id, tokens,
        |  CAST(sum(tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum
        |  FROM tt)
        |SELECT doc_id, tokens,
        |(cum - tokens) // 512 AS start_seq,
        |CASE WHEN tokens = 0 THEN (cum - tokens) // 512
        |     ELSE (cum - 1) // 512 END AS end_seq
        |FROM c ORDER BY doc_id""".stripMargin,

    "pipeline_crawl_audit" ->
      """SELECT CAST(NULL AS VARCHAR) AS kind, CAST(NULL AS BIGINT) AS id_a,
        |CAST(NULL AS BIGINT) AS id_b WHERE FALSE""".stripMargin)
}
