package graft.queries

import graft.functions.VectorFunctions._
import graft.operators.{Classifier, Dedup, Drift, Dsir, Isotonic, NaiveBayes, Pq, PqIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables.t

/** Round-6 training-data-pipeline operators: product quantization
  * (compressed ANN), the distributed logistic-regression corpus
  * classifier, and the SemDeDup apply path. Gate discipline matches the
  * other modules: engine-defined numerics (codebooks, learned weights)
  * are certified by 0-row CONTRACT oracles that hold for any model the
  * trainer can produce (algebraic ADC consistency, convex-descent
  * monotonicity, survivor dominance), with the exact values pinned in
  * PqSpec / ClassifierSpec / DedupSpec. */
object TrainingQueries {
  type Q = (SparkSession, String) => DataFrame

  /** PQ layout for the gate queries: 64-dim → 8 subspaces × 16 codes
    * (8 bytes per vector, 64× smaller than float64). */
  private val PqM = 8
  private val PqKsub = 16

  /** ADC top-10 must share at least this many ids with the exact top-10.
    * These near-uniform synthetic embeddings are PQ's worst case (no
    * cluster structure to quantize onto) — measured hits are 3-4 at
    * every SF; the exact value is pinned in PqSpec at sf0.001. */
  private val PqMinHits = 1L

  /** In-sample accuracy floor for the trained classifier: majority class
    * is ≈ 0.50 at every SF (labels are balanced by construction), a
    * zero-weight model scores exactly the baseline, and measured
    * accuracy is 0.56-0.64 — the floor certifies the gradient actually
    * moved the model above chance without over-fitting the pin to one
    * corpus. Exact values pinned in ClassifierSpec. */
  private val ClsAccuracyFloor = 0.52
  private val ClsIters = 80
  private val ClsLr = 1.0

  /** DSIR feature-hash buckets (must match the oracle SQL literal). */
  private val DsirBuckets = 1024

  // maxIter 12: the gate contracts hold for ANY codebook (consistency is
  // algebraic, the recall floor is pinned under this exact setting), so
  // paying Lloyd's full convergence tail buys the gate nothing.
  private def trainPq(s: SparkSession, d: String): Pq.Model =
    Pq.train(t(s, d, "embeddings"), "embedding", PqM, PqKsub, maxIter = 12)

  private def trainClassifier(s: SparkSession, d: String)
      : Classifier.Model = {
    val emb = t(s, d, "embeddings")
    val dim = emb.select(size(col("embedding")).as("n"))
      .filter(col("n") > 0).limit(1).collect().head.getInt(0)
    Classifier.train(
      emb.select(col("embedding").as("x"),
        (col("label") < 5).cast("double").as("y")),
      "x", "y", dim, lr = ClsLr, iters = ClsIters)
  }

  private def queryVec(s: SparkSession, d: String): Seq[Double] =
    t(s, d, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).first()
      .getSeq[Double](0)

  val queries: Map[String, Q] = Map(
    // ── SemDeDup APPLY dominance: run the dedup action on both pair
    //    generators. Cluster-restricted pairs are a SUBSET of brute pairs
    //    (exact-verified candidates), so every semantic component is a
    //    subset of a brute component — and the brute survivor of any
    //    component (its min id) is necessarily the min of its semantic
    //    sub-component too. Hence brute survivors ⊆ semantic survivors
    //    for ANY clustering: the anti-join is a 0-row oracle. The
    //    semantic survivor count itself is pinned in DedupSpec. ─────────
    "dedup_apply_semantic" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      // the two dedup pipelines are independent and their construction
      // is EAGER (k-means driver rounds + a connected-components loop
      // each) — overlap them from two driver threads (guide §2.6) so
      // one pipeline's jobs back-fill the other's scheduling gaps; the
      // anti-join of the results is unchanged
      val (semKeep, bruteKeep) = graft.operators.Overlap.inParallel(
        {
          val sem = Dedup.cosinePairsSemantic(emb, "vec_id", "embedding",
            threshold = 0.3, ncells = 8)
          Dedup.dropNearDuplicates(emb, "vec_id", sem).select(col("vec_id"))
        },
        {
          val brute = Dedup.cosinePairsBrute(emb, "vec_id", "embedding",
            threshold = 0.3)
          Dedup.dropNearDuplicates(emb, "vec_id", brute).select(col("vec_id"))
        })
      bruteKeep.join(semKeep, Seq("vec_id"), "left_anti")
        .orderBy(col("vec_id"))
    }),

    // ── PQ ADC consistency: the lookup-table score MUST equal the dot
    //    product of the query with the reconstructed vector — they are
    //    the same sum associated differently (per-subspace vs
    //    end-to-end), so the identity holds for ANY codebook up to fp
    //    re-association (1e-9 on unit-scale data). Exercises train,
    //    encode, reconstruct, and the ADC kernel against each other via
    //    two independent code paths. ───────────────────────────────────
    "pq_adc_consistency" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val model = trainPq(s, d)
      val q = queryVec(s, d)
      val enc = Pq.encode(emb, "vec_id", "embedding", model)
      val adc = Pq.adcScores(enc, model, q)
      val recon = enc.select(col("id"),
        vectorDot(Pq.reconstructCol(col("codes"), model),
          typedLit(q)).as("recon_score"))
      adc.join(recon, Seq("id"))
        .filter(abs(col("adc_score") - col("recon_score")) > 1e-9)
        .select(col("id"), round(col("adc_score"), 6).as("adc_score"),
          round(col("recon_score"), 6).as("recon_score"))
        .orderBy(col("id"))
    }),

    // ── PQ recall floor: ADC top-10 vs exact inner-product top-10 (same
    //    ranking functional, deterministic id tie-break on both sides).
    //    Emits (k, hits) only when hits fall below the floor — the
    //    recall VALUE is codebook-defined, so the value itself lives in
    //    PqSpec, the same split as ann_ivf_recall. ──────────────────────
    "pq_recall_floor" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val model = trainPq(s, d)
      val q = queryVec(s, d)
      val enc = Pq.encode(emb, "vec_id", "embedding", model)
      val exact = emb.select(col("vec_id").cast("long").as("id"),
          vectorDot(asDouble(col("embedding")), typedLit(q)).as("s"))
        .orderBy(desc("s"), col("id").asc)
        .limit(10)
      Pq.adcTopK(enc, model, q, 10)
        .join(exact, Seq("id"))
        .agg(count(lit(1)).as("hits"))
        .filter(col("hits") < PqMinHits)
        .select(lit(10L).as("k"), col("hits"))
    }),

    // ── IVF-PQ dominance: the cell-pruned ADC search ranks a SUBSET of
    //    the corpus under the SAME lookup-table score as the full ADC
    //    search, so at every rank r its score is ≤ the full search's —
    //    for ANY codebook and ANY cell assignment (0-row oracle; the
    //    analogue of ann_ivf_dominance one compression level down). ─────
    "ann_ivfpq_dominance" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val model = trainPq(s, d)
      val q = queryVec(s, d)
      val k = 10
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc("adc_score"), col("id").asc)
      val full = Pq.adcTopK(Pq.encode(emb, "vec_id", "embedding", model),
          model, q, k)
        .withColumn("rank", row_number().over(w))
        .select(col("rank"), col("adc_score").as("full_score"))
      val pruned = Pq.ivfAdcTopK(emb, "vec_id", "embedding", model, q, k,
          ncells = 8, nprobe = 3)
        .withColumn("rank", row_number().over(w))
        .select(col("rank"), col("adc_score").as("pruned_score"))
      full.join(pruned, Seq("rank"))
        .filter(col("pruned_score") > col("full_score") + 1e-12)
        .select(col("rank"), round(col("full_score"), 6).as("full_score"),
          round(col("pruned_score"), 6).as("pruned_score"))
        .orderBy(col("rank"))
    }),

    // ── DSIR importance weights: hashed-token log-likelihood ratio of
    //    the English-target distribution vs the raw corpus, in integer
    //    micro-nats (the fp lives only in the B-sized driver table;
    //    per-doc weights are exact LONG sums — engine-portable by
    //    construction). FULL value-checked oracle: DuckDB recomputes
    //    the same md5 buckets, the same smoothed ratio table, the same
    //    integer sums. ───────────────────────────────────────────────────
    "dsir_weights" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ratio = Dsir.logRatioMicro(
        docs.filter(col("lang") === "en"), docs, "text", DsirBuckets)
      Dsir.importanceWeights(docs, "doc_id", "text", ratio)
        .select(col("id").as("doc_id"), col("weight_micro"))
        .orderBy(col("doc_id"))
    }),

    // ── DSIR resample: Gumbel top-k over the same weights — k docs
    //    without replacement w.p. ∝ exp(weight), content-hash RNG so the
    //    draw is retry-deterministic and the oracle replays it. ──────────
    "dsir_resample" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ratio = Dsir.logRatioMicro(
        docs.filter(col("lang") === "en"), docs, "text", DsirBuckets)
      val w = Dsir.importanceWeights(docs, "doc_id", "text", ratio)
      Dsir.resampleTopK(w, "id", "weight_micro", 50)
        .select(col("id").as("doc_id"), col("key_micro"))
        .orderBy(desc("key_micro"), col("doc_id"))
    }),

    // ── leakage-safe split: near-dup CLUSTERS are the split unit, so no
    //    LSH pair may straddle train/val/test. The no-straddle guarantee
    //    is exact for ANY pair generator and ANY hash split — violations
    //    (a pair whose endpoints landed in different splits) are emitted
    //    as a 0-row oracle. Split populations are hash-defined, pinned
    //    in TrainingDataOpsSpec. ────────────────────────────────────────
    "split_leakage_safe" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = graft.operators.Dedup.minhashLshPairs(
        docs, "doc_id", "text", threshold = 0.5)
      val lab = graft.operators.Sampling
        .leakageSafeSplit(docs, "doc_id", pairs)
        .select(col("doc_id").cast("long").as("id"), col("split"))
      pairs.select(col("id_a"), col("id_b"))
        .join(lab.select(col("id").as("id_a"), col("split").as("split_a")),
          Seq("id_a"))
        .join(lab.select(col("id").as("id_b"), col("split").as("split_b")),
          Seq("id_b"))
        .filter(col("split_a") =!= col("split_b"))
        .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── UniMax language-balanced allocation: split a 48k-token budget
    //    across languages, ascending corpus size, each capped at 2 epochs
    //    with capped surplus redistributed — integer arithmetic only, so
    //    the DuckDB recursive CTE replays the loop exactly. At this
    //    corpus every non-en language epoch-caps and en absorbs the
    //    surplus share-bound (alloc > tokens: the upsampling regime). ───
    "sample_unimax_alloc" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")))
      graft.operators.Sampling.unimaxAllocation(
          docs, "lang", col("n_tokens"), budget = 48000L, maxEpochs = 2)
        .orderBy(col("lang"))
    }),

    // ── UniMax apply side: per-language budgets (15k total, 1-epoch cap
    //    → every language truncates) drive md5-ordered admission; the
    //    oracle recomputes allocation AND admission end to end. ──────────
    "sample_unimax" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_tokens",
          size(split(col("text"), " ")).cast("long"))
      val budgets = graft.operators.Sampling.unimaxAllocation(
        docs, "lang", col("n_tokens"), budget = 15000L, maxEpochs = 1)
      graft.operators.Sampling.tokenBudgetSampleBy(docs, "lang",
          col("doc_id").cast("string"), col("n_tokens"), budgets)
        .select(col("doc_id"), col("lang"), col("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ── τ=2 temperature allocation: budget shares ∝ √tokens — the
    //    square-root flattening between proportional and uniform mixing.
    //    Exact integer weights (isqrt at 8 fractional digits) + Hamilton
    //    largest-remainder apportionment, so Σ alloc = budget and DuckDB
    //    reproduces every value bit-for-bit. ─────────────────────────────
    "sample_temperature_alloc" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")))
      graft.operators.Sampling.sqrtTemperatureAllocation(
          docs, "lang", col("n_tokens"), budget = 30000L)
        .orderBy(col("lang"))
    }),

    // ── freshness-decayed thinning: survival halves per elapsed
    //    half-life window (7 days against a fixed anchor) via the 20-bit
    //    md5 bucket against power-of-two hex thresholds — deterministic
    //    decay with no pow(), no rand(). ─────────────────────────────────
    "sample_freshness" -> ((s, d) => {
      val ev = t(s, d, "events")
      graft.operators.Sampling.freshnessSample(ev,
          col("event_id").cast("string"), col("ts"),
          anchorDate = "2024-02-01", halflifeDays = 7)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
    }),

    // ── corpus-frequency boilerplate strip: 8-word segments recurring in
    //    ≥ 3 distinct docs are removed from every doc (CCNet-style
    //    paragraph-hash cleaning; segment order preserved, dup-heavy docs
    //    lose their repeated chrome). ────────────────────────────────────
    "docs_strip_boilerplate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Boilerplate.stripFrequentSegments(docs, "doc_id",
          graft.operators.Boilerplate.wordWindows(col("text"), 8),
          minDocs = 3L)
        .select(col("doc_id"), col("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // ── structure-aware RAG chunking: greedy first-fit packing of
    //    8-word segments into ≤ 20-token chunks, segments never split
    //    (the boundary-respecting complement of docs_chunk_overlap's
    //    fixed stride). Pure integer/string greedy state — the oracle
    //    replays the recursion exactly. ─────────────────────────────────
    "docs_chunk_pack" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Chunking.packSegments(docs, "doc_id",
          graft.operators.Boilerplate.wordWindows(col("text"), 8),
          budgetTokens = 20)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ── HTML → text cleaning (the first step of C4/CCNet-style web
    //    curation): markup is synthesized around the corpus text IN the
    //    query (both engines build the identical page string), then
    //    stripped by the regexp chain — script/style content dropped,
    //    comments and tags removed, entities decoded (&amp; last),
    //    whitespace collapsed. Patterns are backreference-free so the
    //    same strings run under java.util.regex and RE2. ────────────────
    "docs_strip_html" -> ((s, d) => {
      val page = concat(
        lit("<html><head><style>p{color:red}</style>" +
          "<script type=\"text/javascript\">var x = 1 < 2;</script>" +
          "</head><body><!-- hdr --><h1>T&amp;C &lt;v1&gt;</h1><p class=\"a\">"),
        col("text"),
        lit("</p>&nbsp;<B>"), col("lang"), lit("</B></body></html>"))
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.operators.Markup.htmlToText(page).as("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // ── curriculum staging: bucket the corpus into difficulty stages by
    //    classifier score using approx-quantile THRESHOLDS (no global
    //    sort/ntile — the only curriculum shape that survives 100 TB;
    //    thresholds are a driver-sized sketch, staging is a when-chain
    //    projection). Contract (0-row): by construction every score in
    //    stage k is ≤ every score in stage k+1, so per-stage mean
    //    scores are non-decreasing FOR ANY model and ANY thresholds —
    //    violations are emitted. Stage populations are data-defined and
    //    pinned in ClassifierSpec. ───────────────────────────────────────
    "curriculum_stages" -> ((s, d) => {
      val model = trainClassifier(s, d)
      val emb = t(s, d, "embeddings")
      val scored = Classifier.scoreFrame(
        emb.select(col("vec_id"), col("embedding").as("x")), "x", model)
      val th = scored.stat.approxQuantile("score",
        Array(0.25, 0.5, 0.75), 0.001)
      val stage = when(col("score") < th(0), 0)
        .when(col("score") < th(1), 1)
        .when(col("score") < th(2), 2)
        .otherwise(3)
      val stats = scored.withColumn("stage", stage)
        .groupBy("stage")
        .agg(count(lit(1)).as("n"), avg("score").as("mean_score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1)).orderBy("stage") // 4-row sidecar frame
      stats
        .withColumn("prev_mean", lag("mean_score", 1).over(w))
        .filter(col("prev_mean").isNotNull &&
          col("mean_score") < col("prev_mean"))
        .select(col("stage"), col("n"),
          round(col("mean_score"), 6).as("mean_score"),
          round(col("prev_mean"), 6).as("prev_mean"))
        .orderBy(col("stage"))
    }),

    // ── persisted IVF-PQ index roundtrip: build→partitioned-write→
    //    probe-ALL-cells must equal the ephemeral full-corpus ADC top-k
    //    under the same (deterministic) model EXACTLY — same ids, same
    //    scores at every rank (0-row oracle). Partition PRUNING at
    //    nprobe < ncells is plan-asserted in PqIndexSpec; pruned-probe
    //    dominance is `ann_ivfpq_dominance`. ─────────────────────────────
    "ann_pqindex_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val model = trainPq(s, d)
      val q = queryVec(s, d)
      val k = 10
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_pq_idx_" +
        Integer.toHexString(d.hashCode)
      // buildWith (r17): the roundtrip contract is "probe-all-cells
      // equals ephemeral ADC under the SAME model" — `model` above IS
      // that model (Pq.train is deterministic in (corpus, PqM, PqKsub,
      // maxIter)), so re-training an identical codebook inside build
      // spent a second full Lloyd pass for bit-identical sidecars.
      PqIndex.buildWith(emb, "vec_id", "embedding", path, ncells = 8,
        model)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc("adc_score"), col("id").asc)
      val full = Pq.adcTopK(Pq.encode(emb, "vec_id", "embedding", model),
          model, q, k)
        .withColumn("rank", row_number().over(w))
        .select(col("rank"), col("id").as("full_id"),
          col("adc_score").as("full_score"))
      val probed = PqIndex.probe(s, path, q, k, nprobe = 8)
        .withColumn("rank", row_number().over(w))
        .select(col("rank"), col("id").as("idx_id"),
          col("adc_score").as("idx_score"))
      full.join(probed, Seq("rank"), "full_outer")
        .filter(col("full_id").isNull || col("idx_id").isNull ||
          col("full_id") =!= col("idx_id") ||
          col("full_score") =!= col("idx_score"))
        .select(col("rank"), col("full_id"), col("idx_id"),
          round(col("full_score"), 6).as("full_score"),
          round(col("idx_score"), 6).as("idx_score"))
        .orderBy(col("rank"))
    }),

    // ── embedding drift (PSI) between the two vec_id-parity snapshots:
    //    md5-parity probe projection (in-order dot — bit-identical in
    //    every engine, so the histogram is exact), per-bin smoothed PSI
    //    contributions in integer micro-nats. FULL value-checked
    //    oracle; fp beyond the shared dot lives only in the bins-sized
    //    driver table. ─────────────────────────────────────────────────
    "emb_drift_psi" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val dim = emb.select(size(col("embedding")).as("n"))
        .filter(col("n") > 0).limit(1).collect().head.getInt(0)
      Drift.psiReport(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0),
          emb.filter(pmod(col("vec_id"), lit(2)) === 1),
          "embedding", dim, probe = 0, invWidth = 4)
        .orderBy(col("bin"))
    }),

    // ── classifier training contracts, one train, two families of
    //    violation rows (0-row oracle):
    //    * loss_ascent — full-batch GD on the convex L-smooth logistic
    //      loss strictly descends whenever lr < 2/L (here L ≈ ‖x‖²/4 ≈
    //      0.25, lr = 1): any iteration whose mean loss EXCEEDS its
    //      predecessor's (beyond fp slack) is emitted.
    //    * accuracy_floor — the trained model must beat the majority
    //      class (a zero-weight model already ties it).
    //    The audit frame is MODEL-sized (loss history + one scalar), not
    //    data-sized — built on the driver by design. ────────────────────
    "classifier_train_audit" -> ((s, d) => {
      val model = trainClassifier(s, d)
      import s.implicits._
      val ascents = model.lossHistory.toSeq.sliding(2).zipWithIndex.collect {
        case (Seq(prev, cur), i) if cur > prev + 1e-12 =>
          ("loss_ascent", i + 1, cur, prev)
      }.toSeq
      val accRow =
        if (model.accuracy < ClsAccuracyFloor)
          Seq(("accuracy_floor", -1, model.accuracy, ClsAccuracyFloor))
        else Seq.empty
      (ascents ++ accRow).toDF("kind", "iter", "value", "bound")
        .orderBy(col("kind"), col("iter"))
    }),

    // ── multinomial Naive Bayes model fit (token-count language
    //    classifier): the counting sibling of the logistic head above,
    //    and the one whose TRAINING gets a FULL value oracle — DuckDB
    //    recomputes every Laplace-smoothed log-likelihood cell
    //    (label × vocab grid, zero-count cells included) in the same
    //    integer micro-nats. ─────────────────────────────────────────────
    "classifier_nb_model" -> ((s, d) => {
      NaiveBayes.train(t(s, d, "documents"), "text", "lang")
        .select(col("label").as("lang"), col("token"), col("c"),
          col("llh_micro"))
        .orderBy(col("lang"), col("token"))
    }),

    // ── Naive Bayes prediction (argmax posterior): per-doc exact LONG
    //    sums of the model's micro-nat cells + class prior, ties to the
    //    smallest label — engine uses a window-free partial-aggregable
    //    argmin(struct), oracle replays with a plain window; outputs
    //    must agree row-for-row. ────────────────────────────────────────
    "classifier_nb_predict" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val model = NaiveBayes.train(docs, "text", "lang")
      val pri = NaiveBayes.priors(docs, "lang")
      NaiveBayes.predict(docs, "doc_id", "text", model, pri)
        .select(col("id").as("doc_id"), col("pred_label"),
          col("score_micro"))
        .orderBy(col("doc_id"))
    }),

    // ── exact isotonic (PAV) calibration fit: score = n_chars (exact
    //    integer grid, ≤ 506 groups by data design), label = lang='en'.
    //    FULL-value oracle: DuckDB replays the closed-form minimax
    //    characterization fitted(i) = max_{j≤i} min_{k≥i} mean(y[j..k])
    //    over prefix sums — every fitted value is ONE division of the
    //    same pooled integers on both engines, and pooling DECISIONS in
    //    the engine are BigInt-exact, so the doubles match bit-for-bit
    //    (rationale in Isotonic's scaladoc). ─────────────────────────────
    "classifier_isotonic_fit" -> ((s, d) => {
      Isotonic.fit(t(s, d, "documents"),
          col("n_chars").cast("double"),
          when(col("lang") === "en", 1).otherwise(0))
        .orderBy(col("score"))
    }),

    // ── reliability diagram bins (the calibration DIAGNOSTIC the
    //    isotonic fit corrects): per length-bin accuracy vs a
    //    deterministic confidence proxy, all exact integer sums → one
    //    fp division per cell, gap = one subtraction of identical
    //    trees — no cross-row fp accumulation anywhere ──────────────────
    "classifier_reliability_bins" -> ((s, d) => {
      t(s, d, "documents")
        .select(least(floor(col("n_chars") / 100), lit(9)).cast("int")
            .as("bin"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"),
          least(col("n_chars"), lit(1000)).as("cmilli"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
          sum(col("cmilli")).as("conf_sum"))
        .withColumn("acc", col("n_pos").cast("double") / col("n"))
        .withColumn("conf",
          col("conf_sum").cast("double") / (col("n") * 1000))
        .select(col("bin"), col("n"), col("n_pos"), col("acc"),
          col("conf"), abs(col("acc") - col("conf")).as("gap"))
        .orderBy(col("bin"))
    }),

    // ── split-conformal threshold (Vovk et al.; the distribution-free
    //    calibration complement to the isotonic fit): deterministic
    //    md5 half-split into calib/test, threshold = the
    //    ⌈(n_calib+1)(1−α)⌉-th smallest calib nonconformity score at
    //    α = 0.1 — k computed in EXACT integer arithmetic
    //    ((9(n+1)+9) div 10; fp ceil((n+1)·0.9) misrounds when 9(n+1)
    //    is a multiple of 10), the order statistic read off a
    //    distinct-score histogram (≤ 506 rows — sidecar window, no
    //    global data sort), then test-side coverage measured. FULL
    //    oracle replays split, k, threshold, and coverage exactly. ──────
    "classifier_conformal_audit" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val bucket = substring(md5(col("text")), 1, 2)
      val calib = docs.filter(bucket < "80")
      val test = docs.filter(bucket >= "80")
      val hist = calib.groupBy(col("n_chars").as("sc"))
        .agg(count(lit(1)).as("c"))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1)) // ≤ 506-row histogram sidecar
      val cum = hist
        .withColumn("cum", sum(col("c")).over(wAll.orderBy(col("sc"))))
        .withColumn("n_calib", sum(col("c")).over(wAll))
        .withColumn("k", expr("(n_calib * 9 + 18) DIV 10"))
      val thr = cum.filter(col("cum") >= col("k"))
        .agg(min(col("sc")).as("threshold"),
          max(col("n_calib")).as("n_calib"), max(col("k")).as("k"))
      test.select(col("n_chars").as("ts"))
        .crossJoin(broadcast(thr))
        .agg(max(col("n_calib")).as("n_calib"), max(col("k")).as("k"),
          max(col("threshold")).as("threshold"),
          count(lit(1)).as("n_test"),
          sum(when(col("ts") <= col("threshold"), 1L).otherwise(0L))
            .as("n_covered"))
        .withColumn("coverage",
          col("n_covered").cast("double") / col("n_test"))
    })
  )

  // Shared DSIR oracle prelude: md5 token buckets → smoothed integer
  // micro-nat log-ratio table → exact LONG per-doc sums. Must stay in
  // lockstep with Dsir.{bucketOf, logRatioMicro, importanceWeights}.
  private val dsirWeightsCte: String =
    """WITH tok AS (
      |  SELECT doc_id, lang,
      |  unnest([x FOR x IN string_split_regex(lower(text), '\s+')
      |    IF len(x) > 0]) AS tk
      |  FROM documents),
      |bk AS (
      |  SELECT doc_id, lang,
      |  ('0x' || substr(md5(tk), 1, 8))::BIGINT % 1024 AS b
      |  FROM tok),
      |tot AS (
      |  SELECT count(*) FILTER (WHERE lang = 'en') AS t_n,
      |  count(*) AS r_n FROM bk),
      |rc AS (
      |  SELECT b, count(*) AS rcnt,
      |  count(*) FILTER (WHERE lang = 'en') AS tcnt
      |  FROM bk GROUP BY 1),
      |ratio AS (
      |  SELECT rc.b,
      |  CAST(floor(1000000 * (ln((rc.tcnt + 1.0) / (tot.t_n + 1024))
      |    - ln((rc.rcnt + 1.0) / (tot.r_n + 1024))) + 0.5) AS BIGINT)
      |    AS rm
      |  FROM rc CROSS JOIN tot),
      |w AS (
      |  SELECT bk.doc_id, CAST(sum(ratio.rm) AS BIGINT) AS wm
      |  FROM bk JOIN ratio ON bk.b = ratio.b GROUP BY 1)""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_apply_semantic" ->
      "SELECT CAST(NULL AS BIGINT) AS vec_id WHERE FALSE",

    "dsir_weights" -> (dsirWeightsCte +
      """
        |SELECT d.doc_id, COALESCE(w.wm, 0) AS weight_micro
        |FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    "dsir_resample" -> (dsirWeightsCte +
      """,
        |g AS (
        |  SELECT d.doc_id, COALESCE(w.wm, 0)
        |    + CAST(floor(1000000 * (-ln(-ln(
        |        (('0x' || substr(md5('dsir|' || CAST(d.doc_id AS VARCHAR)),
        |          1, 12))::BIGINT + 1) / 281474976710657.0)))
        |      + 0.5) AS BIGINT) AS key_micro
        |  FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id)
        |SELECT doc_id, key_micro FROM g
        |ORDER BY key_micro DESC, doc_id LIMIT 50""".stripMargin),

    "pq_adc_consistency" ->
      """SELECT CAST(NULL AS BIGINT) AS id,
        |CAST(NULL AS DOUBLE) AS adc_score,
        |CAST(NULL AS DOUBLE) AS recon_score WHERE FALSE""".stripMargin,

    "pq_recall_floor" ->
      """SELECT CAST(NULL AS BIGINT) AS k, CAST(NULL AS BIGINT) AS hits
        |WHERE FALSE""".stripMargin,

    "ann_ivfpq_dominance" ->
      """SELECT CAST(NULL AS INT) AS rank,
        |CAST(NULL AS DOUBLE) AS full_score,
        |CAST(NULL AS DOUBLE) AS pruned_score WHERE FALSE""".stripMargin,

    "classifier_train_audit" ->
      """SELECT CAST(NULL AS VARCHAR) AS kind, CAST(NULL AS INT) AS iter,
        |CAST(NULL AS DOUBLE) AS value, CAST(NULL AS DOUBLE) AS bound
        |WHERE FALSE""".stripMargin,

    // NB model replay: same tokenization, same label×vocab grid with
    // zero-count cells, same floor(1e6·ln + 0.5) quantization.
    "classifier_nb_model" ->
      """WITH tok AS (
        |  SELECT lang,
        |  unnest([x FOR x IN string_split_regex(lower(text), '\s+')
        |    IF len(x) > 0]) AS token
        |  FROM documents),
        |cnt AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS c
        |  FROM tok GROUP BY 1, 2),
        |vocab AS (SELECT DISTINCT token FROM tok),
        |labels AS (SELECT DISTINCT lang FROM tok),
        |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS tot
        |  FROM tok GROUP BY 1),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab)
        |SELECT l.lang, vo.token, COALESCE(c.c, 0) AS c,
        |CAST(floor(ln(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) /
        |  CAST(t.tot + v.v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |  AS llh_micro
        |FROM vocab vo CROSS JOIN labels l CROSS JOIN v
        |JOIN tot t ON t.lang = l.lang
        |LEFT JOIN cnt c ON c.lang = l.lang AND c.token = vo.token
        |ORDER BY l.lang, vo.token""".stripMargin,

    // NB predict replay: exact LONG posterior sums + prior, argmax via
    // a window (score desc, label asc) — must match the engine's
    // window-free argmin(struct) row-for-row.
    "classifier_nb_predict" ->
      """WITH tok AS (
        |  SELECT lang,
        |  unnest([x FOR x IN string_split_regex(lower(text), '\s+')
        |    IF len(x) > 0]) AS token
        |  FROM documents),
        |cnt AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS c
        |  FROM tok GROUP BY 1, 2),
        |vocab AS (SELECT DISTINCT token FROM tok),
        |labels AS (SELECT DISTINCT lang FROM tok),
        |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS tot
        |  FROM tok GROUP BY 1),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
        |model AS (
        |  SELECT l.lang, vo.token,
        |  CAST(floor(ln(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) /
        |    CAST(t.tot + v.v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |    AS llh_micro
        |  FROM vocab vo CROSS JOIN labels l CROSS JOIN v
        |  JOIN tot t ON t.lang = l.lang
        |  LEFT JOIN cnt c ON c.lang = l.lang AND c.token = vo.token),
        |pri AS (
        |  SELECT lang, CAST(floor(ln(CAST(n AS DOUBLE) /
        |    CAST((SELECT count(*) FROM documents) AS DOUBLE)) * 1e6
        |    + 0.5) AS BIGINT) AS prior_micro
        |  FROM (SELECT lang, count(*) AS n FROM documents GROUP BY 1)),
        |dtok AS (
        |  SELECT doc_id,
        |  unnest([x FOR x IN string_split_regex(lower(text), '\s+')
        |    IF len(x) > 0]) AS token
        |  FROM documents),
        |sc AS (
        |  SELECT d.doc_id, m.lang,
        |  CAST(sum(m.llh_micro) AS BIGINT) + any_value(p.prior_micro)
        |    AS score_micro
        |  FROM dtok d JOIN model m ON m.token = d.token
        |  JOIN pri p ON p.lang = m.lang
        |  GROUP BY 1, 2),
        |rk AS (SELECT doc_id, lang, score_micro,
        |  row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_micro DESC, lang ASC) AS rn FROM sc)
        |SELECT doc_id, lang AS pred_label, score_micro
        |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // minimax characterization of the PAV solution over prefix sums:
    // pairs(j,k) = mean(y[j..k]); mm(j,i) = min_{k≥i}; fitted(i) =
    // max_{j≤i}. O(g²) rows with g ≤ 506 score groups.
    "classifier_isotonic_fit" ->
      """WITH g AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS score,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pos
        |  FROM documents GROUP BY 1),
        |o AS (SELECT score, n, n_pos,
        |  row_number() OVER (ORDER BY score) AS i FROM g),
        |ps AS (SELECT i, score, n, n_pos,
        |  sum(n) OVER (ORDER BY i) AS cn,
        |  sum(n_pos) OVER (ORDER BY i) AS cs FROM o),
        |pairs AS (
        |  SELECT j.i AS ji, k.i AS ki,
        |  CAST(k.cs - (j.cs - j.n_pos) AS DOUBLE) /
        |    CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS a
        |  FROM ps j JOIN ps k ON j.i <= k.i),
        |mm AS (SELECT ji, ki,
        |  min(a) OVER (PARTITION BY ji ORDER BY ki DESC) AS mn
        |  FROM pairs),
        |f AS (SELECT ki AS i, max(mn) AS fitted FROM mm GROUP BY ki)
        |SELECT o.score, o.n, o.n_pos, f.fitted
        |FROM o JOIN f ON o.i = f.i ORDER BY o.score""".stripMargin,

    "classifier_conformal_audit" ->
      """WITH calib AS (SELECT n_chars AS sc FROM documents
        |  WHERE substring(md5(text), 1, 2) < '80'),
        |test AS (SELECT n_chars AS ts FROM documents
        |  WHERE substring(md5(text), 1, 2) >= '80'),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_calib,
        |  CAST((count(*) * 9 + 18) // 10 AS BIGINT) AS k FROM calib),
        |hist AS (SELECT sc, count(*) AS c FROM calib GROUP BY 1),
        |cum AS (SELECT sc, sum(c) OVER (ORDER BY sc) AS cum FROM hist),
        |thr AS (SELECT CAST(min(sc) AS BIGINT) AS threshold
        |  FROM cum, st WHERE cum >= st.k)
        |SELECT st.n_calib, st.k, thr.threshold,
        |CAST(count(*) AS BIGINT) AS n_test,
        |CAST(sum(CASE WHEN ts <= thr.threshold THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_covered,
        |CAST(sum(CASE WHEN ts <= thr.threshold THEN 1 ELSE 0 END)
        |  AS DOUBLE) / count(*) AS coverage
        |FROM test, thr, st
        |GROUP BY st.n_calib, st.k, thr.threshold""".stripMargin,

    "classifier_reliability_bins" ->
      """WITH b AS (
        |  SELECT CAST(least(n_chars // 100, 9) AS INT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pos,
        |  CAST(sum(least(n_chars, 1000)) AS BIGINT) AS conf_sum
        |  FROM documents GROUP BY 1)
        |SELECT bin, n, n_pos,
        |CAST(n_pos AS DOUBLE) / n AS acc,
        |CAST(conf_sum AS DOUBLE) / (n * 1000) AS conf,
        |abs(CAST(n_pos AS DOUBLE) / n -
        |  CAST(conf_sum AS DOUBLE) / (n * 1000)) AS gap
        |FROM b ORDER BY bin""".stripMargin,

    "split_leakage_safe" ->
      """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
        |CAST(NULL AS VARCHAR) AS split_a, CAST(NULL AS VARCHAR) AS split_b
        |WHERE FALSE""".stripMargin,

    "sample_unimax_alloc" ->
      """WITH RECURSIVE tot AS (
        |  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |    AS tokens
        |  FROM documents GROUP BY 1),
        |o AS (
        |  SELECT lang, tokens,
        |    CAST(row_number() OVER (ORDER BY tokens, lang) AS BIGINT) AS i,
        |    CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM tot),
        |a AS (
        |  SELECT i, lang, tokens, n,
        |    LEAST(tokens * 2, 48000 // n) AS alloc,
        |    48000 - LEAST(tokens * 2, 48000 // n) AS rem
        |  FROM o WHERE i = 1
        |  UNION ALL
        |  SELECT o.i, o.lang, o.tokens, o.n,
        |    LEAST(o.tokens * 2, a.rem // (o.n - o.i + 1)),
        |    a.rem - LEAST(o.tokens * 2, a.rem // (o.n - o.i + 1))
        |  FROM o JOIN a ON o.i = a.i + 1)
        |SELECT lang, tokens, alloc FROM a ORDER BY lang""".stripMargin,

    "sample_unimax" ->
      """WITH RECURSIVE tot AS (
        |  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |    AS tokens
        |  FROM documents GROUP BY 1),
        |o AS (
        |  SELECT lang, tokens,
        |    CAST(row_number() OVER (ORDER BY tokens, lang) AS BIGINT) AS i,
        |    CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM tot),
        |a AS (
        |  SELECT i, lang, tokens, n,
        |    LEAST(tokens, 15000 // n) AS alloc,
        |    15000 - LEAST(tokens, 15000 // n) AS rem
        |  FROM o WHERE i = 1
        |  UNION ALL
        |  SELECT o.i, o.lang, o.tokens, o.n,
        |    LEAST(o.tokens, a.rem // (o.n - o.i + 1)),
        |    a.rem - LEAST(o.tokens, a.rem // (o.n - o.i + 1))
        |  FROM o JOIN a ON o.i = a.i + 1),
        |d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS h,
        |    CAST(doc_id AS VARCHAR) AS k
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, k
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d)
        |SELECT c.doc_id, c.lang, c.n_tokens FROM c
        |JOIN a ON c.lang = a.lang
        |WHERE c.cum <= a.alloc ORDER BY c.doc_id""".stripMargin,

    "sample_temperature_alloc" ->
      """WITH tot AS (
        |  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |    AS tokens
        |  FROM documents GROUP BY 1),
        |w AS (SELECT lang, tokens,
        |  CAST(floor(sqrt(tokens * 100000000.0)) AS HUGEINT) AS w0,
        |  tokens * CAST(100000000 AS HUGEINT) AS x
        |  FROM tot),
        |w2 AS (SELECT lang, tokens,
        |  CASE WHEN (w0 + 1) * (w0 + 1) <= x THEN w0 + 1
        |       WHEN w0 * w0 > x THEN w0 - 1 ELSE w0 END AS wt
        |  FROM w),
        |z AS (SELECT sum(wt) AS z FROM w2),
        |b AS (SELECT lang, tokens, wt,
        |  (CAST(30000 AS HUGEINT) * wt) // z.z AS base,
        |  (CAST(30000 AS HUGEINT) * wt) % z.z AS rem
        |  FROM w2, z),
        |lo AS (SELECT 30000 - sum(base) AS leftover FROM b),
        |rk AS (SELECT lang, row_number() OVER (ORDER BY rem DESC, lang)
        |  AS rk FROM b WHERE tokens > 0)
        |SELECT b.lang, b.tokens,
        |CAST(b.base + CASE WHEN rk.rk IS NOT NULL AND rk.rk <= lo.leftover
        |  THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM b LEFT JOIN rk ON b.lang = rk.lang CROSS JOIN lo
        |ORDER BY b.lang""".stripMargin,

    "sample_freshness" -> {
      // survival CASE: shift k → admit iff 20-bit bucket < 2^(20-k),
      // compared as equal-length lowercase hex (k=0 admits all); the
      // thresholds are generated from the same formula the operator uses.
      val cases = (1 to 20).map { k =>
        val hex = String.format("%05x", Long.box(1L << (20 - k)))
        s"WHEN _k = $k THEN substring(md5(CAST(event_id AS VARCHAR)), 1, 5) < '$hex'"
      }.mkString("\n")
      s"""WITH a AS (
         |  SELECT event_id, user_id, event_type,
         |  LEAST(GREATEST(CAST(floor(date_diff('day', CAST(ts AS DATE),
         |    DATE '2024-02-01') / 7.0) AS INT), 0), 20) AS _k
         |  FROM events)
         |SELECT event_id, user_id, event_type FROM a
         |WHERE CASE WHEN _k = 0 THEN TRUE
         |$cases
         |ELSE FALSE END
         |ORDER BY event_id""".stripMargin
    },

    "docs_chunk_pack" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |segs AS (
        |  SELECT doc_id, seg,
        |  array_to_string(words[seg * 8 + 1 : seg * 8 + 8], ' ') AS segtext
        |  FROM (SELECT doc_id, words,
        |    unnest(generate_series(0,
        |      CAST(ceil(len(words) / 8.0) AS BIGINT) - 1)) AS seg
        |    FROM t)),
        |r AS (
        |  SELECT doc_id, segtext,
        |  CAST(len([w FOR w IN string_split(segtext, ' ')
        |    IF len(w) > 0]) AS BIGINT) AS tk,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY seg) AS rk
        |  FROM segs WHERE segtext <> ''),
        |g AS (
        |  SELECT doc_id, rk, segtext, tk, 0 AS chunk_idx, tk AS cur
        |  FROM r WHERE rk = 1
        |  UNION ALL
        |  SELECT r.doc_id, r.rk, r.segtext, r.tk,
        |  CASE WHEN g.cur + r.tk > 20 THEN g.chunk_idx + 1
        |       ELSE g.chunk_idx END,
        |  CASE WHEN g.cur + r.tk > 20 THEN r.tk ELSE g.cur + r.tk END
        |  FROM r JOIN g ON r.doc_id = g.doc_id AND r.rk = g.rk + 1)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |string_agg(segtext, ' ' ORDER BY rk) AS chunk_text,
        |CAST(sum(tk) AS BIGINT) AS n_tokens,
        |CAST(count(*) AS INT) AS n_segs
        |FROM g GROUP BY doc_id, chunk_idx
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "docs_strip_html" ->
      """WITH page AS (
        |  SELECT doc_id,
        |  '<html><head><style>p{color:red}</style>' ||
        |  '<script type="text/javascript">var x = 1 < 2;</script>' ||
        |  '</head><body><!-- hdr --><h1>T&amp;C &lt;v1&gt;</h1><p class="a">'
        |  || text || '</p>&nbsp;<B>' || lang || '</B></body></html>' AS html
        |  FROM documents)
        |SELECT doc_id, trim(regexp_replace(
        |  replace(replace(replace(replace(replace(replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(html,
        |            '(?is)<script[^>]*>.*?</script\s*>', ' ', 'g'),
        |          '(?is)<style[^>]*>.*?</style\s*>', ' ', 'g'),
        |        '(?s)<!--.*?-->', ' ', 'g'),
        |      '(?s)</?[A-Za-z!][^>]*>', ' ', 'g'),
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
        |  '\s+', ' ', 'g')) AS clean_text
        |FROM page ORDER BY doc_id""".stripMargin,

    "docs_strip_boilerplate" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |s AS (
        |  SELECT doc_id, seg,
        |  array_to_string(words[seg * 8 + 1 : seg * 8 + 8], ' ')
        |    AS segtext
        |  FROM (SELECT doc_id, words,
        |    unnest(generate_series(0,
        |      CAST(ceil(len(words) / 8.0) AS BIGINT) - 1)) AS seg
        |    FROM t)),
        |f AS (SELECT segtext FROM s GROUP BY segtext
        |  HAVING count(DISTINCT doc_id) >= 3),
        |k AS (SELECT doc_id, seg, segtext FROM s
        |  WHERE segtext NOT IN (SELECT segtext FROM f))
        |SELECT d.doc_id,
        |coalesce(string_agg(k.segtext, ' ' ORDER BY k.seg), '')
        |  AS clean_text
        |FROM documents d LEFT JOIN k ON d.doc_id = k.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    "curriculum_stages" ->
      """SELECT CAST(NULL AS INT) AS stage, CAST(NULL AS BIGINT) AS n,
        |CAST(NULL AS DOUBLE) AS mean_score,
        |CAST(NULL AS DOUBLE) AS prev_mean WHERE FALSE""".stripMargin,

    "ann_pqindex_topk" ->
      """SELECT CAST(NULL AS INT) AS rank, CAST(NULL AS BIGINT) AS full_id,
        |CAST(NULL AS BIGINT) AS idx_id, CAST(NULL AS DOUBLE) AS full_score,
        |CAST(NULL AS DOUBLE) AS idx_score WHERE FALSE""".stripMargin,

    "emb_drift_psi" ->
      """WITH f AS (
        |  SELECT vec_id % 2 AS grp,
        |  list_sum([(embedding::DOUBLE[])[i] * (CASE WHEN
        |    ('0x' || substr(md5((i-1) || '_' || 0), 1, 4))::INT % 2 = 0
        |    THEN 1.0 ELSE -1.0 END) FOR i IN range(1, len(embedding)+1)])
        |    AS f
        |  FROM embeddings),
        |h AS (
        |  SELECT grp, CAST(floor(f * 4) AS INT) AS bin, count(*) AS cnt
        |  FROM f GROUP BY 1, 2),
        |tot AS (
        |  SELECT
        |  (SELECT sum(cnt) FROM h WHERE grp = 0) AS na,
        |  (SELECT sum(cnt) FROM h WHERE grp = 1) AS nb,
        |  (SELECT count(DISTINCT bin) FROM h) AS nbins),
        |j AS (
        |  SELECT bin,
        |  CAST(COALESCE(sum(cnt) FILTER (WHERE grp = 0), 0) AS BIGINT)
        |    AS cnt_a,
        |  CAST(COALESCE(sum(cnt) FILTER (WHERE grp = 1), 0) AS BIGINT)
        |    AS cnt_b
        |  FROM h GROUP BY 1)
        |SELECT j.bin, j.cnt_a, j.cnt_b,
        |CAST(floor(1000000 * (
        |  ((j.cnt_a + 1.0) / (tot.na + tot.nbins)
        |    - (j.cnt_b + 1.0) / (tot.nb + tot.nbins))
        |  * ln(((j.cnt_a + 1.0) / (tot.na + tot.nbins))
        |    / ((j.cnt_b + 1.0) / (tot.nb + tot.nbins)))) + 0.5) AS BIGINT)
        |  AS psi_micro
        |FROM j CROSS JOIN tot ORDER BY j.bin""".stripMargin
  )
}
