package graft.queries

import graft.functions.{Fingerprints, TextFunctions, VectorFunctions}
import graft.operators.{Dedup, SimilaritySearch, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables.t

/** Training-data-pipeline extension operators (dedup, similarity search,
  * text analysis, multimodal) exposed as driver-checkable queries over the
  * `documents` / `embeddings` testdata tables.
  *
  * Oracle notes: the approximate operators (MinHash-LSH, SimHash,
  * hyperplane-LSH, IVF) verify their candidates exactly before emitting, so
  * where their recall is provably 1 at the threshold (the testdata's
  * near-dup pairs sit at Jaccard ≥ 0.9 vs a background < 0.3) their output
  * contract equals the exact-algorithm oracle. Purely hash-defined outputs
  * (SimHash distances, raw signatures) have no SQL-expressible oracle and
  * are covered by ScalaTest instead.
  */
object ExtensionQueries {
  type Q = (SparkSession, String) => DataFrame

  private val JaccardThreshold = 0.8

  /** The shared boilerplate paragraph `dedup_winnow_skew` appends to 30%
    * of docs in-plan — long enough (> k + w − 1 = 8 tokens) that winnow
    * GUARANTEES it selects fingerprints in every stamped doc, which is
    * what makes the uncapped join quadratic. Interpolated into the
    * DuckDB oracle from this one value (lowercase: both engines
    * lowercase before shingling, so the literal stays WYSIWYG). */
  private val WinnowBoiler =
    "subscribe to our newsletter for daily updates and exclusive offers " +
      "delivered straight to your inbox every single morning"

  /** recall@10 floor for `ann_ivf_recall` (hits out of k=10): nprobe 3 of
    * 8 cells probes ≥ 0.375 of a near-uniform corpus in expectation and
    * always includes the query's own cell; 3/10 is a conservative floor
    * (measured: 5/10 at sf0.001, pinned in GoldenValuesSpec). */
  val IvfRecallMinHits = 3

  /** Unfiltered recall@10 measurement backing `ann_ivf_recall` (the gate
    * query emits only floor VIOLATIONS; specs pin the raw value). */
  def ivfRecallRaw(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).first()
      .getSeq[Double](0)
    val k = 10
    val exact = SimilaritySearch.topK(emb, "vec_id", "embedding", query, k)
      .select(col("vec_id"))
    val approx = SimilaritySearch.topKIvf(emb, "vec_id", "embedding", query,
        k, ncells = 8, nprobe = 3)
      .select(col("vec_id"))
    exact.join(approx, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
      .select(lit(k).cast("long").as("k"), col("hits"),
        round(col("hits").cast("double") / k, 4).as("recall"))
  }

  val queries: Map[String, Q] = Map(
    // ── K1: exact cosine top-k (the reference's vector search) ────────────
    "k1_cosine_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).first()
        .getSeq[Double](0)
      SimilaritySearch.topK(emb, "vec_id", "embedding", query, 10)
    }),

    // ── K1 batch: top-3 per query over a broadcast query set ──────────────
    "k1_topk_per_query" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      SimilaritySearch.topKForQueries(emb, queries,
          "vec_id", "embedding", "qid", "qv", k = 3)
        .select(col("query_id"), col("id"), round(col("score"), 6).as("score"),
          col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── K1 batch, heap form: per-partition bounded top-k (scale shape;
    //    output contract equals the window form → same oracle) ────────────
    "k1_topk_heap" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      SimilaritySearch.topKForQueriesHeap(emb, "vec_id", "embedding",
          queries, k = 3)
        .select(col("query_id"), col("id"), round(col("score"), 6).as("score"),
          col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── ANN: IVF with nprobe = ncells (probe-all). Exact by construction,
    //    so it shares the exact top-k oracle — which verifies the index
    //    partitions the corpus EXACTLY (no vector dropped or double-assigned
    //    by cell assignment / probe-union / re-rank). The approximate
    //    configuration's quality is measured by `ann_ivf_recall`. ──────────
    "ann_ivf_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).first()
        .getSeq[Double](0)
      SimilaritySearch.topKIvf(emb, "vec_id", "embedding", query,
        k = 10, ncells = 8, nprobe = 8)
    }),

    // ── K1 batch at scale-in-Q: 100 broadcast queries through the heap
    //    kernel (the form whose per-row lookup must be O(1) — this entry
    //    exists to keep that property measured). Same oracle shape as the
    //    3-query form. ──────────────────────────────────────────────────
    "k1_topk_heap_100q" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 100)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      SimilaritySearch.topKForQueriesHeap(emb, "vec_id", "embedding",
          queries, k = 5)
        .select(col("query_id"), col("id"), round(col("score"), 6).as("score"),
          col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── ANN index path: build the persisted cell-partitioned IVF index,
    //    then probe ALL cells — exact by construction (same oracle as
    //    ann_ivf_topk), which verifies the build→partitioned-write→probe
    //    roundtrip loses/duplicates nothing. Partition PRUNING (nprobe <
    //    ncells touching only probed directories) is plan-asserted in
    //    SimilaritySpec. ──────────────────────────────────────────────────
    "ann_ivf_index_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).first()
        .getSeq[Double](0)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_idx_" +
        Integer.toHexString(d.hashCode)
      graft.operators.IvfIndex.build(emb, "vec_id", "embedding", path,
        ncells = 8)
      graft.operators.IvfIndex.probe(s, path, "vec_id", query,
        k = 10, nprobe = 8)
    }),

    // ── ANN: recall@k floor of the approximate probe (nprobe < ncells)
    //    vs exact, as a 0-ROW contract: a row is emitted only when
    //    hits < RecallMinHits (recall below the floor), so the oracle is
    //    engine-independent even though the recall VALUE is hash-defined
    //    (centroid sample). The exact value is pinned by GoldenValuesSpec
    //    at sf0.001. On these near-uniform synthetic embeddings
    //    nprobe/ncells ≈ 0.375 is the expected recall; the query vector's
    //    own cell is always probed, lifting it above that. ─────────────────
    "ann_ivf_recall" -> ((s, d) =>
      ivfRecallRaw(s, d).filter(col("hits") < lit(IvfRecallMinHits))),

    // ── ANN dominance audit: an approximate probe searches a SUBSET of
    //    the corpus, so its rank-r score can never exceed the exact
    //    search's rank-r score — violations are emitted, making the
    //    contract a 0-row oracle that holds for ANY centroid seed or
    //    nprobe (unlike the recall VALUE, which is hash-defined and
    //    pinned in GoldenValuesSpec). ───────────────────────────────────────
    "ann_ivf_dominance" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).first()
        .getSeq[Double](0)
      val k = 10
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc("score"), col("vec_id"))
      val exact = SimilaritySearch.topK(emb, "vec_id", "embedding", query, k)
        .withColumn("rank", row_number().over(w))
        .select(col("rank"), col("score").as("exact_score"))
      val approx = SimilaritySearch.topKIvf(emb, "vec_id", "embedding",
          query, k, ncells = 8, nprobe = 3)
        .withColumn("rank", row_number().over(w))
        .select(col("rank"), col("score").as("approx_score"))
      exact.join(approx, Seq("rank"))
        .filter(col("approx_score") > col("exact_score"))
        .orderBy(col("rank"))
    }),

    // ── embedding-cosine near-dup pairs, exact (oracle-checked) ───────────
    "emb_cosine_pairs" -> ((s, d) => {
      Dedup.cosinePairsBrute(t(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.3)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── embedding near-dup via hyperplane LSH. 16 one-bit bands: the
    //    worst surviving pair here sits at cosine ≈ 0.3 (θ ≈ 72.5°), so a
    //    band misses with p ≈ 0.403 and all 16 miss with p ≈ 5e-7 —
    //    recall 1 across these 990 pairs, hence the SAME oracle as the
    //    brute form. One-bit bands are the price of a recall-1 contract at
    //    such a low threshold; production near-dup thresholds (≥ 0.8) use
    //    finer bands (see Dedup.cosinePairsLsh S-curve note). ─────────────
    "emb_cosine_pairs_lsh" -> ((s, d) => {
      Dedup.cosinePairsLsh(t(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.3, planes = 16, bands = 16)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── LSH recall audit: exact pairs the LSH path missed (anti-join).
    //    Empty by the recall-1 parameterization above → 0-row oracle; the
    //    reverse direction (LSH ⊆ brute) holds unconditionally because
    //    candidates are exact-verified before emission. ────────────────────
    "emb_lsh_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val brute = Dedup.cosinePairsBrute(emb, "vec_id", "embedding",
        threshold = 0.3)
      val lsh = Dedup.cosinePairsLsh(emb, "vec_id", "embedding",
        threshold = 0.3, planes = 16, bands = 16)
      brute.join(lsh, Seq("id_a", "id_b"), "left_anti")
        .select(col("id_a"), col("id_b"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── SemDeDup precision audit: cluster-local semantic pairs are exact-
    //    verified, so every emitted pair must also be a brute-force pair —
    //    the anti-join is empty for ANY clustering (0-row oracle). Recall
    //    (co-clustering probability of near-dup pairs) is hash-defined and
    //    pinned in DedupSpec. ───────────────────────────────────────────────
    "emb_semantic_precision" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val sem = Dedup.cosinePairsSemantic(emb, "vec_id", "embedding",
        threshold = 0.3, ncells = 8)
      val brute = Dedup.cosinePairsBrute(emb, "vec_id", "embedding",
        threshold = 0.3)
      sem.join(brute, Seq("id_a", "id_b"), "left_anti")
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── K1 filtered search: top-k restricted by metadata (the vector-DB
    //    query_filter form). The predicate composes into the scan BEFORE
    //    scoring — qualifying vectors only reach the similarity heap, and
    //    at 100 TB the filter prunes row groups via parquet min/max. ───────
    "k1_filtered_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).first()
        .getSeq[Double](0)
      SimilaritySearch.topK(emb.filter(col("label") === 1),
        "vec_id", "embedding", query, 10)
    }),

    // ── embedding preprocessing: unit L2 normalization (the first step of
    //    every cosine-ANN pipeline — after it, cosine reduces to a dot
    //    product). Native single-pass expression (a transform-lambda norm
    //    would re-evaluate the norm per element); rounded in-plan for the
    //    exact-value oracle. Exploded to (vec_id, pos, x) scalar rows so
    //    every element is value-checked — the driver's compare cannot sort
    //    array columns. ─────────────────────────────────────────────────────
    "emb_normalize" -> ((s, d) => {
      t(s, d, "embeddings").select(col("vec_id"),
          posexplode(transform(VectorFunctions.l2Normalize(col("embedding")),
            x => round(x, 4))))
        .toDF("vec_id", "pos", "x")
        .orderBy(col("vec_id"), col("pos"))
    }),

    // ── embedding preprocessing: symmetric int8 quantization (scale =
    //    max|x|/127 — 8× memory cut for ANN serving). The oracle checks the
    //    scale exactly; the dequantization bound |x − q·scale| ≤ scale/2
    //    (+fp slack) is asserted in-plan over the real quantized array.
    //    The bound expression re-references `scale` per element — fine
    //    here because it is the CHECK, not the operator (quantizeInt8
    //    itself is the single-pass native). ─────────────────────────────────
    "emb_quantize" -> ((s, d) => {
      val e = VectorFunctions.asDouble(col("embedding"))
      val scale = VectorFunctions.quantScale(col("embedding"))
      val deq = VectorFunctions.quantizeInt8(col("embedding"))
        .cast("array<double>")
      val maxErr = aggregate(
        zip_with(e, deq, (x, q) => abs(x - q * scale)),
        lit(0.0), (a, b) => greatest(a, b))
      t(s, d, "embeddings").select(col("vec_id"),
          round(scale, 6).as("scale"),
          (maxErr <= scale / 2 + lit(1e-9)).as("within_bound"))
        .orderBy(col("vec_id"))
    }),

    // ── exact dedup groups by content hash ────────────────────────────────
    "dedup_exact" -> ((s, d) => {
      Dedup.exactGroups(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("keep_id"))
    }),

    // ── exact n-gram Jaccard near-dup pairs ───────────────────────────────
    "dedup_ngram_jaccard" -> ((s, d) => {
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
          n = 3, threshold = JaccardThreshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── prefix-filtered exact Jaccard pairs: PPJoin-style candidate
    //    pruning with ZERO recall loss (theorem, not S-curve) — same
    //    output contract and oracle as the naive exact form ────────────────
    "dedup_prefix_jaccard" -> ((s, d) => {
      Dedup.prefixFilterJaccardPairs(t(s, d, "documents"), "doc_id", "text",
          n = 3, threshold = JaccardThreshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── MinHash+LSH near-dup pairs (verified candidates; recall 1 at the
    //    testdata's threshold gap → same oracle as the exact form) ─────────
    "dedup_minhash_lsh" -> ((s, d) => {
      Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text",
          n = 3, k = 64, bands = 16, threshold = JaccardThreshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── incremental dedup: the new batch (doc_id ≥ 400) against the
    //    existing corpus (doc_id < 400) — only cross pairs form; the corpus
    //    side's signatures/buckets are persistable across runs. Recall-1
    //    banding at the testdata gap → exact cross-pair oracle. ────────────
    "dedup_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.incrementalLshPairs(
          docs.filter(col("doc_id") >= 400), docs.filter(col("doc_id") < 400),
          "doc_id", "text", n = 3, k = 64, bands = 16,
          threshold = JaccardThreshold)
        .select(col("new_id"), col("corpus_id"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("new_id"), col("corpus_id"))
    }),

    // ── directed containment pairs: the asymmetric dup relation (short
    //    doc quoted inside a long one — Jaccard-invisible) ──────────────────
    "dedup_containment" -> ((s, d) => {
      Dedup.containmentPairs(t(s, d, "documents"), "doc_id", "text",
          n = 3, threshold = 0.9)
        .select(col("id_a"), col("id_b"),
          round(col("containment"), 4).as("containment"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── dedup clusters: connected components over the verified near-dup
    //    pairs — "A~B, B~C" becomes one keep-decision for {A,B,C}. Oracle
    //    closes the SAME pair SQL transitively with a recursive CTE. ───────
    "dedup_clusters" -> ((s, d) => {
      // prefix-filtered generator: same pair set as the naive exact form
      // (PPJoin theorem — see prefixFilterJaccardPairs scaladoc) at a
      // fraction of the candidate fan-out; same oracle.
      val pairs = Dedup.prefixFilterJaccardPairs(t(s, d, "documents"),
        "doc_id", "text", n = 3, threshold = JaccardThreshold)
      Dedup.connectedComponents(pairs)
        .orderBy(col("id"))
    }),

    // ── the dedup ACTION: corpus minus non-representative cluster members
    //    (keep-first policy). Survivor ids only — the oracle re-derives
    //    them from the transitive closure. ──────────────────────────────────
    "dedup_apply" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // prefix-filtered generator — identical pair set (theorem), so the
      // survivor set and oracle are unchanged; avoids the quadratic
      // shared-shingle fan-out of the naive exact form.
      val pairs = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = JaccardThreshold)
      Dedup.dropNearDuplicates(docs, "doc_id", pairs)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ── SOFT dedup: weight = 1/|cluster| instead of dropping members
    //    (the SoftDeDup reweighting recipe — a sampler consumes the
    //    weight as an epoch multiplier). Same pair generator and
    //    transitive closure as dedup_clusters; weight is one division
    //    of exact integers → identical doubles on both engines. ──────────
    "dedup_soft_weights" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = JaccardThreshold)
      Dedup.softDedupWeights(docs, "doc_id", pairs)
        .orderBy(col("doc_id"))
    }),

    // ── the dedup ACTION on the SCALE pair generator: MinHash-LSH
    //    candidates (sub-quadratic) → connected components → keep-first.
    //    Because LSH recall is 1 at this threshold gap (banding S-curve,
    //    verified candidates), the survivor set EQUALS the exact form's —
    //    same oracle as dedup_apply, proving the 100 TB path end-to-end,
    //    not just its pair stage. ───────────────────────────────────────────
    "dedup_apply_lsh" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, k = 64, bands = 16, threshold = JaccardThreshold)
      Dedup.dropNearDuplicates(docs, "doc_id", pairs)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ── SimHash near-dup pairs (hash-defined → DuckDB cannot replay the
    //    values; the gate pins the FULL output through a DigestGate
    //    constant at sf0.01, exact sf0.001 pair set in GoldenValuesSpec) ──
    "dedup_simhash" -> ((s, d) =>
      DigestGate.digestRow(dedupSimhashFull(s, d))),

    // ── per-source corpus overlap via MinHash-union UDAF (sketch-defined
    //    values → DigestGate constant; the union law is property- and
    //    spec-tested, and the estimator's error is oracle-certified by
    //    dedup_overlap_audit) ───────────────────────────────────────────
    "dedup_source_overlap" -> ((s, d) =>
      DigestGate.digestRow(dedupSourceOverlapFull(s, d))),

    // ── sketch-estimator audit: EXACT per-source-pair shingle Jaccard
    //    (oracle-checkable) + a bound on the MinHash estimate's error.
    //    k = 64 slots → per-pair stderr ≈ √(J(1−J)/64) ≤ 0.0625, but the
    //    audit flags the MAX over all ~190 pairs, whose expectation is
    //    ≈ σ·√(2·ln 190) ≈ 2.7σ — an sf0.1 replay measured 0.156 (2.96σ
    //    at J=0.235), past the old 0.15 (~2.4σ) bound (the r12
    //    bounds-must-cover-the-guarantee fix; audit flake class). 0.25 ≈
    //    4σ at the worst point J=0.5 still certifies the sketch loudly —
    //    a broken hash family reads errors near 0.5. The estimate is
    //    DETERMINISTIC (fixed hash family), so the flag is a stable,
    //    replayable contract — the exact values hash-match DuckDB and
    //    certify the sketch the scale path relies on. ───────────────────
    "dedup_overlap_audit" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val est = Dedup.groupOverlap(Dedup.groupSignatures(docs,
        "doc_id", "text", "source", n = 3, k = 64))
      val exact = Dedup.groupOverlapExact(docs, "doc_id", "text", "source",
        n = 3)
      est.join(exact, Seq("grp_a", "grp_b"))
        .select(col("grp_a"), col("grp_b"),
          round(col("jaccard"), 4).as("exact_jaccard"),
          (abs(col("est_jaccard") - col("jaccard")) <= 0.25)
            .as("within_tol"))
        .orderBy(col("grp_a"), col("grp_b"))
    }),

    // ── SimHash signature audit: every ground-truth near-dup pair (exact
    //    n-gram Jaccard ≥ 0.8) must land within simhash hamming ≤ 16 —
    //    pairs outside the radius are emitted, so the contract is a 0-row
    //    oracle (same pattern as emb_lsh_recall). This certifies the
    //    property that makes simhash usable AT ALL (similar token
    //    multisets → close signatures, vs ~32 for unrelated pairs;
    //    measured max hamming 8 at sf0.01 but 11 at an sf0.1 replay — a
    //    J=0.8 boundary pair broke the old ≤ 10 radius by one bit, the
    //    r12 bounds-must-cover-the-guarantee fix). dedup_simhash's own
    //    operating point stays hamming ≤ 3 — the 4-chunk pigeonhole with
    //    16-bit buckets that scales (a wide-radius pigeonhole would need
    //    many short chunks → quadratic candidate blowup at 100 TB),
    //    trading recall at the 0.9-Jaccard margin for bounded candidates;
    //    its exact pair set is pinned in GoldenValuesSpec. ───────────────
    "dedup_simhash_recall" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          n = 3, threshold = JaccardThreshold)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 4).as("jaccard"))
      // radius check by joining the signature TABLE against the (tiny)
      // truth pair set — no candidate generation: a radius-10 pigeonhole
      // (11 chunks of ~6 bits) would explode candidates quadratically,
      // and the audit doesn't need it.
      val sigs = Dedup.simhashSignatures(docs, "doc_id", "text")
      truth
        .join(sigs.select(col("id").as("id_a"), col("sig").as("sa")), "id_a")
        .join(sigs.select(col("id").as("id_b"), col("sig").as("sb")), "id_b")
        .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) > 16)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── text analysis: token counting (typed kernel form) ─────────────────
    "docs_token_counts" -> ((s, d) => {
      TextAnalysis.tokenCountsFrame(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ── text analysis: heuristic language ID (typed kernel form) ──────────
    "docs_lang_id" -> ((s, d) => {
      TextAnalysis.langIdFrame(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ── text analysis: quality scoring (typed kernel form) ────────────────
    "docs_quality" -> ((s, d) => {
      TextAnalysis.qualityFrame(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ── the Gopher quality-rule battery (Rae et al. 2021): all seven
    //    rules attributed per doc + conjunction verdict, pure codegen'd
    //    built-ins, one projection, no shuffle ──────────────────────────────
    "docs_gopher_rules" -> ((s, d) => {
      TextAnalysis.gopherRules(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ── C4 line-level cleaning (Raffel et al. 2020): terminal-punct +
    //    min-words line keep, lorem/brace/sentence-count page drop; the
    //    kept text pinned by md5 — full-value oracle. The raw synthetic
    //    docs are single-line and unpunctuated (every line would drop),
    //    so the query first rebuilds sentence-structured pages
    //    DETERMINISTICALLY (16-word lines, every 3rd unpunctuated,
    //    lorem/brace markers on doc_id moduli) — identically in the
    //    oracle — so all four outcomes are exercised. ───────────────────────
    "docs_c4_clean" -> ((s, d) => {
      val ws = split(col("text"), " ")
      val starts = sequence(lit(1), greatest(size(ws), lit(1)), lit(16))
      val lines = transform(starts, i =>
        concat(array_join(slice(ws, i, lit(16)), " "),
          when(pmod(((i - 1) / 16).cast("int"), lit(3)) === 2, lit(""))
            .otherwise(lit("."))))
      val rebuilt = concat(array_join(lines, "\n"),
        when(pmod(col("doc_id"), lit(13)) === 0,
          lit("\nmore lorem ipsum filler.")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(17)) === 0,
          lit("\nconfig { value }")).otherwise(lit("")))
      val pages = t(s, d, "documents")
        .select(col("doc_id"), rebuilt.as("text"))
      TextAnalysis.c4LineClean(pages, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ── the Gopher REPETITION battery: top n-gram char fractions
    //    (n = 2..4) + duplicated-n-gram position-coverage fractions
    //    (n = 5, 10) — full-value oracle, in-row replay in DuckDB ──────────
    "docs_gopher_repetition" -> ((s, d) => {
      TextAnalysis.gopherRepetition(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ── Zipf-law audit: least-squares slope of ln(count) vs ln(rank)
    //    over the top-100 terms — natural corpora sit near −1. The ln
    //    values quantize to integer micro-units BEFORE summing (the
    //    repo's order-free discipline: exact BIGINT sums, one fp
    //    division at the end), so shuffle order cannot move the answer ─────
    "vocab_zipf_audit" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(explode(filter(split(lower(col("text")), "\\s+"),
          tk => length(tk) > lit(0))).as("term"))
      val counts = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      // vocab-sized global rank window — the documented bounded-sidecar
      // frame (same shape as vocab_top_terms)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("term"))
      val top = counts.withColumn("r", row_number().over(w))
        .filter(col("r") <= 100)
      val x = round(log(col("r").cast("double")) * 1e6).cast("long")
      val y = round(log(col("cnt").cast("double")) * 1e6).cast("long")
      top.select(col("r"), col("term"), col("cnt"), x.as("x"), y.as("y"))
        .agg(count(lit(1)).as("n_terms"),
          max(when(col("r") === 1, col("term"))).as("top_term"),
          max(when(col("r") === 1, col("cnt"))).as("top_count"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("n_terms"), col("top_term"), col("top_count"),
          round((col("n_terms") * col("sxy") -
              col("sx") * col("sy")).cast("double") /
            (col("n_terms") * col("sxx") -
              col("sx") * col("sx")).cast("double"), 4).as("zipf_slope"))
    }),

    // ── lexical diversity: per-doc type-token ratio + hapax fraction
    //    (the vocabulary-richness features a quality classifier eats);
    //    all in-row array built-ins, one projection, no shuffle ─────────────
    "docs_lexical_diversity" -> ((s, d) => {
      val ws = filter(split(lower(col("text")), "\\s+"),
        w => length(w) > lit(0))
      val types = array_distinct(ws)
      // hapax count = types occurring exactly once = run-length-1 runs
      // of the SORTED token array, counted in ONE aggregate fold:
      // O(n log n) per doc instead of the nested filter-in-filter's
      // O(types × tokens) string compares (r15: the quadratic was ~4×
      // this query's wall). The sort sits in the aggregate's INPUT
      // slot, evaluated once per row — an aliased array_sort referenced
      // from inside a lambda body gets CollapseProject-inlined per
      // ELEMENT (measured 45 s vs 1.3 s, the PLANS lesson-7 trap).
      // Fold state: (prev token, current run length, hapax count);
      // a new run (x ≠ prev, NULL-prev first element included via the
      // otherwise branch) banks +1, the run's SECOND occurrence takes
      // it back, later occurrences are neutral.
      val hapax = aggregate(
        array_sort(ws),
        struct(lit(null).cast("string").as("prev"), lit(0).as("run"),
          lit(0).as("cnt")),
        (acc, x) => struct(
          x.as("prev"),
          when(x === acc.getField("prev"), acc.getField("run") + 1)
            .otherwise(lit(1)).as("run"),
          (acc.getField("cnt") +
            when(x === acc.getField("prev"),
              when(acc.getField("run") === 1, lit(-1)).otherwise(lit(0)))
              .otherwise(lit(1))).as("cnt")),
        acc => acc.getField("cnt"))
      t(s, d, "documents").select(col("doc_id"),
          size(ws).as("n_tokens"), size(types).as("n_types"),
          hapax.as("n_hapax"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          col("n_hapax"),
          when(col("n_tokens") > 0,
            round(col("n_types").cast("double") / col("n_tokens"), 4))
            .as("ttr"),
          when(col("n_types") > 0,
            round(col("n_hapax").cast("double") / col("n_types"), 4))
            .as("hapax_frac"))
        .orderBy(col("doc_id"))
    }),

    // ── text analysis: content fingerprints (md5/sha256 oracle-checked) ───
    "docs_fingerprint" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
          Fingerprints.md5Fingerprint(col("text")).as("fp_md5"),
          sha2(col("text"), 256).as("fp_sha256"))
        .orderBy(col("doc_id"))
    }),

    // ── shift-robust rolling fingerprint (typed kernel form; engine-hash
    //    values → DigestGate constant; sf0.001 values pinned by
    //    GoldenValuesSpec, dual-implementation agreement oracle-gated by
    //    docs_rolling_audit) ─────────────────────────────────────────────
    "docs_fingerprint_rolling" -> ((s, d) =>
      DigestGate.digestRow(docsFingerprintRollingFull(s, d))),

    // ── rolling-fingerprint dual-implementation audit: the typed kernel
    //    and the Catalyst expression form must agree on EVERY document —
    //    disagreements are emitted, so the contract is a 0-row oracle.
    //    (Two independent code paths over the same hash definition; a
    //    drift in either surfaces here at corpus scale, not just on the
    //    spec's toy rows.) ──────────────────────────────────────────────────
    "docs_rolling_audit" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ker = TextAnalysis.rollingFingerprintFrame(docs, "doc_id", "text")
      val expr = docs.select(col("doc_id").cast("long").as("doc_id"),
        Fingerprints.rollingFingerprint(col("text")).as("fp_expr"))
      ker.join(expr, "doc_id")
        .filter(col("fp_rolling") =!= col("fp_expr"))
        .orderBy(col("doc_id"))
    }),

    // ── winnowing fingerprints (MOSS): k=4 shingles, w=5 window-min
    //    selection (ties → leftmost) — the insertion-robust dup
    //    signature; md5-prefix hashes replay exactly in the oracle. One
    //    doc-keyed window sort; the all-windows explode exists only in
    //    the ORACLE. ─────────────────────────────────────────────────────
    "docs_winnow" -> ((s, d) => {
      TextAnalysis.winnowFingerprints(t(s, d, "documents"),
          "doc_id", "text", k = 4, w = 5)
        .orderBy(col("doc_id"), col("fp_pos"), col("fp_hash"))
    }),

    // ── HLL sketch audit: per-day distinct users — the 2 kB register
    //    sketch's estimate must land within 5% (2σ at p=11) of the
    //    exact count for EVERY day; exact + flag are the oracle-checked
    //    output (vocab_cms_audit pattern — the estimate itself is
    //    hash-defined, pinned in HllSpec) ────────────────────────────────
    "events_hll_audit" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("user_id"))
      graft.operators.Hll.auditedEstimates(ev, col("user_id"),
          Seq("day"), p = 11, tol = 0.05)
        .select(col("day"), col("exact_distinct"), col("within_tol"))
        .orderBy(col("day"))
    }),

    // ── HLL union law (0-row oracle): daily sketches merged register-
    //    wise must estimate the OVERALL distinct count within 5% — the
    //    mergeability that lets a year of history answer without a
    //    rescan. Sketches are a days-sized sidecar (m bytes each). ───────
    "events_hll_union_audit" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("user_id"))
      val daily = graft.operators.Hll.groupSketches(ev, col("user_id"),
        Seq("day"), p = 11)
      val sketches = daily.select(col("hll"))
        .collect().map(_.getAs[Array[Byte]](0))
      val merged = sketches.reduce(graft.operators.Hll.union)
      val est = math.round(graft.operators.Hll.estimate(merged))
      val exact = ev.select(countDistinct(col("user_id"))).first().getLong(0)
      val ok = math.abs(est - exact).toDouble <= math.max(exact * 0.05, 1.0)
      if (ok) Seq.empty[(Long, Long)].toDF("union_est", "exact_distinct")
      else Seq((est, exact)).toDF("union_est", "exact_distinct")
    }),

    // ── KMV/theta sketch set-algebra audit: per-event-type user
    //    sketches (k = 1024 longs each, a persistable sidecar) must
    //    estimate every pairwise INTERSECTION and DIFFERENCE within
    //    max(15%, 32) of exact — the set ops HLL registers cannot
    //    answer. Estimates are hash-defined (pinned in KmvSketchSpec);
    //    exact counts + flags are the oracle surface (hll_audit
    //    pattern). ────────────────────────────────────────────────────
    "events_kmv_overlap_audit" -> ((s, d) => {
      graft.operators.KmvSketch.pairOverlapAudit(t(s, d, "events"),
        col("event_type"), col("user_id"), k = 1024)
    }),

    // ── Flesch-style readability: exact integer sentence/word/vowel-run
    //    counts → one fixed fp tree per row — the curation-grade
    //    reading-level signal ────────────────────────────────────────────
    "docs_readability" -> ((s, d) => {
      TextAnalysis.readability(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ── deterministic span masking (MLM corruption gen): content-keyed
    //    md5 mask decisions — reproducible across runs/engines; the
    //    oracle replays mask-by-mask ─────────────────────────────────────
    "docs_span_mask" -> ((s, d) => {
      TextAnalysis.spanMask(t(s, d, "documents"), "doc_id", "text",
          ratePct = 15)
        .orderBy(col("doc_id"))
    }),

    // ── gzip-compressibility quality signal (Gopher-style): deflate
    //    ratio per doc; defined by the JVM Deflater's byte stream →
    //    DigestGate constant at sf0.01, sf0.001 digest pinned in
    //    GoldenValuesSpec, invariant oracle-gated by docs_gzip_audit ─────
    "docs_gzip_ratio" -> ((s, d) =>
      DigestGate.digestRow(docsGzipRatioFull(s, d))),

    // ── gzip invariant audit (0-row oracle): every non-empty doc must
    //    compress to 0 < deflated ≤ raw + 64 (zlib's stored-block bound)
    //    and the rounded ratio must be consistent with the byte counts —
    //    violations are emitted ──────────────────────────────────────────
    "docs_gzip_audit" -> ((s, d) => {
      TextAnalysis.gzipRatioFrame(t(s, d, "documents"), "doc_id", "text")
        .filter(col("n_bytes") > 0)
        .filter(!(col("n_deflated") > 0 &&
          col("n_deflated") <= col("n_bytes") + 64 &&
          abs(col("gzip_ratio") -
            round(col("n_deflated").cast("double") / col("n_bytes"), 4))
            < lit(1e-9)))
        .select(col("doc_id"), col("n_bytes"), col("n_deflated"))
    }),

    // ── winnow candidate pairs: docs sharing ≥ 3 selected fingerprints
    //    — the MOSS match step. Fingerprint-keyed equi-join (same scale
    //    shape as an LSH band bucket join: candidates form per shared
    //    hash, never all-pairs), with the MOSS ubiquitous-fingerprint
    //    cap (df ≤ 100 distinct docs) bounding per-key fan-out — the
    //    oracle replays the same cap. ────────────────────────────────────
    "dedup_winnow_pairs" -> ((s, d) => {
      TextAnalysis.winnowCandidatePairs(t(s, d, "documents"),
          "doc_id", "text", k = 4, w = 5, minShared = 3, maxDf = 100)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── winnow under SKEW: 30% of the corpus gets one shared boilerplate
    //    paragraph appended in-plan (the docs_c4_clean rebuild idiom) —
    //    the df cap must drop the boilerplate fingerprints so the
    //    fp-keyed join never builds the (0.3·N)² bucket, and the mined
    //    pairs are exactly the capped pairs of the skewed corpus (full-
    //    value oracle replaying rebuild + cap). This is the stress the
    //    benign synthetic corpus never exercised. ───────────────────────
    "dedup_winnow_skew" -> ((s, d) => {
      val skewed = t(s, d, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(10)) < 3,
            concat(col("text"), lit(" " + WinnowBoiler)))
          .otherwise(col("text")).as("text"))
      TextAnalysis.winnowCandidatePairs(skewed,
          "doc_id", "text", k = 4, w = 5, minShared = 3, maxDf = 100)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── LSH skew-immunity audit (0-row): on the SAME boilerplate-skewed
    //    corpus that detonates the naive shingle join (every stamped pair
    //    shares the paragraph), no MinHash band bucket may exceed 50
    //    members — minhash samples the WHOLE shingle set, so boilerplate
    //    alone cannot collide signatures; buckets track near-dup CLUSTER
    //    sizes (≤ ~5 in this corpus), not boilerplate frequency (~30%).
    //    Violating buckets are emitted. ────────────────────────────────
    "dedup_lsh_skew_audit" -> ((s, d) => {
      val skewed = t(s, d, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(10)) < 3,
            concat(col("text"), lit(" " + WinnowBoiler)))
          .otherwise(col("text")).as("text"))
      Dedup.bandBucketCounts(skewed, "doc_id", "text",
          n = 3, k = 64, bands = 16)
        .filter(col("n") > 50)
        .orderBy(col("bucket"))
    }),

    // ── trigram stupid-backoff LM score: counts trained on the even-id
    //    reference slice, scored over the whole corpus (so backoff
    //    FIRES on odd docs); per-position scores micro-rounded in-plan →
    //    order-free integer sums, the termEntropy discipline ─────────────
    "docs_sbo_score" -> ((s, d) => {
      TextAnalysis.stupidBackoffScores(t(s, d, "documents"),
          "doc_id", "text", refFilter = pmod(col("doc_id"), lit(2)) === 0)
        .orderBy(col("doc_id"))
    }),

    // ── CCNet-style LM-score bucketing: stupid-backoff scores → exact
    //    tercile cutpoints (Quantiles' order-statistic form, no global
    //    sort) → per-(source, bucket) corpus composition. Bucket 1 =
    //    highest scores ("head"), 3 = "tail" — the mixing table a CCNet
    //    pipeline samples from. Aggregates are exact BIGINTs; the
    //    bucket comparison replays on identical doubles (the
    //    docs_sbo_score discipline). ────────────────────────────────────
    "docs_ccnet_buckets" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val scored = TextAnalysis.stupidBackoffScores(docs, "doc_id",
        "text", refFilter = pmod(col("doc_id"), lit(2)) === 0)
      // materialize the scored corpus ONCE (r16): cutpointScores consumes
      // its input twice (histogram pass + scoring pass) and each branch
      // re-ran the whole stupid-backoff scorer — at scale the scored
      // corpus is the artifact a CCNet pipeline writes between the LM
      // stage and the bucketing stage
      val withSrc = scored.join(
        docs.select(col("doc_id").cast("long").as("doc_id"),
          col("source")), "doc_id")
        .localCheckpoint()
      graft.operators.Quantiles.cutpointScores(withSrc, "sbo_score",
          3, "bucket", ascending = false)
        .groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_trigrams")).as("n_trigrams"),
          sum(col("n_attested")).as("n_attested"))
        .orderBy(col("source"), col("bucket"))
    }),

    // ── URL canonicalization (the RefinedWeb-style URL-dedup key): per
    //    doc a noisy URL is synthesized in-plan (uppercased scheme/host,
    //    default port, utm_/ref tracking params, fragments by doc_id%4)
    //    and canonicalized by the documented rule algebra; the oracle
    //    states the expected canonical form in CLOSED FORM per branch,
    //    so every rule (case, port, param filter with ORDER kept,
    //    fragment, ?-drop) is driver-gated on every doc. ────────────────
    "docs_url_canonical" -> ((s, d) => {
      val canon = udf(graft.functions.UrlFunctions.canonicalizeUrl _)
      val url = concat(lit("HTTP://Example"),
        pmod(col("doc_id"), lit(20)).cast("string"),
        lit(".COM:80/path/"), col("doc_id").cast("string"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit("?utm_source=x&id="), col("doc_id").cast("string")))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit("?id="), col("doc_id").cast("string"),
            lit("&utm_campaign=c&ref=y")))
        .when(pmod(col("doc_id"), lit(4)) === 2, lit("#frag"))
        .otherwise(lit("")))
      t(s, d, "documents")
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), col("url"),
          canon(col("url")).as("canonical_url"))
        .orderBy(col("doc_id"))
    }),

    // ── registrable-domain ("eTLD+1") corpus stats: hosts synthesized
    //    in-plan across five shapes (plain .com, nested .co.uk
    //    multi-part suffix, deep .com.br, single-label, deep .org) and
    //    reduced to per-domain doc/host counts — the RefinedWeb/CCNet
    //    per-site aggregation key. Oracle states each branch's domain
    //    in CLOSED form and replays the aggregation. ────────────────────
    "docs_url_domains" -> ((s, d) => {
      val dom = udf(graft.functions.UrlFunctions.registrableDomain _)
      val m = pmod(col("doc_id"), lit(5))
      val host =
        when(m === 0, concat(lit("www.example"),
          pmod(col("doc_id"), lit(7)).cast("string"), lit(".com")))
        .when(m === 1, concat(lit("a.b.site"),
          pmod(col("doc_id"), lit(3)).cast("string"), lit(".co.uk")))
        .when(m === 2, lit("deep.x.portal.com.br"))
        .when(m === 3, lit("localhost"))
        .otherwise(lit("cdn.static.example.org"))
      t(s, d, "documents")
        .select(col("doc_id"), host.as("host"))
        .select(col("host"), dom(col("host")).as("domain"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"))
        .orderBy(col("domain"))
    }),

    // ── WARC container round trip through the REAL parser: per doc a
    //    2-record archive (warcinfo + response carrying the doc text)
    //    synthesized IN-PLAN — even ids as per-record GZIP MEMBERS (the
    //    CommonCrawl layout), odd ids plain, so one query drives both
    //    decode paths — then WebArchive.records explodes it back.
    //    Closed-form oracle: every header field, length, and payload is
    //    computable from the documents columns. ─────────────────────────
    "docs_warc_roundtrip" -> ((s, d) => {
      val synth = udf((id: Long, text: String) => {
        graft.functions.WarcCodec.encode(Seq(
          (Seq("WARC-Type" -> "warcinfo",
            "WARC-Record-ID" -> s"<urn:graft:info:$id>"),
            "software: graft\r\n".getBytes("UTF-8")),
          (Seq("WARC-Type" -> "response",
            "WARC-Record-ID" -> s"<urn:graft:resp:$id>",
            "WARC-Target-URI" -> s"http://example.org/doc/$id"),
            text.getBytes("UTF-8"))),
          gzipPerRecord = id % 2 == 0)
      })
      graft.operators.WebArchive.records(
          t(s, d, "documents").select(col("doc_id"),
            synth(col("doc_id"), col("text")).as("bytes")),
          "doc_id", "bytes")
        .orderBy(col("doc_id"), col("rec_idx"))
    }),

    // ── TFRecord shard round trip through the REAL framing + Example
    //    codecs: per doc, an Example{text: bytes, token_lens: int64[]}
    //    is protobuf-encoded, CRC-framed, then frame-decoded and
    //    proto-decoded back — the training-shard output leg, gated by a
    //    closed-form oracle (token count / length sum computable from
    //    text). A CRC, varint, or wire-format bug lands here on every
    //    doc, not just the spec's fixtures. ─────────────────────────────
    "pipeline_tfrecord_roundtrip" -> ((s, d) => {
      val roundtrip = udf((text: String) => {
        import graft.functions.TfRecordCodec._
        val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
        val ex = encodeExample(
          Seq("text" -> text.getBytes("UTF-8")),
          Seq("token_lens" -> toks.map(_.length.toLong)))
        val back = decodeRecords(encodeRecords(Seq(ex)))
        val (bs, is) = decodeExample(back.head)
        val lens = is.getOrElse("token_lens", Array.emptyLongArray)
        (back.size, new String(bs("text"), "UTF-8"),
          lens.length.toLong, lens.sum)
      })
      t(s, d, "documents")
        .select(col("doc_id"), roundtrip(col("text")).as("_r"))
        .select(col("doc_id"), col("_r._1").as("n_frames"),
          col("_r._2").as("payload"), col("_r._3").as("n_tokens"),
          col("_r._4").as("sum_token_lens"))
        .orderBy(col("doc_id"))
    }),

    // ── T15 embedding stand-in: deterministic hash embedder invariants ────
    "docs_hash_embed" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          Fingerprints.hashEmbed(col("text"), 64).as("vec"))
        .select(col("doc_id"), size(col("vec")).as("dim"),
          round(graft.functions.VectorFunctions.l2Norm(col("vec")), 4)
            .as("norm"))
        .orderBy(col("doc_id"))
    }),

    // ── deterministic train/val/test split (hash-keyed on content) ───────
    "sample_hash_split" -> ((s, d) => {
      graft.operators.Sampling.hashSplit(t(s, d, "documents"), col("text"),
          trainFrac = 0.8, valFrac = 0.1)
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // ── deterministic k-fold assignment (cross-validation; content-keyed
    //    so exact duplicates never straddle a fold boundary) ───────────────
    "sample_kfold" -> ((s, d) => {
      graft.operators.Sampling.kFold(t(s, d, "documents"), col("text"),
          k = 5)
        .select(col("doc_id"), col("fold"))
        .orderBy(col("doc_id"))
    }),

    // ── deterministic per-group sample (exactly 3 per source) ─────────────
    "sample_per_group" -> ((s, d) => {
      graft.operators.Sampling.perGroupSample(t(s, d, "documents"),
          "source", col("text"), n = 3)
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id"))
    }),

    // ── GPT-style sequence packing (doc → occupied training sequences);
    //    scale form = two-pass partition prefix sums, oracle = the global
    //    window formulation ─────────────────────────────────────────────
    "pack_sequences" -> ((s, d) => {
      val withTokens = t(s, d, "documents").select(col("doc_id"),
        size(graft.functions.Fingerprints.tokens(col("text")))
          .cast("long").as("tok"))
      graft.operators.Packing.packSequences(withTokens, "doc_id", "tok",
          Seq("doc_id"), seqLen = 512)
        .orderBy(col("doc_id"))
    }),

    // ── benchmark decontamination: corpus docs sharing ≥5 trigrams with
    //    the (broadcast) benchmark vocabulary ────────────────────────────
    "decontaminate_overlap" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Decontaminate.overlaps(
          docs.filter(col("source") =!= "src0"), "doc_id", "text",
          docs.filter(col("source") === "src0"), "doc_id", "text",
          n = 3, minOverlap = 5)
        .orderBy(col("doc_id"))
    }),

    // ── TF-IDF keyword extraction (top-3 terms per doc) ──────────────────
    "docs_tfidf_top3" -> ((s, d) => {
      TextAnalysis.tfidfTopK(t(s, d, "documents"), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rank"))
    }),

    // ── Gopher-style repetition signals (boilerplate detection) ──────────
    "docs_repetition" -> ((s, d) => {
      TextAnalysis.repetitionFrame(t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_lines"),
          round(lit(1.0) - col("n_distinct_lines") * 1.0 / col("n_lines"), 4)
            .as("dup_line_frac"),
          when(col("n_bigrams") > 0,
            round(col("top_bigram_cnt") * 1.0 / col("n_bigrams"), 4))
            .otherwise(0.0).as("top_bigram_frac"))
        .orderBy(col("doc_id"))
    }),

    // ── PII/noise scrub: URL → email → digit-run placeholders ────────────
    "docs_scrub" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
          graft.operators.TextAnalysis.scrub(col("text")).as("scrubbed"))
        .orderBy(col("doc_id"))
    }),

    // ── Luhn-validated card masking: the precision upgrade over
    //    docs_scrub's blanket digit collapse — only checksum-VALID
    //    13-19-digit runs mask to [CARD]. The corpus has no digits, so
    //    the gate synthesizes one valid and one invalid card per doc
    //    IN-PLAN (check digit computed with the same higher-order
    //    fold on both engines — the multimodal in-plan-container
    //    pattern on the text axis): the valid one must mask, the
    //    invalid one must survive. ──────────────────────────────────────
    "docs_luhn_mask" -> ((s, d) => {
      import graft.operators.TextAnalysis
      val base = lpad((col("doc_id") * 7919).cast("string"), 14, "4")
      val dj = (j: Column) => base.substr(length(base) - j, lit(1))
        .cast("int")
      val fj = (j: Column) => when(j % 2 === 0,
          when(dj(j) * 2 > 9, dj(j) * 2 - 9).otherwise(dj(j) * 2))
        .otherwise(dj(j))
      val s14 = aggregate(sequence(lit(0), lit(13)), lit(0),
        (acc, j) => acc + fj(j))
      val c = (lit(10) - s14 % 10) % 10
      val txt = concat(col("text"), lit(" pay "),
        base, c.cast("string"), lit(" ref "),
        base, ((c + 1) % 10).cast("string"))
      t(s, d, "documents")
        .select(col("doc_id"),
          size(TextAnalysis.luhnCards(txt)).as("n_cards"),
          array_join(TextAnalysis.luhnCards(txt), ",").as("cards"),
          md5(TextAnalysis.luhnMask(txt)).as("masked_md5"))
        .orderBy(col("doc_id"))
    }),

    // ── corpus-wide line-level exact dedup (C4-style): first occurrence
    //    by (doc, pos) survives. Counts form — the oracle groups by line
    //    TEXT where the engine groups by xxhash64(line); identical groups
    //    (collision odds ~n²/2⁶⁴), but only 20-byte keys shuffle. ──────────
    "docs_line_dedup" -> ((s, d) => {
      Dedup.lineDedupCounts(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ── the assembled cleaning pipeline: every quality signal in one
    //    kernel pass, folded to keep/drop + first-failing-rule reason ──────
    "docs_clean_verdict" -> ((s, d) => {
      TextAnalysis.cleanVerdictFrame(t(s, d, "documents"), "doc_id", "text",
          minTokens = 30L, maxDupLineFrac = 0.2, maxTopBigramFrac = 0.2,
          minQuality = 0.5, requiredLang = Some("en"))
        .orderBy(col("doc_id"))
    }),

    // ── corpus vocabulary: top-100 terms with counts, doc frequency, and
    //    dense rank-order ids (tokenizer building / stopword discovery) ─────
    "vocab_top_terms" -> ((s, d) => {
      TextAnalysis.vocabulary(t(s, d, "documents"), "doc_id", "text",
          topN = 100)
        .orderBy(col("vocab_id"))
    }),

    // ── Misra-Gries heavy hitters, "sketch proposes, exact disposes":
    //    MG candidates (one pass, k counters per task, NO token-keyed
    //    shuffle of the corpus) → exact counts of the ≤ k candidates →
    //    keep count·k > n. By the MG guarantee the output is exactly
    //    {tokens with count > n/k} — deterministic although the raw
    //    summary is merge-order-dependent — so the oracle is the plain
    //    exact frequency query. ───────────────────────────────────────────
    "vocab_heavy_hitters" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(explode(Fingerprints.tokens(col("text"))).as("tok"))
      graft.operators.HeavyHitters.frequentItems(toks, "tok", k = 64)
        .select(col("item").as("tok"), col("cnt"))
        .orderBy(desc("cnt"), col("tok"))
    }),

    // ── generic per-group top-k WITHOUT a window: bounded-heap
    //    aggregator (k slots per group per task, map-side combinable)
    //    replaces the full exchange+sort row_number form — per
    //    event_type, the 5 highest-value events, ties by id. The oracle
    //    IS the window form, proving plan-shape divergence with output
    //    equality. ────────────────────────────────────────────────────────
    "a_group_topk" -> ((s, d) => {
      val ev = t(s, d, "events")
        .filter(col("value").isNotNull)
      ev.groupBy(col("event_type"))
        .agg(graft.functions.TopKRows.topKRows(
          col("value"), col("event_id"), 5).as("top"))
        .select(col("event_type"),
          posexplode(col("top")).as(Seq("pos", "row")))
        .select(col("event_type"), (col("pos") + 1).as("rank"),
          col("row._2").as("event_id"), col("row._1").as("value"))
        .orderBy(col("event_type"), col("rank"))
    }),

    // ── source-mixing resample: per-source weights (src0 ×2.5, src1
    //    ×0.25, rest ×1) as floor copies + a hash-keyed fractional copy —
    //    the pretraining data-mixing step, fully deterministic ──────────────
    "sample_weighted_mix" -> ((s, d) => {
      graft.operators.Sampling.weightedMix(t(s, d, "documents"), "source",
          col("text"), Map("src0" -> 2.5, "src1" -> 0.25))
        .select(col("doc_id"), col("source"), col("copy_id"))
        .orderBy(col("doc_id"), col("copy_id"))
    }),

    // ── quality-weighted resample: per-ROW weight (here length-derived,
    //    capped at 3×) instead of a static per-source map — the
    //    upsample-by-quality mixing form; same determinism contract ─────────
    "sample_quality_mix" -> ((s, d) => {
      graft.operators.Sampling.weightedMixByCol(t(s, d, "documents"),
          col("text"), least(lit(3.0), col("n_chars") / lit(200.0)))
        .select(col("doc_id"), col("copy_id"))
        .orderBy(col("doc_id"), col("copy_id"))
    }),

    // ── exact-proportion stratified split: within every source exactly
    //    floor(n·0.8) rows train, the rest test, by md5 hash order — the
    //    eval-slice splitter where hashSplit's ±0.4% scatter could empty a
    //    small stratum. Key carries doc_id so the order has no ties. ───────
    "sample_stratified" -> ((s, d) => {
      graft.operators.Sampling.stratifiedSplit(t(s, d, "documents"),
          "source", concat_ws("|", col("text"), col("doc_id")),
          trainFrac = 0.8)
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // ── SEMANTIC decontamination: corpus vectors too close (max cosine)
    //    to any benchmark vector — paraphrase leakage the n-gram form
    //    can't see; benchmark broadcasts, corpus scans once ────────────────
    "decontaminate_semantic" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      graft.operators.Decontaminate.semanticOverlaps(
          emb.filter(col("vec_id") >= 20), "vec_id", "embedding",
          emb.filter(col("vec_id") < 20), "embedding", threshold = 0.3)
        .select(col("vec_id"), round(col("max_cos"), 6).as("max_cos"))
        .orderBy(col("vec_id"))
    }),

    // ── the assembled TRAINING-DATA PIPELINE in one plan: token gate →
    //    exact dedup (keep-first) → deterministic hash split → train-split
    //    sequence packing. Each stage is an already-proven operator; this
    //    query proves their COMPOSITION under one oracle. ──────────────────
    "pipeline_train_pack" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      val gated = docs.filter(col("n_tokens") >= 30)
      val deduped = Dedup.dropExactDuplicates(gated, "doc_id", "text")
      val train = graft.operators.Sampling.hashSplit(deduped, col("text"),
          trainFrac = 0.8, valFrac = 0.1)
        .filter(col("split") === "train")
      graft.operators.Packing.packSequences(train, "doc_id", "n_tokens",
          Seq("doc_id"), seqLen = 512)
        .orderBy(col("doc_id"))
    }),

    // ── the SQL surface end-to-end: K1 expressed as a plain SQL string
    //    over the registered native expressions (GraftExtensions) — proves
    //    a SQL-only client of the library gets the same answers as the
    //    DataFrame API. Same oracle family as k1_cosine_topk. ──────────────
    "sql_cosine_topk" -> ((s, d) => {
      graft.GraftExtensions.register(s)
      t(s, d, "embeddings").createOrReplaceTempView("embeddings_v")
      val q = t(s, d, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).first()
        .getSeq[Double](0)
      val vec = q.map(x => s"${x}D").mkString("array(", ", ", ")")
      s.sql(
        s"""SELECT vec_id,
           |round(cosine_similarity(CAST(embedding AS ARRAY<DOUBLE>),
           |  $vec), 6) AS score
           |FROM embeddings_v
           |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)
    }),

    // ── CDC latest-state compaction: the newest event per (user, type) —
    //    the current-snapshot primitive over an append-only change log;
    //    event_id tiebreak keeps equal-timestamp re-sends deterministic ────
    "events_latest_per_key" -> ((s, d) => {
      graft.operators.EventAnalytics.latestPerKey(t(s, d, "events"),
          Seq("user_id", "event_type"), "ts", "event_id")
        .select(col("user_id"), col("event_type"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          round(col("value"), 4).as("value"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // ── trailing-window anomaly detection: hourly counts z-scored against
    //    the preceding 72h RANGE frame (epoch-keyed, so gaps in the hour
    //    series don't shift the baseline); current hour excluded ───────────
    "events_trailing_zscore" -> ((s, d) => {
      graft.operators.EventAnalytics.trailingZScore(t(s, d, "events"), "ts")
        .orderBy(col("hour"))
    }),

    // ── binned interval-overlap self-join: concurrent shipment windows
    //    per supplier — the equi-keyed (key, bin) form of a range
    //    theta-join that would otherwise plan a nested loop; exactly-once
    //    bin attribution, no dedup shuffle ─────────────────────────────────
    "j_interval_overlap" -> ((s, d) => {
      val li = t(s, d, "lineitem").filter(col("l_suppkey") < 20)
        .select(col("l_suppkey"),
          (col("l_orderkey") * 100 + col("l_linenumber")).as("item_id"),
          (unix_timestamp(col("l_shipdate")) / 86400).cast("long")
            .as("ship_day"),
          ((unix_timestamp(col("l_shipdate")) / 86400).cast("long")
            + col("l_linenumber")).as("end_day"))
      graft.operators.Intervals.overlapSelfJoin(li, "l_suppkey", "item_id",
          "ship_day", "end_day", binWidth = 7)
        .orderBy(col("l_suppkey"), col("id_a"), col("id_b"))
    }),

    // ── gaps-and-islands union coverage: per-supplier ship intervals
    //    collapse into maximal disjoint islands (touching endpoints join);
    //    n_islands / covered / max_island from ONE keyed exchange + sort —
    //    the dedup-aware "how much timeline is actually covered" rollup ────
    "a_interval_coverage" -> ((s, d) => {
      // DISTINCT (key, s, e) before the island window: coverage is
      // multiplicity-invariant, and the dedup makes the window's
      // ORDER BY (s, e) UNIQUE per key — positional (ROWS) frames over
      // duplicate sort keys are underdetermined SQL, and DuckDB's
      // parallel window path was observed returning a value at sf0.1
      // that NO tie order can produce (covered 1544 vs the tie-
      // invariant 1541, nondeterministic across identical runs).
      // repartition(key) FIRST: hash(key) clustering satisfies the
      // distinct's (key, s, e) grouping AND the island window, so ONE
      // key exchange serves dedup + window + rollup (the plan pin).
      val li = t(s, d, "lineitem")
        .select(col("l_suppkey"),
          (unix_timestamp(col("l_shipdate")) / 86400).cast("long").as("s"),
          ((unix_timestamp(col("l_shipdate")) / 86400).cast("long")
            + col("l_linenumber")).as("e"))
        .repartition(col("l_suppkey"))
        .distinct()
      graft.operators.Intervals.coverage(li, "l_suppkey", "s", "e")
        .orderBy(col("l_suppkey"))
    }),

    // ── exact k-NN graph (k=3): every vector's nearest neighbors with
    //    rank — the SemDeDup/graph-dedup building block; all-pairs form,
    //    the labeled verification baseline for knnGraphCells ────────────────
    "knn_graph" -> ((s, d) => {
      SimilaritySearch.knnGraph(t(s, d, "embeddings"), "vec_id",
          "embedding", k = 3)
        .orderBy(col("src"), col("rank"))
    }),

    // ── deterministic contrastive negatives: per anchor, the 4 smallest-
    //    md5-rank corpus ids that are not the anchor or its k-NN
    //    positives — retry-reproducible where rand() would re-deal ─────────
    "knn_negatives" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val anchors = emb.filter(col("vec_id") < 5)
      // positives only for the anchor set — O(|anchors|·N), not the full
      // N² graph (negativeSamples anti-joins on anchor_id, so exclude
      // rows for non-anchors could never match anyway)
      val positives = SimilaritySearch.knnGraphForSources(emb, "vec_id",
        "embedding", 3, anchors, "vec_id")
      SimilaritySearch.negativeSamples(emb, "vec_id",
          anchors, "vec_id", positives, k = 4)
        .orderBy(col("anchor_id"), col("rank"))
    }),

    // ── cell-restricted k-NN graph audit: the approximate graph's score
    //    at (src, rank) can never exceed the exact graph's — violations
    //    would mean the candidate restriction invented a better neighbor
    //    than exists. 0-row contract. ──────────────────────────────────────
    "knn_graph_dominance" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val exact = SimilaritySearch.knnGraph(emb, "vec_id", "embedding", 3)
        .select(col("src"), col("rank"), col("score").as("exact_score"))
      val approx = SimilaritySearch.knnGraphCells(emb, "vec_id",
          "embedding", 3, ncells = 8)
        .select(col("src"), col("rank"), col("score").as("approx_score"))
      approx.join(exact, Seq("src", "rank"))
        .filter(col("approx_score") > col("exact_score"))
        .select(col("src"), col("rank"), col("exact_score"),
          col("approx_score"))
    }),

    // ── per-source token-budget cap: admit docs in hash order while the
    //    source's running token total stays ≤ 800 — bounding a dominant
    //    source by VOLUME, not doc count (the data-mixing primitive) ────────
    "sample_token_budget" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")))
      graft.operators.Sampling.tokenBudgetSample(docs, "source",
          concat_ws("|", col("text"), col("doc_id")), col("n_tokens"),
          budget = 800L)
        .select(col("doc_id"), col("source"), col("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ── equi-width histogram of document lengths: broadcast (min, max)
    //    bounds, one map-side-combinable bin groupBy, closed last bin ───────
    "a_histogram" -> ((s, d) => {
      graft.operators.Histogram.equiWidth(t(s, d, "documents"),
          col("n_chars"), nBins = 12)
        .orderBy(col("bin"))
    }),

    // ── exact duplicated-substring spans (fixed 32-char window form of
    //    Lee et al. 2022 suffix-array dedup): rolling-hash candidates,
    //    text-verified — EXACT result, plain substring-window oracle ───────
    "dedup_substring" -> ((s, d) => {
      Dedup.duplicateSpanCounts(t(s, d, "documents"), "doc_id", "text",
          winLen = 32)
        .orderBy(col("doc_id"))
    }),

    // ── the ACTION form of substring dedup: maximal merged duplicated
    //    character spans per doc (what a span-level rewriter cuts) ──────────
    "dedup_substring_spans" -> ((s, d) => {
      Dedup.duplicateSpans(t(s, d, "documents"), "doc_id", "text",
          winLen = 32)
        .orderBy(col("doc_id"), col("span_start"))
    }),

    // ── overlapping sliding-window chunking (RAG/embedding chunker):
    //    window 120, stride 80 ⇒ consecutive chunks share 40 chars; last
    //    chunk clamps to the text end; start offsets are provenance ─────────
    "docs_chunk_overlap" -> ((s, d) => {
      val (size, stride) = (120, 80)
      t(s, d, "documents")
        .select(col("doc_id"), col("text"),
          posexplode(TextFunctions.slidingChunks(col("text"), size, stride))
            .as(Seq("idx", "chunk")))
        .select(col("doc_id"), col("idx"),
          TextFunctions.slidingChunkStart(col("text"), col("idx"),
            size, stride).as("start"),
          col("chunk"))
        .orderBy(col("doc_id"), col("idx"))
    }),

    // ── corpus-trained bigram LM surprisal (CCNet-style perplexity
    //    quality signal): add-one-smoothed p(w2|w1), per-doc mean negative
    //    log-prob; count tables are vocabulary-sized, V broadcasts ──────────
    "docs_bigram_nll" -> ((s, d) => {
      TextAnalysis.bigramSurprisal(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ── CMS heavy-hitter audit: a Count-Min-Sketch built in one pass
    //    estimates each top-20 term's frequency; CMS guarantees estimate ≥
    //    exact (always) and ≤ exact + ε·N (w.h.p., deterministic here via
    //    the fixed seed) — both folded into a value-checked flag next to
    //    the exact counts the oracle recomputes. ───────────────────────────
    "vocab_cms_audit" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val toks = docs.select(
        explode(graft.functions.Fingerprints.tokens(col("text"))).as("term"))
      val eps = 0.001
      val cms = graft.operators.CmsSketch.build(toks, col("term"), eps = eps)
      // the sketch already carries N — no second tokenize pass for it
      val slack = math.ceil(eps * cms.totalCount()).toLong
      val vocab = TextAnalysis.vocabulary(docs, "doc_id", "text", topN = 20)
        .select(col("term"), col("tf_total"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val est = graft.operators.CmsSketch
        .estimateFor(cms, vocab.map(_._1).toSeq)
      vocab.toSeq.map { case (term, exact) =>
        (term, exact,
          est(term) >= exact && est(term) <= exact + slack)
      }.toDF("term", "tf_total", "within_bounds")
        .orderBy(col("term"))
    }),

    // ── vocab APPLY: documents encoded as token-id sequences against the
    //    learned top-100 vocabulary (OOV → -1); broadcast vocab join ────────
    "docs_encode_vocab" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // topN = 20 so rarer terms actually exercise the OOV → -1 path
      val vocab = TextAnalysis.vocabulary(docs, "doc_id", "text", topN = 20)
      TextAnalysis.encodeWithVocab(docs, "doc_id", "text", vocab)
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ── corpus-relative quality gate: documents strictly above the corpus
    //    MEDIAN quality — the exact-percentile scalar broadcasts into a
    //    one-pass filter (2 corpus passes total; at 100 TB swap in
    //    approx_percentile, contract-checked like a_approx_quantiles) ───────
    "docs_quality_gate" -> ((s, d) => {
      val q = TextAnalysis.qualityFrame(t(s, d, "documents"),
        "doc_id", "text")
      val med = q.agg(percentile(col("quality"), lit(0.5)))
        .first().getDouble(0)
      q.filter(col("quality") > med)
        .select(col("doc_id"), col("quality"))
        .orderBy(col("doc_id"))
    }),

    // ── length-bucketed micro-batching: similar-length docs batch
    //    together so padding waste is bounded by the bin width ──────────────
    "pack_length_buckets" -> ((s, d) => {
      val withTokens = t(s, d, "documents").select(col("doc_id"),
        size(graft.functions.Fingerprints.tokens(col("text")))
          .cast("long").as("tok"))
      graft.operators.Packing.lengthBuckets(withTokens, "doc_id", "tok",
          binSize = 32, batchSize = 8)
        .orderBy(col("doc_id"))
    }),

    // ── ordered funnel: users reaching view → click-after-view →
    //    purchase-after-that-click (strict event-time ordering) ─────────────
    "events_funnel" -> ((s, d) => {
      graft.operators.EventAnalytics.funnel(t(s, d, "events"),
          "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
        .orderBy(col("stage"))
    }),

    // ── windowed funnel: same stages, but each stage must land within
    //    1 hour of the previous one (conversion-window attribution,
    //    greedy first-match anchoring — the product-analytics form) ────────
    "events_funnel_within" -> ((s, d) => {
      graft.operators.EventAnalytics.funnelWithin(t(s, d, "events"),
          "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
          windowSeconds = 3600L)
        .orderBy(col("stage"))
    }),

    // ── Z-order key: the Morton interleave of (user_id, hour) — the sort
    //    key `ZOrder.layoutByZ` lays files out by; pure bit arithmetic,
    //    value-checked against the same mask chain in SQL. The layout's
    //    pruning effect is spec-asserted (ZOrderSpec scan metrics). ─────────
    "events_zorder" -> ((s, d) => {
      t(s, d, "events").select(col("event_id"),
          graft.operators.ZOrder.morton16(col("user_id"),
            hour(col("ts")).cast("long")).as("z"))
        .orderBy(col("event_id"))
    }),

    // ── arbitrary GROUPING SETS (beyond rollup/cube's fixed lattices):
    //    (type), (day), and grand total in ONE pass — Spark expands to a
    //    single Expand + aggregation, not three scans ───────────────────────
    "events_grouping_sets" -> ((s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_gs")
      s.sql("""
        SELECT event_type, date_format(ts, 'yyyy-MM-dd') AS day,
               count(*) AS n, round(sum(value), 2) AS sum_value
        FROM events_gs
        GROUP BY GROUPING SETS ((event_type), (date_format(ts, 'yyyy-MM-dd')), ())
        ORDER BY event_type NULLS FIRST, day NULLS FIRST""")
    }),

    // ── cohort retention: first-seen-day cohorts × active-day offsets ─────
    "events_retention" -> ((s, d) => {
      graft.operators.EventAnalytics.retention(t(s, d, "events"),
          "user_id", "ts")
        .orderBy(col("cohort_day"), col("day_offset"))
    }),

    // ── k-means fixed-point audit: fit to the exact assignment fixed
    //    point, then emit cells whose centroid is NOT the mean of its
    //    members (Lloyd's invariant) — 0-row oracle. A non-converged fit
    //    emits a marker row so the gate fails loudly instead of passing
    //    vacuously. Cluster sizes/inertia are hash-defined and pinned in
    //    KMeansSpec. ────────────────────────────────────────────────────────
    "emb_kmeans_audit" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val model = graft.operators.KMeansCluster.fit(emb, "embedding", k = 8)
      if (!model.converged) Seq((-1, -1.0)).toDF("cell", "max_err")
      else graft.operators.KMeansCluster
        .fixedPointViolations(emb, "embedding", model)
        .orderBy(col("cell"))
    }),

    // ── skew: salted two-level aggregation (== plain groupBy, oracle) ─────
    "skew_salted_agg" -> ((s, d) => {
      graft.operators.Skew.saltedSumCount(t(s, d, "lineitem"),
          Seq("l_returnflag"), "l_quantity", salts = 16)
        .select(col("l_returnflag"),
          round(col("sum_l_quantity"), 2).as("sum_qty"), col("cnt"))
        .orderBy(col("l_returnflag"))
    }),

    // ── skew: salted replicated join (== plain inner join, oracle) ────────
    "skew_salted_join" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_quantity"))
      val part = t(s, d, "part").select(col("p_partkey").as("pk"),
        col("p_name"))
      graft.operators.Skew.saltedJoin(li, part, "pk", salts = 8)
        .groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"),
          min(col("p_name")).as("p_name"))
        .orderBy(col("pk"))
    }),

    // ── Bloom-pre-filtered semi join: output == plain semi join (the
    //    filter's false positives are removed by the exact join), but the
    //    probe-side shuffle carries only survivors ──────────────────────────
    "j_bloom_semi" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val smallParts = t(s, d, "part").filter(col("p_size") <= 5)
        .select(col("p_partkey"))
      graft.operators.BloomJoin.semiJoin(
          li.select(col("l_partkey").as("p_partkey"), col("l_quantity")),
          smallParts, "p_partkey", expectedKeys = 100000L)
        .groupBy(col("p_partkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
        .orderBy(col("p_partkey"))
    }),

    // ── semi-structured extraction: JSON props column → typed fields,
    //    aggregated (get_json_object is codegen'd; the scan still prunes
    //    to the two referenced columns) ─────────────────────────────────────
    "events_props_json" -> ((s, d) => {
      t(s, d, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n"),
          round(avg(col("k")), 4).as("avg_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }),

    // ── Spark 4 VARIANT path for semi-structured payloads: parse_json
    //    ONCE into the binary variant encoding, then typed variant_get
    //    access — the scale-correct shape when several fields are
    //    extracted from one payload (one parse, n cheap typed reads,
    //    vs get_json_object re-parsing the string per field). Here the
    //    extracted value feeds a GROUPING key (decade histogram), so the
    //    variant column must stay pruned out of the shuffle — only
    //    (event_type, k) travel. ───────────────────────────────────────────
    "events_props_variant" -> ((s, d) => {
      t(s, d, "events")
        .select(col("event_type"), parse_json(col("props")).as("v"))
        .select(col("event_type"),
          variant_get(col("v"), "$.k", "int").as("k"))
        .groupBy(col("event_type"),
          floor(col("k") / 10).cast("int").as("k_decade"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"))
        .orderBy(col("event_type"), col("k_decade"))
    }),

    // ── hour-of-week seasonal profile: cross-week seasonality per event
    //    type (the baseline a seasonal anomaly detector subtracts). Two
    //    aggs: hourly grain first (map-side combinable — events never
    //    shuffle at full grain), then the 168-bucket profile; the second
    //    exchange moves only hour-bucketed rows. ────────────────────────────
    "events_seasonal_profile" -> ((s, d) => {
      val hourly = t(s, d, "events")
        .select(col("event_type"),
          ((dayofweek(col("ts")) - 1) * 24 + hour(col("ts"))).as("how"),
          date_trunc("hour", col("ts")).as("h"))
        .groupBy(col("event_type"), col("how"), col("h"))
        .agg(count(lit(1)).as("n"))
      hourly.groupBy(col("event_type"), col("how"))
        .agg(count(lit(1)).as("n_hours"), sum(col("n")).as("n_events"),
          round(sum(col("n")).cast("double") / count(lit(1)), 4)
            .as("avg_per_hour"))
        .orderBy(col("event_type"), col("how"))
    }),

    // ── multimodal: opaque binary column + deterministic feature stub ─────
    "multimodal_features" -> ((s, d) => {
      graft.operators.Multimodal
        .features(t(s, d, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes")),
          "doc_id", "bytes")
        .orderBy(col("doc_id"))
    }),

    // ── multimodal AUDIO features through the REAL WAV codec: per-doc
    //    PCM16 bytes synthesized IN-PLAN (square wave, amp (doc_id%9+1)/10,
    //    n_chars samples @ 8 kHz) → encodePcm16 → decode → features. The
    //    oracle computes every expected feature in CLOSED FORM from the
    //    table columns (rms/peak = amp·1000 after PCM16 quantization —
    //    verified to round exactly for all 9 amp levels; zcr = 1000 for a
    //    sign-alternating signal; duration = floor(n·1000/8000)) — full
    //    byte-level encode→decode→feature parity without DuckDB ever
    //    seeing a WAV. ──────────────────────────────────────────────────────
    "multimodal_audio_features" -> ((s, d) => {
      val synth = udf((id: Long, n: Int) => {
        val amp = ((id % 9) + 1).toFloat / 10.0f
        graft.functions.WavCodec.encodePcm16(8000,
          Array.tabulate(math.max(2, n))(i =>
            if (i % 2 == 0) amp else -amp))
      })
      graft.operators.Multimodal.audioFeatures(
          t(s, d, "documents")
            .select(col("doc_id"),
              synth(col("doc_id"), col("n_chars")).as("bytes")),
          "doc_id", "bytes")
        .orderBy(col("doc_id"))
    }),

    // ── multimodal VIDEO metadata through the REAL AVI codec: per-doc
    //    containers synthesized IN-PLAN ((doc_id%3+1) PGM frames, 16×16,
    //    40 ms/frame) → AviCodec.encode → decodeInfo. Closed-form oracle
    //    (25000 milli-fps, declared = actual = doc_id%3+1). ─────────────────
    "multimodal_video_meta" -> ((s, d) => {
      val synth = udf((id: Long) => {
        val nf = ((id % 3) + 1).toInt
        val frame = "P5 16 16 255\n".getBytes("US-ASCII") ++
          Array.tabulate(256)(i => (((i * 7 + id) % 256) & 0xff).toByte)
        graft.functions.AviCodec.encode(16, 16, 40000,
          Seq.fill(nf)(frame))
      })
      graft.operators.Multimodal.videoMeta(
          t(s, d, "documents")
            .select(col("doc_id"), synth(col("doc_id")).as("bytes")),
          "doc_id", "bytes")
        .orderBy(col("doc_id"))
    }),

    // ── multimodal AUDIO near-dup pairs, FULL-oracle: docs sharing a
    //    (doc_id % 50) group get byte-identical synthesized WAVs →
    //    identical energy-contour fingerprints → the banded LSH pair
    //    generator must emit EXACTLY the same-group pairs at Hamming 0
    //    (identical hashes always collide; cross-group patterns are
    //    20-segment seeded-random contours, so a ≤3-bit collision is
    //    ~2^-40 per pair — the pair set is closed-form). Drives the
    //    audio fingerprint + LSH reuse end-to-end under the driver gate. ───
    "multimodal_audio_pairs" -> ((s, d) => {
      val synth = udf((g: Long) => {
        val r = new scala.util.Random(g * 7919L + 13L)
        // 64 seeded-random segments over 1600 samples ≈ one per contour
        // frame — nearly every fingerprint bit is an independent
        // level-comparison, so cross-group contours differ in ~32 bits
        // (20 coarse segments left most bits as uninformative equal-
        // energy zeros and two groups collided within 3 bits)
        val levels = Array.fill(64)(0.1f + r.nextInt(8) * 0.1f)
        graft.functions.WavCodec.encodePcm16(8000,
          Array.tabulate(1600) { i =>
            val a = levels(math.min(63, i / 25))
            if (i % 2 == 0) a else -a
          })
      })
      val hashed = graft.operators.Multimodal.audioFingerprints(
        t(s, d, "documents")
          .select(col("doc_id"), synth(col("doc_id") % 50).as("bytes")),
        "doc_id", "bytes")
      graft.operators.Multimodal.phashNearDupPairs(hashed, "doc_id",
          maxHamming = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("int").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── multimodal VIDEO near-dup pairs, FULL-oracle (the audio_pairs
    //    construction on the video axis): same-group docs get identical
    //    single-frame AVIs whose frame is a seeded-random 16×16 raster —
    //    cross-group dHashes differ in ~32 bits, so the pair set is
    //    exactly the same-group pairs at Hamming 0. ─────────────────────────
    "multimodal_video_pairs" -> ((s, d) => {
      val synth = udf((g: Long) => {
        val r = new scala.util.Random(g * 104729L + 7L)
        val frame = "P5 16 16 255\n".getBytes("US-ASCII") ++
          Array.fill(256)((r.nextInt(256) & 0xff).toByte)
        graft.functions.AviCodec.encode(16, 16, 40000, Seq(frame))
      })
      val hashed = graft.operators.Multimodal.videoFingerprints(
        t(s, d, "documents")
          .select(col("doc_id"), synth(col("doc_id") % 50).as("bytes")),
        "doc_id", "bytes")
      graft.operators.Multimodal.phashNearDupPairs(hashed, "doc_id",
          maxHamming = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("int").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── multimodal VIDEO frame sampling through the real container: the
    //    synthesized (doc_id%3+1)-frame AVIs again, every-2nd frame
    //    exploded; the oracle replays the sampling arithmetic (indices
    //    0,2,… and the fixed 269-byte PGM payload size) in closed form ─────
    "multimodal_video_frames" -> ((s, d) => {
      val synth = udf((id: Long) => {
        val nf = ((id % 3) + 1).toInt
        val frame = "P5 16 16 255\n".getBytes("US-ASCII") ++
          Array.tabulate(256)(i => (((i * 7 + id) % 256) & 0xff).toByte)
        graft.functions.AviCodec.encode(16, 16, 40000,
          Seq.fill(nf)(frame))
      })
      graft.operators.Multimodal.videoFrameSample(
          t(s, d, "documents")
            .select(col("doc_id"), synth(col("doc_id")).as("bytes")),
          "doc_id", "bytes", every = 2)
        .select(col("doc_id"), col("frame_idx"),
          octet_length(col("frame_bytes")).as("n_bytes"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // ── multimodal frame sampling: one row per sampled frame (stub codec,
    //    real per-partition flatMap plumbing); the slicing arithmetic is
    //    oracle-checked, slice CONTENT re-assembly is spec-checked ──────────
    "multimodal_frames" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents")
        .select(col("doc_id").as("id"), encode(col("text"), "UTF-8").as("bytes"))
        .as[graft.operators.Multimodal.MediaRecord]
      graft.operators.Multimodal.sampleFrames(media, every = 2)
        .toDF("doc_id", "frame_idx", "frame_bytes")
        .select(col("doc_id"), col("frame_idx"),
          octet_length(col("frame_bytes")).as("n_bytes"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // ── image near-dup by perceptual hash: deterministic 16×16 PGM images
    //    rendered from doc bytes → real ImageCodec pixel decode → 64-bit
    //    dHash → 4-band LSH candidates → codegen'd bit_count verify. The
    //    hash is engine-defined (no SQL oracle); the exact sf0.001 pair
    //    set is pinned in GoldenValuesSpec, and identical payloads must
    //    surface as hamming-0 pairs (the exact-dup docs in testdata). ─────
    "multimodal_phash_pairs" -> ((s, d) =>
      DigestGate.digestRow(multimodalPhashPairsFull(s, d))),

    // ── image dedup ACTION: phash pairs → connected components → keep the
    //    smallest id per cluster (the text-LSH apply pattern on the image
    //    axis; survivors anti-join on ids only). Engine-defined pair set →
    //    DigestGate constant; survivor set pinned at sf0.001 in
    //    GoldenValuesSpec.
    "multimodal_phash_apply" -> ((s, d) =>
      DigestGate.digestRow(multimodalPhashApplyFull(s, d)))
  )

  /** Full (undigested) outputs of the DigestGate-gated queries — the
    * operator surface users call and the forms GoldenValuesSpec pins;
    * the `queries` map wraps each in [[DigestGate.digestRow]]. */
  def dedupSimhashFull(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text",
        maxHamming = 3)
      .orderBy(col("id_a"), col("id_b"))

  def dedupSourceOverlapFull(s: SparkSession, d: String): DataFrame = {
    val sigs = Dedup.groupSignatures(t(s, d, "documents"),
      "doc_id", "text", "source", n = 3, k = 64)
    Dedup.groupOverlap(sigs)
      .select(col("grp_a"), col("grp_b"),
        round(col("est_jaccard"), 4).as("est_jaccard"))
      .orderBy(col("grp_a"), col("grp_b"))
  }

  def docsFingerprintRollingFull(s: SparkSession, d: String): DataFrame =
    TextAnalysis.rollingFingerprintFrame(t(s, d, "documents"),
        "doc_id", "text")
      .orderBy(col("doc_id"))

  def docsGzipRatioFull(s: SparkSession, d: String): DataFrame =
    TextAnalysis.gzipRatioFrame(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  def multimodalPhashPairsFull(s: SparkSession, d: String): DataFrame =
    docPhashPairs(s, d).orderBy(col("id_a"), col("id_b"))

  def multimodalPhashApplyFull(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    graft.operators.Dedup.dropNearDuplicates(docs, "doc_id",
        docPhashPairs(s, d).select(col("id_a"), col("id_b")))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Shared by the phash pair and apply queries: deterministic 16×16 PGM
    * images rendered from doc bytes → real ImageCodec pixel decode →
    * 64-bit dHash → 4-band LSH candidate pairs (Hamming ≤ 3). */
  private def docPhashPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val imgs = t(s, d, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val b = text.getBytes("UTF-8")
        val header = "P5 16 16 255\n".getBytes("US-ASCII")
        val px = Array.tabulate(256)(i =>
          if (b.isEmpty) 0.toByte else b(i % b.length))
        (id, header ++ px)
      }.toDF("doc_id", "bytes")
    val hashed = graft.operators.Multimodal
      .perceptualHash(imgs, "doc_id", "bytes")
    graft.operators.Multimodal
      .phashNearDupPairs(hashed, "doc_id", maxHamming = 3)
  }

  /** In-row DuckDB replay of [[TextAnalysis.gopherRepetition]]: per n the
    * gram list, multiplicities via nested list_filter, the top pick by
    * (count desc, gram asc), and dup coverage as the position set whose
    * covering window contains any duplicated gram start. Generated per n
    * so engine and oracle stay parameter-for-parameter aligned. */
  private def gopherRepetitionOracle: String = {
    val topNs = Seq(2, 3, 4); val dupNs = Seq(5, 10)
    val gramCols = (topNs ++ dupNs).distinct.sorted.map(n =>
      s"""CASE WHEN m >= $n THEN
         |  [array_to_string(ws[i:i+${n - 1}], ' ')
         |   FOR i IN range(1, m - $n + 2)]
         |  ELSE CAST([] AS VARCHAR[]) END AS gr$n""".stripMargin)
      .mkString(",\n")
    val dupSetCols = dupNs.map(n =>
      s"""[x FOR x IN list_distinct(gr$n)
         |  IF len(list_filter(gr$n, y -> y = x)) > 1] AS ds$n"""
        .stripMargin).mkString(",\n")
    val topExprs = topNs.map(n =>
      s"""CASE WHEN tc > 0 AND len(gr$n) > 0 THEN
         |  round(list_max([len(list_filter(gr$n, y -> y = x))
         |      FOR x IN gr$n]) *
         |    len(replace(list_aggregate(
         |      [x FOR x IN gr$n
         |       IF len(list_filter(gr$n, y -> y = x)) =
         |         list_max([len(list_filter(gr$n, z -> z = w))
         |           FOR w IN gr$n])], 'min'), ' ', ''))::DOUBLE / tc, 4)
         |  ELSE 0.0 END AS top_${n}gram_frac""".stripMargin)
    val dupExprs = dupNs.map(n =>
      s"""CASE WHEN tc > 0 THEN
         |  round(coalesce(list_sum([len(ws[i]) FOR i IN range(1, m + 1)
         |    IF len([j FOR j IN range(greatest(1, i - $n + 1),
         |      least(i, m - $n + 1) + 1)
         |      IF list_contains(ds$n, gr$n[j])]) > 0]), 0)::DOUBLE
         |    / tc, 4)
         |  ELSE 0.0 END AS dup_${n}gram_frac""".stripMargin)
    s"""WITH b AS (
       |  SELECT doc_id,
       |  [x FOR x IN string_split_regex(text, '\\s+') IF len(x) > 0] AS ws
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, ws, len(ws) AS m,
       |  coalesce(CAST(list_sum([len(x) FOR x IN ws]) AS BIGINT), 0) AS tc
       |  FROM b),
       |g AS (
       |  SELECT doc_id, ws, m, tc,
       |$gramCols
       |  FROM c),
       |d AS (
       |  SELECT *,
       |$dupSetCols
       |  FROM g)
       |SELECT doc_id,
       |${(topExprs ++ dupExprs).mkString(",\n")}
       |FROM d ORDER BY doc_id""".stripMargin
  }

  // shared by the pair oracle and the clusters oracle (which closes the
  // same pairs transitively with a recursive CTE)
  /** Winnow-pairs oracle over an arbitrary (doc_id, text) source query —
    * shared by the plain and the skew-stressed gate (which rebuilds 30%
    * of docs with [[WinnowBoiler]] appended). Replays the full MOSS
    * pipeline INCLUDING the df ≤ 100 ubiquitous-fingerprint cap the
    * engine applies ([[TextAnalysis.winnowCandidatePairs]]); the
    * all-windows O(n·w) form exists only here. */
  private def winnowPairsOracle(docsSql: String): String =
    s"""WITH docs AS ($docsSql),
      |toks AS (
      |  SELECT doc_id,
      |  [x FOR x IN string_split_regex(lower(text), '\\s+')
      |    IF len(x) > 0] AS ws
      |  FROM docs),
      |pos AS (
      |  SELECT doc_id, CAST(unnest(range(len(ws) - 3)) AS INT) AS pos,
      |  ws FROM toks WHERE len(ws) >= 4),
      |sh AS (
      |  SELECT doc_id, pos,
      |  ('0x' || substr(md5(array_to_string(ws[pos+1:pos+4], ' ')),
      |    1, 8))::BIGINT AS h
      |  FROM pos),
      |wins AS (
      |  SELECT a.doc_id, a.pos AS s, b.pos AS p, b.h
      |  FROM sh a JOIN sh b ON a.doc_id = b.doc_id
      |    AND b.pos >= a.pos AND b.pos < a.pos + 5),
      |full_w AS (
      |  SELECT doc_id, s FROM wins GROUP BY 1, 2 HAVING count(*) = 5),
      |rk AS (
      |  SELECT w.doc_id, w.s, w.p, w.h,
      |  row_number() OVER (PARTITION BY w.doc_id, w.s
      |    ORDER BY w.h, w.p) AS rk
      |  FROM wins w JOIN full_w USING (doc_id, s)),
      |fp AS (SELECT DISTINCT doc_id, p, h FROM rk WHERE rk = 1),
      |keep AS (SELECT h FROM fp GROUP BY h
      |  HAVING count(DISTINCT doc_id) <= 100),
      |fpk AS (SELECT fp.doc_id, fp.p, fp.h FROM fp JOIN keep USING (h))
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |CAST(count(DISTINCT a.h) AS BIGINT) AS shared
      |FROM fpk a JOIN fpk b ON a.h = b.h AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING count(DISTINCT a.h) >= 3
      |ORDER BY id_a, id_b""".stripMargin

  /** Stupid-backoff per-trigram scoring CTE chain (through the
    * per-doc-summable `s` frame) — shared by the docs_sbo_score
    * oracle and the CCNet bucket oracle so the two replays cannot
    * drift. */
  private val sboScoreCtes: String =
    """toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |ref AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
        |n AS (SELECT CAST(sum(len(ws)) AS BIGINT) AS n_total FROM ref),
        |c1 AS (SELECT g, CAST(count(*) AS BIGINT) AS c1 FROM (
        |  SELECT unnest(ws) AS g FROM ref) GROUP BY 1),
        |c2 AS (SELECT g, CAST(count(*) AS BIGINT) AS c2 FROM (
        |  SELECT unnest([array_to_string(ws[i+1:i+2], ' ')
        |    FOR i IN range(len(ws) - 1)]) AS g
        |  FROM ref WHERE len(ws) >= 2) GROUP BY 1),
        |c3 AS (SELECT g, CAST(count(*) AS BIGINT) AS c3 FROM (
        |  SELECT unnest([array_to_string(ws[i+1:i+3], ' ')
        |    FOR i IN range(len(ws) - 2)]) AS g
        |  FROM ref WHERE len(ws) >= 3) GROUP BY 1),
        |dt AS (
        |  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS m FROM (
        |    SELECT doc_id, unnest([array_to_string(ws[i+1:i+3], ' ')
        |      FOR i IN range(len(ws) - 2)]) AS g
        |    FROM toks WHERE len(ws) >= 3) GROUP BY 1, 2),
        |sc AS (
        |  SELECT dt.doc_id, dt.m,
        |  coalesce(c3.c3, 0) AS c3v, c2a.c2 AS c2ab,
        |  coalesce(c2b.c2, 0) AS c2bc, c1b.c1 AS c1b,
        |  coalesce(c1c.c1, 0) AS c1c
        |  FROM (SELECT *, string_split(g, ' ') AS p FROM dt) dt
        |  LEFT JOIN c3 ON dt.g = c3.g
        |  LEFT JOIN c2 c2a ON array_to_string(dt.p[1:2], ' ') = c2a.g
        |  LEFT JOIN c2 c2b ON array_to_string(dt.p[2:3], ' ') = c2b.g
        |  LEFT JOIN c1 c1b ON dt.p[2] = c1b.g
        |  LEFT JOIN c1 c1c ON dt.p[3] = c1c.g),
        |s AS (
        |  SELECT doc_id, m,
        |  m * CAST(round((CASE WHEN c3v > 0
        |      THEN CAST(c3v AS DOUBLE) / c2ab
        |      ELSE 0.4 * (CASE WHEN c2bc > 0
        |        THEN CAST(c2bc AS DOUBLE) / c1b
        |        ELSE 0.4 * CAST(c1c AS DOUBLE) / (SELECT n_total FROM n)
        |        END) END) * 1e6) AS BIGINT) AS sm,
        |  CASE WHEN c3v > 0 THEN m ELSE 0 END AS mh
        |  FROM sc)""".stripMargin

  private val ngramShingleCtes: String =
    """toks AS (
      |  SELECT doc_id,
      |  [x FOR x IN string_split_regex(lower(text), '\s+') IF len(x) > 0]
      |    AS tk
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, sg FROM (
      |    SELECT doc_id,
      |    unnest([array_to_string(tk[i:i+2], ' ')
      |            FOR i IN range(1, len(tk) - 1)]) AS sg
      |    FROM toks WHERE len(tk) >= 3)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)"""
      .stripMargin

  private[queries] val ngramPairCtes: String =
    s"""$ngramShingleCtes,
      |common AS (
      |  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
      |  FROM sh a JOIN sh b ON a.sg = b.sg AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  private val containmentOracle: String =
    s"""WITH $ngramPairCtes,
      |dir AS (
      |  SELECT ida AS id_a, idb AS id_b, c FROM common
      |  UNION ALL SELECT idb, ida, c FROM common)
      |SELECT id_a, id_b, round(c * 1.0 / sa.n, 4) AS containment
      |FROM dir JOIN sizes sa ON id_a = sa.doc_id
      |WHERE c * 1.0 / sa.n >= 0.9
      |ORDER BY id_a, id_b""".stripMargin

  private val incrementalPairsOracle: String =
    s"""WITH $ngramShingleCtes,
      |common AS (
      |  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
      |  FROM sh a JOIN sh b ON a.sg = b.sg
      |  WHERE a.doc_id >= 400 AND b.doc_id < 400
      |  GROUP BY 1, 2)
      |SELECT ida AS new_id, idb AS corpus_id,
      |round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
      |FROM common
      |JOIN sizes sa ON ida = sa.doc_id
      |JOIN sizes sb ON idb = sb.doc_id
      |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
      |ORDER BY new_id, corpus_id""".stripMargin

  private val ngramJaccardOracle: String =
    s"""WITH $ngramPairCtes
      |SELECT ida AS id_a, idb AS id_b,
      |round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
      |FROM common
      |JOIN sizes sa ON ida = sa.doc_id
      |JOIN sizes sb ON idb = sb.doc_id
      |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  private val dedupClustersOracle: String =
    s"""WITH RECURSIVE $ngramPairCtes,
      |pairs AS (
      |  SELECT ida AS a, idb AS b FROM common
      |  JOIN sizes sa ON ida = sa.doc_id
      |  JOIN sizes sb ON idb = sb.doc_id
      |  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
      |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
      |reach AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
      |SELECT a AS id, least(a, min(b)) AS comp
      |FROM reach GROUP BY a ORDER BY id""".stripMargin

  private val dedupSoftWeightsOracle: String =
    s"""WITH RECURSIVE $ngramPairCtes,
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
      |comp AS (SELECT a AS id, least(a, min(b)) AS comp
      |  FROM reach GROUP BY a),
      |cs AS (SELECT comp, CAST(count(*) AS BIGINT) AS n
      |  FROM comp GROUP BY comp)
      |SELECT d.doc_id,
      |CAST(COALESCE(cs.n, 1) AS BIGINT) AS cluster_size,
      |CAST(1.0 AS DOUBLE) / COALESCE(cs.n, 1) AS weight
      |FROM documents d
      |LEFT JOIN comp ON d.doc_id = comp.id
      |LEFT JOIN cs ON comp.comp = cs.comp
      |ORDER BY d.doc_id""".stripMargin

  private val dedupApplyOracle: String =
    s"""WITH RECURSIVE $ngramPairCtes,
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
      |  HAVING least(a, min(b)) <> a)
      |SELECT doc_id, source FROM documents
      |WHERE doc_id NOT IN (SELECT id FROM losers)
      |ORDER BY doc_id""".stripMargin

  private val cosinePairsOracle: String =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |round(list_cosine_similarity(a.embedding::DOUBLE[],
      |  b.embedding::DOUBLE[]), 6) AS cosine
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.embedding::DOUBLE[],
      |  b.embedding::DOUBLE[]) >= 0.3
      |ORDER BY id_a, id_b""".stripMargin

  private val langScoresSql: String =
    """len([t FOR t IN tk IF t IN ('the','and','of','to','in','is','a')]) AS s_en,
      |len([t FOR t IN tk IF t IN ('el','la','de','que','y','en','los')]) AS s_es,
      |len([t FOR t IN tk IF t IN ('der','die','und','das','ist','nicht','ein')]) AS s_de,
      |len([t FOR t IN tk IF t IN ('le','la','les','et','des','un','est')]) AS s_fr,
      |len([t FOR t IN tk IF t IN ('的','是','不','了','在','我','有')]) AS s_zh""".stripMargin

  val oracles: Map[String, String] = Map(
    "k1_cosine_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
        |  WHERE vec_id = 0)
        |SELECT e.vec_id,
        |round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 6) AS score
        |FROM embeddings e, q
        |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,

    "sql_cosine_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
        |  WHERE vec_id = 0)
        |SELECT e.vec_id,
        |round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 6) AS score
        |FROM embeddings e, q
        |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,

    "k1_topk_per_query" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS id,
        |  list_cosine_similarity(e.embedding::DOUBLE[], q.qe) AS raw
        |  FROM embeddings e, q),
        |ranked AS (
        |  SELECT query_id, id, raw,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY raw DESC, id) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, id, round(raw, 6) AS score, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,

    "k1_topk_heap" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS id,
        |  list_cosine_similarity(e.embedding::DOUBLE[], q.qe) AS raw
        |  FROM embeddings e, q),
        |ranked AS (
        |  SELECT query_id, id, raw,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY raw DESC, id) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, id, round(raw, 6) AS score, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,

    "k1_topk_heap_100q" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        |  FROM embeddings WHERE vec_id < 100),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS id,
        |  list_cosine_similarity(e.embedding::DOUBLE[], q.qe) AS raw
        |  FROM embeddings e, q),
        |ranked AS (
        |  SELECT query_id, id, raw,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY raw DESC, id) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, id, round(raw, 6) AS score, rank
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "emb_cosine_pairs" -> cosinePairsOracle,
    "emb_cosine_pairs_lsh" -> cosinePairsOracle,

    "k1_filtered_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
        |  WHERE vec_id = 0)
        |SELECT e.vec_id,
        |round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 6) AS score
        |FROM embeddings e, q WHERE e.label = 1
        |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,

    "emb_normalize" ->
      """SELECT vec_id, CAST(pos AS INT) AS pos, x FROM (
        |  SELECT vec_id,
        |  unnest(range(len(embedding))) AS pos,
        |  unnest([round(x / sqrt(list_sum([y*y FOR y IN embedding::DOUBLE[]])),
        |    4) + 0.0 FOR x IN embedding::DOUBLE[]]) AS x
        |  FROM embeddings)
        |ORDER BY vec_id, pos""".stripMargin,

    "emb_quantize" ->
      """SELECT vec_id,
        |round(list_max([abs(x) FOR x IN embedding::DOUBLE[]]) / 127, 6)
        |  AS scale,
        |TRUE AS within_bound
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "emb_lsh_recall" ->
      """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
        |CAST(NULL AS DOUBLE) AS cosine WHERE FALSE""".stripMargin,

    "dedup_simhash_recall" ->
      """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
        |CAST(NULL AS DOUBLE) AS jaccard WHERE FALSE""".stripMargin,

    "emb_semantic_precision" ->
      """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
        |CAST(NULL AS DOUBLE) AS cosine WHERE FALSE""".stripMargin,

    "docs_rolling_audit" ->
      """SELECT CAST(NULL AS BIGINT) AS doc_id,
        |CAST(NULL AS BIGINT) AS fp_rolling, CAST(NULL AS BIGINT) AS fp_expr
        |WHERE FALSE""".stripMargin,

    "dedup_lsh_skew_audit" ->
      """SELECT CAST(NULL AS BIGINT) AS bucket, CAST(NULL AS BIGINT) AS n
        |WHERE FALSE""".stripMargin,

    "pipeline_tfrecord_roundtrip" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |  [x FOR x IN string_split_regex(lower(text), '\s+')
        |    IF len(x) > 0] AS ws
        |  FROM documents)
        |SELECT doc_id, 1 AS n_frames, text AS payload,
        |CAST(len(ws) AS BIGINT) AS n_tokens,
        |CAST(list_sum([len(x) FOR x IN ws]) AS BIGINT) AS sum_token_lens
        |FROM toks ORDER BY doc_id""".stripMargin,

    "docs_url_canonical" ->
      """SELECT doc_id,
        |'HTTP://Example' || (doc_id % 20) || '.COM:80/path/' || doc_id
        |  || CASE doc_id % 4
        |     WHEN 0 THEN '?utm_source=x&id=' || doc_id
        |     WHEN 1 THEN '?id=' || doc_id || '&utm_campaign=c&ref=y'
        |     WHEN 2 THEN '#frag' ELSE '' END AS url,
        |'http://example' || (doc_id % 20) || '.com/path/' || doc_id
        |  || CASE doc_id % 4
        |     WHEN 0 THEN '?id=' || doc_id
        |     WHEN 1 THEN '?id=' || doc_id || '&ref=y'
        |     ELSE '' END AS canonical_url
        |FROM documents ORDER BY doc_id""".stripMargin,

    "docs_url_domains" ->
      """WITH h AS (
        |  SELECT doc_id,
        |  CASE doc_id % 5
        |    WHEN 0 THEN 'www.example' || (doc_id % 7) || '.com'
        |    WHEN 1 THEN 'a.b.site' || (doc_id % 3) || '.co.uk'
        |    WHEN 2 THEN 'deep.x.portal.com.br'
        |    WHEN 3 THEN 'localhost'
        |    ELSE 'cdn.static.example.org' END AS host,
        |  CASE doc_id % 5
        |    WHEN 0 THEN 'example' || (doc_id % 7) || '.com'
        |    WHEN 1 THEN 'site' || (doc_id % 3) || '.co.uk'
        |    WHEN 2 THEN 'portal.com.br'
        |    WHEN 3 THEN 'localhost'
        |    ELSE 'example.org' END AS domain
        |  FROM documents)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
        |FROM h GROUP BY domain ORDER BY domain""".stripMargin,

    "docs_warc_roundtrip" ->
      """SELECT doc_id, 0 AS rec_idx, 'warcinfo' AS warc_type,
        |'' AS target_uri, '' AS refers_to,
        |CAST(17 AS BIGINT) AS content_length,
        |'software: graft' || chr(13) || chr(10) AS payload
        |FROM documents
        |UNION ALL
        |SELECT doc_id, 1, 'response',
        |'http://example.org/doc/' || doc_id, '',
        |CAST(octet_length(encode(text)) AS BIGINT), text FROM documents
        |ORDER BY doc_id, rec_idx""".stripMargin,

    "vocab_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest([x FOR x IN string_split_regex(lower(text), '\s+')
        |    IF len(x) > 0]) AS tok
        |  FROM documents),
        |n AS (SELECT count(*) AS n_total FROM toks)
        |SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        |FROM toks, n GROUP BY tok, n.n_total
        |HAVING count(*) * 64 > n.n_total
        |ORDER BY cnt DESC, tok""".stripMargin,

    "a_group_topk" ->
      """SELECT event_type, CAST(rk AS INT) AS rank, event_id, value
        |FROM (
        |  SELECT event_type, event_id, value,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY value DESC, event_id) AS rk
        |  FROM events WHERE value IS NOT NULL)
        |WHERE rk <= 5 ORDER BY event_type, rank""".stripMargin,

    // DigestGate constants (engine-defined outputs, deterministic —
    // captured per SF and stability-checked across partitionings: every
    // pin agreed between a 4-way and a 32-way run before landing; full
    // outputs pinned at sf0.001 in GoldenValuesSpec). Keyed by lineitem
    // count = 6000 / 60000 / 600000 for sf0.001 / 0.01 / 0.1, so the
    // three-SF replay is full-strength at every scale factor.
    "dedup_simhash" ->
      DigestGate.oracleBySf(Map(
        6000L -> ("-20126744770507891241", 30L),
        60000L -> ("36934031300203723924", 27L),
        600000L -> ("226882958754801535032", 927L))),
    "dedup_source_overlap" ->
      DigestGate.oracleBySf(Map(
        6000L -> ("79219567938623499008", 190L),
        60000L -> ("-4431174007424636817", 190L),
        600000L -> ("-21746055300684042748", 190L))),
    "docs_fingerprint_rolling" ->
      DigestGate.oracleBySf(Map(
        6000L -> ("138235955207878988698", 500L),
        60000L -> ("-50340563749224009589", 500L),
        600000L -> ("585158246913188018369", 5000L))),
    "docs_gzip_ratio" ->
      DigestGate.oracleBySf(Map(
        6000L -> ("-6069504248247985191", 500L),
        60000L -> ("231570381743974535899", 500L),
        600000L -> ("-118798701769929606589", 5000L))),
    "multimodal_phash_pairs" ->
      DigestGate.oracleBySf(Map(
        6000L -> ("-12828245317483882647", 19L),
        60000L -> ("-11651530161756600003", 14L),
        600000L -> ("15040105816544848202", 164L))),
    "multimodal_phash_apply" ->
      DigestGate.oracleBySf(Map(
        6000L -> ("-87900742768145256853", 484L),
        60000L -> ("-66487331316589846895", 487L),
        600000L -> ("-285628830509313898618", 4844L))),

    "ann_ivf_dominance" ->
      """SELECT CAST(NULL AS INT) AS rank, CAST(NULL AS DOUBLE) AS exact_score,
        |CAST(NULL AS DOUBLE) AS approx_score WHERE FALSE""".stripMargin,

    "ann_ivf_recall" ->
      """SELECT CAST(NULL AS BIGINT) AS k, CAST(NULL AS BIGINT) AS hits,
        |CAST(NULL AS DOUBLE) AS recall WHERE FALSE""".stripMargin,

    "dedup_overlap_audit" ->
      """WITH toks AS (
        |  SELECT source,
        |  [x FOR x IN string_split_regex(lower(text), '\s+') IF len(x) > 0]
        |    AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT source, sg FROM (
        |    SELECT source,
        |    unnest([array_to_string(tk[i:i+2], ' ')
        |            FOR i IN range(1, len(tk) - 1)]) AS sg
        |    FROM toks WHERE len(tk) >= 3)),
        |sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
        |pairs AS (
        |  SELECT a.source AS grp_a, b.source AS grp_b, a.n AS na, b.n AS nb
        |  FROM sizes a JOIN sizes b ON a.source < b.source),
        |common AS (
        |  SELECT a.source AS grp_a, b.source AS grp_b, count(*) AS c
        |  FROM sh a JOIN sh b ON a.sg = b.sg AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT grp_a, grp_b,
        |round(coalesce(c, 0) * 1.0 / (na + nb - coalesce(c, 0)), 4)
        |  AS exact_jaccard,
        |TRUE AS within_tol
        |FROM pairs LEFT JOIN common USING (grp_a, grp_b)
        |ORDER BY grp_a, grp_b""".stripMargin,

    "ann_ivf_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
        |  WHERE vec_id = 0)
        |SELECT e.vec_id,
        |round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 6) AS score
        |FROM embeddings e, q
        |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,

    "ann_ivf_index_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
        |  WHERE vec_id = 0)
        |SELECT e.vec_id,
        |round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 6) AS score
        |FROM embeddings e, q
        |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,

    "dedup_ngram_jaccard" -> ngramJaccardOracle,
    "dedup_prefix_jaccard" -> ngramJaccardOracle,
    "dedup_minhash_lsh" -> ngramJaccardOracle,
    "dedup_incremental" -> incrementalPairsOracle,
    "dedup_containment" -> containmentOracle,
    "dedup_clusters" -> dedupClustersOracle,
    "dedup_soft_weights" -> dedupSoftWeightsOracle,

    "dedup_apply" -> dedupApplyOracle,
    // LSH candidates are exact-verified and recall-1 at the threshold gap,
    // so the scale path's survivors equal the exact form's.
    "dedup_apply_lsh" -> dedupApplyOracle,

    "sample_kfold" ->
      """SELECT doc_id,
        |CAST(('0x' || substring(md5(text), 1, 4))::INT % 5 AS INT)
        |  AS fold
        |FROM documents ORDER BY doc_id""".stripMargin,

    "sample_hash_split" ->
      """SELECT doc_id,
        |CASE WHEN substring(md5(text), 1, 2) < 'cd' THEN 'train'
        |     WHEN substring(md5(text), 1, 2) < 'e6' THEN 'val'
        |     ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "sample_per_group" ->
      """WITH r AS (
        |  SELECT source, doc_id,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(text), text) AS rk
        |  FROM documents)
        |SELECT source, doc_id FROM r WHERE rk <= 3
        |ORDER BY source, doc_id""".stripMargin,

    "pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |  CAST(len([x FOR x IN string_split_regex(lower(text), '\s+')
        |    IF len(x) > 0]) AS BIGINT) AS tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, tokens,
        |  CAST(sum(tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum
        |  FROM t)
        |SELECT doc_id, tokens,
        |(cum - tokens) // 512 AS start_seq,
        |CASE WHEN tokens = 0 THEN (cum - tokens) // 512
        |     ELSE (cum - 1) // 512 END AS end_seq
        |FROM c ORDER BY doc_id""".stripMargin,

    "decontaminate_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |  [x FOR x IN string_split_regex(lower(text), '\s+') IF len(x) > 0]
        |    AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, source, sg FROM (
        |    SELECT doc_id, source,
        |    unnest([array_to_string(tk[i:i+2], ' ')
        |            FOR i IN range(1, len(tk) - 1)]) AS sg
        |    FROM toks WHERE len(tk) >= 3)),
        |bench AS (SELECT DISTINCT sg FROM sh WHERE source = 'src0'),
        |corp AS (SELECT doc_id, sg FROM sh WHERE source <> 'src0')
        |SELECT doc_id, count(*) AS n_overlap
        |FROM corp JOIN bench USING (sg)
        |GROUP BY 1 HAVING count(*) >= 5
        |ORDER BY doc_id""".stripMargin,

    "docs_tfidf_top3" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |  unnest([x FOR x IN string_split_regex(lower(text), '\s+')
        |    IF len(x) > 0]) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, tf.term AS term,
        |  tf * ln(n * 1.0 / df) AS raw,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tf * ln(n * 1.0 / df) DESC, tf.term) AS INT) AS rank
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n)
        |SELECT doc_id, term, round(raw, 4) AS tfidf, rank
        |FROM scored WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    "docs_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS lines,
        |  [x FOR x IN string_split_regex(lower(text), '\s+') IF len(x) > 0]
        |    AS tk
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, lines,
        |  CASE WHEN len(tk) >= 2
        |    THEN [array_to_string(tk[i:i+1], ' ') FOR i IN range(1, len(tk))]
        |    ELSE [] END AS bg
        |  FROM t),
        |c AS (
        |  SELECT doc_id, len(lines) AS nl, len(list_distinct(lines)) AS dl,
        |  len(bg) AS nb,
        |  CASE WHEN len(bg) > 0
        |    THEN len([x FOR x IN bg IF x = list_aggregate(bg, 'mode')])
        |    ELSE 0 END AS tc
        |  FROM b)
        |SELECT doc_id, CAST(nl AS BIGINT) AS n_lines,
        |round(1 - dl * 1.0 / nl, 4) AS dup_line_frac,
        |CASE WHEN nb > 0 THEN round(tc * 1.0 / nb, 4) ELSE 0.0 END
        |  AS top_bigram_frac
        |FROM c ORDER BY doc_id""".stripMargin,

    "docs_scrub" ->
      """SELECT doc_id,
        |regexp_replace(regexp_replace(regexp_replace(text,
        |  'https?://[^\s]+', '<url>', 'g'),
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g'),
        |  '[0-9]+', '<num>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,

    // same card synthesis (lpad base + higher-order Luhn fold) and the
    // same right-indexed doubling arithmetic as the engine query
    "docs_luhn_mask" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |  lpad(CAST(doc_id * 7919 AS VARCHAR), 14, '4') AS base
        |  FROM documents),
        |s AS (SELECT doc_id, text, base,
        |  list_sum([CASE WHEN j % 2 = 0 THEN
        |      CASE WHEN CAST(base[14 - j] AS INT) * 2 > 9
        |           THEN CAST(base[14 - j] AS INT) * 2 - 9
        |           ELSE CAST(base[14 - j] AS INT) * 2 END
        |    ELSE CAST(base[14 - j] AS INT) END
        |    FOR j IN range(0, 14)]) AS s14
        |  FROM b),
        |t AS (SELECT doc_id,
        |  text || ' pay ' || base
        |    || CAST((10 - s14 % 10) % 10 AS VARCHAR)
        |    || ' ref ' || base
        |    || CAST(((10 - s14 % 10) % 10 + 1) % 10 AS VARCHAR) AS txt
        |  FROM s),
        |runs AS (SELECT doc_id, txt,
        |  [r FOR r IN regexp_extract_all(txt, '[0-9]+')
        |   IF len(r) BETWEEN 13 AND 19 AND
        |     list_sum([CASE WHEN i % 2 = 1 THEN
        |         CASE WHEN CAST(r[len(r) - i] AS INT) * 2 > 9
        |              THEN CAST(r[len(r) - i] AS INT) * 2 - 9
        |              ELSE CAST(r[len(r) - i] AS INT) * 2 END
        |       ELSE CAST(r[len(r) - i] AS INT) END
        |       FOR i IN range(0, len(r))]) % 10 = 0] AS cards
        |  FROM t)
        |SELECT doc_id, CAST(len(cards) AS INT) AS n_cards,
        |array_to_string(cards, ',') AS cards,
        |md5(list_reduce(list_prepend(txt,
        |  [s['v'] FOR s IN list_sort(
        |    [{'k': -len(r), 'v': r} FOR r IN cards])]),
        |  (a, b) -> replace(a, b, '[CARD]'))) AS masked_md5
        |FROM runs ORDER BY doc_id""".stripMargin,

    // groups by line TEXT where the engine groups by xxhash64(line) —
    // identical winners absent a 64-bit collision
    "docs_line_dedup" ->
      """WITH lines AS (
        |  SELECT doc_id, CAST(pos AS INT) AS pos, line FROM (
        |    SELECT doc_id,
        |      unnest(range(len(string_split(text, chr(10))))) AS pos,
        |      unnest(string_split(text, chr(10))) AS line
        |    FROM documents)
        |  WHERE length(trim(line)) > 0),
        |w AS (
        |  SELECT doc_id,
        |  row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
        |  FROM lines),
        |tot AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY 1),
        |k AS (SELECT doc_id, count(*) AS n_kept FROM w WHERE rn = 1
        |  GROUP BY 1)
        |SELECT tot.doc_id, tot.n_lines, coalesce(k.n_kept, 0) AS n_kept
        |FROM tot LEFT JOIN k USING (doc_id) ORDER BY 1""".stripMargin,

    // recomposes the PROVEN docs_quality / docs_lang_id / docs_repetition
    // fragments and folds the same rule chain the kernel applies
    "docs_clean_verdict" ->
      s"""WITH f AS (
         |  SELECT doc_id, length(text) AS n_chars,
         |  [x FOR x IN string_split_regex(lower(text), '\\s+') IF len(x) > 0]
         |    AS tk,
         |  length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g')) AS punct,
         |  string_split(text, chr(10)) AS lines
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, n_chars, punct, tk, lines, len(tk) AS n_tok,
         |  len([t FOR t IN tk
         |    IF t IN ('the','and','of','to','in','is','a')]) AS stop
         |  FROM f),
         |q AS (
         |  SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
         |  round((least(n_tok / 100.0, 1.0) +
         |    least((CASE WHEN n_tok > 0 THEN stop * 1.0 / n_tok
         |      ELSE 0.0 END) * 5.0, 1.0) +
         |    (1.0 - least((CASE WHEN n_chars > 0 THEN punct * 1.0 / n_chars
         |      ELSE 0.0 END) * 10.0, 1.0))) / 3.0, 4) AS quality
         |  FROM g),
         |scores AS (SELECT doc_id, $langScoresSql FROM g),
         |best AS (
         |  SELECT doc_id, s_en, s_es, s_de, s_fr, s_zh,
         |  greatest(s_en, s_es, s_de, s_fr, s_zh) AS b,
         |  s_en + s_es + s_de + s_fr + s_zh AS total FROM scores),
         |lang AS (
         |  SELECT doc_id,
         |  CASE WHEN total > 0 AND s_en = b THEN 'en'
         |       WHEN total > 0 AND s_es = b THEN 'es'
         |       WHEN total > 0 AND s_de = b THEN 'de'
         |       WHEN total > 0 AND s_fr = b THEN 'fr'
         |       WHEN total > 0 AND s_zh = b THEN 'zh'
         |       ELSE 'und' END AS lang_pred FROM best),
         |bg0 AS (
         |  SELECT doc_id, lines,
         |  CASE WHEN len(tk) >= 2
         |    THEN [array_to_string(tk[i:i+1], ' ') FOR i IN range(1, len(tk))]
         |    ELSE [] END AS bg
         |  FROM g),
         |rep AS (
         |  SELECT doc_id,
         |  round(1 - len(list_distinct(lines)) * 1.0 / len(lines), 4)
         |    AS dup_line_frac,
         |  CASE WHEN len(bg) > 0
         |    THEN round(len([x FOR x IN bg IF x = list_aggregate(bg, 'mode')])
         |      * 1.0 / len(bg), 4)
         |    ELSE 0.0 END AS top_bigram_frac
         |  FROM bg0),
         |v AS (
         |  SELECT q.doc_id, q.n_tokens, q.quality, lang.lang_pred,
         |  rep.dup_line_frac, rep.top_bigram_frac,
         |  CASE WHEN q.n_tokens < 30 THEN 'too_short'
         |       WHEN rep.dup_line_frac > 0.2 THEN 'repetitive_lines'
         |       WHEN rep.top_bigram_frac > 0.2 THEN 'repetitive_bigrams'
         |       WHEN q.quality < 0.5 THEN 'low_quality'
         |       WHEN lang.lang_pred <> 'en' THEN 'wrong_lang'
         |       ELSE 'ok' END AS reason
         |  FROM q JOIN lang USING (doc_id) JOIN rep USING (doc_id))
         |SELECT doc_id, n_tokens, quality, lang_pred, dup_line_frac,
         |top_bigram_frac, reason = 'ok' AS keep, reason
         |FROM v ORDER BY doc_id""".stripMargin,

    "vocab_top_terms" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |  unnest([x FOR x IN string_split_regex(lower(text), '\s+')
        |    IF len(x) > 0]) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS c FROM toks GROUP BY 1, 2),
        |agg AS (
        |  SELECT term, CAST(sum(c) AS BIGINT) AS tf_total,
        |  count(*) AS df FROM tf GROUP BY 1)
        |SELECT term, tf_total, df,
        |CAST(row_number() OVER (ORDER BY tf_total DESC, term) - 1 AS INT)
        |  AS vocab_id
        |FROM agg ORDER BY tf_total DESC, term LIMIT 100""".stripMargin,

    "sample_quality_mix" ->
      """WITH w AS (
        |  SELECT doc_id, text,
        |  least(CAST(3.0 AS DOUBLE), n_chars / CAST(200.0 AS DOUBLE)) AS wt,
        |  CAST(('0x' || substring(md5(text), 1, 2))::BIGINT AS INT)
        |    AS bucket
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |  CAST(floor(wt) AS INT) +
        |  CASE WHEN bucket < round((wt - floor(wt)) * 256) THEN 1 ELSE 0 END
        |    AS copies
        |  FROM w)
        |SELECT doc_id,
        |CAST(unnest(range(1, copies + 1)) AS INT) AS copy_id
        |FROM c WHERE copies >= 1
        |ORDER BY doc_id, copy_id""".stripMargin,

    "sample_stratified" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(text || '|' || CAST(doc_id AS VARCHAR)),
        |             text || '|' || CAST(doc_id AS VARCHAR)) AS rk,
        |  count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, source,
        |CASE WHEN rk <= floor(n * CAST(0.8 AS DOUBLE)) THEN 'train'
        |  ELSE 'test' END AS split
        |FROM r ORDER BY doc_id""".stripMargin,

    "decontaminate_semantic" ->
      """WITH b AS (SELECT embedding::DOUBLE[] AS bv FROM embeddings
        |  WHERE vec_id < 20),
        |m AS (
        |  SELECT c.vec_id,
        |  max(list_cosine_similarity(c.embedding::DOUBLE[], b.bv)) AS mc
        |  FROM embeddings c CROSS JOIN b WHERE c.vec_id >= 20 GROUP BY 1)
        |SELECT vec_id, round(mc, 6) AS max_cos FROM m
        |WHERE mc >= 0.3 ORDER BY vec_id""".stripMargin,

    "pipeline_train_pack" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 30),
        |dedup AS (
        |  SELECT doc_id, text, tokens FROM (
        |    SELECT doc_id, text, tokens,
        |    min(doc_id) OVER (PARTITION BY text) AS keep_id FROM toks)
        |  WHERE doc_id = keep_id),
        |train AS (
        |  SELECT doc_id, tokens FROM dedup
        |  WHERE substring(md5(text), 1, 2) < 'cd'),
        |c AS (
        |  SELECT doc_id, tokens,
        |  sum(tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM train)
        |SELECT doc_id, tokens,
        |CAST((cum - tokens) // 512 AS BIGINT) AS start_seq,
        |CASE WHEN tokens = 0 THEN CAST((cum - tokens) // 512 AS BIGINT)
        |  ELSE CAST((cum - 1) // 512 AS BIGINT) END AS end_seq
        |FROM c ORDER BY doc_id""".stripMargin,

    "events_latest_per_key" ->
      """WITH r AS (
        |  SELECT user_id, event_type, event_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value,
        |  row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM events)
        |SELECT user_id, event_type, event_id, ts_s,
        |round(value, 4) AS value
        |FROM r WHERE rk = 1
        |ORDER BY user_id, event_type""".stripMargin,

    "events_trailing_zscore" ->
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS hour_ts, count(*) AS n,
        |  CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS ep
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT hour_ts, n,
        |  avg(n) OVER win AS a,
        |  stddev_samp(n) OVER win AS s
        |  FROM h
        |  WINDOW win AS (ORDER BY ep
        |    RANGE BETWEEN 259200 PRECEDING AND 3600 PRECEDING))
        |SELECT strftime(hour_ts, '%Y-%m-%d %H:%M') AS hour, n,
        |round(a, 4) AS base_avg, round(s, 4) AS base_std,
        |CASE WHEN s > 0 THEN round((n - a) / s, 4) END AS z
        |FROM w ORDER BY hour""".stripMargin,

    "j_interval_overlap" ->
      """WITH li AS (
        |  SELECT l_suppkey, l_orderkey * 100 + l_linenumber AS item_id,
        |  CAST(epoch(l_shipdate) // 86400 AS BIGINT) AS s,
        |  CAST(epoch(l_shipdate) // 86400 AS BIGINT) + l_linenumber AS e
        |  FROM lineitem WHERE l_suppkey < 20)
        |SELECT a.l_suppkey, a.item_id AS id_a, b.item_id AS id_b
        |FROM li a JOIN li b ON a.l_suppkey = b.l_suppkey
        |AND a.item_id < b.item_id AND a.s <= b.e AND b.s <= a.e
        |ORDER BY 1, 2, 3""".stripMargin,

    "a_interval_coverage" ->
      """WITH iv AS (
        |  SELECT DISTINCT l_suppkey,
        |  CAST(epoch(l_shipdate) // 86400 AS BIGINT) AS s,
        |  CAST(epoch(l_shipdate) // 86400 AS BIGINT) + l_linenumber AS e
        |  FROM lineitem),
        |m AS (
        |  SELECT l_suppkey, s, e,
        |  max(e) OVER (PARTITION BY l_suppkey ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM iv),
        |g AS (
        |  SELECT l_suppkey, s, e,
        |  sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY l_suppkey ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
        |  FROM m),
        |isl AS (
        |  SELECT l_suppkey, island_id,
        |  min(s) AS island_start, max(e) AS island_end
        |  FROM g GROUP BY 1, 2)
        |SELECT l_suppkey, count(*) AS n_islands,
        |CAST(sum(island_end - island_start) AS BIGINT) AS covered,
        |max(island_end - island_start) AS max_island
        |FROM isl GROUP BY 1 ORDER BY 1""".stripMargin,

    "knn_graph" ->
      """WITH p AS (
        |  SELECT a.vec_id AS src, b.vec_id AS dst,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[],
        |    b.embedding::DOUBLE[]), 6) AS score
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
        |r AS (SELECT src, dst, score,
        |  CAST(row_number() OVER (PARTITION BY src
        |    ORDER BY score DESC, dst) AS INT) AS rank
        |  FROM p)
        |SELECT src, dst, score, rank FROM r WHERE rank <= 3
        |ORDER BY src, rank""".stripMargin,

    "knn_negatives" ->
      """WITH p AS (
        |  SELECT a.vec_id AS src, b.vec_id AS dst,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[],
        |    b.embedding::DOUBLE[]), 6) AS score
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
        |pos AS (
        |  SELECT src, dst FROM (
        |    SELECT src, dst, row_number() OVER (PARTITION BY src
        |      ORDER BY score DESC, dst) AS rk FROM p)
        |  WHERE rk <= 3),
        |cand AS (
        |  SELECT a.vec_id AS anchor_id, c.vec_id AS neg_id
        |  FROM embeddings a CROSS JOIN embeddings c
        |  WHERE a.vec_id < 5 AND a.vec_id <> c.vec_id
        |  AND NOT EXISTS (SELECT 1 FROM pos
        |    WHERE pos.src = a.vec_id AND pos.dst = c.vec_id)),
        |r AS (
        |  SELECT anchor_id, neg_id,
        |  CAST(row_number() OVER (PARTITION BY anchor_id
        |    ORDER BY md5(CAST(anchor_id AS VARCHAR) || '|' ||
        |      CAST(neg_id AS VARCHAR)), neg_id) AS INT) AS rank
        |  FROM cand)
        |SELECT anchor_id, neg_id, rank FROM r WHERE rank <= 4
        |ORDER BY anchor_id, rank""".stripMargin,

    "knn_graph_dominance" ->
      """SELECT CAST(NULL AS BIGINT) AS src, CAST(NULL AS INT) AS rank,
        |CAST(NULL AS DOUBLE) AS exact_score,
        |CAST(NULL AS DOUBLE) AS approx_score
        |WHERE FALSE""".stripMargin,

    "sample_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |  md5(text || '|' || CAST(doc_id AS VARCHAR)) AS h,
        |  text || '|' || CAST(doc_id AS VARCHAR) AS k
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY source ORDER BY h, k
        |    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d)
        |SELECT doc_id, source, n_tokens FROM c
        |WHERE cum <= 800 ORDER BY doc_id""".stripMargin,

    "a_histogram" ->
      """WITH b AS (
        |  SELECT min(CAST(n_chars AS DOUBLE)) AS lo,
        |  max(CAST(n_chars AS DOUBLE)) AS hi FROM documents),
        |x AS (
        |  SELECT CASE WHEN hi = lo THEN 0
        |    ELSE CAST(least(floor((n_chars - lo) / ((hi - lo) / 12)), 11)
        |      AS INT)
        |  END AS bin, lo, hi
        |  FROM documents CROSS JOIN b)
        |SELECT bin, count(*) AS cnt,
        |round(lo + bin * ((hi - lo) / 12), 6) AS lo_edge,
        |round(CASE WHEN bin = 11 THEN hi
        |  ELSE lo + (bin + 1) * ((hi - lo) / 12) END, 6) AS hi_edge
        |FROM x GROUP BY bin, lo, hi ORDER BY bin""".stripMargin,

    "dedup_substring" ->
      """WITH pos AS (
        |  SELECT doc_id, text,
        |  unnest(range(greatest(length(text) - 31, 0))) AS i
        |  FROM documents),
        |w AS (SELECT doc_id, substr(text, CAST(i AS INT) + 1, 32) AS win
        |      FROM pos),
        |c AS (SELECT win, count(*) AS cnt FROM w GROUP BY 1),
        |d AS (SELECT w.doc_id, count(*) AS dup_windows
        |      FROM w JOIN c USING (win) WHERE c.cnt > 1 GROUP BY 1)
        |SELECT doc_id, greatest(length(text) - 31, 0) AS total_windows,
        |coalesce(d.dup_windows, 0) AS dup_windows,
        |CASE WHEN length(text) >= 32 THEN
        |  round(coalesce(d.dup_windows, 0) /
        |    CAST(length(text) - 31 AS DOUBLE), 4)
        |END AS dup_frac
        |FROM documents LEFT JOIN d USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "dedup_substring_spans" ->
      """WITH pos AS (
        |  SELECT doc_id, text,
        |  unnest(range(greatest(length(text) - 31, 0))) AS i
        |  FROM documents),
        |w AS (SELECT doc_id, CAST(i AS INT) AS p,
        |      substr(text, CAST(i AS INT) + 1, 32) AS win FROM pos),
        |c AS (SELECT win, count(*) AS cnt FROM w GROUP BY 1),
        |d AS (SELECT w.doc_id, w.p FROM w JOIN c USING (win)
        |      WHERE c.cnt > 1),
        |s AS (SELECT doc_id, p,
        |  CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) >= p - 32
        |    THEN 0 ELSE 1 END AS brk FROM d),
        |g AS (SELECT doc_id, p,
        |  sum(brk) OVER (PARTITION BY doc_id ORDER BY p
        |    ROWS UNBOUNDED PRECEDING) AS span FROM s)
        |SELECT doc_id, min(p) AS span_start, max(p) + 32 AS span_end,
        |count(*) AS n_windows
        |FROM g GROUP BY doc_id, span
        |ORDER BY doc_id, span_start""".stripMargin,

    "docs_chunk_overlap" ->
      """WITH n AS (
        |  SELECT doc_id, text, length(text) AS len,
        |  CASE WHEN length(text) <= 120 THEN 1
        |    ELSE CAST((length(text) - 120 + 79) // 80 AS INT) + 1
        |  END AS n_chunks
        |  FROM documents),
        |e AS (SELECT doc_id, text, len,
        |      CAST(unnest(range(n_chunks)) AS INT) AS idx FROM n)
        |SELECT doc_id, idx,
        |CAST(greatest(least(idx * 80, len - 120), 0) AS INT) AS start,
        |substr(text,
        |  CAST(greatest(least(idx * 80, len - 120), 0) AS INT) + 1, 120)
        |  AS chunk
        |FROM e ORDER BY doc_id, idx""".stripMargin,

    "docs_bigram_nll" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |big AS (
        |  SELECT doc_id, unnest(ws[1:len(ws)-1]) AS w1,
        |  unnest(ws[2:len(ws)]) AS w2
        |  FROM toks WHERE len(ws) >= 2),
        |bd AS (SELECT doc_id, w1, w2, count(*) AS m FROM big GROUP BY ALL),
        |c12 AS (SELECT w1, w2, CAST(sum(m) AS BIGINT) AS c12
        |        FROM bd GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(m) AS BIGINT) AS c1 FROM bd GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v
        |      FROM (SELECT unnest(ws) AS w FROM toks))
        |SELECT bd.doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
        |round(sum(m * -ln((c12 + 1.0) / (c1 + v))) / sum(m), 4) AS avg_nll
        |FROM bd JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "docs_winnow" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |  [x FOR x IN string_split_regex(lower(text), '\s+')
        |    IF len(x) > 0] AS ws
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, CAST(unnest(range(len(ws) - 3)) AS INT) AS pos,
        |  ws FROM toks WHERE len(ws) >= 4),
        |sh AS (
        |  SELECT doc_id, pos,
        |  ('0x' || substr(md5(array_to_string(ws[pos+1:pos+4], ' ')),
        |    1, 8))::BIGINT AS h
        |  FROM pos),
        |wins AS (
        |  SELECT a.doc_id, a.pos AS s, b.pos AS p, b.h
        |  FROM sh a JOIN sh b ON a.doc_id = b.doc_id
        |    AND b.pos >= a.pos AND b.pos < a.pos + 5),
        |full_w AS (
        |  SELECT doc_id, s FROM wins GROUP BY 1, 2 HAVING count(*) = 5),
        |rk AS (
        |  SELECT w.doc_id, w.p, w.h,
        |  row_number() OVER (PARTITION BY w.doc_id, w.s
        |    ORDER BY w.h, w.p) AS rk
        |  FROM wins w JOIN full_w USING (doc_id, s))
        |SELECT DISTINCT doc_id, p AS fp_pos, h AS fp_hash
        |FROM rk WHERE rk = 1 ORDER BY doc_id, fp_pos, fp_hash""".stripMargin,

    "events_hll_audit" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        |CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
        |TRUE AS within_tol
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_hll_union_audit" ->
      """SELECT CAST(NULL AS BIGINT) AS union_est,
        |CAST(NULL AS BIGINT) AS exact_distinct WHERE FALSE""".stripMargin,

    "events_kmv_overlap_audit" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nu
        |  FROM tu GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b
        |  FROM s a JOIN s b ON a.event_type < b.event_type),
        |i AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  CAST(count(*) AS BIGINT) AS exact_inter
        |  FROM tu a JOIN tu b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b,
        |CAST(coalesce(i.exact_inter, 0) AS BIGINT) AS exact_inter,
        |CAST(sa.nu - coalesce(i.exact_inter, 0) AS BIGINT) AS exact_diff,
        |TRUE AS inter_ok, TRUE AS diff_ok
        |FROM p LEFT JOIN i ON p.type_a = i.type_a AND p.type_b = i.type_b
        |JOIN s sa ON p.type_a = sa.event_type
        |ORDER BY p.type_a, p.type_b""".stripMargin,

    "docs_readability" ->
      """SELECT doc_id,
        |CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |  AS BIGINT) AS n_sentences,
        |CAST(greatest(len([x FOR x IN
        |  string_split_regex(lower(text), '\s+') IF len(x) > 0]), 1)
        |  AS BIGINT) AS n_words,
        |CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
        |  AS BIGINT) AS n_syllables,
        |round(206.835
        |  - 1.015 * (CAST(greatest(len([x FOR x IN
        |      string_split_regex(lower(text), '\s+') IF len(x) > 0]), 1)
        |      AS DOUBLE)
        |    / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
        |  - 84.6 * (CAST(greatest(len(regexp_extract_all(lower(text),
        |      '[aeiouy]+')), 1) AS DOUBLE)
        |    / greatest(len([x FOR x IN
        |      string_split_regex(lower(text), '\s+') IF len(x) > 0]), 1)),
        |  4) + 0.0 AS flesch
        |FROM documents ORDER BY doc_id""".stripMargin,

    "docs_span_mask" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |m AS (
        |  SELECT doc_id, len(ws) AS n_tokens,
        |  [CASE WHEN ('0x' || substr(md5(
        |      CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR) || ':'
        |        || ws[i + 1]), 1, 8))::BIGINT % 100 < 15
        |    THEN '<mask>' ELSE ws[i + 1] END
        |   FOR i IN range(len(ws))] AS mt
        |  FROM toks)
        |SELECT m.doc_id, CAST(m.n_tokens AS BIGINT) AS n_tokens,
        |CAST(len([i FOR i IN range(len(t.ws))
        |  IF ('0x' || substr(md5(CAST(m.doc_id AS VARCHAR) || ':'
        |    || CAST(i AS VARCHAR) || ':' || t.ws[i + 1]), 1, 8))::BIGINT
        |    % 100 < 15]) AS BIGINT) AS n_masked,
        |array_to_string(mt, ' ') AS masked_text
        |FROM m JOIN toks t ON m.doc_id = t.doc_id
        |ORDER BY m.doc_id""".stripMargin,

    "docs_gzip_audit" ->
      """SELECT CAST(NULL AS BIGINT) AS doc_id,
        |CAST(NULL AS BIGINT) AS n_bytes,
        |CAST(NULL AS BIGINT) AS n_deflated WHERE FALSE""".stripMargin,

    "dedup_winnow_pairs" -> winnowPairsOracle("SELECT doc_id, text FROM documents"),

    "dedup_winnow_skew" -> winnowPairsOracle(
      "SELECT doc_id, CASE WHEN doc_id % 10 < 3 THEN text || ' " +
        WinnowBoiler + "' ELSE text END AS text FROM documents"),

    "docs_sbo_score" -> (s"WITH $sboScoreCtes\n" +
      """SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_trigrams,
        |CAST(sum(mh) AS BIGINT) AS n_attested,
        |CAST(sum(sm) AS DOUBLE) / (sum(m) * 1e6) AS sbo_score
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin),

    "docs_ccnet_buckets" -> (s"WITH $sboScoreCtes,\n" +
      """ds AS (
        |  SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_trigrams,
        |  CAST(sum(mh) AS BIGINT) AS n_attested,
        |  CAST(sum(sm) AS DOUBLE) / (sum(m) * 1e6) AS sbo_score
        |  FROM s GROUP BY 1),
        |j AS (SELECT ds.*, d.source FROM ds
        |  JOIN documents d USING (doc_id)),
        |h AS (SELECT -sbo_score AS v, count(*) AS c FROM j GROUP BY 1),
        |cw AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum,
        |  sum(c) OVER () AS n FROM h),
        |kc AS (SELECT list(cut ORDER BY cut) AS cuts FROM (
        |  SELECT p, min(v) AS cut FROM cw, (SELECT unnest([1,2]) AS p)
        |  WHERE cum >= ceil(p * n / 3.0) GROUP BY p))
        |SELECT source,
        |CAST(1 + len([c FOR c IN kc.cuts IF -sbo_score > c]) AS INT)
        |  AS bucket,
        |CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(sum(n_trigrams) AS BIGINT) AS n_trigrams,
        |CAST(sum(n_attested) AS BIGINT) AS n_attested
        |FROM j, kc GROUP BY 1, 2 ORDER BY source, bucket""".stripMargin),

    "sample_weighted_mix" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |  CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.25
        |    ELSE 1.0 END AS wt,
        |  CAST(('0x' || substring(md5(text), 1, 2))::BIGINT AS INT)
        |    AS bucket
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source,
        |  CAST(floor(wt) AS INT) +
        |  CASE WHEN bucket < round((wt - floor(wt)) * 256) THEN 1 ELSE 0 END
        |    AS copies
        |  FROM w)
        |SELECT doc_id, source,
        |CAST(unnest(range(1, copies + 1)) AS INT) AS copy_id
        |FROM c WHERE copies >= 1
        |ORDER BY doc_id, copy_id""".stripMargin,

    "vocab_cms_audit" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |  unnest([x FOR x IN string_split_regex(lower(text), '\s+')
        |    IF len(x) > 0]) AS term
        |  FROM documents),
        |tf0 AS (SELECT doc_id, term, count(*) AS c FROM toks GROUP BY 1, 2),
        |agg AS (
        |  SELECT term, CAST(sum(c) AS BIGINT) AS tf_total,
        |  row_number() OVER (ORDER BY sum(c) DESC, term) AS rk
        |  FROM tf0 GROUP BY term)
        |SELECT term, tf_total, TRUE AS within_bounds
        |FROM agg WHERE rk <= 20 ORDER BY term""".stripMargin,

    "docs_encode_vocab" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |  [x FOR x IN string_split_regex(lower(text), '\s+') IF len(x) > 0]
        |    AS t
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, CAST(unnest(range(len(t))) AS INT) AS pos,
        |  unnest(t) AS term FROM tk),
        |tf0 AS (SELECT doc_id, term, count(*) AS c FROM toks GROUP BY 1, 2),
        |agg AS (
        |  SELECT term, CAST(sum(c) AS BIGINT) AS tf_total, count(*) AS df
        |  FROM tf0 GROUP BY 1),
        |vocab AS (
        |  SELECT term,
        |  CAST(row_number() OVER (ORDER BY tf_total DESC, term) - 1 AS INT)
        |    AS vocab_id
        |  FROM agg ORDER BY tf_total DESC, term LIMIT 20)
        |SELECT t.doc_id, t.pos, coalesce(v.vocab_id, -1) AS token_id
        |FROM toks t LEFT JOIN vocab v USING (term)
        |ORDER BY doc_id, pos""".stripMargin,

    "docs_quality_gate" ->
      """WITH f AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |  [x FOR x IN string_split_regex(lower(text), '\s+') IF len(x) > 0]
        |    AS tk,
        |  length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g')) AS punct
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, n_chars, punct, len(tk) AS n_tok,
        |  len([t FOR t IN tk
        |    IF t IN ('the','and','of','to','in','is','a')]) AS stop
        |  FROM f),
        |q AS (
        |  SELECT doc_id,
        |  round((least(n_tok / 100.0, 1.0) +
        |    least((CASE WHEN n_tok > 0 THEN stop * 1.0 / n_tok
        |      ELSE 0.0 END) * 5.0, 1.0) +
        |    (1.0 - least((CASE WHEN n_chars > 0 THEN punct * 1.0 / n_chars
        |      ELSE 0.0 END) * 10.0, 1.0))) / 3.0, 4) AS quality
        |  FROM g),
        |m AS (SELECT quantile_cont(quality, 0.5) AS med FROM q)
        |SELECT doc_id, quality FROM q, m WHERE quality > med
        |ORDER BY doc_id""".stripMargin,

    "events_zorder" ->
      """WITH s0 AS (
        |  SELECT event_id, user_id & 65535 AS a,
        |  CAST(extract(hour FROM ts) AS BIGINT) & 65535 AS b FROM events),
        |s1 AS (SELECT event_id, (a | (a << 8)) & 16711935 AS a,
        |  (b | (b << 8)) & 16711935 AS b FROM s0),
        |s2 AS (SELECT event_id, (a | (a << 4)) & 252645135 AS a,
        |  (b | (b << 4)) & 252645135 AS b FROM s1),
        |s3 AS (SELECT event_id, (a | (a << 2)) & 858993459 AS a,
        |  (b | (b << 2)) & 858993459 AS b FROM s2),
        |s4 AS (SELECT event_id, (a | (a << 1)) & 1431655765 AS a,
        |  (b | (b << 1)) & 1431655765 AS b FROM s3)
        |SELECT event_id, a | (b << 1) AS z FROM s4
        |ORDER BY event_id""".stripMargin,

    "events_grouping_sets" ->
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (strftime(ts, '%Y-%m-%d')), ())
        |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin,

    "pack_length_buckets" ->
      """WITH t AS (
        |  SELECT doc_id,
        |  CAST(len([x FOR x IN string_split_regex(lower(text), '\s+')
        |    IF len(x) > 0]) AS BIGINT) AS tokens
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, tokens,
        |  CAST(least(tokens // 32, 64) AS INT) AS bucket FROM t),
        |r AS (
        |  SELECT doc_id, tokens, bucket,
        |  row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
        |  FROM b)
        |SELECT doc_id, tokens, bucket, CAST((rn - 1) // 8 AS BIGINT)
        |  AS batch_idx
        |FROM r ORDER BY doc_id""".stripMargin,

    "events_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id AS u, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id AS u, min(e.ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t1
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id AS u, min(e.ts) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.u AND e.ts > s2.t2
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT * FROM (VALUES
        |  (CAST(1 AS INT), 'view', (SELECT count(*) FROM s1)),
        |  (CAST(2 AS INT), 'click', (SELECT count(*) FROM s2)),
        |  (CAST(3 AS INT), 'purchase', (SELECT count(*) FROM s3)))
        |  AS t(stage, stage_name, users)
        |ORDER BY stage""".stripMargin,

    "events_funnel_within" ->
      """WITH s1 AS (
        |  SELECT user_id AS u, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id AS u, min(e.ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t1
        |    AND e.ts <= s1.t1 + INTERVAL 3600 SECOND
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id AS u, min(e.ts) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.u AND e.ts > s2.t2
        |    AND e.ts <= s2.t2 + INTERVAL 3600 SECOND
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT * FROM (VALUES
        |  (CAST(1 AS INT), 'view', (SELECT count(*) FROM s1)),
        |  (CAST(2 AS INT), 'click', (SELECT count(*) FROM s2)),
        |  (CAST(3 AS INT), 'purchase', (SELECT count(*) FROM s3)))
        |  AS t(stage, stage_name, users)
        |ORDER BY stage""".stripMargin,

    "events_retention" ->
      """WITH fs AS (
        |  SELECT user_id AS u, CAST(min(ts) AS DATE) AS cohort
        |  FROM events GROUP BY 1),
        |act AS (
        |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
        |  FROM events)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
        |CAST(date_diff('day', cohort, day) AS INT) AS day_offset,
        |count(*) AS users
        |FROM act JOIN fs USING (u)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "emb_kmeans_audit" ->
      """SELECT CAST(NULL AS INT) AS cell, CAST(NULL AS DOUBLE) AS max_err
        |WHERE FALSE""".stripMargin,

    "skew_salted_agg" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |count(*) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "skew_salted_join" ->
      """SELECT l_partkey AS pk, count(*) AS n,
        |round(sum(l_quantity), 2) AS qty, min(p_name) AS p_name
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "docs_token_counts" ->
      """SELECT doc_id,
        |CAST(len([x FOR x IN string_split_regex(lower(text), '\s+')
        |  IF len(x) > 0]) AS BIGINT) AS ws_tokens,
        |CAST(len(regexp_extract_all(lower(text),
        |  '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS subword_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "docs_lang_id" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |  [x FOR x IN string_split_regex(lower(text), '\\s+') IF len(x) > 0]
         |    AS tk
         |  FROM documents),
         |scores AS (
         |  SELECT doc_id, $langScoresSql
         |  FROM toks),
         |best AS (
         |  SELECT doc_id, s_en, s_es, s_de, s_fr, s_zh,
         |  greatest(s_en, s_es, s_de, s_fr, s_zh) AS b,
         |  s_en + s_es + s_de + s_fr + s_zh AS total
         |  FROM scores)
         |SELECT doc_id,
         |CASE WHEN total > 0 AND s_en = b THEN 'en'
         |     WHEN total > 0 AND s_es = b THEN 'es'
         |     WHEN total > 0 AND s_de = b THEN 'de'
         |     WHEN total > 0 AND s_fr = b THEN 'fr'
         |     WHEN total > 0 AND s_zh = b THEN 'zh'
         |     ELSE 'und' END AS lang_pred
         |FROM best ORDER BY doc_id""".stripMargin,

    "docs_lexical_diversity" ->
      """WITH w AS (
        |  SELECT doc_id,
        |  [x FOR x IN string_split_regex(lower(text), '\s+')
        |   IF len(x) > 0] AS ws
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |  CAST(len(ws) AS INT) AS n_tokens,
        |  CAST(len(list_distinct(ws)) AS INT) AS n_types,
        |  CAST(len([t FOR t IN list_distinct(ws)
        |    IF len([x FOR x IN ws IF x = t]) = 1]) AS INT) AS n_hapax
        |  FROM w)
        |SELECT doc_id, n_tokens, n_types, n_hapax,
        |CASE WHEN n_tokens > 0
        |  THEN round(n_types::DOUBLE / n_tokens, 4) END AS ttr,
        |CASE WHEN n_types > 0
        |  THEN round(n_hapax::DOUBLE / n_types, 4) END AS hapax_frac
        |FROM c ORDER BY doc_id""".stripMargin,

    "vocab_zipf_audit" ->
      """WITH toks AS (
        |  SELECT unnest([x FOR x IN string_split_regex(lower(text), '\s+')
        |    IF len(x) > 0]) AS term FROM documents),
        |c AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
        |top AS (
        |  SELECT term, cnt,
        |  row_number() OVER (ORDER BY cnt DESC, term) AS r FROM c
        |  QUALIFY r <= 100),
        |q AS (
        |  SELECT r, term, cnt,
        |  CAST(round(ln(r) * 1e6) AS BIGINT) AS x,
        |  CAST(round(ln(cnt) * 1e6) AS BIGINT) AS y FROM top)
        |SELECT CAST(count(*) AS BIGINT) AS n_terms,
        |max(CASE WHEN r = 1 THEN term END) AS top_term,
        |max(CASE WHEN r = 1 THEN cnt END) AS top_count,
        |round((count(*) * CAST(sum(x * y) AS BIGINT)
        |    - CAST(sum(x) AS BIGINT) * CAST(sum(y) AS BIGINT))::DOUBLE
        |  / (count(*) * CAST(sum(x * x) AS BIGINT)
        |    - CAST(sum(x) AS BIGINT) * CAST(sum(x) AS BIGINT)), 4)
        |  AS zipf_slope
        |FROM q""".stripMargin,

    "docs_c4_clean" ->
      """WITH raw AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |reb AS (
        |  SELECT doc_id,
        |  [array_to_string(ws[i:i+15], ' ') ||
        |    (CASE WHEN ((i-1)//16) % 3 = 2 THEN '' ELSE '.' END)
        |   FOR i IN range(1, greatest(len(ws), 1) + 1, 16)] AS lines
        |  FROM raw),
        |page AS (
        |  SELECT doc_id,
        |  list_aggregate(lines, 'string_agg', chr(10))
        |  || (CASE WHEN doc_id % 13 = 0
        |      THEN chr(10) || 'more lorem ipsum filler.' ELSE '' END)
        |  || (CASE WHEN doc_id % 17 = 0
        |      THEN chr(10) || 'config { value }' ELSE '' END) AS text
        |  FROM reb),
        |base AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ls, text
        |  FROM page),
        |k AS (
        |  SELECT doc_id, ls, text,
        |  [l FOR l IN ls IF
        |    (ends_with(rtrim(l), '.') OR ends_with(rtrim(l), '!')
        |      OR ends_with(rtrim(l), '?') OR ends_with(rtrim(l), '"'))
        |    AND len([x FOR x IN string_split_regex(l, '\s+')
        |      IF len(x) > 0]) >= 5] AS kept
        |  FROM base),
        |j AS (
        |  SELECT doc_id, ls, text, kept,
        |  list_aggregate(kept, 'string_agg', chr(10)) AS kt
        |  FROM k)
        |SELECT doc_id,
        |CAST(len(ls) AS INT) AS n_lines,
        |CAST(len(kept) AS INT) AS n_kept,
        |CASE WHEN len(kept) > 0 THEN md5(kt) END AS kept_md5,
        |CASE
        |  WHEN contains(lower(text), 'lorem ipsum') THEN 'lorem_ipsum'
        |  WHEN contains(text, '{') THEN 'curly_brace'
        |  WHEN coalesce(length(kt) - length(translate(kt, '.!?', '')), 0)
        |    < 3 THEN 'too_few_sentences'
        |END AS drop_reason
        |FROM j ORDER BY doc_id""".stripMargin,

    "docs_gopher_repetition" -> gopherRepetitionOracle,

    "docs_gopher_rules" ->
      """WITH w AS (
        |  SELECT doc_id,
        |  [x FOR x IN string_split_regex(text, '\s+') IF len(x) > 0]
        |    AS ws,
        |  [l FOR l IN string_split(text, chr(10)) IF len(trim(l)) > 0]
        |    AS ls,
        |  length(text) - length(replace(text, '#', '')) AS hash_c,
        |  (length(text) - length(replace(text, '...', ''))) // 3 AS ell_c
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |  CAST(len(ws) AS INT) AS n_words,
        |  CAST(list_sum([len(x) FOR x IN ws]) AS BIGINT) AS wlen,
        |  hash_c + ell_c AS sym_c,
        |  len(ls) AS n_lines,
        |  len([l FOR l IN ls IF starts_with(ltrim(l), '-')
        |    OR starts_with(ltrim(l), '*')
        |    OR starts_with(ltrim(l), '•')]) AS bullet_c,
        |  len([l FOR l IN ls IF ends_with(rtrim(l), '...')
        |    OR ends_with(rtrim(l), '…')]) AS ellend_c,
        |  len([x FOR x IN ws IF regexp_matches(x, '[a-zA-Z]')]) AS alpha_c,
        |  CAST(len(list_intersect(list_distinct([lower(x) FOR x IN ws]),
        |    ['the','be','to','of','and','that','have','with'])) AS INT)
        |    AS stopword_hits
        |  FROM w),
        |r AS (
        |  SELECT doc_id, n_words,
        |  CASE WHEN n_words > 0
        |    THEN round(wlen::DOUBLE / n_words, 4) END AS mean_word_len,
        |  CASE WHEN n_words > 0
        |    THEN round(sym_c::DOUBLE / n_words, 4) END AS symbol_ratio,
        |  CASE WHEN n_lines > 0
        |    THEN round(bullet_c::DOUBLE / n_lines, 4) END AS bullet_frac,
        |  CASE WHEN n_lines > 0
        |    THEN round(ellend_c::DOUBLE / n_lines, 4) END AS ellipsis_frac,
        |  CASE WHEN n_words > 0
        |    THEN round(alpha_c::DOUBLE / n_words, 4) END AS alpha_frac,
        |  stopword_hits FROM c)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
        |ellipsis_frac, alpha_frac, stopword_hits,
        |n_words BETWEEN 50 AND 100000 AS r_words,
        |coalesce(mean_word_len BETWEEN 3.0 AND 10.0, false) AS r_word_len,
        |coalesce(symbol_ratio <= 0.1, false) AS r_symbol,
        |coalesce(bullet_frac <= 0.9, true) AS r_bullet,
        |coalesce(ellipsis_frac <= 0.3, true) AS r_ellipsis,
        |coalesce(alpha_frac > 0.8, false) AS r_alpha,
        |stopword_hits >= 2 AS r_stopwords,
        |(n_words BETWEEN 50 AND 100000)
        |  AND coalesce(mean_word_len BETWEEN 3.0 AND 10.0, false)
        |  AND coalesce(symbol_ratio <= 0.1, false)
        |  AND coalesce(bullet_frac <= 0.9, true)
        |  AND coalesce(ellipsis_frac <= 0.3, true)
        |  AND coalesce(alpha_frac > 0.8, false)
        |  AND stopword_hits >= 2 AS verdict
        |FROM r ORDER BY doc_id""".stripMargin,

    "docs_quality" ->
      """WITH f AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |  [x FOR x IN string_split_regex(lower(text), '\s+') IF len(x) > 0]
        |    AS tk,
        |  length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g')) AS punct
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, n_chars, punct, len(tk) AS n_tok,
        |  len([t FOR t IN tk
        |    IF t IN ('the','and','of','to','in','is','a')]) AS stop
        |  FROM f),
        |h AS (
        |  SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
        |  CASE WHEN n_tok > 0
        |    THEN (n_chars - (n_tok - 1)) * 1.0 / n_tok ELSE 0.0 END AS mtl,
        |  CASE WHEN n_chars > 0
        |    THEN punct * 1.0 / n_chars ELSE 0.0 END AS pr,
        |  CASE WHEN n_tok > 0 THEN stop * 1.0 / n_tok ELSE 0.0 END AS sr,
        |  least(n_tok / 100.0, 1.0) AS ls
        |  FROM g)
        |SELECT doc_id, n_tokens,
        |round(mtl, 4) AS mean_token_len,
        |round(pr, 4) AS punct_ratio,
        |round(sr, 4) AS stopword_ratio,
        |round((ls + least(sr * 5.0, 1.0) + (1.0 - least(pr * 10.0, 1.0)))
        |  / 3.0, 4) AS quality
        |FROM h ORDER BY doc_id""".stripMargin,

    "docs_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp_md5, sha256(text) AS fp_sha256
        |FROM documents ORDER BY doc_id""".stripMargin,

    "docs_hash_embed" ->
      """SELECT doc_id, 64 AS dim, CAST(1.0 AS DOUBLE) AS norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    "j_bloom_semi" ->
      """SELECT l_partkey AS p_partkey, count(*) AS n,
        |round(sum(l_quantity), 2) AS qty
        |FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 5)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_props_json" ->
      """SELECT event_type,
        |count(CAST(json_extract_string(props, '$.k') AS INT)) AS n,
        |round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4)
        |  AS avg_k,
        |min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
        |max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_props_variant" ->
      """WITH e AS (
        |  SELECT event_type,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k
        |  FROM events)
        |SELECT event_type, CAST(floor(k / 10.0) AS INT) AS k_decade,
        |count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
        |FROM e GROUP BY 1, 2 ORDER BY event_type, k_decade""".stripMargin,

    "events_seasonal_profile" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |  CAST(dayofweek(ts) * 24 + hour(ts) AS INT) AS how,
        |  date_trunc('hour', ts) AS h, count(*) AS n
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT event_type, how, count(*) AS n_hours,
        |CAST(sum(n) AS BIGINT) AS n_events,
        |round(sum(n)::DOUBLE / count(*), 4) AS avg_per_hour
        |FROM hourly GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "multimodal_audio_features" ->
      """SELECT doc_id,
        |CAST(GREATEST(n_chars, 2) * 1000 // 8000 AS BIGINT) AS duration_ms,
        |CAST(8000 AS INT) AS sample_rate,
        |CAST(1 AS INT) AS channels,
        |CAST((doc_id % 9 + 1) * 100 AS BIGINT) AS rms_milli,
        |CAST((doc_id % 9 + 1) * 100 AS BIGINT) AS peak_milli,
        |CAST(1000 AS BIGINT) AS zcr_milli,
        |CAST(0 AS BIGINT) AS silence_milli
        |FROM documents ORDER BY doc_id""".stripMargin,

    "multimodal_video_meta" ->
      """SELECT doc_id,
        |CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        |CAST(25000 AS BIGINT) AS fps_milli,
        |CAST(doc_id % 3 + 1 AS INT) AS declared_frames,
        |CAST(doc_id % 3 + 1 AS INT) AS frame_chunks
        |FROM documents ORDER BY doc_id""".stripMargin,

    "multimodal_audio_pairs" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |CAST(0 AS INT) AS hamming
        |FROM documents a JOIN documents b
        |  ON a.doc_id % 50 = b.doc_id % 50 AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin,

    "multimodal_video_pairs" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |CAST(0 AS INT) AS hamming
        |FROM documents a JOIN documents b
        |  ON a.doc_id % 50 = b.doc_id % 50 AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin,

    "multimodal_video_frames" ->
      """SELECT doc_id, CAST(u.i AS INT) AS frame_idx,
        |CAST(269 AS INT) AS n_bytes
        |FROM documents,
        |  (SELECT unnest([0, 2]) AS i) u
        |WHERE u.i < doc_id % 3 + 1
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "multimodal_features" ->
      """SELECT doc_id,
        |CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |md5(text) AS content_md5,
        |CAST(octet_length(encode(text)) % 8 + 1 AS INT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "multimodal_frames" ->
      """WITH m AS (
        |  SELECT doc_id, octet_length(encode(text)) AS len FROM documents),
        |p AS (
        |  SELECT doc_id, len, len % 8 + 1 AS n,
        |  greatest(len // (len % 8 + 1), 1) AS sl FROM m),
        |fr AS (
        |  SELECT doc_id, len, n, sl, unnest(range(0, n, 2)) AS f FROM p)
        |SELECT doc_id, CAST(f AS INT) AS frame_idx,
        |CAST(CASE WHEN f = n - 1 THEN len - least(len, f * sl)
        |     ELSE least(len, least(len, f * sl) + sl) - least(len, f * sl)
        |     END AS INT) AS n_bytes
        |FROM fr ORDER BY doc_id, frame_idx""".stripMargin
  )
}
