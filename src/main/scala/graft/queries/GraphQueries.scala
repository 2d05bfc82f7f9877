package graft.queries

import graft.operators.{GraphOps, RetrievalMetrics, SimilaritySearch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables.t

/** Corpus-graph and retrieval-evaluation gate queries: integer PageRank
  * and label propagation over the k-NN graph, graph-ANN beam search
  * (recall-floor contract), and ranking metrics (RR / NDCG / recall /
  * precision) for the ANN query paths.
  *
  * Oracle discipline: PageRank and label propagation run in pure
  * integer arithmetic, so DuckDB replays the loops exactly (unrolled
  * CTE per iteration). The metrics accumulate doubles only through
  * rank-ordered window sums and left-to-right list folds — defined
  * addition order, so the oracle's bytes match. Beam search recall is a
  * 0-row floor contract (the IVF pattern) with the raw value pinned in
  * GraphOpsSpec. */
object GraphQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Beam-search hits@10 floor out of k=10 (self excluded). Near-uniform
    * synthetic embeddings are graph-ANN's worst case (no hub structure
    * to navigate); under 16 entries / 32-beam / 5 hops over the k=8
    * graph the measured per-query hits are 9-10 at sf0.001 and 6-10 at
    * sf0.01 (minimum: query 103). Floor one below the measured minimum
    * — certifies the search finds a real neighborhood without pinning a
    * knife-edge; exact values pinned in GraphOpsSpec. */
  private val BeamMinHits = 5L

  /** Shared k-NN edge CTE (must match SimilaritySearch.knnGraph). */
  private def knnSql(k: Int): String =
    s"""p AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |  round(list_cosine_similarity(a.embedding::DOUBLE[],
       |    b.embedding::DOUBLE[]), 6) AS score
       |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
       |e AS (
       |  SELECT src, dst FROM (SELECT src, dst,
       |    row_number() OVER (PARTITION BY src
       |      ORDER BY score DESC, dst) AS rk FROM p)
       |  WHERE rk <= $k)""".stripMargin

  /** One integer-PageRank iteration as a CTE pair (inbox + rank). */
  private def prIter(i: Int): String =
    s"""i$i AS (SELECT e.dst AS id, sum(r${i - 1}.rank_i // deg.outdeg) AS s
       |  FROM e JOIN r${i - 1} ON e.src = r${i - 1}.id
       |  JOIN deg ON e.src = deg.src GROUP BY 1),
       |r$i AS (SELECT nodes.id,
       |  (CAST(15 AS BIGINT) * 1000000000) // (100 * n.n)
       |    + (85 * CAST(coalesce(i$i.s, 0) AS BIGINT)) // 100 AS rank_i
       |  FROM nodes CROSS JOIN n LEFT JOIN i$i ON nodes.id = i$i.id)"""
      .stripMargin

  /** One k-core peeling round as a CTE pair (within-set degree +
    * survivors) — simultaneous removal, matching GraphOps.kCore. */
  private def kcIter(i: Int, k: Int): String =
    s"""d$i AS (SELECT nb.id, count(*) AS deg
       |  FROM nbr nb
       |  JOIN a${i - 1} x ON nb.id = x.id
       |  JOIN a${i - 1} y ON nb.nb = y.id
       |  GROUP BY 1),
       |a$i AS (SELECT id FROM d$i WHERE deg >= $k)""".stripMargin

  /** One label-propagation iteration as a CTE pair (majority + labels). */
  private def lpIter(i: Int): String =
    s"""c$i AS (SELECT e.src AS id, l${i - 1}.label, count(*) AS cnt
       |  FROM e JOIN l${i - 1} ON e.dst = l${i - 1}.id
       |  WHERE l${i - 1}.label IS NOT NULL GROUP BY 1, 2),
       |m$i AS (SELECT id, label FROM (
       |  SELECT id, label, row_number() OVER (PARTITION BY id
       |    ORDER BY cnt DESC, label) AS rk FROM c$i) WHERE rk = 1),
       |l$i AS (SELECT l${i - 1}.id,
       |  coalesce(m$i.label, l${i - 1}.label) AS label
       |  FROM l${i - 1} LEFT JOIN m$i ON l${i - 1}.id = m$i.id)"""
      .stripMargin

  val queries: Map[String, Q] = Map(

    // ── integer PageRank over the exact k-NN graph: centrality for
    //    canonical-duplicate selection / source authority. Pure integer
    //    fixed-point (units of 1e-9 of total mass) — shuffle order can
    //    never change a bit, and the oracle replays the 3 unrolled
    //    iterations exactly. ────────────────────────────────────────────
    "graph_pagerank" -> ((s, d) => {
      val edges = SimilaritySearch.knnGraph(t(s, d, "embeddings"),
        "vec_id", "embedding", k = 4)
      GraphOps.pageRankInt(edges, "src", "dst", iters = 3)
        .orderBy(col("id"))
    }),

    // ── synchronous label propagation: 1-in-5 seed labels spread to the
    //    whole graph through 2 majority rounds (ties → smallest label);
    //    the semi-supervised corpus-labeling building block. ────────────
    "graph_labelprop" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val edges = SimilaritySearch.knnGraph(emb, "vec_id", "embedding",
        k = 4)
      val seeds = emb.select(col("vec_id"),
        when(col("vec_id") % 5 === 0, col("label")).cast("long")
          .as("seed_label"))
      GraphOps.labelPropagate(edges, "src", "dst", seeds,
          "vec_id", "seed_label", iters = 2)
        .orderBy(col("id"))
    }),

    // ── graph-ANN beam search recall floor: top-10 by beam search over
    //    the k=8 graph (32-beam, 5 hops, 16 shared entry points) must
    //    share ≥ BeamMinHits ids with the exact top-10 per query — the
    //    0-row contract pattern of the IVF paths. ───────────────────────
    "graph_beam_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val edges = SimilaritySearch.knnGraph(emb, "vec_id", "embedding",
        k = 8)
      val queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 110)
        .select(col("vec_id"), col("embedding"))
      val entries = emb.filter(col("vec_id") < 16).select(col("vec_id"))
      val beam = GraphOps.beamSearchGraph(emb, "vec_id", "embedding",
          edges, "src", "dst", queries, "vec_id", "embedding",
          entries, "vec_id", k = 11, beamWidth = 32, hops = 5)
        .filter(col("id") =!= col("query_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(desc("score"), col("id").asc)
      val beamTop = beam.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") <= 10).select(col("query_id"), col("id"))
      val exact = SimilaritySearch.knnGraphForSources(emb, "vec_id",
          "embedding", 10, queries, "vec_id")
        .select(col("src").as("query_id"), col("dst").as("id"))
      beamTop.join(exact, Seq("query_id", "id"))
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
        .filter(col("hits") < lit(BeamMinHits))
        .select(col("query_id"), col("hits"))
    }),

    // ── host-authority PageRank over an in-plan link graph — the
    //    CommonCrawl-style quality weighting signal, composed from this
    //    round's web primitives: per doc an HTML snippet with two
    //    outlinks is synthesized (targets keyed by the doc's host
    //    bucket; h0's two targets COLLIDE, making the graph
    //    irregular), links extract via one codegen'd
    //    regexp_extract_all, host→host edges dedup at host grain
    //    (7×~2 rows — the whole iteration then runs on a
    //    dimension-sized table regardless of corpus size), and 3
    //    integer-PageRank rounds rank the hosts; per-host doc counts
    //    ride along as the sampler's weighting table. ──────────────────
    "web_host_rank" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val hb = pmod(col("doc_id"), lit(7))
      val pages = docs.select(col("doc_id"), hb.as("hb"),
        concat(lit("<p>text</p><a href=\"https://site"),
          pmod(hb + 1, lit(7)),
          lit(".com/a\">l1</a><a href=\"https://site"),
          pmod(hb * 2 + 1, lit(7)),
          lit(".com/b\">l2</a>")).as("html"))
      val links = pages.select(col("hb").as("src_host"),
          explode(expr(
            "regexp_extract_all(html, 'https://site([0-9]+)\\\\.com', 1)"))
            .as("dst"))
        .select(col("src_host"), col("dst").cast("long").as("dst_host"))
        .distinct()
      GraphOps.pageRankInt(links, "src_host", "dst_host", iters = 3)
        .join(pages.groupBy(col("hb").as("id"))
          .agg(count(lit(1)).as("n_docs")), "id")
        .orderBy(col("id"))
    }),

    // ── rank-biased overlap of the Matryoshka-truncated ranking vs the
    //    full-dimension ranking (Webber et al. 2010): RBO@10 at p=9/10
    //    per query — the top-weighted agreement score that quantifies
    //    what 16-of-64-dim truncation costs, with depth weights as
    //    exact integer rationals and per-depth terms micro-rounded so
    //    every value replays. ───────────────────────────────────────────
    "eval_rbo_matryoshka" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 20).select(col("vec_id"))
      val full = SimilaritySearch.knnGraphForSources(emb, "vec_id",
        "embedding", 10, queries, "vec_id")
      val prefix = SimilaritySearch.knnGraphForSources(
        emb.select(col("vec_id"),
          slice(col("embedding"), 1, 16).as("embedding")),
        "vec_id", "embedding", 10, queries, "vec_id")
      RetrievalMetrics.rboAtK(full, prefix, "src", "dst", "rank", k = 10)
        .orderBy(col("query_id"))
    }),

    // ── TextRank keywords (Mihalcea & Tarau 2004): window-2 word
    //    co-occurrence graph (vocabulary-sized regardless of corpus) →
    //    3 exact integer-PageRank rounds → top-20 by (rank, word). The
    //    oracle rebuilds the same graph and unrolls the same rounds. ────
    "docs_textrank" -> ((s, d) => {
      graft.operators.TextAnalysis.textRankWords(t(s, d, "documents"),
        "doc_id", "text", iters = 3, topK = 20)
    }),

    // ── retrieval metrics per query: RR, NDCG@10, recall@10,
    //    precision@10 of exact cosine top-10 against same-label
    //    relevance — the evaluation layer every index path is judged
    //    by. Double sums are rank-ordered window accumulations, so the
    //    oracle reproduces them byte-for-byte. ──────────────────────────
    "eval_retrieval" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      val ranked = SimilaritySearch.knnGraphForSources(emb, "vec_id",
          "embedding", 10, queries, "vec_id")
        .select(col("src").as("query_id"), col("dst").as("id"),
          col("rank"))
      val rel = queries.select(col("vec_id").as("query_id"), col("label"))
        .join(emb.select(col("vec_id").as("id"), col("label")), "label")
        .filter(col("query_id") =!= col("id"))
        .select(col("query_id"), col("id"))
      RetrievalMetrics.rankedEval(ranked, rel, k = 10)
        .orderBy(col("query_id"))
    }),

    // ── macro roll-up of eval_retrieval: MRR + mean NDCG/recall/
    //    precision, accumulated in query_id order. ─────────────────────
    "eval_retrieval_macro" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      val ranked = SimilaritySearch.knnGraphForSources(emb, "vec_id",
          "embedding", 10, queries, "vec_id")
        .select(col("src").as("query_id"), col("dst").as("id"),
          col("rank"))
      val rel = queries.select(col("vec_id").as("query_id"), col("label"))
        .join(emb.select(col("vec_id").as("id"), col("label")), "label")
        .filter(col("query_id") =!= col("id"))
        .select(col("query_id"), col("id"))
      RetrievalMetrics.macroEval(
        RetrievalMetrics.rankedEval(ranked, rel, k = 10))
    }),

    // ── triangle counts + clustering coefficient over the k=4 graph:
    //    degree-ordered orientation enumerates each triangle once
    //    (hub-proof wedges); the oracle re-enumerates by id order —
    //    triangles are sets, so the results must agree exactly. ─────────
    "graph_triangles" -> ((s, d) => {
      val edges = SimilaritySearch.knnGraph(t(s, d, "embeddings"),
        "vec_id", "embedding", k = 4)
      GraphOps.triangleStats(edges, "src", "dst")
        .orderBy(col("id"))
    }),

    // ── k-core of the MUTUAL k-NN graph (edges where each endpoint is
    //    in the other's top-k — the classic clustering graph, whose
    //    degrees vary 1..k where the raw knn graph is degree-regular):
    //    the dense-neighborhood backbone (duplicate-cluster nuclei /
    //    well-connected corpus regions). Bounded 8-round simultaneous
    //    peeling; the oracle unrolls the SAME 8 rounds, so the
    //    FULL-value check holds converged or not, and the companion
    //    audit certifies the fixpoint witness. 429 of 481 mutual nodes
    //    survive at sf0.01, converged by round 4. ───────────────────────
    "graph_kcore" -> ((s, d) => {
      val knn = SimilaritySearch.knnGraph(t(s, d, "embeddings"),
        "vec_id", "embedding", k = 4)
      val mutual = knn.as("e").join(knn.as("r"),
          col("e.src") === col("r.dst") && col("e.dst") === col("r.src"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      GraphOps.kCore(mutual, "src", "dst", k = 2, maxRounds = 8)
        .orderBy(col("id"))
    }),

    // ── fixpoint witness (0-row): every reported core member retains
    //    ≥ k neighbors inside the core — red iff peeling had not
    //    converged within the round budget ──────────────────────────────
    "graph_kcore_audit" -> ((s, d) => {
      val knn = SimilaritySearch.knnGraph(t(s, d, "embeddings"),
        "vec_id", "embedding", k = 4)
      val mutual = knn.as("e").join(knn.as("r"),
          col("e.src") === col("r.dst") && col("e.dst") === col("r.src"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      GraphOps.kCore(mutual, "src", "dst", k = 2, maxRounds = 8)
        .filter(col("core_degree") < 2)
        .orderBy(col("id"))
    })
  )

  val oracles: Map[String, String] = Map(

    "graph_pagerank" ->
      s"""WITH ${knnSql(4)},
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
         |  FROM e GROUP BY 1),
         |r0 AS (SELECT id, CAST(1000000000 AS BIGINT) // n.n AS rank_i
         |  FROM nodes, n),
         |${prIter(1)},
         |${prIter(2)},
         |${prIter(3)}
         |SELECT id, rank_i FROM r3 ORDER BY id""".stripMargin,

    "eval_rbo_matryoshka" -> {
      // the SAME rational depth weights rboAtK builds: (1−p)·p^(d−1) as
      // (pDen−pNum)·pNum^(d−1) over pDen^d·d, p = 9/10, k = 10
      val weightRows = (1 to 10).map(d =>
        s"($d, ${BigInt(9).pow(d - 1)}, ${BigInt(10).pow(d) * d})")
        .mkString(", ")
      s"""WITH q AS (SELECT vec_id FROM embeddings WHERE vec_id < 20),
         |pf AS (SELECT a.vec_id AS qid, b.vec_id AS id,
         |  round(list_cosine_similarity(a.embedding::DOUBLE[],
         |    b.embedding::DOUBLE[]), 6) AS s
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id < 20),
         |ra AS (SELECT qid, id, rk FROM (SELECT qid, id,
         |  row_number() OVER (PARTITION BY qid ORDER BY s DESC, id)
         |    AS rk FROM pf) WHERE rk <= 10),
         |pp AS (SELECT a.vec_id AS qid, b.vec_id AS id,
         |  round(list_cosine_similarity((a.embedding::DOUBLE[])[1:16],
         |    (b.embedding::DOUBLE[])[1:16]), 6) AS s
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id < 20),
         |rb AS (SELECT qid, id, rk FROM (SELECT qid, id,
         |  row_number() OVER (PARTITION BY qid ORDER BY s DESC, id)
         |    AS rk FROM pp) WHERE rk <= 10),
         |com AS (SELECT ra.qid, greatest(ra.rk, rb.rk) AS m
         |  FROM ra JOIN rb ON ra.qid = rb.qid AND ra.id = rb.id),
         |dt AS (SELECT * FROM (VALUES $weightRows)
         |  AS t(d, w_num, w_den)),
         |ov AS (SELECT qid, d, w_num, w_den,
         |  CAST(count(*) AS BIGINT) AS ov
         |  FROM com JOIN dt ON m <= d GROUP BY 1, 2, 3, 4),
         |tm AS (SELECT qid, d, ov,
         |  CAST(round((CAST(ov * w_num AS DOUBLE) / w_den) * 1e6)
         |    AS BIGINT) AS tm FROM ov),
         |agg AS (SELECT qid, CAST(sum(tm) AS BIGINT) AS rbo_micro
         |  FROM tm GROUP BY 1),
         |ovk AS (SELECT qid, ov FROM ov WHERE d = 10)
         |SELECT q.vec_id AS query_id,
         |CAST(coalesce(ovk.ov, 0) AS BIGINT) AS overlap_k,
         |CAST(coalesce(agg.rbo_micro, 0) AS BIGINT) AS rbo_micro
         |FROM q LEFT JOIN agg ON agg.qid = q.vec_id
         |LEFT JOIN ovk ON ovk.qid = q.vec_id
         |ORDER BY query_id""".stripMargin
    },

    "docs_textrank" ->
      s"""WITH toks AS (
         |  SELECT [x FOR x IN string_split(text, ' ') IF len(x) > 0]
         |    AS ws FROM documents),
         |bgp AS (
         |  SELECT unnest([ws[i+1] || chr(1) || ws[i+2]
         |    FOR i IN range(len(ws) - 1)]) AS g
         |  FROM toks WHERE len(ws) >= 2),
         |bgs AS (SELECT string_split(g, chr(1))[1] AS u,
         |  string_split(g, chr(1))[2] AS v FROM bgp),
         |e AS (SELECT DISTINCT src, dst FROM (
         |  SELECT u AS src, v AS dst FROM bgs WHERE u <> v
         |  UNION ALL SELECT v, u FROM bgs WHERE u <> v)),
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
         |  FROM e GROUP BY 1),
         |r0 AS (SELECT id, CAST(1000000000 AS BIGINT) // n.n AS rank_i
         |  FROM nodes, n),
         |${prIter(1)},
         |${prIter(2)},
         |${prIter(3)}
         |SELECT id AS word, rank_i FROM r3
         |ORDER BY rank_i DESC, word LIMIT 20""".stripMargin,

    "web_host_rank" ->
      s"""WITH hosts AS (SELECT DISTINCT doc_id % 7 AS hb FROM documents),
         |e AS (SELECT hb AS src, (hb + 1) % 7 AS dst FROM hosts
         |  UNION SELECT hb, (hb * 2 + 1) % 7 FROM hosts),
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
         |  FROM e GROUP BY 1),
         |r0 AS (SELECT id, CAST(1000000000 AS BIGINT) // n.n AS rank_i
         |  FROM nodes, n),
         |${prIter(1)},
         |${prIter(2)},
         |${prIter(3)},
         |nd AS (SELECT doc_id % 7 AS id, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY 1)
         |SELECT r3.id, r3.rank_i, nd.n_docs
         |FROM r3 JOIN nd ON nd.id = r3.id ORDER BY r3.id""".stripMargin,

    "graph_labelprop" ->
      s"""WITH ${knnSql(4)},
         |l0 AS (SELECT vec_id AS id,
         |  CASE WHEN vec_id % 5 = 0 THEN CAST(label AS BIGINT) END AS label
         |  FROM embeddings),
         |${lpIter(1)},
         |${lpIter(2)}
         |SELECT id, label FROM l2 ORDER BY id""".stripMargin,

    "graph_beam_recall" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id,
        |CAST(NULL AS BIGINT) AS hits WHERE FALSE""".stripMargin,

    // nbr is referenced twice by each of the 8 unrolled rounds; AS
    // MATERIALIZED stops DuckDB inlining the O(N²) knn CTE 16× (which
    // OOMs the oracle run even at sf0.001)
    "graph_kcore" ->
      s"""WITH ${knnSql(4)},
         |m AS (SELECT e.src, e.dst FROM e
         |  JOIN e r ON e.src = r.dst AND e.dst = r.src),
         |und AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM m WHERE src <> dst GROUP BY 1, 2),
         |nbr AS MATERIALIZED (SELECT a AS id, b AS nb FROM und
         |  UNION ALL SELECT b AS id, a AS nb FROM und),
         |a0 AS (SELECT DISTINCT id FROM nbr),
         |${(1 to 8).map(kcIter(_, 2)).mkString(",\n")}
         |SELECT nb.id, CAST(count(*) AS BIGINT) AS core_degree
         |FROM nbr nb JOIN a8 x ON nb.id = x.id JOIN a8 y ON nb.nb = y.id
         |GROUP BY 1 ORDER BY nb.id""".stripMargin,

    "graph_kcore_audit" ->
      """SELECT CAST(NULL AS BIGINT) AS id,
        |CAST(NULL AS BIGINT) AS core_degree WHERE FALSE""".stripMargin,

    "graph_triangles" ->
      s"""WITH ${knnSql(4)},
         |und AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM e GROUP BY 1, 2),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM
         |  (SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
         |  GROUP BY 1),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM und e1 JOIN und e2 ON e2.a = e1.b
         |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tc AS (SELECT id, CAST(count(*) AS BIGINT) AS t FROM
         |  (SELECT x AS id FROM tri UNION ALL SELECT y AS id FROM tri
         |   UNION ALL SELECT z AS id FROM tri) GROUP BY 1)
         |SELECT deg.id, deg.degree,
         |coalesce(tc.t, 0) AS triangles,
         |round(CASE WHEN deg.degree >= 2 THEN
         |  2.0 * coalesce(tc.t, 0) / (deg.degree * (deg.degree - 1))
         |  ELSE 0.0 END, 6) + 0.0 AS clustering
         |FROM deg LEFT JOIN tc ON deg.id = tc.id
         |ORDER BY deg.id""".stripMargin,

    "eval_retrieval" ->
      """WITH q AS (SELECT vec_id, embedding, label FROM embeddings
        |  WHERE vec_id < 20),
        |p AS (
        |  SELECT q.vec_id AS query_id, b.vec_id AS id,
        |  round(list_cosine_similarity(q.embedding::DOUBLE[],
        |    b.embedding::DOUBLE[]), 6) AS score
        |  FROM q JOIN embeddings b ON q.vec_id <> b.vec_id),
        |ranked AS (SELECT query_id, id, rank FROM (
        |  SELECT query_id, id, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, id) AS INT) AS rank
        |  FROM p) WHERE rank <= 10),
        |rel AS (SELECT q.vec_id AS query_id, b.vec_id AS id
        |  FROM q JOIN embeddings b
        |  ON q.label = b.label AND q.vec_id <> b.vec_id),
        |nrel AS (SELECT query_id, count(*) AS n_rel FROM rel GROUP BY 1),
        |h AS (SELECT r.query_id, r.rank,
        |  CASE WHEN rel.id IS NULL THEN 0 ELSE 1 END AS hit
        |  FROM ranked r LEFT JOIN rel
        |  ON r.query_id = rel.query_id AND r.id = rel.id),
        |acc AS (SELECT query_id, rank,
        |  sum(CAST(hit AS DOUBLE) / (ln(rank + 1.0) / ln(2.0)))
        |    OVER (PARTITION BY query_id ORDER BY rank
        |      ROWS UNBOUNDED PRECEDING) AS dcg_cum,
        |  sum(hit) OVER (PARTITION BY query_id ORDER BY rank
        |      ROWS UNBOUNDED PRECEDING) AS hits_cum,
        |  min(CASE WHEN hit = 1 THEN rank END)
        |    OVER (PARTITION BY query_id) AS first_hit,
        |  row_number() OVER (PARTITION BY query_id ORDER BY rank DESC)
        |    AS last
        |  FROM h),
        |f AS (SELECT acc.query_id,
        |  CAST(coalesce(nrel.n_rel, 0) AS BIGINT) AS n_rel,
        |  CAST(hits_cum AS BIGINT) AS hits, dcg_cum, first_hit,
        |  LEAST(coalesce(nrel.n_rel, 0), 10) AS ideal
        |  FROM acc LEFT JOIN nrel ON acc.query_id = nrel.query_id
        |  WHERE acc.last = 1)
        |SELECT query_id, n_rel, hits,
        |round(CASE WHEN first_hit IS NOT NULL THEN 1.0 / first_hit
        |  ELSE 0.0 END, 4) AS rr,
        |round(CASE WHEN ideal > 0 THEN dcg_cum /
        |  list_sum([1.0 / (ln(i + 1.0) / ln(2.0))
        |    FOR i IN generate_series(1, GREATEST(ideal, 1))])
        |  ELSE 0.0 END, 4) AS ndcg,
        |round(CASE WHEN n_rel > 0 THEN CAST(hits AS DOUBLE) / n_rel
        |  ELSE 0.0 END, 4) AS recall_k,
        |round(CAST(hits AS DOUBLE) / 10.0, 4) AS precision_k
        |FROM f ORDER BY query_id""".stripMargin,

    "eval_retrieval_macro" ->
      """WITH q AS (SELECT vec_id, embedding, label FROM embeddings
        |  WHERE vec_id < 20),
        |p AS (
        |  SELECT q.vec_id AS query_id, b.vec_id AS id,
        |  round(list_cosine_similarity(q.embedding::DOUBLE[],
        |    b.embedding::DOUBLE[]), 6) AS score
        |  FROM q JOIN embeddings b ON q.vec_id <> b.vec_id),
        |ranked AS (SELECT query_id, id, rank FROM (
        |  SELECT query_id, id, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, id) AS INT) AS rank
        |  FROM p) WHERE rank <= 10),
        |rel AS (SELECT q.vec_id AS query_id, b.vec_id AS id
        |  FROM q JOIN embeddings b
        |  ON q.label = b.label AND q.vec_id <> b.vec_id),
        |nrel AS (SELECT query_id, count(*) AS n_rel FROM rel GROUP BY 1),
        |h AS (SELECT r.query_id, r.rank,
        |  CASE WHEN rel.id IS NULL THEN 0 ELSE 1 END AS hit
        |  FROM ranked r LEFT JOIN rel
        |  ON r.query_id = rel.query_id AND r.id = rel.id),
        |acc AS (SELECT query_id, rank,
        |  sum(CAST(hit AS DOUBLE) / (ln(rank + 1.0) / ln(2.0)))
        |    OVER (PARTITION BY query_id ORDER BY rank
        |      ROWS UNBOUNDED PRECEDING) AS dcg_cum,
        |  sum(hit) OVER (PARTITION BY query_id ORDER BY rank
        |      ROWS UNBOUNDED PRECEDING) AS hits_cum,
        |  min(CASE WHEN hit = 1 THEN rank END)
        |    OVER (PARTITION BY query_id) AS first_hit,
        |  row_number() OVER (PARTITION BY query_id ORDER BY rank DESC)
        |    AS last
        |  FROM h),
        |f AS (SELECT acc.query_id,
        |  CAST(coalesce(nrel.n_rel, 0) AS BIGINT) AS n_rel,
        |  CAST(hits_cum AS BIGINT) AS hits, dcg_cum, first_hit,
        |  LEAST(coalesce(nrel.n_rel, 0), 10) AS ideal
        |  FROM acc LEFT JOIN nrel ON acc.query_id = nrel.query_id
        |  WHERE acc.last = 1),
        |perq AS (SELECT query_id,
        |round(CASE WHEN first_hit IS NOT NULL THEN 1.0 / first_hit
        |  ELSE 0.0 END, 4) AS rr,
        |round(CASE WHEN ideal > 0 THEN dcg_cum /
        |  list_sum([1.0 / (ln(i + 1.0) / ln(2.0))
        |    FOR i IN generate_series(1, GREATEST(ideal, 1))])
        |  ELSE 0.0 END, 4) AS ndcg,
        |round(CASE WHEN n_rel > 0 THEN CAST(hits AS DOUBLE) / n_rel
        |  ELSE 0.0 END, 4) AS recall_k,
        |round(CAST(hits AS DOUBLE) / 10.0, 4) AS precision_k
        |FROM f),
        |m AS (SELECT count(*) AS cnt,
        |  sum(CAST(round(rr * 10000) AS BIGINT)) AS srr,
        |  sum(CAST(round(ndcg * 10000) AS BIGINT)) AS snd,
        |  sum(CAST(round(recall_k * 10000) AS BIGINT)) AS src_,
        |  sum(CAST(round(precision_k * 10000) AS BIGINT)) AS spr
        |  FROM perq)
        |SELECT CAST(cnt AS BIGINT) AS n_queries,
        |round(CAST(srr AS DOUBLE) / 10000.0 / cnt, 4) AS mrr,
        |round(CAST(snd AS DOUBLE) / 10000.0 / cnt, 4) AS mean_ndcg,
        |round(CAST(src_ AS DOUBLE) / 10000.0 / cnt, 4) AS mean_recall,
        |round(CAST(spr AS DOUBLE) / 10000.0 / cnt, 4) AS mean_precision
        |FROM m""".stripMargin
  )
}
