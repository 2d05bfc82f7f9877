package graft.operators

import graft.functions.Fingerprints._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-corpus training-data pipelines
  * (SURVEY.md §7.1-8 north-star extensions).
  *
  * Scale design notes (100 TB posture):
  *  - Exact dedup is one hash-shuffle on the fingerprint — the canonical
  *    map-side-combinable groupBy.
  *  - `ngramJaccardPairs` is the exact O(shared-shingle) algorithm: it
  *    shuffles on shingle, so ubiquitous shingles explode the join; at scale
  *    use `minhashLshPairs` (same output contract, sub-quadratic) and keep
  *    the exact form for verification of candidates only.
  *  - All bucket keys are machine-independent hashes (graft.functions.Hashing)
  *    so LSH agrees across executors.
  */
object Dedup {

  /** In-plan NULL-text guard for the text-DECISION operators (dedup,
    * decontamination, quality verdicts): md5(NULL) is NULL, so every
    * NULL-text row would land in ONE exact-dup group and
    * `dropExactDuplicates` would silently delete all but one of them;
    * the line/span forms would silently drop the row and the typed
    * kernels would NPE without naming the cause. A decision over a NULL
    * text is undefined — fail loudly and name the operator (callers pass
    * the fully-qualified name). One codegen'd branch, zero cost on
    * non-null rows. */
  private[operators] def textOrRaise(c: Column, op: String): Column =
    when(c.isNotNull, c).otherwise(raise_error(lit(
      s"$op: NULL text — a text decision over NULL is undefined; " +
        "filter or fill NULL texts upstream")))

  /** Fan CPU-heavy per-row work out to the session's full parallelism when
    * the input arrives under-partitioned (e.g. one small parquet file → one
    * task evaluating every signature). No-op when the source already has
    * enough partitions, so a well-partitioned production input pays no
    * extra shuffle. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // toRdd peeks at the physical partitioning without building the extra
    // row-deserializing RDD lineage that `.rdd` would attach per call.
    if (df.queryExecution.toRdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }

  /** (id, shs[, sig]) signature table via ONE typed mapPartitions kernel.
    *
    * Why imperative and not `minhashSignature(shingles(tokens(text)))`
    * columns: the signature is consumed by several plan branches (band
    * bucketing + both verify-join sides), and CollapseProject inlines an
    * expensive aliased expression into every consumer — including INSIDE
    * per-band lambda bodies, multiplying the work by the band count.
    * Caching the frame instead pays a columnar cache build and leaks into
    * the session's CacheManager. A typed kernel emits concrete columns:
    * nothing to inline, no codegen fallback, one pass per consumer branch,
    * embarrassingly parallel after `spread`. The Catalyst expressions stay
    * as the SQL-facing surface (GraftExtensions) where single-consumer use
    * is the norm. */
  private[operators] def shingleFrame(docs: DataFrame, idCol: String,
      textCol: String, n: Int, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val src = spread(docs)
      .select(col(idCol).cast("long").as("id"),
        textOrRaise(col(textCol), "Dedup minhash/shingle signatures").as("text"))
      .as[(Long, String)]
    val withSig = k > 0
    src.mapPartitions { it =>
      it.flatMap { case (id, text) =>
        val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
        if (toks.length < n) Iterator.empty
        else {
          val shs = toks.sliding(n).map(_.mkString(" ")).toArray.distinct
          val sig =
            if (!withSig) Array.emptyLongArray
            else graft.functions.Hashing.minhash(shs, k)
          Iterator.single((id, shs, sig))
        }
      }
    }.toDF("id", "shs", "sig")
  }

  // The candidate-pair skeleton. The sub-quadratic near-dup generators
  // below (all but cosinePairsSemantic) and the persisted index
  // (LshIndex) run the same three steps: kernelOnce → keyJoin → verify.

  /** Id column names of a self-join's pairs and of a batch-vs-corpus
    * probe's pairs. */
  private[operators] val SelfPair = ("id_a", "id_b")
  private[operators] val NewVsCorpus = ("new_id", "corpus_id")

  /** Step 1, the kernel: the per-doc signature or projection table a
    * generator derives from its input, MATERIALIZED once per call. A
    * kernel feeds several plan branches — the key build (often both
    * sides of a self-join) and both verify re-attach sides — and
    * exchange reuse covers at most the self-join (and none when the
    * input carries a nondeterministic expression), so left as a plan it
    * would re-run the input scan and the typed kernel once per consumer.
    * In the flagship pipeline the input is itself a join over the
    * quality gate, so each re-evaluation would repay upstream stages.
    * Measured at sf0.1 (r9): checkpoint ~9.5-10.1 s vs recompute
    * ~11-16 s for dedup_apply end-to-end, a gap that widens with the
    * cost of the input scan. EAGER: building a generator's plan already
    * runs the input scan and the kernel, even if the result is never
    * consumed. */
  private[operators] def kernelOnce(kernel: DataFrame): DataFrame =
    kernel.localCheckpoint()

  /** Step 2, the key join: ids-only equi-join of two (id, key…) tables
    * on every non-id column they share, under `pair` on the two ids,
    * each (left, right) pair kept once. Only ids and keys ride the
    * shuffle, never text or vectors. Self-joins pass `_ < _` (each
    * unordered pair once), directed ones `_ =!= _`, and batch-vs-corpus
    * probes no condition. */
  private[operators] def keyJoin(a: DataFrame, b: DataFrame,
      ids: (String, String),
      pair: (Column, Column) => Column = (_, _) => lit(true)): DataFrame = {
    val keys = a.columns.filter(_ != "id")
      .map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _)
    a.as("a").join(b.as("b"), keys && pair(col("a.id"), col("b.id")))
      .select(col("a.id").as(ids._1), col("b.id").as(ids._2))
      .dropDuplicates(ids._1, ids._2)
  }

  /** Step 3, verify: re-attach each side's payload to the candidate
    * pairs by id — `a` and `b` are (id, payload) tables — score each
    * pair, and keep it when `keep(score)` holds. Candidates are few
    * next to the kernel, so these are small id-keyed joins. */
  private[operators] def verify(cand: DataFrame, a: DataFrame,
      b: DataFrame, scoreName: String, score: (Column, Column) => Column)(
      keep: Column => Column): DataFrame = {
    val (ia, ib) = (cand.columns(0), cand.columns(1))
    cand.join(a.as("pa"), col(ia) === col("pa.id"))
      .join(b.as("pb"), col(ib) === col("pb.id"))
      .select(col(ia), col(ib), score(col(s"pa.${a.columns(1)}"),
        col(s"pb.${b.columns(1)}")).as(scoreName))
      .filter(keep(col(scoreName)))
  }

  /** Exact Jaccard of two per-doc shingle arrays, c / (|a| + |b| − c)
    * with c = |a ∩ b|: the arrays are distinct per doc, so the union
    * size follows from the set sizes. */
  private[operators] def jaccard(a: Column, b: Column): Column = {
    val c = size(array_intersect(a, b))
    c / (size(a) + size(b) - c)
  }

  /** Public signature table: (id, sig ARRAY<BIGINT> length k) per doc. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64): DataFrame =
    shingleFrame(docs, idCol, textCol, n, k).select($"id", $"sig")

  /** Typed UDAF (SURVEY.md §2.9): merge MinHash signatures by elementwise
    * min — because minhash(A ∪ B) = min(minhash(A), minhash(B))
    * (property-tested in GraftProperties), aggregating per-doc signatures
    * yields the signature of the GROUP's unioned shingle set. Enables
    * corpus/source-level overlap estimation without touching raw text
    * again: Jaccard(A, B) ≈ fraction of agreeing slots. */
  class MinHashUnion(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Seq[Long], Array[Long], Seq[Long]] {
    override def zero: Array[Long] = Array.fill(k)(Long.MaxValue)
    override def reduce(b: Array[Long], a: Seq[Long]): Array[Long] = {
      var i = 0
      while (i < k && i < a.length) {
        if (a(i) < b(i)) b(i) = a(i); i += 1
      }
      b
    }
    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      var i = 0
      while (i < k) { if (b2(i) < b1(i)) b1(i) = b2(i); i += 1 }
      b1
    }
    override def finish(b: Array[Long]): Seq[Long] = b.toSeq
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.Encoders.kryo[Array[Long]]
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Per-group MinHash signatures (one map-side-combinable aggregation),
    * e.g. groupCol = source: the signature of each source's unioned
    * shingle set. */
  def groupSignatures(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, n: Int = 3, k: Int = 64): DataFrame = {
    val agg = org.apache.spark.sql.functions.udaf(new MinHashUnion(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    val sigs = shingleFrame(docs, idCol, textCol, n, k)
      .join(docs.select(col(idCol).cast("long").as("id"),
        col(groupCol).as("grp")), "id")
    sigs.groupBy($"grp").agg(agg($"sig").as("group_sig"))
  }

  /** Estimated pairwise Jaccard between groups from their union
    * signatures: fraction of agreeing slots. */
  def groupOverlap(groupSigs: DataFrame): DataFrame =
    groupSigs.as("a").join(groupSigs.as("b"),
        col("a.grp") < col("b.grp"))
      .select(col("a.grp").as("grp_a"), col("b.grp").as("grp_b"),
        (size(filter(zip_with(col("a.group_sig"), col("b.group_sig"),
            (x, y) => x === y), eq => eq)).cast("double") /
          size(col("a.group_sig"))).as("est_jaccard"))

  /** EXACT pairwise shingle-set Jaccard between groups — the audit twin of
    * `groupOverlap`'s sketch estimate, for up to 62 groups. Instead of a
    * shingle self-join (quadratic in per-shingle group frequency), each
    * distinct shingle is reduced to the BITMASK of groups containing it —
    * two map-side-combinable aggregations keyed by shingle then by mask —
    * and every pairwise intersection/union falls out of the collected
    * (mask, count) table, whose size is the number of distinct
    * co-occurrence PATTERNS (≪ distinct shingles; ≤ 2^groups in theory,
    * dozens in practice), not data. Shingle construction matches
    * `shingleFrame`'s kernel (lowercase whitespace tokens, space-joined
    * n-grams, per-doc distinct → per-group union). Emits every group pair
    * (grp_a < grp_b) where both groups have ≥ 1 shingle, including
    * zero-overlap ones. */
  def groupOverlapExact(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, n: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rawGroups = docs.select(col(groupCol).cast("string")).distinct()
      .as[String].collect()
    require(!rawGroups.contains(null),
      s"groupOverlapExact: NULL value in group column '$groupCol'")
    val groups = rawGroups.sorted
    require(groups.length <= 62,
      s"groupOverlapExact supports at most 62 groups, got ${groups.length}")
    val gidx = typedLit(groups.zipWithIndex.toMap)
    // shingles come from the typed kernel (shingleFrame; the shingles()
    // expression tree runs interpreted — PLANS.md lesson 6) and no
    // distinct precedes the aggregation: bit_or is idempotent, so
    // duplicate (group, shingle) occurrences cost nothing — one map-side-
    // combinable shuffle keyed by shingle replaces distinct + self-join.
    val maskCnt = shingleFrame(docs, idCol, textCol, n, k = 0)
      .join(docs.select(col(idCol).cast("long").as("id"),
        col(groupCol).cast("string").as("grp")), "id")
      .select(col("grp"), explode(col("shs")).as("sg"))
      .withColumn("_gidx", element_at(gidx, col("grp")))
      .withColumn("m", expr("shiftleft(CAST(1 AS BIGINT), _gidx)"))
      .groupBy(col("sg")).agg(expr("bit_or(m)").as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
      .as[(Long, Long)].collect()
    val k = groups.length
    val sizes = Array.tabulate(k) { i =>
      maskCnt.collect { case (m, c) if ((m >> i) & 1L) == 1L => c }.sum
    }
    val rows = for {
      a <- 0 until k
      b <- (a + 1) until k
      if sizes(a) > 0 && sizes(b) > 0
    } yield {
      val c = maskCnt.collect {
        case (m, cnt) if ((m >> a) & 1L) == 1L && ((m >> b) & 1L) == 1L => cnt
      }.sum
      (groups(a), groups(b), c.toDouble / (sizes(a) + sizes(b) - c))
    }
    rows.toDF("grp_a", "grp_b", "jaccard")
  }

  /** Exact duplicate groups by content fingerprint: one row per distinct
    * text with the lowest id as the canonical representative. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5Fingerprint(textOrRaise(col(textCol), "Dedup.exactGroups"))
        .as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Rows surviving exact dedup (keep lowest id per identical text). */
  def dropExactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.join(
      exactGroups(docs, idCol, textCol).select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")

  /** (base, common): the per-doc distinct-shingle table (with set sizes)
    * and the shared-shingle count per (id_a < id_b) pair — the candidate
    * core both the Jaccard and the containment pair generators divide
    * into their respective denominators. Ids only ride the shingle
    * shuffle; arrays stay columnar at rest. */
  private def sharedShingleCounts(docs: DataFrame, idCol: String,
      textCol: String, n: Int): (DataFrame, DataFrame) = {
    val base = shingleFrame(docs, idCol, textCol, n, k = 0)
      .withColumn("n_sh", size($"shs"))
    val sh = base.select($"id", explode($"shs").as("sg"))
    val common = sh.as("a").join(sh.as("b"),
        col("a.sg") === col("b.sg") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("c"))
    (base, common)
  }

  /** Exact n-gram Jaccard near-duplicate pairs: all (a < b) with
    * |shingles(a) ∩ shingles(b)| / |union| >= threshold.
    * Shuffles on shingle; exact but quadratic in per-shingle doc frequency.
    *
    * Set sizes come straight from `size(shs)` on the per-doc array — no
    * extra groupBy shuffle — and re-attach to the (small) pair frame via
    * equi-joins that AQE turns into broadcasts when pairs are few. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val (base, common) = sharedShingleCounts(docs, idCol, textCol, n)
    common
      .join(base.select($"id".as("id_a"), $"n_sh".as("na")), "id_a")
      .join(base.select($"id".as("id_b"), $"n_sh".as("nb")), "id_b")
      .select($"id_a", $"id_b",
        ($"c" / ($"na" + $"nb" - $"c")).as("jaccard"))
      .filter($"jaccard" >= threshold)
  }

  /** Prefix-filtered exact Jaccard pairs — the LOSSLESS scale path: the
    * same output set as [[ngramJaccardPairs]] (a theorem, not a recall
    * curve — unlike LSH there is no S-curve to tune), with candidate
    * generation pruned by prefix filtering (PPJoin family): under any
    * single global shingle order, two sets with J ≥ t MUST share a
    * shingle among each one's first |S| − ⌈t·|S|⌉ + 1 shingles. We
    * order by (document frequency asc, shingle), so prefixes are each
    * doc's RAREST shingles — the join key fan-out per shingle collapses
    * from "every doc containing it" to "docs whose prefix contains it",
    * which removes exactly the ubiquitous-shingle explosion that makes
    * the naive shared-shingle join quadratic.
    *
    * Scale shape: one df count keyed by shingle, one doc-keyed prefix
    * aggregation, a self-join that only prefix rows enter, then the
    * skeleton's verify: each side's doc-level shingle SET re-attaches by
    * id (doc-grain rows, no shingle-grain shuffle) and intersects
    * in-row. */
  def prefixFilterJaccardPairs(docs: DataFrame, idCol: String,
      textCol: String, n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val (base, cand) = jaccardCandidates(docs, idCol, textCol, n, threshold)
    val sets = base.select($"id", $"shs")
    verify(cand, sets, sets, "jaccard", jaccard)(_ >= threshold)
  }

  /** (kernel, shingle rows, prefix rows): the ONE prefix builder of the
    * Jaccard and containment filters and of their pruning audits, so an
    * audit measures the filter that ships. A doc's prefix is its first
    * |S| − ⌈t·|S|⌉ + 1 shingles under the global (document frequency
    * asc, shingle) order — the same length for both relations. One
    * doc-keyed aggregation builds it: a per-doc array_sort of
    * (_df, sg) structs, then a slice, where a row_number window would
    * also sort the whole shingle table. The PPJoin theorem needs only a
    * CONSISTENT global order. */
  private def prefixed(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): (DataFrame, DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val base = kernelOnce(shingleFrame(docs, idCol, textCol, n, k = 0))
    val sh = base.select($"id", explode($"shs").as("sg"))
    val dfreq = sh.groupBy($"sg").agg(count(lit(1)).as("_df"))
    val prefix = sh.join(dfreq, "sg").groupBy($"id")
      .agg(array_sort(collect_list(struct($"_df", $"sg"))).as("_ord"))
      .select($"id", explode(slice($"_ord", lit(1), (size($"_ord") -
        ceil(size($"_ord") * lit(threshold)) + lit(1)).cast("int"))
        .getField("sg")).as("sg"))
    (base, sh, prefix)
  }

  /** (kernel, candidate (id_a < id_b) pairs) of
    * [[prefixFilterJaccardPairs]] and its audit: prefix meets prefix. */
  private def jaccardCandidates(docs: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double): (DataFrame, DataFrame) = {
    val (base, _, prefix) = prefixed(docs, idCol, textCol, n, threshold)
    (base, keyJoin(prefix, prefix, SelfPair, _ < _))
  }

  /** Candidate-pair count under prefix filtering vs the naive shared-
    * shingle join — the pruning-effectiveness audit backing the
    * [[prefixFilterJaccardPairs]] scaladoc's claim; shares the candidate
    * builder with the operator, by construction. */
  private[graft] def prefixFilterCandidateCount(docs: DataFrame,
      idCol: String, textCol: String, n: Int, threshold: Double): Long =
    jaccardCandidates(docs, idCol, textCol, n, threshold)._2.count()

  /** (id, bucket) band keys from a signature table: bucket = hash of
    * (band index, the band's signature slice). Content-derived and
    * machine-independent, so bucket tables built on different runs — or
    * persisted from a previous snapshot — collide correctly. */
  private[operators] def bandBuckets(sig: DataFrame, bands: Int,
      rows: Int): DataFrame =
    sig.select($"id",
      explode(array((0 until bands).map { b =>
        xxhash64(concat_ws("_", lit(b), concat_ws(",",
          transform(slice($"sig", b * rows + 1, rows), _.cast("string")))))
      }: _*)).as("bucket"))

  /** (bucket, n) band-bucket occupancy for a corpus — the skew audit
    * surface behind [[minhashLshPairs]]' scale claim: candidate fan-out
    * is Σ n·(n−1)/2 over buckets, so the LARGEST bucket bounds the
    * worst key. MinHash samples the WHOLE shingle set, which is why a
    * ubiquitous boilerplate paragraph (the thing that detonates the
    * naive shared-shingle join) barely moves bucket sizes: only docs
    * whose full near-dup signature collides share a bucket. */
  private[graft] def bandBucketCounts(docs: DataFrame, idCol: String,
      textCol: String, n: Int = 3, k: Int = 64,
      bands: Int = 16): DataFrame = {
    require(k % bands == 0, s"bands=$bands must divide k=$k")
    val sig = shingleFrame(docs, idCol, textCol, n, k)
    bandBuckets(sig, bands, k / bands)
      .groupBy($"bucket").agg(count(lit(1)).as("n"))
  }

  /** MinHash + LSH near-duplicate pairs — the scale path. Signature of k
    * hashes split into `bands`; docs sharing any band bucket become
    * candidates; candidates are verified with the exact shingle-set Jaccard,
    * so the OUTPUT contract equals `ngramJaccardPairs` whenever banding
    * recall is 1 at the threshold (choose bands so that
    * (1/bands)^(k/bands·…) — standard S-curve — is well left of it).
    * Eager, as every skeleton generator ([[kernelOnce]]). */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    require(k % bands == 0, s"bands=$bands must divide k=$k")
    val sig = kernelOnce(shingleFrame(docs, idCol, textCol, n, k))
    val buckets = bandBuckets(sig, bands, k / bands)
    val sets = sig.select($"id", $"shs")
    verify(keyJoin(buckets, buckets, SelfPair, _ < _), sets, sets,
      "jaccard", jaccard)(_ >= threshold)
  }

  /** Directed shingle-set CONTAINMENT pairs: containment(a in b) =
    * |shingles(a) ∩ shingles(b)| / |shingles(a)| — the asymmetric dedup
    * relation Jaccard misses: a short document quoted wholesale inside a
    * long one has containment ≈ 1 but Jaccard ≈ |a|/|b| ≈ 0. Emits both
    * directions of every qualifying ordered pair (id_a, id_b,
    * containment of a in b ≥ threshold).
    *
    * LOSSLESS scale path (the containment variant of PPJoin's prefix
    * filter, cheaper than the Jaccard case because the threshold binds
    * the CONTAINED side only): under a global (df asc, shingle) order,
    * containment(a in b) ≥ t ⟹ |A∩B| ≥ ⌈t·|A|⌉, so if none of A's
    * first |A| − ⌈t·|A|⌉ + 1 shingles (its RAREST ones) were in B, the
    * remaining ⌈t·|A|⌉ − 1 could not cover the intersection — a's
    * prefix MUST hit B. Candidates are therefore prefix(a) ⨝ shingle
    * table(b): per-shingle fan-out is prefixDf(s)·df(s), not df(s)² —
    * a ubiquitous shingle is (by construction) in almost no prefix, so
    * the quadratic bucket the naive shared-shingle join builds on it
    * never forms. Verification is doc-grain `array_intersect` on the
    * candidate pairs; the output set equals the naive form's (theorem,
    * spec-pinned), at high thresholds with prefixes a few shingles
    * long. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.9): DataFrame = {
    val (base, cand) = containmentCandidates(docs, idCol, textCol, n,
      threshold)
    val sets = base.select($"id", $"shs")
    verify(cand, sets, sets, "containment",
      (a, b) => size(array_intersect(a, b)) / size(a))(_ >= threshold)
  }

  /** (kernel, directed candidate pairs) of [[containmentPairs]] and its
    * audit [[containmentCandidateCount]]: a's prefix meets b's FULL
    * shingle set (the contained side is 'a', so only 'a' gets a prefix;
    * b-in-a pairs form from b's own prefix in the same join). */
  private def containmentCandidates(docs: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double): (DataFrame, DataFrame) = {
    val (base, sh, prefix) = prefixed(docs, idCol, textCol, n, threshold)
    (base, keyJoin(prefix, sh, SelfPair, _ =!= _))
  }

  /** The naive shared-shingle containment form — quadratic in
    * per-shingle document frequency; kept ONLY as the spec's equality
    * witness for [[containmentPairs]]' lossless prefix filter. */
  private[graft] def containmentPairsNaive(docs: DataFrame, idCol: String,
      textCol: String, n: Int = 3, threshold: Double = 0.9): DataFrame = {
    val (base, common) = sharedShingleCounts(docs, idCol, textCol, n)
    val directed = common
      .unionByName(common.select($"id_b".as("id_a"), $"id_a".as("id_b"), $"c"))
    directed
      .join(base.select($"id".as("id_a"), $"n_sh".as("na")), "id_a")
      .select($"id_a", $"id_b", ($"c" / $"na").as("containment"))
      .filter($"containment" >= threshold)
  }

  /** Directed candidate-pair count under the containment prefix filter —
    * the pruning-effectiveness audit backing [[containmentPairs]]'
    * scaladoc (mirror of [[prefixFilterCandidateCount]]); shares the
    * candidate builder with the operator, by construction. */
  private[graft] def containmentCandidateCount(docs: DataFrame,
      idCol: String, textCol: String, n: Int, threshold: Double): Long =
    containmentCandidates(docs, idCol, textCol, n, threshold)._2.count()

  /** Incremental near-dup: which NEW documents near-duplicate an EXISTING
    * corpus document — the nightly-crawl-vs-snapshot production shape.
    * Returns (new_id, corpus_id, jaccard) for verified pairs at/above the
    * threshold; new×new and corpus×corpus pairs never form (dedup WITHIN
    * the new batch is a separate `minhashLshPairs` call if wanted).
    *
    * Scale design: band bucket keys are content hashes (`bandBuckets`), so
    * the corpus side's signatures and (id, bucket) table can be computed
    * ONCE, persisted with the snapshot, and reused every run — per-run cost
    * is then signing the new batch plus one bucket-keyed join against the
    * persisted table (partition the persisted table by bucket and the join
    * prunes). Candidate verification re-attaches shingle arrays by id on
    * each side, never crossing them through the bucket shuffle. */
  def incrementalLshPairs(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, n: Int = 3, k: Int = 64,
      bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    require(k % bands == 0, s"bands=$bands must divide k=$k")
    val sigNew = kernelOnce(shingleFrame(newDocs, idCol, textCol, n, k))
    val sigOld = kernelOnce(shingleFrame(corpus, idCol, textCol, n, k))
    verify(keyJoin(bandBuckets(sigNew, bands, k / bands),
        bandBuckets(sigOld, bands, k / bands), NewVsCorpus),
      sigNew.select($"id", $"shs"), sigOld.select($"id", $"shs"),
      "jaccard", jaccard)(_ >= threshold)
  }

  /** (id, sig) 64-bit SimHash signature table — typed kernel, same
    * rationale as `shingleFrame`: a concrete sig column that nothing
    * inlines into downstream chunk expressions. Shared by `simhashPairs`
    * and the radius audits (which join this table directly instead of
    * regenerating candidates). */
  def simhashSignatures(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    spread(docs)
      .select(col(idCol).cast("long").as("id"),
        textOrRaise(col(textCol), "Dedup.simhashSignatures").as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val toks = text.toLowerCase.split("\\s+").iterator
            .filter(_.nonEmpty)
          (id, graft.functions.Hashing.simhash(toks))
        }
      }.toDF("id", "sig")
  }

  /** SimHash near-duplicate pairs: 64-bit signature, candidates from chunk
    * collisions, verified by bit_count. The 64 bits are partitioned into
    * maxHamming+1 chunks — by pigeonhole, any pair within the distance must
    * agree exactly on at least one chunk, so candidate recall is 1. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // a negative radius would build ZERO chunks and silently return an
    // empty frame — reject it loudly instead
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val sig = kernelOnce(simhashSignatures(docs, idCol, textCol))
    val numChunks = math.min(maxHamming + 1, 64)
    val chunks = sig.select($"id",
      explode(array((0 until numChunks).map { i =>
        val start = i * 64 / numChunks
        val width = (i + 1) * 64 / numChunks - start
        val mask = if (width == 64) -1L else (1L << width) - 1L
        concat_ws("_", lit(i),
          shiftrightunsigned($"sig", start).bitwiseAND(lit(mask)).cast("string"))
      }: _*)).as("chunk"))
    verify(keyJoin(chunks, chunks, SelfPair, _ < _), sig, sig, "hamming",
      (a, b) => bit_count(a.bitwiseXOR(b)))(_ <= maxHamming)
  }

  /** Embedding-cosine near-duplicate pairs, exact (all-pairs). Quadratic:
    * keep for verification / small sides; scale path = `cosinePairsLsh`. */
  def cosinePairsBrute(embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val e = spread(embs).select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosineSimilarity(col("a.v"), col("b.v")).as("cosine"))
      .filter($"cosine" >= threshold)
  }

  /** SemDeDup-style cluster-local semantic near-dup pairs: k-means the
    * embedding space, then compare only WITHIN each cluster — the other
    * sub-quadratic path besides `cosinePairsLsh`, and the one that adapts
    * to data geometry (LSH buckets are random; clusters follow density).
    * Candidates are exact-verified, so PRECISION is 1 by construction
    * (every emitted pair is a true ≥-threshold pair — the containment
    * `emb_semantic_precision` gates with a 0-row oracle); recall is the
    * probability that a near-dup pair co-clusters, which is high exactly
    * when clusters are meaningful (pinned per-corpus in DedupSpec). Per-
    * cell work is quadratic in CELL size — ncells is the knob that trades
    * recall for bounded candidates at 100 TB, and the cell join carries
    * (id, vector) only after the cell shuffle.
    *
    * The one generator off the candidate-pair skeleton: its candidate
    * set is every within-cell pair, quadratic in cell size, so the
    * skeleton's pair dedup and two id re-attach joins over that set cost
    * more than carrying the vector through the cell join — measured
    * 3.1 → 4.2 s on `emb_semantic_precision` at sf0.1. Each id has one
    * cell, so the join emits each pair once with no dedup. */
  def cosinePairsSemantic(embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, ncells: Int, maxIter: Int = 50): DataFrame = {
    val model = KMeansCluster.fit(embs, vecCol, ncells, maxIter)
    val a = KMeansCluster.assign(
        spread(embs).select(col(idCol).cast("long").as("id"),
          asDouble(col(vecCol)).as("v")), "v", model)
    a.as("x").join(a.as("y"),
        col("x.cell") === col("y.cell") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        cosineSimilarity(col("x.v"), col("y.v")).as("cosine"))
      .filter($"cosine" >= threshold)
  }

  /** Embedding near-dup via sign-random-projection LSH: bucket on bands of
    * hyperplane-sign bits, verify candidates exactly. Sub-quadratic; recall
    * depends on bands/bits at the threshold. */
  def cosinePairsLsh(embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 16, bands: Int = 4,
      seed: Long = 42L): DataFrame = {
    require(planes % bands == 0, s"bands=$bands must divide planes=$planes")
    val dim = embs.select(size(col(vecCol))).first().getInt(0)
    val bits = planes / bands
    val hyper = randomHyperplanes(planes, dim, seed)
    // sign bits + band keys in one typed kernel (same rationale as
    // shingleFrame: concrete columns, no plane-literal expression volume,
    // no cache leak). ONLY (id, bucket) rides the self-join shuffle — at
    // scale the embedding column dwarfs the key, so keeping it out of the
    // exchange is the difference between shuffling ids and shuffling the
    // whole corpus.
    val kernel = kernelOnce {
      val spark = embs.sparkSession
      import spark.implicits._
      spread(embs)
        .select(col(idCol).cast("long").as("id"),
          asDouble(col(vecCol)).as("v"))
        .as[(Long, Seq[Double])]
        .mapPartitions { it =>
          it.map { case (id, v) =>
            val arr = v.toArray
            val bandKeys = Array.tabulate(bands) { b =>
              var key = 0L
              var j = 0
              while (j < bits) {
                val plane = hyper(b * bits + j)
                var d = 0.0
                var i = 0
                val n = math.min(arr.length, plane.length)
                while (i < n) { d += arr(i) * plane(i); i += 1 }
                key = (key << 1) | (if (d >= 0) 1L else 0L)
                j += 1
              }
              s"${b}_$key"
            }
            (id, v, bandKeys)
          }
        }.toDF("id", "v", "bands")
    }
    val buckets = kernel.select($"id", explode($"bands").as("bucket"))
    val vecs = kernel.select($"id", $"v")
    verify(keyJoin(buckets, buckets, SelfPair, _ < _), vecs, vecs, "cosine",
      cosineSimilarity)(_ >= threshold)
  }

  private def randomHyperplanes(planes: Int, dim: Int,
      seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(planes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Connected components over a near-dup pair list: collapses pairwise
    * evidence (from any of the pair generators — n-gram Jaccard, MinHash
    * LSH, SimHash, cosine) into dedup GROUPS, labeling every member with
    * the smallest id reachable from it. This is the step that turns "A~B,
    * B~C" into one keep-decision for {A, B, C} even though A and C were
    * never directly compared.
    *
    * Algorithm: iterative min-label propagation with pointer-jumping —
    * each round every node takes the min of its own and its neighbors'
    * labels, then shortcuts to its label's label. The shortcut composes
    * two hops per round, so convergence is O(log diameter) rounds, which
    * holds up even on chain-shaped components (near-dup clusters are
    * usually shallow, but corpus-scale dedup cannot assume it). Each round
    * is two id-keyed shuffles; labels are (long, long) pairs — no text, no
    * vectors. The driver only sees the converged/changed COUNT per round,
    * never data. maxIter bounds the pathological residue (2^maxIter-deep
    * chains). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      strict: Boolean = true): DataFrame = {
    // localCheckpoint (eager) rather than cache: it TRUNCATES the lineage,
    // so each iteration's plan is a 2-join tree over materialized blocks
    // instead of a tree that re-embeds the (possibly very expensive) pair
    // generator plus every previous round — without it, driver-side
    // re-analysis grows per round and a lost executor would recompute the
    // whole pair pipeline. (Production clusters with churn would use
    // reliable `checkpoint` to a durable dir; same structure.)
    val edges = pairs.select($"id_a".as("a"), $"id_b".as("b"))
      .unionByName(pairs.select($"id_b".as("a"), $"id_a".as("b")))
      .distinct()
      .localCheckpoint()
    var labels = edges.select($"a".as("id")).distinct()
      .withColumn("comp", $"id")
      .localCheckpoint()
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // neighbor-min pass: node ← min(own, min over incoming neighbor
      // labels). Convergence detection rides THIS materialization as an
      // Observation (zero extra jobs): if the neighbor-min pass decreases
      // no label, then by edge symmetry comp[a] == comp[b] on every edge —
      // labels are constant per component, and since comp values are node
      // ids bounded below by the component min (whose own label is itself),
      // that constant IS the min id: fully converged. The previous
      // next-vs-prev count join spent one whole job per round re-proving
      // the same fact.
      // auto-named (r17): a fixed per-iter name collides when two CC
      // loops run concurrently (driver-thread overlap, guide §2.6) —
      // one loop's listener could then read the OTHER's changed-count
      // and end its loop early. Observation() generates a unique name.
      val obs = org.apache.spark.sql.Observation()
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "a"), "a")
        .groupBy($"b".as("id"))
        .agg(min($"comp").as("ncomp"))
      val stepped = labels.join(viaNeighbors, Seq("id"), "left")
        .select($"id", $"comp",
          coalesce($"ncomp", $"comp").as("ncomp"))
        .observe(obs,
          sum(when($"ncomp" < $"comp", 1L).otherwise(0L)).as("chg"))
        .select($"id", least($"comp", $"ncomp").as("comp"))
        .localCheckpoint()
      changed = Option(obs.get.getOrElse("chg", null))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      if (changed == 0L) {
        // stable: labels already hold the converged assignment
        stepped.unpersist()
      } else {
        // pointer-jumping shortcut: node ← label OF its label. Every comp
        // value is itself a node id (the min id seen so far), so the self-
        // join is total; composing the two hops halves the remaining depth
        // each round — O(log diameter) rounds instead of O(diameter), which
        // is what survives a chain-shaped component at corpus scale. Labels
        // are still (long, long) rows; the extra join shuffles label pairs
        // only.
        val next = stepped.as("l")
          .join(stepped.as("r"), col("l.comp") === col("r.id"))
          .select(col("l.id").as("id"), col("r.comp").as("comp"))
          .localCheckpoint()
        stepped.unpersist()
        labels.unpersist()
        labels = next
      }
      iter += 1
    }
    edges.unpersist()
    if (changed > 0) {
      // min-label propagation moves one hop per round: a component whose
      // diameter exceeds maxIter is still UNCONVERGED here, and silently
      // returning would make dropNearDuplicates keep near-duplicates with
      // no signal. Fail loudly (or warn when the caller opted out).
      val msg = s"connectedComponents did not converge after $maxIter " +
        s"iterations ($changed labels still changing) — raise maxIter " +
        "(with pointer jumping that means components ~2^maxIter hops deep)"
      if (strict) throw new IllegalStateException(msg)
      else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    labels
  }

  /** The dedup ACTION: drop every non-representative member of each
    * near-dup cluster (representative = smallest id — the deterministic
    * keep-first policy; first-by-id matches the exact-dedup keep_id
    * contract). Composes a pair generator → connectedComponents →
    * anti-join; only ids travel in the final join. */
  def dropNearDuplicates(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val losers = connectedComponents(pairs)
      .filter($"id" =!= $"comp")
      .select($"id".as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** The dedup ACTION with a QUALITY policy: per near-dup cluster keep the
    * member maximizing `weights`' weight column (ties → smallest id), not
    * the smallest id — "keep the best copy", the curation-grade variant of
    * keep-first. `weights` is (idCol, weightCol); only cluster MEMBERS join
    * it (cluster cardinality, not corpus cardinality), and the per-cluster
    * argmax is one component-keyed window over (id, comp, weight) rows —
    * ids and doubles on the shuffle, never text.
    *
    * NaN/null/MISSING weights sort LAST (a quality signal that failed to
    * compute must never beat one that did — and a member with no weights
    * row at all is the same failure: it must still be ranked, not
    * silently escape the cluster and survive as a duplicate, which is
    * why the weights join below is LEFT, not inner). */
  def dropNearDuplicatesBest(docs: DataFrame, idCol: String,
      pairs: DataFrame, weights: DataFrame, weightCol: String): DataFrame = {
    val members = connectedComponents(pairs)
    val safeW = when(col(weightCol).isNull || isnan(col(weightCol)),
      lit(Double.NegativeInfinity)).otherwise(col(weightCol))
    // one weight per member AFTER the left join (max — ties cannot arise
    // post-reduce): a duplicated weights row used to fan its member out
    // into BOTH a rank-1 and a rank>1 row, so the cluster's BEST member
    // landed in the losers anti-join and was silently dropped. Reducing
    // on (id, comp) post-join keeps the reduce at MEMBER cardinality —
    // the scaladoc's "cluster cardinality, not corpus cardinality"
    // claim — instead of pre-aggregating the full weights frame.
    val ranked = members
      .join(weights.select(col(idCol).as("id"), safeW.as("w")),
        Seq("id"), "left")
      .groupBy($"id", $"comp").agg(max($"w").as("w"))
      .withColumn("w", coalesce($"w", lit(Double.NegativeInfinity)))
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy($"comp").orderBy(desc("w"), $"id")))
    val losers = ranked.filter($"rk" > 1).select($"id".as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** SOFT dedup: instead of dropping near-duplicate cluster members,
    * weight every document by 1/|its cluster| (singletons weigh 1.0) —
    * the reweighting alternative to [[dropNearDuplicates]] (SoftDeDup,
    * ACL 2024: keep the data, down-sample its repetition), which a
    * training-data sampler consumes directly as an epoch multiplier.
    * Output: (idCol, cluster_size, weight); weight is ONE division of
    * exact integers, so both engines emit identical doubles.
    *
    * Scale shape: connectedComponents' (long, long) shuffles, one
    * comp-keyed count, and two id-keyed joins — cluster members only;
    * the corpus joins by id, text never moves. */
  def softDedupWeights(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val members = connectedComponents(pairs)
    val sizes = members.groupBy($"comp")
      .agg(count(lit(1)).as("cluster_size"))
    val weighted = members.join(sizes, "comp")
      .select($"id".as(idCol), $"cluster_size")
    docs.select(col(idCol)).join(weighted, Seq(idCol), "left")
      .select(col(idCol),
        coalesce($"cluster_size", lit(1L)).as("cluster_size"),
        (lit(1.0) / coalesce($"cluster_size", lit(1L))).as("weight"))
  }

  /** Non-empty (doc_id, pos, line) rows of each document — the explode the
    * line-level ops share. Whitespace-only lines are dropped (a blank line
    * is structure, not content; deduping it corpus-wide would strip one
    * copy of every paragraph break). */
  private def lineRows(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(textOrRaise(col(textCol), "Dedup line dedup"), "\n"))
          .as(Seq("pos", "line")))
      .filter(length(trim(col("line"))) > 0)

  /** Corpus-wide line-level exact dedup (C4-style boilerplate removal):
    * a line's first occurrence — ordered by (doc_id, pos) — survives,
    * every later copy anywhere in the corpus drops. Returns per-document
    * (n_lines, n_kept).
    *
    * Scale shape: the only shuffle keys on xxhash64(line) and carries
    * (hash, doc_id, pos) — the line TEXT never leaves its scan task, so at
    * 100 TB the exchange moves ~20 bytes per line, not the corpus. */
  def lineDedupCounts(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val hashed = lineRows(docs, idCol, textCol)
      .select(col("doc_id"), col("pos"), xxhash64(col("line")).as("h"))
    val winners = hashed.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
      .select(col("w.doc_id").as("doc_id"))
    val total = hashed.groupBy(col("doc_id")).agg(count(lit(1)).as("n_lines"))
    val kept = winners.groupBy(col("doc_id")).agg(count(lit(1)).as("n_kept"))
    total.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** The rewrite form: documents with their duplicate lines removed (first
    * corpus occurrence kept, original line order preserved; documents whose
    * every line was a duplicate disappear). One extra shuffle vs the counts
    * form — the surviving lines regroup by doc_id to rebuild the text,
    * which any rewrite must pay. */
  def dropDuplicateLines(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val lines = lineRows(docs, idCol, textCol)
    val winners = lines
      .select(col("doc_id"), col("pos"), xxhash64(col("line")).as("h"))
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.pos").as("pos"))
    lines.join(winners, Seq("doc_id", "pos"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(array_sort(
          collect_list(struct(col("pos"), col("line")))),
        r => r.getField("line")), "\n").as("text"))
  }

  /** Exact duplicated-substring spans (the fixed-window form of
    * suffix-array substring dedup — "Deduplicating Training Data Makes
    * Language Models Better", Lee et al. 2022, §4.1): a character position
    * is DUPLICATED when its `winLen`-char window occurs byte-identically
    * anywhere else in the corpus (including elsewhere in the same
    * document). Returns per-document
    * (doc_id, total_windows, dup_windows, dup_frac).
    *
    * Scale shape (100 TB posture):
    *  - Pass 1 is a typed kernel computing a ROLLING 64-bit polynomial hash
    *    — O(chars) per document, not O(chars × winLen) like a
    *    substring-per-position expression — and the only corpus-sized
    *    shuffle moves (hash, doc_id, pos) at ~24 bytes/position; window
    *    TEXT never leaves its scan task.
    *  - Only positions whose hash repeats ("candidates" — rare in clean
    *    corpora) re-join their document to extract the real window, and a
    *    final text-equality count kills hash collisions, so the result is
    *    EXACT, not hash-defined: a true duplicate's occurrences all share
    *    one hash, so every one of them reaches the verify stage.
    *  - A pathological corpus (one phrase everywhere) concentrates one hash
    *    key; the verify join replicates only those positions — same skew
    *    posture as `lineDedupCounts`. */
  def duplicateSpanCounts(docs: DataFrame, idCol: String, textCol: String,
      winLen: Int = 32): DataFrame = {
    val src = normalizedDocs(docs, idCol, textCol)
    val dups = duplicatedPositions(src, winLen)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dup_windows"))
    src.select(col("doc_id"),
        greatest(length(col("text")) - (winLen - 1), lit(0)).cast("long")
          .as("total_windows"))
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("total_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"))
      .withColumn("dup_frac",
        when(col("total_windows") > 0,
          round(col("dup_windows").cast("double") / col("total_windows"), 4)))
  }

  /** The ACTION form of [[duplicateSpanCounts]]: maximal merged character
    * spans [span_start, span_end) of corpus-duplicated windows per
    * document, with the number of duplicated windows each span merges —
    * the unit a span-level rewriter cuts (Lee et al. 2022 drop the span
    * from all-but-one occurrence). Positions whose windows OVERLAP OR
    * TOUCH (gap ≤ winLen — not merely adjacent positions) coalesce via one
    * islands pass (lag + running sum over the per-doc position order — a
    * single (doc_id)-keyed window), so emitted spans never share
    * characters and are truly maximal. */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      winLen: Int = 32): DataFrame = {
    val src = normalizedDocs(docs, idCol, textCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val run = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    duplicatedPositions(src, winLen)
      .withColumn("brk",
        when(lag(col("pos"), 1).over(w) >= col("pos") - winLen, 0)
          .otherwise(1))
      .withColumn("span", sum(col("brk")).over(run))
      .groupBy(col("doc_id"), col("span"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + winLen).as("span_end"),
        count(lit(1)).as("n_windows"))
      .drop("span")
  }

  private def normalizedDocs(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    spread(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        textOrRaise(col(textCol), "Dedup duplicate spans").as("text"))

  /** Verified corpus-duplicated (doc_id, pos) window positions — the shared
    * candidate pipeline of the counts and spans forms (see
    * [[duplicateSpanCounts]] scaladoc for the scale/exactness argument). */
  private def duplicatedPositions(src: DataFrame, winLen: Int): DataFrame = {
    val spark = src.sparkSession
    import spark.implicits._
    val wins = src.as[(Long, String)].mapPartitions { it =>
      // rolling polynomial hash: h(i+1) = (h(i) - s(i)·B^(L-1))·B + s(i+L)
      // over Long wraparound arithmetic (mod 2^64)
      val B = 1099511628211L // FNV prime — odd, so ·B is invertible mod 2^64
      it.flatMap { case (id, text) =>
        // hash CODE POINTS at code-point positions: Spark's substr()/
        // length() and the DuckDB oracle are code-point based, so UTF-16
        // char offsets would extract shifted windows in the verify join
        // for any document with a supplementary-plane char.
        val cps = text.codePoints().toArray
        val n = cps.length
        if (n < winLen) Iterator.empty
        else {
          var top = 1L // B^(winLen-1)
          var j = 1
          while (j < winLen) { top *= B; j += 1 }
          var h0 = 0L
          var i = 0
          while (i < winLen) { h0 = h0 * B + cps(i); i += 1 }
          // lazy per-position emission: no per-document tuple array (a
          // 100 MB document must not hold ~n boxed tuples in one task)
          new Iterator[(Long, Int, Long)] {
            private var p = 0
            private var h = h0
            def hasNext: Boolean = p <= n - winLen
            def next(): (Long, Int, Long) = {
              val out = (id, p, h)
              if (p < n - winLen) h = (h - cps(p) * top) * B + cps(p + winLen)
              p += 1
              out
            }
          }
        }
      }
    }.toDF("doc_id", "pos", "h")
    // JOIN STRATEGY IS FORCED to sort-merge on every verification join
    // below (r17): all three build sides — the repeated-hash set, the
    // corpus text re-attach, the duplicated-window set — are
    // DUPLICATION-BOUNDED, not statically bounded: on a corpus of
    // near-identical documents each approaches corpus size. AQE's
    // runtime SMJ→broadcast conversion sizes them from COMPRESSED
    // shuffle bytes, and highly repetitive text compresses ~100×, so at
    // a 32×-replica rehearsal it chose to broadcast the corpus text and
    // died building the hash relation ("Not enough memory to build and
    // broadcast"). Sort-merge spills gracefully at any size (guide
    // §3.1); at sf0.1 these joins already planned sort-merge statically,
    // so the hint costs nothing locally and removes the scale killer.
    val candHash = wins.groupBy(col("h")).agg(count(lit(1)).as("hc"))
      .filter(col("hc") > 1).select(col("h"))
    val candPos = wins.join(candHash.hint("merge"), Seq("h"))
      .select(col("doc_id"), col("pos"))
    // candWin feeds TWO consumers (the winCount aggregation and the final
    // probe join): left unmaterialized, the whole candidate pipeline —
    // the corpus scan, the O(chars) rolling-hash kernel and the
    // candidate-hash aggregation — re-evaluates once PER consumer (the
    // r16 plan audit showed the kernel 4× in one dedup_substring plan).
    // Candidates are only the positions whose 64-bit hash repeats — rare
    // in clean corpora — so this checkpoint is small where `wins` (every
    // position in the corpus) would not be; the kernel now runs twice
    // (candHash + the probe into this join), not four times.
    val candWin = candPos.join(src.hint("merge"), Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        col("text").substr(col("pos") + 1, lit(winLen)).as("win"))
      .localCheckpoint()
    // text-equality verification: occurrences of the REAL window among
    // candidates = its occurrences in the whole corpus (see scaladoc)
    val winCount = candWin.groupBy(col("win")).agg(count(lit(1)).as("wc"))
      .filter(col("wc") > 1).select(col("win"))
    candWin.join(winCount.hint("merge"), Seq("win"))
      .select(col("doc_id"), col("pos"))
  }

  private implicit class ColName(private val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
