package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** GPT-style sequence packing: the corpus is conceptually concatenated in a
  * deterministic document order and split into fixed `seqLen`-token
  * training sequences; each document maps to the range of sequence ids it
  * occupies (`start_seq`..`end_seq`, straddling allowed — the standard
  * pretraining packing).
  *
  * The mapping needs a GLOBAL prefix sum of token counts — the naive form
  * is `sum(tokens) OVER (ORDER BY ...)`, a single-partition window that
  * funnels the whole corpus through one task. This implementation is the
  * scale form (same two-pass shape as
  * `VectorCollection.assignIdsOrdered`):
  * range-partitioned sort, one tiny job collecting ONE (partition, sum)
  * row per partition, driver prefix-sums those, then one emit pass adds
  * each partition's offset locally. Data never leaves its partition;
  * driver traffic is O(partitions). Both passes re-execute the same
  * deterministic sort lineage (the `assignIdsOrdered` pattern — no cache
  * leaked into the session's CacheManager).
  */
object Packing {

  /** In-plan token-count guard: a NULL count would crash the prefix-sum
    * kernel with a bare unboxing NPE, and a NEGATIVE one would silently
    * walk the global prefix sum (or the length bucket) backwards —
    * corrupting every later document's placement. Fail loudly instead;
    * free on valid rows. */
  private def tokensOrRaise(tokenCol: String, op: String) = {
    val t = col(tokenCol).cast("long")
    when(t.isNotNull && t >= 0, t).otherwise(raise_error(concat(
      lit(s"Packing.$op: token count must be a non-negative number, got "),
      coalesce(col(tokenCol).cast("string"), lit("NULL"))))).as("tokens")
  }

  /** docs must contain `idCol`, a numeric `tokenCol`, and `orderCols`
    * defining a TOTAL concatenation order (ties would make the packing
    * nondeterministic). Returns (idCol, tokens, start_seq, end_seq).
    * Zero-token docs pin to the position they start at. */
  def packSequences(docs: DataFrame, idCol: String, tokenCol: String,
      orderCols: Seq[String], seqLen: Long): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val spark = docs.sparkSession
    // Materialize the sorted (id, tokens) table ONCE (r17): both prefix
    // passes below consume `rdd`, so the whole upstream — the caller's
    // token-count kernel over document text plus the range-partitioned
    // sort — ran TWICE per pack. The table is two longs per doc; at
    // corpus scale re-tokenizing the text a second time costs far more
    // than holding it. (localCheckpoint also pins the partitioning, so
    // pass-1 offsets are computed over exactly the partitions pass 2
    // reads — previously guaranteed only by deterministic replanning.)
    val sorted = docs
      .select(col(idCol), tokensOrRaise(tokenCol, "packSequences"))
      .orderBy(orderCols.map(col): _*)
      .localCheckpoint()
    val rdd = sorted.rdd

    // pass 1: one (partition, tokenSum) row per partition (tiny).
    val partSums = rdd.mapPartitionsWithIndex { (i, it) =>
      var s = 0L
      it.foreach(r => s += r.getLong(1))
      Iterator.single((i, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _)

    // pass 2: local prefix sums + the partition offset.
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      var cum = offsets(i)
      it.map { r =>
        val t = r.getLong(1)
        val start = cum / seqLen
        cum += t
        val end = if (t == 0) start else (cum - 1) / seqLen
        Row(r.get(0), t, start, end)
      }
    }
    val schema = StructType(Seq(
      sorted.schema.fields(0),
      StructField("tokens", LongType, nullable = false),
      StructField("start_seq", LongType, nullable = false),
      StructField("end_seq", LongType, nullable = false)))
    spark.createDataFrame(out, schema)
  }

  /** Total number of training sequences the packed corpus yields. */
  def sequenceCount(packed: DataFrame, seqLen: Long): Long = {
    require(seqLen > 0, "seqLen must be positive")
    val total = packed.agg(coalesce(sum(col("tokens")), lit(0L)))
      .first().getLong(0)
    (total + seqLen - 1) / seqLen
  }

  /** Length-bucketed micro-batching (the padding-efficiency layout for
    * non-packed fine-tuning): docs bucket by token count
    * (bucket = min(tokens / binSize, maxBucket)) and split into batches
    * of `batchSize` docs per bucket in deterministic id order, so batch
    * peers differ by at most binSize tokens and per-batch padding waste
    * is bounded. One shuffle keyed by bucket (the per-bucket window);
    * bucket counts are balanced by construction for any non-degenerate
    * length distribution, and a finer binSize both tightens padding AND
    * spreads the shuffle — the knobs move together at 100 TB. Returns
    * (idCol, tokens, bucket, batch_idx). */
  def lengthBuckets(docs: DataFrame, idCol: String, tokenCol: String,
      binSize: Int, batchSize: Int, maxBucket: Int = 64): DataFrame = {
    require(binSize > 0 && batchSize > 0, "binSize/batchSize must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col(idCol))
    docs.select(col(idCol), tokensOrRaise(tokenCol, "lengthBuckets"))
      .withColumn("bucket",
        least(floor(col("tokens") / binSize), lit(maxBucket)).cast("int"))
      .withColumn("batch_idx",
        floor((row_number().over(w) - lit(1)) / lit(batchSize)).cast("long"))
  }
}
