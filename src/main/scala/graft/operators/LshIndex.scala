package graft.operators

import graft.sources.DirSwap
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH index — the scale form
  * [[Dedup.incrementalLshPairs]]'s scaladoc promises: sign and band the
  * corpus ONCE, persist, and make every subsequent ingest batch pay only
  * for ITS OWN signatures plus a bucket-keyed join against the stored
  * table — O(batch + collisions) per batch, independent of corpus size,
  * where the unindexed form re-signs the whole corpus every call.
  *
  * Layout at `path`:
  *  - `buckets/` — (id, bucket, pb) parquet, directory-PARTITIONED by
  *    `pb = pmod(bucket, 64)` (the raw xxhash64 bucket domain is too wide
  *    to be a partition column; the 64-way fold keeps directories bounded
  *    while still letting a small probe prune most files).
  *  - `sigs/`    — (id, shs) shingle sets for exact-Jaccard verification.
  *
  * `probePairs` emits the SAME (new_id, corpus_id, jaccard) contract as
  * `incrementalLshPairs` (spec-pinned equality), and `append` folds an
  * accepted batch into the index so the next batch collides against it —
  * the maintenance loop of a dedup-on-ingest service. */
object LshIndex {

  private def bucketsPath(path: String) = s"$path/buckets"
  private def sigsPath(path: String) = s"$path/sigs"
  private def fpsPath(path: String) = s"$path/fps"
  private val PartMod = 64

  private def tablePaths(path: String): Seq[String] =
    Seq(bucketsPath(path), sigsPath(path), fpsPath(path))

  /** Heal an interrupted [[compact]] swap: one
    * [[graft.sources.DirSwap.heal]] per table. Called from every
    * read/write entry point, so no manual recovery step exists. */
  private def healSwaps(spark: SparkSession, path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    tablePaths(path).foreach { s =>
      val live = new org.apache.hadoop.fs.Path(s)
      DirSwap.heal(live.getFileSystem(conf), live)
    }
  }

  /** True once `build`/`append` has written the COMPLETE index (all
    * three tables — a crash between build's writes must read as absent,
    * or the next probe/exactHits would fail on the missing table; the
    * streaming gate then rebuilds from its batch). */
  def exists(spark: SparkSession, path: String): Boolean = {
    healSwaps(spark, path)
    val conf = spark.sparkContext.hadoopConfiguration
    tablePaths(path).forall { s =>
      val p = new org.apache.hadoop.fs.Path(s)
      p.getFileSystem(conf).exists(p)
    }
  }

  /** (id, bucket, pb) band keys + (id, shs) verification sets for `docs`,
    * both from ONE materialized pass of [[Dedup]]'s machine-independent
    * signature kernel ([[Dedup.kernelOnce]]), so an index built today
    * collides correctly with batches signed tomorrow. */
  private def signed(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int): (DataFrame, DataFrame) = {
    require(k % bands == 0, s"bands=$bands must divide k=$k")
    val sig = Dedup.kernelOnce(Dedup.shingleFrame(docs, idCol, textCol, n, k))
    (Dedup.bandBuckets(sig, bands, k / bands)
      .withColumn("pb", pmod(col("bucket"), lit(PartMod)).cast("int")),
      sig.select(col("id"), col("shs")))
  }

  /** Build (or rebuild) the index: one pass of the signature kernel
    * feeds the bucket and sig writes; the fps write is its own md5 pass
    * over `corpus`. */
  def build(corpus: DataFrame, idCol: String, textCol: String,
      path: String, n: Int = 3, k: Int = 64, bands: Int = 16): Unit =
    write(corpus, idCol, textCol, path, n, k, bands, SaveMode.Overwrite)

  /** Ids of `batch` whose text is an EXACT duplicate (md5) of any indexed
    * doc — the companion check to [[probePairs]] for sub-shingle-width
    * documents. */
  def exactHits(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    healSwaps(spark, path)
    val fps = spark.read.parquet(fpsPath(path)).select(col("fp"))
      .distinct()
    batch.select(col(idCol), md5(col(textCol)).as("fp"))
      .join(fps, Seq("fp"), "left_semi")
      .select(col(idCol))
  }

  /** Near-dup pairs of `newDocs` against the PERSISTED corpus: the new
    * batch is signed fresh; the corpus side is the stored bucket table
    * (filtered to the batch's `pb` folds — partition pruning bounds the
    * files read when the batch touches few folds) and the stored shingle
    * sets (joined by id only for verified candidates). Same output
    * contract as [[Dedup.incrementalLshPairs]]. */
  def probePairs(spark: SparkSession, path: String, newDocs: DataFrame,
      idCol: String, textCol: String, n: Int = 3, k: Int = 64,
      bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    healSwaps(spark, path)
    val (newBuckets, newSigs) = signed(newDocs, idCol, textCol, n, k, bands)
    val folds = newBuckets.select(col("pb")).distinct()
      .collect().map(_.getInt(0)).toSeq // ≤ 64 ints — bounded sidecar
    val corpusBuckets = spark.read.parquet(bucketsPath(path))
      .filter(col("pb").isin(folds: _*))
    // at-least-once append window: a crash-replayed batch leaves
    // duplicate rows per id in sigs/ (bucket dups are absorbed by the
    // key join's pair dedup, but duplicate SIG rows would re-expand
    // deduped candidates into duplicate output pairs). Signatures are
    // content-derived, so any copy is the right copy — keep one per id.
    val corpusSigs = spark.read.parquet(sigsPath(path))
      .dropDuplicates("id")
    Dedup.verify(Dedup.keyJoin(newBuckets, corpusBuckets, Dedup.NewVsCorpus),
      newSigs, corpusSigs, "jaccard", Dedup.jaccard)(_ >= threshold)
  }

  /** Fold an accepted batch into the index (plain partition append —
    * untouched `pb=` folds are not rewritten). The next probe collides
    * against it immediately. */
  def append(newDocs: DataFrame, idCol: String, textCol: String,
      path: String, n: Int = 3, k: Int = 64, bands: Int = 16): Unit =
    write(newDocs, idCol, textCol, path, n, k, bands, SaveMode.Append)

  /** The three table writes of [[build]] (Overwrite) and [[append]]. */
  private def write(docs: DataFrame, idCol: String, textCol: String,
      path: String, n: Int, k: Int, bands: Int, mode: SaveMode): Unit = {
    healSwaps(docs.sparkSession, path)
    val (buckets, sigs) = signed(docs, idCol, textCol, n, k, bands)
    buckets.write.mode(mode).partitionBy("pb").parquet(bucketsPath(path))
    sigs.write.mode(mode).parquet(sigsPath(path))
    // exact-duplicate fingerprints cover EVERY doc — including ones too
    // short to shingle, which have no signature row and would otherwise
    // slip any exact-re-send check
    docs.select(col(idCol).cast("long").as("id"), md5(col(textCol)).as("fp"))
      .write.mode(mode).parquet(fpsPath(path))
  }

  /** Maintenance: restore one-row-per-key across all three tables
    * (VERDICT r12 #6). The streaming gates' index fold-in is documented
    * at-least-once — a crash-replayed batch re-appends its rows, which
    * never changes ADMISSION (signatures are content-derived; probe
    * candidates dedup; sigs dedup per id in [[probePairs]]) but grows
    * the index and its redundant-candidate work monotonically. compact
    * bounds that: keep-one-per-id rewrites via the temp-then-swap
    * of [[graft.sources.DirSwap]] — a failure
    * before a table's swap leaves that table untouched; a failure
    * inside a swap is healed by [[healSwaps]] on the next read. Any
    * copy of a duplicated row is the right copy (all content-derived),
    * so compaction commutes with admission decisions. Returns
    * (rowsBefore, rowsAfter) summed over the three tables. */
  def compact(spark: SparkSession, path: String): (Long, Long) = {
    healSwaps(spark, path)
    require(exists(spark, path), s"no complete index at $path")
    val conf = spark.sparkContext.hadoopConfiguration
    def swapIn(live: String, rewrite: DataFrame => DataFrame,
        write: (DataFrame, String) => Unit): (Long, Long) = {
      val df = spark.read.parquet(live)
      val before = df.count()
      val tmp = new org.apache.hadoop.fs.Path(live + "._compact")
      val fs = tmp.getFileSystem(conf)
      fs.delete(tmp, true)
      write(rewrite(df), tmp.toString)
      val after = spark.read.parquet(tmp.toString).count()
      DirSwap.replace(fs, new org.apache.hadoop.fs.Path(live), tmp)
      (before, after)
    }
    val b = swapIn(bucketsPath(path),
      _.dropDuplicates("id", "bucket"),
      (df, p) => df.write.mode(SaveMode.Overwrite)
        .partitionBy("pb").parquet(p))
    val s = swapIn(sigsPath(path), _.dropDuplicates("id"),
      (df, p) => df.write.mode(SaveMode.Overwrite).parquet(p))
    val f = swapIn(fpsPath(path), _.dropDuplicates("id"),
      (df, p) => df.write.mode(SaveMode.Overwrite).parquet(p))
    (b._1 + s._1 + f._1, b._2 + s._2 + f._2)
  }

  /** Compaction POLICY (the WHEN to [[compact]]'s mechanism): a
    * replayed-heavy index reports a ratio over this and a clean one
    * reports ~1.0. 1.5 means half again the index's candidate work is
    * redundant replay residue — the point where re-probing cost
    * plausibly exceeds one compaction rewrite. */
  val CompactTriggerRatio = 1.5

  /** Estimated index redundancy = fps rows / distinct ids, in ONE
    * aggregate over the index's smallest table. Every append — crash
    * replays included — adds exactly one fps row per id, and all three
    * tables grow by the same replay factor, so the fps ratio estimates
    * the whole index. `approx_count_distinct` keeps the probe one
    * shuffle-light pass at any index size (its ~2% default error is
    * noise against the 1.5× trigger). An empty index reads 1.0. */
  def redundancyRatio(spark: SparkSession, path: String): Double = {
    healSwaps(spark, path)
    val r = spark.read.parquet(fpsPath(path))
      .agg(count(lit(1)), approx_count_distinct(col("id")))
      .first()
    val rows = r.getLong(0)
    val ids = r.getLong(1)
    // the approx distinct can OVERcount small tables a few percent;
    // redundancy below 1.0 is logically impossible, so clamp
    if (ids == 0L) 1.0 else math.max(1.0, rows.toDouble / ids)
  }

  /** Probe-only recommendation the streaming ingest hooks log after
    * each fold-in: compaction itself STAYS a manual single-writer
    * maintenance action — [[compact]]'s swap discipline assumes no
    * concurrent writer, and a foreachBatch auto-compact would race the
    * next batch's probe reads. */
  def compactRecommended(spark: SparkSession, path: String): Boolean =
    redundancyRatio(spark, path) >= CompactTriggerRatio
}
