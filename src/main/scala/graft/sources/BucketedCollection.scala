package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bucket-partitioned collection with id-keyed copy-on-write upsert.
  *
  * The reference's vector store upserts by point id — writing a point with
  * an existing id OVERWRITES it (qdrant_text_loader.py:202-214 passes
  * explicit ids to upsert; Qdrant semantics are replace-by-id).
  * `VectorCollection.append` covers the reference's actual usage (fresh
  * sequential ids, append-only); this layout covers the full upsert
  * contract at scale:
  *
  *  - rows live under `path/bucket=k/` with `bucket = pmod(xxhash64(id), n)`
  *    — a machine-independent content hash, so every writer/reader agrees
  *    on placement without coordination;
  *  - an upsert batch touches only the buckets its ids hash into: read
  *    those buckets (partition-pruned scan), anti-join the replaced ids,
  *    union the batch, rewrite JUST those bucket directories (temp dir +
  *    the crash-safe [[DirSwap]] swap);
  *  - untouched buckets are never read, never written — at 100 TB with
  *    4096 buckets, upserting a 1 GB batch costs ~batch-sized I/O plus the
  *    affected buckets' rewrite, not a collection scan. This is the same
  *    copy-on-write merge shape lakehouse formats (Delta/Hudi CoW) use.
  *
  * Tradeoff vs append: upsert rewrites affected buckets, so bucket count
  * should be sized so collection_size/nBuckets (one bucket's bytes) is a
  * comfortable rewrite unit (e.g. ≤ a few GB).
  */
object BucketedCollection {

  def bucketOf(id: org.apache.spark.sql.Column, nBuckets: Int)
      : org.apache.spark.sql.Column =
    pmod(xxhash64(id), lit(nBuckets.toLong)).cast("int")

  /** Initial (re)write of the full collection into the bucketed layout. */
  def write(df: DataFrame, path: String, idCol: String, nBuckets: Int): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    df.withColumn("bucket", bucketOf(col(idCol), nBuckets))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").mode(SaveMode.Overwrite).parquet(path)
  }

  /** Heal a crash inside `upsert`'s per-bucket swap: one
    * [[DirSwap.heal]] per `bucket=N._old` backup. Buckets are swapped
    * independently, so after healing the collection is a consistent mix
    * of pre- and post-batch buckets; re-running the same idempotent
    * upsert batch converges it (documented contract — parquet
    * directories have no cross-directory atomic commit without a table
    * format's manifest). */
  private def recoverInterruptedSwap(spark: SparkSession,
      path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    fs.listStatus(root).map(_.getPath.getName)
      .filter(nm => nm.startsWith("bucket=") && nm.endsWith("._old"))
      .foreach(nm => DirSwap.heal(fs,
        new org.apache.hadoop.fs.Path(root, nm.stripSuffix("._old"))))
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    recoverInterruptedSwap(spark, path)
    spark.read.parquet(path)
  }

  /** (buckets touched, rows inserted, rows replaced). */
  final case class UpsertReport(bucketsTouched: Int, inserted: Long,
      replaced: Long)

  /** Id-keyed merge: rows in `updates` replace same-id rows, new ids are
    * inserted. Only the buckets the batch hashes into are read or written.
    * Batch ids must be unique (the reference's ids are — they come off a
    * dense counter; a batch with duplicate ids has no well-defined winner). */
  def upsert(spark: SparkSession, path: String, updates0: DataFrame,
      idCol: String, nBuckets: Int): UpsertReport = {
    recoverInterruptedSwap(spark, path)
    require(!updates0.columns.contains("bucket"),
      "updates already has a 'bucket' column — the partition key " +
        "withColumn would silently overwrite it (rename the data " +
        "column; the JsonlCorpus 'shard' guard, same reason)")
    // the batch plan feeds several actions below (counts, bucket list,
    // replaced-count join, the merged write) — pin it once so an
    // expensive upstream stage (an embedding pass, a codec chain) is
    // not re-executed per action
    val updates = updates0.localCheckpoint()
    val staged = updates
      .withColumn("bucket", bucketOf(col(idCol), nBuckets))
    val nUpdates = updates.count()
    require(updates.select(col(idCol)).distinct().count() == nUpdates,
      s"upsert batch has duplicate $idCol values — no well-defined winner")
    if (nUpdates == 0) return UpsertReport(0, 0L, 0L)

    // ≤ nBuckets distinct values — a driver-side list of ints, not data.
    val buckets = staged.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).sorted
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existingDirs = buckets
      .filter(b => fs.exists(new org.apache.hadoop.fs.Path(s"$path/bucket=$b")))
      .map(b => s"$path/bucket=$b")

    // Partition-pruned read: only the affected bucket directories are
    // listed or opened (asserted via inputFiles in BucketedCollectionSpec).
    val existing =
      if (existingDirs.isEmpty) None
      else Some(spark.read.option("basePath", path).parquet(existingDirs.toIndexedSeq: _*))
    val replaced = existing.fold(0L)(
      _.join(staged.select(col(idCol)), Seq(idCol), "left_semi").count())
    val merged = existing.fold(staged)(
      _.join(staged.select(col(idCol)), Seq(idCol), "left_anti")
        .unionByName(staged))

    // Rewrite affected buckets into a temp dir, then swap each directory
    // through DirSwap: a failure before the swaps leaves the collection
    // untouched.
    val tmp = path + "._upsert"
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    merged.repartition(col("bucket"))
      .write.partitionBy("bucket").mode(SaveMode.Overwrite).parquet(tmp)
    fs.mkdirs(new org.apache.hadoop.fs.Path(path)) // first-ever upsert
    buckets.foreach { b =>
      DirSwap.replace(fs, new org.apache.hadoop.fs.Path(s"$path/bucket=$b"),
        new org.apache.hadoop.fs.Path(s"$tmp/bucket=$b"))
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    UpsertReport(buckets.length, nUpdates - replaced, replaced)
  }
}
