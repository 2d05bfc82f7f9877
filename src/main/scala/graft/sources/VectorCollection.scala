package graft.sources

import graft.functions.{CosineToQuery, VectorFunctions}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Parquet-backed vector collection — the engine's Qdrant
  * (qdrant_text_loader.py S8-S10, W2, K1): create/recreate, id-offset
  * append, count reconciliation, and cosine top-k search over
  * `(id BIGINT, vector ARRAY<DOUBLE>, page_content STRING, materia STRING,
  * ano INT)`.
  *
  * Scale notes:
  *  - `assignIdsOrdered` uses per-partition offsets (zipWithIndex
  *    semantics) over a range-partitioned sort — NOT a global row_number
  *    window, which would funnel 100 TB through a single partition. Ids
  *    are (offset + dense enumeration), matching the reference's
  *    running-count ids (qdrant_text_loader.py:189-210) without a driver
  *    loop.
  *  - append is idempotent per batch directory; `count()` after write is
  *    the reference's status-check reconciliation (:222, :306).
  *  - every file is read with the declared [[Schema]], so planning a read
  *    launches no schema-inference job.
  *  - `search` scores a persisted snapshot of the collection (see
  *    [[search]]); `read` and `count` never use it.
  */
object VectorCollection {

  /** The collection's row type, declared once: `create` writes it and
    * every read of the collection's files uses it. */
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vector", ArrayType(DoubleType, containsNull = false)),
    StructField("page_content", StringType),
    StructField("materia", StringType),
    StructField("ano", IntegerType)))

  def path(root: String, name: String): String = s"$root/$name"

  def create(spark: SparkSession, root: String, name: String,
      dim: Int): Unit = {
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Schema)
      .write.mode(SaveMode.ErrorIfExists).parquet(path(root, name))
    // record the declared dimensionality in a SIBLING sidecar (inside
    // the dir it would not survive compact's directory swap); append
    // enforces it in-plan, so a wrong-width vector fails the load
    // loudly instead of silently vanishing from every search
    val sidecar = new org.apache.hadoop.fs.Path(path(root, name) + "._dim")
    val fs = sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(sidecar, true)
    try out.write(dim.toString.getBytes("UTF-8")) finally out.close()
    dropSnapshot(spark, root, name)
  }

  /** The collection's declared dim from the create-time sidecar; None
    * for collections predating it (no enforcement — back-compat). */
  private def declaredDim(spark: SparkSession, root: String,
      name: String): Option[Int] = {
    val sidecar = new org.apache.hadoop.fs.Path(path(root, name) + "._dim")
    val fs = sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(sidecar)) None
    else {
      val in = fs.open(sidecar)
      try Some(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        "UTF-8").trim.toInt)
      finally in.close()
    }
  }

  def recreate(spark: SparkSession, root: String, name: String,
      dim: Int): Unit = {
    // Hadoop FS, like every other operation here — a java.io.File
    // delete is a no-op against hdfs://-/s3a://-style roots and
    // create() would then fail on the surviving directory
    val dir = new org.apache.hadoop.fs.Path(path(root, name))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir) && !fs.delete(dir, true))
      throw new java.io.IOException(s"cannot recreate: delete $dir failed")
    val sidecar = new org.apache.hadoop.fs.Path(path(root, name) + "._dim")
    if (fs.exists(sidecar)) fs.delete(sidecar, false)
    create(spark, root, name, dim)
  }

  /** Heal a crash inside `compact`'s swap ([[DirSwap.heal]]). Called
    * from `read`, `append` and `compact`, so no manual recovery step
    * exists. */
  private def recoverInterruptedSwap(spark: SparkSession, root: String,
      name: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(path(root, name))
    DirSwap.heal(dir.getFileSystem(spark.sparkContext.hadoopConfiguration),
      dir)
  }

  def read(spark: SparkSession, root: String, name: String): DataFrame = {
    recoverInterruptedSwap(spark, root, name)
    spark.read.schema(Schema).parquet(path(root, name))
  }

  def count(spark: SparkSession, root: String, name: String): Long =
    read(spark, root, name).count()

  /** Ordered, deterministic id assignment: global sort then dense ids.
    * Matches the reference's enumeration order semantics exactly; the
    * range-partitioned sort scales (no single-partition window). */
  def assignIdsOrdered(points: DataFrame, offset: Long,
      orderCols: Seq[String]): DataFrame = {
    val spark = points.sparkSession
    val sorted = points.orderBy(orderCols.map(col): _*)
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false) +:
        sorted.schema.fields)
    val rdd = sorted.rdd.zipWithIndex().map { case (row, i) =>
      org.apache.spark.sql.Row.fromSeq((i + offset) +: row.toSeq)
    }
    spark.createDataFrame(rdd, schema)
  }

  /** S8: batched upsert-append; returns (attempted, added) — the
    * reference's per-file reconciliation pair (A3). */
  def append(spark: SparkSession, root: String, name: String,
      points: DataFrame): (Long, Long) = {
    val (attempted, added) = appendCounted(spark, root, name, points)
    (attempted, added.values.sum)
  }

  /** [[append]], with `added` per (ano, materia).
    *
    * `added` is read from the part files THIS write created (snapshot
    * the directory listing before/after, count only the delta), so the
    * reconcile cost is O(batch), not two O(collection) scans per load —
    * at 100 TB a full-collection count per append is the difference
    * between a metadata read and re-listing the world. A full-collection
    * audit is still available as `count(...)` for callers that want it. */
  private[graft] def appendCounted(spark: SparkSession, root: String,
      name: String, points: DataFrame): (Long, Map[(Option[Int], String), Long]) = {
    // heal BEFORE appending: if a crashed compact left the live dir
    // absent, SaveMode.Append would quietly recreate it with only this
    // batch, and the next read would then drop the '._old' backup holding
    // every pre-crash row as "stale".
    recoverInterruptedSwap(spark, root, name)
    val dir = new org.apache.hadoop.fs.Path(path(root, name))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partFiles(): Set[String] =
      if (!fs.exists(dir)) Set.empty
      else fs.listStatus(dir).iterator
        .filter(_.isFile).map(_.getPath.getName)
        .filter(_.startsWith("part-")).toSet
    val before = partFiles()
    // the attempted count rides the WRITE as an Observation — a separate
    // points.count() would re-execute the whole batch plan (including any
    // embedding stage) a second time just to count it.
    // dim enforcement (when the create-time sidecar exists): an
    // assert_true INSIDE a filter predicate — it evaluates per row
    // during the write scan (a projected-then-dropped column would be
    // pruned away with its assertion), costs no extra pass, and fails
    // the load loudly on the first wrong-width vector
    val checked = declaredDim(spark, root, name) match {
      case Some(d) => points.filter(assert_true(
          size(col("vector")) === lit(d),
          lit(s"vector dim != declared $d")).isNull)
      case None => points
    }
    val obs = org.apache.spark.sql.Observation()
    checked.observe(obs, org.apache.spark.sql.functions
        .count(org.apache.spark.sql.functions.lit(1)).as("attempted"))
      .write.mode(SaveMode.Append).parquet(path(root, name))
    dropSnapshot(spark, root, name)
    val attempted = obs.get("attempted").asInstanceOf[Long]
    val newFiles = (partFiles() -- before).toSeq.sorted
      .map(n => s"${path(root, name)}/$n")
    val added =
      if (newFiles.isEmpty) Map.empty[(Option[Int], String), Long]
      else spark.read.schema(Schema).parquet(newFiles: _*)
        .groupBy(col("ano"), col("materia")).count().collect()
        .map(r => (Option(r.get(0)).map(_.asInstanceOf[Int]), r.getString(1)) ->
          r.getLong(2)).toMap
    (attempted, added)
  }

  /** Maintenance: compact the collection's accumulated small append files
    * into ~`targetRowsPerFile`-row files. Incremental loads (one parquet
    * file per append batch per partition) eventually drown a reader in
    * file-open overhead — at 100 TB the file COUNT, not the byte count,
    * becomes the scan bottleneck. Rewrites into a temp dir first and swaps
    * only after success, so a crashed compaction never loses the
    * collection: a failure before the swap leaves the live dir untouched,
    * and a failure INSIDE the swap (live renamed away, tmp not yet renamed
    * in) is healed by [[DirSwap.heal]] on the next read/append/compact —
    * the data is never absent AND unrecoverable. Returns
    * (filesBefore, filesAfter). */
  def compact(spark: SparkSession, root: String, name: String,
      targetRowsPerFile: Long = 1000000L): (Int, Int) = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    recoverInterruptedSwap(spark, root, name)
    val dir = new org.apache.hadoop.fs.Path(path(root, name))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partFiles(p: org.apache.hadoop.fs.Path): Int =
      fs.listStatus(p).count(s => s.isFile &&
        s.getPath.getName.startsWith("part-"))
    val before = partFiles(dir)
    val rows = count(spark, root, name)
    val nFiles = math.max(1L, (rows + targetRowsPerFile - 1)
      / targetRowsPerFile).toInt
    val tmp = new org.apache.hadoop.fs.Path(path(root, name) + "._compact")
    fs.delete(tmp, true)
    read(spark, root, name).repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val after = partFiles(tmp)
    DirSwap.replace(fs, dir, tmp)
    dropSnapshot(spark, root, name)
    (before, after)
  }

  /** A persisted `(id, vector, page_content, materia, ano, norm)` frame
    * of one collection, valid while the directory listing it was built
    * from — (file name, length, mtime) per entry — is unchanged. `rows` is
    * the cached plan's row RDD over [[Scored]]'s columns, planned once per
    * snapshot by its first search. */
  private final class Snapshot(val sc: SparkContext,
      val listing: Seq[(String, Long, Long)], val frame: DataFrame) {
    lazy val rows: RDD[InternalRow] =
      frame.select(Scored.map(col): _*).queryExecution.toRdd
  }

  /** The snapshot columns a search reads, in `rows` order. */
  private val Scored =
    Seq("id", "page_content", "materia", "ano", "vector", "norm")

  /** One snapshot per qualified collection path. Concurrent: `Overlap`
    * runs searches from two driver threads. */
  private val snapshots =
    new java.util.concurrent.ConcurrentHashMap[String, Snapshot]()

  private def qualifiedDir(spark: SparkSession, root: String,
      name: String): (FileSystem, Path) = {
    val dir = new Path(path(root, name))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(dir))
  }

  private def release(s: Snapshot): Unit =
    if (!s.sc.isStopped) s.frame.unpersist()

  /** Release the collection's snapshot; every write through this object
    * calls it after writing. A writer outside it is caught by the
    * listing check in [[snapshot]]. */
  private def dropSnapshot(spark: SparkSession, root: String,
      name: String): Unit =
    Option(snapshots.remove(qualifiedDir(spark, root, name)._2.toString))
      .foreach(release)

  /** The collection's snapshot: the held one when its listing and
    * SparkContext still match, else a fresh one. A fresh snapshot is
    * persisted lazily, so the search that builds it also fills it. The
    * listing is taken BEFORE the frame is planned: a write in between
    * leaves the key older than the data, so the next search rebuilds
    * instead of serving stale rows. The `norm` column keeps the cached
    * plan from matching a plain [[read]], which Spark's cache manager
    * would otherwise answer from the snapshot. */
  private def snapshot(spark: SparkSession, root: String,
      name: String): Snapshot = {
    recoverInterruptedSwap(spark, root, name)
    val (fs, dir) = qualifiedDir(spark, root, name)
    val listing = fs.listStatus(dir).toSeq
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).sorted
    snapshots.compute(dir.toString, (_, old) =>
      if (old != null && (old.sc eq spark.sparkContext) &&
          old.listing == listing) old
      else {
        // release first: persisting a plan the cache manager already
        // holds would keep serving the superseded data
        if (old != null) release(old)
        new Snapshot(spark.sparkContext, listing,
          spark.read.schema(Schema).parquet(dir.toString)
            .withColumn("norm", VectorFunctions.l2Norm(col("vector")))
            .persist(StorageLevel.MEMORY_AND_DISK))
      })
  }

  /** One scored point of a search; None stands for NULL. */
  private[graft] final case class Hit(score: Option[Double], id: Option[Long],
      pageContent: String, materia: String, ano: Option[Int])

  /** The SQL order `score DESC NULLS LAST, id ASC NULLS FIRST`, with
    * doubles compared as Spark compares them (`-0.0` ties `0.0`, NaN is
    * largest). */
  private[graft] val SearchOrder: Ordering[Hit] = (a: Hit, b: Hit) => {
    val byScore = (a.score, b.score) match {
      case (Some(x), Some(y)) => SQLOrderingUtil.compareDoubles(y, x)
      case (None, None) => 0
      case (None, _) => 1
      case _ => -1
    }
    if (byScore != 0) byScore else Ordering[Option[Long]].compare(a.id, b.id)
  }

  private val ResultSchema = StructType(Seq(
    StructField("id", LongType), StructField("page_content", StringType),
    StructField("materia", StringType), StructField("ano", IntegerType),
    StructField("score", DoubleType)))

  /** K1: cosine top-k search with the reference's dimension guard
    * (qdrant_text_loader.py:134-135): the `(id, page_content, materia,
    * ano, score)` rows of the `k` best points by (score desc, id asc), as
    * a local frame.
    *
    * One job over the snapshot's prepared rows, with no per-query SQL
    * planning: each partition skips null and wrong-dimension vectors,
    * scores with [[CosineToQuery]] — `dot(v, q) / (norm · |q|)`, with
    * `norm` stored per point, so every score is bit-identical to
    * `cosineSimilarity(vector, q)` over [[read]] — and keeps its bounded
    * top-k; the driver merges at most partitions · k rows, as Spark's
    * `TakeOrderedAndProject` does. A zero norm on either side scores
    * NULL, as there; so does a norm product too small to represent
    * (below ~4.9e-324), where that expression divides by 0. */
  def search(spark: SparkSession, root: String, name: String,
      query: Seq[Double], k: Int = 1): DataFrame = {
    require(query.nonEmpty, "empty query vector")
    require(k >= 0, s"k must be >= 0, got $k")
    val rows = snapshot(spark, root, name).rows
    val score = CosineToQuery(
      BoundReference(4, ArrayType(DoubleType, containsNull = false), true),
      BoundReference(5, DoubleType, true), query.toArray)
    val dim = query.length
    val order = SearchOrder
    val hits =
      if (k == 0) Seq.empty[Hit]
      else rows.mapPartitions { it =>
        // worst kept hit at the head
        val top = new java.util.PriorityQueue[Hit](order.reverse)
        it.foreach { r =>
          if (!r.isNullAt(4) && r.getArray(4).numElements() == dim) {
            val s = Option(score.eval(r)).map(_.asInstanceOf[Double])
            val id = if (r.isNullAt(0)) None else Some(r.getLong(0))
            // rows are reused: copy out only what a kept hit needs
            def str(i: Int) =
              if (r.isNullAt(i)) null else r.getUTF8String(i).toString
            def hit() = Hit(s, id, str(1), str(2),
              if (r.isNullAt(3)) None else Some(r.getInt(3)))
            if (top.size < k) top.add(hit())
            else if (order.lt(Hit(s, id, null, null, None), top.peek)) {
              top.poll()
              top.add(hit())
            }
          }
        }
        Iterator.single(top.toArray(Array.empty[Hit]))
      }.collect().toSeq.flatten.sorted(order).take(k)
    spark.createDataFrame(java.util.Arrays.asList(hits.map(h =>
        Row(h.id.map(Long.box).orNull, h.pageContent, h.materia, h.ano.map(Int.box).orNull,
          h.score.map(Double.box).orNull)): _*),
      ResultSchema)
  }
}
