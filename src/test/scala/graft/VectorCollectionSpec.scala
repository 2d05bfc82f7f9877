package graft

import graft.functions.VectorFunctions
import graft.sources.VectorCollection
import graft.stats.LoadStats
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import java.nio.file.Files
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

class VectorCollectionSpec extends SparkSpec {

  private lazy val root = Files.createTempDirectory("graft_coll").toString

  test("S9/S10: create, count empty, recreate") {
    VectorCollection.create(spark, root, "c1", dim = 4)
    assert(VectorCollection.count(spark, root, "c1") === 0)
    VectorCollection.recreate(spark, root, "c1", dim = 4)
    assert(VectorCollection.count(spark, root, "c1") === 0)
  }

  test("dim is ENFORCED on append: a wrong-width vector fails the load " +
      "loudly instead of silently vanishing from every search") {
    import spark.implicits._
    VectorCollection.recreate(spark, root, "cdim", dim = 3)
    val good = Seq((0L, Seq(1.0, 2.0, 3.0), "ok", "math", 2023))
      .toDF("id", "vector", "page_content", "materia", "ano")
    val (a, d) = VectorCollection.append(spark, root, "cdim", good)
    assert(a === 1L && d === 1L)
    val bad = Seq((1L, Seq(1.0, 2.0), "short", "math", 2023))
      .toDF("id", "vector", "page_content", "materia", "ano")
    val e = intercept[Exception] {
      VectorCollection.append(spark, root, "cdim", bad)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("dim")), s"not the dim guard: $e")
    // the failed append added nothing
    assert(VectorCollection.count(spark, root, "cdim") === 1)
    // the declared dim survives compact's directory swap (the sidecar
    // is a SIBLING of the collection dir)
    VectorCollection.compact(spark, root, "cdim")
    intercept[Exception] {
      VectorCollection.append(spark, root, "cdim", bad)
    }
  }

  test("W2/S8: id-offset append twice, then K1 search hits the right point") {
    import spark.implicits._
    VectorCollection.recreate(spark, root, "c2", dim = 4)
    def batch(tag: String, n: Int) = (0 until n).map { i =>
      (Seq.tabulate(4)(j => math.sin(tag.hashCode + i * 4 + j)),
        s"$tag-$i", "math", 2023)
    }.toDF("vector", "page_content", "materia", "ano")

    val b1 = VectorCollection.assignIdsOrdered(
      batch("first", 3), 0L, Seq("page_content"))
    VectorCollection.append(spark, root, "c2",
      b1.select(col("id"), col("vector"), col("page_content"),
        col("materia"), col("ano")))
    assert(VectorCollection.count(spark, root, "c2") === 3)

    val offset = VectorCollection.count(spark, root, "c2")
    val b2 = VectorCollection.assignIdsOrdered(
      batch("second", 2), offset, Seq("page_content"))
    val (attempted, added) = VectorCollection.append(spark, root, "c2",
      b2.select(col("id"), col("vector"), col("page_content"),
        col("materia"), col("ano")))
    assert(attempted === 2 && added === 2)

    val ids = VectorCollection.read(spark, root, "c2")
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids === Array(0L, 1L, 2L, 3L, 4L))

    // search for an exact stored vector → top-1 is that point, score 1.
    val target = VectorCollection.read(spark, root, "c2")
      .filter(col("page_content") === "second-0")
      .select("vector").first().getSeq[Double](0)
    val hit = VectorCollection.search(spark, root, "c2", target, k = 1)
      .first()
    assert(hit.getAs[String]("page_content") === "second-0")
    assert(math.abs(hit.getAs[Double]("score") - 1.0) < 1e-9)
  }

  test("compact: many append files collapse, contents identical, " +
    "search still works") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_compact")
      .toString
    VectorCollection.recreate(spark, root, "c", dim = 4)
    // 6 append batches, each fanned over partitions → many part files.
    (0 until 6).foreach { b =>
      val pts = (0 until 10).map { i =>
        (b * 10L + i, Seq(1.0, 0.0, 0.0, 0.0), s"doc ${b * 10 + i}",
          "math", 2023)
      }.toDF("id", "vector", "page_content", "materia", "ano")
        .repartition(4)
      VectorCollection.append(spark, root, "c", pts)
    }
    val before = VectorCollection.read(spark, root, "c")
      .collect().map(_.getLong(0)).sorted
    val (filesBefore, filesAfter) =
      VectorCollection.compact(spark, root, "c", targetRowsPerFile = 30)
    assert(filesBefore > filesAfter,
      s"expected fewer files, got $filesBefore -> $filesAfter")
    assert(filesAfter === 2) // 60 rows / 30 per file
    val after = VectorCollection.read(spark, root, "c")
      .collect().map(_.getLong(0)).sorted
    assert(after === before)
    // the temp/backup dirs are gone; the collection is still searchable.
    assert(!new java.io.File(
      VectorCollection.path(root, "c") + "._compact").exists())
    assert(!new java.io.File(
      VectorCollection.path(root, "c") + "._old").exists())
    assert(VectorCollection.search(spark, root, "c",
      Seq(1.0, 0.0, 0.0, 0.0), k = 1).count() === 1)
  }

  test("compact crash window: a read after a crash mid-swap heals the " +
    "collection from the ._old backup") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_heal")
      .toString
    VectorCollection.recreate(spark, root, "c", dim = 4)
    val pts = (0 until 10).map { i =>
      (i.toLong, Seq(1.0, 0.0, 0.0, 0.0), s"doc $i", "math", 2023)
    }.toDF("id", "vector", "page_content", "materia", "ano")
    VectorCollection.append(spark, root, "c", pts)
    // simulate the crash: live dir renamed to ._old, replacement never
    // renamed in (the window between compact's two renames)
    val live = new java.io.File(VectorCollection.path(root, "c"))
    val bak = new java.io.File(VectorCollection.path(root, "c") + "._old")
    assert(live.renameTo(bak))
    assert(!live.exists())
    val ids = VectorCollection.read(spark, root, "c")
      .collect().map(_.getLong(0)).sorted
    assert(ids === (0L until 10L).toArray)
    assert(!bak.exists())
    // stale backup NEXT TO a live dir (crash after the forward rename)
    // is dropped, live data wins
    assert(bak.mkdirs())
    assert(VectorCollection.read(spark, root, "c").count() === 10)
    assert(!bak.exists())
  }

  test("append during the crash window heals FIRST — pre-crash rows are " +
    "not orphaned into a 'stale' backup") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_heal2")
      .toString
    VectorCollection.recreate(spark, root, "c", dim = 4)
    def batch(from: Int, n: Int) = (from until from + n).map { i =>
      (i.toLong, Seq(1.0, 0.0, 0.0, 0.0), s"doc $i", "math", 2023)
    }.toDF("id", "vector", "page_content", "materia", "ano")
    VectorCollection.append(spark, root, "c", batch(0, 10))
    // crash mid-swap: live dir renamed away
    val live = new java.io.File(VectorCollection.path(root, "c"))
    val bak = new java.io.File(VectorCollection.path(root, "c") + "._old")
    assert(live.renameTo(bak))
    // the loader's next batch arrives BEFORE any read: without healing,
    // Append would recreate the live dir with only the new batch and the
    // 10 pre-crash rows would later be deleted as a stale backup.
    VectorCollection.append(spark, root, "c", batch(10, 5))
    val ids = VectorCollection.read(spark, root, "c")
      .collect().map(_.getLong(0)).sorted
    assert(ids === (0L until 15L).toArray)
    assert(!bak.exists())
  }

  // ── the search snapshot ────────────────────────────────────────────

  /** Points `(id, vector)` in the collection's row type. */
  private def points(rows: (Long, Seq[Double])*): DataFrame = {
    import spark.implicits._
    rows.map { case (id, v) => (id, v, s"doc $id", "math", 2023) }
      .toDF("id", "vector", "page_content", "materia", "ano")
  }

  private def hits(root: String, name: String, q: Seq[Double]): Seq[Long] =
    VectorCollection.search(spark, root, name, q, k = 1000).collect()
      .map(_.getAs[Long]("id")).toSeq

  private def persistedRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def partFiles(root: String, name: String): Set[String] =
    Option(new java.io.File(VectorCollection.path(root, name)).listFiles())
      .toSet.flatten.map(_.getName).filter(_.startsWith("part-"))

  private val unit = Seq(1.0, 0.0, 0.0, 0.0)

  /** A 10-point collection, searched once: returns the RDDs the search's
    * snapshot persisted. */
  private def searchedCollection(root: String, name: String): Set[Int] = {
    VectorCollection.recreate(spark, root, name, dim = 4)
    VectorCollection.append(spark, root, name,
      points((0L until 10L).map(i => i -> unit): _*))
    val before = persistedRdds
    assert(hits(root, name, unit) === (0L until 10L))
    val snap = persistedRdds -- before
    assert(snap.nonEmpty, "the search persisted no snapshot")
    snap
  }

  /** Whether Spark's cache manager holds the collection's snapshot plan
    * (the qualified-path read plus `norm`, as `search` persists it). A
    * DataFrameWriter write re-caches the plans over its output path, so a
    * released RDD alone does not show that a write released the
    * snapshot. */
  private def snapshotHeld(root: String, name: String): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(VectorCollection.path(root, name))
    val qualified = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(dir)
    spark.read.schema(VectorCollection.Schema).parquet(qualified.toString)
      .withColumn("norm", VectorFunctions.l2Norm(col("vector")))
      .storageLevel != StorageLevel.NONE
  }

  test("a search after append, compact or recreate sees the write, and " +
      "the write releases the snapshot") {
    val root = Files.createTempDirectory("graft_snap").toString
    val s1 = searchedCollection(root, "a")
    assert(snapshotHeld(root, "a"))
    VectorCollection.append(spark, root, "a", points(10L -> unit))
    assert((persistedRdds & s1).isEmpty, "append left the old snapshot")
    assert(!snapshotHeld(root, "a"), "append did not release the snapshot")
    assert(hits(root, "a", unit) === (0L to 10L))

    val s2 = persistedRdds
    VectorCollection.compact(spark, root, "a", targetRowsPerFile = 4)
    assert(!snapshotHeld(root, "a"), "compact did not release the snapshot")
    assert(hits(root, "a", unit) === (0L to 10L))
    assert(persistedRdds != s2, "compact's rewrite served the old snapshot")

    VectorCollection.recreate(spark, root, "a", dim = 4)
    assert(!snapshotHeld(root, "a"), "recreate did not release the snapshot")
    assert(hits(root, "a", unit).isEmpty)
  }

  test("a search sees writes made outside VectorCollection: a part file " +
      "added by a plain DataFrameWriter, then that file deleted through " +
      "the FS, then a crash-window rename of the live dir") {
    val root = Files.createTempDirectory("graft_snap_ext").toString
    searchedCollection(root, "e")
    val before = partFiles(root, "e")
    points(20L -> unit).write.mode("append")
      .parquet(VectorCollection.path(root, "e"))
    assert(hits(root, "e", unit) === (0L until 10L) :+ 20L)

    val added = partFiles(root, "e") -- before
    assert(added.size === 1)
    Files.delete(java.nio.file.Paths.get(
      VectorCollection.path(root, "e"), added.head))
    assert(hits(root, "e", unit) === (0L until 10L))

    val live = new java.io.File(VectorCollection.path(root, "e"))
    assert(live.renameTo(new java.io.File(live.getPath + "._old")))
    assert(hits(root, "e", unit) === (0L until 10L))
    assert(live.exists())
  }

  test("search scores are bit-identical to a cosineSimilarity top-k over " +
      "read: a zero vector scores NULL and ranks last, a wrong-dim vector " +
      "is filtered out, exact ties order by id") {
    val root = Files.createTempDirectory("graft_snap_bits").toString
    VectorCollection.recreate(spark, root, "b", dim = 8)
    val rnd = new scala.util.Random(42)
    // magnitudes spread over six decades, so summation order shows
    def vec(): Seq[Double] =
      Seq.fill(8)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3))
    val random = (0L until 200L).map(_ -> vec())
    val tie = random(17)._2
    val zero = Seq.fill(8)(0.0)
    VectorCollection.append(spark, root, "b",
      points(random ++ Seq(300L -> tie, 5000L -> tie, 400L -> zero): _*))
    // a plain writer bypasses append's dim guard
    points(500L -> Seq.fill(5)(1.0)).write.mode("append")
      .parquet(VectorCollection.path(root, "b"))

    for (q <- Seq.fill(12)(vec()) ++ Seq(tie, zero); k <- Seq(1, 10, 1000))
      assert(bits(VectorCollection.search(spark, root, "b", q, k)) ===
        bits(sqlTopK(root, "b", q, k)))

    val all = VectorCollection.search(spark, root, "b", random(3)._2,
      k = 1000).collect()
    assert(all.length === 203) // every 8-dim point; id 500 filtered
    assert(all.last.getLong(0) === 400L && all.last.isNullAt(4))
    val top = VectorCollection.search(spark, root, "b", tie, k = 3)
      .collect()
    assert(top.map(_.getLong(0)) === Array(17L, 300L, 5000L))
    assert(top.map(_.getDouble(4)).distinct.length === 1)
  }

  test("read is never answered from the search snapshot") {
    val root = Files.createTempDirectory("graft_snap_read").toString
    searchedCollection(root, "r")
    def cached(df: DataFrame): Seq[InMemoryRelation] =
      df.queryExecution.withCachedData.collect { case m: InMemoryRelation => m }
    val read = VectorCollection.read(spark, root, "r")
    assert(cached(read).isEmpty)
    assert(cached(read.select("id", "vector")).isEmpty)
    assert(cached(read.filter(col("id") >= 5L)).isEmpty)
  }

  test("job counts: planning read launches no job; a search on a warm " +
      "snapshot launches exactly one") {
    val root = Files.createTempDirectory("graft_snap_jobs").toString
    searchedCollection(root, "j")
    assert(JobCount.of(spark)(VectorCollection.read(spark, root, "j")) === 0)
    assert(JobCount.of(spark)(VectorCollection.search(spark, root, "j",
      Seq(0.0, 1.0, 0.0, 0.0), k = 3).collect()) === 1)
  }

  test("a warm search compiles no class, whatever the query and its norm") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val root = Files.createTempDirectory("graft_snap_code").toString
    searchedCollection(root, "g")
    def compiles(q: Seq[Double]): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      VectorCollection.search(spark, root, "g", q, k = 3).collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    compiles(Seq(0.0, 1.0, 0.0, 0.0))
    // norms 3, sqrt(2), and (1, 2, 3, 4) normalized, whose norm sums to
    // one ulp below 1
    val offOne = Seq(1.0, 2.0, 3.0, 4.0).map(_ / math.sqrt(30.0))
    for (q <- Seq(Seq(3.0, 0.0, 0.0, 0.0), Seq(1.0, 1.0, 0.0, 0.0), offOne))
      assert(compiles(q) === 0L, s"query $q")
  }

  /** The SQL top-k a search must equal: `cosineSimilarity` over [[read]],
    * ordered by (score desc, id asc). */
  private def sqlTopK(root: String, name: String, q: Seq[Double],
      k: Int): DataFrame =
    VectorCollection.read(spark, root, name)
      .select(col("id"), col("page_content"), col("materia"), col("ano"),
        VectorFunctions.cosineSimilarity(col("vector"), typedLit(q))
          .as("score"))
      .filter(size(col("vector")) === q.length)
      .orderBy(desc("score"), col("id").asc)
      .limit(k)

  private def bits(df: DataFrame) = df.collect().toSeq.map(r =>
    (r.get(0), r.getString(1), r.getString(2), r.getInt(3),
      if (r.isNullAt(4)) None
      else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(4)))))

  test("search edge cases across partitions: equal scores order by id, " +
      "NULL scores rank last, a NULL id first among equal scores, null " +
      "and wrong-dimension vectors are skipped, k beyond the collection " +
      "returns every point") {
    val root = Files.createTempDirectory("graft_snap_edges").toString
    VectorCollection.recreate(spark, root, "t", dim = 4)
    val zero = Seq.fill(4)(0.0)
    // one append per batch: one part file, so one partition, each
    val batches = Seq(
      Seq(9L -> unit, 2L -> zero, 14L -> Seq(0.0, 1.0, 0.0, 0.0)),
      Seq(7L -> unit, 1L -> Seq(-1.0, 0.0, 0.0, 0.0)),
      Seq(3L -> unit, 12L -> unit),
      Seq(5L -> Seq(2.0, 0.0, 0.0, 0.0), 0L -> zero))
    batches.foreach(b => VectorCollection.append(spark, root, "t", points(b: _*)))
    // a plain writer bypasses append's dim guard
    points(4L -> Seq(1.0, 0.0)).write.mode("append")
      .parquet(VectorCollection.path(root, "t"))
    points(6L -> null).write.mode("append")
      .parquet(VectorCollection.path(root, "t"))
    points(8L -> unit).withColumn("id", lit(null).cast("long")).write
      .mode("append").parquet(VectorCollection.path(root, "t"))
    assert(VectorCollection.read(spark, root, "t").rdd.getNumPartitions > 1)

    for (q <- Seq(unit, Seq(0.0, 1.0, 0.0, 0.0), Seq(0.0, 0.0, 1.0, 0.0));
        k <- Seq(1, 2, 3, 5, 9, 10, 100))
      assert(bits(VectorCollection.search(spark, root, "t", q, k)) ===
        bits(sqlTopK(root, "t", q, k)), s"q=$q k=$k")
    val all = VectorCollection.search(spark, root, "t", unit, k = 100)
      .collect()
    assert(all.map(r => Option(r.get(0))).toSeq === (None +:
      Seq(3L, 5L, 7L, 9L, 12L, 14L, 1L, 0L, 2L).map(Some(_))))
    assert(all.takeRight(2).forall(_.isNullAt(4)))
    assert(VectorCollection.search(spark, root, "t", unit, k = 0).isEmpty)
  }

  test("the search order is Spark's: score desc NULLS LAST with -0.0 " +
      "tying 0.0 and NaN largest, then id asc NULLS FIRST") {
    import spark.implicits._
    import VectorCollection.Hit
    val scores = Seq(Some(0.0), Some(-0.0), None, Some(Double.NaN),
      Some(1.0), Some(-1.0), Some(Double.PositiveInfinity),
      Some(Double.NegativeInfinity), Some(Double.MinPositiveValue))
    val ids = Seq(None, Some(3L), Some(-2L), Some(3L), Some(7L))
    val hits = for ((s, i) <- (scores ++ scores).zipWithIndex)
      yield Hit(s, ids(i % ids.size), null, null, None)
    val want = hits.map(h =>
        (h.score.map(Double.box).orNull, h.id.map(Long.box).orNull))
      .toDF("score", "id").orderBy(desc("score"), col("id").asc).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Double]),
        Option(r.get(1)).map(_.asInstanceOf[Long])))
    val got = hits.sorted(VectorCollection.SearchOrder).map(h => (h.score, h.id))
    def key(x: (Option[Double], Option[Long])) =
      (x._1.map(java.lang.Double.doubleToRawLongBits), x._2)
    assert(got.map(key) === want.toSeq.map(key))
    // the -0.0/0.0 tie is broken by id, whichever zero it carries
    assert(VectorCollection.SearchOrder.lt(
      Hit(Some(-0.0), Some(1L), null, null, None),
      Hit(Some(0.0), Some(2L), null, null, None)))
  }

  test("concurrent searches return what serial ones do") {
    val root = Files.createTempDirectory("graft_snap_conc").toString
    VectorCollection.recreate(spark, root, "c", dim = 4)
    val rnd = new scala.util.Random(3)
    VectorCollection.append(spark, root, "c",
      points((0L until 64L).map(_ -> Seq.fill(4)(rnd.nextGaussian())): _*))
    val queries = Seq.fill(8)(Seq.fill(4)(rnd.nextGaussian()))
    val serial = queries.map(q =>
      bits(VectorCollection.search(spark, root, "c", q, k = 5)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val concurrent = (0 until 2).map(_ => Future(queries.map(q =>
        bits(VectorCollection.search(spark, root, "c", q, k = 5)))))
      concurrent.foreach(f => assert(Await.result(f, 120.seconds) === serial))
    } finally pool.shutdown()
  }

  test("A4: stats pivot merge matches the golden CSV shape") {
    import spark.implicits._
    val counts = Seq(
      (2022, "math", "todas questoes", 37L),
      (2022, "natu", "todas questoes", 29L),
      (2022, "spani", "todas questoes", 3L),
      (2022, "lang", "todas questoes", 24L),
      (2022, "huma", "todas questoes", 26L),
      (2022, "math", "questoes add", 37L),
      (2022, "natu", "questoes add", 29L),
      (2022, "spani", "questoes add", 3L),
      (2022, "lang", "questoes add", 24L),
      (2022, "huma", "questoes add", 26L)
    ).toDF("year", "subject", "kind", "n")
    val stats = LoadStats.pivot(counts)
    assert(stats.columns.toSeq ===
      "row_key" +: LoadStats.Subjects)
    val rows = stats.collect()
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("2022 questoes add", "2022 todas questoes"))
    // 119-question 2022 total (BASELINE.md golden count).
    val total = LoadStats.Subjects.map(s =>
      rows(1).getAs[Long](s)).sum
    assert(total === 119L)
    // eng had no 2022 extractions → zero-filled.
    assert(rows(1).getAs[Long]("eng") === 0L)
  }
}
