package graft

import graft.etl.Pipeline
import graft.sources.VectorCollection
import org.apache.spark.sql.functions._
import java.nio.file.Files

class PipelineSpec extends SparkSpec {

  test("E1: process folder end-to-end — extract, embed, load, search") {
    val root = Files.createTempDirectory("graft_etl").toString
    VectorCollection.recreate(spark, root, "enem", dim = 64)

    val report = Pipeline.processFolder(spark,
      TestBooklet.pagesDf(spark), TestBooklet.keysDf(spark),
      root, "enem", dim = 64)

    // D1: 9 standard visible questions; D2: 4 → 13 points.
    assert(report.attempted === 13)
    assert(report.added === 13)
    assert(report.pairs === 2)

    val coll = VectorCollection.read(spark, root, "enem")
    assert(coll.count() === 13)
    // ids dense from 0.
    val ids = coll.select("id").collect().map(_.getLong(0)).sorted
    assert(ids === (0L until 13L).toArray)

    // K1: searching with a loaded point's vector returns that point.
    val probe = coll.filter(col("materia") === "natu").limit(1).first()
    val hit = VectorCollection.search(spark, root, "enem",
      probe.getSeq[Double](probe.fieldIndex("vector")), k = 1).first()
    assert(hit.getAs[Long]("id") === probe.getAs[Long]("id"))

    // Second run appends with offset ids (incremental load, W2).
    val report2 = Pipeline.processFolder(spark,
      TestBooklet.pagesDf(spark), TestBooklet.keysDf(spark),
      root, "enem", dim = 64)
    assert(report2.added === 13)
    val ids2 = VectorCollection.read(spark, root, "enem")
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids2 === (0L until 26L).toArray)
    // the search above held a snapshot of the first load; the append
    // must invalidate it, so both copies of the probe are found now
    val both = VectorCollection.search(spark, root, "enem",
      probe.getSeq[Double](probe.fieldIndex("vector")), k = 2).collect()
    val probeId = probe.getAs[Long]("id")
    assert(both.map(_.getAs[Long]("id")).toSeq === Seq(probeId, probeId + 13))
    both.foreach(r => assert(math.abs(r.getAs[Double]("score") - 1.0) < 1e-9))
  }

  /** The TestBooklet exam as raw PDFs in a fresh folder: one page per
    * TestBooklet row, real content streams; D1 page 2 carries an embedded
    * image XObject (drives has_images); the GB PDFs' page 0 carries the
    * key grid. */
  private def pdfFolder(withKeys: Boolean = true): String = {
    val dir = Files.createTempDirectory("graft_pdfetl").toString
    def writePdf(name: String, pages: Seq[Seq[String]],
        images: Set[Int]): Unit = {
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
        PdfFixture.build(pages, images))
      ()
    }
    writePdf(TestBooklet.d1File,
      TestBooklet.d1Pages.sortBy(_._2).map(_._3.split("\n").toSeq),
      images = Set(2))
    writePdf(TestBooklet.d2File,
      TestBooklet.d2Pages.sortBy(_._2).map(_._3.split("\n").toSeq),
      images = Set.empty)
    if (withKeys) {
      writePdf(TestBooklet.d1KeyFile,
        Seq(TestBooklet.d1KeyText.split("\n").toSeq), Set.empty)
      writePdf(TestBooklet.d2KeyFile,
        Seq(TestBooklet.d2KeyText.split("\n").toSeq), Set.empty)
    }
    dir
  }

  test("E1 from RAW PDF FILES on disk: processPdfFolder renders the same " +
      "13 points as the fixture path") {
    val dir = pdfFolder()
    val root = Files.createTempDirectory("graft_pdfetl_coll").toString
    VectorCollection.recreate(spark, root, "enem", dim = 64)
    val report = Pipeline.processPdfFolder(spark, dir, root, "enem",
      dim = 64)
    assert(report.pairs === 2)
    assert(report.attempted === 13)
    assert(report.added === 13)
    val coll = VectorCollection.read(spark, root, "enem")
    assert(coll.count() === 13)
    // same subjects as the fixture-path run — full parity through the
    // PDF bytes (cover skip, image-page skip, spanish flag, key join)
    val bySubject = coll.groupBy("materia").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySubject === Map("eng" -> 5, "spani" -> 3, "lang" -> 1,
      "natu" -> 4))
  }

  test("E1: external-embedder path — batched client, same collection") {
    CountingEmbedder.reset()
    val root = Files.createTempDirectory("graft_etl3").toString
    VectorCollection.recreate(spark, root, "enem", dim = 64)
    val report = Pipeline.processFolder(spark,
      TestBooklet.pagesDf(spark), TestBooklet.keysDf(spark),
      root, "enem", dim = 64,
      embedder = Some(new CountingEmbedder(64)), embedBatchSize = 4)
    assert(report.attempted === 13)
    assert(report.added === 13)
    // 13 chunks in batches of ≥1 → strictly fewer client calls than rows
    // (the reference: 1 call per chunk).
    val calls = CountingEmbedder.calls.get()
    assert(calls > 0 && calls < 13, s"expected batched calls, got $calls")
    assert(CountingEmbedder.batchSizes.toArray(Array.empty[Integer])
      .map(_.toInt).sum === 13)

    // the client path must land the SAME vectors as the in-plan expression.
    val rootExpr = Files.createTempDirectory("graft_etl4").toString
    VectorCollection.recreate(spark, rootExpr, "enem", dim = 64)
    Pipeline.processFolder(spark, TestBooklet.pagesDf(spark),
      TestBooklet.keysDf(spark), rootExpr, "enem", dim = 64)
    val a = VectorCollection.read(spark, root, "enem")
      .select("page_content", "vector").collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val b = VectorCollection.read(spark, rootExpr, "enem")
      .select("page_content", "vector").collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(a === b)
  }

  test("E1: unpaired test aborts the folder (reference IOError semantics)") {
    import spark.implicits._
    val pagesNoKey = TestBooklet.pagesDf(spark)
      .filter(col("file_name") === TestBooklet.d1File)
    val emptyKeys = Seq.empty[(String, String)].toDF("file_name", "key_text")
    val root = Files.createTempDirectory("graft_etl2").toString
    VectorCollection.recreate(spark, root, "enem", dim = 64)
    intercept[java.io.IOException] {
      Pipeline.processFolder(spark, pagesNoKey, emptyKeys, root, "enem")
    }
  }

  test("E1: a failed load releases the pipeline's persisted frames " +
      "(wrong-dimension vectors into a collection of another dim)") {
    for (client <- Seq(false, true)) {
      val root = Files.createTempDirectory("graft_etl_dim").toString
      VectorCollection.recreate(spark, root, "enem", dim = 32)
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val e = intercept[Exception] {
        Pipeline.processFolder(spark, TestBooklet.pagesDf(spark),
          TestBooklet.keysDf(spark), root, "enem", dim = 64,
          embedder = if (client) Some(new CountingEmbedder(64)) else None)
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("vector dim != declared")),
        s"expected the dim assertion, got $e")
      val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      assert(leaked.isEmpty,
        s"client=$client: the failed load left persisted RDDs $leaked")
    }
  }

  test("an unpaired PDF folder aborts before any Spark job: pairing runs " +
      "on the driver's listing, before a page is decoded") {
    val dir = pdfFolder(withKeys = false)
    // a hidden AppleDouble key beside the booklets pairs nothing
    Files.copy(java.nio.file.Paths.get(dir, TestBooklet.d1File),
      java.nio.file.Paths.get(dir, "._" + TestBooklet.d1KeyFile))
    val root = Files.createTempDirectory("graft_pdfetl_unpaired").toString
    VectorCollection.recreate(spark, root, "enem", dim = 64)
    var error: Option[Throwable] = None
    val jobs = JobCount.of(spark) {
      error = scala.util.Try(Pipeline.processPdfFolder(spark, dir, root,
        "enem", dim = 64)).failed.toOption
    }
    assert(error.map(_.getMessage) ===
      Some("2 test PDFs have no matching answer key"))
    assert(error.exists(_.isInstanceOf[java.io.IOException]))
    assert(jobs === 0)
  }

  test("job budget: processPdfFolder into a non-empty collection with an " +
      "existing stats CSV launches at most 22 jobs, and merges the stats") {
    val dir = pdfFolder()
    val root = Files.createTempDirectory("graft_pdfetl_budget").toString
    val stats = Files.createTempDirectory("graft_pdfetl_stats")
    VectorCollection.recreate(spark, root, "enem", dim = 64)
    Pipeline.processPdfFolder(spark, dir, root, "enem", dim = 64,
      statsCsv = Some(stats.resolve("s.csv").toString))
    var report: Pipeline.LoadReport = null
    val jobs = JobCount.of(spark) {
      report = Pipeline.processPdfFolder(spark, dir, root, "enem", dim = 64,
        statsCsv = Some(stats.resolve("s.csv.out").toString))
    }
    assert(report === Pipeline.LoadReport(2L, 0L, 13L, 13L))
    info(s"$jobs jobs")
    val part = stats.resolve("s.csv.out.out").toFile.listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(part.length === 1)
    assert(new String(Files.readAllBytes(part.head.toPath), "UTF-8") ===
      "row_key,eng,lang,spani,natu,math,huma\n" +
      "2023 questoes add,5,1,3,4,0,0\n" +
      "2023 todas questoes,5,1,3,4,0,0\n")
    assert(VectorCollection.read(spark, root, "enem").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === (0L until 26L))
    assert(jobs <= 22, s"$jobs jobs")
  }
}
