package graft

import graft.sources.PdfSource

/** The DSv2 connector (`format("graft-pdf")`): agreement with the typed
  * binaryFile path, projection pruning reaching the codec, and the
  * short-name registration. */
class PdfV2SourceSpec extends SparkSpec {

  private def writeFixtures(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_pdfv2").toString
    val a = PdfFixture.build(Seq(
      Seq("primeira pagina com texto."),
      Seq("segunda pagina tambem.")))
    val b = PdfFixture.build(Seq(Seq("outro arquivo aqui.")),
      imageOnPages = Set(0), imageBytes = Array.tabulate(16)(_.toByte))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "a.pdf"), a)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "b.pdf"), b)
    dir
  }

  test("graft-pdf scan equals PdfSource.pages row-for-row") {
    val dir = writeFixtures()
    val v2 = spark.read.format("graft-pdf").load(dir)
      .orderBy("file_name", "page_idx").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getBoolean(3), r.getSeq[String](4)))
    val v1 = PdfSource.pages(spark, dir)
      .orderBy("file_name", "page_idx").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getBoolean(3), r.getSeq[String](4)))
    assert(v2.length === 3)
    assert(v2 === v1)
  }

  test("projection without page_text prunes the scan — the codec skips " +
    "content-stream decode (plan-visible)") {
    val dir = writeFixtures()
    val q = spark.read.format("graft-pdf").load(dir)
      .select("file_name", "page_idx")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("cols=[file_name,page_idx]"),
      s"pruned scan description missing:\n${plan.take(1500)}")
    assert(!plan.contains("page_text"),
      s"page_text survived pruning:\n${plan.take(1500)}")
    assert(q.count() === 3)
    // pruned rows still correct
    val names = q.collect().map(r => (r.getString(0), r.getInt(1))).sorted
    assert(names === Array(("a.pdf", 0), ("a.pdf", 1), ("b.pdf", 0)))
  }

  test("file_name filters prune the listing — only matching files are " +
    "planned as partitions") {
    val dir = writeFixtures()
    val q = spark.read.format("graft-pdf").load(dir)
      .filter(org.apache.spark.sql.functions.col("file_name") === "b.pdf")
      .select("file_name", "page_idx")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("pushed=[") && plan.contains("b.pdf"),
      s"file filter not pushed:\n${plan.take(1500)}")
    assert(q.rdd.getNumPartitions === 1,
      "excluded file still planned as a partition")
    assert(q.collect().map(_.getString(0)).toSeq === Seq("b.pdf"))
    // prefix form
    val pre = spark.read.format("graft-pdf").load(dir)
      .filter(org.apache.spark.sql.functions.col("file_name")
        .startsWith("a"))
    assert(pre.rdd.getNumPartitions === 1)
    assert(pre.count() === 2)
  }

  test("a mismatched user-supplied schema is rejected loudly, not " +
    "silently mislabeled") {
    val dir = writeFixtures()
    val e = intercept[Exception] {
      spark.read.format("graft-pdf")
        .schema("file_name STRING, wrong_col INT")
        .load(dir).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // Spark's own supportsExternalMetadata gate fires first; the
    // provider's require covers direct catalog-level getTable calls
    assert(msgs(e).exists(m => m.contains("fixed schema") ||
      m.contains("does not support user-specified schema")),
      msgs(e).mkString("; "))
  }

  test("loading a single real ObjStm-compressed PDF file works through " +
    "the connector") {
    val real = new java.io.File(
      "/root/reference/pdfs_enem/2023/2023_GB_impresso_D2_CD7.pdf")
    assume(real.isFile, "reference PDF not present")
    val rows = spark.read.format("graft-pdf").load(real.getPath)
      .select("file_name", "page_idx", "page_text").collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getString(2).nonEmpty),
      "no text decoded from the real answer-key PDF")
  }

  test("both batch readers list one way: a macOS AppleDouble `._a.pdf` " +
      "beside a real PDF is skipped, and so is a subdirectory") {
    val dir = writeFixtures()
    val real = java.nio.file.Paths.get(dir, "a.pdf")
    def copy(to: String*): Unit = {
      val p = java.nio.file.Paths.get(dir, to: _*)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.copy(real, p)
      ()
    }
    copy("._a.pdf"); copy("_a.pdf"); copy("sub", "d.pdf")
    def names(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("file_name").distinct().collect().map(_.getString(0))
        .toSeq.sorted
    val want = Seq("a.pdf", "b.pdf")
    assert(names(PdfSource.pages(spark, dir)) === want)
    assert(names(spark.read.format("graft-pdf").load(dir)) === want)
    assert(PdfSource.listPdfs(spark.sparkContext.hadoopConfiguration, dir)
      .map(_.getName).sorted === want)
  }
}
