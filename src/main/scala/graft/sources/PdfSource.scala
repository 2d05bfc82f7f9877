package graft.sources

import graft.functions.{PdfCodec, TextFunctions => TF}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S1/S2/S3 on RAW PDF BYTES: directory scan → per-page text and image
  * rows, in the exact `pages` schema the extract pipeline consumes
  * (FIXTURES.md A.1) — so `ExtractPipeline.extract` runs end-to-end from
  * files on disk, like the reference's fitz loop
  * (`enem_pdf_extractor.py:236,:297-335`), for the pure-JVM-decodable
  * subset PdfCodec documents.
  *
  * Scale shape: `binaryFile` is a standard Spark source (splittable file
  * listing, one row per file, streams content lazily); parsing runs in a
  * per-partition map, so 10k PDFs decode across the cluster with no
  * driver involvement. Whole-file rows mean one task holds one PDF in
  * memory — fine for document-sized inputs; media-scale payloads take
  * the [[graft.operators.Multimodal.balancedBySize]] path instead. */
object PdfSource {

  /** The `*.pdf` files under `dir` as (path, content) rows. */
  private def pdfFiles(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.pdf")
      .load(dir)
      .select(col("path"), col("content"))

  /** Driver-side listing through the Hadoop FS, metadata only: the `*.pdf`
    * files directly in `dir`, sorted, or `dir` itself when it is a file.
    * Like `binaryFile` it reads no subdirectory and skips the names Spark's
    * file listing treats as hidden — a `.` prefix, or a `_` prefix without
    * `=` — so a macOS `._x.pdf` AppleDouble file is never read as a PDF.
    * The one listing rule of `graft-pdf` and `Pipeline.processPdfFolder`'s
    * pairing. */
  def listPdfs(conf: org.apache.hadoop.conf.Configuration,
      dir: String): Seq[org.apache.hadoop.fs.Path] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    def visiblePdf(n: String) = n.endsWith(".pdf") && !n.startsWith(".") &&
      !(n.startsWith("_") && !n.contains("="))
    if (fs.getFileStatus(p).isFile) Seq(p)
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && visiblePdf(s.getPath.getName))
      .map(_.getPath).sortBy(_.toString)
  }

  private def fileName(path: String): String =
    path.substring(path.lastIndexOf('/') + 1)

  /** (file_name, page_idx, page_text, has_images, image_names) — one row
    * per page of every `*.pdf` under `dir`. */
  def pages(spark: SparkSession, dir: String): DataFrame =
    decodePages(pdfFiles(spark, dir))

  /** The page decode behind [[pages]], over any (path, content) rows —
    * the batch listing above or a streaming `binaryFile` micro-batch. */
  def decodePages(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val name = fileName(path)
        PdfCodec.extractPages(bytes).map(p =>
          (name, p.pageIdx, p.text, p.hasImages, p.imageNames))
      }
      .toDF("file_name", "page_idx", "page_text", "has_images",
        "image_names")
  }

  /** Split decoded pages into test-booklet pages (PV) and answer-key
    * texts (GB, page-0 text — the reference reads its keys from the key
    * PDF's first page, enem_pdf_extractor.py:959-966): returns
    * (pages, keyTexts(file_name, key_text)), the inputs of
    * `ExtractPipeline.extract`. */
  def bookletsAndKeys(pages: DataFrame): (DataFrame, DataFrame) =
    (pages.filter(TF.kindOf(col("file_name")) === "PV"),
      pages.filter(TF.kindOf(col("file_name")) === "GB" &&
          col("page_idx") === 0)
        .select(col("file_name"), col("page_text").as("key_text")))

  /** (file_name, page_idx, image_name, filter, image_bytes) — one row per
    * image XObject; DCTDecode payloads are writable .jpg files as-is
    * (pair with [[graft.operators.Multimodal.writeBinaryFiles]] for the
    * reference's one-PNG-per-page-image sink). */
  def images(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pdfFiles(spark, dir)
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val name = fileName(path)
        PdfCodec.extractImages(bytes).map(im =>
          (name, im.pageIdx, im.name, im.filter, im.bytes))
      }
      .toDF("file_name", "page_idx", "image_name", "filter", "image_bytes")
  }
}
