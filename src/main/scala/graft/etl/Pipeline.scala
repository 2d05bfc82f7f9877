package graft.etl

import graft.functions.{Fingerprints, TextFunctions => TF}
import graft.operators.{ExtractPipeline, Pairing}
import graft.sources.{PdfSource, VectorCollection}
import graft.stats.LoadStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** E1 — the full ETL "query" (pdf_to_qdrant_etl.py:107-159): pair
  * booklets↔keys, extract questions, embed, load into the vector
  * collection, reconcile counts, merge stats. Pairing and the stats merge
  * run on the driver, over file names and a dozen stats rows, as in the
  * reference; the per-question stages are one lineage, and embedding is
  * either the deterministic in-plan expression (default) or any
  * [[Embedder]] driven through the batched `mapPartitions` client
  * (`Embedder.embedColumn`) — pass `embedder = Some(...)` for a real model.
  */
object Pipeline {

  final case class LoadReport(pairs: Long, unpaired: Long,
      attempted: Long, added: Long)

  /** E1 from RAW PDF BYTES on disk: pair the `*.pdf` names the driver lists
    * in `pdfDir` (`PdfSource.listPdfs`), aborting on an unpaired test before
    * any PDF is decoded; then decode the PDFs (pure-JVM PdfCodec), split
    * booklets from keys and load as [[processFolder]] does. */
  def processPdfFolder(spark: SparkSession, pdfDir: String,
      collectionRoot: String, collection: String, dim: Int = 64,
      statsCsv: Option[String] = None, imagesMode: Boolean = false,
      embedder: Option[Embedder] = None,
      embedBatchSize: Int = 64): LoadReport = {
    val names = PdfSource.listPdfs(spark.sparkContext.hadoopConfiguration,
      pdfDir).map(_.getName)
    val all = PdfSource.pages(spark, pdfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (pages, keyTexts) = PdfSource.bookletsAndKeys(all)
    try load(spark, pages, keyTexts, names, collectionRoot, collection,
      dim, statsCsv, imagesMode, embedder, embedBatchSize)
    finally { all.unpersist(); () }
  }

  /** pages: (file_name, page_idx, page_text, has_images);
    * keyTexts: (file_name, key_text). J1 pairs their distinct file names,
    * aborting on an unpaired test. */
  def processFolder(spark: SparkSession, pages: DataFrame,
      keyTexts: DataFrame, collectionRoot: String, collection: String,
      dim: Int = 64, statsCsv: Option[String] = None,
      imagesMode: Boolean = false,
      embedder: Option[Embedder] = None,
      embedBatchSize: Int = 64): LoadReport = {
    val names = pages.select(col("file_name"))
      .union(keyTexts.select(col("file_name"))).distinct().collect()
    load(spark, pages, keyTexts,
      ArraySeq.unsafeWrapArray(names).map(_.getString(0)), collectionRoot,
      collection, dim, statsCsv, imagesMode, embedder, embedBatchSize)
  }

  /** Pairs `names` first, so an unpaired test aborts before any job. */
  private def load(spark: SparkSession, pages: DataFrame, keyTexts: DataFrame,
      names: Seq[String], collectionRoot: String, collection: String, dim: Int,
      statsCsv: Option[String], imagesMode: Boolean, embedder: Option[Embedder],
      embedBatchSize: Int): LoadReport = {
    import spark.implicits._
    val (pairs, unpaired) = Pairing.pairNames(names)
    if (unpaired.nonEmpty) throw new java.io.IOException(
      s"${unpaired.size} test PDFs have no matching answer key")
    // E2 extract → questions.
    val questions = ExtractPipeline.extract(pages, keyTexts,
        pairs.toDF("file_name", "answer_file"), imagesMode)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // T15 embed + point assembly (payload = reference's
    // {page_content, metadata:{materia, ano}}, flattened).
    val chunks = questions.select(
      TF.txtRecord(col("year"), col("question_text"), col("correct_answer"))
        .as("page_content"),
      col("subject").as("materia"), col("year").as("ano"),
      col("id").as("qid"))
    // Two embedding paths, one `vector` column contract: an external client
    // through the batched mapPartitions driver (with retries), PERSISTED so
    // the load's actions do not re-drive the API; or the deterministic
    // in-plan codegen'd expression.
    val embedded = embedder match {
      case Some(e) =>
        Embedder.embedColumn(chunks, "page_content", e,
            outCol = "vector", batchSize = embedBatchSize)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      case None =>
        chunks.withColumn("vector",
          Fingerprints.hashEmbed(col("page_content"), dim))
    }

    // Both persists are released however the load ends: a failed append
    // (e.g. a wrong-dimension vector) must not leave them in the session.
    try {
      // W2 id assignment continuing from the existing collection size.
      val existing = VectorCollection.count(spark, collectionRoot, collection)
      val points = VectorCollection.assignIdsOrdered(
          embedded.select(col("vector"), col("page_content"), col("materia"),
            col("ano"), col("qid")),
          existing, Seq("qid"))
        .drop("qid")
        .select(col("id"), col("vector"), col("page_content"), col("materia"),
          col("ano").cast("int").as("ano"))

      // S8 load + A3 reconcile, with this append's rows per (ano, materia)
      val (attempted, added) = VectorCollection.appendCounted(spark,
        collectionRoot, collection, points)

      // A4 stats: todas questoes = attempted per (year, subject), questoes
      // add = rows added THIS run (qdrant_text_loader.__etl_metadata_saving)
      statsCsv.foreach { csv =>
        val all = ArraySeq.unsafeWrapArray(questions
            .groupBy(col("year"), col("subject")).count().collect())
          .map(r => LoadStats.Count(Option(r.get(0)).map(_.toString),
            r.getString(1), "todas questoes", r.getLong(2)))
        val add = added.map { case ((y, s), n) =>
          LoadStats.Count(y.map(_.toString), s, "questoes add", n) }
        LoadStats.writeCsv(LoadStats.merged(spark, Some(csv), all ++ add),
          csv + ".out")
      }

      LoadReport(pairs.size.toLong, 0L, attempted, added.values.sum)
    } finally { embedded.unpersist(); questions.unpersist(); () }
  }

  /** E3 — `file_to_vectorDB` (qdrant_text_loader.py:144-240): load one
    * TXT questions file into the collection. Whole-file read (S4), T7
    * chunk split, T15 embed, id-offset append (W2), count reconcile (A3).
    * Returns (attempted, added). Empty text ⇒ (0, 0) without touching the
    * collection (F5, :194-196). */
  def loadTxtFile(spark: SparkSession, txtPath: String,
      collectionRoot: String, collection: String, subject: String,
      year: Int, dim: Int = 64): (Long, Long) = {
    val txt = spark.read.option("wholetext", "true").text(txtPath)
      .filter(length(col("value")) > 0)
    val chunks = txt.select(
      posexplode(TF.answerChunks(col("value"))).as(Seq("pos", "page_content")))
    if (chunks.isEmpty) return (0L, 0L)
    val existing = VectorCollection.count(spark, collectionRoot, collection)
    val points = VectorCollection.assignIdsOrdered(
        chunks.withColumn("vector",
            Fingerprints.hashEmbed(col("page_content"), dim))
          .select(col("pos"), col("vector"), col("page_content"),
            lit(subject).as("materia"), lit(year).as("ano")),
        existing, Seq("pos"))
      .select(col("id"), col("vector"), col("page_content"), col("materia"),
        col("ano"))
    VectorCollection.append(spark, collectionRoot, collection, points)
  }
}
