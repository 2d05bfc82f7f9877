package graft.etl

import graft.functions.{Fingerprints, TextFunctions => TF}
import graft.operators.{ExtractPipeline, Pairing}
import graft.sources.{PdfSource, VectorCollection}
import graft.stats.LoadStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** E1 — the full ETL "query" (pdf_to_qdrant_etl.py:107-159): pair
  * booklets↔keys, extract questions, embed, load into the vector
  * collection, reconcile counts, merge stats. One logical plan per stage,
  * Catalyst-optimized; external I/O only at the sinks.
  *
  * The reference loops file-pairs in Python and crosses the network once
  * per question for embeddings; here the whole folder is one lineage and
  * embedding is either the deterministic in-plan expression (default) or
  * any [[Embedder]] implementation driven through the batched
  * `mapPartitions` client (`Embedder.embedColumn`) — pass `embedder =
  * Some(...)` to use a real model.
  */
object Pipeline {

  final case class LoadReport(pairs: Long, unpaired: Long,
      attempted: Long, added: Long)

  /** E1 from RAW PDF BYTES on disk: scan `pdfDir` with
    * [[graft.sources.PdfSource]] (pure-JVM PdfCodec), split the
    * inventory into test booklets and answer keys
    * (`PdfSource.bookletsAndKeys`), and run [[processFolder]]. The
    * whole reference flow — directory to vector collection — in one
    * call with no fixture boundary, for the PdfCodec-decodable subset. */
  def processPdfFolder(spark: SparkSession, pdfDir: String,
      collectionRoot: String, collection: String, dim: Int = 64,
      statsCsv: Option[String] = None, imagesMode: Boolean = false,
      embedder: Option[Embedder] = None,
      embedBatchSize: Int = 64): LoadReport = {
    val all = PdfSource.pages(spark, pdfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (pages, keyTexts) = PdfSource.bookletsAndKeys(all)
    try processFolder(spark, pages, keyTexts, collectionRoot, collection,
      dim, statsCsv, imagesMode, embedder, embedBatchSize)
    finally { all.unpersist(); () }
  }

  /** pages: (file_name, page_idx, page_text, has_images);
    * keyTexts: (file_name, key_text). */
  def processFolder(spark: SparkSession, pages: DataFrame,
      keyTexts: DataFrame, collectionRoot: String, collection: String,
      dim: Int = 64, statsCsv: Option[String] = None,
      imagesMode: Boolean = false,
      embedder: Option[Embedder] = None,
      embedBatchSize: Int = 64): LoadReport = {

    // J1 pairing over the distinct file inventory; abort on unpaired.
    val files = pages.select(col("file_name"))
      .union(keyTexts.select(col("file_name"))).distinct()
    val unpaired = Pairing.unpairedTests(files).count()
    if (unpaired > 0)
      throw new java.io.IOException(
        s"$unpaired test PDFs have no matching answer key")
    val pairs = Pairing.pair(files)

    // E2 extract → questions.
    val questions = ExtractPipeline
      .extract(pages, keyTexts, pairs, imagesMode)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // T15 embed + point assembly (payload = reference's
    // {page_content, metadata:{materia, ano}}, flattened).
    val chunks = questions.select(
      TF.txtRecord(col("year"), col("question_text"), col("correct_answer"))
        .as("page_content"),
      col("subject").as("materia"), col("year").as("ano"),
      col("id").as("qid"))
    // Two embedding paths behind one seam: an external client goes through
    // the batched mapPartitions driver (one embedBatch call per batch, with
    // retries); the deterministic default stays an in-plan codegen'd
    // expression. Both produce the same `vector` column contract.
    // The client path is PERSISTED: the load below takes several actions
    // (id-offset count, reconcile count, write), and without a cache each
    // one would re-drive the external API over the whole corpus.
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

      // S8 load + A3 reconcile.
      val (attempted, added) =
        VectorCollection.append(spark, collectionRoot, collection, points)

      // A4 stats merge (todas questoes = attempted per (year, subject);
      // questoes add = rows inserted THIS run — ids continue from the
      // pre-append offset, so `id >= existing` selects exactly this batch;
      // re-counting the whole collection would record cumulative totals on
      // a second run into a non-empty collection (the reference writes the
      // per-run added_questions, qdrant_text_loader.__etl_metadata_saving).
      statsCsv.foreach { csv =>
        val attemptedCounts = questions.groupBy(col("year"), col("subject"))
          .agg(count(lit(1)).as("n"))
          .withColumn("kind", lit("todas questoes"))
        val addedCounts = VectorCollection
          .read(spark, collectionRoot, collection)
          .filter(col("id") >= existing)
          .groupBy(col("ano").as("year"), col("materia").as("subject"))
          .agg(count(lit(1)).as("n"))
          .withColumn("kind", lit("questoes add"))
        val stats = LoadStats.mergeWithExisting(spark, Some(csv),
          attemptedCounts.unionByName(addedCounts)
            .select(col("year"), col("subject"), col("kind"), col("n")))
        LoadStats.writeCsv(stats, csv + ".out")
      }

      LoadReport(pairs.count(), 0L, attempted, added)
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
