package graft.streaming

import graft.operators.{ExtractPipeline, Pairing}
import graft.sources.PdfSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous PDF-folder ingest — the streaming form of E1
  * (`pdf_to_qdrant_etl.py:107-159` `process_folder`), exactly the
  * extension SURVEY.md §2.8 reserves: a `binaryFile` file-source stream
  * over a drop folder, with `foreachBatch` running the SAME batch
  * extract plan (pairing → page decode → question records → answer
  * join) and committing append-only batch partitions through the
  * idempotent `batch=` protocol DocIngest canonizes — a replayed
  * batchId commits nothing twice, so crash-replay is exactly-once at
  * the sink.
  *
  * Pairing semantics per MICRO-BATCH: a booklet and its key must land
  * in the same batch to pair (the reference's folder contract — tests
  * and keys ship together); unpaired booklets in a batch are SKIPPED
  * and surface in the per-batch `unpaired` metric rather than aborting
  * the stream (the batch form's abort-on-unpaired guards a one-shot
  * run; a continuous ingest must keep consuming).
  *
  * Scale shape: file listing is incremental (Structured Streaming's
  * file index), page decode runs per-file inside the batch's
  * `binaryFile` scan partitions, and everything downstream is the
  * audited batch plan — no new shuffle topology. */
object PdfIngest {

  /** One row per extracted question, appended to `outDir` as
    * `batch=<id>` parquet partitions. */
  def start(spark: SparkSession, pdfDir: String, outDir: String,
      checkpoint: String,
      pollInterval: String = "1 second"): StreamingQuery = {
    spark.readStream
      .format("binaryFile")
      // streaming file sources require an explicit schema — this is the
      // binaryFile source's fixed one
      .schema("path STRING, modificationTime TIMESTAMP, " +
        "length LONG, content BINARY")
      .option("pathGlobFilter", "*.pdf")
      .load(pdfDir)
      .select(col("path"), col("content"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(pollInterval))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val questions = extractBatch(batch)
          DocIngest.commitBatch(questions, batchId, outDir)
        }
        ()
      }
      .start()
  }

  /** The batch kernel, shared with tests: (path, content) rows → the
    * question-record DataFrame of `ExtractPipeline.extract`. */
  private[streaming] def extractBatch(files: DataFrame): DataFrame = {
    val pages = PdfSource.decodePages(files)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (pv, keyTexts) = PdfSource.bookletsAndKeys(pages)
      val inventory = pv.select(col("file_name"))
        .union(keyTexts.select(col("file_name"))).distinct()
      // continuous form: unpaired booklets drop out of THIS batch
      // (they pair when their key arrives in a later drop) instead of
      // aborting the stream like the one-shot folder run
      val pairs = Pairing.pair(inventory)
      ExtractPipeline.extract(pv, keyTexts, pairs)
        .localCheckpoint() // materialize before unpersisting pages
    } finally { pages.unpersist(); () }
  }
}
