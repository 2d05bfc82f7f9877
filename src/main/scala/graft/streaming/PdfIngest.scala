package graft.streaming

import graft.operators.{ExtractPipeline, Pairing}
import graft.sources.PdfSource
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

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
  * Pairing follows the batch path's rule (`Pairing.pairNames`, as
  * `Pipeline.processPdfFolder` pairs its listing) over every file the
  * stream has delivered so far, so a booklet and its key pair whichever
  * micro-batches they land in. Each booklet commits once: in the batch
  * in which it first pairs, with the key it pairs with then (a smaller
  * key name arriving later does not re-commit it), its file and its
  * key's read again by path when one of them arrived in an earlier
  * batch. The delivered paths are logged under `outDir/_delivered`
  * before each batch commits, so a replay pairs exactly as the first
  * attempt did. Unpaired booklets wait instead of aborting the stream
  * (the batch form's abort-on-unpaired guards a one-shot run). As on
  * the batch path, pairing reads names only: a key whose page 0 yields
  * no text still pairs, and its booklet's questions commit with
  * `AnswerKey.AnswerNotFound`.
  *
  * Scale shape: file listing is incremental (Structured Streaming's
  * file index), page decode runs per-file inside the batch's
  * `binaryFile` scan partitions, and everything downstream is the
  * audited batch plan — no new shuffle topology. */
object PdfIngest {

  /** One row per extracted question, appended to `outDir` as
    * `batch=<id>` parquet partitions. */
  def start(spark: SparkSession, pdfDir: String, outDir: String,
      checkpoint: String): StreamingQuery = {
    val files = spark.readStream
      .format("binaryFile")
      // streaming file sources require an explicit schema — this is the
      // binaryFile source's fixed one
      .schema("path STRING, modificationTime TIMESTAMP, " +
        "length LONG, content BINARY")
      .option("pathGlobFilter", "*.pdf")
      .load(pdfDir)
      .select(col("path"), col("content"))
    DocIngest.eachBatch(files, checkpoint) { (batch, batchId) =>
      // the path column alone: binaryFile reads no content for it
      val now = batch.select(col("path")).collect().toSeq.map(_.getString(0))
      if (now.nonEmpty) {
        val earlier = delivered(spark, outDir, batchId, now)
          .filterNot(now.toSet)
        val pairs = newPairs(earlier.map(name), now.map(name))
        val wanted = pairs.flatMap(p => Seq(p._1, p._2)).toSet
        val fs = new Path(outDir).getFileSystem(
          spark.sessionState.newHadoopConf())
        val reread = earlier.filter(p =>
          wanted(name(p)) && fs.exists(new Path(p)))
        val current = batch.filter(col("path").isin(
          now.filter(p => wanted(name(p))): _*))
        val paired = if (reread.isEmpty) current
          else current.union(spark.read.format("binaryFile")
            .load(reread: _*).select(col("path"), col("content")))
        DocIngest.commitBatch(extractBatch(paired, pairs), batchId, outDir)
      }
    }
  }

  private def name(path: String): String = new Path(path).getName

  /** The (booklet, key) pairs of `earlier ++ now` whose booklet did not
    * already pair within `earlier`. */
  private def newPairs(earlier: Seq[String],
      now: Seq[String]): Seq[(String, String)] = {
    val before = Pairing.pairNames(earlier)._1.map(_._1).toSet
    Pairing.pairNames(earlier ++ now)._1.filterNot(p => before(p._1))
  }

  /** The paths delivered before batch `batchId`. The log keeps, per
    * non-empty batch, every path delivered up to it in
    * `outDir/_delivered/<batchId>`: this reads the newest entry before
    * `batchId`, writes `batchId`'s, and drops the entries older than the
    * one read (a replay of `batchId` reads that one again). Spark's
    * readers skip the `_`-prefixed directory. */
  private def delivered(spark: SparkSession, outDir: String, batchId: Long,
      now: Seq[String]): Seq[String] = {
    val dir = new Path(outDir, "_delivered")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val ids = if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.flatMap(_.getPath.getName.toLongOption)
    val prev = ids.filter(_ < batchId).maxOption
    val earlier = prev.toSeq.flatMap { id =>
      val in = fs.open(new Path(dir, id.toString))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    val out = fs.create(new Path(dir, batchId.toString), true)
    try out.write((earlier ++ now).distinct.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    ids.filter(id => prev.exists(id < _))
      .foreach(id => fs.delete(new Path(dir, id.toString), false))
    earlier
  }

  /** The batch kernel: (path, content) rows of the paired files → the
    * question-record DataFrame of `ExtractPipeline.extract` over
    * `pairs` (booklet, key). */
  private[streaming] def extractBatch(files: DataFrame,
      pairs: Seq[(String, String)]): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    val pages = PdfSource.decodePages(files)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (pv, keyTexts) = PdfSource.bookletsAndKeys(pages)
      ExtractPipeline.extract(pv, keyTexts,
          pairs.toDF("file_name", "answer_file"))
        .localCheckpoint() // materialize before unpersisting pages
    } finally { pages.unpersist(); () }
  }
}
