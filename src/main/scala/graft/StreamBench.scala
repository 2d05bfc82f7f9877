package graft

import graft.operators.{LshIndex, TextAnalysis, WebArchive}
import graft.streaming.DocIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming-twin micro-bench (VERDICT r13 #3): `startCrawlPipeline`
  * was spec-green but had NO timing artifact, so a throughput
  * regression in the streaming path — the `indexGate` probe,
  * `commitBatch`, the per-batch WET decode — would be invisible, the
  * same blind spot `pdf_pages_scan` closed for the PDF codec.
  *
  * Feeds the batch flagship's OWN corpus (the `documents` table pushed
  * through the shared `warcResponseSynth` WARC writer, one archive per
  * doc) to the streaming pipeline in N micro-batches split by
  * `doc_id % N`, and times each `processAllAvailable()` drain. Per
  * batch it also records, OUTSIDE the timed window:
  *  - `probe_pairs` — the batch's LSH candidate pairs against the
  *    index as it stood BEFORE the batch (the indexGate probe volume,
  *    recomputed independently so the timed path stays untouched);
  *  - `admitted` — training rows the batch committed;
  *  - `index_fps_rows` / `redundancy` — index growth and the
  *    [[LshIndex.redundancyRatio]] compaction-policy probe.
  *
  * Emits ONE JSON line on stdout and mirrors it to
  * `bench_stream_<sf>.json` (committed for sf0.01 — the per-batch
  * prior the next round diffs against, as `bench_priors.json` is for
  * the batch suite). Run:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 java ... graft.StreamBench
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    val nBatches = sys.env.get("SPARK_GRAFT_STREAM_BATCHES")
      .map(_.toInt).getOrElse(4)
    val spark = LocalSession.create()

    val setupT0 = System.nanoTime()
    val docs = queries.Tables.t(spark, sfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .cache()
    // the flagship's quality bar: the corpus median in exact micro
    // units — roughly half of each batch passes, so the gate, the LSH
    // probe, and the commit all carry realistic load
    val minQ = TextAnalysis.qualityFrame(docs, "doc_id", "text")
      .select(round(col("quality") * 10000).cast("long").as("q4"))
      .agg(percentile(col("q4"), lit(0.5))).first().getDouble(0).toLong

    val work = java.nio.file.Files
      .createTempDirectory("graft_streambench").toString
    val in = s"$work/in"
    val train = s"$work/train"
    val idx = s"$work/idx"
    val ckpt = s"$work/ckpt"

    def batchArchives(i: Int): DataFrame = docs
      .filter(pmod(col("doc_id"), lit(nBatches.toLong)) === i.toLong)
      .select(col("doc_id").as("warc_id"),
        queries.WebQueries.warcResponseSynth(col("doc_id"), col("text"))
          .as("bytes"))

    /** The batch's (doc_id, text) rows exactly as the pipeline derives
      * them — for the untimed probe-volume reading. */
    def batchDocs(i: Int): DataFrame =
      WebArchive.records(
          WebArchive.wetConversion(batchArchives(i), "warc_id", "bytes"),
          "warc_id", "wet")
        .filter(col("warc_type") === "conversion")
        .select(
          (col("warc_id") * DocIngest.RecordIdSpan + col("rec_idx"))
            .as("doc_id"),
          col("payload").as("text"))

    val setupMs = (System.nanoTime() - setupT0) / 1000000L
    val readings = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Long, Long, Long, Long, Double)]
    val q = {
      // first batch must exist before the stream starts (schema infer)
      batchArchives(0).write.mode("append").parquet(in)
      DocIngest.startCrawlPipeline(spark, in, train, idx, ckpt,
        minQualityMicro = minQ)
    }
    try {
      var committed = 0L
      for (i <- 0 until nBatches) {
        // untimed: probe volume against the index AS IT STANDS (empty
        // for batch 0), then feed the batch and time the drain
        val probePairs =
          if (!LshIndex.exists(spark, idx)) 0L
          else LshIndex.probePairs(spark, idx, batchDocs(i), "doc_id",
            "text", threshold = 0.8).count()
        val nArchives = if (i == 0) batchArchives(0).count()
          else {
            val b = batchArchives(i)
            b.write.mode("append").parquet(in)
            b.count()
          }
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val wallMs = (System.nanoTime() - t0) / 1000000L
        val total = spark.read.parquet(train).count()
        val admitted = total - committed
        committed = total
        val fpsRows = spark.read.parquet(s"$idx/fps").count()
        val ratio = LshIndex.redundancyRatio(spark, idx)
        readings += ((i, wallMs, nArchives, probePairs, admitted,
          fpsRows, ratio))
      }
    } finally q.stop()

    val batchesJson = readings.map { case (i, w, n, p, a, f, r) =>
      f"""{"batch":$i,"wall_ms":$w,"input_archives":$n,""" +
        f""""probe_pairs":$p,"admitted":$a,"index_fps_rows":$f,""" +
        f""""redundancy":$r%.3f}"""
    }.mkString("[", ",", "]")
    val totalWall = readings.map(_._2).sum
    val line =
      s"""{"metric":"stream_crawl","sf":"$sfDir","n_batches":$nBatches,""" +
        s""""setup_ms":$setupMs,"total_wall_ms":$totalWall,""" +
        s""""min_quality_micro":$minQ,"batches":$batchesJson}"""
    println(line)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(
        s"bench_stream_${new java.io.File(sfDir).getName}.json"),
      (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
  }
}
