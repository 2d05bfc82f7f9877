package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (SURVEY.md §7.1-8): image/audio/video payloads
  * ride as opaque BINARY columns with typed metadata, exactly like the
  * reference's page-image bytes (enem_pdf_extractor.py:297-335) — extract,
  * transform and partition them relationally; only the codec call itself is
  * modality-specific.
  *
  * `decode` is REAL for the pure-JVM formats [[graft.functions.ImageCodec]]
  * handles (BMP/PPM/PGM/PNG full pixel decode, JPEG dimensions); payloads
  * in any other format fall back to a clearly-marked deterministic opaque
  * path (format "opaque", width/height/channels −1) so the per-partition
  * batch shape stays honest for every payload. Audio/video codecs would
  * slot into the same dispatch (JNI/ffmpeg); the Spark-side contract —
  * schema, per-partition batching, column plumbing — is production-shaped
  * either way.
  */
object Multimodal {

  /** Metadata block a real decoder would emit. */
  final case class MediaMeta(nBytes: Int, contentHash: String, nFrames: Int)
  final case class MediaRecord(id: Long, bytes: Array[Byte])
  final case class DecodedRecord(id: Long, nBytes: Int, contentHash: String,
      nFrames: Int, format: String, width: Int, height: Int, channels: Int)

  /** Column-level feature extraction over an opaque binary column — pure
    * built-ins, codegen'd, oracle-checkable. */
  def features(df: DataFrame, idCol: String, bytesCol: String): DataFrame =
    df.select(col(idCol),
      octet_length(col(bytesCol)).as("n_bytes"),
      md5(col(bytesCol)).as("content_md5"),
      (pmod(octet_length(col(bytesCol)), lit(8)) + 1).cast("int")
        .as("n_frames"))

  /** Per-record decode: real image parsing for the formats ImageCodec
    * recognizes; deterministic opaque metadata otherwise (video/audio
    * codecs would extend the dispatch — until then their payloads take
    * the opaque path rather than failing). */
  private def decodeBatch(batch: Iterator[MediaRecord]): Iterator[DecodedRecord] =
    batch.map { rec =>
      val hash = java.security.MessageDigest.getInstance("MD5")
        .digest(rec.bytes).map("%02x".format(_)).mkString
      graft.functions.ImageCodec.decode(rec.bytes) match {
        case Some(info) =>
          DecodedRecord(rec.id, rec.bytes.length, hash, 1,
            info.format, info.width, info.height, info.channels)
        case None =>
          DecodedRecord(rec.id, rec.bytes.length, hash,
            rec.bytes.length % 8 + 1, "opaque", -1, -1, -1)
      }
    }

  /** Typed per-partition decode pipeline: the production shape for codec
    * work in Spark — one decoder init per partition, streaming batches, no
    * driver involvement. */
  def decode(ds: Dataset[MediaRecord]): Dataset[DecodedRecord] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(decodeBatch)
  }

  final case class FrameRecord(id: Long, frame_idx: Int,
      frame_bytes: Array[Byte])

  /** STUB frame sampling (video → every-kth frame): the fake "codec"
    * treats the payload as `nFrames` contiguous slices (nFrames matching
    * the decode stub's metadata) and emits every `every`-th one. The
    * Spark-side contract is the production one — a per-partition flatMap
    * whose output is one row PER FRAME (frames of one medium stay within
    * the producing task; no array-of-frames column to blow row size), id +
    * frame_idx keys for downstream joins, bytes as an opaque payload. A
    * real implementation replaces the slicing with the codec's keyframe
    * iterator. Frames with every = 1 reassemble to the exact payload
    * (spec-checked); the index/length arithmetic is oracle-checked. */
  def sampleFrames(ds: Dataset[MediaRecord], every: Int): Dataset[FrameRecord] = {
    require(every > 0, "every must be positive")
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap { rec =>
      val len = rec.bytes.length
      val n = len % 8 + 1 // stub's nFrames (matches decodeBatch)
      val sliceLen = math.max(len / n, 1)
      (0 until n by every).iterator.map { f =>
        val from = math.min(len, f.toLong * sliceLen).toInt
        val until = if (f == n - 1) len
          else math.min(len, from + sliceLen)
        FrameRecord(rec.id, f,
          java.util.Arrays.copyOfRange(rec.bytes, from, until))
      }
    })
  }

  /** Size-aware repartition for decode workloads. Media payloads are
    * heavy-tailed (a 2 GB video next to 40 kB thumbnails), so hashing ids
    * into tasks yields decode times that differ by orders of magnitude —
    * the straggler problem that dominates multimodal wall clock at 100 TB.
    *
    * Rows are laid out in a deterministic (size desc, id) order and packed
    * into partitions of ≈`targetBytes` via a global byte prefix sum — the
    * same two-pass shape as `VectorCollection.assignIdsOrdered` /
    * `Packing` (per-partition sums to the driver, O(partitions) traffic,
    * then a local emit pass; data never leaves its partition until the final
    * exact bucket→partition placement). Guarantees: a partition's payload
    * stays under targetBytes + its last row's size, and a row larger than
    * targetBytes sits alone. Returns the input columns + `task_bucket`,
    * with one bucket per output partition (some buckets may be empty when
    * an oversize row skips bucket ids — harmless no-op tasks). */
  def balancedBySize(df: DataFrame, idCol: String, bytesCol: String,
      targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    val spark = df.sparkSession
    val sorted = df
      .withColumn("_sz", octet_length(col(bytesCol)).cast("long"))
      .orderBy(desc("_sz"), col(idCol))
    val rdd = sorted.rdd
    val szIdx = sorted.schema.fieldIndex("_sz")

    val partSums = rdd.mapPartitionsWithIndex { (i, it) =>
      var s = 0L
      it.foreach(r => s += r.getLong(szIdx))
      Iterator.single((i, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _)
    val total = offsets.last
    val nBuckets = math.max(1L, (total - 1) / targetBytes + 1).toInt

    val keyed = rdd.mapPartitionsWithIndex { (i, it) =>
      var cum = offsets(i)
      it.map { r =>
        val bucket = (cum / targetBytes).toInt
        cum += r.getLong(szIdx)
        (bucket, Row.fromSeq(r.toSeq.dropRight(1) :+ bucket))
      }
    }.partitionBy(new org.apache.spark.Partitioner {
      override def numPartitions: Int = nBuckets
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    }).values
    spark.createDataFrame(keyed, StructType(df.schema.fields :+
      StructField("task_bucket", IntegerType, nullable = false)))
  }

  /** Per-row 64-bit perceptual hash (dHash) of an image binary column —
    * null for payloads ImageCodec cannot decode to pixels. The hash is a
    * native codegen expression ([[graft.functions.DHash64Expr]] — one
    * static codec call per row inside whole-stage codegen, no UDF
    * ser/de), so the projection fuses with up/downstream operators.
    * Output: idCol + `phash` (long). */
  def perceptualHash(df: DataFrame, idCol: String, bytesCol: String): DataFrame =
    df.select(col(idCol),
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.DHash64Expr(
          org.apache.spark.sql.GraftColumnBridge.expression(col(bytesCol))))
        .as("phash"))

  /** Thumbnail/normalize transform over an image binary column: decode →
    * box-resample to `w`×`h` ([[graft.functions.ImageCodec.resize]]) →
    * re-encode as binary PNM. The standard pre-embedding normalization
    * step of a multimodal training pipeline, run as a deterministic
    * per-partition map (one codec dispatch per row, no driver
    * involvement); undecodable payloads yield null rather than failing
    * the task. Output: idCol + `resized` (binary, nullable). */
  def resizeImages(df: DataFrame, idCol: String, bytesCol: String,
      w: Int, h: Int): DataFrame = {
    require(w > 0 && h > 0, "target dimensions must be positive")
    val resizeUdf = udf((b: Array[Byte]) =>
      graft.functions.ImageCodec.decode(b)
        .flatMap(graft.functions.ImageCodec.resize(_, w, h))
        .flatMap(graft.functions.ImageCodec.encodePnm): Option[Array[Byte]])
    df.select(col(idCol), resizeUdf(col(bytesCol)).as("resized"))
  }

  /** Audio content features over a WAV binary column — the audio leg of
    * the multimodal axis ([[graft.functions.WavCodec]]): duration,
    * sample rate, channel count, RMS/peak energy, zero-crossing rate and
    * silence fraction (each milli-quantized — integer outputs, identical
    * on every executor/retry). Undecodable payloads emit a row with null
    * features rather than failing the task. One deterministic
    * per-partition pass, no driver involvement. Output: idCol +
    * (duration_ms, sample_rate, channels, rms_milli, peak_milli,
    * zcr_milli, silence_milli), all nullable longs/ints. */
  def audioFeatures(df: DataFrame, idCol: String,
      bytesCol: String): DataFrame = {
    val featUdf = udf((b: Array[Byte]) =>
      graft.functions.WavCodec.decode(b).map { w =>
        val f = graft.functions.WavCodec.features(w)
        (f.durationMs, f.sampleRate, f.channels, f.rmsMilli, f.peakMilli,
          f.zcrMilli, f.silenceMilli)
      }: Option[(Long, Int, Int, Long, Long, Long, Long)])
    df.select(col(idCol), featUdf(col(bytesCol)).as("_f"))
      .select(col(idCol),
        col("_f._1").as("duration_ms"), col("_f._2").as("sample_rate"),
        col("_f._3").as("channels"), col("_f._4").as("rms_milli"),
        col("_f._5").as("peak_milli"), col("_f._6").as("zcr_milli"),
        col("_f._7").as("silence_milli"))
  }

  /** 64-bit energy-contour fingerprints of a WAV binary column, emitted
    * under the SAME (id, phash) contract as [[perceptualHash]] — so
    * [[phashNearDupPairs]] and [[phashIncrementalHits]] (4×16-bit band
    * LSH, pigeonhole-complete ≤ 3 bits, codegen'd Hamming verify) work
    * unchanged on the audio axis: near-dup audio detection and the
    * streaming dedup-on-ingest gate come for free. Amplitude-invariant
    * by construction (frame-energy COMPARISONS, not magnitudes).
    * Undecodable or sub-frame-length payloads hash to null. */
  def audioFingerprints(df: DataFrame, idCol: String,
      bytesCol: String): DataFrame =
    // native codegen expression, not a UDF — one static codec call per
    // row inside whole-stage codegen (the DHash64Expr pattern)
    df.select(col(idCol),
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.AudioFingerprintExpr(
          org.apache.spark.sql.GraftColumnBridge.expression(
            col(bytesCol))))
        .as("phash"))

  /** Container metadata over an AVI video binary column
    * ([[graft.functions.AviCodec]]) — the video leg of the multimodal
    * axis: dimensions, frame interval (fps as milli-fps, integer), the
    * header's declared frame count AND the actual `movi` chunk count
    * (real-world files disagree; a curation gate wants both).
    * Undecodable payloads keep their row with null metadata. */
  def videoMeta(df: DataFrame, idCol: String, bytesCol: String): DataFrame = {
    val metaUdf = udf((b: Array[Byte]) =>
      graft.functions.AviCodec.decodeInfo(b).map { i =>
        val fpsMilli =
          if (i.usPerFrame > 0) 1000000000L / i.usPerFrame else 0L
        (i.width, i.height, fpsMilli, i.declaredFrames, i.frameChunks)
      }: Option[(Int, Int, Long, Int, Int)])
    df.select(col(idCol), metaUdf(col(bytesCol)).as("_m"))
      .select(col(idCol),
        col("_m._1").as("width"), col("_m._2").as("height"),
        col("_m._3").as("fps_milli"), col("_m._4").as("declared_frames"),
        col("_m._5").as("frame_chunks"))
  }

  /** Frame sampling: every `every`-th frame payload of each video,
    * EXPLODED to (id, frame_idx, frame_bytes) rows — the decode-fan-out
    * step of a video training pipeline (each output row then flows
    * through the IMAGE stack: dHash, resize, features — AVI frame
    * payloads are JPEGs in real MJPG files, exactly what ImageCodec
    * decodes). Row-grain memory is one container per task; a long-video
    * production path would stream chunk offsets instead, same contract. */
  def videoFrameSample(df: DataFrame, idCol: String, bytesCol: String,
      every: Int = 1): DataFrame = {
    require(every >= 1, "every must be >= 1")
    val framesUdf = udf((b: Array[Byte]) =>
      graft.functions.AviCodec.frames(b).zipWithIndex.collect {
        case (f, i) if i % every == 0 => (i, f)
      }: Seq[(Int, Array[Byte])])
    df.select(col(idCol), explode(framesUdf(col(bytesCol))).as("_f"))
      .select(col(idCol), col("_f._1").as("frame_idx"),
        col("_f._2").as("frame_bytes"))
  }

  /** 64-bit video fingerprint under the (id, phash) contract: the image
    * dHash of the MIDDLE sampled frame (deterministic, re-encode-stable
    * for the common trim-free near-dup case) — so [[phashNearDupPairs]]
    * / [[phashIncrementalHits]] and the streaming dedup gate work
    * unchanged on video, like [[audioFingerprints]] on audio. Videos
    * with no decodable frame hash to null. */
  def videoFingerprints(df: DataFrame, idCol: String,
      bytesCol: String): DataFrame = {
    val fpUdf = udf { (b: Array[Byte]) =>
      val fs = graft.functions.AviCodec.frames(b)
      (if (fs.isEmpty) None
       else graft.functions.ImageCodec.dHash64(fs(fs.length / 2))
         .orElse(fs.iterator
           .flatMap(f => graft.functions.ImageCodec.dHash64(f))
           .take(1).toSeq.headOption)): Option[Long]
    }
    df.select(col(idCol), fpUdf(col(bytesCol)).as("phash"))
  }

  /** Near-duplicate image pairs by perceptual hash: candidate generation
    * bands the 64-bit dHash into four 16-bit slices — by pigeonhole any
    * pair within Hamming distance ≤ 3 shares at least one identical
    * slice — then verifies candidates with codegen'd `bit_count(a ^ b)`.
    * The same LSH-banding shape as MinHash text dedup: one shuffle on
    * (band, slice), never all-pairs, so it survives a billion-image
    * corpus as long as individual band buckets stay bounded (identical
    * hashes collapse via the distinct pair set).
    *
    * Input: idCol + `phash` (e.g. [[perceptualHash]] output, nulls
    * dropped). Output: `id_a` < `id_b`, `hamming` ≤ maxHamming. */
  def phashNearDupPairs(hashed: DataFrame, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-band pigeonhole guarantees recall only for maxHamming <= 3")
    val banded = bandedHashes(hashed, idCol)
    val a = banded.alias("a"); val b = banded.alias("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.slice") === col("b.slice") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).as("hamming"))
      .distinct() // a pair can collide in several bands
      .filter(col("hamming") <= maxHamming)
  }

  /** Band-expand a hashed frame to (id, phash, band, slice) — shared by
    * the self-join pair generator and the cross-table incremental form. */
  private def bandedHashes(hashed: DataFrame, idCol: String): DataFrame = {
    val bands = explode(array((0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("phash"), b * 16)
          .bitwiseAND(lit(0xffffL)).as("slice"))): _*))
    hashed.filter(col("phash").isNotNull)
      .select(col(idCol).as("id"), col("phash"), bands.as("bs"))
      .select(col("id"), col("phash"),
        col("bs.band").as("band"), col("bs.slice").as("slice"))
  }

  /** Incremental near-dup check: ids from `newHashed` whose dHash lies
    * within `maxHamming` of ANY row of `corpusHashed` — the cross-table
    * twin of [[phashNearDupPairs]] (same 4-band pigeonhole candidates,
    * same codegen'd verify), for dedup-on-ingest gates: only band-slice
    * collisions join, so the corpus side prunes to the candidate buckets
    * regardless of its size. Output: distinct `idCol`. */
  def phashIncrementalHits(newHashed: DataFrame, corpusHashed: DataFrame,
      idCol: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-band pigeonhole guarantees recall only for maxHamming <= 3")
    val a = bandedHashes(newHashed, idCol).alias("a")
    val b = bandedHashes(corpusHashed, idCol).alias("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.slice") === col("b.slice"))
      .filter(bit_count(col("a.phash").bitwiseXOR(col("b.phash")))
        <= maxHamming)
      .select(col("a.id").as(idCol)).distinct()
  }

  /** S3 sink — write a binary column out as one file per row (the
    * reference saves each page image as `{name}.png`,
    * enem_pdf_extractor.py:297-335). foreachPartition: no driver
    * involvement, no collect; executors write their partitions in
    * parallel. File names must be unique across the frame (caller's
    * contract, as in the reference's `{year}_{day}_page{i}_{j}` names). */
  def writeBinaryFiles(df: DataFrame, dir: String, nameCol: String,
      bytesCol: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    df.select(col(nameCol).cast("string"), col(bytesCol))
      .foreachPartition { (it: Iterator[Row]) =>
        it.foreach { r =>
          val name = r.getString(0)
          require(!name.contains("/") && !name.contains(".."),
            s"unsafe file name: $name")
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, name), r.getAs[Array[Byte]](1))
        }
      }
  }
}
