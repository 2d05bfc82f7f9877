package graft.streaming

import graft.functions.Fingerprints
import graft.operators.{Dedup, LshIndex}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming ingest (SURVEY.md §2.8): the reference is
  * batch-only (its "streaming" is a Python generator), so this is the
  * extension path — a file-source stream of document batches embedded and
  * appended to the collection via foreachBatch, i.e. the same batch plan
  * run incrementally. No watermarks/session state are required by the
  * reference semantics; dedup-on-ingest shows the stateful form.
  *
  * Every form runs one way: a source transform over a file stream and a
  * per-batch body started by [[eachBatch]], on the one [[Cadence]],
  * committing through the one sink [[commitBatch]].
  */
object DocIngest {

  /** The trigger of every stream in this package: a micro-batch starts
    * at most once a second, so files that land within the same second
    * share a batch and an idle stream lists its source once a second
    * (Spark's default trigger relists it every
    * `spark.sql.streaming.pollingDelay`, 10 ms). */
  private val Cadence = Trigger.ProcessingTime("1 second")

  /** Start `stream`, checkpointed at `checkpoint`, running `body` on every
    * micro-batch with its batch id: the one wiring of every
    * `foreachBatch` stream in this package. Whether an empty batch is
    * skipped is the body's call: `isEmpty` on a stateful plan executes
    * it. */
  private[streaming] def eachBatch(stream: DataFrame, checkpoint: String,
      outputMode: String = "append")(body: (DataFrame, Long) => Unit)
      : StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(outputMode)
      .trigger(Cadence)
      .foreachBatch(body)
      .start()

  /** Stream parquet document batches from `inDir`, hash-embed, and
    * commit each micro-batch to the collection dir exactly once through
    * [[commitBatch]]. */
  def start(spark: SparkSession, inDir: String, schema: String,
      collectionPath: String, checkpoint: String,
      dim: Int = 64): StreamingQuery =
    eachBatch(spark.readStream.schema(schema).parquet(inDir)
        .withColumn("vector", Fingerprints.hashEmbed(col("text"), dim)),
      checkpoint) { (batch, batchId) =>
      commitBatch(batch, batchId, collectionPath)
    }

  /** Spark-NATIVE streaming dedup: `dropDuplicatesWithinWatermark` keyed
    * on `idCol`. Unlike the custom hash-index gates (which remember the
    * whole collection), dedup state here is BOUNDED BY THE WATERMARK — a
    * key is dropped from the state store once the event-time watermark
    * passes its last occurrence plus `delay` — so an unbounded stream
    * runs in O(keys per watermark window) state. The right primitive
    * when duplicates are RE-DELIVERY artifacts (retries, at-least-once
    * upstreams) arriving close together in event time; content
    * re-submissions beyond the window need the hash-index gates
    * ([[startNearDupGated]]). Accepted rows commit through
    * [[commitBatch]], so the sink stays exactly-once under replay. */
  def startWatermarkDedup(spark: SparkSession, inDir: String,
      schema: String, outDir: String, checkpoint: String,
      idCol: String = "doc_id", tsCol: String = "ts",
      delay: String = "1 hour"): StreamingQuery =
    eachBatch(spark.readStream.schema(schema).parquet(inDir)
        .withWatermark(tsCol, delay)
        .dropDuplicatesWithinWatermark(idCol),
      checkpoint) { (batch, batchId) => commitBatch(batch, batchId, outDir) }

  /** Event-time windowed ingest statistics with a watermark: per
    * (window, subject) document counts — the streaming form of the A3/A4
    * load-stats aggregation. Late rows beyond the watermark are dropped;
    * state for closed windows is reclaimed (the requirement for an
    * unbounded stream at scale). Append mode emits each window once, on
    * close. */
  def windowedCounts(spark: SparkSession, inDir: String, schema: String,
      outDir: String, checkpoint: String, window: String = "1 hour",
      watermark: String = "2 hours"): StreamingQuery =
    spark.readStream.schema(schema).parquet(inDir)
      .withWatermark("event_time", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("event_time"),
        window).as("win"), col("subject"))
      .count()
      .select(col("win.start").as("window_start"), col("subject"),
        col("count"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Cadence)
      .format("parquet")
      .option("path", outDir)
      .start()

  /** Native session windows on the stream: Spark's `session_window`
    * aggregation with a watermark — the built-in counterpart of the
    * flatMapGroupsWithState sessionizer below (which keeps explicit
    * state for custom payloads). Append mode emits a session exactly
    * once, when the watermark passes its close (last event + gap) and
    * the window can no longer grow or merge. State is one open window
    * per active key — bounded by the watermark, reclaimed on close. */
  def sessionWindows(spark: SparkSession, inDir: String, schema: String,
      outDir: String, checkpoint: String, gap: String = "30 minutes",
      watermark: String = "1 hour"): StreamingQuery =
    spark.readStream.schema(schema).parquet(inDir)
      .withWatermark("event_time", watermark)
      .groupBy(col("subject"),
        org.apache.spark.sql.functions.session_window(col("event_time"),
          gap).as("w"))
      .count()
      .select(col("subject"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("count"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Cadence)
      .format("parquet")
      .option("path", outDir)
      .start()

  /** Custom-state streaming form of the A2 running counter
    * (enem_pdf_extractor.py:248-251 — the cross-page question count):
    * per-subject totals maintained in explicit keyed state with
    * mapGroupsWithState, emitting the updated running total once per
    * subject per micro-batch. State is one long per key — bounded by the
    * subject domain, no watermark needed. Each micro-batch commits once
    * through [[commitBatch]], so a replayed batch re-emits nothing. */
  def runningCounts(spark: SparkSession, inDir: String, schema: String,
      outDir: String, checkpoint: String): StreamingQuery = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupState
    val totals = spark.readStream.schema(schema).parquet(inDir)
      .selectExpr("subject")
      .as[String]
      .groupByKey(identity)
      .mapGroupsWithState[Long, (String, Long)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (subject: String, rows: Iterator[String], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          (subject, total)
      }
      .toDF("subject", "running_total")
    eachBatch(totals, checkpoint, "update") { (batch, batchId) =>
      commitBatch(batch.withColumn("batch_id", lit(batchId)), batchId, outDir)
    }
  }

  /** Streaming sessionization — the streaming form of the batch
    * `events_sessionize` query: gap-based sessions per user maintained in
    * explicit keyed state with flatMapGroupsWithState. A user's open
    * session lives in state as (start, last ts, count, value sum); an
    * event past the gap closes it (emitting one session row) and opens the
    * next. Pass `idleTimeout = Some(...)` in production to flush idle
    * users on a processing-time timeout so state stays bounded on an
    * unbounded stream; the default (no timeout) keeps the query testable
    * with `processAllAvailable`, which never settles once wall-clock
    * timeouts keep scheduling no-data batches. Emitted rows match the
    * batch rollup's columns. Each micro-batch commits once through
    * [[commitBatch]]. */
  def sessionize(spark: SparkSession, inDir: String, schema: String,
      outDir: String, checkpoint: String, gapSeconds: Long = 1800L,
      idleTimeout: Option[String] = None): StreamingQuery = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    // state: (sessionStartEpoch, lastEpoch, nEvents, valueSum)
    val sessions = spark.readStream.schema(schema).parquet(inDir)
      .selectExpr("user_id", "CAST(ts AS LONG) AS epoch", "value")
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, Double),
        (Long, Long, Long, Long, Double)](
        OutputMode.Append(), timeoutConf) {
        (user: Long, rows: Iterator[(Long, Long, Double)],
            state: GroupState[(Long, Long, Long, Double)]) =>
          if (state.hasTimedOut) {
            // idle user: close and emit whatever session is open.
            val out = state.getOption.map { case (s0, s1, n, v) =>
              (user, s0, s1, n, v)
            }
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
            val closed = Seq.newBuilder[(Long, Long, Long, Long, Double)]
            var cur = state.getOption
            sorted.foreach { case (_, ep, value) =>
              cur = cur match {
                case Some((s0, s1, n, v)) if ep - s1 <= gapSeconds =>
                  Some((s0, ep, n + 1, v + value))
                case Some((s0, s1, n, v)) =>
                  closed += ((user, s0, s1, n, v))
                  Some((ep, ep, 1L, value))
                case None =>
                  Some((ep, ep, 1L, value))
              }
            }
            cur.foreach(state.update)
            idleTimeout.foreach(state.setTimeoutDuration)
            closed.result().iterator
          }
      }
      .toDF("user_id", "session_start", "session_end", "n_events",
        "session_value")
    eachBatch(sessions, checkpoint) { (batch, batchId) =>
      commitBatch(batch, batchId, outDir)
    }
  }

  /** Commit one micro-batch into its own `batch=<id>` directory: write to
    * a temp dir, atomically rename into place, and SKIP if the directory
    * already exists. Returns true if this call wrote the batch, false if a
    * previous attempt already had.
    *
    * This closes the at-least-once window of a blind-append foreachBatch
    * sink: if the job dies between the sink write and the
    * checkpoint commit, Structured Streaming replays the batch with the
    * SAME batchId — the replay finds the directory and writes nothing, so
    * the sink is exactly-once end-to-end. Readers see the collection as
    * ordinary partitioned parquet (`batch` becomes a partition column).
    *
    * The one sink of every stream here. A batch that is already committed
    * still EXECUTES its plan, through the `noop` sink: a plan holding
    * stateful operators (stream dedup, watermarked joins, keyed or
    * `transformWithState` state) must commit every state-store partition
    * for the trigger, or Spark fails the batch with
    * STATE_STORE_COMMIT_VALIDATION_FAILED and the stream is stuck. A
    * stateless plan pays one extra run into `noop`, only on the crash
    * replay of an already-committed batch. */
  def commitBatch(batch: DataFrame, batchId: Long, outDir: String): Boolean = {
    val fs = new Path(outDir)
      .getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
    val live = new Path(s"$outDir/batch=$batchId")
    if (fs.exists(live)) {
      batch.write.format("noop").mode("overwrite").save()
      false
    } else {
      val tmp = new Path(s"$outDir/_tmp_batch=$batchId")
      fs.delete(tmp, true)
      batch.write.mode("overwrite").parquet(tmp.toString)
      if (fs.exists(live)) { fs.delete(tmp, true); false }
      else {
        fs.mkdirs(live.getParent)
        if (fs.rename(tmp, live)) true
        else if (fs.exists(live)) { fs.delete(tmp, true); false }
        else
          // a failed rename with NO live directory is a lost batch, not
          // a duplicate commit — returning false here would report
          // "already committed" while nothing was written (the
          // TfRecordShards rename-failure discipline)
          throw new java.io.IOException(
            s"commitBatch: cannot commit $live (rename failed)")
      }
    }
  }

  /** Stream-static enrichment: join each micro-batch against a static
    * dimension (broadcast — the dim is read once per batch from its
    * source, never shuffled against the stream). The streaming analogue of
    * the batch J2 answer-key lookup: unmatched stream rows keep flowing
    * with nulls (left join), matching the batch default-on-miss shape. */
  def enriched(spark: SparkSession, inDir: String, schema: String,
      dim: DataFrame, joinCol: String, outDir: String,
      checkpoint: String): StreamingQuery =
    eachBatch(spark.readStream.schema(schema).parquet(inDir)
        .join(broadcast(dim), Seq(joinCol), "left"),
      checkpoint) { (batch, batchId) => commitBatch(batch, batchId, outDir) }

  /** Stream-stream interval join: pair each right-stream event with
    * left-stream events for the same key whose timestamps lie within
    * `intervalSeconds` BEFORE it (the streaming form of the batch as-of
    * join's candidate window). Both sides carry watermarks so the join
    * state is reclaimable — without them a stream-stream join buffers
    * forever; with them Spark drops left rows older than (right watermark −
    * interval), which is the bound that makes this runnable on an unbounded
    * 100 TB/day stream. Emits one row per qualifying pair in append mode. */
  def intervalJoin(spark: SparkSession, leftDir: String, rightDir: String,
      schema: String, keyCol: String, tsCol: String, outDir: String,
      checkpoint: String, intervalSeconds: Long = 3600L,
      watermark: String = "2 hours"): StreamingQuery = {
    val left = spark.readStream.schema(schema).parquet(leftDir)
      .withWatermark(tsCol, watermark)
      .select(col(keyCol), col(tsCol).as("l_ts"))
    val right = spark.readStream.schema(schema).parquet(rightDir)
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).as("r_key"), col(tsCol).as("r_ts"))
    val pairs = left.join(right,
        col(keyCol) === col("r_key") &&
          col("l_ts") <= col("r_ts") &&
          col("l_ts") >= col("r_ts") - expr(s"INTERVAL $intervalSeconds SECONDS"))
      .select(col(keyCol), col("l_ts"), col("r_ts"))
    eachBatch(pairs, checkpoint) { (batch, batchId) =>
      commitBatch(batch, batchId, outDir)
    }
  }

  /** Streaming upsert ingestion: each micro-batch merges into a
    * `BucketedCollection` by id — re-sent documents REPLACE their previous
    * version instead of duplicating (the live form of a vector-DB's
    * replace-by-id upsert). Combines with the CoW merge's locality: a
    * micro-batch only rewrites the buckets its ids hash into. The upsert
    * itself is idempotent per content (re-merging identical rows is a
    * no-op in effect), so checkpoint replay cannot corrupt the
    * collection. */
  def startUpsert(spark: SparkSession, inDir: String, schema: String,
      collectionPath: String, checkpoint: String, idCol: String,
      nBuckets: Int, dim: Int = 64): StreamingQuery =
    eachBatch(spark.readStream.schema(schema).parquet(inDir)
        .withColumn("vector", Fingerprints.hashEmbed(col("text"), dim)),
      checkpoint) { (batch, _) =>
      val b = batch.dropDuplicates(idCol) // a batch may re-send an id
      if (!b.isEmpty)
        graft.sources.BucketedCollection.upsert(
          batch.sparkSession, collectionPath, b, idCol, nBuckets)
    }

  /** NEAR-dup-gated ingest: each micro-batch is deduplicated against the
    * ALREADY-ACCEPTED corpus with MinHash-LSH (`Dedup.incrementalLshPairs`)
    * before appending — the streaming form of snapshot dedup, where the
    * "snapshot" is everything previous batches admitted. Batch-internal
    * near-dups are dropped too (keep-first by id over the batch's own
    * pairs). Exact-duplicate re-sends are excluded by an explicit
    * fingerprint anti-join — NOT only by the LSH stage, because documents
    * shorter than the shingle width produce no signature and would slip
    * through it (and blind-append crash replay would otherwise duplicate
    * them unboundedly).
    *
    * Scale note: the corpus side here re-reads the collection per batch;
    * a production deployment persists the corpus (id, bucket) table and
    * signatures once (see incrementalLshPairs scaladoc) and appends to
    * THAT incrementally, making per-batch cost O(batch + collisions),
    * independent of corpus size. */
  def startNearDupGated(spark: SparkSession, inDir: String, schema: String,
      collectionPath: String, checkpoint: String, idCol: String,
      threshold: Double = 0.8): StreamingQuery =
    eachBatch(spark.readStream.schema(schema).parquet(inDir), checkpoint) {
      (batch, batchId) =>
        val ss = batch.sparkSession
        if (!batch.isEmpty) {
          val batchClean = dedupWithinBatch(batch, idCol, threshold)
          // driver-local File.exists would silently disable the gate on
          // hdfs://, s3a://, file:/ URIs — resolve through the Hadoop FS
          // of the path, like commitBatch.
          val collDir = new Path(collectionPath)
          val fs = collDir
            .getFileSystem(ss.sparkContext.hadoopConfiguration)
          val accepted =
            if (!fs.exists(collDir)) batchClean
            else {
              val corpus = ss.read.parquet(collectionPath)
              val corpusFps = corpus
                .select(md5(col("text")).as("_cfp")).distinct()
              val exactHits = batchClean
                .join(corpusFps, md5(batchClean("text")) === col("_cfp"),
                  "left_semi")
                .select(col(idCol))
              val nearHits = Dedup.incrementalLshPairs(batchClean, corpus,
                  idCol, "text", threshold = threshold)
                .select(col("new_id").as(idCol)).distinct()
              batchClean.join(exactHits.union(nearHits).distinct(),
                Seq(idCol), "left_anti")
            }
          // exactly-once, not blind append: a crash between the write and
          // the checkpoint commit replays this batch, and a replayed blind
          // append would re-insert the accepted rows. commitBatch's
          // batch=<id> rename protocol makes the replay a no-op.
          commitBatch(accepted, batchId, collectionPath)
        }
    }

  /** [[startNearDupGated]] with the PERSISTED index — the production
    * form its scaladoc promises: the corpus is never re-signed; each
    * batch pays for its own signatures plus bucket-keyed joins against
    * [[graft.operators.LshIndex]]'s stored tables (O(batch + collisions)
    * per batch at ANY corpus size). Admissions: in-batch exact keep-
    * lowest-id, in-batch near-dup keep-first, then index exact-md5 and
    * near-dup hits reject. Accepted rows commit via [[commitBatch]]
    * (exactly-once), then fold into the index. Index appends are
    * AT-LEAST-ONCE by design: on crash replay the commit is a no-op but
    * the append re-runs, and duplicate index entries only add redundant
    * candidates — admissions anti-join on distinct ids, so decisions
    * never change. */
  def startIndexedNearDupGated(spark: SparkSession, inDir: String,
      schema: String, collectionPath: String, indexPath: String,
      checkpoint: String, idCol: String,
      threshold: Double = 0.8): StreamingQuery =
    eachBatch(spark.readStream.schema(schema).parquet(inDir), checkpoint) {
      (batch, batchId) =>
        if (!batch.isEmpty) {
          val accepted = indexGate(batch, idCol, indexPath, threshold)
          commitBatch(accepted, batchId, collectionPath)
          foldIntoIndex(accepted, idCol, indexPath)
        }
    }

  /** The in-batch admission of every text gate: exact duplicates keep
    * the LOWEST id (dropDuplicates would keep a partition-order-dependent
    * survivor — not retry-reproducible), then MinHash-LSH near-dups keep
    * the first. The exact pass also covers sub-shingle-width docs. */
  private def dedupWithinBatch(batch: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    val exactClean = Dedup.dropExactDuplicates(batch, idCol, "text")
    val innerPairs = Dedup.minhashLshPairs(exactClean, idCol,
      "text", threshold = threshold)
    Dedup.dropNearDuplicates(exactClean, idCol, innerPairs)
  }

  /** The indexed near-dup admission decision, shared by
    * [[startIndexedNearDupGated]] and [[startCrawlPipeline]]:
    * [[dedupWithinBatch]], then against the persisted index, exact-md5
    * hits (covers sub-shingle-width docs via the fps table) +
    * bucket-keyed probe hits reject. Returns the admitted rows of
    * `batch` unchanged in schema. */
  private def indexGate(batch: DataFrame, idCol: String,
      indexPath: String, threshold: Double): DataFrame = {
    val ss = batch.sparkSession
    val batchClean = dedupWithinBatch(batch, idCol, threshold)
    if (!LshIndex.exists(ss, indexPath)) batchClean
    else {
      val exact = LshIndex.exactHits(ss, indexPath, batchClean,
        idCol, "text")
      val near = LshIndex.probePairs(ss, indexPath, batchClean,
          idCol, "text", threshold = threshold)
        .select(col("new_id").as(idCol)).distinct()
      batchClean.join(exact.union(near).distinct(),
        Seq(idCol), "left_anti")
    }
  }

  /** Fold a batch's admitted rows into the persisted index (built on the
    * first batch), then probe the compaction policy: log a
    * recommendation when the index's replay redundancy crosses
    * [[graft.operators.LshIndex.CompactTriggerRatio]]. Probe ONLY —
    * auto-compacting inside foreachBatch would race
    * [[graft.operators.LshIndex.compact]]'s single-writer swap
    * discipline against the next batch's probe reads, so compaction
    * stays a manual quiet-window action. */
  private def foldIntoIndex(accepted: DataFrame, idCol: String,
      indexPath: String): Unit = {
    val ss = accepted.sparkSession
    if (LshIndex.exists(ss, indexPath))
      LshIndex.append(accepted, idCol, "text", indexPath)
    else LshIndex.build(accepted, idCol, "text", indexPath)
    val ratio = LshIndex.redundancyRatio(ss, indexPath)
    if (ratio >= LshIndex.CompactTriggerRatio)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        f"LSH index at $indexPath carries $ratio%.2fx replay " +
          f"redundancy (trigger ${LshIndex.CompactTriggerRatio}%.1fx) " +
          "— run LshIndex.compact in a quiet single-writer window")
  }

  /** Streaming IMAGE dedup-on-ingest: the [[startNearDupGated]] contract
    * on the multimodal axis. Each arriving batch of (idCol, bytes)
    * rows: (1) perceptual-hash via the native dhash64 expression;
    * (2) in-batch dedup — exact-hash keep-lowest-id, then 4-band
    * near-dup pairs → keep-first; (3) against the collection, only
    * band-slice COLLISIONS join (`Multimodal.phashIncrementalHits`), so
    * the corpus side prunes to candidate buckets at any size; survivors
    * append WITH their phash (the collection doubles as the hash index —
    * ingest never re-decodes old payloads). Undecodable payloads
    * (phash null) pass ungated by policy: a gate that cannot judge a
    * payload must not silently drop it. Deterministic: hashing is an
    * engine constant, survivors are chosen by lowest id, so batch replay
    * reproduces byte-identical decisions. */
  def startImageDedupGated(spark: SparkSession, inDir: String,
      schema: String, collectionPath: String, checkpoint: String,
      idCol: String, maxHamming: Int = 3): StreamingQuery =
    eachBatch(spark.readStream.schema(schema).parquet(inDir), checkpoint) {
      (batch, batchId) =>
        import graft.operators.Multimodal
        import org.apache.spark.sql.expressions.Window
        val ss = batch.sparkSession
        if (!batch.isEmpty) {
          val hashed = batch.join(
            Multimodal.perceptualHash(batch, idCol, "bytes"), Seq(idCol))
          // exact-hash keep-lowest-id (deterministic, retry-reproducible)
          val exactW = Window.partitionBy(col("phash")).orderBy(col(idCol))
          val exactClean = hashed.filter(col("phash").isNotNull)
            .withColumn("_rk", row_number().over(exactW))
            .filter(col("_rk") === 1).drop("_rk")
            .unionByName(hashed.filter(col("phash").isNull))
          val innerPairs = Multimodal.phashNearDupPairs(
            exactClean.select(col(idCol), col("phash")), idCol, maxHamming)
          val batchClean = Dedup.dropNearDuplicates(
            exactClean, idCol, innerPairs.select(col("id_a"), col("id_b")))
          val collDir = new Path(collectionPath)
          val fs = collDir
            .getFileSystem(ss.sparkContext.hadoopConfiguration)
          val accepted =
            if (!fs.exists(collDir)) batchClean
            else {
              val corpus = ss.read.parquet(collectionPath)
                .select(col(idCol), col("phash"))
              val hits = Multimodal.phashIncrementalHits(
                batchClean.select(col(idCol), col("phash")), corpus,
                idCol, maxHamming)
              batchClean.join(hits, Seq(idCol), "left_anti")
            }
          // exactly-once via the batch=<id> rename protocol (see the text
          // gate above) — crash replay must not re-append survivors.
          commitBatch(accepted, batchId, collectionPath)
        }
    }

  /** One micro-batch's curation decision — the gate's kernel: score
    * clean rows (frozen classifier over the hash
    * embedding + DSIR importance weight), route NULL-text rows
    * straight to reject with NULL audit columns (they cannot be
    * scored; failing the batch would poison-pill the stream — see
    * [[startCurationGated]]). Returns (accepted, rejected), both with
    * the input columns plus (score, weight_micro) in a fixed order.
    * Deterministic: a replay reproduces byte-identical frames. */
  private def curationDecide(batch: DataFrame,
      model: graft.operators.Classifier.Model, ratioMicro: Array[Long],
      minScore: Double, minWeightMicro: Long, idCol: String,
      dim: Int): (DataFrame, DataFrame) = {
    import graft.operators.{Classifier, Dsir}
    // withColumn-clobber guard (the r14 discipline): "vector" would
    // silently overwrite and then DROP a user column of that name;
    // "score"/"weight_micro" would collide with the audit columns
    Seq("vector", "score", "weight_micro").foreach { c =>
      require(!batch.columns.contains(c),
        s"curation gate: input already has reserved column '$c'")
    }
    val outCols = (batch.columns.toSeq :+ "score" :+ "weight_micro").map(col)
    val invalid = batch.filter(col("text").isNull)
      .withColumn("score", lit(null).cast("double"))
      .withColumn("weight_micro", lit(null).cast("long"))
      .select(outCols: _*)
    val clean = batch.filter(col("text").isNotNull)
    val scored = Classifier.scoreFrame(
      clean.withColumn("vector", Fingerprints.hashEmbed(col("text"), dim)),
      "vector", model).drop("vector")
    val weighted = scored.join(
      Dsir.importanceWeights(clean, idCol, "text", ratioMicro)
        .withColumnRenamed("id", idCol),
      Seq(idCol))
    val accept = col("score") >= minScore &&
      col("weight_micro") >= minWeightMicro
    (weighted.filter(accept).select(outCols: _*),
      weighted.filter(!accept).select(outCols: _*)
        .unionByName(invalid))
  }

  /** Streaming curation gate: score every arriving document with a
    * pre-trained quality classifier (over the same hash-embedding the
    * batch pipeline uses) AND a DSIR importance weight, then route it —
    * accepted docs append to `acceptDir`, rejected to `rejectDir`, BOTH
    * carrying the (score, weight_micro) audit columns so the decision
    * is replayable. Each micro-batch commits ONCE per sink via
    * [[commitBatch]]'s `batch=<id>` rename protocol, so a crash between
    * the sink writes and the checkpoint commit cannot double-append on
    * replay: the replayed batch recomputes the SAME deterministic
    * decisions, finds whichever `batch=<id>` directories already exist,
    * and writes only the missing one(s).
    * The streaming form of the batch curation pipeline:
    * the models are frozen driver-side artifacts (dim+1 doubles, B
    * longs) that ride the task closure, the per-batch work is two
    * stateless one-pass kernels (`Classifier.scoreFrame`,
    * `Dsir.importanceWeights`) plus a broadcast-sized join on id — no
    * state store, no shuffle of text beyond the id join, so the gate's
    * per-batch cost is O(batch) at any corpus size. Deterministic:
    * replaying a batch reproduces byte-identical decisions (hash
    * embedding, frozen models, no RNG).
    *
    * NULL-text rows are routed to `rejectDir` with NULL (score,
    * weight_micro) audit columns BEFORE scoring: letting them reach
    * `Classifier.scoreFrame`'s dim require (or Dsir's tokenizer) would
    * fail the batch, and a streaming restart replays the same batch —
    * a poison pill that wedges the query forever. A NULL audit column
    * is the replayable record that the signal FAILED to compute, which
    * is itself a rejection reason. */
  def startCurationGated(spark: SparkSession, inDir: String,
      schema: String, acceptDir: String, rejectDir: String,
      checkpoint: String, model: graft.operators.Classifier.Model,
      ratioMicro: Array[Long], minScore: Double, minWeightMicro: Long,
      idCol: String = "doc_id", dim: Int = 64): StreamingQuery =
    eachBatch(spark.readStream.schema(schema).parquet(inDir), checkpoint) {
      (batch, batchId) =>
        if (!batch.isEmpty) {
          val (accepted, rejected) = curationDecide(batch, model,
            ratioMicro, minScore, minWeightMicro, idCol, dim)
          commitBatch(accepted, batchId, acceptDir)
          commitBatch(rejected, batchId, rejectDir)
        }
    }

  /** Streaming drift monitor: every arriving micro-batch of embeddings
    * is PSI-compared against a FROZEN reference histogram (the
    * `Drift.projectionHistogram` of the corpus the thresholds were
    * tuned on), and one (batch_id, n_vectors, psi_micro, top_bin,
    * top_bin_psi_micro) report row is committed once per batch through
    * [[commitBatch]] — the alarm
    * feed a continuously-ingesting pipeline tails to notice a crawl or
    * embedder change BEFORE it pollutes the index. Per batch: one
    * kernel pass over the batch (sign row in the closure), a ≤-bins
    * collect, and driver-side PSI against the closure-held reference —
    * no state store, O(batch) whatever the corpus size. */
  def startDriftMonitored(spark: SparkSession, inDir: String,
      schema: String, reportDir: String, checkpoint: String,
      referenceHist: Map[Int, Long], vecCol: String, dim: Int,
      probe: Int = 0, invWidth: Int = 4): StreamingQuery = {
    require(referenceHist.nonEmpty, "reference histogram is empty")
    eachBatch(spark.readStream.schema(schema).parquet(inDir), checkpoint) {
      (batch, batchId) =>
        import graft.operators.Drift
        val ss = batch.sparkSession
        import ss.implicits._
        if (!batch.isEmpty) {
          val hist = Drift.projectionHistogram(batch, vecCol, dim,
              probe, invWidth)
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          val contribs = Drift.psiContributions(ss,
              referenceHist.toSeq.toDF("bin", "cnt"),
              hist.toSeq.toDF("bin", "cnt"))
            .collect()
            .map(r => (r.getInt(0), r.getLong(3)))
          val total = contribs.map(_._2).sum
          val (topBin, topPsi) =
            if (contribs.isEmpty) (0, 0L) else contribs.maxBy(_._2)
          val report = Seq((batchId, hist.values.sum, total, topBin, topPsi))
            .toDF("batch_id", "n_vectors", "psi_micro", "top_bin",
              "top_bin_psi_micro")
            .coalesce(1)
          commitBatch(report, batchId, reportDir)
        }
    }
  }

  /** Stateful variant: drop exact duplicates across the whole stream by
    * content fingerprint (dropDuplicates with state), committing each
    * micro-batch ONCE via [[commitBatch]]'s `batch=<id>` rename
    * protocol. A crash between the sink write and
    * the checkpoint commit replays the batch against the SAME state-store
    * version (the dropDuplicates state rolls back with the checkpoint),
    * so the replay recomputes identical survivors and the rename
    * protocol fills only what the sink is missing — no double-append. */
  def startDeduped(spark: SparkSession, inDir: String,
      schema: String, collectionPath: String, checkpoint: String,
      dim: Int = 64): StreamingQuery =
    eachBatch(spark.readStream.schema(schema).parquet(inDir)
        .withColumn("fp", Fingerprints.md5Fingerprint(col("text")))
        .dropDuplicates("fp")
        .withColumn("vector", Fingerprints.hashEmbed(col("text"), dim)),
      checkpoint) { (batch, batchId) =>
      commitBatch(batch, batchId, collectionPath)
    }

  /** Streaming SCD2 — the incremental form of the batch
    * `EventAnalytics.scd2History`: each key's OPEN version (attr, its
    * valid_from epoch, version number) lives in keyed state; an arriving
    * row with a DIFFERENT attribute closes it (emitting one immutable
    * (key, version, attr, valid_from, valid_to) row — append-mode
    * friendly, a closed version never mutates) and opens the next. Rows
    * repeating the open attribute extend the run and emit nothing;
    * rows OLDER than the open version's start are dropped (monotonic-
    * ingestion discipline — the streaming analogue of the watermark
    * late-drop; the batch operator is the replayable source of truth
    * for out-of-order history rebuilds). Within a micro-batch, rows
    * sort by (epoch, attr), mirroring the batch tie-break. */
  def scd2Stream(spark: SparkSession, inDir: String, schema: String,
      outDir: String, checkpoint: String): StreamingQuery = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    val versions = spark.readStream.schema(schema).parquet(inDir)
      .selectExpr("user_id", "CAST(ts AS LONG) AS epoch", "event_type")
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(String, Long, Int),
        (Long, Int, String, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, String)],
            state: GroupState[(String, Long, Int)]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          val closed = Seq.newBuilder[(Long, Int, String, Long, Long)]
          var cur = state.getOption
          sorted.foreach { case (_, ep, attr) =>
            cur = cur match {
              case None => Some((attr, ep, 1))
              case Some((a, from, v)) if ep < from => Some((a, from, v))
              case Some((a, from, v)) if a == attr => Some((a, from, v))
              case Some((a, from, v)) =>
                closed += ((user, v, a, from, ep))
                Some((attr, ep, v + 1))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
      }
      .toDF("user_id", "version", "attr", "valid_from", "valid_to")
    eachBatch(versions, checkpoint) { (batch, batchId) =>
      commitBatch(batch, batchId, outDir)
    }
  }

  /** Resolve the published sketch-table version: reads the `CURRENT`
    * pointer file and returns the versioned directory it names, or None
    * before the first publish. Works on any Hadoop filesystem (the
    * normal Spark deployment), not just the driver's local disk.
    *
    * A crash inside [[publishVersioned]] between retiring `CURRENT` and
    * renaming its replacement into place leaves only the pending
    * `CURRENT.tmp-<id>`, which names a fully written version. The newest
    * pending pointer then stands for `CURRENT` (the
    * [[graft.sources.DirSwap.heal]] rule: a lone replacement rolls
    * forward), for readers and for the replaying writer alike. */
  def currentSketchPath(spark: SparkSession,
      sketchDir: String): Option[String] = {
    val dir = new Path(sketchDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    pointerFile(fs, dir).flatMap { ptr =>
      val in = fs.open(ptr)
      try {
        val v = scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim
        if (v.isEmpty) None else Some(s"$sketchDir/$v")
      } finally in.close()
    }
  }

  /** `CURRENT`, else the newest pending `CURRENT.tmp-<id>`. `CURRENT` is
    * looked up again last: a publish whose rename lands between the first
    * two lookups has moved the pending pointer into place. */
  private def pointerFile(fs: FileSystem, dir: Path): Option[Path] = {
    val ptr = new Path(dir, "CURRENT")
    def live = Some(ptr).filter(fs.exists)
    def pending = Option(fs.globStatus(new Path(dir, "CURRENT.tmp-*")))
      .toSeq.flatten.map(_.getPath)
      .maxByOption(_.getName.stripPrefix("CURRENT.tmp-").toLong)
    live.orElse(pending).orElse(live)
  }

  /** The published sketch table (day, hll), or an error if none yet. */
  def currentSketches(spark: SparkSession, sketchDir: String): DataFrame =
    spark.read.parquet(currentSketchPath(spark, sketchDir).getOrElse(
      throw new java.io.FileNotFoundException(
        s"$sketchDir/CURRENT: no sketch table published yet")))

  /** Streaming HLL maintenance: per-batch per-day distinct-user sketches
    * merged into a persisted sketch table — a year of history answers
    * "distinct users for any day range" by register-max over day rows
    * (kB each), never by rescanning events. Each micro-batch costs one
    * map-side-combinable sketch aggregation over the BATCH plus a
    * days-sized merge.
    *
    * Publication protocol (works on HDFS/S3, not just local disk —
    * ADVICE r7 #1): each batch writes an immutable versioned directory
    * `v-<batchId>`, then atomically republishes the `CURRENT` pointer
    * file naming it (tmp file + rename — a single-FILE rename, atomic
    * on HDFS and on local disk; readers resolve via
    * [[currentSketchPath]], which also covers the moment between
    * retiring the old pointer and renaming the new one). Every
    * filesystem call goes through `org.apache.hadoop.fs.FileSystem`
    * with CHECKED return values — a failed rename fails the batch
    * loudly instead of silently dropping the merge. A crash-replayed
    * batch whose version is already published only completes the
    * pointer swap, so each batch id merges into the table once. */
  def startHllDaily(spark: SparkSession, inDir: String, schema: String,
      sketchDir: String, checkpoint: String,
      p: Int = 11): StreamingQuery =
    startDaily(spark, inDir, schema, sketchDir, checkpoint,
      sketchCol = "hll",
      freshOf = byDay => graft.operators.Hll.groupSketches(
        byDay, col("user_id"), Seq("day"), p),
      mergeUdaf = org.apache.spark.sql.functions.udaf(
        new graft.operators.Hll.MergeAgg))

  /** ONE maintenance loop for the daily sketch families (HLL / KMV /
    * Misra-Gries / quantiles): read the event stream, build the
    * per-day fresh summaries, fold them into the previous published
    * table with the family's merge aggregator, and republish through
    * [[publishVersioned]]. The protocol (prev-resolve, unionByName
    * merge, versioned atomic publish) lives HERE only — a publication
    * or replay-handling fix cannot drift across families. */
  private def startDaily(spark: SparkSession, inDir: String,
      schema: String, sketchDir: String, checkpoint: String,
      sketchCol: String, freshOf: DataFrame => DataFrame,
      mergeUdaf: org.apache.spark.sql.expressions.UserDefinedFunction)
      : StreamingQuery =
    eachBatch(spark.readStream.schema(schema).parquet(inDir), checkpoint) {
      (batch, batchId) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val prev = currentSketchPath(s, sketchDir)
          publishVersioned(s, sketchDir, batchId, prev) {
            val fresh = freshOf(batch.withColumn("day",
              date_format(col("ts"), "yyyy-MM-dd")))
            prev match {
              case Some(path) =>
                s.read.parquet(path).unionByName(fresh)
                  .groupBy(col("day"))
                  .agg(mergeUdaf(col(sketchCol)).as(sketchCol))
              case None => fresh
            }
          }
        }
    }

  /** The versioned-table publication protocol shared by the sketch
    * maintainers: (1) write an immutable `v-<batchId>` directory,
    * (2) atomically republish the CURRENT pointer (tmp FILE + rename —
    * atomic on HDFS and local disk), (3) retire superseded versions
    * except the immediately previous one (in-flight readers). Every
    * filesystem call CHECKED — a failed rename fails the batch loudly.
    *
    * When `prev` already is this batch's version, the batch is a crash
    * replay that got as far as its pointer: `merged` is never evaluated
    * (it would read and overwrite the same directory, and merge the
    * batch twice), and only a pending pointer is renamed into place.
    * Version names are batch ids, so a sketch directory belongs to one
    * checkpoint. */
  private def publishVersioned(s: SparkSession, sketchDir: String,
      batchId: Long, prev: Option[String])(merged: => DataFrame): Unit = {
    val version = s"v-$batchId"
    val dir = new Path(sketchDir)
    val fs = dir.getFileSystem(s.sessionState.newHadoopConf())
    val tmpPtr = new Path(dir, s"CURRENT.tmp-$batchId")
    val ptr = new Path(dir, "CURRENT")
    val published = prev.contains(s"$sketchDir/$version")
    if (!published) {
      merged.coalesce(1).write.mode("overwrite")
        .parquet(s"$sketchDir/$version")
      val out = fs.create(tmpPtr, true)
      try out.write(version.getBytes("UTF-8")) finally out.close()
      if (fs.exists(ptr) && !fs.delete(ptr, false))
        throw new java.io.IOException(
          s"failed to retire old CURRENT pointer in $sketchDir")
    }
    if (!fs.exists(ptr) && !fs.rename(tmpPtr, ptr))
      throw new java.io.IOException(
        s"failed to publish CURRENT pointer in $sketchDir")
    if (!published) {
      val keep = Set(version) ++ prev.map(p0 =>
        p0.substring(p0.lastIndexOf('/') + 1))
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.startsWith("v-") &&
            !keep.contains(name)) {
          if (!fs.delete(st.getPath, true))
            throw new java.io.IOException(
              s"failed to retire $name in $sketchDir")
        }
      }
    }
  }

  /** Streaming KMV maintenance — [[startHllDaily]]'s protocol with
    * [[graft.operators.KmvSketch]] sketches, which buy the SET ALGEBRA
    * HLL registers cannot: the persisted per-day sketch table answers
    * "users active on BOTH day X and day Y" (returning users) or
    * "active on X but not Y" (churn) from k-long sidecars, no event
    * rescan. Same immutable-version + atomic-CURRENT publication;
    * k-smallest folding is idempotent, so re-delivered events
    * re-merge harmlessly (the at-least-once window that breaks
    * counters is safe for sketches). */
  def startKmvDaily(spark: SparkSession, inDir: String, schema: String,
      sketchDir: String, checkpoint: String,
      k: Int = 1024): StreamingQuery =
    startDaily(spark, inDir, schema, sketchDir, checkpoint,
      sketchCol = "kmv",
      freshOf = byDay => graft.operators.KmvSketch.groupSketches(
        byDay, col("user_id"), Seq("day"), k),
      mergeUdaf = org.apache.spark.sql.functions.udaf(
        new graft.operators.KmvSketch.MergeAgg(k)))

  /** Streaming Misra-Gries maintenance — the [[startHllDaily]] protocol
    * with [[graft.operators.HeavyHitters]] summaries: per-day k-counter
    * maps of the heaviest users, persisted as immutable `v-<batchId>`
    * versions behind the atomic CURRENT pointer. The daily table
    * answers "who dominated day X" from a k-entry sidecar with no event
    * rescan, with the MG guarantee (every user above n/(k+1) of the
    * day's DELIVERED events IS present). Batch merge goes through
    * [[graft.operators.HeavyHitters.MergeAgg]] — NOT idempotent: a
    * crash-replayed batch merges once (see [[publishVersioned]]), but
    * re-delivered events inflate counts AND the n in the guarantee
    * bound, so a user heavy against the true stream but near the
    * threshold can lose the guarantee (worked example in
    * MergeAgg's scaladoc). Size k against worst-case delivered volume;
    * sources needing replay-exact counters use the exactly-once
    * commitBatch sinks instead. */
  def startMgDaily(spark: SparkSession, inDir: String, schema: String,
      sketchDir: String, checkpoint: String,
      k: Int = 64): StreamingQuery =
    startDaily(spark, inDir, schema, sketchDir, checkpoint,
      sketchCol = "mg",
      freshOf = byDay => byDay
        .select(col("day"), col("user_id").cast("string").as("item"))
        .groupBy(col("day"))
        .agg(graft.operators.HeavyHitters
          .misraGries(col("item"), k).as("mg")),
      mergeUdaf = org.apache.spark.sql.functions.udaf(
        new graft.operators.HeavyHitters.MergeAgg(k)))

  /** Streaming quantile maintenance — the [[startHllDaily]] protocol
    * with [[graft.operators.QuantileSketch]] bottom-k sample sketches:
    * the persisted per-day table answers ANY quantile of `valueCol`
    * ("p95 latency per day last quarter") from a k-entry sidecar, no
    * event rescan, and days roll up to weeks/months through
    * [[graft.operators.QuantileSketch.MergeAgg]]. `keyCol` must be
    * row-unique (retention hashes it). Re-delivered events cannot
    * move any RETAINED ENTRY — exact duplicates dedupe on insert — so
    * every estimate is replay-stable; only the sketch's advisory row
    * total inflates under re-delivery (documented, like the MG n bound). */
  def startQuantileDaily(spark: SparkSession, inDir: String,
      schema: String, sketchDir: String, checkpoint: String,
      keyCol: String = "event_id", valueCol: String = "value",
      k: Int = 1024): StreamingQuery =
    startDaily(spark, inDir, schema, sketchDir, checkpoint,
      sketchCol = "qs",
      freshOf = byDay => byDay
        .groupBy(col("day"))
        .agg(graft.operators.QuantileSketch
          .sketch(col(keyCol), col(valueCol), k).as("qs")),
      mergeUdaf = org.apache.spark.sql.functions.udaf(
        new graft.operators.QuantileSketch.MergeAgg(k)))

  /** Streaming WET extraction: WARC archives arrive as (idCol, bytes)
    * parquet batches — the shape a fetch fleet lands them in — and each
    * micro-batch runs [[graft.operators.WebArchive.wetConversion]]
    * (HTTP parse → charset decode → html strip → conversion-record
    * WARC-out), committing through [[commitBatch]] so a crash-replayed
    * batch writes nothing twice. The batch transform is the SAME
    * operator the batch query `docs_warc_wet` gates, so streaming and
    * batch extraction cannot drift. State: none (each archive converts
    * independently) — an unbounded crawl stream runs in O(batch). */
  def startWetExtraction(spark: SparkSession, inDir: String,
      outDir: String, checkpoint: String, idCol: String = "warc_id",
      bytesCol: String = "bytes"): StreamingQuery =
    eachBatch(spark.readStream.schema(s"$idCol LONG, $bytesCol BINARY")
        .parquet(inDir), checkpoint) { (batch, batchId) =>
      commitBatch(graft.operators.WebArchive
        .wetConversion(batch, idCol, bytesCol), batchId, outDir)
    }

  /** Records-per-archive bound for [[startCrawlPipeline]]'s composite
    * doc ids (archive_id · 2^20 + rec_idx): real WET products run
    * ~10^5 conversion records per ~1 GB archive member, well inside
    * 2^20; archives beyond it fail LOUDLY rather than silently
    * colliding ids. */
  val RecordIdSpan: Long = 1L << 20

  /** Streaming crawl→training pipeline — the streaming twin of the
    * batch flagship `pipeline_crawl_to_pack`, composing the SAME
    * operators so the two forms cannot drift: WARC archives arrive as
    * (idCol, bytes) batches → [[graft.operators.WebArchive.wetConversion]]
    * + `records` (the docs_warc_wet stack: HTTP parse, charset decode,
    * de-chunking, html-vs-plain strip) → per-record composite doc ids →
    * quality gate at a FROZEN micro-unit threshold (a stream has no
    * corpus to take the batch form's median over; production freezes the
    * cut from a reference corpus, exactly like startDriftMonitored's
    * frozen histogram — same round4·10000 BIGINT carrier as the batch
    * flagship) → the [[startIndexedNearDupGated]] admission (in-batch
    * exact + LSH dedup, persisted-index rejection) → exactly-once append
    * of (doc_id, uri, text, n_tokens) training rows + index fold-in.
    *
    * State: the LSH index directory (O(corpus signatures)) — no stream
    * state store; each batch costs O(batch + index collisions)
    * regardless of corpus size, so an unbounded crawl stream never
    * rescans history. Replay safety: admission is deterministic
    * (lowest-id-wins over engine-constant hashes) and the training
    * append goes through [[commitBatch]]; index appends are
    * at-least-once by the indexed-gate contract (duplicates only add
    * redundant candidates).
    *
    * Batch-equivalence contract: online keep-first admission equals the
    * batch flagship's connected-components keep-first exactly when each
    * near-dup component is a CLIQUE (the common case — mutually-similar
    * variants of one source). On a transitive CHAIN a~b~c without a~c
    * that straddles batches, the stream admits c (b was rejected and
    * never folded into the index) while batch CC drops it — the stream
    * keeps strictly MORE on chains, never less, because rejection
    * always cites an ADMITTED index entry. StreamingSpec asserts the
    * clique precondition before pinning set equality on the test
    * corpus. */
  def startCrawlPipeline(spark: SparkSession, inDir: String,
      trainDir: String, indexPath: String, checkpoint: String,
      minQualityMicro: Long, idCol: String = "warc_id",
      bytesCol: String = "bytes",
      threshold: Double = 0.8): StreamingQuery =
    eachBatch(spark.readStream.schema(s"$idCol LONG, $bytesCol BINARY")
        .parquet(inDir), checkpoint) { (batch, batchId) =>
        import graft.operators.{TextAnalysis, WebArchive}
        if (!batch.isEmpty) {
          // cache the decoded batch: six consumers read it (the span
          // guard, the quality frame, the survivor join, both sides of
          // the LSH gate, the output projection) and each would
          // otherwise re-run the whole WET codec chain per archive
          val decoded = WebArchive.records(
              WebArchive.wetConversion(batch, idCol, bytesCol),
              idCol, "wet")
            .filter(col("warc_type") === "conversion")
            .select(col(idCol), col("rec_idx"),
              col("target_uri").as("uri"), col("payload").as("text"))
            .cache()
          try {
            // BOTH composite factors guarded (ADVICE r12): rec_idx
            // outside the span collides forward; an archive id above
            // Long.MaxValue/span − 1 overflows the multiply and a
            // negative one produces colliding/negative ids — each
            // silently without this check. A NULL archive id is a
            // violation too, and must be matched EXPLICITLY: a NULL
            // operand makes the between-predicate NULL, the filter
            // would drop the row, and the require would pass while the
            // composite multiply downstream emits doc_id = NULL.
            val maxArchiveId = Long.MaxValue / RecordIdSpan - 1
            require(
              decoded.filter(col(idCol).isNull ||
                col("rec_idx") >= RecordIdSpan ||
                !col(idCol).between(0L, maxArchiveId)).isEmpty,
              s"archive exceeds $RecordIdSpan records or archive id " +
                s"outside [0, $maxArchiveId] — composite doc ids would " +
                "collide or overflow")
            val docs = decoded.select(
              (col(idCol) * RecordIdSpan + col("rec_idx")).as("doc_id"),
              col("uri"), col("text"))
            val q4 = TextAnalysis.qualityFrame(docs, "doc_id", "text")
              .select(col("doc_id"),
                round(col("quality") * 10000).cast("long").as("q4"))
            val kept = docs.join(
              q4.filter(col("q4") >= minQualityMicro).select("doc_id"),
              Seq("doc_id"))
            val accepted = indexGate(kept, "doc_id", indexPath, threshold)
            commitBatch(accepted.select(col("doc_id"), col("uri"),
              col("text"), size(Fingerprints.tokens(col("text")))
                .cast("long").as("n_tokens")), batchId, trainDir)
            foldIntoIndex(accepted, "doc_id", indexPath)
          } finally decoded.unpersist()
        }
    }
}
