package graft

import graft.streaming.{DocIngest, PdfIngest}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class StreamingSpec extends SparkSpec {

  private val schema = "doc_id LONG, text STRING"

  test("streaming ingest embeds and appends each file batch exactly once") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_stream_in").toString
    val out = Files.createTempDirectory("graft_stream_out").toString + "/coll"
    val ckpt = Files.createTempDirectory("graft_stream_ck").toString

    Seq((0L, "first document about spark"), (1L, "second document about sql"))
      .toDF("doc_id", "text").write.mode("append").parquet(in)

    val q = DocIngest.start(spark, in, schema, out, ckpt, dim = 16)
    try {
      q.processAllAvailable()
      // second file lands mid-stream
      Seq((2L, "third document about streams"))
        .toDF("doc_id", "text").write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(out)
    assert(got.count() === 3)
    assert(got.select("doc_id").collect().map(_.getLong(0)).sorted
      === Array(0L, 1L, 2L))
    // every row carries a dim-16 embedding
    assert(got.filter(size(col("vector")) =!= 16).count() === 0)
  }

  test("watermarked windowed counts: closed windows emit once, late rows " +
    "beyond the watermark are dropped") {
    import spark.implicits._
    import java.sql.Timestamp
    val in = Files.createTempDirectory("graft_win_in").toString
    val out = Files.createTempDirectory("graft_win_out").toString + "/agg"
    val ckpt = Files.createTempDirectory("graft_win_ck").toString
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

    // batch 1: two hours of events.
    Seq((ts(10, 5), "math"), (ts(10, 40), "math"), (ts(11, 10), "natu"))
      .toDF("event_time", "subject").write.mode("append").parquet(in)
    val q = DocIngest.windowedCounts(spark, in,
      "event_time TIMESTAMP, subject STRING", out, ckpt,
      window = "1 hour", watermark = "1 hour")
    try {
      q.processAllAvailable()
      // batch 2: advances the watermark past 11:00 (13:30 - 1h) so the
      // 10:00 and 11:00 windows close; includes one too-late row (9:15).
      Seq((ts(13, 30), "natu"), (ts(9, 15), "math"))
        .toDF("event_time", "subject").write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(out)
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
      .toSet
    // closed windows emitted; the 9:15 late row never appears; the 13:00
    // window is still open (not emitted yet).
    assert(got === Set(
      ("2024-01-01 10:00:00.0", "math", 2L),
      ("2024-01-01 11:00:00.0", "natu", 1L)))
  }

  test("native session_window stream: a closed session emits once with " +
    "merged bounds; an open session stays unemitted") {
    import spark.implicits._
    import java.sql.Timestamp
    val in = Files.createTempDirectory("graft_sw_in").toString
    val out = Files.createTempDirectory("graft_sw_out").toString + "/agg"
    val ckpt = Files.createTempDirectory("graft_sw_ck").toString
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

    // batch 1: three events 20min apart -> ONE session (gaps < 30min)
    Seq((ts(10, 0), "math"), (ts(10, 20), "math"), (ts(10, 40), "math"))
      .toDF("event_time", "subject").write.mode("append").parquet(in)
    val q = DocIngest.sessionWindows(spark, in,
      "event_time TIMESTAMP, subject STRING", out, ckpt,
      gap = "30 minutes", watermark = "1 hour")
    try {
      q.processAllAvailable()
      // batch 2: an event at 14:00 pushes the watermark to 13:00, far
      // past the first session's close (11:10) -> it emits; the 14:00
      // session itself stays open
      Seq((ts(14, 0), "math"))
        .toDF("event_time", "subject").write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(out)
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getLong(3)))
      .toSet
    // one merged session 10:00 -> 11:10 (last event 10:40 + 30min gap)
    assert(got === Set(
      ("math", "2024-01-01 10:00:00.0", "2024-01-01 11:10:00.0", 3L)))
  }

  test("mapGroupsWithState running counter accumulates across batches " +
    "(streaming A2)") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_rc_in").toString
    val out = Files.createTempDirectory("graft_rc_out").toString + "/counts"
    val ckpt = Files.createTempDirectory("graft_rc_ck").toString

    // coalesce(1): each logical batch must land as ONE file — a
    // multi-part write can split across micro-batches, and Update-mode
    // output then emits only the groups the FINAL micro-batch touched
    // (observed flake: the last batch carried only "natu" rows)
    Seq("math", "math", "natu").toDF("subject").coalesce(1)
      .write.mode("append").parquet(in)
    val q = DocIngest.runningCounts(spark, in, "subject STRING", out, ckpt)
    try {
      q.processAllAvailable()
      Seq("math", "natu", "natu").toDF("subject").coalesce(1)
        .write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(out)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // latest batch carries the accumulated totals.
    val latest = got.filter(_._3 == got.map(_._3).max)
      .map(t => t._1 -> t._2).toMap
    assert(latest === Map("math" -> 3L, "natu" -> 3L))
    // first batch saw only its own rows.
    val first = got.filter(_._3 == got.map(_._3).min)
      .map(t => t._1 -> t._2).toMap
    assert(first === Map("math" -> 2L, "natu" -> 1L))
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap " +
    "across batches (streaming events_sessionize)") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_sess_in").toString
    val out = Files.createTempDirectory("graft_sess_out").toString + "/sess"
    val ckpt = Files.createTempDirectory("graft_sess_ck").toString

    // user 1: two events 10 min apart (one session), then a 2h gap event.
    // user 2: one event.
    Seq((1L, 1000L, 1.0), (1L, 1600L, 2.0), (2L, 5000L, 5.0))
      .toDF("user_id", "ts", "value").write.mode("append").parquet(in)
    val q = DocIngest.sessionize(spark, in,
      "user_id LONG, ts LONG, value DOUBLE", out, ckpt, gapSeconds = 1800L)
    try {
      q.processAllAvailable()
      // batch 2: user 1 comes back past the gap → closes session 1 and
      // opens session 2; then another within-gap event extends session 2.
      Seq((1L, 9000L, 3.0), (1L, 9300L, 4.0))
        .toDF("user_id", "ts", "value").write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(out)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
      .toSet
    // only user 1's FIRST session has closed (gap exceeded); the open
    // sessions (user 1's second, user 2's only) stay in state.
    assert(got === Set((1L, 1000L, 1600L, 2L, 3.0)))
  }

  test("stateful dedup-on-ingest drops cross-batch exact duplicates") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_stream2_in").toString
    val out = Files.createTempDirectory("graft_stream2_out").toString + "/coll"
    val ckpt = Files.createTempDirectory("graft_stream2_ck").toString

    Seq((0L, "unique text alpha"), (1L, "dup text body"))
      .toDF("doc_id", "text").write.mode("append").parquet(in)
    val q = DocIngest.startDeduped(spark, in, schema, out, ckpt, dim = 16)
    try {
      q.processAllAvailable()
      // batch 2 re-sends an exact duplicate of doc 1 plus a new doc.
      Seq((2L, "dup text body"), (3L, "unique text beta"))
        .toDF("doc_id", "text").write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(out)
    // doc 2 (same fp as doc 1, earlier batch) must be dropped by state.
    assert(got.select("doc_id").collect().map(_.getLong(0)).sorted
      === Array(0L, 1L, 3L))
  }

  test("streaming HLL daily sketches: incremental merge across batches, " +
    "idempotent under replay") {
    import spark.implicits._
    import java.sql.Timestamp
    val in = Files.createTempDirectory("graft_hll_in").toString
    val out = Files.createTempDirectory("graft_hll_out").toString
    val ckpt = Files.createTempDirectory("graft_hll_ck").toString
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 10:00:00")

    val b1 = ((0L until 100L).map(u => (ts(1), u)) ++
      (50L until 150L).map(u => (ts(2), u))).toDF("ts", "user_id")
    b1.write.mode("append").parquet(in)
    val q = DocIngest.startHllDaily(spark, in,
      "ts TIMESTAMP, user_id LONG", out, ckpt)
    try {
      q.processAllAvailable()
      // batch 2 extends day 2 with 100 new users
      (100L until 200L).map(u => (ts(2), u)).toDF("ts", "user_id")
        .write.mode("append").parquet(in)
      q.processAllAvailable()
      // replayed content (same rows again) must not move any estimate
      b1.write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    val sketches = DocIngest.currentSketches(spark, out).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(sketches.keySet === Set("2024-01-01", "2024-01-02"))
    val est1 = graft.operators.Hll.estimate(sketches("2024-01-01"))
    val est2 = graft.operators.Hll.estimate(sketches("2024-01-02"))
    assert(math.abs(est1 - 100) <= 100 * 0.05, s"day1 $est1")
    assert(math.abs(est2 - 150) <= 150 * 0.05, s"day2 $est2")
    // cross-day union answers the range query without touching events
    val union = graft.operators.Hll.estimate(graft.operators.Hll.union(
      sketches("2024-01-01"), sketches("2024-01-02")))
    assert(math.abs(union - 200) <= 200 * 0.05, s"union $union")
  }

  test("streaming KMV daily sketches: persisted day sketches answer " +
      "cross-day intersection and difference, idempotent under replay") {
    import spark.implicits._
    import java.sql.Timestamp
    val in = Files.createTempDirectory("graft_kmv_in").toString
    val out = Files.createTempDirectory("graft_kmv_out").toString
    val ckpt = Files.createTempDirectory("graft_kmv_ck").toString
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 10:00:00")

    // day1 = users 0..99; day2 = 50..199 (overlap 50..99 → 50 returning)
    val b1 = ((0L until 100L).map(u => (ts(1), u)) ++
      (50L until 150L).map(u => (ts(2), u))).toDF("ts", "user_id")
    b1.write.mode("append").parquet(in)
    val q = DocIngest.startKmvDaily(spark, in,
      "ts TIMESTAMP, user_id LONG", out, ckpt, k = 1024)
    try {
      q.processAllAvailable()
      (150L until 200L).map(u => (ts(2), u)).toDF("ts", "user_id")
        .write.mode("append").parquet(in)
      q.processAllAvailable()
      // replayed content must not move any sketch (k-smallest idempotent)
      b1.write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    import graft.operators.KmvSketch
    val sk = DocIngest.currentSketches(spark, out).collect()
      .map(r => r.getString(0) -> KmvSketch.decode(r.getAs[Array[Byte]](1)))
      .toMap
    assert(sk.keySet === Set("2024-01-01", "2024-01-02"))
    val (d1, d2) = (sk("2024-01-01"), sk("2024-01-02"))
    // both days below k=1024 → sketches exact → set algebra exact
    assert(KmvSketch.estimate(d1, 1024) === 100.0)
    assert(KmvSketch.estimate(d2, 1024) === 150.0)
    assert(KmvSketch.intersectEstimate(d1, d2, 1024) === 50.0)
    assert(KmvSketch.differenceEstimate(d1, d2, 1024) === 50.0)
    assert(KmvSketch.differenceEstimate(d2, d1, 1024) === 100.0)
    assert(KmvSketch.estimate(
      KmvSketch.union(d1, d2, 1024), 1024) === 200.0)
  }

  test("streaming quantile daily sketches: persisted day sketches " +
      "answer any quantile exactly below k and never move under replay") {
    import spark.implicits._
    import java.sql.Timestamp
    val in = Files.createTempDirectory("graft_qs_in").toString
    val out = Files.createTempDirectory("graft_qs_out").toString
    val ckpt = Files.createTempDirectory("graft_qs_ck").toString
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 10:00:00")

    // day1: values 1..100 under unique event ids; day2 arrives in TWO
    // batches (1..60 then 61..80) and must accumulate
    val b1 = ((1L to 100L).map(v => (ts(1), s"d1-$v", v.toDouble)) ++
      (1L to 60L).map(v => (ts(2), s"d2-$v", v.toDouble)))
      .toDF("ts", "event_id", "value")
    b1.write.mode("append").parquet(in)
    val q = DocIngest.startQuantileDaily(spark, in,
      "ts TIMESTAMP, event_id STRING, value DOUBLE", out, ckpt, k = 1024)
    try {
      q.processAllAvailable()
      (61L to 80L).map(v => (ts(2), s"d2-$v", v.toDouble))
        .toDF("ts", "event_id", "value")
        .write.mode("append").parquet(in)
      q.processAllAvailable()
      // a crash-replayed batch dedupes on (hash, value) — no estimate
      // may move, only the advisory total inflates
      b1.write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    import graft.operators.QuantileSketch
    val sk = DocIngest.currentSketches(spark, out).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(sk.keySet === Set("2024-01-01", "2024-01-02"))
    // both days below k → the sample is the whole day → exact quantiles
    assert(QuantileSketch.sampleValues(sk("2024-01-01")).length === 100)
    assert(QuantileSketch.quantileAt(sk("2024-01-01"), 1, 2) ===
      Some(50.0))
    assert(QuantileSketch.quantileAt(sk("2024-01-01"), 9, 10) ===
      Some(90.0))
    assert(QuantileSketch.sampleValues(sk("2024-01-02")).length === 80)
    assert(QuantileSketch.quantileAt(sk("2024-01-02"), 1, 2) ===
      Some(40.0))
    // cross-day roll-up through MergeAgg answers the range query
    val rolled = Seq(sk("2024-01-01"), sk("2024-01-02")).toDF("sk")
      .agg(QuantileSketch.merge(col("sk"), 1024))
      .collect()(0).getAs[Array[Byte]](0)
    // merged multiset: 1..80 twice + 81..100 once → the ⌈90⌉-th
    // smallest is the second 45
    assert(QuantileSketch.sampleValues(rolled).length === 180)
    assert(QuantileSketch.quantileAt(rolled, 1, 2) === Some(45.0))
  }

  test("streaming MG daily heavy hitters: per-day k-counter maps " +
      "accumulate across batches and keep every guaranteed-heavy user") {
    import spark.implicits._
    import java.sql.Timestamp
    val in = Files.createTempDirectory("graft_mg_in").toString
    val out = Files.createTempDirectory("graft_mg_out").toString
    val ckpt = Files.createTempDirectory("graft_mg_ck").toString
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 10:00:00")

    // day1 batch1: user 7 dominates (60 of 110 events); noise users once
    val b1 = (Seq.fill(60)(7L) ++ (100L until 150L))
      .map(u => (ts(1), u)).toDF("ts", "user_id")
    b1.write.mode("append").parquet(in)
    val q = DocIngest.startMgDaily(spark, in,
      "ts TIMESTAMP, user_id LONG", out, ckpt, k = 8)
    try {
      q.processAllAvailable()
      // batch2: more day1 events for user 9 + day2 where user 3 dominates
      val b2 = ((Seq.fill(40)(9L) ++ (150L until 170L)).map(u => (ts(1), u))
        ++ (Seq.fill(30)(3L) ++ (200L until 220L)).map(u => (ts(2), u)))
        .toDF("ts", "user_id")
      b2.write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    val days = DocIngest.currentSketches(spark, out).collect()
      .map(r => r.getString(0) -> r.getMap[String, Long](1).toMap)
      .toMap
    assert(days.keySet === Set("2024-01-01", "2024-01-02"))
    // day1 totals: n = 170, k=8 → bound n/(k+1) ≈ 18.9; users 7 (60)
    // and 9 (40) are guaranteed present across the cross-batch merge
    assert(days("2024-01-01").contains("7"),
      s"day1 lost its dominant user: ${days("2024-01-01")}")
    assert(days("2024-01-01").contains("9"),
      s"day1 lost batch2's heavy user: ${days("2024-01-01")}")
    assert(days("2024-01-01").size <= 8)
    // day2: n = 50, bound ≈ 5.6, user 3 (30) guaranteed
    assert(days("2024-01-02").contains("3"))
    assert(days("2024-01-02").size <= 8)
    // estimates never exceed true counts (undercount-only errors)
    assert(days("2024-01-01")("7") <= 60L)
    assert(days("2024-01-02")("3") <= 30L)
  }

  test("idempotent sink: a replayed batchId writes nothing twice") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_idem_in").toString
    val out = Files.createTempDirectory("graft_idem_out").toString + "/coll"
    val ckpt = Files.createTempDirectory("graft_idem_ck").toString

    Seq((0L, "doc zero"), (1L, "doc one"))
      .toDF("doc_id", "text").write.mode("append").parquet(in)
    val q = DocIngest.start(spark, in, schema, out, ckpt, dim = 16)
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(out).count() === 2)

    // simulate the crash-replay: the sink function re-invoked with an
    // already-committed batchId must detect the directory and skip.
    val replay = Seq((0L, "doc zero"), (1L, "doc one")).toDF("doc_id", "text")
    assert(!DocIngest.commitBatch(replay, 0L, out))
    assert(spark.read.parquet(out).count() === 2)
    // a NEW batchId commits normally.
    assert(DocIngest.commitBatch(
      Seq((2L, "doc two")).toDF("doc_id", "text"), 99L, out))
    assert(spark.read.parquet(out).count() === 3)
  }

  test("exactly-once curation gate: a crash between the two sink commits " +
      "replays to the identical state, and a full replay writes nothing") {
    import graft.operators.{Classifier, Dsir}
    import spark.implicits._
    val in = Files.createTempDirectory("graft_curidem_in").toString
    val acc = Files.createTempDirectory("graft_curidem_out").toString + "/acc"
    val rej = Files.createTempDirectory("graft_curidem_out2").toString + "/rej"
    val dim = 16
    val ref = Seq(
      (100L, "spark distributed query engine", 1.0),
      (101L, "cake recipe with chocolate", 0.0)
    ).toDF("doc_id", "text", "y")
    val refEmb = ref.withColumn("x",
      graft.functions.Fingerprints.hashEmbed(col("text"), dim))
    val model = Classifier.train(refEmb, "x", "y", dim, lr = 1.0, iters = 40)
    val ratio = Dsir.logRatioMicro(
      ref.filter(col("y") === 1.0), ref, "text", 64)
    Seq((0L, "spark query engine internals"),
        (1L, null.asInstanceOf[String]),
        (2L, "chocolate cake frosting"))
      .toDF("doc_id", "text").write.mode("append").parquet(in)

    def runOnce(): Unit = {
      val ckpt = Files.createTempDirectory("graft_curidem_ck").toString
      val q = DocIngest.startCurationGated(spark, in, schema,
        acc, rej, ckpt, model, ratio, minScore = 0.5, minWeightMicro = 1L,
        dim = dim)
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    def state(dir: String) = spark.read.parquet(dir)
      .select("doc_id", "score", "weight_micro", "batch")
      .collect().map(_.toSeq).toSet
    val acc0 = state(acc)
    val rej0 = state(rej)
    assert((acc0 ++ rej0).size === 3 &&
      rej0.map(_.head).contains(1L)) // NULL-text row rejected here too

    // crash between the two commits: accept's batch=0 landed, reject's
    // did not, the checkpoint never committed → restart replays batch 0
    // (a fresh checkpoint over the same input re-runs it as batch 0).
    // The replay must fill ONLY the missing sink, to the identical rows.
    val fs = new org.apache.hadoop.fs.Path(rej).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$rej/batch=0"), true))
    runOnce()
    assert(state(acc) === acc0 && state(rej) === rej0)

    // a full replay (both sinks already committed) writes nothing twice
    runOnce()
    assert(state(acc) === acc0 && state(rej) === rej0)
  }

  test("exactly-once deduped ingest (VERDICT r15 #6): a crash-replayed " +
      "batch recomputes the same dedup survivors and the rename " +
      "protocol fills only what the sink is missing") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_dedidem_in").toString
    val out = Files.createTempDirectory("graft_dedidem_out").toString + "/col"
    Seq((0L, "alpha document body"),
        (1L, "alpha document body"), // exact dup — one survivor
        (2L, "beta document body"))
      .toDF("doc_id", "text").write.mode("append").parquet(in)

    def runOnce(): Unit = {
      val ckpt = Files.createTempDirectory("graft_dedidem_ck").toString
      val q = DocIngest.startDeduped(spark, in, schema, out,
        ckpt, dim = 16)
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    // (fp, batch) is replay-deterministic even if the arbitrary
    // dropDuplicates survivor between doc 0 and doc 1 were to flip
    def state() = spark.read.parquet(out)
      .select("fp", "batch").collect().map(_.toSeq).toSet
    val s0 = state()
    assert(spark.read.parquet(out).count() === 2) // dup collapsed
    val survivors = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors.contains(2L) &&
      (survivors.contains(0L) ^ survivors.contains(1L)))

    // full crash-replay (sink committed, checkpoint offset lost): the
    // replayed batch 0 finds batch=0 present and writes NOTHING
    runOnce()
    assert(state() === s0 && spark.read.parquet(out).count() === 2)

    // crash BEFORE the sink commit (batch=0 never landed): the replay
    // recomputes the same decisions and fills the missing directory
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$out/batch=0"), true))
    runOnce()
    assert(state() === s0 && spark.read.parquet(out).count() === 2)
  }

  test("streaming crawl pipeline (the batch flagship's twin): WET " +
      "conversion → frozen quality gate → indexed near-dup gate → " +
      "exactly-once training rows with composite doc ids") {
    import spark.implicits._
    import graft.functions.WarcCodec
    val in = Files.createTempDirectory("graft_cp_in").toString
    val train = Files.createTempDirectory("graft_cp_t").toString + "/train"
    val idx = Files.createTempDirectory("graft_cp_x").toString + "/idx"
    val ckpt = Files.createTempDirectory("graft_cp_ck").toString

    def resp(i: Int, text: String) =
      (Seq("WARC-Type" -> "response", "WARC-Record-ID" -> s"<urn:r:$i>",
        "WARC-Target-URI" -> s"http://h/$i"),
        ("HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8" +
          "\r\n\r\n").getBytes("ISO-8859-1") ++ text.getBytes("UTF-8"))
    def archive(texts: Seq[String]) =
      WarcCodec.encode(texts.zipWithIndex.map { case (t, i) => resp(i, t) })

    // wordy + stopword-rich → quality 1.0; the near-dup changes ONE word
    // of 160 (trigram Jaccard ≈ 0.93 ≥ 0.8); junk is punct-only; fresh
    // shares almost no shingles with good
    val good = (0 until 40).map(i => s"the w$i of a").mkString(" ")
    val nearDup = good.replace("w39", "zz")
    val junk = "!!! ??? !!!"
    val fresh = (0 until 40).map(i => s"the x$i of a").mkString(" ")
    // the frozen threshold comes from the ENGINE's own quality values —
    // strictly between junk's and good's (no hardcoded magic)
    val q4 = graft.operators.TextAnalysis.qualityFrame(
        Seq((0L, good), (1L, junk)).toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        math.round(r.getAs[Double]("quality") * 10000)).toMap
    assert(q4(1L) < q4(0L))
    val minQ = (q4(0L) + q4(1L)) / 2

    // batch 1: archive 0 carries (good, junk), archive 1 a near-dup of
    // good — junk fails quality, the near-dup loses in-batch LSH to the
    // lower composite id
    Seq((0L, archive(Seq(good, junk))), (1L, archive(Seq(nearDup))))
      .toDF("warc_id", "bytes").write.mode("append").parquet(in)
    val q = DocIngest.startCrawlPipeline(spark, in, train, idx, ckpt,
      minQualityMicro = minQ)
    try {
      q.processAllAvailable()
      val r1 = spark.read.parquet(train)
        .select(col("doc_id"), col("uri"), col("n_tokens"))
        .as[(Long, String, Long)].collect()
      assert(r1.toSeq === Seq((0L, "http://h/0", 160L)))

      // batch 2: an exact re-send of good (caught by the persisted
      // index's md5 fps across batches) + a fresh doc (admitted)
      Seq((2L, archive(Seq(good, fresh))))
        .toDF("warc_id", "bytes").write.mode("append").parquet(in)
      q.processAllAvailable()
      val r2 = spark.read.parquet(train)
        .select(col("doc_id")).as[Long].collect().sorted
      assert(r2.toSeq === Seq(0L, 2L * DocIngest.RecordIdSpan + 1L))
    } finally q.stop()

    // crash-replay of a committed batchId writes nothing
    assert(!DocIngest.commitBatch(
      Seq((99L, "u", "t", 1L)).toDF("doc_id", "uri", "text", "n_tokens"),
      0L, train))
    assert(spark.read.parquet(train).count() === 2)
  }

  test("streaming crawl pipeline: invalid composite archive ids fail " +
      "LOUDLY — negative and NULL ids both trip the guard (a NULL " +
      "operand must be matched explicitly, or the violation predicate " +
      "goes NULL and the row slips past the require as doc_id = NULL)") {
    import spark.implicits._
    import graft.functions.WarcCodec
    def archive(text: String) = WarcCodec.encode(Seq(
      (Seq("WARC-Type" -> "response", "WARC-Record-ID" -> "<urn:r:0>",
        "WARC-Target-URI" -> "http://h/0"),
        ("HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8" +
          "\r\n\r\n").getBytes("ISO-8859-1") ++ text.getBytes("UTF-8"))))
    for (badId <- Seq(Some(-1L), None)) {
      val in = Files.createTempDirectory("graft_cg_in").toString
      val train = Files.createTempDirectory("graft_cg_t").toString + "/t"
      val idx = Files.createTempDirectory("graft_cg_x").toString + "/x"
      val ckpt = Files.createTempDirectory("graft_cg_ck").toString
      Seq((badId, archive("the a of the b")))
        .toDF("warc_id", "bytes").write.mode("append").parquet(in)
      val q = DocIngest.startCrawlPipeline(spark, in, train, idx, ckpt,
        minQualityMicro = 0L)
      val e = intercept[Exception] {
        try q.processAllAvailable() finally q.stop()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("composite doc ids")),
        s"archive id $badId did not trip the composite guard: $e")
    }
  }

  test("streaming<->batch flagship equivalence (VERDICT r12 #4): the " +
      "crawl pipeline over the sf0.001 corpus in 3 id-ordered batches, " +
      "threshold frozen to the batch flagship's median and an empty " +
      "starting index, admits EXACTLY the batch flagship's pre-pack " +
      "survivor set — the 'twin from the same operators' claim, pinned " +
      "mechanically") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val in = Files.createTempDirectory("graft_cpe_in").toString
    val train = Files.createTempDirectory("graft_cpe_t").toString + "/tr"
    val idx = Files.createTempDirectory("graft_cpe_x").toString + "/idx"
    val ckpt = Files.createTempDirectory("graft_cpe_ck").toString

    // the batch flagship's stages 1-3: survivor set + corpus median
    val recs = graft.queries.PipelineQueries.wetRecords(spark, sf)
    val batchSurvivors = graft.queries.PipelineQueries
      .dedupedCorpus(spark, sf, Some(recs))
      .select(col("doc_id")).as[Long].collect().toSet
    // one quality pass serves both the median freeze and the clique
    // precondition below
    val q4d = graft.operators.TextAnalysis.qualityFrame(
        recs.select(col("doc_id"), col("text")), "doc_id", "text")
      .select(col("doc_id"),
        round(col("quality") * 10000).cast("long").as("q4"))
      .localCheckpoint()
    val med = q4d.agg(percentile(col("q4"), lit(0.5))).first().getDouble(0)
    // q4 > med on integer micro-units <=> q4 >= floor(med)+1 (med is
    // integer-or-half by the micro-unit carrier) — the exact freeze of
    // the batch form's strictly-above gate
    val minQ = math.floor(med).toLong + 1

    // PRECONDITION the equivalence rests on (and the reason it must be
    // asserted, not assumed): keep-first ONLINE admission equals
    // connected-components keep-first for every batch split exactly
    // when each near-dup component is a CLIQUE. A transitive chain
    // a~b~c without a~c straddling batches diverges: the batch form's
    // CC drops c into a's component, while the stream admits c because
    // the index only holds a (b was rejected and never folded in). The
    // sf0.001 corpus has clique-only components — assert that, so a
    // testdata regeneration that introduces a chain fails HERE with
    // the cause named, not below with a bare set mismatch.
    locally {
      val kept = recs.select(col("doc_id"), col("text"))
        .join(q4d.filter(col("q4") >= minQ).select("doc_id"), Seq("doc_id"))
      val edges = graft.operators.Dedup.prefixFilterJaccardPairs(
          kept, "doc_id", "text", n = 3, threshold = 0.8)
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
        .as[(Long, Long)].collect().toSet
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) => parent(find(a)) = find(b) }
      val comps = edges.flatMap(e => Seq(e._1, e._2)).groupBy(find)
      comps.foreach { case (root, members) =>
        val n = members.size.toLong
        val within = edges.count { case (a, b) =>
          members.contains(a) && members.contains(b) }
        assert(within === n * (n - 1) / 2,
          s"near-dup component at root $root is a CHAIN, not a clique " +
            s"($within/${n * (n - 1) / 2} edges over $n members) — " +
            "online keep-first and CC keep-first can diverge on a " +
            "batch split, so this corpus no longer supports the " +
            "equivalence this test pins")
      }
    }

    // feed the SAME per-doc WARC synthesis the batch flagship reads,
    // split into 3 id-ordered ranges (a replayed crawl arrives in crawl
    // order; keep-first admission is id-ordered in both forms)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("long").as("warc_id"),
        graft.queries.WebQueries.warcResponseSynth(
          col("doc_id").cast("long"), col("text")).as("bytes"))
      .localCheckpoint()
    val q = DocIngest.startCrawlPipeline(spark, in, train, idx, ckpt,
      minQualityMicro = minQ)
    try {
      Seq((0L, 167L), (167L, 334L), (334L, 500L)).foreach {
        case (lo, hi) =>
          docs.filter(col("warc_id") >= lo && col("warc_id") < hi)
            .write.mode("append").parquet(in)
          q.processAllAvailable()
      }
    } finally q.stop()

    val streamIds = spark.read.parquet(train)
      .select(col("doc_id")).as[Long].collect()
    assert(streamIds.length === streamIds.toSet.size,
      "duplicate training rows across batches")
    val streamDocs = streamIds.map(_ / DocIngest.RecordIdSpan).toSet
    assert(streamDocs === batchSurvivors,
      s"streaming admitted ${streamDocs.size} docs vs batch " +
        s"${batchSurvivors.size}; only-stream=" +
        s"${(streamDocs -- batchSurvivors).toSeq.sorted.take(10)} " +
        s"only-batch=${(batchSurvivors -- streamDocs).toSeq.sorted.take(10)}")
  }

  test("streaming WET extraction converts each archive batch exactly " +
      "once and replays write nothing") {
    import spark.implicits._
    import graft.functions.WarcCodec
    val in = Files.createTempDirectory("graft_wet_in").toString
    val out = Files.createTempDirectory("graft_wet_out").toString + "/wet"
    val ckpt = Files.createTempDirectory("graft_wet_ck").toString
    def archive(id: Long, text: String) = WarcCodec.encode(Seq(
      (Seq("WARC-Type" -> "response", "WARC-Record-ID" -> s"<urn:r:$id>",
        "WARC-Target-URI" -> s"http://h/$id"),
        (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
          s"<body><p>$text</p></body>").getBytes("ISO-8859-1"))))
    Seq((0L, archive(0L, "doc zero")), (1L, archive(1L, "doc one")))
      .toDF("warc_id", "bytes").write.mode("append").parquet(in)
    val q = DocIngest.startWetExtraction(spark, in, out, ckpt)
    try {
      q.processAllAvailable()
      Seq((2L, archive(2L, "doc two")))
        .toDF("warc_id", "bytes").write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
    assert(got.count() === 3)
    val payloads = got.collect().map { r =>
      val recs = WarcCodec.decode(r.getAs[Array[Byte]]("wet"))
      assert(recs.map(_.warcType.get) === Seq("conversion"))
      r.getAs[Long]("warc_id") -> new String(recs.head.payload, "UTF-8")
    }.toMap
    assert(payloads === Map(0L -> "doc zero", 1L -> "doc one",
      2L -> "doc two"))
    // crash-replay of an already-committed batchId writes nothing
    val replay = Seq((0L, archive(0L, "doc zero")))
      .toDF("warc_id", "bytes")
    assert(!DocIngest.commitBatch(
      graft.operators.WebArchive.wetConversion(replay, "warc_id", "bytes"),
      0L, out))
    assert(spark.read.parquet(out).count() === 3)
  }

  test("stream-static enrichment broadcasts the dim and left-joins " +
      "(unmatched rows keep flowing with nulls)") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_enr_in").toString
    val out = Files.createTempDirectory("graft_enr_out").toString + "/enr"
    val ckpt = Files.createTempDirectory("graft_enr_ck").toString
    val dim = Seq((0L, "news"), (1L, "web")).toDF("doc_id", "source_kind")

    Seq((0L, "from the news"), (5L, "orphan doc"))
      .toDF("doc_id", "text").write.mode("append").parquet(in)
    val q = DocIngest.enriched(spark, in, schema, dim, "doc_id", out, ckpt)
    try q.processAllAvailable() finally q.stop()

    val got = spark.read.parquet(out)
      .select(col("doc_id"), col("source_kind"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getString(1)).getOrElse("∅")).toMap
    assert(got === Map(0L -> "news", 5L -> "∅"))
  }

  test("stream-stream interval join pairs events within the window " +
      "per key and not beyond it") {
    import spark.implicits._
    import java.sql.Timestamp
    val lDir = Files.createTempDirectory("graft_ij_l").toString
    val rDir = Files.createTempDirectory("graft_ij_r").toString
    val out = Files.createTempDirectory("graft_ij_out").toString + "/j"
    val ckpt = Files.createTempDirectory("graft_ij_ck").toString
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val sch = "user_id LONG, ts TIMESTAMP"

    // left: clicks at 10:00 and 10:50 (user 1), 09:00 (user 2)
    Seq((1L, ts(10, 0)), (1L, ts(10, 50)), (2L, ts(9, 0)))
      .toDF("user_id", "ts").write.mode("append").parquet(lDir)
    // right: purchases at 10:30 (user 1) and 10:30 (user 2)
    Seq((1L, ts(10, 30)), (2L, ts(10, 30)))
      .toDF("user_id", "ts").write.mode("append").parquet(rDir)

    val q = DocIngest.intervalJoin(spark, lDir, rDir, sch, "user_id", "ts",
      out, ckpt, intervalSeconds = 3600L)
    try q.processAllAvailable() finally q.stop()

    val got = spark.read.parquet(out)
      .select(col("user_id"), col("l_ts"), col("r_ts"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
      .toSet
    // user 1: only the 10:00 click precedes the 10:30 purchase within 1h
    // (10:50 is AFTER it); user 2's 09:00 click is 90 min before — outside.
    assert(got === Set((1L, ts(10, 0), ts(10, 30))))
  }

  test("streaming upsert ingestion replaces re-sent ids instead of " +
      "duplicating") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_ups_in").toString
    val coll = Files.createTempDirectory("graft_ups_out").toString + "/coll"
    val ckpt = Files.createTempDirectory("graft_ups_ck").toString

    Seq((0L, "version one of doc zero"), (1L, "doc one"))
      .toDF("doc_id", "text").write.mode("append").parquet(in)
    val q = DocIngest.startUpsert(spark, in, schema, coll, ckpt,
      idCol = "doc_id", nBuckets = 8, dim = 16)
    try {
      q.processAllAvailable()
      // batch 2 re-sends doc 0 with new content + a new doc
      Seq((0L, "version TWO of doc zero"), (2L, "doc two"))
        .toDF("doc_id", "text").write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(coll)
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size === 3)
    assert(got(0L) === "version TWO of doc zero")
    assert(got(1L) === "doc one")
    assert(got(2L) === "doc two")
  }

  test("watermark dedup: re-delivered ids within the watermark drop " +
      "(in-batch and cross-batch), novel ids pass, first-seen row wins") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_wmd_in").toString
    val out = Files.createTempDirectory("graft_wmd_out").toString + "/coll"
    val ckpt = Files.createTempDirectory("graft_wmd_ck").toString
    def ts(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)

    // batch 1: id 1 re-delivered twice (1 s apart), id 2 once
    Seq((1L, ts(0), "first payload"), (1L, ts(1), "retry payload"),
        (2L, ts(2), "second doc"))
      .toDF("doc_id", "ts", "text").write.mode("append").parquet(in)

    val q = DocIngest.startWatermarkDedup(spark, in,
      "doc_id LONG, ts TIMESTAMP, text STRING", out, ckpt,
      delay = "1 hour")
    try {
      q.processAllAvailable()
      // batch 2: id 1 re-delivered again (still inside the watermark
      // window -> dropped), id 3 novel (admitted)
      Seq((1L, ts(10), "late retry"), (3L, ts(11), "third doc"))
        .toDF("doc_id", "ts", "text").write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(out)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet === Set(1L, 2L, 3L))
    // within-watermark dedup keeps the FIRST-processed occurrence
    assert(got(1L) === "first payload")
  }

  test("source quota gate (transformWithState): per-source cap holds " +
      "across batches, lowest ids win, state is per-key exact") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_qg_in").toString
    val out = Files.createTempDirectory("graft_qg_out").toString + "/coll"
    val ckpt = Files.createTempDirectory("graft_qg_ck").toString
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      // batch 1: 3 docs from source a (quota 2 -> ids 0,1 admitted),
      // 1 doc from b
      Seq((2L, "a", "a2"), (0L, "a", "a0"), (1L, "a", "a1"),
          (10L, "b", "b0"))
        .toDF("doc_id", "source", "text").write.mode("append").parquet(in)
      val q = graft.streaming.QuotaGate.start(spark, in,
        "doc_id LONG, source STRING, text STRING", out, ckpt,
        maxPerSource = 2L)
      try {
        q.processAllAvailable()
        // batch 2: a is FULL (3 dropped), b admits one more (11) and
        // drops the second (12); c is fresh
        Seq((3L, "a", "a3"), (11L, "b", "b1"), (12L, "b", "b2"),
            (20L, "c", "c0"))
          .toDF("doc_id", "source", "text").write.mode("append")
          .parquet(in)
        q.processAllAvailable()
      } finally q.stop()
      val ids = spark.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(0L, 1L, 10L, 11L, 20L))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("timer sessionization (transformWithState, event-time timers): " +
      "sessions close exactly when the watermark passes end+gap; " +
      "cross-batch extension re-arms the timer") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_ts_in").toString
    val out = Files.createTempDirectory("graft_ts_out").toString + "/sess"
    val ckpt = Files.createTempDirectory("graft_ts_ck").toString
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    def ts(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    try {
      // batch 1: user 1 events at t0, t0+10; user 2 at t0+5
      Seq((1L, ts(0)), (1L, ts(10)), (2L, ts(5)))
        .toDF("user_id", "ts").write.mode("append").parquet(in)
      val q = graft.streaming.TimerSessionize.start(spark, in,
        "user_id LONG, ts TIMESTAMP", out, ckpt, gapSeconds = 30L)
      try {
        q.processAllAvailable()
        // nothing closed yet: watermark is only at t0+10
        // batch 2: user 1 extends its session at t0+20 (re-arms timer);
        // user 3 far in the future advances the watermark past
        // everyone's end+gap on the NEXT batch
        Seq((1L, ts(20)), (3L, ts(500)))
          .toDF("user_id", "ts").write.mode("append").parquet(in)
        q.processAllAvailable()
        // batch 3: another future event advances the watermark again so
        // user 3's own session can close too
        Seq((4L, ts(1000))).toDF("user_id", "ts")
          .write.mode("append").parquet(in)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(out)
        .collect().map(r => r.getLong(r.fieldIndex("user_id")) ->
          ((r.getTimestamp(r.fieldIndex("start_ts")).getTime,
            r.getTimestamp(r.fieldIndex("end_ts")).getTime,
            r.getLong(r.fieldIndex("n_events"))))).toMap
      // users 1, 2, 3 closed; user 4's session is still open
      assert(got.keySet === Set(1L, 2L, 3L))
      assert(got(1L) === ((ts(0).getTime, ts(20).getTime, 3L)),
        "user 1's cross-batch extension did not merge/re-arm")
      assert(got(2L) === ((ts(5).getTime, ts(5).getTime, 1L)))
      assert(got(3L) === ((ts(500).getTime, ts(500).getTime, 1L)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("INDEXED near-dup gate: same admissions as the unindexed gate, " +
      "corpus never re-signed, short-doc exact re-sends still caught") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_indg_in").toString
    val out = Files.createTempDirectory("graft_indg_out").toString + "/coll"
    val idx = Files.createTempDirectory("graft_indg_ix").toString + "/idx"
    val ckpt = Files.createTempDirectory("graft_indg_ck").toString

    val base = "o rato roeu a roupa do rei de roma e depois fugiu para o " +
      "campo onde encontrou um queijo enorme perto do moinho antigo"
    val other = "receita de pao caseiro com fermento natural agua farinha " +
      "sal e tempo de descanso longo na geladeira durante a noite fria"
    // batch 1: base + its near-dup (in-batch drop), a distinct doc, and
    // a doc too short to shingle (no signature row — exact-fp territory)
    Seq((0L, base), (1L, base.replace("queijo", "bolo")), (2L, other),
        (3L, "curto"))
      .toDF("doc_id", "text").write.mode("append").parquet(in)

    val q = DocIngest.startIndexedNearDupGated(spark, in, schema, out,
      idx, ckpt, "doc_id", threshold = 0.5)
    try {
      q.processAllAvailable()
      // batch 2: near-dup of accepted corpus doc (reject via index
      // probe), exact re-send (reject), exact re-send of the SHORT doc
      // (reject via the fp table — probePairs cannot see it), novel doc
      Seq((10L, base.replace("campo", "prado")), (11L, other),
          (13L, "curto"),
          (12L, "um texto totalmente novo sobre processamento " +
            "distribuido de documentos em spark com operadores"))
        .toDF("doc_id", "text").write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    val ids = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(0L, 2L, 3L, 12L))
  }

  test("near-dup-gated ingest: batch-internal and cross-batch near-dups " +
      "are rejected; novel docs admitted") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_ndg_in").toString
    val out = Files.createTempDirectory("graft_ndg_out").toString + "/coll"
    val ckpt = Files.createTempDirectory("graft_ndg_ck").toString

    val base = "o rato roeu a roupa do rei de roma e depois fugiu para o " +
      "campo onde encontrou um queijo enorme perto do moinho antigo"
    val other = "receita de pao caseiro com fermento natural agua farinha " +
      "sal e tempo de descanso longo na geladeira durante a noite fria"
    // batch 1: base, its near-dup (1-token edit -> dropped in-batch,
    // keep-first by id), and one distinct doc
    Seq((0L, base), (1L, base.replace("queijo", "bolo")), (2L, other))
      .toDF("doc_id", "text").write.mode("append").parquet(in)

    val q = DocIngest.startNearDupGated(spark, in, schema, out, ckpt,
      "doc_id", threshold = 0.5)
    try {
      q.processAllAvailable()
      // batch 2: a near-dup of the ACCEPTED corpus doc (rejected), an
      // exact re-send (rejected: Jaccard 1), and a novel doc (admitted)
      Seq((10L, base.replace("campo", "prado")), (11L, other),
          (12L, "um texto totalmente novo sobre processamento distribuido " +
            "de documentos em spark com operadores de deduplicacao"))
        .toDF("doc_id", "text").write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    val ids = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(0L, 2L, 12L))
  }

  test("image-dedup-gated ingest: exact and near-dup images rejected " +
      "in-batch and cross-batch; novel and undecodable admitted; the " +
      "collection carries the hash index") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_idg_in").toString
    val out = Files.createTempDirectory("graft_idg_out").toString + "/coll"
    val ckpt = Files.createTempDirectory("graft_idg_ck").toString
    def pgm(f: Int => Int): Array[Byte] =
      "P5 16 16 255\n".getBytes("US-ASCII") ++
        Array.tabulate(256)(i => (f(i) & 0xff).toByte)
    def base(i: Int) = (i * 7 + (i / 16) * 31) % 256
    def other(i: Int) = (i * 97 + 55) % 256

    // batch 1: base image, its 1-px near-dup (dropped in-batch,
    // keep-first by id), a distinct image, an undecodable payload
    Seq((0L, pgm(base)),
        (1L, pgm(i => if (i == 40) base(i) + 4 else base(i))),
        (2L, pgm(other)),
        (3L, "not an image at all".getBytes("UTF-8")))
      .toDF("doc_id", "bytes").write.mode("append").parquet(in)

    val q = DocIngest.startImageDedupGated(spark, in,
      "doc_id LONG, bytes BINARY", out, ckpt, "doc_id")
    try {
      q.processAllAvailable()
      // batch 2: near-dup of the ACCEPTED base (rejected), exact re-send
      // of the other image (rejected), and a genuinely novel image
      Seq((10L, pgm(i => if (i == 100) base(i) + 6 else base(i))),
          (11L, pgm(other)),
          (12L, pgm(i => (i * 131 + 17) % 256)))
        .toDF("doc_id", "bytes").write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    val coll = spark.read.parquet(out)
    val ids = coll.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(0L, 2L, 3L, 12L))
    // the collection doubles as the hash index: phash stored, null only
    // for the undecodable row
    val nullHash = coll.filter(col("phash").isNull)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(nullHash === Set(3L))
  }

  test("curation gate stream routes every doc to exactly one sink and " +
      "reproduces the batch pipeline's decisions byte-for-byte") {
    import graft.operators.{Classifier, Dsir}
    import spark.implicits._
    val in = Files.createTempDirectory("graft_cur_in").toString
    val acc = Files.createTempDirectory("graft_cur_out").toString + "/acc"
    val rej = Files.createTempDirectory("graft_cur_out2").toString + "/rej"
    val ckpt = Files.createTempDirectory("graft_cur_ck").toString
    val dim = 16

    // frozen artifacts, trained OFFLINE on a reference corpus — the
    // stream only applies them
    val ref = Seq(
      (100L, "spark distributed query engine", 1.0),
      (101L, "spark shuffle partition tuning", 1.0),
      (102L, "cake recipe with chocolate", 0.0),
      (103L, "garden soil and flowers", 0.0)
    ).toDF("doc_id", "text", "y")
    val refEmb = ref.withColumn("x",
      graft.functions.Fingerprints.hashEmbed(col("text"), dim))
    val model = Classifier.train(refEmb, "x", "y", dim, lr = 1.0, iters = 40)
    val ratio = Dsir.logRatioMicro(
      ref.filter(col("y") === 1.0), ref, "text", 64)

    val batch1 = Seq((0L, "spark query engine internals"),
      (1L, "chocolate cake frosting"))
    val batch2 = Seq((2L, "spark partition shuffle notes"),
      (3L, "flowers for the garden bed"))
    batch1.toDF("doc_id", "text").write.mode("append").parquet(in)

    val q = DocIngest.startCurationGated(spark, in, schema, acc, rej, ckpt,
      model, ratio, minScore = 0.5, minWeightMicro = 1L, dim = dim)
    try {
      q.processAllAvailable()
      batch2.toDF("doc_id", "text").write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    val accDf = spark.read.parquet(acc)
    val rejDf = spark.read.parquet(rej)
    val accIds = accDf.select("doc_id").collect().map(_.getLong(0)).toSet
    val rejIds = rejDf.select("doc_id").collect().map(_.getLong(0)).toSet
    // partition: every input doc lands in exactly one sink
    assert((accIds ++ rejIds) === Set(0L, 1L, 2L, 3L))
    assert(accIds.intersect(rejIds) === Set.empty)

    // decisions replay exactly from the frozen models (no state, no RNG)
    val all = (batch1 ++ batch2).toDF("doc_id", "text")
    val expected = Classifier.scoreFrame(
        all.withColumn("v", graft.functions.Fingerprints.hashEmbed(
          col("text"), dim)), "v", model)
      .join(Dsir.importanceWeights(all, "doc_id", "text", ratio)
        .withColumnRenamed("id", "doc_id"), Seq("doc_id"))
      .filter(col("score") >= 0.5 && col("weight_micro") >= 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(accIds === expected)
    // both sinks carry the audit columns
    assert(accDf.columns.toSet.intersect(Set("score", "weight_micro"))
      === Set("score", "weight_micro"))
    assert(rejDf.columns.toSet.intersect(Set("score", "weight_micro"))
      === Set("score", "weight_micro"))
  }

  test("curation gate stream survives a NULL-text row — routed to reject " +
      "with NULL audit columns instead of poison-pilling the query") {
    import graft.operators.{Classifier, Dsir}
    import spark.implicits._
    val in = Files.createTempDirectory("graft_curnull_in").toString
    val acc = Files.createTempDirectory("graft_curnull_out").toString + "/acc"
    val rej = Files.createTempDirectory("graft_curnull_out2").toString + "/rej"
    val ckpt = Files.createTempDirectory("graft_curnull_ck").toString
    val dim = 16
    val ref = Seq(
      (100L, "spark distributed query engine", 1.0),
      (101L, "cake recipe with chocolate", 0.0)
    ).toDF("doc_id", "text", "y")
    val refEmb = ref.withColumn("x",
      graft.functions.Fingerprints.hashEmbed(col("text"), dim))
    val model = Classifier.train(refEmb, "x", "y", dim, lr = 1.0, iters = 40)
    val ratio = Dsir.logRatioMicro(
      ref.filter(col("y") === 1.0), ref, "text", 64)

    // a NULL-text row in the SAME batch as valid rows: the batch must
    // still complete (scoreFrame's dim require would otherwise fail the
    // whole batch, and restart replays it forever)
    Seq((0L, "spark query engine internals"),
        (1L, null.asInstanceOf[String]),
        (2L, "chocolate cake frosting"))
      .toDF("doc_id", "text").write.mode("append").parquet(in)

    val q = DocIngest.startCurationGated(spark, in, schema, acc, rej, ckpt,
      model, ratio, minScore = 0.5, minWeightMicro = 1L, dim = dim)
    try q.processAllAvailable() finally q.stop()

    val accDf = spark.read.parquet(acc)
    val rejDf = spark.read.parquet(rej)
    val accIds = accDf.select("doc_id").collect().map(_.getLong(0)).toSet
    val rejIds = rejDf.select("doc_id").collect().map(_.getLong(0)).toSet
    assert((accIds ++ rejIds) === Set(0L, 1L, 2L))
    assert(accIds.intersect(rejIds) === Set.empty)
    // the NULL-text row is always rejected, with NULL audit columns —
    // the replayable record that the signal did not compute
    assert(rejIds.contains(1L))
    val nullRow = rejDf.filter(col("doc_id") === 1L).collect()
    assert(nullRow.length === 1)
    assert(nullRow(0).isNullAt(nullRow(0).fieldIndex("score")))
    assert(nullRow(0).isNullAt(nullRow(0).fieldIndex("weight_micro")))
    // the valid rows still scored (non-null audit columns) and their
    // decisions replay from the frozen models over the text-only rows
    val valid = Seq((0L, "spark query engine internals"),
      (2L, "chocolate cake frosting")).toDF("doc_id", "text")
    val expected = Classifier.scoreFrame(
        valid.withColumn("v", graft.functions.Fingerprints.hashEmbed(
          col("text"), dim)), "v", model)
      .join(Dsir.importanceWeights(valid, "doc_id", "text", ratio)
        .withColumnRenamed("id", "doc_id"), Seq("doc_id"))
      .filter(col("score") >= 0.5 && col("weight_micro") >= 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(accIds === expected)
    val scoredValid = accDf.unionByName(rejDf)
      .filter(col("doc_id") =!= 1L).collect()
    assert(scoredValid.length === 2 &&
      scoredValid.forall(r => !r.isNullAt(r.fieldIndex("score"))))
  }

  test("drift monitor stream: an in-distribution batch scores near-zero " +
      "PSI, a shifted batch alarms, one report row per batch") {
    import graft.operators.Drift
    import spark.implicits._
    val in = Files.createTempDirectory("graft_drift_in").toString
    val rep = Files.createTempDirectory("graft_drift_out").toString + "/rep"
    val ckpt = Files.createTempDirectory("graft_drift_ck").toString
    val dim = 4
    val vecSchema = "vec_id LONG, embedding ARRAY<DOUBLE>"

    def mkVecs(ids: Range, shift: Double) =
      ids.map(i => (i.toLong,
        Seq(i % 7 / 7.0 + shift, 1.0, -0.5, 0.25)))
        .toDF("vec_id", "embedding")

    val reference = mkVecs(0 until 200, 0.0)
    val refHist = Drift.projectionHistogram(reference, "embedding", dim,
        probe = 0, invWidth = 4)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    mkVecs(1000 until 1100, 0.0).write.mode("append").parquet(in)
    val q = DocIngest.startDriftMonitored(spark, in, vecSchema, rep, ckpt,
      refHist, "embedding", dim)
    try {
      q.processAllAvailable()
      mkVecs(2000 until 2100, 25.0).write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    val reports = spark.read.parquet(rep)
      .orderBy("batch_id")
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(reports.length === 2)
    val Array((n1, psi1), (n2, psi2)) = reports
    assert(n1 === 100L && n2 === 100L)
    // same distribution → PSI well under 0.1 nats; disjoint bins → huge
    assert(psi1 < 100000L, s"in-distribution psi=$psi1")
    assert(psi2 > 1000000L, s"shifted psi=$psi2")
  }

  test("streaming SCD2: closed versions emit once with correct " +
      "intervals, state carries versions across batches, late rows drop") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_scd_in").toString
    val out = Files.createTempDirectory("graft_scd_out").toString + "/scd"
    val ckpt = Files.createTempDirectory("graft_scd_ck").toString
    def ts(ep: Long) = new java.sql.Timestamp(ep * 1000L)

    // batch 1: A(100) A(200) B(300) → closes v1 = A [100, 300)
    Seq((1L, ts(100), "A"), (1L, ts(200), "A"), (1L, ts(300), "B"))
      .toDF("user_id", "ts", "event_type")
      .write.mode("append").parquet(in)
    val q = DocIngest.scd2Stream(spark, in,
      "user_id LONG, ts TIMESTAMP, event_type STRING", out, ckpt)
    try {
      q.processAllAvailable()
      // batch 2: late X(50) dropped; A(500) closes v2 = B [300, 500)
      Seq((1L, ts(50), "X"), (1L, ts(500), "A"))
        .toDF("user_id", "ts", "event_type")
        .write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(out)
      .orderBy("version")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(got === Array(
      (1L, 1, "A", 100L, 300L),
      (1L, 2, "B", 300L, 500L)))
  }

  test("streaming PDF-folder ingest extracts the golden records " +
      "continuously and exactly once") {
    val src = new java.io.File("/root/reference/pdfs_enem/2023")
    assume(new java.io.File(src,
      "2023_PV_impresso_D2_CD7.pdf").exists(), "reference PDFs absent")
    val in = Files.createTempDirectory("graft_pdf_in").toString
    val out = Files.createTempDirectory("graft_pdf_out").toString + "/q"
    val ckpt = Files.createTempDirectory("graft_pdf_ck").toString

    def drop(name: String): Unit = {
      java.nio.file.Files.copy(
        new java.io.File(src, name).toPath,
        java.nio.file.Paths.get(in, name)); ()
    }
    // batch 1: booklet + its key arrive together (the folder contract)
    drop("2023_PV_impresso_D2_CD7.pdf")
    drop("2023_GB_impresso_D2_CD7.pdf")

    val q = PdfIngest.start(spark, in, out, ckpt)
    try q.processAllAvailable() finally q.stop()

    val got = spark.read.parquet(out)
    // the stream's output IS the batch extract: 35 math records with
    // the golden answers (PdfGoldenSpec pins the byte-level parity)
    import org.apache.spark.sql.functions.col
    assert(got.filter(col("subject") === "math").count() === 35L)
    assert(got.filter(col("subject") === "math" &&
      col("question_num") === 136).select("correct_answer")
      .collect()(0).getString(0) === "B")
    // replaying the same checkpointed batch commits nothing twice
    val q2 = PdfIngest.start(spark, in, out, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(out)
      .filter(col("subject") === "math").count() === 35L)
  }

  test("streaming PDF-folder ingest pairs the delivered file names: the " +
      "paired booklet extracts as the batch path does, the unpaired one " +
      "waits uncommitted, and a replay commits nothing twice") {
    import graft.operators.{ExtractPipeline, Pairing}
    import graft.sources.PdfSource
    val in = Files.createTempDirectory("graft_pdfs_in").toString
    val paired = Files.createTempDirectory("graft_pdfs_paired").toString
    val out = Files.createTempDirectory("graft_pdfs_out").toString + "/q"
    def write(dirs: Seq[String], name: String, pages: Seq[String],
        images: Set[Int] = Set.empty): Unit = dirs.foreach { d =>
      Files.write(java.nio.file.Paths.get(d, name),
        PdfFixture.build(pages.map(_.split("\n").toSeq), images)); ()
    }
    // one batch: day 1's booklet and key, and day 2's booklet whose key
    // has not arrived
    write(Seq(in, paired), TestBooklet.d1File,
      TestBooklet.d1Pages.sortBy(_._2).map(_._3), images = Set(2))
    write(Seq(in, paired), TestBooklet.d1KeyFile, Seq(TestBooklet.d1KeyText))
    write(Seq(in), TestBooklet.d2File,
      TestBooklet.d2Pages.sortBy(_._2).map(_._3))

    def runOnce(): Seq[String] = {
      val ckpt = Files.createTempDirectory("graft_pdfs_ck").toString
      val q = PdfIngest.start(spark, in, out, ckpt)
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(out).drop("batch").collect()
        .map(_.mkString("|")).toSeq.sorted
    }
    val got = runOnce()
    val (pv, keys) = PdfSource.bookletsAndKeys(PdfSource.pages(spark, paired))
    val expected = ExtractPipeline.extract(pv, keys,
        Pairing.pair(pv.select("file_name").union(keys.select("file_name"))))
      .collect().map(_.mkString("|")).toSeq.sorted
    assert(expected.nonEmpty)
    assert(got === expected)
    // a restart on a fresh checkpoint replays the batch: nothing twice
    assert(runOnce() === expected)
  }

  test("streaming PDF-folder ingest pairs a booklet with a key that lands " +
      "after the booklet's batch has run, and a replay of the key's batch " +
      "commits the booklet exactly once") {
    import graft.operators.{ExtractPipeline, Pairing}
    import graft.sources.PdfSource
    import org.apache.hadoop.fs.Path
    val in = Files.createTempDirectory("graft_pdfl_in").toString
    val paired = Files.createTempDirectory("graft_pdfl_paired").toString
    val out = Files.createTempDirectory("graft_pdfl_out").toString + "/q"
    val ckpt = Files.createTempDirectory("graft_pdfl_ck").toString
    def write(dirs: Seq[String], name: String, pages: Seq[String],
        images: Set[Int] = Set.empty): Unit = dirs.foreach { d =>
      Files.write(java.nio.file.Paths.get(d, name),
        PdfFixture.build(pages.map(_.split("\n").toSeq), images)); ()
    }
    def drain(): Unit = {
      val q = PdfIngest.start(spark, in, out, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    // batch 0: day 1's booklet alone
    write(Seq(in, paired), TestBooklet.d1File,
      TestBooklet.d1Pages.sortBy(_._2).map(_._3), images = Set(2))
    drain()
    // batch 1: its key, after batch 0 has run
    write(Seq(in, paired), TestBooklet.d1KeyFile, Seq(TestBooklet.d1KeyText))
    drain()
    // the crash: batch 1 logged its delivered files but neither its sink
    // commit nor its checkpoint commit landed, so the restart replays it
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(out, "batch=1"), true))
    Seq("commits/1", "commits/.1.crc").foreach(f =>
      fs.delete(new Path(ckpt, f), false))
    drain()
    // batch 2: day 2's booklet, whose key never arrives
    write(Seq(in), TestBooklet.d2File,
      TestBooklet.d2Pages.sortBy(_._2).map(_._3))
    drain()

    assert(fs.listStatus(new Path(out)).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).sorted.toSeq ===
      Seq("batch=0", "batch=1", "batch=2"))
    val got = spark.read.parquet(out).drop("batch").collect()
      .map(_.mkString("|")).toSeq.sorted
    val (pv, keys) = PdfSource.bookletsAndKeys(PdfSource.pages(spark, paired))
    val expected = ExtractPipeline.extract(pv, keys,
        Pairing.pair(pv.select("file_name").union(keys.select("file_name"))))
      .collect().map(_.mkString("|")).toSeq.sorted
    assert(expected.nonEmpty)
    assert(got === expected)
  }

  test("runningCounts, sessionize, scd2Stream and the drift monitor " +
      "commit each batch once: a restart on a fresh checkpoint over the " +
      "same input leaves their output unchanged") {
    import graft.operators.Drift
    import org.apache.spark.sql.streaming.StreamingQuery
    import spark.implicits._
    def tmp(prefix: String) = Files.createTempDirectory(prefix).toString
    // rows as sorted strings, so a duplicated row shows (a set would not)
    val changed = Seq.newBuilder[String]
    def replayUnchanged(name: String, in: String,
        start: (String, String) => StreamingQuery): Unit = {
      val out = tmp("graft_replay_out") + "/sink"
      def runOnce(): Seq[String] = {
        val q = start(out, tmp("graft_replay_ck"))
        try q.processAllAvailable() finally q.stop()
        spark.read.parquet(out).collect().map(_.mkString("|")).toSeq.sorted
      }
      val first = runOnce()
      assert(first.nonEmpty, s"$name emitted nothing")
      if (runOnce() != first) changed += name
    }

    val counts = tmp("graft_replay_rc")
    Seq("math", "math", "natu").toDF("subject").coalesce(1)
      .write.mode("append").parquet(counts)
    replayUnchanged("runningCounts", counts, (out, ck) =>
      DocIngest.runningCounts(spark, counts, "subject STRING", out, ck))

    // user 1's gap closes one session inside the single batch
    val events = tmp("graft_replay_sess")
    Seq((1L, 1000L, 1.0), (1L, 1600L, 2.0), (1L, 9000L, 3.0),
        (2L, 5000L, 5.0))
      .toDF("user_id", "ts", "value").coalesce(1).write.mode("append").parquet(events)
    replayUnchanged("sessionize", events, (out, ck) =>
      DocIngest.sessionize(spark, events,
        "user_id LONG, ts LONG, value DOUBLE", out, ck, gapSeconds = 1800L))

    // the B row closes version 1 (A)
    val attrs = tmp("graft_replay_scd")
    Seq((1L, new java.sql.Timestamp(100000L), "A"),
        (1L, new java.sql.Timestamp(300000L), "B"))
      .toDF("user_id", "ts", "event_type").coalesce(1).write.mode("append").parquet(attrs)
    replayUnchanged("scd2Stream", attrs, (out, ck) =>
      DocIngest.scd2Stream(spark, attrs,
        "user_id LONG, ts TIMESTAMP, event_type STRING", out, ck))

    val vecs = tmp("graft_replay_drift")
    val mk = (0 until 50).map(i => (i.toLong,
        Seq(i % 7 / 7.0, 1.0, -0.5, 0.25)))
      .toDF("vec_id", "embedding")
    mk.coalesce(1).write.mode("append").parquet(vecs)
    val refHist = Drift.projectionHistogram(mk, "embedding", 4,
        probe = 0, invWidth = 4)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    replayUnchanged("startDriftMonitored", vecs, (out, ck) =>
      DocIngest.startDriftMonitored(spark, vecs,
        "vec_id LONG, embedding ARRAY<DOUBLE>", out, ck, refHist,
        "embedding", 4))
    assert(changed.result() === Nil, "sinks whose output changed on replay")
  }

  test("QuotaGate, TimerSessionize, startWatermarkDedup and intervalJoin " +
      "commit each batch once: a restart on a fresh checkpoint over the " +
      "same input leaves their output unchanged") {
    import org.apache.spark.sql.streaming.StreamingQuery
    import spark.implicits._
    def tmp(prefix: String) = Files.createTempDirectory(prefix).toString
    def ts(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    // rows as sorted strings, so a duplicated row shows (a set would not)
    val changed = Seq.newBuilder[String]
    def replayUnchanged(name: String,
        start: (String, String) => StreamingQuery): Unit = {
      val out = tmp("graft_replay_out") + "/sink"
      def runOnce(): Seq[String] = {
        val q = start(out, tmp("graft_replay_ck"))
        try q.processAllAvailable() finally q.stop()
        spark.read.parquet(out).collect().map(_.mkString("|")).toSeq.sorted
      }
      val first = runOnce()
      assert(first.nonEmpty, s"$name emitted nothing")
      if (runOnce() != first) changed += name
    }

    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      // source a is over its quota of 2
      val docs = tmp("graft_replay_qg")
      Seq((2L, "a", "a2"), (0L, "a", "a0"), (1L, "a", "a1"), (10L, "b", "b0"))
        .toDF("doc_id", "source", "text").coalesce(1)
        .write.mode("append").parquet(docs)
      replayUnchanged("QuotaGate", (out, ck) =>
        graft.streaming.QuotaGate.start(spark, docs,
          "doc_id LONG, source STRING, text STRING", out, ck,
          maxPerSource = 2L))

      // user 3's far-future event moves the watermark past the close of
      // users 1 and 2, so their timers fire in the no-data batch
      val events = tmp("graft_replay_ts")
      Seq((1L, ts(0)), (1L, ts(10)), (2L, ts(5)), (3L, ts(500)))
        .toDF("user_id", "ts").coalesce(1).write.mode("append").parquet(events)
      replayUnchanged("TimerSessionize", (out, ck) =>
        graft.streaming.TimerSessionize.start(spark, events,
          "user_id LONG, ts TIMESTAMP", out, ck, gapSeconds = 30L))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }

    val redelivered = tmp("graft_replay_wmd")
    Seq((1L, ts(0), "first payload"), (1L, ts(1), "retry payload"),
        (2L, ts(2), "second doc"))
      .toDF("doc_id", "ts", "text").coalesce(1)
      .write.mode("append").parquet(redelivered)
    replayUnchanged("startWatermarkDedup", (out, ck) =>
      DocIngest.startWatermarkDedup(spark, redelivered,
        "doc_id LONG, ts TIMESTAMP, text STRING", out, ck))

    val (left, right) = (tmp("graft_replay_ijl"), tmp("graft_replay_ijr"))
    Seq((1L, ts(0)), (1L, ts(3000)), (2L, ts(0)))
      .toDF("user_id", "ts").coalesce(1).write.mode("append").parquet(left)
    Seq((1L, ts(1800)), (2L, ts(5400)))
      .toDF("user_id", "ts").coalesce(1).write.mode("append").parquet(right)
    replayUnchanged("intervalJoin", (out, ck) =>
      DocIngest.intervalJoin(spark, left, right, "user_id LONG, ts TIMESTAMP",
        "user_id", "ts", out, ck, intervalSeconds = 3600L))
    assert(changed.result() === Nil, "sinks whose output changed on replay")
  }

  test("sketch publication survives a crash between retiring CURRENT and " +
      "renaming its replacement: readers and the replayed batch resolve " +
      "the pending pointer, and no day is lost") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val in = Files.createTempDirectory("graft_hllcrash_in").toString
    val out = Files.createTempDirectory("graft_hllcrash_out").toString
    val ckpt = Files.createTempDirectory("graft_hllcrash_ck").toString
    val sch = "ts TIMESTAMP, user_id LONG"
    def day(d: Int, users: Range) = users.map(u =>
        (java.sql.Timestamp.valueOf(f"2024-01-$d%02d 10:00:00"), u.toLong))
      .toDF("ts", "user_id").coalesce(1)
    def days() = DocIngest.currentSketches(spark, out).collect()
      .map(_.getString(0)).toSet

    day(1, 0 until 100).write.mode("append").parquet(in)
    val q = DocIngest.startHllDaily(spark, in, sch, out, ckpt)
    try {
      q.processAllAvailable()
      day(2, 50 until 150).write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()
    assert(days() === Set("2024-01-01", "2024-01-02"))

    // the crash: batch 1 retired CURRENT but never renamed its pointer
    // into place, and never committed its checkpoint entry
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new Path(out, "CURRENT"), new Path(out, "CURRENT.tmp-1")))
    Seq("commits/1", "commits/.1.crc").foreach(f =>
      fs.delete(new Path(ckpt, f), false))
    assert(days() === Set("2024-01-01", "2024-01-02"),
      "a reader between the two calls lost the published table")

    val q2 = DocIngest.startHllDaily(spark, in, sch, out, ckpt)
    try {
      q2.processAllAvailable()
      assert(days() === Set("2024-01-01", "2024-01-02"),
        "the replayed batch published without the earlier days")
      day(3, 0 until 10).write.mode("append").parquet(in)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(days() === Set("2024-01-01", "2024-01-02", "2024-01-03"))
    assert(fs.exists(new Path(out, "CURRENT")))
    val day2 = DocIngest.currentSketches(spark, out)
      .filter(col("day") === "2024-01-02").first().getAs[Array[Byte]](1)
    val est2 = graft.operators.Hll.estimate(day2)
    assert(math.abs(est2 - 100) <= 100 * 0.05, s"day2 $est2")
  }
}
