package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pinned-prior contention canary (VERDICT r14 → r15 #1): a fixed,
  * purely JVM-local CPU+memory workload run between chunks — while the
  * bench's own Spark session is STOPPED — so its wall time reads the
  * HOST, not the suite: external co-tenants inflate it, the bench's own
  * code cannot. Three rounds (r12-r14) burned adjudication effort
  * proving shared-host bursts weren't regressions from per-query
  * ratios alone; with a per-chunk canary the driver's number is
  * self-labeling and a burst maps to the exact chunk it hit.
  *
  * Work = `threads` concurrent fixed loops of xorshift mixing plus
  * random reads over a private 4 MiB buffer — deliberately
  * cache/bandwidth-sensitive, because a pure-register spin canary
  * misses memory-bandwidth contention, the dominant shared-host tax on
  * a 32-core box whose co-tenants also run data suites. The workload
  * is SF-independent (synthetic), so ONE quiet-window prior covers
  * every bench invocation; buffers are built once outside the timed
  * window and reused, so no allocation or GC rides the reading. */
private[graft] object BenchCanary {
  /** The moderate-contention ratio: TWO OR MORE chunk canaries above
    * this × prior mark the run contended. Even min-of-2 samples carry
    * residual self-noise tails inside the bench JVM (a load-0.0 quiet
    * full run read one boundary at 1.38× among 26 at 1.0-1.3× —
    * concurrent-GC/JIT drain right after a session teardown), so a
    * SINGLE moderate sample is ambiguous; genuine co-tenancy persists
    * across the ~15 s between boundaries and trips several. */
  val ContendedRatio = 1.4
  /** The unambiguous-burst ratio: ONE sample above this × prior marks
    * the run on its own — no self-noise reading has come within 25% of
    * it (validated 16-thread co-tenant: 1.6-2.1× on every sample). */
  val BurstRatio = 1.75
  /** Pre-existing machine load above this at bench start marks the run
    * contended — but ONLY when no canary readings exist
    * (SPARK_GRAFT_NO_CANARY): load1m is a decaying average polluted by
    * whatever just ENDED (the driver always runs its verify pass
    * minutes before the bench, so its bench start-load is structurally
    * elevated — a validation run read load 2+ with canaries at ratio
    * 1.0 right after an unrelated gate run). Live canary readings
    * measure contention DURING the run and supersede the prior. The
    * r12 start-load signature still holds for canary-less runs. */
  val LoadStartThreshold = 2.0
  /** Quiet-window prior, pinned from a solo run on the round host.
    * r16 re-pin: the round-16 host reads 0.24-0.39 (median ~0.33)
    * across a full quiet-window suite run, vs the r15 box's
    * 0.242-0.262 — but it also has SHADED windows reading a steady
    * 0.39-0.57 (an 82-reading monitor caught one) and degraded windows
    * at 0.5-0.9 in which Spark stages inflate far beyond the canary
    * ratio. 0.33 labels both shaded modes contended (bar 0.46) while
    * the old 0.25 prior mislabeled even the quiet floor. Re-pin via
    * SPARK_GRAFT_CANARY_PRIOR_SEC after the next host change. */
  val PinnedPriorSec = 0.33

  def priorSec: Double =
    sys.env.get("SPARK_GRAFT_CANARY_PRIOR_SEC")
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
      .filter(p => p.isFinite && p > 0)
      .getOrElse(PinnedPriorSec)

  private val BufWords = 1 << 19 // 4 MiB of longs per thread
  private val ItersPerThread = 40000000
  private val buffers =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  // the summed reads must stay observable or the JIT deletes the loop
  private val sink = new java.util.concurrent.atomic.AtomicLong

  private def bufFor(i: Int): Array[Long] =
    buffers.computeIfAbsent(i, _ => {
      val a = new Array[Long](BufWords)
      var x = 0x9E3779B97F4A7C15L + i
      var j = 0
      while (j < BufWords) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        a(j) = x; j += 1
      }
      a
    })

  // the first execution of the loop pays JIT compilation (measured ~7×
  // the steady-state wall) — without a discarded warm pass the run's
  // FIRST chunk would always read as false contention
  @volatile private var warmed = false

  /** One canary reading: wall seconds for `threads` concurrent fixed
    * work units (buffers resolved BEFORE the clock starts; first call
    * runs a discarded warm pass so JIT cost never rides a reading). */
  def once(threads: Int): Double = {
    // two passes: tiered compilation reaches C2 only on the second
    // (one warm pass still read ~1.6× steady — past ContendedRatio)
    if (!warmed) { warmed = true; once(threads); once(threads) }
    val mask = BufWords - 1
    val ts = (0 until threads).map { i =>
      val buf = bufFor(i)
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L ^ i.toLong
        var s = 0L
        var k = 0
        while (k < ItersPerThread) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          s += buf((x & 0x7FFFFFFFL).toInt & mask)
          k += 1
        }
        sink.addAndGet(s)
        ()
      })
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** One chunk-boundary sample: the MIN of two back-to-back readings.
    * A transient self-noise burst (the previous chunk's concurrent GC
    * draining, a JIT background compile) rarely spans both readings,
    * while genuine co-tenancy inflates both — so min-of-2 keeps the
    * external signal and sheds the internal one. */
  def reading(threads: Int): Double =
    math.min(once(threads), once(threads))

  /** The self-labeling verdict: with canary readings, contended iff one
    * sample reads an unambiguous burst (> [[BurstRatio]]) OR two or
    * more read moderate contention (> [[ContendedRatio]] — sustained
    * across boundaries, which self-noise is not); in-run measurement
    * beats the start-load prior (see [[LoadStartThreshold]]). Without
    * readings, fall back to the start-load signature. Pure — spec'd
    * directly. */
  def contended(loadStart: Double, canarySecs: Seq[Double],
      prior: Double): Boolean =
    if (canarySecs.nonEmpty)
      canarySecs.exists(_ > BurstRatio * prior) ||
        canarySecs.count(_ > ContendedRatio * prior) >= 2
    else loadStart > LoadStartThreshold
}

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Results are materialized through the `noop` sink — unlike `count()`,
  * which lets Catalyst prune projections/orderings out of the plan, noop
  * executes the full query including expression evaluation on every row,
  * so per-query seconds reflect real operator cost. */
object Bench {
  /** Fresh session + uncounted warmup (JIT/codegen compile, parquet
    * footer+filesystem caches, shuffle machinery) — otherwise the first
    * query of each chunk absorbs the one-time session cost. */
  private def newSession(sfDir: String): SparkSession = {
    val spark = LocalSession.create()
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count()
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    spark
  }

  /** Measured cost priors (VERDICT r10 #4): `bench_priors.json` is a flat
    * {"query":seconds,...} snapshot of a CLEAN sf0.1 solo run, committed
    * deliberately (bench_detail_local.json itself is NOT the source — it
    * is overwritten by every run including sf0.001 smokes, whose relative
    * costs would mispack an sf0.1 suite). Parse failures or a missing
    * file fall back to the hardcoded map — wrong priors degrade balance,
    * never correctness. */
  private lazy val MeasuredPriors: Map[String, Double] =
    try {
      val p = java.nio.file.Paths.get("bench_priors.json")
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val m = parsePriors(txt)
        if (m.isEmpty)
          System.err.println(
            "[bench] bench_priors.json present but yielded no priors; " +
              "falling back to hardcoded cost map")
        m
      }
    } catch { case _: Throwable => Map.empty }

  /** Parse a flat {"query":seconds,...} priors snapshot. Per-pair Try
    * (ADVICE r11): one malformed numeric token (e.g. "1.2.3", a lone
    * "-") keeps its OWN pair out but must not discard every other
    * measured prior with it. Package-private for the spec. */
  private[graft] def parsePriors(txt: String): Map[String, Double] = {
    val pair = """"([^"]+)"\s*:\s*(-?[0-9.][0-9.eE+-]*)""".r
    pair.findAllMatchIn(txt).flatMap(m =>
      scala.util.Try(m.group(1) -> m.group(2).toDouble).toOption
        .filter(_._2.isFinite))
      .toMap
  }

  private def prior(name: String): Double =
    MeasuredPriors.getOrElse(name, CostPriors.getOrElse(name, 1.0))

  /** Fallback cost priors (seconds) for chunk PACKING only — relative
    * weight is all that matters. Known-isolated readings (r8/r9
    * adjudications + clean-solo regressions) for the suite's expensive
    * entries; every unlisted query defaults to 1.0. Superseded per-query
    * by [[MeasuredPriors]] when bench_priors.json is present. */
  private val CostPriors: Map[String, Double] = Map(
    "dedup_clusters" -> 10.6, "dedup_apply_best" -> 12.2,
    "dedup_apply" -> 7.7, "dedup_apply_lsh" -> 7.0,
    "dedup_prefix_jaccard" -> 6.3, "j_fuzzy_dl" -> 10.6,
    "j_fuzzy_jw" -> 6.0, "docs_bigram_nll" -> 7.0,
    "docs_gopher_repetition" -> 9.2, "graph_beam_recall" -> 7.8,
    "graph_triangles" -> 4.1, "graph_pagerank" -> 4.0,
    "dedup_winnow_pairs" -> 4.1, "dedup_winnow_skew" -> 4.5,
    "dedup_containment" -> 2.9, "docs_c4_clean" -> 1.5,
    "dedup_apply_semantic" -> 5.0, "dedup_overlap_audit" -> 5.0,
    "dedup_minhash_lsh" -> 5.0, "dedup_incremental" -> 4.5,
    "dedup_simhash_recall" -> 2.8, "dedup_substring" -> 4.2,
    "vocab_bpe_roundtrip" -> 4.6, "vocab_wordpiece_roundtrip" -> 4.5,
    "emb_bitext_cells_audit" -> 6.0, "emb_bitext_margin" -> 5.2,
    "emb_bitext_mutual" -> 5.1, "emb_bitext_cells" -> 4.0,
    "emb_semantic_precision" -> 4.9, "classifier_train_audit" -> 5.4,
    "multimodal_phash_apply" -> 5.0, "ann_pqindex_topk" -> 4.5,
    "docs_lexical_diversity" -> 4.3, "a_percentiles" -> 4.0,
    "w2_offset_ids" -> 4.5, "j2_lookup_default" -> 4.0,
    // r10 fourth-session clean-solo readings (477.6 s / 304 run)
    "graph_kcore" -> 11.5, "graph_kcore_audit" -> 4.3,
    "emb_bitext_bleu" -> 6.4,
    "docs_ccnet_buckets" -> 4.7, "vocab_unigram_roundtrip" -> 4.5,
    "pipeline_tokenize_pack" -> 4.4, "ann_ivfpq_dominance" -> 4.1,
    "dedup_substring_spans" -> 4.0, "docs_rolling_audit" -> 3.8,
    "eval_rbo_matryoshka" -> 2.5,
    // r11 introductions (isolated at sf0.1, -Xmx12g, 1g code cache)
    "web_frontier" -> 7.9, "docs_warc_wet" -> 4.8,
    // r13 introductions (isolated at sf0.1 on a ~1.7-loaded window;
    // relative weight is what packing needs)
    "pipeline_crawl_audit" -> 9.1, "pdf_pages_scan" -> 3.0)

  /** Pack queries into session-sized chunks, balancing PRIOR COST, not
    * alphabet (r9 adjudication: alphabetical chunks put the whole dedup
    * family — every localCheckpoint-heavy kernel — into one session,
    * whose accumulated JVM/block state inflated those readings ~13× over
    * isolated runs while other chunks idled). Greedy LPT: sort queries
    * by prior cost descending, always assign to the cheapest bin with
    * room. Heavy queries land FIRST in their bins — on the freshest
    * session state — and no bin holds more than one or two of them. */
  private def pack[Fn](names: Seq[(String, Fn)], chunkSize: Int)
      : Seq[Seq[(String, Fn)]] = {
    val nBins = math.max(1, math.ceil(names.size.toDouble / chunkSize).toInt)
    val bins = Array.fill(nBins)(
      (scala.collection.mutable.ArrayBuffer.empty[(String, Fn)], Array(0.0)))
    names.sortBy { case (n, _) => (-prior(n), n) }.foreach { q =>
      val (b, c) = bins.filter(_._1.size < chunkSize).minBy(_._2(0))
      b += q; c(0) += prior(q._1)
    }
    bins.toList.map(_._1.toSeq).filter(_.nonEmpty)
  }

  /** The suite compiles thousands of distinct whole-stage-codegen
    * classes; once the JIT's reserved code cache (default 240 MB) fills,
    * compilation stops and later queries run INTERPRETED — measured this
    * round as 676.7 s vs 441.2 s for the identical suite, with 5×
    * phantom hotspots (and the r6-r9 in-suite inflation adjudications
    * match the same signature). The launcher's flags are outside this
    * repo's control, so the bench defends itself: if the cache is under
    * 512 MB, re-exec the SAME main in a child JVM with
    * -XX:ReservedCodeCacheSize=1g appended (current JVM args + classpath
    * carried over), stream its stdout/stderr through, and exit with its
    * code. SPARK_GRAFT_NO_REEXEC breaks recursion (child) and is the
    * escape hatch for measuring the degraded mode on purpose. */
  private def reservedCodeCacheBytes: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") ||
        p.getName == "Code Cache")
      .flatMap(p => Option(p.getUsage).map(_.getMax))
      .filter(_ > 0).sum
  }

  /** Heap ceiling above which the measuring JVM re-execs itself with a
    * clamped -Xmx (VERDICT r10 #2). G1 at local[32] regresses badly in
    * oversized heaps — the judge's A/B read 52.15 s at -Xmx12g vs
    * 504.37 s at -Xmx100g for the SAME 12 queries — and the driver's
    * launcher flags (`-Xmx${SPARK_DRIVER_MEM:-8g}` in build.sbt, or no
    * -Xmx at all → MaxRAMFraction ≈ 32 GiB on a 128 GiB box) are outside
    * this repo's control, so the bench defends itself exactly like the
    * code-cache clamp below. */
  private val HeapCeilingBytes = 24L * 1024 * 1024 * 1024
  private val HeapClamp = "-Xmx12g"

  private def heapFlag(a: String): Boolean =
    a.startsWith("-Xmx") || a.startsWith("-Xms") ||
      a.startsWith("-XX:MaxRAMPercentage") ||
      a.startsWith("-XX:InitialRAMPercentage") ||
      a.startsWith("-XX:MaxRAMFraction")

  private def reexecWithCodeCache(args: Array[String]): Option[Int] = {
    if (sys.env.contains("SPARK_GRAFT_NO_REEXEC")) return None
    // plan-print mode runs no queries (nothing to protect) and emits no
    // metric line — re-execing it would make the parent "fall back" and
    // print the plan twice
    if (sys.env.contains("SPARK_GRAFT_BENCH_PLAN")) return None
    val needCache = reservedCodeCacheBytes < 512L * 1024 * 1024
    val needHeap = Runtime.getRuntime.maxMemory > HeapCeilingBytes
    if (!needCache && !needHeap) return None
    try {
      import scala.jdk.CollectionConverters._
      val javaBin = java.nio.file.Paths
        .get(System.getProperty("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala
        .filterNot(_.startsWith("-XX:ReservedCodeCacheSize"))
        .filterNot(a => needHeap && heapFlag(a))
      val cmd = (Seq(javaBin) ++ jvmArgs ++
        Seq("-XX:ReservedCodeCacheSize=1g") ++
        (if (needHeap) Seq(HeapClamp) else Seq.empty) ++
        Seq("-cp", System.getProperty("java.class.path"),
          "graft.Bench") ++ args.toSeq).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_NO_REEXEC", "1")
      pb.environment().put("SPARK_GRAFT_REEXECED", "1")
      // stdout is PIPED, not inherited: a launcher whose classes don't
      // come from java.class.path (spark-submit's app classloader,
      // java -jar manifest classpaths) spawns a child that dies on
      // ClassNotFoundException — the parent must detect "no JSON line"
      // and fall back to the in-process run rather than exiting with a
      // bench-less failure.
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val why = Seq(
        if (needCache) Some("code cache < 512m → ReservedCodeCacheSize=1g")
        else None,
        if (needHeap)
          Some(f"heap ${Runtime.getRuntime.maxMemory / (1L << 30)}%d GiB " +
            s"> 24 GiB → $HeapClamp")
        else None).flatten.mkString("; ")
      System.err.println(s"[bench] re-exec: $why " +
        "(SPARK_GRAFT_NO_REEXEC=1 to skip)")
      val proc = pb.start()
      var sawMetric = false
      val rdr = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream, "UTF-8"))
      try {
        var line = rdr.readLine()
        while (line != null) {
          if (line.startsWith("{\"metric\"")) sawMetric = true
          println(line)
          line = rdr.readLine()
        }
      } finally rdr.close()
      val code = proc.waitFor()
      if (code == 0 && sawMetric) Some(0)
      else {
        System.err.println(s"[bench] re-exec child unusable (exit=$code, " +
          s"metricLine=$sawMetric) — falling back to the in-process run; " +
          "readings may carry JIT-cache inflation")
        None
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] re-exec failed (${e.getMessage}) — " +
        "continuing in-process; readings may carry JIT-cache inflation")
      None
    }
  }

  /** The timed suite: exactly the gate catalog (`SparkEntry.queries`,
    * the forms the DuckDB oracle checks), by name, optionally narrowed
    * to the `SPARK_GRAFT_ONLY` subset. */
  private[graft] def suite(only: Option[Set[String]])
      : Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }

  def main(args: Array[String]): Unit = {
    // NOT `foreach(sys.exit)`: the zero-arg `sys.exit()` overload types
    // as Nothing (conforming to Int => Unit), so that spelling EVALUATES
    // the exit as the argument expression and kills the JVM with code 0
    // unconditionally — the explicit lambda forces the Int overload
    reexecWithCodeCache(args).foreach(code => sys.exit(code))
    // ambient load BEFORE any work starts (r12): the end-of-run load1m
    // mostly reflects the bench's own tail activity; a high START value
    // is the read-only signature of a contended window (the r12 noisy
    // day read 1.19-1.27× uniform on identical code)
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // Whole-run /proc/stat delta (r16): the round-16 host shows
    // minutes-long DEGRADED windows in which Spark stages inflate far
    // beyond the CPU canary's ratio (suspected hypervisor/memory-side
    // interference). iowait/steal percentages over the run are the
    // kernel's own account of involuntary waiting — one more
    // self-labeling channel beside the canary, costing two file reads.
    // Silently absent off Linux.
    def procStat(): Option[Array[Long]] =
      try {
        val l = scala.io.Source.fromFile("/proc/stat").getLines()
          .next().split("\\s+")
        Some(l.slice(1, 9).map(_.toLong))
      } catch { case _: Throwable => None }
    val procStart = procStat()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.cpus
    // Local-iteration escape hatch: SPARK_GRAFT_ONLY=q1,q2 times a subset
    // (unset in driver runs — full suite).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = suite(only)
    // Suite partitioning (r6-r9 adjudications): one long-lived session
    // accumulated JVM state (generated-class/JIT CodeHeap residue +
    // localCheckpoint block pressure) until mid-suite readings inflated
    // 2-13× over isolated runs of the SAME code. Structural fix: many
    // small FRESH sessions (default 12 queries — r9's 50-query chunks
    // still rotted internally), packed by cost so the heavy kernels
    // never share one session; between chunks stop the session, flush
    // the static codegen cache, and GC so dead generated classes unload.
    val chunkSize = sys.env.getOrElse("SPARK_GRAFT_BENCH_CHUNK", "12").toInt
    // debug: print the chunk plan (bin → query list) and exit
    if (sys.env.contains("SPARK_GRAFT_BENCH_PLAN")) {
      val binz = pack(names, chunkSize)
      val sums = binz.map(_.map { case (n, _) => prior(n) }.sum)
      binz.zip(sums).zipWithIndex.foreach { case ((chunk, s), i) =>
        println(f"bin $i%d (prior ${s}%.1f s): ${chunk.map(_._1).mkString(",")}")
      }
      val mean = sums.sum / sums.size
      println(f"bins=${binz.size}%d mean=${mean}%.1f max=${sums.max}%.1f " +
        f"max/mean=${sums.max / mean}%.2f " +
        s"priors=${if (MeasuredPriors.nonEmpty) "measured" else "fallback"}")
      return
    }
    // environment telemetry (VERDICT r10 #3): collected per chunk so the
    // one JSON line carries enough to adjudicate inflation without a
    // forensic round — GC wall-ms deltas per chunk, heap/code-cache
    // maxima, whether the self-defense re-exec fired, and machine load.
    def gcMsNow: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    val chunkGcMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    // wall-ms per chunk (VERDICT r11 #4): paired with gc_ms_per_chunk,
    // and with the bin list plan-print mode emits (same pack() + priors
    // → same bins), a GC or wall spike maps to the exact query set that
    // produced it without a forensic round. Includes session create/
    // stop + purge overhead — the part per-query seconds can't see.
    val chunkWallMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    // contention self-labeling (VERDICT r15 #1): one load1m reading and
    // one pinned-prior canary before EVERY chunk (the session is down at
    // that moment — the canary reads the host, not the suite) plus one
    // of each after the last chunk, so "before AND after each chunk" is
    // the same n+1-length array. Each sample is min-of-2 readings
    // (~0.55 s/chunk quiet ≈ 3% of a full run — the price of not
    // adjudicating shared-host contention by hand every round).
    val noCanary = sys.env.contains("SPARK_GRAFT_NO_CANARY")
    val canarySecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val loadPerChunk = scala.collection.mutable.ArrayBuffer.empty[Double]
    def loadNow: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    def contentionSample(): Unit = {
      loadPerChunk += loadNow
      if (!noCanary) canarySecs += BenchCanary.reading(cpus)
    }
    var first = true
    // JVM warmup OUTSIDE every timed window (VERDICT r15 #2): chunk 0
    // historically read ~2× the chunk median (r15 driver: 30.9 s vs a
    // 14-18 s steady state) — pure one-time JVM cost (Spark class
    // loading, Janino codegen pipeline, parquet reader init, shuffle
    // machinery JIT) that inflated every driver reading ~4% and widened
    // driver/quiet to 1.18. One throwaway session runs a representative
    // op mix (scan+agg, shuffle join, window, sort, typed mapPartitions
    // kernel) and tears down exactly like a chunk boundary, so chunk 0
    // starts from the same JVM state every later chunk does. The
    // schema-drift gate also moves here (it was inside chunk 0's timer).
    if (!sys.env.contains("SPARK_GRAFT_NO_WARMUP")) {
      val spark = newSession(sfDir)
      try {
        graft.queries.SchemaContract.enforce(spark, sfDir)
        first = false
        import org.apache.spark.sql.functions._
        // touch EVERY table once (parquet footers, fs metadata, column
        // readers): chunk 0's queries otherwise pay the first-read cost
        // of whichever tables the warmup skipped
        Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings").foreach { t =>
          try spark.read.parquet(s"$sfDir/$t.parquet")
            .write.format("noop").mode("overwrite").save()
          catch { case _: Throwable => () }
        }
        val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        val ord = spark.read.parquet(s"$sfDir/orders.parquet")
        // shuffle join + hash agg + sort
        li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .groupBy("o_orderpriority").agg(sum("l_quantity").as("q"))
          .orderBy("q")
          .write.format("noop").mode("overwrite").save()
        // window function path
        ord.select(col("o_custkey"), row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("o_custkey").orderBy("o_orderkey")).as("rn"))
          .write.format("noop").mode("overwrite").save()
        // typed-kernel path (encoders + mapPartitions + Row serializer)
        graft.operators.TextAnalysis.qualityFrame(
            spark.read.parquet(s"$sfDir/documents.parquet"),
            "doc_id", "text")
          .write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] warmup pass failed (${e.getMessage})" +
          " — continuing; chunk 0 may carry JIT warmup cost")
      }
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      JvmHygiene.purgeCodegenCache()
      System.gc()
      // discard one full canary reading before sample 0: the FIRST-ever
      // session teardown's concurrent-GC/JIT drain outlasts the canary's
      // min-of-2 (measured: sample 0 read 1.87× prior at host load 0.0,
      // every later sample 1.0-1.2× — a false contended verdict the
      // warmup itself introduced). Running the canary workload once,
      // unrecorded, absorbs the drain window; later chunk teardowns are
      // lighter and their samples read clean without this.
      if (!noCanary) BenchCanary.reading(cpus)
    }
    val chunks = pack(names, chunkSize)
    // chunk membership of every query, captured from the ACTUAL run plan
    // (not re-derived) — see the bins emit below
    val binOf: Map[String, Int] = chunks.zipWithIndex.flatMap {
      case (chunk, i) => chunk.map { case (n, _) => n -> i }
    }.toMap
    val results = chunks.flatMap { chunk =>
      contentionSample()
      val wall0 = System.nanoTime()
      val gc0 = gcMsNow
      val spark = newSession(sfDir)
      if (first) {
        // Fail fast with ONE named error if the testdata's engine-visible
        // schema drifted (driver regeneration) — otherwise every query
        // fails with its own analysis error and the round's bench is
        // garbage.
        graft.queries.SchemaContract.enforce(spark, sfDir)
        first = false
      }
      var sinceGc = 0
      val rs = chunk.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // generated-class hygiene — see JvmHygiene (adaptive: every 8
        // queries, or immediately under CodeHeap pressure). Blocking, so
        // removal cost stays outside the next query's timed window.
        JvmHygiene.purgeBlocks(spark)
        sinceGc = JvmHygiene.maybeGc(sinceGc)
        (name, dt, ok)
      }
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      JvmHygiene.purgeCodegenCache()
      System.gc()
      chunkGcMs += gcMsNow - gc0
      chunkWallMs += (System.nanoTime() - wall0) / 1000000L
      rs
    }
    contentionSample() // the "after the last chunk" reading
    // The driver keeps only the TAIL (~2 kB) of the run's output
    // (BENCH_r05 was front-truncated → parsed:null), so the one line must
    // fit entirely: per-query detail is capped to the 30 most expensive
    // entries (cost-descending — truncation would lose the cheap tail,
    // not the head) with the remainder folded into rest_sum/rest_n; the
    // full per-query map goes to bench_detail_local.json for offline
    // regression triage.
    val byCost = results.sortBy(-_._2)
    val top = byCost.take(30)
    val rest = byCost.drop(30)
    val qs = top.map { case (k, v, _) => "\"" + k + f"\":$v%.2f" }
      .mkString("{", ",", "}")
    // a throwing query must stay distinguishable from a fast success in the
    // one JSON line the driver keeps (stderr is not retained).
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val restSum = rest.map(_._2).sum
    try {
      val full = results.sortBy(_._1)
        .map { case (k, v, _) => "\"" + k + f"\":$v%.3f" }
        .mkString("{", ",", "}")
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_detail_local.json"),
        full.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    // one serialization for both consumers below (sidecar + env block)
    val gcs = chunkGcMs.map(_.toString).mkString("[", ",", "]")
    val walls = chunkWallMs.map(_.toString).mkString("[", ",", "]")
    // Full chunk forensics (VERDICT r12 #1): every chunk's QUERY SET as
    // run, beside its wall/GC reading — the artifact that maps a chunk
    // spike to the exact queries that produced it. This CANNOT ride the
    // metric line: the driver keeps only the last 2000 chars of output
    // (measured across BENCH_r05-r12; r05's line was front-truncated to
    // parsed:null), and 309 query names are ~6.5 kB. So the names go to
    // this committed sidecar (the bench_detail_local.json channel, which
    // the r12 judge read), and the metric line carries the compact
    // `bin_idx` array below. The committed name is reserved for full
    // sf0.1 runs (the driver's SF): a local sf0.001 smoke or a
    // SPARK_GRAFT_ONLY subset run must not clobber the adjudication
    // artifact with wrong-SF or partial bins — those land in a
    // gitignored per-SF file instead.
    val binsFile =
      if (only.isEmpty && new java.io.File(sfDir).getName == "sf0.1")
        "bench_bins_local.json"
      else s"bench_bins_${new java.io.File(sfDir).getName}_partial.json"
    // contention telemetry, serialized once for sidecar + metric line:
    // canary/load arrays are n_chunks+1 long (before each chunk + after
    // the last), ratios are against the pinned quiet prior
    val canaryArr = canarySecs.map(s => f"$s%.2f").mkString("[", ",", "]")
    val loadArr = loadPerChunk.map(l => f"$l%.1f").mkString("[", ",", "]")
    val canaryPrior = BenchCanary.priorSec
    val canaryMaxRatio =
      if (canarySecs.isEmpty) 0.0 else canarySecs.max / canaryPrior
    val isContended =
      BenchCanary.contended(loadStart, canarySecs.toSeq, canaryPrior)
    try {
      val binsJson = chunks.map(_.map { case (n, _) => "\"" + n + "\"" }
        .mkString("[", ",", "]")).mkString("[", ",", "]")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(binsFile),
        (s"""{"sf":"$sfDir","bins":$binsJson,""" +
          s""""wall_ms_per_chunk":$walls,"gc_ms_per_chunk":$gcs,""" +
          f""""canary_prior_sec":$canaryPrior%.2f,""" +
          s""""canary_sec_per_chunk":$canaryArr,""" +
          s""""load_per_chunk":$loadArr,"contended":$isContended}""")
          .getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    // iowait/steal as % of total ticks over the whole run (see procStat
    // above); -1.0 = /proc/stat unavailable
    val (iowaitPct, stealPct) = (procStart, procStat()) match {
      case (Some(a), Some(b)) =>
        val d = b.zip(a).map { case (x, y) => math.max(0L, x - y) }
        val tot = math.max(1L, d.sum)
        (100.0 * d(4) / tot, 100.0 * d(7) / tot)
      case _ => (-1.0, -1.0)
    }
    def env(withArrays: Boolean) = {
      val heapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
      val ccMb = reservedCodeCacheBytes / (1024 * 1024)
      val reexec = sys.env.contains("SPARK_GRAFT_REEXECED")
      val load = loadNow
      // chunk index of each top-30 entry, POSITIONALLY aligned with the
      // "queries" map's cost-descending order (~4 bytes/entry): with the
      // wall/GC arrays this adjudicates every expensive query's reading
      // against its chunk's contention — inside the driver's one
      // retained line. Full name-level bins: bench_bins_local.json.
      val binIdx = top.map { case (k, _, _) => binOf.getOrElse(k, -1) }
        .mkString("[", ",", "]")
      // per-chunk contention samples ride the line when they fit (the
      // driver keeps only the output TAIL; overflow would lose the
      // whole line) — the sidecar always has them
      val arrays =
        if (withArrays)
          s""""canary_sec_per_chunk":$canaryArr,"load_per_chunk":$loadArr,"""
        else ""
      f""""env":{"heap_max_mb":$heapMb,"code_cache_mb":$ccMb,"reexec":$reexec,"load_start":$loadStart%.1f,"load1m":$load%.1f,"cpus":$cpus,"contended":$isContended,"canary_prior_sec":$canaryPrior%.2f,"canary_max_ratio":$canaryMaxRatio%.2f,"iowait_pct":$iowaitPct%.1f,"steal_pct":$stealPct%.1f,$arrays"gc_ms_per_chunk":$gcs,"wall_ms_per_chunk":$walls,"bin_idx":$binIdx,"bins_file":"$binsFile"}"""
    }
    def line(withArrays: Boolean) =
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","sf":"$sfDir","n":${results.size},"failed":$failed,"rest_sum":$restSum%.2f,"rest_n":${rest.size},${env(withArrays)},"queries":$qs}"""
    val fullLine = line(withArrays = true)
    // the driver retains only the last ~2000 output chars — a line past
    // that loses EVERYTHING (BENCH_r05 parsed:null), so degrade to the
    // compact form (flag + scalars; arrays stay in the sidecar)
    println(if (fullLine.length <= 1900) fullLine
      else line(withArrays = false))
  }
}
