package pathbench

import graft.etl.Pipeline
import graft.etl.Pipeline.LoadReport
import graft.functions.{Fingerprints, Hashing, TextFunctions => TF}
import graft.operators.{ExtractPipeline, Pairing}
import graft.sources.{PdfSource, VectorCollection}
import graft.stats.LoadStats
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** The paper-path benchmark: PDF folder → pages → questions → vectors →
  * collection → top-k search, driven through the program's public calls
  * (`Pipeline.processPdfFolder`, `VectorCollection.search`).
  *
  * Usage: `Main --workload <ingest_incremental|search_hot>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>`.
  * Writes raw samples, per-layer figures and check results to `--out`;
  * `run.py` turns them into the reported metrics. */
object Main {
  val Dim = 1536
  val K = 10
  val SetupRounds = 3
  /** Years of the search_hot archive (both days, four colours each). */
  val ArchiveYears = 2018 to 2023
  /** Searches after each incremental batch. */
  val SearchesPerLoad = 8
  /** search_hot searches run after set-up, before the window: without
    * them the window's latencies still fall as the JIT settles. */
  val PrimeSearches = 16

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, out: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", Paths.get(get("--work")), Paths.get(get("--out")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(Set("ingest_incremental", "search_hot")(args.workload),
      s"unknown workload ${args.workload}")
    val json = new Bench(args).run()
    Files.write(args.out, json.getBytes("UTF-8"))
  }
}

/** One search as issued, with what it returned. `visible` is the number
  * of points the collection held when it ran. */
final case class SearchRec(coll: String, visible: Long, statement: String,
    exact: Boolean, query: Array[Double], results: Seq[(Long, Double, String)])

final class Bench(args: Main.Args) {
  import Main._

  private val corpus = new Corpus(args.seed)
  private val work = args.work
  private val root = work.resolve("collections").toString
  private val cores = Runtime.getRuntime.availableProcessors()

  private val errors = mutable.ArrayBuffer[String]()
  private val findings = mutable.ArrayBuffer[String]()
  private var attempted = 0L
  private var failed = 0L
  private val rates = mutable.ArrayBuffer[Double]()
  private val appendS = mutable.ArrayBuffer[Double]()
  private val searchMs = mutable.ArrayBuffer[Double]()
  private val searches = mutable.ArrayBuffer[SearchRec]()

  private var spark: SparkSession = _
  private var inWindow = false
  private var tracer: Option[Tracer] = None

  private def now(): Double = System.nanoTime() / 1e9
  private def fail(msg: String): Unit = if (errors.size < 50) errors += msg

  /** Counts one operation; a throw is a failed operation. */
  private def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        fail(s"$what failed: $e")
        None
    }
  }

  // ── program calls ──────────────────────────────────────────────────────

  private def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** One ingest call; returns its report and wall seconds. The stats CSV
    * the call merges into is `stats`; it writes `stats.out`. */
  private def ingest(pdfDir: Path, coll: String, stats: String,
      traced: Boolean): Option[(LoadReport, Double)] = op(s"ingest $coll") {
    val t0 = now()
    val r =
      if (traced) tracedIngest(pdfDir, coll, stats)
      else Pipeline.processPdfFolder(spark, pdfDir.toString, root, coll,
        dim = Dim, statsCsv = Some(stats))
    (r, now() - t0)
  }

  /** Records an ingest call's samples. */
  private def sample(r: (LoadReport, Double)): Unit = {
    appendS += r._2
    rates += r._1.added / r._2
    if (inWindow) windowUntraced += r._2
  }
  private val windowUntraced = mutable.ArrayBuffer[Double]()

  private def search(coll: String, visible: Long, statement: String,
      exact: Boolean, text: String): Unit = {
    val traced = tracer.isDefined
    op(s"search $coll") {
      val t0 = now()
      def embed() = Hashing.hashEmbedVec(text, Dim)
      def run(q: Array[Double]) =
        VectorCollection.search(spark, root, coll, q.toSeq, k = K).collect()
      val (q, rows) = tracer match {
        case Some(t) => t.span("search") {
          val q = t.span("search_embed")(embed())
          (q, run(q))
        }
        case None => val q = embed(); (q, run(q))
      }
      if (inWindow) searchMs += (now() - t0) * 1000
      if (traced) {
        layerCounts("search.files") += partFiles(coll)
        layerCounts("search.bytes") += partBytes(coll)
        layerCounts("search.results") += rows.length
      }
      searches += SearchRec(coll, visible, statement, exact, q,
        rows.toSeq.map(r => (r.getAs[Long]("id"), r.getAs[Double]("score"),
          r.getAs[String]("page_content"))))
    }
  }

  /** Issues exact and perturbed searches for `qs` in turn. */
  private def searchFor(coll: String, visible: Long, qs: Seq[GenQuestion],
      from: Int): Unit =
    qs.zipWithIndex.foreach { case (q, i) =>
      val exact = (from + i) % 2 == 0
      search(coll, visible, q.statementText, exact,
        if (exact) q.statementText else corpus.perturb(q.statementText))
    }

  private def parts(coll: String): Seq[java.io.File] =
    Option(Paths.get(root, coll).toFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("part-"))
  private def partFiles(coll: String): Long = parts(coll).size.toLong
  private def partBytes(coll: String): Long = parts(coll).map(_.length).sum

  // ── traced ingest: the calls processPdfFolder makes, one span each ────

  private val layerCounts = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var slicesPending = 0L

  private def tracedIngest(pdfDir: Path, coll: String, stats: String): LoadReport = {
    val t = tracer.get
    val mem = StorageLevel.MEMORY_AND_DISK
    def add(k: String, v: Double): Unit = layerCounts(k) += v
    t.span("pipeline") {
      val all = t.span("pdfsource") {
        val files = Files.list(pdfDir)
        try files.forEach { f =>
          if (f.toString.endsWith(".pdf")) {
            add("pdfsource.files", 1); add("pdfsource.bytes_in", Files.size(f))
          }
        } finally files.close()
        val a = PdfSource.pages(spark, pdfDir.toString).persist(mem)
        add("pdfsource.pages_out", a.count().toDouble)
        a
      }
      val pages = all.filter(TF.kindOf(col("file_name")) === "PV")
      val keyTexts = all
        .filter(TF.kindOf(col("file_name")) === "GB" && col("page_idx") === 0)
        .select(col("file_name"), col("page_text").as("key_text"))
      val pairs = t.span("pairing") {
        val files = pages.select(col("file_name"))
          .union(keyTexts.select(col("file_name"))).distinct()
        val unpaired = Pairing.unpairedTests(files).count()
        add("pairing.unpaired", unpaired.toDouble)
        if (unpaired > 0)
          throw new java.io.IOException(s"$unpaired test PDFs have no key")
        val p = Pairing.pair(files).persist(mem)
        add("pairing.pairs_out", p.count().toDouble)
        p
      }
      val questions = t.span("extract") {
        val q = ExtractPipeline.extract(pages, keyTexts, pairs).persist(mem)
        add("extract.questions_out", q.count().toDouble)
        add("extract.slices", slicesPending.toDouble)
        q
      }
      val embedded = t.span("embed") {
        val e = questions.select(
            TF.txtRecord(col("year"), col("question_text"),
              col("correct_answer")).as("page_content"),
            col("subject").as("materia"), col("year").as("ano"),
            col("id").as("qid"))
          .withColumn("vector", Fingerprints.hashEmbed(col("page_content"), Dim))
          .persist(mem)
        add("embed.rows", e.count().toDouble)
        e
      }
      val (existing, attemptedRows, added) = t.span("load") {
        val before = partFiles(coll)
        val existing = VectorCollection.count(spark, root, coll)
        val points = VectorCollection.assignIdsOrdered(
            embedded.select(col("vector"), col("page_content"), col("materia"),
              col("ano"), col("qid")),
            existing, Seq("qid"))
          .drop("qid")
          .select(col("id"), col("vector"), col("page_content"),
            col("materia"), col("ano").cast("int").as("ano"))
        val (a, n) = VectorCollection.append(spark, root, coll, points)
        val after = partFiles(coll)
        add("load.attempted", a.toDouble); add("load.added", n.toDouble)
        add("load.files_written", (after - before).toDouble)
        add("load.collection_files", after.toDouble)
        (existing, a, n)
      }
      t.span("stats") {
        val attemptedCounts = questions.groupBy(col("year"), col("subject"))
          .agg(count(lit(1)).as("n"))
          .withColumn("kind", lit("todas questoes"))
        val addedCounts = VectorCollection.read(spark, root, coll)
          .filter(col("id") >= existing)
          .groupBy(col("ano").as("year"), col("materia").as("subject"))
          .agg(count(lit(1)).as("n"))
          .withColumn("kind", lit("questoes add"))
        val merged = LoadStats.mergeWithExisting(spark, Some(stats),
          attemptedCounts.unionByName(addedCounts)
            .select(col("year"), col("subject"), col("kind"), col("n")))
        LoadStats.writeCsv(merged, stats + ".out")
      }
      val nPairs = pairs.count()
      embedded.unpersist(); questions.unpersist(); pairs.unpersist()
      all.unpersist()
      LoadReport(nPairs, 0L, attemptedRows, added)
    }
  }

  // ── session, warmup, workloads ────────────────────────────────────────

  private val setupRounds = mutable.ArrayBuffer[Double]()
  private var sessionS = 0.0
  private var warmupS = 0.0
  private var genS = 0.0

  private def startSession(): Unit = {
    val t0 = now()
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("pathbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.range(1).count()
    sessionS = now() - t0
  }

  /** Warmup, and the generator's own check: one generated exam (both
    * days) round-trips through `PdfSource.pages` and `processPdfFolder` to
    * the manifest's counts. */
  private def selfCheck(pair: Seq[Booklet], pairDir: Path): Unit = {
    val pages = PdfSource.pages(spark, pairDir.toString)
      .select("file_name", "page_idx", "page_text", "has_images").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getString(2), r.getBoolean(3)))
      .toMap
    val want = pair.flatMap(b =>
      b.pages.zipWithIndex.map { case (ls, i) =>
        (b.pvName, i) -> (ls.mkString("", "\n", "\n"), b.imagePages(i)) } :+
        ((b.gbName, 0) -> (b.keyLines.mkString("", "\n", "\n"), false)))
      .toMap
    if (pages != want)
      fail(s"selfcheck: PdfSource.pages differs from the generated pages " +
        s"(${pages.size} vs ${want.size} pages)")
    val coll = "warm"
    VectorCollection.create(spark, root, coll, Dim)
    val m = Manifest(pair)
    ingest(pairDir, coll, work.resolve("warm.csv").toString,
        traced = false).foreach { case (r, _) =>
      if (r.added != m.total || r.attempted != m.total)
        fail(s"selfcheck: loaded ${r.added}/${r.attempted}, manifest ${m.total}")
      checkCollection(coll, Seq(0L -> m))
    }
    searchFor(coll, m.total, m.loaded.take(2).map(_._2), 0)

  }

  private lazy val warmPair =
    new Corpus(args.seed ^ 0x5eedL).archive(Seq(2024), colours = 1)
  private lazy val warmDir = dir("warm")
  /** The generator's self-check on one exam, then `heatCalls` more ingests
    * of it: the driver-side planning code keeps getting faster for several
    * calls. */
  private def generatorWarmup(heatCalls: Int): Unit = {
    selfCheck(warmPair, warmDir)
    (1 to heatCalls).foreach { i =>
      VectorCollection.create(spark, root, s"heat$i", Dim)
      ingest(warmDir, s"heat$i", work.resolve(s"heat$i.csv").toString, traced = false)
    }
  }

  def run(): String = {
    val t0 = now()
    val workload =
      if (args.workload == "ingest_incremental") new IncrementalWorkload
      else new HotWorkload
    workload.generate()
    genS = now() - t0

    startSession()
    val u0 = now()
    workload.warmup()
    warmupS = now() - u0
    for (r <- 0 until SetupRounds) {
      val s0 = now()
      workload.setup(r)
      setupRounds += now() - s0
    }
    val p0 = now()
    workload.prime()
    warmupS += now() - p0
    // The timed window (traced runs time the same calls inside spans).
    val gc0 = Tracer.gcMillis()
    val steal0 = stealSeconds()
    if (args.trace)
      tracer = Some(new Tracer(spark.sparkContext, s"${args.workload}-${args.seed}"))
    val w0 = now()
    inWindow = true
    workload.measure(w0 + args.seconds)
    inWindow = false
    val windowS = now() - w0
    val peakRss = vmHwmMb()
    val gcS = (Tracer.gcMillis() - gc0) / 1000.0
    val stealS = stealSeconds() - steal0
    tracer.foreach(_.drain())
    // Checks run after the window.
    val c0 = now()
    workload.check()
    checkSearches()
    val checkS = now() - c0
    val layers = tracer.map(t => layerMetrics(t, windowS, gcS))
    val correct = errors.isEmpty && failed == 0
    val result = Json.obj(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "errors" -> errors.toSeq,
      "findings" -> findings.toSeq,
      "env" -> Json.obj("workload" -> args.workload, "seed" -> args.seed,
        "nproc" -> cores, "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark" -> spark.version, "input" -> workload.describe),
      "gen_s" -> genS, "session_s" -> sessionS, "warmup_s" -> warmupS,
      "setup_rounds_s" -> setupRounds.toSeq, "window_s" -> windowS,
      "check_s" -> checkS, "window_gc_s" -> gcS, "window_steal_s" -> stealS,
      "samples" -> Json.obj("ingest_rate" -> rates.toSeq,
        "append_s" -> appendS.toSeq, "search_ms" -> searchMs.toSeq),
      "peak_rss_mb" -> peakRss,
      "layers" -> layers,
      "spans" -> tracer.map(_.toJson))
    spark.stop()
    Json.render(result)
  }

  /** Steal time since boot, summed over all cores: CPU time a hypervisor
    * gave to other guests while this one's cores were ready to run. Read
    * from /proc/stat in 1/100 s ticks; 0 where that is not readable. */
  private def stealSeconds(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toDouble / 100.0
      finally src.close()
    }.getOrElse(0.0)

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  // ── workloads ──────────────────────────────────────────────────────────

  private abstract class Workload {
    def generate(): Unit
    def setup(round: Int): Unit
    def measure(deadline: Double): Unit
    def check(): Unit
    def describe: Json.Obj
    /** Warmup before the set-up rounds. */
    def warmup(): Unit
    /** Warmup that needs the set-up's output; timed as warmup. */
    def prime(): Unit = ()
  }

  /** One new (year, day, colour) pair per batch, appended to one growing
    * collection with its stats merged; searches for just-loaded questions
    * after each batch. */
  private final class IncrementalWorkload extends Workload {
    private val batches = mutable.ArrayBuffer[Booklet]()
    private val ends = mutable.ArrayBuffer[Long]() // points after each batch
    private val coll = "inc"
    private val shadow = "inc_untraced"
    private val stats = work.resolve("inc_stats").toString
    private val shadowStats = work.resolve("inc_untraced_stats").toString

    def generate(): Unit = Corpus.writeAll(warmPair, warmDir)
    def setup(round: Int): Unit = {
      VectorCollection.recreate(spark, root, coll, Dim)
      if (args.trace) VectorCollection.recreate(spark, root, shadow, Dim)
    }
    /** Two heat calls: without them the window's search figures spread
      * about twice as much between runs. */
    def warmup(): Unit = generatorWarmup(heatCalls = 2)
    def describe: Json.Obj = Json.obj("batches" -> batches.size,
      "questions" -> Manifest(batches.toSeq).total)

    /** Moves the merged stats the call wrote over the previous file. */
    private def rollStats(path: String): Unit = {
      val out = Paths.get(path + ".out")
      if (Files.isDirectory(out)) {
        deleteTree(Paths.get(path))
        Files.move(out, Paths.get(path))
      }
    }

    def measure(deadline: Double): Unit = {
      var b = 0
      while (now() < deadline) {
        val booklet = corpus.batch(b)
        val in = dir(s"batch$b")
        booklet.write(in)
        Files.write(work.resolve(s"batch$b.json"),
          Manifest(Seq(booklet)).toJson.getBytes("UTF-8"))
        slicesPending = booklet.markers
        if (args.trace) {
          ingest(in, shadow, shadowStats, traced = false).foreach(sample)
          rollStats(shadowStats)
        }
        ingest(in, coll, stats, args.trace).foreach { r =>
          if (!args.trace) sample(r)
        }
        rollStats(stats)
        batches += booklet
        ends += Manifest(batches.toSeq).total
        searchFor(coll, ends.last, booklet.loaded.take(SearchesPerLoad), b)
        b += 1
      }
    }

    def check(): Unit = {
      // batch i's points start where batch i-1's ended
      val starts = 0L +: ends.toSeq.dropRight(1)
      checkCollection(coll, starts.zip(batches.map(b => Manifest(Seq(b)))))
      // merged stats: rows are keyed by year, the latest batch of a year wins
      val expected = batches.groupBy(_.year).map { case (y, bs) =>
        y -> Manifest(Seq(bs.last)).counts.map { case ((_, s), n) => s -> n }
      }
      checkStats(stats, expected)
      if (args.trace) {
        checkStats(shadowStats, expected)
        compareRuns(shadow, coll)
      }
    }
  }

  /** A collection loaded once in set-up; then distinct searches one after
    * another, half exact statements and half perturbed. */
  private final class HotWorkload extends Workload {
    private var archive: Seq[Booklet] = Nil
    private val pdfs = work.resolve("archive")
    private def coll(r: Int) = s"hot$r"
    private val tracedColl = "hot_traced"
    private val untracedColl = "hot_untraced"

    def generate(): Unit = {
      archive = corpus.archive(ArchiveYears, colours = 4)
      Corpus.writeAll(archive, pdfs)
      Files.write(work.resolve("manifest.json"),
        Manifest(archive).toJson.getBytes("UTF-8"))
    }
    /** None: the three archive pre-loads warm the ingest path, and the
      * generator's self-check runs in the other workload. */
    def warmup(): Unit = ()
    def describe: Json.Obj = Json.obj("booklets" -> archive.size,
      "questions" -> Manifest(archive).total)

    def setup(round: Int): Unit = {
      VectorCollection.create(spark, root, coll(round), Dim)
      ingest(pdfs, coll(round), work.resolve(s"hot$round.csv").toString,
        traced = false).foreach(sample)
    }

    /** Distinct searches in window order, half exact and half perturbed. */
    private lazy val manifest = Manifest(archive)
    private lazy val queries: IndexedSeq[(GenQuestion, Boolean, String)] = {
      val qs = new scala.util.Random(args.seed)
        .shuffle(manifest.loaded.map(_._2).distinctBy(_.token))
      qs.toIndexedSeq.zipWithIndex.map { case (q, i) =>
        val exact = i % 2 == 0
        (q, exact, if (exact) q.statementText else corpus.perturb(q.statementText))
      }
    }
    private def searchNth(i: Int): Unit = {
      val (q, exact, text) = queries(i % queries.size)
      search(coll(SetupRounds - 1), manifest.total, q.statementText,
        exact, text)
    }

    /** The last queries of the window's order, so the window's first
      * searches are not repeats. */
    override def prime(): Unit =
      (1 to PrimeSearches).foreach(j => searchNth(queries.size - j))

    def measure(deadline: Double): Unit = {
      val m = Manifest(archive)
      if (args.trace) {
        slicesPending = m.markers
        Seq(untracedColl -> false, tracedColl -> true).foreach { case (c, tr) =>
          VectorCollection.create(spark, root, c, Dim)
          ingest(pdfs, c, work.resolve(s"$c.csv").toString, tr)
            .foreach(r => if (!tr) sample(r))
        }
      }
      var i = 0
      // a traced window spends most of its time on the two pre-loads; it
      // still times a few searches
      while (now() < deadline || (args.trace && i < SearchesPerLoad)) {
        searchNth(i)
        i += 1
      }
    }

    def check(): Unit = {
      val m = Manifest(archive)
      val expected = archive.map(_.year).distinct.map { y =>
        y -> m.counts.collect { case ((yy, s), n) if yy == y => s -> n }
      }.toMap
      (0 until SetupRounds).foreach { r =>
        checkCollection(coll(r), Seq(0L -> m))
        checkStats(work.resolve(s"hot$r.csv.out").toString, expected)
        if (r > 0) idMapsAgree(coll(0), coll(r))
      }
      if (args.trace) compareRuns(untracedColl, tracedColl)
    }
  }

  // ── checks ─────────────────────────────────────────────────────────────

  private final case class Point(id: Long, content: String, materia: String,
      ano: Int)

  private val collected = mutable.Map[String, Seq[Point]]()
  private val collectedVectors = mutable.Map[String, Seq[(Long, Array[Double])]]()

  private def points(coll: String): Seq[Point] =
    collected.getOrElseUpdate(coll, {
      val s = spark
      import s.implicits._
      VectorCollection.read(spark, root, coll)
        .select("id", "page_content", "materia", "ano")
        .as[(Long, String, String, Int)].collect()
        .map { case (i, c, m, a) => Point(i, c, m, a) }.toSeq
    })

  private def vectors(coll: String): Seq[(Long, Array[Double])] =
    collectedVectors.getOrElseUpdate(coll, {
      val s = spark
      import s.implicits._
      VectorCollection.read(spark, root, coll).select("id", "vector")
        .as[(Long, Array[Double])].collect().toSeq
    })

  private val AnswerRe = "\\(RESPOSTA CORRETA\\): (.*)\n".r

  /** `segments`: (first id, manifest) per load, in load order. Checks
    * dense ids, each segment's per-(year, subject) counts, and every
    * point's subject, answer and year against its token. */
  private def checkCollection(coll: String, segments: Seq[(Long, Manifest)]): Unit = {
    val ps = points(coll)
    val total = segments.map(_._2.total).sum
    if (ps.size != total) fail(s"$coll: ${ps.size} points, manifest $total")
    if (ps.map(_.id).sorted != (0L until ps.size.toLong))
      fail(s"$coll: ids are not dense from 0")
    val bounds = segments.map(_._1) :+ Long.MaxValue
    segments.zipWithIndex.foreach { case ((lo, m), i) =>
      val seg = ps.filter(p => p.id >= lo && p.id < bounds(i + 1))
      val got = seg.groupBy(p => (p.ano, p.materia)).map { case (k, v) => k -> v.size.toLong }
      if (got != m.counts)
        fail(s"$coll segment $i: counts ${got.toSeq.sorted} != manifest ${m.counts.toSeq.sorted}")
      seg.foreach { p =>
        Corpus.tokensIn(p.content) match {
          case Seq(tok) => m.byToken.get(tok) match {
            case Some((subj, ans, year)) =>
              val answer = AnswerRe.findFirstMatchIn(p.content).map(_.group(1))
              if (p.materia != subj || p.ano != year || !answer.contains(ans.toString))
                fail(s"$coll id ${p.id}: $tok loaded as (${p.materia}, $answer, ${p.ano}), " +
                  s"manifest ($subj, $ans, $year)")
            case None => fail(s"$coll id ${p.id}: token $tok not in this load")
          }
          case toks => fail(s"$coll id ${p.id}: ${toks.size} tokens in one point")
        }
      }
    }
  }

  /** The stats CSV directory equals `expected`: year → subject → count, for
    * both the attempted and the added row of each year. */
  private def checkStats(path: String, expected: Map[Int, Map[String, Long]]): Unit = {
    val d = Paths.get(path)
    val part = Option(d.toFile.listFiles()).toSeq.flatten
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    if (part.isEmpty) { fail(s"stats $path: missing"); return }
    val lines = new String(Files.readAllBytes(part.get.toPath), "UTF-8")
      .split("\n").map(_.trim).filter(_.nonEmpty)
    val header = lines.head.split(",")
    val got = lines.tail.map { l =>
      val cells = l.split(",")
      cells(0) -> header.tail.zip(cells.tail.map(_.toLong)).toMap
    }.toMap
    val want = expected.toSeq.flatMap { case (y, bySubject) =>
      val row = LoadStats.Subjects.map(s => s -> bySubject.getOrElse(s, 0L)).toMap
      Seq(s"$y todas questoes" -> row, s"$y questoes add" -> row)
    }.toMap
    if (got != want)
      fail(s"stats $path: ${got.toSeq.sortBy(_._1).take(4)} != expected " +
        s"${want.toSeq.sortBy(_._1).take(4)}")
  }

  /** Every search against an exact top-k computed here over the same
    * points: scores rank by rank within 1e-9, every returned id in the
    * exact top-(k+10) at its exact score, and an exact statement's top-1
    * carries that statement. */
  private def checkSearches(): Unit = {
    def norm(s: String) = s.split("\\s+").filter(_.nonEmpty).mkString(" ")
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    searches.foreach { s =>
      val cands = vectors(s.coll).filter(_._1 < s.visible)
      val exact = cands.map { case (id, v) => (id, cosine(s.query, v)) }
        .sortBy { case (id, sc) => (-sc, id) }.take(K + 10)
      val exactScore = exact.toMap
      val got = s.results
      val tag = s"search on ${s.coll} for '${s.statement.take(40)}'"
      if (got.size != math.min(K, cands.size))
        fail(s"$tag: ${got.size} results")
      got.zip(exact).foreach { case ((_, a, _), (_, b)) =>
        if (math.abs(a - b) > 1e-9) fail(s"$tag: score $a != exact $b")
      }
      got.foreach { case (id, sc, _) =>
        if (!exactScore.get(id).exists(e => math.abs(e - sc) <= 1e-9))
          fail(s"$tag: id $id (score $sc) is not in the exact top-k")
      }
      if (s.exact && !got.headOption.exists(r => norm(r._3).contains(norm(s.statement))))
        fail(s"$tag: top-1 does not carry the query text")
    }
  }

  /** Traced and untraced loads of the same input: equal as multisets of
    * (content, subject, year) — the vector is a function of the content —
    * and, reported rather than failed, whether the id → point maps agree. */
  private def compareRuns(untraced: String, traced: String): Unit = {
    def key(p: Point) = (p.content, p.materia, p.ano)
    val sameContent =
      points(untraced).map(key).sorted == points(traced).map(key).sorted
    if (!sameContent) fail(s"traced load $traced differs from untraced $untraced")
    layerCounts("trace.compared") += 1
    if (sameContent) layerCounts("trace.collections_equal") += 1
    if (idMapsAgree(untraced, traced)) layerCounts("trace.id_maps_equal") += 1
  }

  /** Whether two loads of the same input gave every id the same point;
    * a difference is recorded as a finding, not a failure. */
  private def idMapsAgree(a: String, b: String): Boolean = {
    def key(p: Point) = (p.content, p.materia, p.ano)
    val am = points(a).map(p => p.id -> key(p)).toMap
    val diff = points(b).count(p => !am.get(p.id).contains(key(p)))
    if (diff > 0) findings += s"$a vs $b: $diff of ${am.size} ids map to " +
      "different points (ids are ordered by qid alone, which repeats across colours)"
    diff == 0
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  // ── per-layer metrics (traced runs) ───────────────────────────────────

  private def layerMetrics(t: Tracer, windowS: Double, gcS: Double): Json.Obj = {
    val self = t.selfByName
    val work = t.listener.all
    def lw(n: String) = work.getOrElse(n, new LayerWork)
    val calls = t.spans.count(_.name == "pipeline").max(1).toDouble
    val queries = t.spans.count(_.name == "search").max(1).toDouble
    def dur(n: String) = t.spans.filter(_.name == n).map(_.seconds).sum
    def per(n: String) = layerCounts(n) / calls
    def util(n: String) = lw(n).runMs / 1000.0 / (dur(n) * cores).max(1e-9)
    val m = mutable.LinkedHashMap[String, (Double, String)]()
    def put(n: String, v: Double, unit: String): Unit = m(n) = (v, unit)
    put("pdfsource.files", per("pdfsource.files"), "count")
    put("pdfsource.bytes_in", per("pdfsource.bytes_in"), "B")
    put("pdfsource.pages_out", per("pdfsource.pages_out"), "count")
    put("pdfsource.self_s", self.getOrElse("pdfsource", 0.0) / calls, "s")
    put("pdfsource.task_cpu_s", lw("pdfsource").cpuNs / 1e9 / calls, "s")
    put("pdfsource.core_util", util("pdfsource"), "ratio")
    put("pdfsource.gc_s", t.spans.filter(_.name == "pdfsource").map(_.gcMs).sum / 1000.0 / calls, "s")
    put("pairing.pairs_out", per("pairing.pairs_out"), "count")
    put("pairing.unpaired", per("pairing.unpaired"), "count")
    put("pairing.self_s", self.getOrElse("pairing", 0.0) / calls, "s")
    put("pairing.jobs", lw("pairing").jobs / calls, "count")
    put("extract.slices", per("extract.slices"), "count")
    put("extract.questions_out", per("extract.questions_out"), "count")
    put("extract.yield", layerCounts("extract.questions_out") /
      layerCounts("extract.slices").max(1.0), "ratio")
    put("extract.self_s", self.getOrElse("extract", 0.0) / calls, "s")
    put("extract.task_cpu_s", lw("extract").cpuNs / 1e9 / calls, "s")
    put("extract.core_util", util("extract"), "ratio")
    put("extract.shuffle_bytes", lw("extract").shuffleBytes / calls, "B")
    put("extract.jobs", lw("extract").jobs / calls, "count")
    put("embed.rows", per("embed.rows"), "count")
    put("embed.self_s", self.getOrElse("embed", 0.0) / calls, "s")
    put("embed.task_cpu_s", lw("embed").cpuNs / 1e9 / calls, "s")
    put("load.attempted", per("load.attempted"), "count")
    put("load.added", per("load.added"), "count")
    put("load.self_s", self.getOrElse("load", 0.0) / calls, "s")
    put("load.jobs", lw("load").jobs / calls, "count")
    put("load.shuffle_bytes", lw("load").shuffleBytes / calls, "B")
    put("load.files_written", per("load.files_written"), "count")
    put("load.bytes_written", lw("load").outBytes / calls, "B")
    put("load.collection_files", per("load.collection_files"), "count")
    put("stats.self_s", self.getOrElse("stats", 0.0) / calls, "s")
    put("stats.jobs", lw("stats").jobs / calls, "count")
    put("pipeline.self_s", self.getOrElse("pipeline", 0.0) / calls, "s")
    put("pipeline.jobs", lw("pipeline").jobs / calls, "count")
    put("search.queries", t.spans.count(_.name == "search").toDouble, "count")
    put("search.self_s", self.getOrElse("search", 0.0) / queries, "s")
    put("search.embed_s", self.getOrElse("search_embed", 0.0) / queries, "s")
    put("search.jobs_per_query", lw("search").jobs / queries, "count")
    put("search.files_read_per_query", layerCounts("search.files") / queries, "count")
    put("search.bytes_read_per_query", layerCounts("search.bytes") / queries, "B")
    put("search.rows_scanned_per_query", lw("search").inRecords / queries, "count")
    put("search.rows_per_result", lw("search").inRecords /
      layerCounts("search.results").max(1.0), "count")
    put("spark.gc_s", gcS, "s")
    put("spark.spill_bytes", work.values.map(_.spillBytes).sum.toDouble, "B")
    put("spark.failed_tasks", work.values.map(_.failedTasks).sum.toDouble, "count")
    val wall = t.roots.map(_.seconds).sum
    put("trace.wall_s", wall, "s")
    put("trace.self_sum_s", self.values.sum, "s")
    put("trace.window_s", windowS, "s")
    // each traced call is paired with an untraced call on the same input
    val tracedIngest = t.spans.filter(_.name == "pipeline").map(_.seconds)
    val untraced = windowUntraced.sum / windowUntraced.size.max(1)
    put("trace.traced_ingest_s", tracedIngest.sum / calls, "s")
    put("trace.untraced_ingest_s", untraced, "s")
    put("trace.overhead_s", tracedIngest.sum / calls - untraced, "s")
    put("trace.collections_equal", layerCounts("trace.collections_equal") /
      layerCounts("trace.compared").max(1.0), "ratio")
    put("trace.id_maps_equal", layerCounts("trace.id_maps_equal") /
      layerCounts("trace.compared").max(1.0), "ratio")
    Json.obj(m.toSeq.map { case (n, (v, u)) => n -> Json.obj("value" -> v, "unit" -> u) }: _*)
  }
}
