package graft.operators

import graft.functions.Fingerprints
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for training-data pipelines (SURVEY.md §7.1-8):
  * token counting, language ID, quality scoring, fingerprinting. All pure
  * built-in column expressions — fully codegen'd, no UDFs, so a 100 TB
  * corpus pass stays in one WholeStageCodegen scan stage per query.
  */
object TextAnalysis {

  /** Whitespace token count plus a BPE-ish subword token count: runs of
    * letters, runs of digits, or single punctuation — the standard cheap
    * proxy for tokenizer cost before the real tokenizer runs. */
  def tokenCounts(text: Column): Seq[Column] = Seq(
    size(Fingerprints.tokens(text)).cast("long").as("ws_tokens"),
    size(regexp_extract_all(lower(text),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
      .cast("long").as("subword_tokens")
  )

  /** PII/noise scrubbing: URLs, e-mail addresses, and digit runs collapse
    * to typed placeholder tokens — the standard redaction pass before
    * training. Order matters (URLs first: they contain dots/digits that
    * the later patterns would otherwise shred); patterns stay in the
    * RE2-compatible subset so any engine applies the same transform (the
    * DuckDB oracle runs these verbatim). Pure regexp_replace chain —
    * codegen'd, one scan pass. */
  def scrub(text: Column): Column = {
    val url = regexp_replace(text, "https?://[^\\s]+", "<url>")
    val email = regexp_replace(url,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<email>")
    regexp_replace(email, "[0-9]+", "<num>")
  }

  /** Luhn checksum over one maximal digit run (as a boolean Column
    * program): from the RIGHTMOST digit, every second digit doubles
    * (9-subtract on overflow), sum ≡ 0 (mod 10). Pure higher-order
    * built-ins (sequence/aggregate) — codegen'd, and the DuckDB oracle
    * replays the identical index arithmetic. `r` must be a digit-only
    * string column. */
  private def luhnOk(r: Column): Column = {
    val digit = (i: Column) =>
      r.substr(length(r) - i, lit(1)).cast("int")
    val term = (i: Column) =>
      when(i % 2 === 1,
        when(digit(i) * 2 > 9, digit(i) * 2 - 9).otherwise(digit(i) * 2))
        .otherwise(digit(i))
    aggregate(sequence(lit(0), length(r) - 1), lit(0),
      (acc, i) => acc + term(i)) % 10 === 0
  }

  /** The checksum-VALIDATED card numbers in a text: maximal digit runs
    * of plausible card length (13-19) that pass Luhn — the precision
    * upgrade over [[scrub]]'s blanket `<num>` collapse: a curation
    * pass that must redact real card numbers without shredding every
    * order id. Maximal runs via RE2 `[0-9]+` (no lookarounds — RE2 has
    * none, so both engines see identical runs). */
  def luhnCards(text: Column): Column =
    filter(regexp_extract_all(text, lit("[0-9]+"), lit(0)),
      r => length(r).between(13, 19) && luhnOk(r))

  /** Mask every Luhn-valid card run with `[CARD]`: left fold of
    * `replace` over the validated runs in LONGEST-FIRST order,
    * starting from the original text. The ordering is load-bearing: a
    * valid run that is a prefix/substring of a LONGER valid run must
    * not be replaced first, or the splice would leave the longer
    * card's trailing digits exposed next to the mask — longest-first
    * masks the long card whole before the short value is touched.
    * ('[CARD]' contains no digit so replacements cannot cascade;
    * duplicate run values are idempotent.) Occurrence-level semantics:
    * the run VALUE is replaced wherever it appears — a valid value
    * embedded in an even longer NON-card digit run splices that run,
    * which over-redacts rather than leaks, the safe direction. The
    * sort key is a (-len, value) struct so the natural struct ordering
    * is identical on both engines. One projection, no shuffle, stays
    * in whole-stage codegen. */
  def luhnMask(text: Column): Column = {
    val ordered = transform(
      array_sort(transform(luhnCards(text),
        r => struct((-length(r)).as("k"), r.as("v")))),
      s => s.getField("v"))
    aggregate(ordered, text,
      (acc, r) => org.apache.spark.sql.functions.replace(acc, r,
        lit("[CARD]")))
  }

  /** Per-language marker lexicons for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: broadcast as literals into codegen. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "est"),
    "zh" -> Seq("的", "是", "不", "了", "在", "我", "有")
  )

  /** Marker-hit score for one language. */
  def langScore(tokens: Column, lang: String): Column = {
    val markers = langMarkers.toMap.apply(lang)
    size(filter(tokens, t => t.isin(markers.map(lit): _*)))
  }

  /** Heuristic language ID: argmax marker-hit count with a fixed priority
    * tie-break (en > es > de > fr > zh), 'und' when nothing matches.
    *
    * Implemented as ONE `aggregate` pass with the argmax decode in the
    * finish lambda. The naive form (5 × `langScore` + total + greatest +
    * a when-chain) re-expands the tokenize chain at every reference —
    * ~17 copies in the optimized plan, which blows up generated-code size
    * and, under a many-query JVM, JIT budget. Here `tokens` appears once
    * and every later reference is to the finish lambda's accumulator
    * VARIABLE (evaluated once per row). */
  def langId(text: Column): Column = {
    val toks = Fingerprints.tokens(text)
    val zero = array(langMarkers.map(_ => lit(0)): _*)
    val step = (acc: Column, t: Column) =>
      array(langMarkers.zipWithIndex.map { case ((_, ms), i) =>
        acc.getItem(i) + when(t.isin(ms.map(lit): _*), 1).otherwise(0)
      }: _*)
    aggregate(toks, zero, step, acc => {
      val scores = langMarkers.indices.map(acc.getItem)
      val total = scores.reduce(_ + _)
      val best = greatest(scores: _*)
      langMarkers.map(_._1).zip(scores).foldRight(lit("und")) {
        case ((l, s), els) => when(total > 0 && s === best, lit(l))
          .otherwise(els)
      }
    })
  }

  /** Quality-score feature block: length, punctuation ratio, stopword ratio,
    * mean token length, and a composite [0,1] quality score — the standard
    * pre-filter features for corpus curation.
    *
    * Each output column runs ONE `aggregate` pass over the tokens,
    * counting (n_tokens, stopword hits) together and deriving the feature
    * in the finish lambda (same generated-code-size rationale as langId:
    * no re-expansion of the tokenize chain per reference). */
  def qualityColumns(text: Column): Seq[Column] = {
    val enMarkers = langMarkers.toMap.apply("en")
    def withTokStats(f: (Column, Column) => Column): Column =
      aggregate(Fingerprints.tokens(text), array(lit(0), lit(0)),
        (acc, t) => array(
          acc.getItem(0) + 1,
          acc.getItem(1) +
            when(t.isin(enMarkers.map(lit): _*), 1).otherwise(0)),
        acc => f(acc.getItem(0), acc.getItem(1)))
    val nChars = length(text)
    val punct = length(regexp_replace(text, "[^.,;:!?'\"()]", ""))
    val punctRatio =
      when(nChars > 0, punct.cast("double") / nChars).otherwise(0.0)
    Seq(
      withTokStats((n, _) => n.cast("long")).as("n_tokens"),
      round(withTokStats((n, _) =>
        when(n > 0, (nChars - (n - 1)).cast("double") / n).otherwise(0.0)),
        4).as("mean_token_len"),
      round(punctRatio, 4).as("punct_ratio"),
      round(withTokStats((n, stop) =>
        when(n > 0, stop.cast("double") / n).otherwise(0.0)), 4)
        .as("stopword_ratio"),
      withTokStats { (n, stop) =>
        val stopRatio = when(n > 0, stop.cast("double") / n).otherwise(0.0)
        val lengthScore = least(n.cast("double") / 100.0, lit(1.0))
        round((lengthScore + least(stopRatio * 5.0, lit(1.0)) +
          (lit(1.0) - least(punctRatio * 10.0, lit(1.0)))) / 3.0, 4)
      }.as("quality"))
  }

  // ── typed kernel forms ──────────────────────────────────────────────────
  // The Column forms above are the SQL surface; for corpus-wide passes the
  // queries route through these mapPartitions kernels instead. Rationale
  // (measured, see PLANS.md): higher-order-function expression trees run
  // interpreted, and in a JVM that has compiled many queries' generated
  // classes the interpreter's Expression.eval chains lose JIT compilation
  // — observed 27× degradation. A scalac-compiled kernel is immune, and
  // per-row text analytics have no relational structure for Catalyst to
  // optimize anyway.

  /** Shared plumbing for the typed-kernel frames below. Three contracts:
    *
    *  - NULL-text guard (the [[Dedup.textOrRaise]] posture) when
    *    `guardText` (the default): these kernels feed quality VERDICTS
    *    and per-doc signals — a NULL text used to surface as a bare
    *    executor NPE (or, in the gzip kernel, silently conflate with the
    *    empty string). One codegen'd branch, free on valid rows.
    *    `guardText = false` passes NULL text through (for kernels that
    *    define NULL, e.g. gopherRepetition → 0.0).
    *  - NULL ids raise loudly (always): an unjoinable NULL-id signal row
    *    is garbage, and downstream audit negative-controls rely on the
    *    loudness the old encoder cast provided by accident.
    *  - The caller's id column keeps its ORIGINAL type (r15 ADVICE: the
    *    previous `cast("long")` silently narrowed doc_id to LONG for all
    *    callers and turned non-numeric ids into NULLs that failed deep in
    *    the encoder). The id value rides through the kernel opaquely as
    *    element 0 of each output row; only the text enters the kernel.
    *
    * The kernel stays a scalac-compiled mapPartitions body (PLANS.md
    * lesson 7 — immune to interpreted-expression JIT loss); `kernel` may
    * emit 0..n rows per document (flatMap semantics). */
  private def kernelFrame(docs: DataFrame, idCol: String, textCol: String,
      op: String, outFields: Seq[StructField], guardText: Boolean = true)(
      kernel: Iterator[(Any, String)] => Iterator[(Any, Seq[Any])])
      : DataFrame = {
    val guarded =
      if (guardText) Dedup.textOrRaise(col(textCol), s"TextAnalysis.$op")
      else col(textCol)
    val src = Dedup.spread(docs)
      .select(col(idCol).as("doc_id"), guarded.as("text"))
    val schema = StructType(src.schema.head +: outFields)
    src.mapPartitions { it =>
      val docs = it.map { r =>
        // explicit NULL-id guard: the pre-r16 cast("long") encoder made
        // a NULL id fail loudly BY ACCIDENT, and downstream audits
        // (PlanShapeSpec's bad-composite negative control) rely on that
        // loudness — an unjoinable NULL-id signal row is garbage
        if (r.isNullAt(0)) throw new IllegalArgumentException(
          s"TextAnalysis.$op: NULL id in column '$idCol' — per-doc " +
            "signal rows must be joinable; filter or repair ids upstream")
        (r.get(0), if (r.isNullAt(1)) null else r.getString(1))
      }
      kernel(docs).map { case (id, vs) => Row.fromSeq(id +: vs) }
    }(Encoders.row(schema))
  }

  // Locale.ROOT: a tr-TR default locale would map I -> dotless ı and
  // diverge from the oracle's locale-independent lower()
  private[operators] def tokensOf(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)

  private def round4(v: Double): Double =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Kernel semantics of `langId` (identical output, oracle-pinned). */
  def langIdOf(text: String): String = {
    val toks = tokensOf(text)
    val sets = langMarkers.map { case (l, ms) => (l, ms.toSet) }
    val scores = sets.map { case (l, s) => (l, toks.count(s.contains)) }
    val total = scores.map(_._2).sum
    // maxBy keeps the FIRST max — same priority order as the when-chain.
    if (total == 0) "und" else scores.maxBy(_._2)._1
  }

  def langIdFrame(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    kernelFrame(docs, idCol, textCol, "langIdFrame",
      Seq(StructField("lang_pred", StringType, nullable = false)))(
      _.map { case (id, t) => (id, Seq(langIdOf(t))) })

  /** Kernel semantics of `qualityColumns` (identical output). n_chars is
    * the code-point count (matches SQL `length`). */
  def qualityOf(text: String): (Long, Double, Double, Double, Double) = {
    val toks = tokensOf(text)
    val nTok = toks.length
    val nChars = text.codePointCount(0, text.length)
    val punctSet = ".,;:!?'\"()".toSet
    val punct = text.count(punctSet.contains)
    val stopSet = langMarkers.toMap.apply("en").toSet
    val stop = toks.count(stopSet.contains)
    val meanTokLen =
      if (nTok > 0) (nChars - (nTok - 1)).toDouble / nTok else 0.0
    val punctRatio = if (nChars > 0) punct.toDouble / nChars else 0.0
    val stopRatio = if (nTok > 0) stop.toDouble / nTok else 0.0
    val lengthScore = math.min(nTok / 100.0, 1.0)
    val quality = (lengthScore + math.min(stopRatio * 5.0, 1.0) +
      (1.0 - math.min(punctRatio * 10.0, 1.0))) / 3.0
    (nTok.toLong, round4(meanTokLen), round4(punctRatio), round4(stopRatio),
      round4(quality))
  }

  def qualityFrame(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    kernelFrame(docs, idCol, textCol, "qualityFrame",
      Seq(StructField("n_tokens", LongType, nullable = false),
        StructField("mean_token_len", DoubleType, nullable = false),
        StructField("punct_ratio", DoubleType, nullable = false),
        StructField("stopword_ratio", DoubleType, nullable = false),
        StructField("quality", DoubleType, nullable = false)))(
      _.map { case (id, t) =>
        val (n, mtl, pr, sr, q) = qualityOf(t)
        // Seq[Any]: a bare Seq(long, double, …) would numerically WIDEN
        // the long to Double (weak conformance) and break the encoder
        (id, Seq[Any](n, mtl, pr, sr, q))
      })

  /** The Gopher quality-rule battery (Rae et al. 2021, table A1 — the
    * standard pretraining curation gate): per-document attribution of all
    * seven rules plus the conjunction verdict, entirely in codegen'd
    * built-ins (split + higher-order array functions) — ONE projection,
    * no shuffle, the text column never leaves its scan partition.
    *
    * Rules: 50 ≤ n_words ≤ 100000; 3 ≤ mean_word_len ≤ 10; symbol-to-
    * word ratio ('#' chars + '...' runs) < 0.1; < 90% of lines bullet-
    * started; < 30% of lines ellipsis-ended; > 80% of words contain an
    * alphabetic char; ≥ 2 distinct core stopwords present. Ratio columns
    * round(…, 4); zero-word docs emit null ratios and fail the verdict
    * through the word-count rule. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = filter(split(col(textCol), "\\s+"), w => length(w) > lit(0))
    val lines = filter(split(col(textCol), "\n"),
      l => length(trim(l)) > lit(0))
    val stops = array(Seq("the", "be", "to", "of", "and", "that", "have",
      "with").map(lit): _*)
    val base = docs.select(col(idCol),
      size(words).as("n_words"),
      aggregate(transform(words, w => length(w)), lit(0L),
        (acc, x) => acc + x).as("_wlen"),
      (length(col(textCol)) -
        length(replace(col(textCol), lit("#"), lit("")))).as("_hash_c"),
      ((length(col(textCol)) -
        length(replace(col(textCol), lit("..."), lit("")))) / 3)
        .cast("long").as("_ell_c"),
      size(lines).as("n_lines"),
      size(filter(lines, l => ltrim(l).startsWith("-") ||
        ltrim(l).startsWith("*") || ltrim(l).startsWith("•")))
        .as("_bullet_c"),
      size(filter(lines, l => rtrim(l).endsWith("...") ||
        rtrim(l).endsWith("…"))).as("_ellend_c"),
      size(filter(words, w => w.rlike("[a-zA-Z]"))).as("_alpha_c"),
      size(array_intersect(
        array_distinct(transform(words, w => lower(w))), stops))
        .as("stopword_hits"))
    def ratio(num: Column, den: Column) =
      when(den > 0, round(num.cast("double") / den, 4))
    base.select(col(idCol), col("n_words"),
        ratio(col("_wlen"), col("n_words")).as("mean_word_len"),
        ratio(col("_hash_c") + col("_ell_c"), col("n_words"))
          .as("symbol_ratio"),
        ratio(col("_bullet_c"), col("n_lines")).as("bullet_frac"),
        ratio(col("_ellend_c"), col("n_lines")).as("ellipsis_frac"),
        ratio(col("_alpha_c"), col("n_words")).as("alpha_frac"),
        col("stopword_hits"))
      .withColumn("r_words",
        col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn("r_word_len", coalesce(
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0,
        lit(false)))
      // <=, not <: Rae et al. drop docs whose ratio is strictly ABOVE the
      // cutoff ("more than 90% of lines", "greater than 0.1"), so a doc
      // landing exactly on a threshold (possible — ratios round to 4
      // decimals) must KEEP passing
      .withColumn("r_symbol",
        coalesce(col("symbol_ratio") <= 0.1, lit(false)))
      .withColumn("r_bullet",
        coalesce(col("bullet_frac") <= 0.9, lit(true)))
      .withColumn("r_ellipsis",
        coalesce(col("ellipsis_frac") <= 0.3, lit(true)))
      .withColumn("r_alpha",
        coalesce(col("alpha_frac") > 0.8, lit(false)))
      .withColumn("r_stopwords", col("stopword_hits") >= 2)
      .withColumn("verdict",
        col("r_words") && col("r_word_len") && col("r_symbol") &&
          col("r_bullet") && col("r_ellipsis") && col("r_alpha") &&
          col("r_stopwords"))
  }

  /** The Gopher REPETITION battery (Rae et al. 2021 table A1, the
    * n-gram half — [[gopherRules]] covers the quality half): per doc,
    * the character fraction of the most frequent word n-gram (n = 2..4)
    * and the character fraction COVERED by duplicated n-grams
    * (n ∈ dupNs), in the position-coverage form — each word position
    * inside ANY duplicated n-gram occurrence counts once (distinct
    * positions, no double counting), then its word's characters weigh
    * the fraction.
    *
    * Shape: every statistic is DOC-LOCAL, so the whole battery is ONE
    * typed mapPartitions kernel over (id, text) — zero shuffles, the
    * text never leaves its scan task (the [[graft.operators.Dedup]]
    * shingleFrame rationale; the r15 rewrite of the earlier declarative
    * form, whose (doc, n, gram) count aggregation exchanged the gram
    * STRINGS — at corpus scale the operator's single biggest
    * intermediate, and ~4× the wall at local[32]). Value-for-value
    * identical to the declarative form and its DuckDB oracle, with the
    * three engine-semantics pins made explicit in code: word/gram
    * lengths count Unicode CODE POINTS (Spark `length`), the
    * most-frequent tie breaks to the UTF-8-BYTE-order smallest gram
    * (Spark/DuckDB binary string `<`, NOT Java's UTF-16 compareTo —
    * [[graft.functions.Utf8Order]]), and fractions round like Spark's
    * `round` (BigDecimal-of-toString HALF_UP). Docs shorter than n (or
    * empty/NULL text) emit 0.0 for that n. */
  def gopherRepetition(docs: DataFrame, idCol: String, textCol: String,
      topNs: Seq[Int] = Seq(2, 3, 4),
      dupNs: Seq[Int] = Seq(5, 10)): DataFrame = {
    val tNs = topNs.toArray
    val dNs = dupNs.toArray
    val outFields = Seq(
      StructField("_top", ArrayType(DoubleType, containsNull = false),
        nullable = false),
      StructField("_dup", ArrayType(DoubleType, containsNull = false),
        nullable = false))
    val out = kernelFrame(docs, idCol, textCol, "gopherRepetition", outFields,
      guardText = false) { it =>
      val utf8 = graft.functions.Utf8Order.ordering
      def round4(x: Double): Double =
        scala.math.BigDecimal(x)
          .setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP)
          .toDouble
      def cp(s: String): Long = s.codePointCount(0, s.length).toLong
      it.map { case (id, text) =>
        val ws: Array[String] =
          if (text == null) Array.empty
          else text.split("\\s+").filter(_.nonEmpty)
        val m = ws.length
        val wl = ws.map(cp)
        val tc = wl.sum
        def gramCounts(n: Int): java.util.HashMap[String, Int] = {
          val h = new java.util.HashMap[String, Int]((m + 1) * 2)
          var j = 0
          while (j + n <= m) {
            val g = ws.slice(j, j + n).mkString(" ")
            h.merge(g, 1, Integer.sum)
            j += 1
          }
          h
        }
        val topFracs = tNs.map { n =>
          if (m < n || tc == 0L) 0.0
          else {
            val h = gramCounts(n)
            var bestG: String = null
            var bestC = 0
            h.forEach { (g, c) =>
              if (c > bestC || (c == bestC && utf8.compare(g, bestG) < 0)) {
                bestG = g; bestC = c
              }
            }
            // gram chars = gram minus its n−1 single-space joiners
            val gChars = cp(bestG) - (n - 1)
            round4(bestC * gChars.toDouble / tc)
          }
        }
        val dupFracs = dNs.map { n =>
          if (m < n || tc == 0L) 0.0
          else {
            val h = gramCounts(n)
            val covered = new Array[Boolean](m)
            var j = 0
            while (j + n <= m) {
              if (h.get(ws.slice(j, j + n).mkString(" ")) > 1) {
                var p = j
                while (p < j + n) { covered(p) = true; p += 1 }
              }
              j += 1
            }
            var sumWl = 0L
            var p = 0
            while (p < m) { if (covered(p)) sumWl += wl(p); p += 1 }
            round4(sumWl.toDouble / tc)
          }
        }
        (id, Seq(topFracs, dupFracs))
      }
    }
    val topCols = topNs.zipWithIndex.map { case (n, i) =>
      col("_top")(i).as(s"top_${n}gram_frac") }
    val dupCols = dupNs.zipWithIndex.map { case (n, i) =>
      col("_dup")(i).as(s"dup_${n}gram_frac") }
    out.select(col("doc_id") +: (topCols ++ dupCols): _*)
  }

  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2 — the other
    * canonical curation gate, line-grain where Gopher is doc-grain):
    * keep lines that end in terminal punctuation AND have ≥ `minLineWords`
    * words; then drop the whole page when it mentions "lorem ipsum",
    * contains a curly brace (code leakage), or retains fewer than
    * `minSentences` sentences (terminal-punct marks in the kept text).
    * Same execution shape as [[gopherRules]]: codegen'd built-ins, one
    * projection, no shuffle. Output: doc_id + n_lines + n_kept +
    * kept_md5 (hash of the newline-joined kept text — pins the exact
    * transform, null when nothing kept) + drop_reason (null = page
    * survives; else 'lorem_ipsum' | 'curly_brace' | 'too_few_sentences'
    * — first match in that order). */
  def c4LineClean(docs: DataFrame, idCol: String, textCol: String,
      minLineWords: Int = 5, minSentences: Int = 3): DataFrame = {
    val lines = split(col(textCol), "\n")
    val keep = (l: Column) => {
      val r = rtrim(l)
      (r.endsWith(".") || r.endsWith("!") || r.endsWith("?") ||
        r.endsWith("\"")) &&
        size(filter(split(l, "\\s+"), w => length(w) > lit(0))) >=
          lit(minLineWords)
    }
    val keptArr = filter(lines, keep)
    val keptText = array_join(keptArr, "\n")
    val sentences = length(keptText) -
      length(translate(keptText, ".!?", ""))
    docs.select(col(idCol),
        size(lines).as("n_lines"), size(keptArr).as("n_kept"),
        when(size(keptArr) > 0, md5(keptText)).as("kept_md5"),
        when(contains(lower(col(textCol)), lit("lorem ipsum")),
            lit("lorem_ipsum"))
          .when(contains(col(textCol), lit("{")), lit("curly_brace"))
          .when(sentences < minSentences, lit("too_few_sentences"))
          .as("drop_reason"))
  }

  private val subwordPattern =
    java.util.regex.Pattern.compile("[a-z]+|[0-9]+|[^a-z0-9\\s]")

  /** Kernel semantics of `tokenCounts` (identical output — java.util.regex
    * on both sides). */
  def tokenCountsOf(text: String): (Long, Long) = {
    val ws = tokensOf(text).length.toLong
    val m = subwordPattern.matcher(text.toLowerCase)
    var sub = 0L
    while (m.find()) sub += 1
    (ws, sub)
  }

  /** TF-IDF keyword extraction: top-k terms per document by
    * tf · ln(N/df), ties broken by term. Three shuffles, all keyed and
    * map-side combinable: (doc, term) counts, term document-frequencies,
    * and the per-doc top-k window. At 100 TB the document-frequency table
    * is vocabulary-sized — AQE broadcasts it when small; a hot-term skew
    * (stopwords) is bounded because df rows are one per term, not per
    * occurrence. Scores rank unrounded and round only for output. */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val n = docs.count()
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(Fingerprints.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term")
      .withColumn("tfidf",
        col("tf").cast("double") * log(lit(n.toDouble) / col("df")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(desc("tfidf"), col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), round(col("tfidf"), 4).as("tfidf"),
        col("rank"))
  }

  /** Corpus vocabulary: the `topN` terms by total occurrence count (ties
    * broken lexicographically) with document frequency and a dense id in
    * rank order — the tokenizer-building / stopword-discovery primitive.
    * Two map-side-combinable aggregations ((doc, term) counts, then term
    * totals) followed by a bounded top-N (`TakeOrderedAndProject` keeps
    * topN rows per partition, so no full sort of the vocabulary); the
    * final dense id is a row_number over topN rows only — driver-sized,
    * not corpus-sized. */
  def vocabulary(docs: DataFrame, idCol: String, textCol: String,
      topN: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(Fingerprints.tokens(col(textCol))).as("term"))
    val perDoc = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val byTerm = perDoc.groupBy(col("term"))
      .agg(sum(col("tf")).as("tf_total"), count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("tf_total"), col("term"))
    byTerm.orderBy(desc("tf_total"), col("term")).limit(topN)
      .withColumn("vocab_id", (row_number().over(w) - 1).cast("int"))
  }

  /** Encode documents as token-id sequences against a learned vocabulary
    * (the apply side of `vocabulary`): one posexplode + one broadcast join
    * on term (the vocab is top-N-sized by construction), out-of-vocabulary
    * tokens map to -1 (the UNK id). Returns (doc_id, pos, token_id) —
    * exploded scalar rows, the layout a training-data writer shards
    * directly. */
  def encodeWithVocab(docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(Fingerprints.tokens(col(textCol))).as(Seq("pos", "term")))
      .join(broadcast(vocab.select(col("term"), col("vocab_id"))),
        Seq("term"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("vocab_id"), lit(-1)).as("token_id"))

  /** Inverted-index postings for the `topN` highest-document-frequency
    * terms: (term, df, doc_id, pos) — one row per occurrence, position =
    * whitespace-token index. The search/retrieval index-build primitive.
    *
    * Scale shape: term selection is two map-side-combinable aggregations
    * bounded by `TakeOrderedAndProject` (topN rows to the driver side of
    * the broadcast, never the postings); the postings themselves are a
    * broadcast semi-join of the exploded corpus against those topN terms,
    * so the only corpus-sized dataflow is the one explode→filter pass.
    * At 100 TB you'd partition the written index by term bucket — the
    * same layout Bucketed gives collections. */
  def postings(docs: DataFrame, idCol: String, textCol: String,
      topN: Int): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      posexplode(Fingerprints.tokens(col(textCol))).as(Seq("pos", "term")))
    val byDf = toks.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), col("term")).limit(topN)
    toks.join(broadcast(byDf), Seq("term"))
      .select(col("term"), col("df"), col("doc_id"), col("pos"))
  }

  /** Non-overlapping occurrence count of `kw` in `text` (left-to-right,
    * stepping past each match — the `split(text, kw).length - 1`
    * semantics, shared with the DuckDB oracle). */
  private def countOccurrences(text: String, kw: String): Int = {
    var n = 0
    var i = text.indexOf(kw)
    while (i >= 0) { n += 1; i = text.indexOf(kw, i + kw.length) }
    n
  }

  /** Broadcast-dictionary keyword tagging: per document, occurrence
    * counts of every dictionary keyword that appears (blocklist hits, PII
    * term scan, topic tagging). Case-insensitive. Returns
    * (doc_id, keyword, hits) with hits > 0 only.
    *
    * Scale shape: the dictionary rides the closure (broadcast — bytes,
    * not data) and the corpus is scanned ONCE in a typed kernel; no join,
    * no shuffle beyond the caller's sink. Dictionaries of
    * `acThreshold` or more terms switch from the per-keyword indexOf
    * loop (O(len × |dict|)) to an [[graft.functions.AhoCorasick]]
    * automaton (O(len + matches), single pass over the text regardless
    * of dictionary size — the 10⁵-term blocklist path); both paths
    * share the identical non-overlap count contract, proven equal on
    * randomized corpora in TextAnalysisSpec. */
  def keywordHits(docs: DataFrame, idCol: String, textCol: String,
      keywords: Seq[String], acThreshold: Int = 32): DataFrame = {
    require(keywords.nonEmpty, "keywordHits: empty dictionary")
    // an empty keyword would spin countOccurrences forever (indexOf("")
    // matches at every position and advances by 0) — reject loudly
    require(keywords.forall(_.nonEmpty),
      "keywordHits: dictionary contains an empty keyword")
    val kws = keywords.map(_.toLowerCase(java.util.Locale.ROOT))
      .distinct.sorted.toArray
    val outFields = Seq(
      StructField("keyword", StringType, nullable = false),
      StructField("hits", IntegerType, nullable = false))
    if (kws.length >= acThreshold) {
      val ac = graft.functions.AhoCorasick.build(kws.toSeq)
      kernelFrame(docs, idCol, textCol, "keywordHits", outFields)(
        _.flatMap { case (id, t) =>
          val counts =
            ac.countHits(t.toLowerCase(java.util.Locale.ROOT))
          counts.iterator.zipWithIndex.collect {
            case (n, ki) if n > 0 => (id, Seq(kws(ki), n))
          }
        })
    } else {
      kernelFrame(docs, idCol, textCol, "keywordHits", outFields)(
        _.flatMap { case (id, t) =>
          val lower = t.toLowerCase(java.util.Locale.ROOT)
          kws.iterator
            .map(kw => (kw, countOccurrences(lower, kw)))
            .collect { case (kw, n) if n > 0 => (id, Seq(kw, n)) }
        })
    }
  }

  /** Canonical text normalization (the first pass of every dedup/quality
    * pipeline — without it "Café"/"Cafe´"/"cafe" count as three docs):
    * Unicode NFD → strip combining marks (accent fold) → lowercase →
    * collapse whitespace runs to one space → trim. Typed kernel (PLANS.md
    * lesson 7); the DuckDB oracle applies the same chain with
    * `strip_accents`, and the unicode-specific steps are pinned by
    * TextAnalysisSpec fixtures (the testdata corpus is ASCII). */
  def normalizeOf(text: String): String = {
    val folded = java.text.Normalizer
      .normalize(text, java.text.Normalizer.Form.NFD)
      .replaceAll("\\p{M}+", "")
    folded.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ").trim
  }

  def normalizeFrame(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    kernelFrame(docs, idCol, textCol, "normalizeFrame",
      Seq(StructField("normalized", StringType, nullable = false)))(
      _.map { case (id, t) => (id, Seq(normalizeOf(t))) })

  /** Gopher-style repetition counts per document (the standard boilerplate
    * signals a pretraining quality filter computes): line counts, distinct
    * line counts, word-bigram counts, and the multiplicity of the most
    * frequent bigram. Counts only — exact longs; callers derive the
    * fractions with `round()` expressions so both engines round the same
    * doubles (oracle: `docs_repetition`). Typed kernel per PLANS.md
    * lesson 7. */
  def repetitionCountsOf(text: String): (Long, Long, Long, Long) = {
    val lines = text.split("\n", -1)
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val nBigrams = math.max(toks.length - 1, 0)
    var top = 0L
    if (nBigrams > 0) {
      val counts = new java.util.HashMap[String, Long]()
      var i = 0
      while (i < toks.length - 1) {
        val bg = toks(i) + " " + toks(i + 1)
        val c = counts.merge(bg, 1L, (a, b) => a + b)
        if (c > top) top = c
        i += 1
      }
    }
    (lines.length.toLong, lines.distinct.length.toLong, nBigrams.toLong, top)
  }

  def repetitionFrame(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    kernelFrame(docs, idCol, textCol, "repetitionFrame",
      Seq(StructField("n_lines", LongType, nullable = false),
        StructField("n_distinct_lines", LongType, nullable = false),
        StructField("n_bigrams", LongType, nullable = false),
        StructField("top_bigram_cnt", LongType, nullable = false)))(
      _.map { case (id, t) =>
        val (nl, dl, nb, tc) = repetitionCountsOf(t)
        (id, Seq(nl, dl, nb, tc))
      })

  def tokenCountsFrame(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    kernelFrame(docs, idCol, textCol, "tokenCountsFrame",
      Seq(StructField("ws_tokens", LongType, nullable = false),
        StructField("subword_tokens", LongType, nullable = false)))(
      _.map { case (id, t) =>
        val (ws, sub) = tokenCountsOf(t)
        (id, Seq(ws, sub))
      })

  /** Kernel semantics of `Fingerprints.rollingFingerprint` — identical
    * values (Spark's own XXH64 over each char 8-gram's UTF-8 bytes, seed
    * 42; grams by code point like SQL substr). */
  def rollingFingerprintOf(text: String, gram: Int = 8): Long = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(text)
    val len = u.numChars()
    val last = math.max(len - (gram - 1), 1)
    var best = Long.MaxValue
    var i = 1
    while (i <= last) {
      val g = u.substringSQL(i, gram)
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(g, org.apache.spark.sql.types.StringType, 42L)
      if (h < best) best = h
      i += 1
    }
    best
  }

  def rollingFingerprintFrame(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    kernelFrame(docs, idCol, textCol, "rollingFingerprintFrame",
      Seq(StructField("fp_rolling", LongType, nullable = false)))(
      _.map { case (id, t) => (id, Seq(rollingFingerprintOf(t))) })

  /** The assembled pretraining quality filter: every per-document signal
    * (token count, Gopher repetition fractions, composite quality, language
    * ID) computed in ONE kernel pass, folded into a keep/drop verdict with
    * the first failing rule as the reason — the shape a production cleaning
    * pipeline actually runs, rather than four separate scans of the corpus
    * joined after the fact. Thresholds compare the ROUNDED fractions (4
    * decimals, same rounding as the individual signal queries) so the
    * verdict is bit-identical across engines. Rule order: too_short →
    * repetitive_lines → repetitive_bigrams → low_quality → wrong_lang. */
  def cleanVerdictFrame(docs: DataFrame, idCol: String, textCol: String,
      minTokens: Long, maxDupLineFrac: Double, maxTopBigramFrac: Double,
      minQuality: Double, requiredLang: Option[String]): DataFrame = {
    kernelFrame(docs, idCol, textCol, "cleanVerdictFrame",
      Seq(StructField("n_tokens", LongType, nullable = false),
        StructField("quality", DoubleType, nullable = false),
        StructField("lang_pred", StringType, nullable = false),
        StructField("dup_line_frac", DoubleType, nullable = false),
        StructField("top_bigram_frac", DoubleType, nullable = false),
        StructField("keep", BooleanType, nullable = false),
        StructField("reason", StringType, nullable = false)))(
      _.map { case (id, t) =>
        val (nTok, _, _, _, quality) = qualityOf(t)
        val lang = langIdOf(t)
        val (nl, dl, nb, tc) = repetitionCountsOf(t)
        val dupLineFrac = round4(1.0 - dl.toDouble / nl)
        val topBigramFrac = if (nb > 0) round4(tc.toDouble / nb) else 0.0
        val reason =
          if (nTok < minTokens) "too_short"
          else if (dupLineFrac > maxDupLineFrac) "repetitive_lines"
          else if (topBigramFrac > maxTopBigramFrac) "repetitive_bigrams"
          else if (quality < minQuality) "low_quality"
          else if (requiredLang.exists(_ != lang)) "wrong_lang"
          else "ok"
        (id, Seq[Any](nTok, quality, lang, dupLineFrac, topBigramFrac,
          reason == "ok", reason))
      })
  }

  /** Corpus-trained bigram language-model surprisal per document — the
    * CCNet-style perplexity quality signal (docs whose word sequences are
    * improbable under the corpus's own statistics are noise/outliers; docs
    * that are too probable are boilerplate). Model: add-one-smoothed
    * bigram MLE, p(w2|w1) = (c(w1,w2)+1) / (c(w1)+V) with c(w1) counted
    * over bigram contexts and V = corpus distinct-word count. Returns
    * (doc_id, n_bigrams, avg_nll) where avg_nll is the mean negative
    * natural log-probability, rounded in-plan.
    *
    * Scale shape: bigrams pre-aggregate per (doc, w1, w2) BEFORE joining
    * the count tables (the multiplicity-weighted sum is algebraically the
    * row-level mean), so the two joins move distinct-bigram rows, not
    * corpus positions; both count tables are vocabulary-sized; V rides in
    * as a broadcast 1-row crossJoin — no driver collect anywhere. */
  def bigramSurprisal(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      split(col(textCol), " ").as("ws"))
    val bigrams = base.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(transform(
          sequence(lit(0), size(col("ws")) - 2),
          i => struct(element_at(col("ws"), i + 1).as("w1"),
            element_at(col("ws"), i + 2).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val perDoc = bigrams.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("m"))
    val c12 = perDoc.groupBy(col("w1"), col("w2"))
      .agg(sum(col("m")).as("c12"))
    val c1 = perDoc.groupBy(col("w1")).agg(sum(col("m")).as("c1"))
    val vocabSize = base
      .select(explode(col("ws")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val nll = -log((col("c12") + lit(1.0)) / (col("c1") + col("v")))
    perDoc.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(vocabSize))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        round(sum(col("m") * nll) / sum(col("m")), 4).as("avg_nll"))
  }

  /** Document-level PMI term co-occurrence — the collocation/related-
    * term signal (query expansion, taxonomy seeds): for term pairs
    * within the top-`vocabTop` df vocabulary,
    * pmi(a,b) = ln(df_ab · N / (df_a · df_b)) over document frequencies.
    * All statistics are exact integers; ln is the single fp call on an
    * exact ratio — the [[bigramSurprisal]] oracle contract.
    *
    * Scale: the vocabulary cap is the safety rail — per-doc pair
    * generation is quadratic in DISTINCT VOCAB TERMS PER DOC (≤ V), not
    * document length; the vocab is a broadcast df-top-N sidecar
    * ([[postings]]' bounded selection). One doc-keyed self-join, one
    * pair-keyed count, TakeOrderedAndProject. Output:
    * (term_a, term_b, df_a, df_b, df_ab, pmi) top-`topN` by
    * (pmi desc, term_a, term_b), pairs with df_ab ≥ `minPairCount`. */
  def pmiPairs(docs: DataFrame, idCol: String, textCol: String,
      vocabTop: Int = 100, minPairCount: Long = 2L, topN: Int = 50,
      decimals: Int = 6): DataFrame = {
    require(vocabTop >= 2 && topN >= 1 && minPairCount >= 1,
      "need vocabTop >= 2, topN >= 1, minPairCount >= 1")
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
        explode(Fingerprints.tokens(col(textCol))).as("term"))
      .distinct()
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), col("term")).limit(vocabTop)
    val vtoks = toks.join(broadcast(vocab), "term")
      .select(col("doc_id"), col("term"), col("df"))
    val nDocs = docs.select(col(idCol)).distinct().count()
    val pairs = vtoks.as("a").join(vtoks.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("a.term") < col("b.term"))
      .groupBy(col("a.term").as("term_a"), col("b.term").as("term_b"),
        col("a.df").as("df_a"), col("b.df").as("df_b"))
      .agg(count(lit(1)).as("df_ab"))
      .filter(col("df_ab") >= minPairCount)
    pairs.select(col("term_a"), col("term_b"), col("df_a"), col("df_b"),
        col("df_ab"),
        round(log(col("df_ab").cast("double") * lit(nDocs.toDouble) /
          (col("df_a").cast("double") * col("df_b").cast("double"))),
          decimals).as("pmi"))
      .orderBy(desc("pmi"), col("term_a"), col("term_b"))
      .limit(topN)
  }

  /** Tokenizer-coverage audit: per group, the fraction of token
    * OCCURRENCES falling outside the corpus top-`vocabTop` vocabulary
    * (by total term frequency, ties → term asc) — the OOV/fertility
    * signal that decides whether a tokenizer's vocab fits a source.
    * All counts are exact integers; the rate is one division.
    *
    * Scale shape: the vocab is a TakeOrdered-bounded sidecar that
    * BROADCASTS into the exploded corpus (the corpus is scanned once,
    * never shuffled at token grain); the per-group rollup is map-side
    * combinable. Output: (group, n_tokens, n_oov, oov_rate). */
  def oovRate(docs: DataFrame, groupCol: String, textCol: String,
      vocabTop: Int = 1000, decimals: Int = 6): DataFrame = {
    require(vocabTop >= 1, "vocabTop must be >= 1")
    val toks = docs.select(col(groupCol),
      explode(graft.functions.Fingerprints.tokens(col(textCol))).as("term"))
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("tf"))
      .orderBy(desc("tf"), col("term")).limit(vocabTop)
      .select(col("term"), lit(true).as("_in_vocab"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col(groupCol), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), decimals)
          .as("oov_rate"))
  }

  /** Per-group Gini concentration of a non-negative integer measure
    * (token counts per doc within each source — "does one doc hold all
    * the tokens?"): G = (2·Σᵢ i·xᵢ − (n+1)·Σx)/(n·Σx) with xᵢ ascending
    * (ties → id order).
    *
    * Numerics (cross-engine discipline): NO fp `round()` anywhere —
    * engine round(DOUBLE, d) semantics differ at half boundaries
    * (Spark HALF_UP on the decimal repr vs scaled-multiply fp round),
    * which kept this red for two rounds. Instead the half-up rounding
    * itself runs in exact DECIMAL(38,0) integer arithmetic:
    * micro = (2·10⁶·(2·iwx − (n+1)·total) + n·total) div (2·n·total),
    * then one exact int→IEEE conversion micro/10⁶. G ≥ 0 always
    * (Chebyshev's sum inequality for the ascending arrangement), so
    * half-up == half-away and floor-div == trunc-div on both engines.
    * Output: (group, n, total, gini). Groups with zero total emit 0. */
  def giniByGroup(df: DataFrame, groupCol: String, idCol: String,
      measure: Column, decimals: Int = 6): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("_x").asc, col(idCol).asc)
    val scale = math.pow(10, decimals).toLong
    // `div` (IntegralDivide) on DECIMAL(38,0): exact truncating integer
    // division — decimal `/` would round HALF_UP which is NOT integer div.
    val micro =
      s"""((2 * CAST($scale AS DECIMAL(38,0)) *
         |    CAST(2 * _iwx - (n + 1) * total AS DECIMAL(38,0)) +
         |    CAST(n AS DECIMAL(38,0)) * CAST(total AS DECIMAL(38,0)))
         | div
         | (2 * CAST(n AS DECIMAL(38,0)) * CAST(total AS DECIMAL(38,0))))
         |""".stripMargin.replace('\n', ' ')
    df.select(col(groupCol), col(idCol), measure.cast("long").as("_x"))
      .withColumn("_i", row_number().over(w))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("_x")).as("total"),
        sum(col("_i") * col("_x")).as("_iwx"))
      .selectExpr(groupCol, "n", "total",
        s"CASE WHEN total > 0 THEN CAST($micro AS DOUBLE) / $scale.0D " +
          "ELSE 0.0D END AS gini")
  }

  /** Shannon entropy (nats) of each group's term distribution — the
    * lexical-diversity audit for a training mix: a source whose token
    * entropy collapses is boilerplate/template spam even when volume
    * and dedup look healthy, and entropy per language snapshot is the
    * standard mix-health metric next to [[giniByGroup]] concentration.
    *
    * Numerics (cross-engine discipline): with integer term counts c and
    * N = Σc, H = ln N − (Σ c·ln c)/N. The inner sum is fp over
    * thousands of terms — UNDEFINED order on a shuffle — so each term's
    * c·ln c is rounded to integer MICRO-nats in-plan (one ln on an
    * exact integer-valued double, one multiply, one round) and the sum
    * runs over longs: order-free, shuffle-proof, and replayed exactly
    * by the oracle. fp re-enters only in the final fixed expression
    * over (N, Σmicro). The micro-rounding bounds |error| ≤ 5e-7, so a
    * single-term group lands within one 6dp ulp of exact 0 (the `+0.0`
    * guards the signed-zero hash trap there).
    *
    * Scale: one tokenize pass, one map-side-combinable (group, term)
    * aggregation, one groups-sized rollup — the corpus text never
    * shuffles, term rows carry (hashable term, long) only. */
  def termEntropy(docs: DataFrame, groupCol: String, textCol: String,
      decimals: Int = 6): DataFrame = {
    val terms = docs.select(col(groupCol).as("g"),
        explode(split(lower(col(textCol)), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("g"), col("term")).agg(count(lit(1)).as("c"))
    terms
      .select(col("g"), col("c"),
        round(col("c") * log(col("c")) * lit(1e6)).cast("long")
          .as("_clogc_micro"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_terms"), sum(col("c")).as("n_tokens"),
        sum(col("_clogc_micro")).as("_s_micro"))
      .select(col("g").as(groupCol), col("n_tokens"), col("n_terms"),
        (round(log(col("n_tokens")) -
            col("_s_micro") / (col("n_tokens") * lit(1e6)),
          decimals) + lit(0.0)).as("entropy"))
  }

  /** Flesch-style readability from exact integer counts: sentences =
    * `[.!?]` runs (min 1), words = whitespace tokens (min 1),
    * "syllables" = vowel-group runs per word (the standard cheap proxy;
    * en-centric, documented) — score = 206.835 − 1.015·(W/S) −
    * 84.6·(Y/W). All counts are exact integers, so the score is ONE
    * fixed fp tree per row — codegen'd, oracle-replayable. */
  def readability(docs: DataFrame, idCol: String, textCol: String,
      decimals: Int = 4): DataFrame = {
    val sentences = greatest(
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))), lit(1))
    val words = greatest(
      size(Fingerprints.tokens(col(textCol))), lit(1))
    val syll = greatest(
      size(regexp_extract_all(lower(col(textCol)), lit("[aeiouy]+"),
        lit(0))), lit(1))
    docs.select(col(idCol).cast("long").as("doc_id"),
      sentences.cast("long").as("n_sentences"),
      words.cast("long").as("n_words"),
      syll.cast("long").as("n_syllables"),
      (round(lit(206.835) -
          lit(1.015) * (words.cast("double") / sentences) -
          lit(84.6) * (syll.cast("double") / words), decimals) + lit(0.0))
        .as("flesch"))
  }

  /** Deterministic span masking — MLM/span-corruption data generation:
    * token at position p of doc d masks iff
    * md5(d:p:token) (first 8 hex as int) mod 100 < `ratePct`. Content-
    * keyed hashing, not rand(): the mask set is reproducible across
    * runs, retries, and engines (the [[graft.operators.Sampling]]
    * md5-idiom), so a regenerated training set is byte-identical.
    * Returns (doc_id, n_tokens, n_masked, masked_text). Raw space
    * tokenization — masking must preserve the original surface text
    * around the masks. One projection, fully codegen'd. */
  def spanMask(docs: DataFrame, idCol: String, textCol: String,
      ratePct: Int = 15, maskTok: String = "<mask>"): DataFrame = {
    require(ratePct >= 0 && ratePct <= 100, "ratePct must be 0..100")
    val ws = split(col(textCol), " ")
    def hit(t: Column, i: Column): Column =
      pmod(conv(substring(md5(concat(col(idCol).cast("string"), lit(":"),
        i.cast("string"), lit(":"), t)), 1, 8), 16, 10).cast("long"),
        lit(100L)) < ratePct
    val masked = transform(ws, (t, i) =>
      when(hit(t, i), lit(maskTok)).otherwise(t))
    docs.select(col(idCol).cast("long").as("doc_id"),
      size(ws).cast("long").as("n_tokens"),
      size(filter(transform(ws, (t, i) => hit(t, i)),
        x => x)).cast("long").as("n_masked"),
      concat_ws(" ", masked).as("masked_text"))
  }

  /** Compression-ratio quality signal (deflate bytes / raw bytes) — the
    * Gopher-style compressibility filter: template/boilerplate spam
    * compresses far below prose, random noise above it. Typed kernel
    * (one Deflater per partition, reused); level pinned so the ratio is
    * a stable engine constant (pinned in GoldenValuesSpec; the
    * 0 < ratio ≤ bound invariant is oracle-gated by docs_gzip_audit).
    * Empty text → ratio 0; NULL text raises (it is not an empty doc —
    * the [[Dedup.textOrRaise]] posture). */
  def gzipRatioFrame(docs: DataFrame, idCol: String, textCol: String,
      level: Int = 6, decimals: Int = 4): DataFrame =
    kernelFrame(docs, idCol, textCol, "gzipRatioFrame",
      Seq(StructField("n_bytes", LongType, nullable = false),
        StructField("n_deflated", LongType, nullable = false),
        StructField("gzip_ratio", DoubleType, nullable = false))) { it =>
      val deflater = new java.util.zip.Deflater(level)
      val buf = new Array[Byte](1 << 16)
      it.map { case (id, t) =>
        // NULL text raises upstream (kernelFrame guard); empty stays 0
        val raw = t.getBytes("UTF-8")
        if (raw.isEmpty) (id, Seq[Any](0L, 0L, 0.0))
        else {
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var n = 0L
          while (!deflater.finished()) n += deflater.deflate(buf)
          val ratio = BigDecimal(n.toDouble / raw.length)
            .setScale(decimals, BigDecimal.RoundingMode.HALF_UP).toDouble
          (id, Seq[Any](raw.length.toLong, n, ratio))
        }
        // free the task's Deflater native memory when the partition
        // drains (by-name ++ thunk) instead of leaving it to the GC
      } ++ { deflater.end(); Iterator.empty }
    }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm): k-token shingles → 32-bit md5-prefix hashes → in every
    * full window of `w` consecutive shingles select the minimum hash
    * (ties → leftmost position) → distinct selections. Guarantees: any
    * shared run of ≥ w + k − 1 tokens between two documents shares at
    * least one fingerprint, and within-document density is ~2/(w+1) —
    * the plagiarism/near-dup signature that survives insertions
    * (rolling fingerprints shift; window minima mostly don't).
    *
    * Cross-engine hashing: the md5-prefix idiom every sampler here uses
    * (`Dsir.scala:48`), so the oracle replays hashes byte-for-byte.
    *
    * Scale: tokenize + shingle explode are scan-stage projections; the
    * window min is ONE (doc)-keyed sort — no shingle self-join, no
    * all-windows explode (the O(n·w) form exists only in the ORACLE).
    * Output rows are the selected fingerprints, ~2n/(w+1) per doc.
    * Output: (doc_id, fp_pos, fp_hash). */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5): DataFrame =
    winnowSelections(docs, idCol, textCol, k, w)
      .select(col("doc_id"), col("sel.pos").as("fp_pos"),
        col("sel.h").as("fp_hash"))
      .distinct()

  /** Pre-distinct window-min selections — one row per FULL window start
    * position, heavy duplicate (pos, h) struct values. Shared by the
    * public fingerprint table (distinct over (doc_id, pos, hash)) and
    * [[winnowCandidatePairs]], which only needs (doc_id, hash) and
    * dedups on that narrower key directly. */
  private def winnowSelections(docs: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      Fingerprints.tokens(col(textCol)).as("ws"))
    // the last shingle start is size(ws) − k by construction (posexplode
    // over a dense 0..size−k sequence), so the full-window bound rides
    // the scan as a column — the previous max(pos) full-partition window
    // was a second pass over every shingle row to recompute it (r16)
    val shingles = base.filter(size(col("ws")) >= k)
      // maxp is projected BEFORE the explode so the Generate prunes the
      // token array from its output — computed after, `ws` rides every
      // exploded shingle row (measured +27% on docs_winnow)
      .select(col("doc_id"), (size(col("ws")) - k).as("maxp"), col("ws"))
      .select(col("doc_id"), col("maxp"),
        posexplode(transform(
          sequence(lit(0), col("maxp")),
          i => concat_ws(" ", slice(col("ws"), i + 1, lit(k)))))
        .as(Seq("pos", "sh")))
      .select(col("doc_id"), col("maxp"), col("pos"),
        conv(substring(md5(col("sh")), 1, 8), 16, 10).cast("long").as("h"))
    val winSel = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(0, w - 1)
    shingles
      .withColumn("sel", min(struct(col("h"), col("pos"))).over(winSel))
      // only FULL windows select (start positions with w members)
      .filter(col("pos") <= col("maxp") - (w - 1))
      .select(col("doc_id"), col("sel"))
  }

  /** Winnow candidate pairs — the MOSS match step over
    * [[winnowFingerprints]], with the standard MOSS "ignore ubiquitous
    * fingerprints" guard: a fingerprint selected (as a window minimum)
    * in more than `maxDf` DISTINCT documents is boilerplate — a license
    * header, a template sentence — and joins on it are pure noise that
    * fan out quadratically in its document frequency (one shared
    * paragraph across 30% of a 100 TB corpus is a single bucket of
    * (0.3·N)² candidate rows). Dropping them loses no plagiarism
    * signal MOSS would keep: a match attested ONLY by text that a
    * large fraction of the corpus shares is not evidence of copying
    * between the pair. Output: (id_a, id_b, shared) for pairs sharing
    * ≥ `minShared` surviving fingerprints.
    *
    * Scale shape: one fp-keyed df count, a semi-join that removes the
    * capped hashes, then the fingerprint-keyed equi-join (the LSH
    * band-bucket shape) whose per-key fan-out is now ≤ maxDf² by
    * construction — the skew bound the uncapped form lacked. */
  def winnowCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5, minShared: Int = 3,
      maxDf: Int = 100): DataFrame = {
    require(minShared >= 1 && maxDf >= 2,
      s"minShared >= 1 and maxDf >= 2 required, got $minShared/$maxDf")
    // fp feeds three consumers (df count + both join sides); it is a
    // selections-sized table (~2n/(w+1) rows of (long, long)) —
    // checkpoint so the shingle→window-min pipeline runs once. The
    // match step never reads fp_pos, so dedup happens on the narrower
    // (doc_id, hash) key directly (one distinct instead of the public
    // table's 3-column distinct), which makes every row unique per
    // (doc, hash): the df count and the per-pair shared count become
    // plain count(1)s — no countDistinct expand-dedup passes — and a
    // hash selected at several positions of both docs joins once, not
    // positions² times (r16).
    val fp = winnowSelections(docs, idCol, textCol, k, w)
      .select(col("doc_id"), col("sel.h").as("fp_hash"))
      .distinct()
      .localCheckpoint()
    val keep = fp.groupBy(col("fp_hash"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf)
      .select(col("fp_hash"))
    val fpk = fp.join(keep, "fp_hash")
    fpk.as("a").join(fpk.as("b"),
        col("a.fp_hash") === col("b.fp_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Trigram stupid-backoff LM scoring (Brants et al. 2007) — the
    * web-scale quality signal CCNet-style pipelines rank documents by,
    * with the LM trained on a REFERENCE slice and scored over the full
    * corpus (the asymmetry that makes backoff actually fire):
    * S(c|a,b) = c3(abc)/c2(ab) when the trigram is attested, else
    * α·c2(bc)/c1(b), else α²·c1(c)/N (0 for OOV). Unnormalized by
    * design — stupid backoff is a SCORE, not a distribution; at corpus
    * scale it matches Kneser-Ney rankings at a fraction of the cost.
    *
    * Numerics: per-position scores round to integer micro-units
    * in-plan, so the per-doc sum is order-free (the [[termEntropy]]
    * discipline); fp re-enters only in the final fixed tree.
    *
    * Scale: three count tables (map-side-combinable aggregations, the
    * trigram table prunable by min-count at real scale), then one
    * aggregated (doc, trigram, m) frame hash-joins the tables by term
    * keys — no per-position rows, no windows. */
  def stupidBackoffScores(docs: DataFrame, idCol: String, textCol: String,
      refFilter: Column, alpha: Double = 0.4): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("txt"), refFilter.as("is_ref"))
      .select(col("doc_id"), col("is_ref"), split(col("txt"), " ").as("ws"))
    def grams(n: Int, from: DataFrame) =
      from.filter(size(col("ws")) >= n)
        .select(col("doc_id"), explode(transform(
            sequence(lit(0), size(col("ws")) - n),
            i => concat_ws("", slice(col("ws"), i + 1, lit(n)))))
          .as("g"))
    val ref = base.filter(col("is_ref"))
    val c1 = grams(1, ref).groupBy(col("g").as("u1"))
      .agg(count(lit(1)).as("c1"))
    val c2 = grams(2, ref).groupBy(col("g").as("u2"))
      .agg(count(lit(1)).as("c2"))
    val c3 = grams(3, ref).groupBy(col("g").as("u3"))
      .agg(count(lit(1)).as("c3"))
    val nTotal = ref.select(sum(size(col("ws"))).as("n_total"))

    // per-doc distinct trigrams with multiplicity; re-derive the ngram
    // keys of the context/backoff pieces from the packed trigram
    val docTri = grams(3, base)
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("m"))
      .select(col("doc_id"), col("m"),
        col("g").as("tri"),
        // (a,b) context, (b,c) backoff bigram, b and c unigrams
        concat_ws("", slice(split(col("g"), ""), 1, 2)).as("ab"),
        concat_ws("", slice(split(col("g"), ""), 2, 2)).as("bc"),
        element_at(split(col("g"), ""), 2).as("b"),
        element_at(split(col("g"), ""), 3).as("c"))
    val joined = docTri
      .join(c3.withColumnRenamed("u3", "tri"), Seq("tri"), "left")
      .join(c2.withColumnRenamed("u2", "ab")
        .withColumnRenamed("c2", "c2ab"), Seq("ab"), "left")
      .join(c2.withColumnRenamed("u2", "bc")
        .withColumnRenamed("c2", "c2bc"), Seq("bc"), "left")
      .join(c1.withColumnRenamed("u1", "b")
        .withColumnRenamed("c1", "c1b"), Seq("b"), "left")
      .join(c1.withColumnRenamed("u1", "c")
        .withColumnRenamed("c1", "c1c"), Seq("c"), "left")
      .crossJoin(broadcast(nTotal))
    val s = when(coalesce(col("c3"), lit(0L)) > 0,
        col("c3").cast("double") / col("c2ab"))
      .otherwise(lit(alpha) *
        when(coalesce(col("c2bc"), lit(0L)) > 0,
          col("c2bc").cast("double") / col("c1b"))
        .otherwise(lit(alpha) *
          coalesce(col("c1c"), lit(0L)).cast("double") / col("n_total")))
    joined
      .select(col("doc_id"), col("m"),
        (col("m") * round(s * lit(1e6)).cast("long")).as("s_micro"),
        when(coalesce(col("c3"), lit(0L)) > 0, col("m"))
          .otherwise(lit(0L)).as("m_hit"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_trigrams"),
        sum(col("m_hit")).as("n_attested"),
        sum(col("s_micro")).as("_sm"))
      .select(col("doc_id"), col("n_trigrams"), col("n_attested"),
        // RAW single division of exact integers — identical doubles on
        // any engine. A final round(q, 6) is a latent cross-engine flake
        // (r12, observed at an sf0.1 replay): quotients like 253700/8e6
        // terminate at the 7th decimal in a 5, where Spark rounds the
        // exact binary (just below the boundary) and DuckDB the decimal
        // rendering (half-up) — 0.031712 vs 0.031713.
        (col("_sm") / (col("n_trigrams") * lit(1e6))).as("sbo_score"))
  }

  /** Interpolated bigram Kneser-Ney LM scoring (Kneser & Ney 1995; Chen &
    * Goodman 1999) — the smoother family KenLM implements and CCNet ranks
    * with, the normalized complement to [[stupidBackoffScores]] (stupid
    * backoff is an unnormalized score; KN is a true distribution whose
    * lower-order term is a CONTINUATION probability — "how many contexts
    * does v complete", the insight that demotes "Francisco"). Trained on
    * the `refFilter` slice, scored over the full corpus:
    *
    *   P(v|u) = max(c(uv) − D, 0)/c(u·) + (D·N1+(u·)/c(u·)) · N1+(·v)/B
    *
    * with c(u·) = Σ_v c(uv) (u's left-context total — NOT u's raw
    * unigram count: a final token never opens a bigram), N1+(u·) = u's
    * distinct continuations, N1+(·v) = v's distinct left contexts,
    * B = the distinct-bigram total (= Σ_v N1+(·v)), and the Ney absolute
    * discount D = n1/(n1 + 2·n2) estimated from the counts-of-counts of
    * the bigram table (n_k = #bigrams seen exactly k times). An unseen
    * context interpolates from nothing: P backs off to the continuation
    * unigram N1+(·v)/B alone; an OOV v scores 0. The interpolation
    * weight D·N1+(u·)/c(u·) is exactly the mass the discount removed, so
    * Σ_v P(v|u) = 1 for every seen context — asserted in the spec.
    *
    * Numerics: every count is an exact BIGINT; D is ONE division of
    * exact integers → identical doubles on any engine; each per-position
    * P is a fixed tree of (−, ·, /, max) over those values, micro-rounded
    * in-plan, so the per-doc sum is an order-free integer sum (the
    * [[stupidBackoffScores]] discipline — fp re-enters only in the final
    * fixed per-doc tree).
    *
    * Scale: the count tables are map-side-combinable aggregations bounded
    * by the DISTINCT bigram vocabulary (prunable by min-count at real
    * scale, exactly like KenLM's pruning); the doc side joins at
    * (doc, distinct bigram) grain — no per-position rows, no windows;
    * the 1-row (D, B) scalar table broadcasts. c2 feeds four consumers
    * (ctx, cont, scalars, the scoring join), so it is localCheckpoint'ed
    * once rather than re-aggregated per consumer. */
  def kneserNeyScores(docs: DataFrame, idCol: String, textCol: String,
      refFilter: Column): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("txt"), refFilter.as("is_ref"))
      .select(col("doc_id"), col("is_ref"), split(col("txt"), " ").as("ws"))
    def bigrams(from: DataFrame) =
      from.filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(transform(
            sequence(lit(0), size(col("ws")) - 2),
            i => struct(element_at(col("ws"), i + 1).as("u"),
              element_at(col("ws"), i + 2).as("v")))).as("bg"))
        .select(col("doc_id"), col("bg.u").as("u"), col("bg.v").as("v"))
    val c2 = bigrams(base.filter(col("is_ref")))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("c2"))
      .localCheckpoint()
    val ctx = c2.groupBy(col("u"))
      .agg(sum(col("c2")).as("cu"), count(lit(1)).as("fanout"))
    val cont = c2.groupBy(col("v")).agg(count(lit(1)).as("nc"))
    // Ney discount from the counts-of-counts; a corpus where NO bigram
    // occurs exactly once or twice leaves the estimator 0/0 — fall back
    // to the conventional D = 0.5 (replayed identically by the oracle)
    val scalars = c2.agg(
        sum(when(col("c2") === 1, lit(1L)).otherwise(lit(0L))).as("n1"),
        sum(when(col("c2") === 2, lit(1L)).otherwise(lit(0L))).as("n2"),
        count(lit(1)).as("bt"))
      .select(when(col("n1") + lit(2) * col("n2") === 0, lit(0.5))
          .otherwise(col("n1").cast("double") /
            (col("n1") + lit(2) * col("n2"))).as("d"),
        col("bt"))
    val docBi = bigrams(base)
      .groupBy(col("doc_id"), col("u"), col("v"))
      .agg(count(lit(1)).as("m"))
    val joined = docBi
      .join(c2, Seq("u", "v"), "left")
      .join(ctx, Seq("u"), "left")
      .join(cont, Seq("v"), "left")
      .crossJoin(broadcast(scalars))
    val pCont = coalesce(col("nc"), lit(0L)).cast("double") / col("bt")
    val p = when(col("cu").isNotNull,
        greatest(coalesce(col("c2"), lit(0L)) - col("d"), lit(0.0)) /
          col("cu") +
          (col("d") * col("fanout") / col("cu")) * pCont)
      .otherwise(pCont)
    joined
      .select(col("doc_id"), col("m"),
        (col("m") * round(p * lit(1e6)).cast("long")).as("p_micro"),
        when(coalesce(col("c2"), lit(0L)) > 0, col("m"))
          .otherwise(lit(0L)).as("m_hit"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        sum(col("m_hit")).as("n_attested"),
        sum(col("p_micro")).as("_pm"))
      .select(col("doc_id"), col("n_bigrams"), col("n_attested"),
        // raw single division of exact integers — the sbo_score r12
        // terminal-decimal-round fix applies verbatim here
        (col("_pm") / (col("n_bigrams") * lit(1e6))).as("kn_score"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004) over the
    * corpus: words are nodes, an undirected edge links words ADJACENT
    * anywhere in the corpus (the classic window-2 co-occurrence graph,
    * unweighted — one shared sentence is as much of a vote as a
    * thousand, which is what makes TextRank a GRAPH signal instead of a
    * frequency count), and centrality is [[GraphOps.pageRankIntKeyed]]'s
    * exact integer fixed point, so the keyword ranking replays
    * bit-identically on any engine. Output: the `topK` (word, rank_i)
    * rows by rank, ties broken by word.
    *
    * Scale shape: the edge table lives at VOCABULARY grain (distinct
    * adjacent word pairs), so the PageRank loop runs on a
    * dictionary-sized graph no matter how large the corpus — the only
    * corpus-sized pass is the one distinct() over exploded adjacent
    * pairs (map-side combinable). Top-k is a TakeOrderedAndProject,
    * not a global sort. */
  def textRankWords(docs: DataFrame, idCol: String, textCol: String,
      iters: Int = 3, topK: Int = 20): DataFrame = {
    val toks = docs
      .select(filter(split(col(textCol), " "), w => length(w) > 0)
        .as("ws"))
    val adj = toks.filter(size(col("ws")) >= 2)
      .select(explode(transform(
          sequence(lit(0), size(col("ws")) - 2),
          i => struct(element_at(col("ws"), i + 1).as("u"),
            element_at(col("ws"), i + 2).as("v")))).as("bg"))
      .select(col("bg.u").as("u"), col("bg.v").as("v"))
      .filter(col("u") =!= col("v"))
    val edges = adj.select(col("u").as("src"), col("v").as("dst"))
      .union(adj.select(col("v").as("src"), col("u").as("dst")))
      .distinct()
    GraphOps.pageRankIntKeyed(edges, "src", "dst", iters)
      .select(col("id").as("word"), col("rank_i"))
      .orderBy(desc("rank_i"), col("word"))
      .limit(topK)
  }

  /** RAKE keyphrase extraction (Rose et al. 2010) over the corpus:
    * candidate phrases are maximal stopword-free token runs, each
    * content word scores deg(w)/freq(w) — freq = its occurrences,
    * deg = the summed lengths of the phrase occurrences containing it
    * (so words living in LONG collocations outscore equally-frequent
    * loners) — and a phrase scores the sum of its members' scores.
    * The frequency-vs-degree ratio is what lets RAKE surface multiword
    * phrases TextRank's unigram graph cannot.
    *
    * Numerics: the single fp step (deg/freq) micro-rounds to a BIGINT
    * word score, so phrase scores are order-free integer sums and
    * identical phrases provably carry identical scores (the per-word
    * discipline of [[stupidBackoffScores]]). Output: top-`topK`
    * (phrase, n_occurrences, score_micro) by (score, phrase).
    *
    * Scale shape: segmentation is one posexplode + a DOC-partitioned
    * running count (no global window); word stats and phrase scores are
    * map-side-combinable integer aggregations keyed by word / phrase
    * instance; top-k is a TakeOrderedAndProject. Everything downstream
    * of the explode lives at (phrase instance) or vocabulary grain. */
  def rakePhrases(docs: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String], topK: Int = 20): DataFrame = {
    require(stopwords.nonEmpty, "RAKE needs a stopword list")
    val toks = docs
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("i", "w")))
      .filter(length(col("w")) > 0)
      .withColumn("is_stop", col("w").isInCollection(stopwords))
    // phrase id = stopwords seen so far in the doc: a doc-partitioned
    // running count; content tokens keep (doc, seg, i, w)
    val seg = toks
      .withColumn("seg", sum(when(col("is_stop"), 1L).otherwise(0L))
        .over(Window.partitionBy(col("doc_id")).orderBy(col("i"))))
      .filter(!col("is_stop"))
      .select(col("doc_id"), col("seg"), col("i"), col("w"))
      .localCheckpoint() // feeds lengths, word stats, and phrase sums
    val plen = seg.groupBy(col("doc_id"), col("seg"))
      .agg(count(lit(1)).as("plen"))
    val wstats = seg.join(plen, Seq("doc_id", "seg"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("w"),
        round((col("deg").cast("double") / col("freq")) * lit(1e6))
          .cast("long").as("ws_micro"))
    val inst = seg.join(wstats, Seq("w"))
      .groupBy(col("doc_id"), col("seg"))
      .agg(sum(col("ws_micro")).as("score_micro"),
        transform(array_sort(collect_list(struct(col("i"), col("w")))),
          s => s.getField("w")).as("pw"))
    inst
      .select(array_join(col("pw"), " ").as("phrase"),
        col("score_micro"))
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"),
        max(col("score_micro")).as("score_micro"))
      .orderBy(desc("score_micro"), col("phrase"))
      .limit(topK)
  }
}
