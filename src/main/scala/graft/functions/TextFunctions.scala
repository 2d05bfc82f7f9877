package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's string/regex scalar pipeline (SURVEY.md §2.3, ops T1-T13)
  * re-expressed as composable, codegen'd Column functions — every one of these
  * is a built-in Catalyst expression, so the whole extract stage stays inside
  * WholeStageCodegen with pushdown/pruning intact.
  */
object TextFunctions {

  val Marker = "QUESTÃO"

  /** T1 — normalize the question marker (enem_pdf_extractor.py:237, :278). */
  def normalizeMarker(text: Column): Column =
    regexp_replace(text, "Questão", Marker)

  /** T2 — strip `*XXXXXXXXX*` / `*XXXXXXXXXX*` barcode tokens
    * (enem_pdf_extractor.py:44-45, :245-246). */
  def stripBarcodes(text: Column): Column =
    regexp_replace(text, "\\*\\w{9,10}\\*", "")

  /** T3 — drop everything before the first marker; empty string if the page
    * has no marker (enem_pdf_extractor.py:238-243, with F2 upstream). */
  def trimHeader(text: Column, marker: String = Marker): Column =
    when(instr(text, marker) > 0,
      substring(text, instr(text, marker), length(text)))
      .otherwise(lit(""))

  /** T6 — tokenize a page into per-question slices: one slice per marker
    * occurrence, in page order (enem_pdf_extractor.py:179-186 + slicing
    * loops :433-504). The pre-marker header slice is dropped (F6 — the
    * position-0 match, :434-435); every marker occurrence yields exactly one
    * slice so downstream numbering (W1) counts markers, not surviving rows.
    * Returns ARRAY<STRING>; `posexplode` it for (pos_in_page, body). */
  def questionSlices(pageText: Column, marker: String = Marker): Column = {
    // T4 sentinel: the reference appends " QUESTÃO" before slicing
    // (enem_pdf_extractor.py:263), so the page's LAST slice carries the
    // sentinel's leading space — byte-significant for golden parity.
    val parts = split(concat(pageText, lit(" ")), marker)
    // drop element 1 (header before the first marker); keep one slice per
    // marker even if its body is empty, so counts stay faithful.
    slice(parts, lit(2), greatest(size(parts) - 1, lit(0)))
  }

  /** T7 — split loaded text into question chunks at `(RESPOSTA CORRETA)`
    * with the reference's 22-char buffer that keeps ": X\n" inside the
    * chunk (qdrant_text_loader.py:66-76, buffer :71): chunk i runs from the
    * end of chunk i-1 to key-position + 22, so chunks after the first carry
    * the record separator's leading newline — byte-exact with the
    * reference's generator (verified against the golden TXT artifacts).
    * Once-per-file work, off the hot path, so the Column form is a UDF. */
  val AnswerKeyStr = "(RESPOSTA CORRETA)"
  private val AnswerBuffer = 22

  def chunkSplit(text: String): Seq[String] = {
    if (text == null) return Seq.empty
    val out = Seq.newBuilder[String]
    var cur = 0
    var pos = text.indexOf(AnswerKeyStr, cur)
    while (pos != -1) {
      val end = math.min(pos + AnswerBuffer, text.length)
      out += text.substring(cur, end)
      cur = end
      pos = text.indexOf(AnswerKeyStr, cur)
    }
    out.result()
  }

  def answerChunks(text: Column): Column =
    udf((s: String) => chunkSplit(s)).apply(text)

  /** Overlapping sliding-window chunks — the RAG/embedding chunker shape
    * (fixed window `size`, stride < size ⇒ consecutive chunks share
    * size − stride chars of context, so no retrieval-relevant span is cut
    * at a hard boundary like T7's delimiter chunks). Starts are
    * 0, stride, 2·stride, …, clamped so the LAST chunk ends exactly at the
    * text end (full coverage, no short tail); a text shorter than `size`
    * is one chunk. Pure codegen'd expression tree — sequence + transform +
    * substr, no UDF — so it inlines into whole-stage codegen next to the
    * embed/id columns that consume it. */
  def slidingChunks(text: Column, size: Int, stride: Int): Column = {
    require(stride > 0 && size >= stride,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    val len = length(text)
    val n = when(len <= size, lit(1)).otherwise(
      floor((len - size + lit(stride - 1)).cast("double") / stride)
        .cast("int") + 1)
    transform(sequence(lit(0), n - 1), i =>
      text.substr(greatest(least(i * stride, len - size), lit(0)) + 1,
        lit(size)))
  }

  /** Start offset of sliding chunk `idx` — the companion of
    * [[slidingChunks]] for provenance columns (byte ranges back into the
    * source document). */
  def slidingChunkStart(text: Column, idx: Column, size: Int,
      stride: Int): Column =
    greatest(least(idx * stride, length(text) - size), lit(0))

  /** T8 — filename field extraction (enem_pdf_extractor.py:40-49, :979-980;
    * qdrant_text_loader.py:26-27; pdf_to_qdrant_etl.py:50-51). */
  def yearOf(fileName: Column): Column = // NULL, not a failed cast, if absent
    nullif(regexp_extract(fileName, "(20\\d{2})", 1), lit("")).cast("int")
  def dayOf(fileName: Column): Column =
    regexp_extract(fileName, "(D[12])", 1)
  def colorOf(fileName: Column): Column =
    regexp_extract(fileName, "(CD[1-9])", 1)
  def kindOf(fileName: Column): Column =
    when(fileName.contains("GB"), lit("GB"))
      .when(fileName.contains("PV"), lit("PV"))
      .otherwise(lit(null).cast("string"))

  /** T10 — displayed-question renumbering: D1 subtracts the 5-question
    * English/Spanish overlap for n>5; D2 prints n+90
    * (enem_pdf_extractor.py:342-345, :213). */
  def displayedNum(day: Column, n: Column): Column =
    when(day === "D1", when(n > 5, n - 5).otherwise(n)).otherwise(n + 90)

  /** T11 — Spanish-question flag: raw position 6..10 on D1
    * (enem_pdf_extractor.py:437-440, :707-710). */
  def isSpanish(day: Column, n: Column): Column =
    day === "D1" && n.between(6, 10)

  /** T12 — stable question id `{year}_{day}_N{num}`
    * (enem_pdf_extractor.py:354). */
  def questionId(year: Column, day: Column, num: Column): Column =
    concat_ws("_", year, day, concat(lit("N"), num))

  /** T13 — TXT-mode record template (enem_pdf_extractor.py:47, :463). */
  def txtRecord(year: Column, text: Column, answer: Column): Column =
    format_string("(Enem/%d)  %s\n(RESPOSTA CORRETA): %s\n\n",
      year, text, answer)
}
