package graft.operators

import graft.functions.{Alternatives, TextFunctions => TF}
import graft.model.SubjectRange
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The extract stage (E2): pages → per-question records as ONE declarative
  * plan. The reference's 4 near-duplicate imperative handlers
  * (enem_pdf_extractor.py:393-938) collapse into this single lineage
  * parameterized by the `day` column and an images-mode flag (SURVEY.md §3
  * E2 "Spark shape").
  *
  * Scale posture: everything before the answer-key join is a narrow
  * per-page/per-question pipeline (no shuffle); the two joins broadcast
  * (key ≤ 180 rows/booklet, ranges = 6 rows); the only shuffle is the
  * per-file window for in-booklet numbering — partitioned by file, never
  * global.
  */
object ExtractPipeline {

  /** pages: (file_name, page_idx, page_text, has_images). Returns one row
    * per QUESTÃO occurrence with in-booklet numbering (W1), subject (T9/J3),
    * displayed number (T10), and parsed alternatives (T5/F4) — everything
    * but the answer join. */
  def questionsFromPages(pages: DataFrame,
      imagesMode: Boolean = false): DataFrame = {
    val spark = pages.sparkSession

    // F1 skip cover page; T1 normalize marker; F2 drop question-less pages.
    val prepped = pages
      .filter(col("page_idx") >= 1)
      .withColumn("t", TF.normalizeMarker(col("page_text")))
      .filter(instr(col("t"), TF.Marker) > 0)
      // T2 strip barcodes; T3 trim header.
      .withColumn("t", TF.trimHeader(TF.stripBarcodes(col("t"))))

    // T6: one slice per marker occurrence, in page order.
    val sliced = prepped.select(
      col("file_name"), col("page_idx"), col("has_images"),
      posexplode(TF.questionSlices(col("t"))).as(Seq("pos", "body")))

    // W1: in-booklet question number — counts EVERY marker, including ones
    // on image pages that no-images mode later drops (F3 semantics:
    // enem_pdf_extractor.py:256-261 keeps the count advancing).
    val numbered = sliced.withColumn("n",
      row_number().over(Window.partitionBy(col("file_name"))
        .orderBy(col("page_idx"), col("pos"))))

    // F3: in no-images mode, drop questions from pages that have images.
    val visible =
      if (imagesMode) numbered
      else numbered.filter(!col("has_images"))

    // T8 filename fields; T10 displayed number; T11 Spanish flag.
    val withMeta = visible
      .withColumn("year", TF.yearOf(col("file_name")))
      .withColumn("day", TF.dayOf(col("file_name")))
      .withColumn("displayed_num", TF.displayedNum(col("day"), col("n")))
      .withColumn("is_spanish", TF.isSpanish(col("day"), col("n")))

    // T5 alternatives parse (UDF — runs once per question record).
    val parseAlts = udf((s: String) => Alternatives.parse(s))
    val parsed = withMeta
      .withColumn("parsed",
        parseAlts(concat(lit(TF.Marker), col("body"))))
      .select(col("file_name"), col("page_idx"), col("n"),
        col("year"), col("day"), col("displayed_num"), col("is_spanish"),
        col("parsed.question_text").as("question_text"),
        col("parsed.alternatives").as("alternatives"),
        col("parsed.standard").as("standard"))

    // F4: drop non-standard questions (<5 alternatives / image alternative).
    val standard = parsed.filter(col("standard")).drop("standard")

    // T9/J3: subject bucketing as a broadcast range join over data.
    import spark.implicits._
    val ranges = SubjectRange.all.toDF().withColumnRenamed("day", "r_day")
    standard.join(broadcast(ranges),
        col("day") === col("r_day") && col("n").between(col("lo"), col("hi")))
      .drop("r_day", "lo", "hi")
      // T12 stable id (uses the displayed number, :354 via :342-345).
      .withColumn("id",
        TF.questionId(col("year"), col("day"), col("displayed_num")))
  }

  /** Full extract: pages + answer-key texts → Dataset-of-Question-shaped
    * DataFrame (dict mode). `pairs` maps test file → key file (J1). */
  def extract(pages: DataFrame, keyTexts: DataFrame, pairs: DataFrame,
      imagesMode: Boolean = false): DataFrame = {
    val questions = questionsFromPages(pages, imagesMode)
      .join(broadcast(pairs), Seq("file_name"))
    val key = AnswerKey.parse(keyTexts, "file_name", "key_text")
    AnswerKey.joinAnswers(questions, key,
        col("answer_file"), col("displayed_num"), col("is_spanish"))
      .withColumnRenamed("displayed_num", "question_num")
      .select(col("question_text"), col("correct_answer"),
        col("alternatives"), col("id"), col("year"), col("day"),
        col("question_num"), col("subject"), col("file_name"))
  }

  /** Typed boundary: the extract output as Dataset[Question] (fixed
    * schema, nullable page_images — SURVEY.md §1.2's normalization of the
    * reference's variant JSON records). */
  def extractTyped(pages: DataFrame, keyTexts: DataFrame, pairs: DataFrame,
      imagesMode: Boolean = false)
      : org.apache.spark.sql.Dataset[graft.model.Question] = {
    val spark = pages.sparkSession
    import spark.implicits._
    extract(pages, keyTexts, pairs, imagesMode)
      .withColumn("page_images",
        lit(null).cast("array<string>"))
      .select(col("question_text"), col("correct_answer"),
        col("alternatives"), col("page_images"), col("id"), col("year"),
        col("day"), col("question_num"), col("subject"))
      .as[graft.model.Question]
  }

  /** T13: TXT-mode projection of extracted questions. */
  def toTxtRecords(questions: DataFrame): DataFrame =
    questions.select(col("year"), col("subject"),
      TF.txtRecord(col("year"), col("question_text"), col("correct_answer"))
        .as("record"))
}
