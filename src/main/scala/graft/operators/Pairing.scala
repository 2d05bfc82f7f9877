package graft.operators

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** J1 — test↔answer-key PDF pairing.
  *
  * The reference classifies files by `PV` (test) / `GB` (answer key)
  * markers then nested-loop matches on (day, color) substrings, aborting
  * the whole folder if any test lacks a key (pdf_to_qdrant_etl.py:44-73).
  * Re-expressed as a broadcast inner equi-join on (day, color), with the
  * abort condition as an anti-join count (SURVEY.md op J1).
  */
object Pairing {

  /** (file_name, kind, year, day, color) from each file name. */
  private def classify(files: DataFrame): DataFrame =
    files.select(col("file_name"),
      TF.kindOf(col("file_name")).as("kind"),
      TF.yearOf(col("file_name")).as("year"),
      TF.dayOf(col("file_name")).as("day"),
      TF.colorOf(col("file_name")).as("color"))

  /** files: one column `file_name`. Returns (file_name, answer_file).
    *
    * The join key includes the year: a folder carrying the same (day,
    * color) across several years must not cross-pair tests with another
    * year's key. The reference pairs each test with exactly one key (first
    * match then break), so output multiplicity is 1:1; `min` over the
    * matched keys pins that determinism even if a folder ships duplicate
    * keys for one (year, day, color). */
  def pair(files: DataFrame): DataFrame = {
    val classified = classify(files)
    val tests = classified.filter(col("kind") === "PV")
      .select(col("file_name"), col("year"), col("day"), col("color"))
    val keys = classified.filter(col("kind") === "GB")
      .select(col("file_name").as("answer_file"), col("year"), col("day"),
        col("color"))
    tests.join(broadcast(keys), Seq("year", "day", "color"))
      .groupBy(col("file_name"))
      .agg(min(col("answer_file")).as("answer_file"))
  }

  /** The reference's abort semantics: any unpaired test ⇒ empty result.
    * Returns the unpaired tests (caller raises if non-empty). */
  def unpairedTests(files: DataFrame): DataFrame = {
    val classified = classify(files)
    val tests = classified.filter(col("kind") === "PV")
    val keys = classified.filter(col("kind") === "GB")
      .select(col("year"), col("day"), col("color"))
    tests.join(keys, Seq("year", "day", "color"), "left_anti")
      .select(col("file_name"))
  }
}
