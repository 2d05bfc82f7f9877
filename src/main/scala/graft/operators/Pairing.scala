package graft.operators

import graft.functions.Utf8Order
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** J1 — test↔answer-key PDF pairing.
  *
  * The reference classifies files by `PV` (test) / `GB` (answer key)
  * markers then nested-loop matches on (day, color) substrings, aborting
  * the whole folder if any test lacks a key (pdf_to_qdrant_etl.py:44-73).
  * File names are metadata, so this runs on the driver: no Spark job.
  */
object Pairing {

  /** A file name's fields as the `TextFunctions` Column forms read them:
    * `kindOf` (`GB` wins over `PV`), then the first match of `yearOf`,
    * `dayOf` and `colorOf` — None, "" and "" when absent. */
  final case class FileClass(kind: Option[String], year: Option[Int],
      day: String, color: String)

  private val (year, day, color) = ("20\\d{2}".r, "D[12]".r, "CD[1-9]".r)

  def classify(name: String): FileClass =
    FileClass(Seq("GB", "PV").find(name.contains),
      year.findFirstIn(name).map(_.toInt), day.findFirstIn(name).getOrElse(""),
      color.findFirstIn(name).getOrElse(""))

  /** (test → key pairs, unpaired tests), sorted by test in Spark's string
    * order. The key (year, day, color) includes the year, so years never
    * cross-pair and a name without one never pairs; of duplicate keys the
    * minimum name wins, as the reference takes one (first match, break). */
  def pairNames(names: Iterable[String])
      : (Seq[(String, String)], Seq[String]) = {
    val classified = names.iterator.filter(_ != null).toSeq.distinct
      .sorted(Utf8Order.ordering).map(n => n -> classify(n))
    val keys = classified.collect {
      case (n, FileClass(Some("GB"), Some(y), d, c)) => (y, d, c) -> n }
      .groupMapReduce(_._1)(_._2)(Utf8Order.ordering.min)
    val tests = classified.collect { case (n, FileClass(Some("PV"), y, d, c)) =>
      n -> y.flatMap(y => keys.get((y, d, c))) }
    (tests.collect { case (n, Some(key)) => n -> key },
      tests.collect { case (n, None) => n })
  }

  private def local(files: DataFrame, rows: Seq[Row], cols: String*) =
    files.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(cols.map(StructField(_, StringType))))

  private def names(files: DataFrame): Seq[String] =
    files.select("file_name").distinct().collect().toSeq.map(_.getString(0))

  /** files: one column `file_name`. Returns (file_name, answer_file). */
  def pair(files: DataFrame): DataFrame = local(files,
    pairNames(names(files))._1.map(p => Row(p._1, p._2)),
    "file_name", "answer_file")

  /** The unpaired tests of `files`; the caller raises if non-empty. */
  def unpairedTests(files: DataFrame): DataFrame =
    local(files, pairNames(names(files))._2.map(Row(_)), "file_name")
}
