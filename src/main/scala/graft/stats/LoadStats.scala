package graft.stats

import graft.functions.Utf8Order
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** A4/S7 — the pivoted extraction-stats table
  * (qdrant_text_loader.py:78-120; golden shape
  * extraction_metadata/test_extraction_metadata.csv).
  *
  * Rows `"{year} todas questoes"` / `"{year} questoes add"`, one column per
  * subject, cell = count; merged idempotently with any previous stats file.
  * A dozen rows, so pivoted and merged as driver rows, like the reference.
  */
object LoadStats {

  val Subjects = Seq("eng", "lang", "spani", "natu", "math", "huma")

  /** The stats CSV's columns as `writeCsv` writes them: `row_key` then
    * one count per subject. */
  val CsvSchema: StructType = StructType(
    StructField("row_key", StringType) +: Subjects.map(StructField(_, LongType)))

  /** One count; `year` as the row key prints it, None for a null year. */
  final case class Count(year: Option[String], subject: String, kind: String, n: Long)

  /** counts → rows keyed `concat_ws(" ", year, kind)`, a missing subject
    * 0. Guarded LOUDLY: the whitelist would DROP an unknown subject, and a
    * duplicate (year, subject, kind) has no well-defined winner. */
  private def pivotRows(counts: Seq[Count]): Seq[Row] = {
    val unknown = counts.map(_.subject).find(s => s != null && !Subjects.contains(s))
    require(unknown.isEmpty, s"subject '${unknown.orNull}' is not in " +
      s"${Subjects.mkString("/")} — the pivot whitelist would silently " +
      "drop its counts")
    val dup = counts.groupBy(c => (c.year, c.subject, c.kind)).collectFirst {
      case ((y, s, k), cs) if cs.size > 1 => Row(y.orNull, s, k, cs.size) }
    require(dup.isEmpty, s"duplicate (year, subject, kind) = ${dup.orNull} in " +
      "counts — first(n) has no well-defined winner")
    counts.groupBy(c => (c.year ++ Option(c.kind)).mkString(" ")).toSeq
      .map { case (key, cs) =>
        Row(key +: Subjects.map(s =>
          cs.find(_.subject == s).fold(0L)(_.n)): _*) }
  }

  /** The reference's read-modify-write merge (qdrant_text_loader.py:
    * 105-120) as a local frame: the existing CSV's rows whose key `counts`
    * lack, plus the rows of `counts`, sorted by `row_key`. */
  def merged(spark: SparkSession, existingCsv: Option[String],
      counts: Seq[Count]): DataFrame = {
    val fresh = pivotRows(counts)
    val freshKeys = fresh.map(_.getString(0)).toSet
    // exists via the Hadoop FS (java.io.File misses hdfs:// and s3a://);
    // read with the declared schema, and enforceSchema off, so a header
    // that differs from CsvSchema fails instead of binding by position
    val old = existingCsv.map(new org.apache.hadoop.fs.Path(_))
      .filter(p => p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      .fold(Seq.empty[Row])(p => spark.read.schema(CsvSchema)
        .option("header", "true").option("enforceSchema", "false")
        .csv(p.toString).collect().toSeq)
      .filterNot(r => freshKeys(r.getString(0)))
    // a null key sorts first, as in Spark's ascending order
    val rows = (old ++ fresh).sortBy(r => Option(r.getString(0)))(
      Ordering.Option(Utf8Order.ordering))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), CsvSchema)
  }

  private def collected(counts: DataFrame): Seq[Count] =
    counts.select("year", "subject", "kind", "n").collect().toSeq.map(r =>
      Count(Option(r.get(0)).map(_.toString), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) 0L else r.getAs[Number](3).longValue))

  /** counts: (year, subject, kind ∈ {todas questoes, questoes add}, n)
    * → the pivoted stats frame. */
  def pivot(counts: DataFrame): DataFrame =
    merged(counts.sparkSession, None, collected(counts))

  def mergeWithExisting(spark: SparkSession, existingCsv: Option[String],
      counts: DataFrame): DataFrame =
    merged(spark, existingCsv, collected(counts))

  /** S7 sink: single-file CSV with header (stats are tiny — coalesce(1)
    * is correct here, not a scale concern). */
  def writeCsv(stats: DataFrame, path: String): Unit =
    stats.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(path)
}
