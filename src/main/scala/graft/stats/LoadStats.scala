package graft.stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** A4/S7 — the pivoted extraction-stats table
  * (qdrant_text_loader.py:78-120; golden shape
  * extraction_metadata/test_extraction_metadata.csv).
  *
  * Rows `"{year} todas questoes"` / `"{year} questoes add"`, one column per
  * subject, cell = count; merged idempotently with any previous stats file.
  */
object LoadStats {

  val Subjects = Seq("eng", "lang", "spani", "natu", "math", "huma")

  /** The stats CSV's columns as `writeCsv` writes them: `row_key` then
    * one count per subject. */
  val CsvSchema: StructType = StructType(
    StructField("row_key", StringType) +: Subjects.map(StructField(_, LongType)))

  /** counts: (year INT, subject STRING, kind STRING ∈ {todas questoes,
    * questoes add}, n LONG) → pivoted stats frame. Inputs are guarded
    * LOUDLY (the frame is stats-sized, the checks cost nothing): a
    * subject outside [[Subjects]] would be silently DROPPED by the
    * pivot whitelist, and a duplicate (year, subject, kind) key would
    * make `first(n)` pick an arbitrary row — both must fail instead. */
  def pivot(counts: DataFrame): DataFrame = {
    val unknown = counts.select(col("subject"))
      .filter(!col("subject").isin(Subjects: _*)).limit(1).collect()
    require(unknown.isEmpty,
      s"subject '${unknown.headOption.map(_.getString(0)).orNull}' is " +
        s"not in ${Subjects.mkString("/")} — the pivot whitelist would " +
        "silently drop its counts")
    val dup = counts.groupBy(col("year"), col("subject"), col("kind"))
      .count().filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"duplicate (year, subject, kind) = ${dup.headOption.orNull} in " +
        "counts — first(n) has no well-defined winner")
    val keyed = counts.withColumn("row_key",
      concat_ws(" ", col("year"), col("kind")))
    keyed.groupBy(col("row_key")).pivot("subject", Subjects)
      .agg(first(col("n")))
      .select(col("row_key") +:
        Subjects.map(s => coalesce(col(s), lit(0L)).as(s)): _*)
      .orderBy(col("row_key"))
  }

  /** Merge new counts into an existing stats CSV (read-old union new,
    * new rows win), then pivot — the reference's read-modify-write merge
    * (qdrant_text_loader.py:105-120) as an idempotent batch op. */
  def mergeWithExisting(spark: SparkSession, existingCsv: Option[String],
      counts: DataFrame): DataFrame = {
    val newPivot = pivot(counts)
    // existence via the Hadoop FS like the write side — a java.io.File
    // check is always false against hdfs://-/s3a://-style paths, which
    // would silently discard the existing stats on merge
    def existsFs(p: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    }
    existingCsv match {
      case Some(p) if existsFs(p) =>
        // declared, not inferred (inference costs two jobs); with
        // enforceSchema off, a header that differs from CsvSchema fails
        // the read instead of binding columns by position
        val old = spark.read.schema(CsvSchema).option("header", "true")
          .option("enforceSchema", "false").csv(p)
        val newKeys = newPivot.select("row_key")
        old.join(newKeys, Seq("row_key"), "left_anti")
          .unionByName(newPivot)
          .orderBy(col("row_key"))
      case _ => newPivot
    }
  }

  /** S7 sink: single-file CSV with header (stats are tiny — coalesce(1)
    * is correct here, not a scale concern). */
  def writeCsv(stats: DataFrame, path: String): Unit =
    stats.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(path)
}
