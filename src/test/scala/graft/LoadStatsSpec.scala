package graft

import graft.stats.LoadStats
import java.nio.file.Files

class LoadStatsSpec extends SparkSpec {

  test("pivot matches the reference's stats-CSV shape " +
    "(extraction_metadata/test_extraction_metadata.csv)") {
    import spark.implicits._
    // the reference's recorded 2022 run: attempted == added per subject.
    val counts = for {
      kind <- Seq("todas questoes", "questoes add")
      (subj, n) <- Seq("math" -> 37L, "natu" -> 29L, "spani" -> 3L,
        "lang" -> 24L, "huma" -> 26L)
    } yield (2022, subj, kind, n)
    val got = LoadStats.pivot(counts.toDF("year", "subject", "kind", "n"))
      .collect().map(r => r.toSeq).sortBy(_.head.toString)
    assert(got.length === 2)
    // columns: row_key, eng, lang, spani, natu, math, huma
    assert(got(0) === Seq("2022 questoes add", 0L, 24L, 3L, 29L, 37L, 26L))
    assert(got(1) === Seq("2022 todas questoes", 0L, 24L, 3L, 29L, 37L, 26L))
  }

  test("pivot fails LOUDLY on a subject outside the whitelist and on " +
      "duplicate (year, subject, kind) keys — silent drops and " +
      "arbitrary first() winners both under-report the stats CSV") {
    import spark.implicits._
    val unknown = Seq((2022, "physics", "todas questoes", 5L))
      .toDF("year", "subject", "kind", "n")
    val e1 = intercept[IllegalArgumentException] {
      LoadStats.pivot(unknown)
    }
    assert(e1.getMessage.contains("physics"))
    val dup = Seq((2022, "math", "todas questoes", 5L),
      (2022, "math", "todas questoes", 7L))
      .toDF("year", "subject", "kind", "n")
    val e2 = intercept[IllegalArgumentException] {
      LoadStats.pivot(dup)
    }
    assert(e2.getMessage.contains("duplicate"))
  }

  test("mergeWithExisting: new rows win, old rows survive") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stats").toString
    val csv = s"$dir/stats.csv"
    val first = Seq((2022, "math", "todas questoes", 37L))
      .toDF("year", "subject", "kind", "n")
    LoadStats.writeCsv(LoadStats.pivot(first), csv)

    // second run: same key with a new count (wins) + a new year (appends).
    val second = Seq((2022, "math", "todas questoes", 40L),
      (2023, "lang", "todas questoes", 31L))
      .toDF("year", "subject", "kind", "n")
    val merged = LoadStats.mergeWithExisting(spark, Some(csv), second)
      .collect().map(r => (r.getString(0), r.getAs[Long]("math"),
        r.getAs[Long]("lang"))).sortBy(_._1)
    assert(merged === Array(
      ("2022 todas questoes", 40L, 0L),
      ("2023 todas questoes", 0L, 31L)))
  }

  test("mergeWithExisting: an existing CSV whose header differs from the " +
      "declared stats columns fails loudly instead of misaligning counts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stats_hdr").toString
    val csv = s"$dir/stats.csv"
    // same column count, two subjects swapped: read by position, the
    // math counts would land under lang
    val swapped = "row_key" +: LoadStats.Subjects.map {
      case "math" => "lang"
      case "lang" => "math"
      case s => s
    }
    LoadStats.pivot(Seq((2022, "math", "todas questoes", 37L))
        .toDF("year", "subject", "kind", "n"))
      .toDF(swapped: _*)
      .coalesce(1).write.option("header", "true").csv(csv)
    val counts = Seq((2023, "lang", "todas questoes", 31L))
      .toDF("year", "subject", "kind", "n")
    val e = intercept[Exception] {
      LoadStats.mergeWithExisting(spark, Some(csv), counts).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("header")), s"not the header check: $e")
  }
}

/** The stats CSV's exact bytes, written by `writeCsv`, for the cases the
  * pipeline meets: a fresh file, a merge where the newest rows win, a
  * null-year key, and an empty batch merged into an existing file. */
class LoadStatsBytesSpec extends SparkSpec {
  import spark.implicits._

  private def counts(rows: (Option[Int], String, String, Long)*) =
    rows.map { case (y, s, k, n) => (y.map(Int.box).orNull, s, k, n) }
      .toDF("year", "subject", "kind", "n")

  /** Writes `stats` as the pipeline does and returns the one part file. */
  private def bytes(stats: org.apache.spark.sql.DataFrame): String = {
    val out = Files.createTempDirectory("graft_stats_bytes").resolve("s.csv")
    LoadStats.writeCsv(stats, out.toString)
    val parts = out.toFile.listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length === 1)
    new String(Files.readAllBytes(parts.head.toPath), "UTF-8")
  }

  private val header = "row_key,eng,lang,spani,natu,math,huma\n"

  test("golden bytes: a fresh file") {
    assert(bytes(LoadStats.pivot(counts(
        (Some(2023), "math", "todas questoes", 45L),
        (Some(2023), "eng", "todas questoes", 5L),
        (Some(2023), "math", "questoes add", 44L),
        (Some(2022), "huma", "questoes add", 1L)))) ===
      header +
        "2022 questoes add,0,0,0,0,0,1\n" +
        "2023 questoes add,0,0,0,0,44,0\n" +
        "2023 todas questoes,5,0,0,0,45,0\n")
  }

  test("golden bytes: a merge keeps old rows, newest rows win, a null " +
      "year keys by kind alone") {
    val dir = Files.createTempDirectory("graft_stats_merge")
    val old = dir.resolve("old.csv").toString
    LoadStats.writeCsv(LoadStats.pivot(counts(
      (Some(2022), "math", "todas questoes", 37L),
      (Some(2021), "natu", "questoes add", 2L))), old)
    val merged = LoadStats.mergeWithExisting(spark, Some(old), counts(
      (Some(2022), "math", "todas questoes", 40L),
      (None, "lang", "todas questoes", 3L),
      (Some(2023), "spani", "questoes add", 7L)))
    assert(bytes(merged) ===
      header +
        "2021 questoes add,0,0,0,2,0,0\n" +
        "2022 todas questoes,0,0,0,0,40,0\n" +
        "2023 questoes add,0,0,7,0,0,0\n" +
        "todas questoes,0,3,0,0,0,0\n")
  }

  test("golden bytes: an empty batch merged into an existing file " +
      "rewrites it unchanged") {
    val dir = Files.createTempDirectory("graft_stats_empty")
    val old = dir.resolve("old.csv").toString
    LoadStats.writeCsv(LoadStats.pivot(counts(
      (Some(2022), "math", "todas questoes", 37L),
      (Some(2022), "eng", "questoes add", 5L))), old)
    val want = bytes(LoadStats.mergeWithExisting(spark, None, counts(
      (Some(2022), "math", "todas questoes", 37L),
      (Some(2022), "eng", "questoes add", 5L))))
    assert(bytes(LoadStats.mergeWithExisting(spark, Some(old), counts())) ===
      want)
    assert(want === header + "2022 questoes add,5,0,0,0,0,0\n" +
      "2022 todas questoes,0,0,0,0,37,0\n")
  }

  test("the guards' messages") {
    val e1 = intercept[IllegalArgumentException] {
      LoadStats.pivot(counts((Some(2022), "physics", "todas questoes", 5L)))
    }
    assert(e1.getMessage === "requirement failed: subject 'physics' is not " +
      "in eng/lang/spani/natu/math/huma — the pivot whitelist would " +
      "silently drop its counts")
    val e2 = intercept[IllegalArgumentException] {
      LoadStats.pivot(counts((Some(2022), "math", "todas questoes", 5L),
        (Some(2022), "math", "todas questoes", 7L)))
    }
    assert(e2.getMessage === "requirement failed: duplicate (year, subject, " +
      "kind) = [2022,math,todas questoes,2] in counts — first(n) has no " +
      "well-defined winner")
  }
}
