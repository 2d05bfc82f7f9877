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
