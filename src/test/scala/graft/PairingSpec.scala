package graft

import graft.functions.{TextFunctions => TF}
import graft.operators.Pairing
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Driver-side pairing against the Column forms it replaced: the file-name
  * classifier against `TextFunctions.kindOf/yearOf/dayOf/colorOf`, and
  * `Pairing.pair`/`unpairedTests` against the relational join kept here as
  * the oracle. */
class PairingSpec extends SparkSpec {
  import spark.implicits._

  /** Both markers in either order, lower case, no year, two years, a
    * five-digit year, `CD10`, and `_`/`.` prefixes. */
  private val names: Seq[String] = for {
    prefix <- Seq("", "_", ".")
    marker <- Seq("PV", "GB", "PVGB", "GBPV", "pv", "gb", "")
    year <- Seq("", "2023", "2019_2023", "20231", "1999")
    day <- Seq("", "D1", "D2", "d1", "D3")
    colour <- Seq("", "CD1", "CD10", "CD9", "cd2")
  } yield prefix + Seq(marker, "ENEM", year, day, colour)
    .filter(_.nonEmpty).mkString("_") + ".pdf"

  private def files: DataFrame = names.toDF("file_name")

  test("the classifier agrees with the TextFunctions Column forms") {
    val want = files.select(col("file_name"),
        TF.kindOf(col("file_name")), TF.yearOf(col("file_name")),
        TF.dayOf(col("file_name")), TF.colorOf(col("file_name")))
      .collect().map(r => r.getString(0) -> Pairing.FileClass(
        Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getInt(2)),
        r.getString(3), r.getString(4))).toMap
    assert(want.size === names.distinct.size)
    for (n <- names) assert(Pairing.classify(n) === want(n), n)
    // the cases the generated set is built to reach
    assert(Pairing.classify("PVGB_ENEM_2019_2023_D2_CD10.pdf") ===
      Pairing.FileClass(Some("GB"), Some(2019), "D2", "CD1"))
    assert(Pairing.classify("pv_ENEM_d1.pdf") ===
      Pairing.FileClass(None, None, "", ""))
  }

  /** The relational pairing `Pairing` ran before it moved to the driver. */
  private def oracle(files: DataFrame): (DataFrame, DataFrame) = {
    val classified = files.select(col("file_name"),
      TF.kindOf(col("file_name")).as("kind"),
      TF.yearOf(col("file_name")).as("year"),
      TF.dayOf(col("file_name")).as("day"),
      TF.colorOf(col("file_name")).as("color"))
    val tests = classified.filter(col("kind") === "PV")
    val keys = classified.filter(col("kind") === "GB")
      .select(col("file_name").as("answer_file"), col("year"), col("day"),
        col("color"))
    (tests.select("file_name", "year", "day", "color")
        .join(broadcast(keys), Seq("year", "day", "color"))
        .groupBy(col("file_name"))
        .agg(min(col("answer_file")).as("answer_file")),
      tests.join(keys, Seq("year", "day", "color"), "left_anti")
        .select(col("file_name")))
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("driver pairing equals the relational join: minimum key wins, the " +
      "year is in the key, a null year never pairs") {
    val (pairs, unpaired) = oracle(files)
    assert(rows(Pairing.pair(files)) === rows(pairs))
    assert(rows(Pairing.unpairedTests(files)) === rows(unpaired))
    // a small folder where each rule decides an outcome
    val folder = Seq(
      "PV_2023_D1_CD1.pdf", "GB_2023_D1_CD1_b.pdf", "GB_2023_D1_CD1_a.pdf",
      "PV_2022_D1_CD1.pdf", "GB_2021_D1_CD1.pdf",
      "PV_D2_CD1.pdf", "GB_D2_CD1.pdf",
      "PV_2023_D2.pdf", "GB_2023_D2.pdf").toDF("file_name")
    val (p, u) = oracle(folder)
    assert(rows(Pairing.pair(folder)) === rows(p))
    assert(rows(Pairing.unpairedTests(folder)) === rows(u))
    assert(Pairing.pairNames(folder.as[String].collect())._1 === Seq(
      "PV_2023_D1_CD1.pdf" -> "GB_2023_D1_CD1_a.pdf",
      "PV_2023_D2.pdf" -> "GB_2023_D2.pdf"))
    assert(rows(u) === Set(Seq("PV_2022_D1_CD1.pdf"), Seq("PV_D2_CD1.pdf")))
  }

  test("pairing launches no job once the names are on the driver") {
    assert(JobCount.of(spark)(Pairing.pairNames(names)) === 0)
    assert(Pairing.pairNames(Seq("PV_2023_D1_CD1.pdf", null)) ===
      ((Seq.empty, Seq("PV_2023_D1_CD1.pdf"))))
  }
}
