package graft

import graft.queries.{CompressionQueries, CoreQueries, CurationQueries, ExtensionQueries, GraphQueries, PipelineQueries, RankingQueries, TrainingQueries, WebQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries live in graft.queries.{CoreQueries, ExtensionQueries}; the
  * operator implementations in graft.operators / graft.functions. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001 (driver smoke-checks rows>0):
    * the full E1 shape — facts through dims, filter, aggregate, window rank. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    def t(n: String) = spark.read.parquet(s"$d/$n.parquet")
    val joined = t("lineitem")
      .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t("customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t("nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t("region")), col("n_regionkey") === col("r_regionkey"))
    val agg = joined
      .groupBy(col("r_name"), year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"), count(lit(1)).as("n_lines"))
    agg.withColumn("rank_in_year",
        row_number().over(Window.partitionBy(col("o_year"))
          .orderBy(desc("revenue"), col("r_name"))))
      .orderBy(col("o_year"), col("rank_in_year"))
  }

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ ExtensionQueries.queries ++
      CurationQueries.queries ++ TrainingQueries.queries ++
      GraphQueries.queries ++ CompressionQueries.queries ++
      RankingQueries.queries ++ WebQueries.queries ++
      PipelineQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for ops whose output is defined by
    * engine-internal hashing or approximation (rows-only check). */
  def oracleSql: Map[String, String] =
    CoreQueries.oracles ++ ExtensionQueries.oracles ++
      CurationQueries.oracles ++ TrainingQueries.oracles ++
      GraphQueries.oracles ++ CompressionQueries.oracles ++
      RankingQueries.oracles ++ WebQueries.oracles ++
      PipelineQueries.oracles
}
