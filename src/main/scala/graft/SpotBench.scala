package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-headroom spot bench (VERDICT r16 #8): at sf0.1 every suite
  * query sits on a ~2-3 s fixed session/JIT floor and 8 cores match 32,
  * so sf0.1 walls cannot distinguish a real scale optimization from
  * noise. This tool times the FIVE heaviest shuffle-bound operator
  * kernels on a synthetically enlarged corpus — `SPARK_GRAFT_COPIES`
  * (default 8) deterministic replicas of `documents` with shifted ids
  * and a replica-unique tail token (so replicas are near- but not
  * exact-duplicates of each other and every pair/shingle path does real
  * work) — where per-entry walls are 10-60 s and core-count actually
  * moves them.
  *
  * ADDITIONS-ONLY: `graft.Bench` (the driver's contract) is untouched;
  * this main is run by hand at two core counts and its committed
  * sidecar (`spot_bench_local.json`) carries the 8-vs-32 ratios. Same
  * env contract as Bench: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS. */
object SpotBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_COPIES", "8").toInt
    val spark = LocalSession.create()
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val docs = (0 until copies).map(i => docs0.select(
        (col("doc_id") + lit(i.toLong * 1000000L)).as("doc_id"),
        concat(col("text"), lit(s" replicatoken$i marker$i end$i"))
          .as("text")))
      .reduce(_.unionByName(_))
      // materialize the synthetic corpus OUTSIDE every timed window so
      // entries time the operator, not the replica union
      .localCheckpoint()

    // untimed warmup: JIT/codegen + the kernels' hot paths
    spark.sparkContext.setJobDescription("spot: warmup")
    noop(graft.operators.Dedup.minhashLshPairs(
      docs0, "doc_id", "text", n = 3, k = 64, bands = 16, threshold = 0.8))

    val entries: Seq[(String, () => DataFrame)] = Seq(
      "spot_prefix_jaccard" -> (() =>
        graft.operators.Dedup.prefixFilterJaccardPairs(
          docs, "doc_id", "text", n = 3, threshold = 0.8)),
      "spot_minhash_lsh" -> (() =>
        graft.operators.Dedup.minhashLshPairs(
          docs, "doc_id", "text", n = 3, k = 64, bands = 16,
          threshold = 0.8)),
      "spot_winnow_pairs" -> (() =>
        graft.operators.TextAnalysis.winnowCandidatePairs(
          docs, "doc_id", "text", k = 4, w = 5, minShared = 3,
          maxDf = 100 * copies)),
      "spot_substring_spans" -> (() =>
        graft.operators.Dedup.duplicateSpans(
          docs, "doc_id", "text", winLen = 32)),
      "spot_gate_dedup_pack" -> (() => {
        // flagship stages 2-4 (quality gate -> LSH dedup -> connected
        // components -> packing) over the scaled corpus — the pipeline's
        // shuffle-heavy core without the row-grain codec stage
        val q = graft.operators.TextAnalysis
          .qualityFrame(docs, "doc_id", "text")
          .select(col("doc_id"),
            round(col("quality") * 10000).cast("long").as("q4"))
          .localCheckpoint()
        val med = q.agg(percentile(col("q4"), lit(0.5)))
          .first().getDouble(0)
        val kept = docs.join(
          q.filter(col("q4") > lit(med)).select("doc_id"), Seq("doc_id"))
        val pairs = graft.operators.Dedup.minhashLshPairs(kept, "doc_id",
          "text", n = 3, k = 64, bands = 16, threshold = 0.8)
        val uniq = graft.operators.Dedup
          .dropNearDuplicates(kept, "doc_id", pairs)
        graft.operators.Packing.packSequences(
          uniq.select(col("doc_id"),
            size(graft.functions.Fingerprints.tokens(col("text")))
              .cast("long").as("tok")),
          "doc_id", "tok", Seq("doc_id"), seqLen = 512)
      }))

    val walls = entries.map { case (name, f) =>
      spark.sparkContext.setJobDescription(s"spot: $name")
      val t0 = System.nanoTime()
      val ok = try { noop(f()); true }
      catch { case e: Throwable =>
        System.err.println(s"[spot] $name failed: ${e.getMessage}"); false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[spot] $name%-24s $dt%.2f s ok=$ok")
      (name, dt, ok)
    }
    val qs = walls.map { case (k, v, _) => "\"" + k + f"\":$v%.2f" }
      .mkString("{", ",", "}")
    val failed = walls.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    println(f"""{"metric":"spot_total","value":${walls.map(_._2).sum}%.2f,"unit":"sec","sf":"$sfDir","copies":$copies,"cpus":${LocalSession.cpus},"failed":$failed,"queries":$qs}""")
    spark.stop()
  }
}
