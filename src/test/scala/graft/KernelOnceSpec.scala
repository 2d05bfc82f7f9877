package graft

import graft.operators.{Dedup, LshIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every candidate-pair generator computes its kernel (signatures,
  * projections, cell assignments) once per call: it reads its input once,
  * however many plan branches consume the kernel. The input is a
  * parquet-backed frame whose id column runs through a counting UDF. A
  * `toDF` local relation would not do: the optimizer folds projections
  * over a local relation on the driver, so the tap would count planner
  * passes, not evaluations. */
class KernelOnceSpec extends SparkSpec {
  import spark.implicits._

  private val words = Array("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi",
    "omicron", "pi", "rho", "sigma", "tau", "upsilon")

  /** 80 docs of 20 words; every fourth doc is its predecessor with the
    * last word swapped, so each generator verifies real candidates. */
  private def texts(seed: Int, from: Long, count: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    var prev = ""
    (0 until count).map { i =>
      val t =
        if (i % 4 == 3) prev.split(" ").dropRight(1).mkString(" ") + " omega"
        else Seq.fill(20)(words(rnd.nextInt(words.length))).mkString(" ")
      prev = t
      (from + i, t)
    }
  }

  /** 80 8-dim vectors; every fourth is its predecessor slightly moved. */
  private def vectors(seed: Int, count: Int): Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(seed)
    var prev = Seq.empty[Double]
    (0 until count).map { i =>
      val v =
        if (i % 4 == 3) prev.map(_ + 0.01 * rnd.nextGaussian())
        else Seq.fill(8)(rnd.nextGaussian())
      prev = v
      (i.toLong, v)
    }
  }

  test("every candidate-pair generator and LshIndex build/append/probe " +
      "reads its input once per call, within a pinned job count") {
    val root = java.nio.file.Files.createTempDirectory("graft_kernel_once")
      .toString
    def tapped(name: String, rows: Seq[(Long, _)], df: DataFrame)
        : (() => DataFrame, () => Double) = {
      val path = s"$root/$name"
      df.write.parquet(path)
      val acc = spark.sparkContext.longAccumulator(name)
      val idCol = df.columns.head
      val tap = udf { (id: Long) => acc.add(1L); id }.asNondeterministic()
      (() => spark.read.parquet(path).withColumn(idCol, tap(col(idCol))),
        () => { val e = acc.value.toDouble / rows.size; acc.reset(); e })
    }
    val docRows = texts(7, 0L, 80)
    val batchRows = texts(7, 0L, 20).map { case (i, t) => (1000L + i, t) } ++
      texts(9, 2000L, 20)
    val probeRows = texts(7, 40L, 20).map { case (i, t) => (3000L + i, t) }
    val embRows = vectors(3, 80)
    val (docs, docsRead) = tapped("docs", docRows,
      docRows.toDF("doc_id", "text"))
    val (batch, batchRead) = tapped("batch", batchRows,
      batchRows.toDF("doc_id", "text"))
    val (probe, probeRead) = tapped("probe", probeRows,
      probeRows.toDF("doc_id", "text"))
    val (embs, embsRead) = tapped("embs", embRows,
      embRows.toDF("vec_id", "embedding"))
    val index = s"$root/index"

    // (name, call, inputs read with their allowed evaluations, jobs)
    val cases: Seq[(String, () => Any, Seq[(() => Double, Double)], Int)] =
      Seq(
        ("minhashLshPairs", () => Dedup.minhashLshPairs(docs(), "doc_id",
          "text", threshold = 0.5).collect(), Seq(docsRead -> 1.0), 6),
        ("prefixFilterJaccardPairs", () => Dedup.prefixFilterJaccardPairs(
          docs(), "doc_id", "text", threshold = 0.5).collect(),
          Seq(docsRead -> 1.0), 8),
        ("containmentPairs", () => Dedup.containmentPairs(docs(), "doc_id",
          "text", threshold = 0.8).collect(), Seq(docsRead -> 1.0), 7),
        ("simhashPairs", () => Dedup.simhashPairs(docs(), "doc_id", "text",
          maxHamming = 3).collect(), Seq(docsRead -> 1.0), 6),
        ("incrementalLshPairs", () => Dedup.incrementalLshPairs(batch(),
          docs(), "doc_id", "text", threshold = 0.5).collect(),
          Seq(batchRead -> 1.0, docsRead -> 1.0), 9),
        ("cosinePairsLsh", () => Dedup.cosinePairsLsh(embs(), "vec_id",
          "embedding", threshold = 0.5).collect(), Seq(embsRead -> 1.0), 7),
        ("cosinePairsSemantic", () => Dedup.cosinePairsSemantic(embs(),
          "vec_id", "embedding", threshold = 0.5, ncells = 4).collect(),
          Seq(embsRead -> 2.0), 12),
        ("LshIndex.build", () => LshIndex.build(docs(), "doc_id", "text",
          index), Seq(docsRead -> 2.0), 5),
        ("LshIndex.append", () => LshIndex.append(batch(), "doc_id", "text",
          index), Seq(batchRead -> 2.0), 5),
        ("LshIndex.probePairs", () => LshIndex.probePairs(spark, index,
          probe(), "doc_id", "text", threshold = 0.5).collect(),
          Seq(probeRead -> 1.0), 13))
    val measured = cases.map { case (name, call, inputs, _) =>
      val jobs = JobCount.of(spark)(call())
      (name, jobs, inputs.map { case (read, _) => read() })
    }
    measured.foreach { case (name, jobs, reads) =>
      info(s"$name: $jobs jobs, input read ${reads.mkString(" + ")}x")
    }
    cases.zip(measured).foreach {
      case ((name, _, inputs, budget), (_, jobs, reads)) =>
        inputs.map(_._2).zip(reads).foreach { case (allowed, read) =>
          assert(read >= 1.0 && read <= allowed,
            s"$name read its input ${read}x, allowed ${allowed}x")
        }
        assert(jobs === budget, s"$name jobs")
    }
  }
}
