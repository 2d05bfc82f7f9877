package graft

import graft.functions.{Fingerprints, VectorFunctions}
import graft.operators.SimilaritySearch
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("cosine expression matches a reference computation (and codegen " +
    "path agrees with eval)") {
    import spark.implicits._
    val a = Seq(1.0, 2.0, 3.0)
    val b = Seq(-1.0, 0.5, 2.0)
    val expected = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val df = Seq((a, b)).toDF("a", "b")
    val got = df.select(VectorFunctions.cosineSimilarity(col("a"), col("b")))
      .first().getDouble(0)
    assert(math.abs(got - expected) < 1e-12)
    // length mismatch and zero vector → null
    val bad = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    assert(bad.select(VectorFunctions.cosineSimilarity(col("a"), col("b")))
      .first().isNullAt(0))
    val zero = Seq((Seq(0.0, 0.0), Seq(1.0, 2.0))).toDF("a", "b")
    assert(zero.select(VectorFunctions.cosineSimilarity(col("a"), col("b")))
      .first().isNullAt(0))
  }

  test("cosine_to_query eval is bit-identical to cosine_similarity eval " +
      "(VectorCollectionSpec pins the generated path)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.functions.{CosineSimilarity, CosineToQuery}
    def norm(v: Seq[Double]) = math.sqrt(v.foldLeft(0.0)((s, y) => s + y * y))
    def bits(x: Any) =
      Option(x).map(d => java.lang.Double.doubleToRawLongBits(
        d.asInstanceOf[Double]))
    val rnd = new scala.util.Random(7)
    def vec(n: Int) =
      Seq.fill(n)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3))
    val q = vec(6)
    for (v <- Seq.fill(50)(vec(6)) ++ Seq(Seq.fill(6)(0.0), vec(5), q);
        query <- Seq(q, Seq.fill(6)(0.0))) {
      val got = CosineToQuery(Literal.create(v), Literal(norm(v)),
        query.toArray, norm(query)).eval()
      val want = CosineSimilarity(Literal.create(v), Literal.create(query))
        .eval()
      assert(bits(got) === bits(want), s"v=$v query=$query")
    }
  }

  test("vector expressions declare nullable even over non-null " +
      "children — otherwise NullPropagation folds isnull() to false " +
      "and the null row silently escapes every filter") {
    import spark.implicits._
    // LITERAL arrays are non-nullable children: without the nullable
    // override the optimizer rewrites isnull(dot) to literal false
    // even though eval returns null on the length mismatch
    val one = Seq(Tuple1(1)).toDF("x")
    val mismatch = one.select(isnull(VectorFunctions.vectorDot(
      array(lit(1.0)), array(lit(1.0), lit(2.0)))).as("n"))
    assert(mismatch.first().getBoolean(0),
      "isnull(vector_dot) folded away over non-nullable children")
    val zeroNorm = one.select(isnull(VectorFunctions.l2Normalize(
      array(lit(0.0), lit(0.0)))).as("n"))
    assert(zeroNorm.first().getBoolean(0),
      "isnull(l2_normalize) folded away over a non-nullable child")
  }

  test("hash embedder: deterministic, unit-norm, fixed dim") {
    import spark.implicits._
    val df = Seq("spark engine test text", "spark engine test text",
      "different words entirely").toDF("text")
    val rows = df.select(Fingerprints.hashEmbed(col("text"), 32).as("v"))
      .collect().map(_.getSeq[Double](0))
    assert(rows.forall(_.length === 32))
    assert(rows(0) === rows(1)) // deterministic
    assert(rows(0) !== rows(2))
    val norm = math.sqrt(rows(0).map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-9)
  }

  test("topK: self is rank 1 with score 1.0; k respected") {
    import spark.implicits._
    val vecs = (0 until 20).map { i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 8 + j)))
    }.toDF("vec_id", "embedding")
    val query = vecs.filter(col("vec_id") === 7)
      .select(col("embedding")).first().getSeq[Double](0)
    val top = SimilaritySearch.topK(vecs, "vec_id", "embedding", query, 5)
      .collect()
    assert(top.length === 5)
    assert(top.head.getLong(0) === 7L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
    assert(top.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("heap batch top-k equals the window form") {
    import spark.implicits._
    import graft.functions.Fingerprints
    val corpus = (0L until 40L)
      .map(i => (i, s"documento número $i sobre tema${i % 7} e assunto${i % 3}"))
      .toDF("id", "text")
      .select(col("id"), Fingerprints.hashEmbed(col("text"), 32).as("v"))
      .repartition(4)
    val queries = corpus.filter(col("id") < 3)
      .select(col("id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    val windowForm = graft.operators.SimilaritySearch.topKForQueries(
        corpus, corpus.filter(col("id") < 3)
          .select(col("id").as("qid"), col("v").as("qv")),
        "id", "v", "qid", "qv", k = 5)
      .select(col("query_id"), col("id"),
        round(col("score"), 9).as("s"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val heapForm = graft.operators.SimilaritySearch.topKForQueriesHeap(
        corpus, "id", "v", queries, k = 5)
      .select(col("query_id"), col("id"),
        round(col("score"), 9).as("s"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(heapForm === windowForm)
  }

  test("IVF top-k finds the exact top-1 (self) when probing its cell") {
    import spark.implicits._
    val vecs = (0 until 64).map { i =>
      (i.toLong, Seq.tabulate(8)(j => math.cos(i * 17 + j * 3 + 1)))
    }.toDF("vec_id", "embedding")
    val query = vecs.filter(col("vec_id") === 11)
      .select(col("embedding")).first().getSeq[Double](0)
    val got = SimilaritySearch.topKIvf(vecs, "vec_id", "embedding", query,
      k = 3, ncells = 4, nprobe = 4) // nprobe = ncells ⇒ exact
    assert(got.collect().head.getLong(0) === 11L)
  }

  test("persisted IVF index: probe scans only the probed cell partitions") {
    import graft.operators.IvfIndex
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    val vecs = (0 until 200).map { i =>
      (i.toLong, Seq.tabulate(8)(j => math.cos(i * 17 + j * 3 + 1)))
    }.toDF("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf").toString
    IvfIndex.build(vecs, "vec_id", "embedding", path, ncells = 4)
    assert(IvfIndex.ncells(spark, path) === 4)

    val query = vecs.filter(col("vec_id") === 11)
      .select(col("embedding")).first().getSeq[Double](0)
    val probed = IvfIndex.probe(spark, path, "vec_id", query,
      k = 3, nprobe = 2)
    val rows = probed.collect()
    assert(rows.head.getLong(0) === 11L) // self lives in the nearest cell

    // partition pruning: the executed scan must have touched only the
    // files under the 2 probed cell=N/ directories, not all 4.
    val scan = probed.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scan.nonEmpty, "expected a FileSourceScanExec in the probe plan")
    val filesRead = scan.map(_.metrics("numFiles").value).sum
    val allFiles = new java.io.File(s"$path/cells").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .flatMap(_.listFiles())
      .count(_.getName.endsWith(".parquet"))
    assert(filesRead > 0 && filesRead < allFiles,
      s"probe read $filesRead of $allFiles files — pruning did not happen")

    // probe-all equals exact brute-force top-k.
    val cells = spark.read.parquet(s"$path/cells")
    val exact = SimilaritySearch.topK(vecs, "vec_id", "embedding", query, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val probeAll = IvfIndex.probe(spark, path, "vec_id", query,
        k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probeAll === exact)
    assert(cells.count() === 200) // no vector dropped by the build
  }

  test("knnGraph: exact neighbors with rank; cell-restricted variant is " +
      "dominated and self-edges never appear") {
    import spark.implicits._
    val vecs = (0L until 40L).map { i =>
      (i, graft.functions.Hashing.hashEmbedVec(s"texto numero $i", 16).toSeq)
    }.toDF("vec_id", "embedding")
    val g = SimilaritySearch.knnGraph(vecs, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3)))
    // every node emits exactly k ranked rows, no self-edges,
    // scores non-increasing in rank
    val bySrc = g.groupBy(_._1)
    assert(bySrc.size === 40 && bySrc.values.forall(_.length === 3))
    assert(g.forall { case (s0, d0, _, _) => s0 != d0 })
    bySrc.values.foreach { rows =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === Seq(1, 2, 3))
      assert(sorted.sliding(2).forall { case Array(x, y) => x._3 >= y._3 })
    }
    // rank-1 neighbor matches a local brute-force computation
    val local = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val top1 = g.filter(_._4 == 1).map(t => t._1 -> t._2).toMap
    // round like Spark's round(): exact binary->decimal then HALF_UP —
    // math.round(x*1e6) would round a different (error-shifted) value
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    local.keys.foreach { src =>
      // .toSeq first: mapping the Map to (score, id) would DEDUPE tied
      // scores by map key and drop legitimate tie candidates
      val best = (local - src).toSeq.map { case (id, v) =>
        (r6(cos(local(src), v)), id)
      }.maxBy { case (sc, id) => (sc, -id) }
      assert(top1(src) === best._2, s"src=$src")
    }
    // the cell-restricted graph never beats the exact graph at any rank
    val approx = SimilaritySearch.knnGraphCells(vecs, "vec_id", "embedding",
        k = 3, ncells = 4)
      .collect().map(r => ((r.getLong(0), r.getInt(3)), r.getDouble(2)))
      .toMap
    val exact = g.map(t => ((t._1, t._4), t._3)).toMap
    approx.foreach { case (key, sc) =>
      assert(exact.contains(key) && sc <= exact(key), s"$key")
    }
  }

  test("IvfIndex.append: new vectors land in existing cells; probe-all " +
      "over the union equals brute force; untouched cells keep their files") {
    import spark.implicits._
    import graft.operators.{IvfIndex, SimilaritySearch}
    val vecs = (0 until 200).map { i =>
      (i.toLong, Seq.tabulate(8)(j => math.cos(i * 17 + j * 3 + 1)))
    }.toDF("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_app").toString
    IvfIndex.build(vecs, "vec_id", "embedding", path, ncells = 4)
    def cellFiles(): Map[String, Set[String]] =
      new java.io.File(s"$path/cells").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet)
        .toMap
    val before = cellFiles()
    val extra = (200 until 240).map { i =>
      (i.toLong, Seq.tabulate(8)(j => math.cos(i * 17 + j * 3 + 1)))
    }.toDF("vec_id", "embedding")
    IvfIndex.append(extra, "vec_id", "embedding", path)
    val after = cellFiles()
    // every pre-existing file survives untouched (append, not rewrite)
    before.foreach { case (cell, files) =>
      assert(files.subsetOf(after.getOrElse(cell, Set.empty)), cell)
    }
    assert(spark.read.parquet(s"$path/cells").count() === 240)
    // probe-all on the appended index = exact brute top-k over the union
    val union = vecs.unionByName(extra)
    val query = Seq.tabulate(8)(j => math.cos(5 * 17 + j * 3 + 1))
    val exact = SimilaritySearch.topK(union, "vec_id", "embedding",
        query, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val probed = IvfIndex.probe(spark, path, "vec_id", query,
        k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probed === exact)
  }

  test("negativeSamples: excludes self and positives, exactly k per " +
      "anchor, reproducible across layouts") {
    import spark.implicits._
    val items = (0L until 30L).map(i => Tuple1(i)).toDF("id")
    val anchors = items.filter(col("id") < 3)
    val positives = Seq((0L, 1L), (0L, 2L), (1L, 5L), (2L, 9L))
      .toDF("src", "dst")
    val negs = SimilaritySearch.negativeSamples(items, "id", anchors, "id",
        positives, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byAnchor = negs.groupBy(_._1)
    assert(byAnchor.keySet === Set(0L, 1L, 2L))
    assert(byAnchor.values.forall(_.length === 4))
    // never the anchor itself, never a positive
    negs.foreach { case (a, n, _) =>
      assert(a != n)
      assert(!Set((0L, 1L), (0L, 2L), (1L, 5L), (2L, 9L)).contains((a, n)))
    }
    // deterministic across physical layouts
    val again = SimilaritySearch.negativeSamples(items.repartition(7), "id",
        anchors, "id", positives, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(again === negs.toSet)
    // duplicated anchor rows must not burn ranks on duplicate pairs
    val dupAnchors = anchors.unionByName(anchors)
    val dedupedRun = SimilaritySearch.negativeSamples(items, "id",
        dupAnchors, "id", positives, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(dedupedRun === negs.toSet)
  }
}
