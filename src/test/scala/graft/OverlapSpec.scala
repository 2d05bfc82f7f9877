package graft

import graft.operators.Overlap

class OverlapSpec extends SparkSpec {

  test("both builds fail: the primary exception is thrown with the " +
      "sibling's attached as suppressed") {
    spark // bind the active session the sibling inherits
    val e = intercept[IllegalStateException] {
      Overlap.inParallel[Int, Int](
        throw new IllegalStateException("primary"),
        throw new IllegalArgumentException("sibling"))
    }
    assert(e.getMessage === "primary")
    assert(e.getSuppressed.toSeq.map(_.getMessage) === Seq("sibling"))
  }

  test("primary fails while the sibling runs a long Spark job: the " +
      "sibling's job group is cancelled and the failure arrives promptly") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Overlap.inParallel[Unit, Long](
        {
          // fail only once the sibling's job is actually running
          val deadline = System.nanoTime() + 30000000000L
          while (sc.statusTracker.getActiveJobIds().isEmpty &&
              System.nanoTime() < deadline) Thread.sleep(20)
          throw new IllegalStateException("primary")
        },
        sc.parallelize(1 to 2, 2)
          .map { i => Thread.sleep(180000L); i.toLong }.count())
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage === "primary")
    assert(secs < 60.0, s"primary failure took $secs s to surface")
    assert(e.getSuppressed.nonEmpty,
      "the cancelled sibling's failure must ride along as suppressed")
    // cancellation interrupts the sleeping tasks: nothing is left running
    val deadline = System.nanoTime() + 30000000000L
    while (sc.statusTracker.getActiveJobIds().nonEmpty &&
        System.nanoTime() < deadline) Thread.sleep(50)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
  }

  test("primary fails while the sibling sleeps in plain driver code: the " +
      "join is bounded, the sibling is interrupted, and the failure " +
      "carries a suppressed TimeoutException") {
    spark
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Overlap.inParallel[Unit, Unit](
        throw new IllegalStateException("primary"),
        Thread.sleep(180000L)) // no Spark job: the group cancel cannot reach it
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage === "primary")
    // the bound is 30 s; the sibling's 180 s would blow well past this
    assert(secs < 60.0, s"primary failure took $secs s to surface")
    assert(e.getSuppressed.toSeq.exists(
      _.isInstanceOf[java.util.concurrent.TimeoutException]))
  }
}
