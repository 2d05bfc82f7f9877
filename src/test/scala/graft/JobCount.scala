package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Counts the Spark jobs a block starts: counters that do not depend on
  * host noise, for specs that pin how much work a call does. */
object JobCount {

  /** Jobs `body` starts on this thread, seen by a listener. A marker job
    * run afterwards flushes the listener queue: events arrive in order,
    * so once the marker's start is seen, so is every earlier one. */
  def of(spark: SparkSession)(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    val started = new AtomicInteger()
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(g) if g == group => started.incrementAndGet()
          case Some(g) if g == s"$group-marker" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, TimeUnit.SECONDS), "listener queue never drained")
      started.get
    } finally sc.removeSparkListener(listener)
  }
}
