package pathbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed call into a layer, recorded from the benchmark's side. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    start: Long, var end: Long = 0L, var gcMs: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** Task-side work attributed to one job group. */
final class LayerWork {
  var jobs, failedTasks = 0L
  var cpuNs, runMs = 0L
  var shuffleBytes, spillBytes = 0L
  var inRecords, outBytes = 0L
}

/** Attributes every Spark job, and the tasks of its stages, to the job
  * group that was set when the job started. The tracer sets the group to
  * the layer name around each call. */
final class LayerListener extends SparkListener {
  private val byGroup = mutable.Map[String, LayerWork]()
  private val stageGroup = mutable.Map[Int, String]()

  def all: Map[String, LayerWork] = synchronized(byGroup.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untraced")
    val w = byGroup.getOrElseUpdate(g, new LayerWork)
    w.jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = byGroup.getOrElseUpdate(
      stageGroup.getOrElse(e.stageId, "untraced"), new LayerWork)
    if (e.taskInfo != null && e.taskInfo.failed) w.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.cpuNs += m.executorCpuTime
      w.runMs += m.executorRunTime
      w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.inRecords += m.inputMetrics.recordsRead
      w.outBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Spans kept in memory and written out at the end. A span sets the Spark
  * job group to its name for its duration, so the listener can attribute
  * task work to the layer that caused it. */
final class Tracer(sc: SparkContext, val runId: String) {
  val spans = mutable.ArrayBuffer[Span]()
  val listener = new LayerListener
  sc.addSparkListener(listener)
  private var open = List.empty[Span]

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, name, open.headOption.map(_.id).getOrElse(-1),
      runId, System.nanoTime())
    spans += s
    val outer = open.headOption.map(_.name)
    open = s :: open
    sc.setJobGroup(name, name)
    val gc0 = Tracer.gcMillis()
    try body
    finally {
      s.end = System.nanoTime()
      s.gcMs = Tracer.gcMillis() - gc0
      open = open.tail
      outer match {
        case Some(o) => sc.setJobGroup(o, o)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Span duration minus the time covered by its direct children (which
    * never overlap: calls are sequential). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def selfByName: Map[String, Double] =
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(selfSeconds).sum }

  def roots: Seq[Span] = spans.filter(_.parent < 0).toSeq

  /** Waits until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.pathbench.ListenerDrain(sc)

  def toJson: Seq[Json.Obj] = spans.toSeq.map(s => Json.obj("id" -> s.id,
    "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
    "start_ns" -> s.start, "end_ns" -> s.end))
}

object Tracer {
  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
}
