package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session bootstrap every main shares (Bench,
  * Verify, SpotBench, StreamBench, Explain, Smoke, PrintPlans): one core
  * count, one shuffle width, UTC session time, no UI, WARN logging, and
  * the gated WindowExec warning silenced (`GlobalWindowSpec` carries
  * that gate). */
object LocalSession {

  /** `SPARK_GRAFT_CPUS` when set to a positive integer, else the
    * machine's core count. Also the shuffle partition count. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def create(): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    JvmHygiene.silenceGatedWarnings()
    spark
  }
}
