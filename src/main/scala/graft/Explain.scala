package graft

/** Dev tool: print the formatted physical plan (and optionally run) any
  * named SparkEntry query — the `.explain("formatted")` iteration loop
  * the build discipline requires, without editing test code.
  *
  * Usage: graft.Explain <queryName> [sfDir] [run]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val doRun = args.length > 2 && args(2) == "run"
    val spark = LocalSession.create()
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    if (doRun) {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[explain] $name ran in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
