package graft

/** Dev smoke runner: executes SparkEntry.entry (the driver's rows>0 check)
  * and prints the result + physical plan. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession.create()
    val df = SparkEntry.entry(spark)
    df.explain("formatted")
    val rows = df.collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.take(10).foreach(r => println(s"[smoke] $r"))
    spark.stop()
  }
}
