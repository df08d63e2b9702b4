package graft

/** Local smoke runner: drives SparkEntry.entry exactly like the driver's
  * rows>0 check (t1 tier, sf0.001). Cores follow `SPARK_GRAFT_CPUS`
  * (default 4), like Verify and Bench. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val df = SparkEntry.entry(spark)
    df.show(10, truncate = false)
    println(s"[smoke] entry rows=${df.count()}")
    spark.stop()
  }
}
