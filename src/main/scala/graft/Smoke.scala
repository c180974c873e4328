package graft

/** Local smoke runner mirroring the driver's entry() check. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[8]", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n")
    spark.stop()
  }
}
