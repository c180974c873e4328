package graft

/** Plan auditor: prints the formatted physical plan for the named
  * gated queries (all of them if none named). Used to verify the plans
  * stay scale-worthy: filters pushed to the parquet scan, small dims
  * broadcast, whole-stage codegen spans wide, no stray shuffles.
  *
  *   sbt "runMain graft.Explain q01_pricing_summary q05_join_revenue_by_nation"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.builder("local[4]", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
