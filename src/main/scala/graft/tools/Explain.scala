package graft.tools

/** Plan auditor: prints `explain("formatted")` for the named queries (or a
  * default headline set) so pushdown/broadcast/codegen can be inspected —
  * the SURVEY §4 "is this the plan you'd want" loop.
  *
  * Usage: runMain graft.tools.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("m0_wide_table", "q1_pricing_summary", "j7_geo_nn_assignment",
        "sim_topk_bruteforce", "dedup_exact_hash")
    val spark = graft.GraftSession.builder(4)
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
