package graft.tools

/** Times named registered queries under the bench's noop-sink methodology —
  * the per-query feedback loop for plan work without paying a full bench run.
  *
  * Usage: runMain graft.tools.TimeQuery <sfDir> <query> [query ...]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TimeQuery <sfDir> <query> [query ...]")
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(cpus.toInt)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    args.tail.foreach { name =>
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"[time] $name%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
