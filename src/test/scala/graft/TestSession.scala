package graft

import org.apache.spark.sql.SparkSession

/** The one test session: the engine conf from [[GraftSession.builder]]
  * plus the test harness keys (UI off, a fixed warehouse dir).
  * getOrCreate reuses the JVM-wide session across suites in the forked
  * test JVM and re-applies the runtime keys on each call.
  */
object TestSession {
  val cores = 4

  def get(): SparkSession = {
    val s = GraftSession.builder(cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_test_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
