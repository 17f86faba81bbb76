package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites ([[TestSession]]). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.get()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  /** Spark jobs `body` launches on this thread (its own job group, so
    * suites running in parallel on the shared context do not count).
    */
  def jobsOf[T](body: => T): (T, Int) = {
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (group == j.properties.getProperty("spark.jobGroup.id")) {
          jobs.incrementAndGet(); ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, group)
    try {
      val out = body
      Thread.sleep(500) // listener bus is async
      (out, jobs.get())
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }
}
