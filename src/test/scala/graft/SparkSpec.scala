package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites ([[TestSession]]). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.get()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"
}
