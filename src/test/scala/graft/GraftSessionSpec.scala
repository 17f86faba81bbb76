package graft

/** One engine conf: every session the tests, tools and harness mains
  * run is built from [[GraftSession.builder]], so the engine users start
  * from is the one tests check, the oracle validates and Bench times.
  */
class GraftSessionSpec extends SparkSpec {

  test("the shared test session carries every key GraftSession sets") {
    GraftSession.conf(TestSession.cores).foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k: test session has " +
        s"${spark.conf.getOption(k)}, GraftSession sets $v")
    }
  }

  test("sessions are built only in GraftSession.scala") {
    val roots = Seq("src/main", "src/test").map(new java.io.File(_))
    assert(roots.forall(_.isDirectory),
      s"source roots not found under ${new java.io.File(".").getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) files(f) else Seq(f)
      }
    val builderCall = """SparkSession\s*\.\s*builder""".r
    val sources = roots.flatMap(files)
      .filter(f => f.getName.endsWith(".scala") || f.getName.endsWith(".java"))
    assert(sources.nonEmpty)
    val hits = sources.filter { f =>
      builderCall.findFirstIn(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).nonEmpty
    }.map(_.getName)
    assert(hits == Seq("GraftSession.scala"), hits.mkString(", "))
  }
}
