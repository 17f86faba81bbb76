package graft.tools

import org.apache.spark.sql.SparkSession
import graft.table.MedallionTable

/** FOUR-PROCESS concurrent-append throughput probe (round 18): a
  * single-JVM concurrency figure has its writers share one Spark
  * scheduler and one driver, which both caps the measurable speedup and
  * hides any cross-process listing-consistency surprise.
  * Here each writer is a separate JVM with its own local[8] session (the
  * deployment shape: N ingest processes, one table), appending disjoint
  * partitions through the one staged insert path (scoped claims), with
  * and without row tracking — enabling Delta-parity row ids must keep the
  * concurrency (id BLOCKS under the short identity lock), and ids must
  * come out globally unique across processes. A default-config vacuum
  * runs every second throughout and must never abort a writer.
  *
  * Usage: runMain graft.tools.FleetAppendProbe [writers] [batches]
  *        (child, internal: --child <path> <who> <batches>)
  */
object FleetAppendProbe {

  private def session(cores: Int): SparkSession = {
    val s = graft.GraftSession.builder(cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val RowsPerBatch = 100_000

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--child")) {
      val Array(_, path, whoS, batchesS) = args
      val spark = session(8)
      import spark.implicits._
      val who = whoS.toInt
      val t = MedallionTable(spark, path, Seq("blk"))
      (0 until batchesS.toInt).foreach { b =>
        t.append((0 until RowsPerBatch)
          .map(i => (who * 100_000_000L + b * 1_000_000L + i, who))
          .toDF("id", "blk"))
      }
      spark.stop()
      sys.exit(0)
    }

    val writers = args.headOption.map(_.toInt).getOrElse(4)
    val batches = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val spark = session(8)
    import spark.implicits._
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val addOpens = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.toArray.map(_.toString)
      .toSeq.sliding(2).collect {
        case Seq("--add-opens", v) => Seq("--add-opens", v)
      }.flatten.toSeq

    for (rt <- Seq(false, true)) {
      val path = java.nio.file.Files.createTempDirectory(
        s"fleet_${if (rt) "rt" else "plain"}").toString + "/t"
      val t = MedallionTable(spark, path, Seq("blk"))
      t.overwrite((0 until writers).map(b => (-1L - b, b)).toDF("id", "blk"))
      if (rt) t.enableRowTracking()

      val t0 = System.nanoTime()
      val children = (0 until writers).map { who =>
        new ProcessBuilder((Seq(javaBin) ++ addOpens ++ Seq("-Xmx3g",
          "-Dspark.ui.enabled=false", "-cp",
          System.getProperty("java.class.path"),
          "graft.tools.FleetAppendProbe", "--child", path, who.toString,
          batches.toString)): _*)
          .inheritIO().start()
      }
      // the cron-janitor deployment shape, live during staged ingest: a
      // default-config vacuum every second must never abort a writer or
      // eat a staged batch (the retention horizon's whole point)
      val janitorStop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val janitorRuns = new java.util.concurrent.atomic.AtomicInteger(0)
      val janitor = new Thread(() => {
        val jt = new MedallionTable(spark, path)
        while (!janitorStop.get()) {
          try { jt.vacuum(); janitorRuns.incrementAndGet() }
          catch { case _: Throwable => () } // refusals are not failures
          Thread.sleep(1000)
        }
      }, "fleet-janitor")
      janitor.setDaemon(true); janitor.start()
      val rcs = children.map { c =>
        if (!c.waitFor(600, java.util.concurrent.TimeUnit.SECONDS)) {
          c.destroyForcibly(); -1
        } else c.exitValue()
      }
      janitorStop.set(true)
      val wall = (System.nanoTime() - t0) / 1e3 / 1e6
      require(rcs.forall(_ == 0), s"child rcs: ${rcs.mkString(",")}")
      require(janitorRuns.get() > 0, "janitor never ran")

      val n = t.read.count()
      val expected = writers.toLong * batches * RowsPerBatch + writers
      require(n == expected, s"row loss: $n != $expected")
      if (rt) {
        val d = t.read.select(MedallionTable.RowIdCol).distinct().count()
        require(d == n, s"cross-process row-id collision: $d of $n")
      }
      println(f"fleet: writers=$writers batches=$batches " +
        f"rowTracking=$rt%-5s " +
        f"wall=$wall%6.1f s  rows=$n${if (rt) "  (ids all unique)" else ""}")
    }
    spark.stop()
  }
}
