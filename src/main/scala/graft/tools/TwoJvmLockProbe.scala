package graft.tools

import org.apache.spark.sql.SparkSession
import graft.table.MedallionTable

/** TWO-PROCESS lock arbitration probe: every ConcurrentRewriteSpec writer
  * shares one JVM, but the footprint-lock protocol's argument rests on
  * strongly consistent local-fs LISTINGS, not JVM-local state — this
  * probe stresses that claim with a genuinely separate process.
  *
  * The parent seeds a partitioned table, then runs ROUNDS of writes with
  * a CHILD JVM (spawned with this process's own classpath and module
  * flags — `run / fork := true` makes both real): per round, the parent
  * appends/compacts a PARENT-owned partition range while the child does
  * the same on a CHILD-owned range (disjoint), plus a shared partition
  * both touch (overlap — must serialize, not deadlock), and the parent
  * finishes with a global DDL. Afterwards: the serial model must hold
  * (every row landed exactly once, compactions to 1 file/partition), no
  * writer died, and no lock/intent litter survives.
  *
  * Usage: runMain graft.tools.TwoJvmLockProbe [rounds]
  *        (child mode, internal: --child <tablePath> <rounds>)
  */
object TwoJvmLockProbe {

  private def session(): SparkSession = {
    val s = graft.GraftSession.builder(8)
      .master("local[8]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One participant's writes for one round: appends into its own two
    * partitions, a compaction of one of them, an append into the SHARED
    * partition (blk=9), and a compaction of the shared partition every
    * other round — overlap arbitration across processes.
    */
  private def roundWrites(spark: SparkSession, path: String, who: Int,
      round: Int): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = MedallionTable(spark, path, Seq("blk"))
    val base = who * 10_000_000L + round * 10_000L
    t.append((0 until 500).map(i => (base + i, who * 2)).toDF("id", "blk"))
    t.append((0 until 500).map(i => (base + 1000 + i, who * 2 + 1))
      .toDF("id", "blk"))
    t.compactWhere(col("blk") === who * 2)
    t.append((0 until 100).map(i => (base + 5000 + i, 9)).toDF("id", "blk"))
    if (round % 2 == who % 2) t.compactWhere(col("blk") === 9)
    // parent only: a GLOBAL writer (DDL) per round — it must drain the
    // child's scoped holders, and any child append staged against the
    // pre-DDL metadata must detect the drift and fall back, never land
    // a batch transformed under stale registries
    if (who == 0)
      t.setColumnDefault("id", (round + 1).toString)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--child")) {
      val Array(_, path, roundsS) = args
      val spark = session()
      (0 until roundsS.toInt)
        .foreach(r => roundWrites(spark, path, who = 1, round = r))
      spark.stop()
      sys.exit(0)
    }
    val rounds = args.headOption.map(_.toInt).getOrElse(3)
    val spark = session()
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("twojvm")
      .toString + "/t"
    val t = MedallionTable(spark, path, Seq("blk"))
    t.overwrite((0 until 10).map(b => (-1L - b, b)).toDF("id", "blk"))

    // child gets this forked JVM's own classpath + module flags
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val addOpens = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.toArray.map(_.toString)
      .toSeq.sliding(2).collect {
        case Seq("--add-opens", v) => Seq("--add-opens", v)
      }.flatten.toSeq
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx4g",
      "-Dspark.ui.enabled=false", "-cp",
      System.getProperty("java.class.path"),
      "graft.tools.TwoJvmLockProbe", "--child", path, rounds.toString)
    val t0 = System.nanoTime()
    val child = new ProcessBuilder(cmd: _*).inheritIO().start()

    var parentFailure: Option[Throwable] = None
    try (0 until rounds).foreach(r => roundWrites(spark, path, 0, r))
    catch { case e: Throwable => parentFailure = Some(e) }
    val childOk = child.waitFor(600, java.util.concurrent.TimeUnit.SECONDS)
    val rc = if (childOk) child.exitValue() else { child.destroyForcibly(); -1 }
    val wall = (System.nanoTime() - t0) / 1e9

    parentFailure.foreach(e => throw new IllegalStateException(
      s"parent writer died", e))
    require(rc == 0, s"child JVM rc=$rc (timeout=-1: cross-process stall)")

    // serial model: per participant per round, 1000 own rows + 100 shared
    val rows = t.read.count()
    val expected = 10 + 2 * rounds * 1100L
    require(rows == expected, s"row loss/duplication: $rows != $expected")
    val perShared = t.read.filter($"blk" === 9).count()
    require(perShared == 2L * rounds * 100 + 1, // +1 seed row
      s"shared partition: $perShared")
    // compacted own partitions collapsed to 1 file
    for (b <- Seq(0, 2)) {
      val files = new java.io.File(s"$path/blk=$b").listFiles()
        .count(_.getName.endsWith(".parquet"))
      require(files == 1, s"blk=$b not compacted across processes: $files")
    }
    // no lock/intent/staging litter once both processes exited
    val commits =
      new java.io.File(graft.table.SideFiles.commitsDir(path).toUri.getPath)
    val litter = commits.listFiles().map(_.getName).filter(n =>
      n == "write.lock" || n == "rewrite.intent" ||
        (n.startsWith("write_") && n.endsWith(".lock")) ||
        n.startsWith("append_staging_"))
    require(litter.isEmpty, s"litter survives: ${litter.mkString(", ")}")
    println(f"two-JVM probe OK: rounds=$rounds rows=$rows wall=$wall%.1f s " +
      "(disjoint ∥, overlap serialized, global DDL drained, no litter)")
    spark.stop()
  }
}
