package graft.tools

import org.apache.spark.sql.SparkSession
import graft.table.MedallionTable

/** CROSS-PROCESS crash-kill recovery probe (round 18): the single-JVM
  * failpoint specs prove the staged-append crash windows in-process, but
  * the deployment shape is a separate writer PROCESS dying — `kill -9`,
  * OOM-killer, preemption — leaving its litter for a janitor plus the
  * next writer to recover from. This probe spawns a real child JVM whose
  * staged append HALTS (`Runtime.halt` via `GRAFT_FAILPOINT_HALT` —
  * no shutdown hooks, no finally blocks) at each window:
  *
  *   - `post-stage-write`   — staging written, NO lock/claim yet
  *   - `mid-claim-first`    — scoped lock + claimed marker held, nothing
  *                            published
  *   - `mid-append-publish` — TORN: first file renamed in, rest staged
  *
  * then drives recovery (default-config vacuum must SKIP the young
  * litter; operator-mode `vacuumAssumeNoWriters` reaps it) and the next
  * writer, asserting the serial model: child rows land exactly-once or
  * not at all (the torn window keeps its documented prefix — never a
  * duplicate), the next append always succeeds, and no litter survives
  * operator recovery.
  *
  * A further window halts a child's `createOrError` at `post-stage-write`
  * on a table whose CHECK was declared before it existed: the table must
  * still not exist, the CHECK must still be declared, operator vacuum
  * must leave no litter, and the next create must land, gated by it.
  *
  * A last window halts a child's DV delete at `pre-delete-dv-commit`,
  * marks staged and claim held: every row must still read, operator
  * vacuum must leave no DV staging, and the next DV delete must land.
  *
  * Usage: runMain graft.tools.CrashRecoveryProbe
  *        (child mode, internal: --child <tablePath> [create|delete])
  */
object CrashRecoveryProbe {

  private def session(): SparkSession = {
    val s = graft.GraftSession.builder(4)
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--child")) {
      val spark = session()
      import spark.implicits._
      // batch spans TWO partitions → two publish renames → the torn
      // window between them exists
      val rows = (0 until 1000).map(i => (i.toLong, i % 2)).toDF("id", "blk")
      val t = MedallionTable(spark, args(1), Seq("blk"))
      args.lift(2) match {
        case Some("create") => t.createOrError(rows)
        case Some("delete") => t.deleteVectored($"blk" === 0)
        case _ => t.append(rows)
      }
      spark.stop()
      sys.exit(0) // only reached when no halt env is set
    }

    val spark = session()
    import spark.implicits._
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val addOpens = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.toArray.map(_.toString)
      .toSeq.sliding(2).collect {
        case Seq("--add-opens", v) => Seq("--add-opens", v)
      }.flatten.toSeq

    /** Run a child writer on `path` that halts at `window`. */
    def haltChild(path: String, window: String, mode: Seq[String]): Unit = {
      val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx3g",
        "-Dspark.ui.enabled=false", "-cp",
        System.getProperty("java.class.path"),
        "graft.tools.CrashRecoveryProbe", "--child", path) ++ mode
      val pb = new ProcessBuilder(cmd: _*).inheritIO()
      pb.environment().put("GRAFT_FAILPOINT_HALT", window)
      val child = pb.start()
      require(child.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
        s"$window: child did not exit")
      val rc = child.exitValue()
      require(rc == 137, s"$window: child exited $rc, expected halt(137)")
    }
    def commitNames(path: String): Seq[String] =
      new java.io.File(graft.table.SideFiles.commitsDir(path).toUri.getPath)
        .listFiles()
        .map(_.getName).toSeq
    def operatorVacuum(t: MedallionTable): Unit = {
      spark.conf.set("spark.graft.vacuumAssumeNoWriters", "true")
      try t.vacuum()
      finally spark.conf.unset("spark.graft.vacuumAssumeNoWriters")
    }
    def litter(path: String): Seq[String] =
      commitNames(path).filter(n => n.startsWith("append_staging_") ||
        n == "write.lock" || (n.startsWith("write_") && n.endsWith(".lock")))

    for (window <- Seq("post-stage-write", "mid-claim-first",
        "mid-append-publish")) {
      val path = java.nio.file.Files.createTempDirectory(
        s"crashprobe_${window.replace('-', '_')}").toString + "/t"
      val t = MedallionTable(spark, path, Seq("blk"))
      t.overwrite(Seq((-1L, 0), (-2L, 1)).toDF("id", "blk"))
      haltChild(path, window, Nil)

      def childRows() = t.read.filter($"id" >= 0).count()
      val visible = childRows()
      def names() = commitNames(path)
      val stagingLeft = names().exists(_.startsWith("append_staging_"))
      window match {
        case "post-stage-write" | "mid-claim-first" =>
          require(visible == 0,
            s"$window: unpublished rows visible: $visible")
          require(stagingLeft, s"$window: expected staging litter")
        case "mid-append-publish" =>
          require(visible > 0 && visible < 1000,
            s"$window: expected a torn prefix, got $visible")
      }

      // a DEFAULT-config janitor vacuum must skip the minutes-old litter
      // (it cannot know the writer is dead — that is the retention
      // horizon's whole point)…
      t.vacuum()
      require(names().exists(_.startsWith("append_staging_")) == stagingLeft,
        s"$window: default vacuum reaped young staging")
      // …the operator who watched the kill reaps it now
      operatorVacuum(t)
      require(litter(path).isEmpty,
        s"$window: litter survives operator vacuum: ${names().mkString(",")}")

      // the next writer proceeds; serial model = seed + torn prefix +
      // this append, every id exactly once
      t.append((0 until 500).map(i => (10_000L + i, i % 2)).toDF("id", "blk"))
      val ids = t.read.select("id").collect().map(_.getLong(0))
      require(ids.length == ids.distinct.length,
        s"$window: duplicate ids after recovery")
      require(ids.count(_ >= 10_000L) == 500,
        s"$window: recovery append lost rows")
      require(childRows() == visible + 500,
        s"$window: torn prefix changed during recovery")
      require(t.fullHistory().nonEmpty, s"$window: history unreadable")
      println(s"crash window $window OK: torn=${visible} child rows, " +
        "recovery append landed, no duplicates, no litter")
    }

    // a first create halted between its staging write and its claim
    val path = java.nio.file.Files.createTempDirectory("crashprobe_create")
      .toString + "/t"
    val t = MedallionTable(spark, path, Seq("blk"))
    t.addCheckConstraint("nonneg", "id >= 0")
    haltChild(path, "post-stage-write", Seq("create"))
    require(!t.exists, "create window: a halted create left a table")
    require(t.checkConstraints.get("nonneg").contains("id >= 0"),
      "create window: the CHECK declared before the create was lost")
    require(commitNames(path).exists(_.startsWith("append_staging_")),
      "create window: expected staging litter")
    operatorVacuum(t)
    require(litter(path).isEmpty, "create window: litter survives " +
      s"operator vacuum: ${commitNames(path).mkString(",")}")
    require(scala.util.Try(
        t.createOrError(Seq((5L, 0), (-5L, 1)).toDF("id", "blk"))).isFailure &&
        !t.exists,
      "create window: the CHECK did not gate the next create")
    t.createOrError((0 until 500).map(i => (i.toLong, i % 2)).toDF("id", "blk"))
    require(t.read.count() == 500 && t.checkConstraints.contains("nonneg"),
      "create window: the next create did not land under its CHECK")
    println("crash window create post-stage-write OK: no table, CHECK " +
      "kept, no litter, next create landed gated by the CHECK")

    // a DV delete halted between staging its marks and its commit rename
    val dvPath = java.nio.file.Files.createTempDirectory("crashprobe_dv")
      .toString + "/t"
    val dv = MedallionTable(spark, dvPath, Seq("blk"))
    dv.overwrite((0 until 1000).map(i => (i.toLong, i % 2)).toDF("id", "blk"))
    haltChild(dvPath, "pre-delete-dv-commit", Seq("delete"))
    def dvStaged() = Option(new java.io.File(
      s"$dvPath/_graft_meta/dv_updates_staging").listFiles()).exists(_.nonEmpty)
    require(dv.read.count() == 1000 && dvStaged(),
      "dv window: expected every row readable and the marks staged")
    operatorVacuum(dv)
    require(!dvStaged() && litter(dvPath).isEmpty, "dv window: litter " +
      s"survives operator vacuum: ${commitNames(dvPath).mkString(",")}")
    dv.deleteVectored($"blk" === 0)
    require(dv.read.count() == 500, "dv window: the next DV delete did not land")
    println("crash window dv pre-delete-dv-commit OK: every row reads, " +
      "no staging after operator vacuum, next DV delete landed")
    spark.stop()
  }
}
