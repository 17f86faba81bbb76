package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed operation of a workload — one pass of its daily job — and
  * the number of calls into graft it makes.
  */
final case class Op(kind: String, calls: Int, run: () => Unit)

/** What a workload needs from the runner. */
final case class Ctx(spark: SparkSession, seed: Long, scale: Double,
    fault: Option[String], trace: Trace)

/** A benchmark workload. The runner calls `setup` several times, each
  * time into a fresh directory (the last one is measured), then `prepare`,
  * then `next` in a closed loop for the run length, with `afterOp` between
  * operations and `finish` at the end. Output checks return failure
  * messages; an empty list means the outputs were correct.
  */
trait Workload {
  def setupReps: Int
  def setup(dir: String): Seq[String]
  /** Untimed work between set-up and the first operation, such as
    * computing the reference outputs the checks compare against.
    */
  def prepare(): Seq[String]
  def next(i: Int): Op
  def afterOp(): Seq[String]
  def finish(): Seq[String]
  /** The workload's own end-to-end figures for the human-readable report. */
  def report(lat: Seq[(String, Double)]): Seq[(String, String, String)]
  /** Layer metrics this workload fills from the traced operations. */
  def layerMetrics(ops: Seq[Span], all: Seq[Span]): Map[String, Double]
}

object Main {
  val Workloads = Seq("medallion_refresh", "table_dml", "curation")

  val EndToEnd = Seq("setup_s" -> "s", "pass_s" -> "s", "heap_live_peak_mb" -> "MB")

  /** Per-layer metrics, every one reported by every traced run (0 where the
    * workload does not reach the layer). Census and filesystem figures are
    * per timed operation.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.input_mb" -> "MB",
    "spark.output_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
    "driver.gap_s" -> "s",
    "fs.list_ops" -> "count", "fs.open_ops" -> "count", "fs.status_ops" -> "count",
    "fs.create_ops" -> "count", "fs.rename_ops" -> "count", "fs.delete_ops" -> "count",
    "fs.mkdirs_ops" -> "count", "fs.read_mb" -> "MB", "fs.write_mb" -> "MB",
    "pipeline.bronze_s" -> "s", "pipeline.silver_s" -> "s", "pipeline.gold_s" -> "s",
    "pipeline.gold_read_s" -> "s",
    "table.append_ms" -> "ms", "table.merge_vectored_ms" -> "ms",
    "table.update_vectored_ms" -> "ms", "table.delete_vectored_ms" -> "ms",
    "table.delete_ms" -> "ms", "table.compact_dv_ms" -> "ms", "table.read_ms" -> "ms",
    "table.change_feed_ms" -> "ms",
    "table.overwrite_ms" -> "ms",
    "table.jobs_per_commit" -> "count", "table.fs_ops_per_commit" -> "count",
    "table.driver_gap_ms_per_commit" -> "ms",
    "plans.sql_merge_ms" -> "ms", "plans.sql_update_ms" -> "ms", "plans.sql_read_ms" -> "ms",
    "text.quality_s" -> "s",
    "dedup.exact_s" -> "s", "dedup.minhash_s" -> "s", "dedup.components_s" -> "s",
    "dedup.lsh_candidates" -> "count", "dedup.lsh_precision" -> "ratio",
    "similarity.semdedup_s" -> "s", "similarity.ivf_topk_s" -> "s",
    "similarity.ivf_candidates_per_query" -> "count",
    "similarity.ivf_recall_at_k" -> "ratio",
    "self.harness_s" -> "s", "self.pipeline_s" -> "s", "self.table_s" -> "s",
    "self.plans_s" -> "s", "self.text_s" -> "s", "self.dedup_s" -> "s",
    "self.similarity_s" -> "s",
    "trace.ops" -> "count", "trace.overhead_pct" -> "%")

  private def arg(args: Map[String, String], k: String): String =
    args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = arg(args, "workload")
    require(Workloads.contains(name), s"unknown workload $name (one of ${Workloads.mkString(", ")})")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val scale = args.get("scale").map(_.toDouble).getOrElse(1.0)
    val fault = args.get("fault")
    val work = new File(arg(args, "work")).getAbsoluteFile
    val out = new File(arg(args, "out")).getAbsoluteFile
    out.mkdirs()

    val spark = Session.create(work, traced)
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    Log(f"session ready $sessionS%.1f s after JVM start")
    val census = if (traced) Some(new Census) else None
    val trace = new Trace(spark, census)
    val ctx = Ctx(spark, seed, scale, fault, trace)
    val w: Workload = name match {
      case "medallion_refresh" => new Medallion(ctx)
      case "table_dml" => new TableDml(ctx)
      case "curation" => new Curation(ctx)
    }

    val failures = ArrayBuffer.empty[String]
    var heapPeak = 0.0
    // sampled after each timed operation only: the harness's own reference
    // computations in `prepare` would otherwise set the peak
    def sampleHeap(): Unit = {
      // a second collection after Spark's context cleaner has had a moment
      // to drop the blocks and broadcasts the first one released
      System.gc()
      Thread.sleep(300)
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      heapPeak = math.max(heapPeak, used)
    }

    // set-up, repeated into fresh directories; the last one is measured
    val repS = (0 until w.setupReps).map { r =>
      val t0 = System.nanoTime()
      failures ++= w.setup(new File(work, s"setup$r").getPath)
      Log(f"set-up $r took ${(System.nanoTime() - t0) / 1e9}%.1f s")
      (System.nanoTime() - t0) / 1e9
    }
    val prepareT0 = System.nanoTime()
    failures ++= w.prepare()
    val setupS = sessionS + Stats.median(repS) + (System.nanoTime() - prepareT0) / 1e9

    // closed loop: one client, the next operation starts when the last ends
    val lat = ArrayBuffer.empty[(String, Double)]
    var attempted = 0
    census.foreach(spark.sparkContext.addSparkListener)
    trace.on = traced
    val loopT0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loopT0) / 1e9
    var i = 0
    var stop = false
    while (!stop && elapsed < seconds) {
      val op = w.next(i)
      attempted += op.calls
      val t0 = System.nanoTime()
      try {
        trace.span("op", op.kind)(op.run())
        lat += ((op.kind, (System.nanoTime() - t0) / 1e6))
        Log(f"op $i ${op.kind} ${lat.last._2}%.1f ms")
        failures ++= w.afterOp()
      } catch {
        case scala.util.control.NonFatal(e) =>
          failures += s"${op.kind} threw: $e"
          e.printStackTrace()
          stop = true // the workload's model of the state is no longer valid
      }
      i += 1
      sampleHeap()
    }
    if (!stop) failures ++= w.finish()
    // each exception and each failed output check counts once
    val failed = math.min(failures.size, math.max(attempted, 1))

    val e2e = Map(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(lat.map(_._2).toSeq) / 1e3,
      "heap_live_peak_mb" -> heapPeak)
    val history = new File(out, s"untraced-$name.txt")

    println(s"workload $name  seed $seed  cores ${spark.sparkContext.defaultParallelism}" +
      s"  ops ${lat.size}${if (traced) "  (traced)" else ""}")
    EndToEnd.foreach { case (k, u) => println(f"  $k%-22s ${e2e(k)}%14.4f $u") }
    w.report(lat.toSeq).foreach { case (k, v, u) => println(f"  $k%-22s $v%14s $u") }
    println(f"  ${"error_rate"}%-22s ${failed.toDouble / math.max(attempted, 1)}%14.4f ratio")
    failures.take(20).foreach(f => println(s"  CHECK FAILED: $f"))

    val metrics: Seq[(String, Double, String)] =
      if (!traced) EndToEnd.map { case (k, u) => (k, e2e(k), u) }
      else {
        val ops = trace.opSpans
        val n = math.max(ops.size, 1).toDouble
        val generic = (Seq("driver.gap_s") ++ PerLayer.map(_._1)
            .filter(k => k.startsWith("spark.") || k.startsWith("fs."))).map { k =>
          k -> ops.map(_.counts.getOrElse(k, 0.0)).sum / n
        }.toMap
        val self = trace.selfMs.map {
          case ("op", v) => "self.harness_s" -> v / 1e3 / n
          case (layer, v) => s"self.${layer}_s" -> v / 1e3 / n
        }
        // overhead against the median of the untraced runs made in this
        // checkout so far (their op medians are appended to `history`)
        val untraced = if (history.exists)
          scala.io.Source.fromFile(history).getLines().map(_.toDouble).toSeq.takeRight(11)
        else Nil
        val overhead = Map(
          "trace.ops" -> ops.size.toDouble,
          "trace.overhead_pct" -> (100 * (e2e("pass_s") / Stats.median(untraced) - 1)))
        val all = generic ++ self ++ overhead ++ w.layerMetrics(ops, trace.spans.toSeq)
        trace.writeJson(new File(out, s"spans-$name-seed$seed.json"))
        PerLayer.map { case (k, u) => (k, all.getOrElse(k, 0.0), u) }
      }
    if (traced) metrics.foreach { case (k, v, u) => println(f"  $k%-36s $v%14.4f $u") }
    else if (failures.isEmpty) {
      val fw = new java.io.FileWriter(history, true)
      try fw.write(s"${e2e("pass_s")}\n") finally fw.close()
    }

    val correct = failures.isEmpty
    val json = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": ${math.max(attempted, 1)}, """ +
      s""""failed": $failed, "metrics": $json}""")
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}

object Session {
  /** A local session from the engine's own factory on half the machine's
    * cores, kept inside the work directory. The traced run alone swaps in
    * [[CountingFs]].
    */
  def create(work: File, traced: Boolean): SparkSession = {
    // Half the cores run tasks; the rest keep the driver thread, the JIT
    // compilers and the collector off the tasks' cores, so that a short run
    // measures the engine rather than the contention between them.
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() / 2)
    val b = graft.GraftSession.builder(cores)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    if (traced) {
      b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.LogNoise.silenceExpected()
    graft.plans.GraftFunctions.register(s)
    s
  }
}

/** Progress lines on stderr; stdout carries only the report. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"perfbench [${(System.nanoTime() - t0) / 1e9}%7.1f s] $msg")
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples above it, as
    * (percentile, value), or None with fewer than eleven samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val i = s.size - 11
      Some((100.0 * (i + 1) / s.size, s(i)))
    }

  def fmt(v: Double): String = f"$v%.4f"
}
