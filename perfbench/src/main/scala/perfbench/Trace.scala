package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Filesystem operation counts for the `fs` layer. The counters only move
  * when [[CountingFs]] is installed, which the traced run alone does.
  */
object FsCounts {
  val Names = Seq("list", "open", "status", "create", "rename", "delete", "mkdirs")
  private val counters = Names.map(_ -> new AtomicLong).toMap
  def bump(name: String): Unit = counters(name).incrementAndGet()

  /** Operation counts plus the bytes the `file` scheme read and wrote. */
  def snapshot(): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val stats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    counters.map { case (k, v) => s"fs.${k}_ops" -> v.get.toDouble } ++ Map(
      "fs.read_mb" -> stats.map(_.getBytesRead).sum / 1e6,
      "fs.write_mb" -> stats.map(_.getBytesWritten).sum / 1e6)
  }
}

/** The local filesystem with every metadata and stream operation counted.
  * It subclasses Hadoop's own `file` implementation rather than wrapping
  * the raw one, so checksums, the scheme (`file`, which graft's exclusive
  * create branches on) and every other behaviour stay exactly as in an
  * untraced run.
  */
final class CountingFs extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    FsCounts.bump("list"); super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FsCounts.bump("open"); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    FsCounts.bump("status"); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FsCounts.bump("create")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FsCounts.bump("rename"); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    FsCounts.bump("delete"); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FsCounts.bump("mkdirs"); super.mkdirs(f, permission)
  }
  override def mkdirs(f: Path): Boolean = {
    FsCounts.bump("mkdirs"); super.mkdirs(f)
  }
}

/** Spark-listener census for the `spark` layer, plus every job's wall
  * interval, from which the `driver` gap of a call is derived.
  */
final class Census extends SparkListener {
  private val sums = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val jobs = ArrayBuffer.empty[(Long, Long)]

  private def add(k: String, v: Double): Unit = sums(k) = sums(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    add("spark.jobs", 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { add("spark.stages", 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("spark.input_mb", m.inputMetrics.bytesRead / 1e6)
      add("spark.output_mb", m.outputMetrics.bytesWritten / 1e6)
      add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
    }
  }

  def snapshot(): Map[String, Double] = synchronized(sums.toMap)

  /** Milliseconds of [startMs, endMs] covered by at least one job. */
  def busyMs(startMs: Double, endMs: Double): Double = synchronized {
    val clipped = jobs.iterator
      .map { case (s, e) => (math.max(s.toDouble, startMs), math.min(e.toDouble, endMs)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    Trace.unionLength(clipped)
  }

  def jobsStartedIn(startMs: Double, endMs: Double): Int = synchronized {
    jobs.count { case (s, _) => s >= startMs && s <= endMs }
  }
}

/** One recorded span: a call from the harness into a graft layer, or the
  * whole timed operation (layer `op`) that encloses such calls, with the
  * census and filesystem deltas measured across it.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startMs: Double, endMs: Double, counts: Map[String, Double]) {
  def durMs: Double = endMs - startMs
}

/** Span recorder. Spans stay in memory and are written out when the run
  * ends; when tracing is off, `span` only runs its body.
  */
final class Trace(spark: SparkSession, val census: Option[Census]) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private var nextId = 0
  private var stack = List.empty[Int]
  val spans = ArrayBuffer.empty[Span]

  /** Whether spans are being recorded (the traced half of a traced run). */
  var on = false

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private def counters(): Map[String, Double] = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    census.map(_.snapshot()).getOrElse(Map.empty) ++ FsCounts.snapshot()
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val before = counters()
      stack = id :: stack
      val start = nowMs
      try body
      finally {
        val end = nowMs
        stack = stack.tail
        val after = counters()
        val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) } ++
          census.map(c => Map(
            "driver.gap_s" -> (end - start - c.busyMs(start, end)) / 1e3,
            "jobs" -> c.jobsStartedIn(start, end).toDouble)).getOrElse(Map.empty)
        spans += Span(id, parent, layer, name, start, end, delta)
      }
    }

  def opSpans: Seq[Span] = spans.filter(_.layer == "op").toSeq

  /** Per layer, the summed span time not covered by that span's children. */
  def selfMs: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)).sortBy(_._1)
        s.durMs - Trace.unionLength(kids.toSeq)
      }.sum
    }
  }

  def writeJson(file: java.io.File): Unit = {
    def num(d: Double) = f"$d%.3f"
    val body = spans.map { s =>
      val counts = s.counts.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "layer": "${s.layer}", """ +
        s""""name": "${s.name}", "start_ms": ${num(s.startMs)}, """ +
        s""""end_ms": ${num(s.endMs)}, "counts": {$counts}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(file.toPath, body.getBytes("UTF-8"))
  }
}

object Trace {
  /** Length of the union of intervals sorted by start. */
  def unionLength(sorted: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    sorted.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
