package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare
  * (`scripts/selfcheck.py <outDir> <sfDir>`).
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [query ...]
  *
  * Trailing query names restrict the dump and oracle_sql.json to just
  * those queries — the fast loop for checking a query under development
  * without the full catalog run, under the same session and dump rules.
  */
object Verify {
  import org.apache.spark.sql.types._

  private def naiveTs(t: DataType): DataType = t match {
    case TimestampType => TimestampNTZType
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = naiveTs(f.dataType))))
    case a: ArrayType => a.copy(elementType = naiveTs(a.elementType))
    case m: MapType =>
      m.copy(keyType = naiveTs(m.keyType), valueType = naiveTs(m.valueType))
    case o => o
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Verify <sfDir> <outDir> [query ...]")
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSeq
    val queries = SparkEntry.queries
    names.filterNot(queries.contains).foreach(n =>
      sys.error(s"unknown query: $n"))
    val selected =
      if (names.isEmpty) queries.toSeq else names.map(n => n -> queries(n))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // engine conf from GraftSession — the oracle validates exactly the
    // engine Bench times and users build
    val spark = GraftSession.builder(cpus.toInt)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    LogNoise.silenceExpected()
    new java.io.File(outDir).mkdirs()
    // Per-query watchdog: one pathological query must not eat the whole
    // correctness round — cancel its job group after the timeout and move on.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val timeout = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "600").toInt
    selected.foreach { case (name, fn) =>
      val workerThread = new java.util.concurrent.atomic.AtomicReference[Thread]()
      val work = Future {
        // Job-group properties are thread-local: set them on the thread that
        // actually submits the Spark jobs (this pool thread), not main —
        // otherwise cancelJobGroup on timeout cancels nothing.
        workerThread.set(Thread.currentThread())
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
        try {
          // query evaluation (including every protocol table write) runs
          // under the session's INT64-micros timestamp output, exactly as
          // Bench executes it...
          val frame = fn(spark, sfDir)
          // ...but the RESULT DUMP re-types every TIMESTAMP, nested ones
          // included, as TIMESTAMP_NTZ (wall clock in the UTC session
          // zone): DuckDB reads Spark's instant timestamps as TIMESTAMP
          // WITH TIME ZONE, which the oracle's naive-TIMESTAMP compare
          // mis-flags on every ts column (measured: 17 spurious FAILs),
          // and NTZ ones as naive TIMESTAMP. Re-typing the dump instead
          // of flipping the session's outputTimestampType keeps a query
          // that outlives its timeout from writing under the flip.
          frame.select(frame.schema.fields.toIndexedSeq.map(f =>
            org.apache.spark.sql.functions.col(
              "`" + f.name.replace("`", "``") + "`")
              .cast(naiveTs(f.dataType)).as(f.name)): _*)
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } finally spark.sparkContext.clearJobGroup()
      }
      try Await.result(work, timeout.seconds)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          // See Bench: one cancel misses queries hung in driver-side
          // planning or between AQE jobs — interrupt and keep cancelling.
          spark.sparkContext.cancelJobGroup(name)
          Option(workerThread.get()).foreach(_.interrupt())
          val canceller = new Thread(() => {
            while (!work.isCompleted) {
              Thread.sleep(5000)
              spark.sparkContext.cancelJobGroup(name)
            }
          }, s"verify-cancel-$name")
          canceller.setDaemon(true)
          canceller.start()
          System.err.println(s"[verify] $name timed out after ${timeout}s (cancelled)")
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names.isEmpty || names.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
