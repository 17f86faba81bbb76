package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for the graft engine: AQE on (default in
  * Spark 4, made explicit) including cached-plan shuffles, shuffle
  * parallelism sized to cores instead of the 200 default, UTC semantics
  * (SURVEY.md §7.4), INT64 timestamps, and the graft SQL extensions;
  * [[local]] also registers the graft SQL functions
  * (`graft_dot`/`graft_cosine`).
  *
  * Library code never requires this — every operator works on any session
  * (queries register functions defensively) — but it is the one-liner a
  * user starts from, and every harness (Bench, Verify, the tools, the
  * test session) builds from [[builder]], adding only its own harness
  * keys (UI off, RPC timeouts, warehouse dir), so users, tests, the
  * oracle and the bench all run the same engine conf.
  */
object GraftSession {
  /** The engine conf every graft session runs under, key → value. */
  def conf(cores: Int = Runtime.getRuntime.availableProcessors()): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    // let AQE size CACHED-plan shuffles too: Spark's default (false)
    // pins every shuffle under a persisted frame at the raw
    // spark.sql.shuffle.partitions count, so the protocol caches
    // (HashedLr features, curate quality frames, DV scans) fan one
    // micro-task per partition downstream at any data size
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // INT64 micros, not Spark's legacy INT96 default: INT96 is
    // deprecated in parquet-format and its chunk min/max use a broken
    // comparator readers must ignore (PARQUET-1065), so INT96 timestamp
    // columns can never arm footer stats or row-group skipping. Delta
    // and Iceberg write INT64 timestamps for the same reason.
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions")

  def builder(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    conf(cores).foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(cores).master(s"local[$cores]").getOrCreate()
    plans.GraftFunctions.register(s)
    s
  }
}
