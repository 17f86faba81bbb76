package graft.table

import org.apache.spark.sql.SparkSession

/** Shared plumbing for the driver-side metadata caches
  * ([[SmallSnapshot]], [[TableSnapshot]]'s per-session frames,
  * [[BloomIndex]]'s snapshot cache).
  *
  * Two hazards the round-11 review called out in the previous
  * `ConcurrentHashMap[identityHashCode(spark)|path, …]` shape:
  * entries were never evicted when a SparkSession stopped (a long-lived
  * JVM cycling sessions — the spec-suite pattern — accumulates collected
  * row snapshots and deserialized bloom filters without bound), and
  * `System.identityHashCode` can be REUSED after the old session is
  * GC'd, so a new session could be served a stale entry it never built.
  *
  * Fix: (a) sessions are identified by a per-instance UUID handed out
  * from a weak side table — unique for the JVM's lifetime, so hash reuse
  * can never alias two sessions; (b) every cache is a size-bounded LRU —
  * a stopped session's entries age out under pressure instead of
  * accumulating, and the bound caps worst-case footprint regardless of
  * session churn. (A session-stop listener was considered and rejected:
  * sessions share one SparkContext, and SparkSession exposes no per-
  * session stop hook to non-Spark code.)
  */
private[table] object SessionCaches {

  private val tokens =
    new java.util.WeakHashMap[SparkSession, String]()

  /** Stable unique id for `spark` — never reused across sessions (unlike
    * identityHashCode). The side table is weak-keyed and its values are
    * plain strings, so it never pins a stopped session in memory.
    */
  def token(spark: SparkSession): String = tokens.synchronized {
    var t = tokens.get(spark)
    if (t == null) { t = java.util.UUID.randomUUID().toString; tokens.put(spark, t) }
    t
  }

  private val noAqe =
    new java.util.WeakHashMap[SparkSession, SparkSession]()
  // Keys we copied onto the clone on a previous reuse. A key the parent
  // later unset()s disappears from its getAll, so plain re-mirroring
  // would leave the clone's copy standing forever (stale semantics, e.g.
  // caseSensitive stuck true); we diff against this set and unset.
  private val noAqeMirrored =
    new java.util.WeakHashMap[SparkSession, Set[String]]()

  /** A clone of `spark` with adaptive execution OFF, cached per parent
    * session (weak-keyed — dies with its parent). AQE materializes each
    * exchange as a separate Spark JOB (`withThreadLocalCaptured`
    * futures), which doubles the job count of the tiny per-commit stats
    * aggregation — two scheduling latencies for a query over a handful
    * of rows (CommitFloorProbe). Runtime re-planning buys nothing at
    * that size; metadata-scale internal queries run here instead.
    *
    * `newSession()` starts from the session's INITIAL configs and drops
    * runtime overrides (`spark.sql.caseSensitive`, ANSI flags,
    * `spark.hadoop.*` credentials set after startup), so internal reads
    * would run under different semantics — or fail outright on deployed
    * credentials — and the callers' catch-into-invalidateStats would
    * silently disarm file skipping on every commit. The clone therefore
    * mirrors the parent's full runtime conf on creation AND on every
    * reuse (the parent may have changed settings since), with adaptive
    * re-pinned off last.
    */
  def noAqeSession(spark: SparkSession): SparkSession = noAqe.synchronized {
    var s = noAqe.get(spark)
    if (s == null) {
      s = spark.newSession()
      noAqe.put(spark, s)
    }
    val clone = s
    val parentAll = spark.conf.getAll
    // Keys mirrored on a prior reuse that the parent has since unset():
    // revert them on the clone too, or internal reads keep running under
    // the reverted semantics forever.
    val previously = Option(noAqeMirrored.get(spark)).getOrElse(Set.empty)
    (previously -- parentAll.keySet).foreach { k =>
      try clone.conf.unset(k)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    val mirrored = Set.newBuilder[String]
    parentAll.foreach { case (k, v) =>
      // runtime conf holds some launch-time-only keys (e.g.
      // spark.master); setting them throws — mirror what CAN be set.
      // NonFatal, not just AnalysisException: set() can also throw
      // IllegalArgumentException on a value failing a modifiable key's
      // validator, which must not abort the rest of the mirror loop.
      if (clone.conf.isModifiable(k) &&
          !clone.conf.getOption(k).contains(v)) {
        try { clone.conf.set(k, v); mirrored += k }
        catch { case scala.util.control.NonFatal(_) => () }
      } else if (clone.conf.isModifiable(k)) {
        // already at the parent's value (mirrored earlier or default) —
        // still ours to revert if the parent later unsets it
        mirrored += k
      }
    }
    noAqeMirrored.put(spark, mirrored.result())
    clone.conf.set("spark.sql.adaptive.enabled", "false")
    clone
  }
}

/** Minimal thread-safe LRU (access-ordered, size-bounded). Values may be
  * heavy (row snapshots, bloom filters); the bound is entry COUNT because
  * every cached value here is already per-entry bounded by its producer
  * (SmallSnapshot's maxRows, one schema, one index dir).
  */
private[table] final class BoundedLruCache[V](maxEntries: Int) {
  private val m = new java.util.LinkedHashMap[String, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean =
      size() > maxEntries
  }
  def get(k: String): Option[V] = m.synchronized(Option(m.get(k)))
  def put(k: String, v: V): Unit = m.synchronized { m.put(k, v); () }
  def remove(k: String): Unit = m.synchronized { m.remove(k); () }
  def clear(): Unit = m.synchronized(m.clear())
}
