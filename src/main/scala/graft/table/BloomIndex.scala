package graft.table

import java.io.ByteArrayInputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Per-file bloom-filter index for POINT lookups — the skipping story
  * min/max stats cannot tell. The stats manifest ([[TableStats]]) prunes
  * range predicates on CLUSTERED columns; an equality lookup on a
  * high-cardinality column that is NOT the clustering key (a user id in
  * an event log clustered by time — every file's [min,max] spans the
  * whole id domain) matches every file's envelope and prunes nothing.
  * Delta solves this with per-file bloom filter indexes (the
  * `CREATE BLOOMFILTER INDEX` surface); this is that index for
  * [[MedallionTable]], wired into the same catalog scan pruning as the
  * stats manifest ([[graft.sources.GraftSqlSource]]).
  *
  * Layout: `_graft_meta/bloom/<column>/` holds one row per data file
  * (`file`, `bf` — Spark's `util.sketch.BloomFilter` serialization, the
  * exact bytes `BloomFilterAggregate` emits, keyed by `xxhash64` of the
  * column value). Build is ONE distributed pass grouped by
  * `input_file_name()`; the index is files-sized, read driver-side like
  * every other manifest (the same class as Delta's log-stored index
  * metadata).
  *
  * Staleness contract, mirroring the stats manifest's:
  *  - REWRITES (overwrite / merge / delete / optimize) swap
  *    `_graft_meta` away wholesale — the index vanishes with them, never
  *    stale.
  *  - APPENDS leave it in place: [[prunedFiles]] keeps any live file the
  *    index does not cover (conservative), so an un-reindexed append is
  *    scanned, never missed. Re-run [[build]] to fold new files in.
  *
  * False positives cost only extra files opened; the pushed predicate
  * still filters rows — results are exact at any FPP, which is what the
  * `k6_catalog_bloom_skip` oracle asserts.
  */
object BloomIndex {

  private def indexDir(tablePath: String, column: String) =
    s"$tablePath/_graft_meta/bloom/$column"

  /** One pass: per-file bloom over `column`, written as the index for
    * `tablePath`. Filters are sized from the LARGEST file's row count
    * (one count-only pre-pass — no data columns read) unless
    * `expectedItemsPerFile` overrides: an oversized bloom costs probe
    * time linearly (every query deserializes every file's filter), an
    * undersized one only false positives.
    */
  def build(spark: SparkSession, tablePath: String, column: String,
      expectedItemsPerFile: Long = 0L): Unit = {
    // logical view: `column` is the user-facing name (ColumnMap), and a
    // rename drops the old index dir rather than remapping it
    val df = ColumnMap.toLogical(spark.read.parquet(tablePath),
      new MedallionTable(spark, tablePath).meta.colMap)
    val items =
      if (expectedItemsPerFile > 0L) expectedItemsPerFile
      else math.max(1000L,
        df.groupBy(input_file_name()).count()
          .agg(max(col("count"))).head.getLong(0) * 5 / 4)
    val agg = new BloomFilterAggregate(
      new XxHash64(Seq(GraftColumnBridge.expression(df(column)))),
      items).toAggregateExpression()
    val rows = df
      .groupBy(input_file_name().as("file"))
      .agg(GraftColumnBridge.column(agg).as("bf"))
    val dir = indexDir(tablePath, column)
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    rows.coalesce(1).write.mode("overwrite").parquet(dir)
  }

  def exists(spark: SparkSession, tablePath: String, column: String): Boolean = {
    val p = new Path(indexDir(tablePath, column))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Live data files that might hold ANY of `values` in `column`, or
    * None when the column has no index. Indexed files test against their
    * bloom driver-side (the index is files-sized — the same
    * metadata-bounded read as [[TableStats.prunedFiles]]); live files
    * the index does not cover (post-build appends) are always kept.
    * `dataType` is the COLUMN's table type — probes must hash the same
    * representation the build inserted.
    */
  def prunedFiles(spark: SparkSession, tablePath: String, column: String,
      values: Seq[Any],
      dataType: org.apache.spark.sql.types.DataType): Option[Seq[String]] = {
    if (values.isEmpty) return None
    val loaded = cachedIndex(spark, tablePath, column).getOrElse(return None)
    // hash exactly as the build side did: value cast to the COLUMN type
    // first (a Long probe against an Int column must hash the Int form),
    // then xxhash64 with the default seed
    val hashes = values.filter(_ != null).map { v =>
      val lit = Literal.create(v)
      val casted =
        if (lit.dataType == dataType) lit
        else Literal.create(Cast(lit, dataType, Some("UTC")).eval(null), dataType)
      new XxHash64(Seq(casted)).eval(null).asInstanceOf[Long]
    }
    if (hashes.isEmpty) return None
    Some(liveDataFiles(spark, tablePath).flatMap { f =>
      loaded.get(normalize(f)) match {
        case Some((indexedName, bloom)) =>
          if (hashes.exists(bloom.mightContainLong)) Some(indexedName) else None
        case None => Some(f) // not covered by the index: keep
      }
    })
  }

  /** Deserialized index snapshot keyed by normalized file path, cached
    * driver-side against the index file's mtime (the Delta-client
    * pattern of caching log snapshots): repeated lookups pay the parquet
    * read + bloom deserialization once, not per execution. LRU-bounded
    * ([[BoundedLruCache]]) — bloom snapshots are the heaviest cached
    * values in the table layer, so cold index dirs age out instead of
    * accumulating for the JVM's lifetime.
    */
  private val cache = new BoundedLruCache[
    (Long, Map[String, (String, BloomFilter)])](64)

  private def cachedIndex(spark: SparkSession, tablePath: String,
      column: String): Option[Map[String, (String, BloomFilter)]] = {
    val dir = indexDir(tablePath, column)
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) { cache.remove(dir); return None }
    val mtime = fs.listStatus(p).map(_.getModificationTime).foldLeft(0L)(math.max)
    cache.get(dir) match {
      case Some((`mtime`, snap)) => Some(snap)
      case _ =>
        val snap = spark.read.parquet(dir).select("file", "bf").collect()
          .map { r =>
            val f = r.getString(0)
            normalize(f) -> (f -> BloomFilter.readFrom(
              new ByteArrayInputStream(r.getAs[Array[Byte]](1))))
          }.toMap
        cache.put(dir, (mtime, snap))
        Some(snap)
    }
  }

  /** Scheme-insensitive identity for a data file ("file:///x" from
    * `input_file_name` vs "file:/x" from Hadoop qualification).
    */
  private def normalize(f: String): String = new Path(f).toUri.getPath

  /** Data-file listing shared with the read path ([[ShallowClone
    * .scanFiles]]: clone pointers ∪ local parquet walk, hidden dirs
    * excluded). The prune set and the scan set must be the SAME files —
    * one traversal rule means a future hidden-file change cannot diverge
    * them, and a clone's pointed-at files (never bloom-covered) are kept
    * by the conservative prune above rather than silently missed.
    */
  private def liveDataFiles(spark: SparkSession, tablePath: String): Seq[String] =
    ShallowClone.scanFiles(spark, tablePath)
}
