package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Tag-partition compaction for the standing indexes' batch_tag-
  * partitioned tables ([[graft.dedup.StandingDedupIndex]],
  * [[graft.similarity.StandingAnnIndex]]'s PQ code table): at a daily
  * ingest cadence a year is ~365 `batch_tag=N` directories per table, and
  * the partitioned layout that makes tag probes O(1) becomes a listing
  * burden. [[archiveThrough]] folds every partition with
  * `batch_tag ≤ w` into the single `batch_tag = -1` ARCHIVE partition
  * (clustered write — few large files) and directory-deletes the
  * originals (partition-predicate DELETE opens no data file), while the
  * index-level WATERMARK keeps replay idempotence: a tag at or below the
  * watermark is known-ingested even though its partition is gone, so a
  * replayed batch still skips.
  *
  * Crash ordering: archive rows are APPENDED first, the watermark
  * advances second, the original partitions delete last. A crash between
  * steps leaves duplicate index rows — harmless by the index contract
  * (membership joins + DISTINCT-ed candidates) — and re-running
  * archiveThrough converges. What is NOT supported after compaction is
  * `excludeTag` replay of an ARCHIVED tag (its rows are merged into the
  * archive); callers must only exclude tags above the watermark, which
  * matches the recovery window replay actually needs (a crashed batch is
  * always the newest one, never one compacted weeks later).
  */
object TagArchive {

  /** All archived rows land in this reserved partition. */
  val ArchiveTag: Long = -1L

  /** The watermark lives under the INDEX root (never inside a table
    * directory): table rewrites swap their directory wholesale and would
    * silently drop a file stored there. `scope` separates watermarks for
    * indexes that compact more than one independently-tagged table.
    */
  private def watermarkFile(basePath: String, scope: String) =
    new Path(basePath, s"_index_meta/${scope}_compaction_watermark")

  /** Highest archived tag, or Long.MinValue before any compaction. */
  def watermark(spark: SparkSession, basePath: String,
      scope: String = "index"): Long = {
    val p = watermarkFile(basePath, scope)
    SideFiles.readLatest(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
      .fold(Long.MinValue)(_.trim.toLong)
  }

  def setWatermark(spark: SparkSession, basePath: String, w: Long,
      scope: String = "index"): Unit = {
    val p = watermarkFile(basePath, scope)
    SideFiles.replace(p.getFileSystem(spark.sparkContext.hadoopConfiguration),
      p, w.toString)
  }

  /** Fold every `batch_tag ∈ [minTag, w]` partition of `table` into the
    * archive partition. `nFiles` bounds the archive write's file count
    * (the whole point is fewer, larger files).
    */
  def archiveThrough(table: MedallionTable, w: Long, nFiles: Int = 4): Unit = {
    require(w != ArchiveTag, "cannot archive the archive partition itself")
    val victims = table.read
      .filter(col("batch_tag") <= w && col("batch_tag") =!= ArchiveTag)
    if (victims.isEmpty) return
    table.append(victims
      .drop("batch_tag").withColumn("batch_tag", lit(ArchiveTag))
      .coalesce(nFiles))
    table.delete(col("batch_tag") <= w && col("batch_tag") =!= ArchiveTag)
  }
}
