package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion vectors — soft deletes as a positional sidecar, Delta's
  * modern DELETE mechanism reproduced for [[MedallionTable]].
  *
  * A predicate DELETE through the rewrite path costs O(table): every
  * surviving row of every touched file is rewritten. At 100 TB a GDPR
  * erasure of a few thousand rows cannot pay that. A deletion vector
  * instead records the POSITIONS of deleted rows — `(file, pos)` rows
  * under `_graft_meta/dv/` — and every read drops them with an
  * anti-join against the (tiny, broadcast) position set:
  * write cost O(matched rows), read overhead one broadcast anti-join,
  * zero data files touched (which `DeletionVectorSpec` asserts by file
  * listing + mtime). The next REWRITE of any kind (OPTIMIZE, merge,
  * update, restore) reads through the DV-applied view and therefore
  * materializes the deletions physically; the swap drops the sidecar
  * with the rest of `_graft_meta` — DVs never outlive the files they
  * annotate. Delta stores roaring bitmaps in the log; a parquet
  * position list is the same contract in this layout's idiom.
  *
  * Every mark lands the same way, Delta's one atomic log commit per
  * deletion vector rebuilt on the filesystem primitive this layout
  * already trusts: the writer stages its marks privately and ONE
  * directory rename lands them as `_graft_meta/dv/update_<id>/`
  * ([[MedallionTable]] `commitBatch`). UPDATE and MERGE stage a batch of
  * new row versions beside the marks, and the marks landing is
  * simultaneously the visibility witness for that batch
  * ([[DvUpdates]]); a DELETE commits a marks-only directory. A crash
  * before the rename leaves nothing visible, after it a whole commit —
  * see the [[DvUpdates]] scaladoc for the crash-window argument.
  *
  * Files are keyed by their RELATIVE TAIL — the basename plus any
  * trailing `part=value` partition segments — not the full path:
  * archived snapshots relocate data files under
  * `_graft_meta/versions/vN/` (and clones point at another root), so a
  * path-keyed vector would silently resurrect its rows after
  * relocation. Basename alone is NOT enough on a partitioned table: one
  * dynamic-partition write job reuses its task UUID across partition
  * directories, so sibling partitions hold same-named files — the
  * partition segments are the discriminator (caught by
  * IncrementalJoinSpec's pruned-repair test). Row positions come from
  * `_metadata.row_index`, stable for immutable parquet.
  */
object DeletionVectors {

  private[table] def dir(tablePath: String): String =
    s"$tablePath/_graft_meta/dv"

  /** Archived-snapshot sidecar location ([[MedallionTable.readVersion]]):
    * underscore-prefixed so the snapshot's parquet listing ignores it.
    */
  private[table] def archivedDir(versionDir: Path): Path =
    new Path(versionDir, "_graft_dv")

  private[table] def exists(spark: SparkSession, dvPath: String): Boolean = {
    val p = new Path(dvPath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Relocation-stable file key: basename plus trailing `k=v` partition
    * segments (see the class scaladoc). The regex anchors at the end and
    * greedily takes `k=v/` segments before the basename; non-partition
    * ancestors never contain '=' in this layout.
    */
  private val KeyRegex = "((?:[^/]*=[^/]*/)*[^/]+)$"

  /** Every mark writer emits exactly (file: fileKey string, pos:
    * row_index long) — the `__graft_dv_file`/`__graft_dv_pos` producers —
    * so mark scans declare the schema instead of paying a parquet
    * footer-inference job per read (one such job rode EVERY
    * fingerprint-missed sidecar read and every change-feed marks read).
    */
  private[table] val MarkSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("file",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType)))

  /** The sidecar read: recursive, because every commit's marks live in
    * its own `update_<id>/` SUBDIRECTORY of the sidecar (the atomic
    * commit rename lands a directory, not a file), whether it witnesses
    * a staged batch ([[DvUpdates]]) or is marks-only (a DELETE or a
    * compaction). All carry (file, pos).
    */
  private[table] def sidecar(spark: SparkSession, dvPath: String): DataFrame =
    spark.read.schema(MarkSchema)
      .option("recursiveFileLookup", "true").parquet(dvPath)

  private[table] def fileKey(filePath: Column): Column =
    regexp_extract(filePath, KeyRegex, 1)

  private[table] def fileKeyOf(path: String): String = {
    val segs = path.split('/')
    val parts = segs.dropRight(1).reverse.takeWhile(_.contains("=")).reverse
    (parts :+ segs.last).mkString("/")
  }

  /** `raw` must be a DataFrame directly over a parquet file scan (so the
    * `_metadata` struct resolves); returns it minus the positions listed
    * at `dvPath`, or unchanged when no vector exists. Duplicate
    * positions in the sidecar are harmless (anti-join semantics), which
    * is what lets writers commit marks without read-merge cycles.
    *
    * `rootPath` is the directory the annotated data files live under
    * (the table root, or the snapshot directory for archived vectors):
    * the sidecar's basenames resolve to full paths against its listing
    * DRIVER-SIDE — files-sized, like every other manifest read — so the
    * per-row anti-join key is the scan's own `file_path` + `row_index`,
    * with no per-row string surgery (a basename split per row measurably
    * dominated the read overhead in DvProbe).
    */
  def applied(spark: SparkSession, raw: DataFrame, dvPath: String,
      rootPath: String): DataFrame = {
    val f = "__graft_dvap_file"
    val x = "__graft_dvap_pos"
    appliedToKeyed(spark,
      raw.withColumn(f, col("_metadata.file_path"))
        .withColumn(x, col("_metadata.row_index")),
      dvPath, rootPath, f, x).drop(f, x)
  }

  /** [[applied]] over a frame that already CARRIES its (full file path,
    * row index) in explicit columns `fileCol`/`posCol` — the shape a
    * UNION of scan branches has (each branch pins `_metadata` to plain
    * columns before the union, because the metadata struct does not
    * survive one). This is what lets a multi-branch amended read pay ONE
    * anti-join for the whole union instead of one per branch
    * ([[graft.table.DvUpdates]] `amendedKeyed`): B+1 separate anti-joins
    * were the dominant plan-construction term DvBatchProbe measured.
    * The helper columns are left in place; the caller drops them.
    *
    * The live table's sidecar (`<table>/_graft_meta/dv`) resolves
    * through the table's [[TableSnapshot]] — marks collected on the
    * driver once per version, keys from the snapshot's file map — so
    * building the read launches no Spark job. An archived snapshot's
    * sidecar is read from disk on each call (time travel is rare).
    */
  private[table] def appliedToKeyed(spark: SparkSession, keyed: DataFrame,
      dvPath: String, rootPath: String,
      fileCol: String, posCol: String): DataFrame =
    if (dvPath.stripSuffix("/").endsWith(LiveSuffix))
      antiJoin(spark, keyed,
        TableSnapshot.of(spark, dvPath.stripSuffix("/").stripSuffix(LiveSuffix)),
        fileCol, posCol)
    else {
      val p = new Path(dvPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val listing = FsWalk.files(fs, p, FsWalk.hiddenName).collect {
        case (st, _) if st.getPath.getName.endsWith(".parquet") =>
          (st.getPath, st.getLen)
      }
      // a sidecar dir with no parquet yet (mkdirs from an aborted
      // update-dv commit) has no marks to apply
      if (listing.isEmpty) keyed
      else {
        val conf = spark.sparkContext.hadoopConfiguration
        lazy val byKey = ShallowClone.scanFiles(spark, rootPath)
          .groupBy(fileKeyOf).view.mapValues(_.head).toMap
        antiJoinMarks(spark, keyed, dvPath, byKey,
          if (listing.map(_._2).sum > MaxCollectedSidecarBytes) None
          else Some(listing.flatMap(f => TableSnapshot.readMarks(conf, f._1))),
          fileCol, posCol)
      }
    }

  private val LiveSuffix = "/_graft_meta/dv"

  /** The live sidecar of `snap`'s table applied to `keyed`. */
  private[table] def antiJoin(spark: SparkSession, keyed: DataFrame,
      snap: TableSnapshot, fileCol: String, posCol: String): DataFrame =
    if (!snap.hasMarks) keyed
    else antiJoinMarks(spark, keyed, dir(snap.path), snap.fileKeys,
      snap.marks, fileCol, posCol)

  /** `marks` None = above the collect cap: sidecar size is O(all rows ever
    * vector-deleted), and one huge deleteVectored (a predicate matching
    * half a big table) must not turn every later read into a driver
    * collect/broadcast OOM — so the sidecar is anti-joined DISTRIBUTED
    * (shuffle anti-join, spill-safe) and only the files-sized key→path
    * lookup is broadcast. Below it, the collected marks resolve to full
    * paths on the driver and join as one broadcast (DvProbe: per-row key
    * surgery dominated the read overhead otherwise).
    */
  private def antiJoinMarks(spark: SparkSession, keyed: DataFrame,
      dvPath: String, byKey: => Map[String, String],
      marks: Option[Seq[(String, Long)]],
      fileCol: String, posCol: String): DataFrame = {
    import spark.implicits._
    val dv = marks match {
      case None =>
        val keys = byKey.toSeq.toDF("__dv_key", "__dv_file")
        sidecar(spark, dvPath)
          .select(col("file").as("__dv_key0"), col("pos").as("__dv_pos"))
          .join(broadcast(keys), col("__dv_key0") === col("__dv_key"))
          .select(col("__dv_file"), col("__dv_pos"))
      case Some(ms) =>
        val m = byKey
        val rows = ms.flatMap { case (k, pos) => m.get(k).map(full => (full, pos)) }
        if (rows.isEmpty) return keyed
        broadcast(rows.toDF("__dv_file", "__dv_pos"))
    }
    keyed.join(dv,
      col(fileCol) === col("__dv_file") && col(posCol) === col("__dv_pos"),
      "left_anti")
  }

  /** Collect/broadcast cap for the sidecar (compressed bytes on disk).
    * 64 MB of (key, pos) parquet is ≫ any sane soft-delete set and ≪
    * driver heap; `var` so DeletionVectorSpec can exercise the
    * distributed path without writing gigabytes.
    */
  private[table] var MaxCollectedSidecarBytes: Long = 64L << 20
}
