package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** DV-backed UPDATE — the update extension of [[DeletionVectors]]:
  * `UPDATE` as (position marks over the old row versions) + (an appended
  * batch of new row versions), with write cost O(matched rows) instead of
  * the O(table) rewrite [[MedallionTable.update]] pays. Delta ships the
  * same mechanism once its log could commit a remove-DV and an add-file
  * in one transaction; this layout reproduces the atomicity with a
  * different primitive — a SINGLE directory rename as the commit point:
  *
  *  1. The new row versions are staged under
  *     `_graft_meta/dv_updates/<batch>/` in the table's own partition
  *     layout. Everything under `_graft_meta` is invisible to every read
  *     surface, so staging is unobservable.
  *  2. The position marks for the matched (old) rows are staged as a
  *     parquet directory, then renamed to
  *     `_graft_meta/dv/update_<batch>/` — ONE atomic rename. The marks
  *     landing in the DV sidecar hides the old rows, and the same rename
  *     is the witness that makes batch `<batch>` data visible: readers
  *     treat a staged batch as part of the table iff its marks directory
  *     exists. Both effects flip together; there is NO window where a
  *     reader sees duplicates (new rows without marks) or losses (marks
  *     without new rows).
  *
  * A crash before the rename leaves invisible litter (staged batch dir,
  * staged marks) that [[MedallionTable.vacuum]] clears once no writer
  * lock stands; a crash after the rename is a completed update.
  * `UpdateVectoredSpec` drives both sides of the window with the commit
  * failpoint.
  *
  * The same commit with no batch is the sidecar's only other shape: a
  * DELETE (and a DV compaction) stages its marks alone and renames them
  * to a marks-only `update_<id>/` — no `dv_updates/<id>` data dir, so
  * [[committedBatches]] never lists it and [[marksOnly]] does.
  *
  * Lifecycle matches the deletion vector's: any full REWRITE reads
  * through the update-applied view, so OPTIMIZE/merge/overwrite
  * materialize the new row versions into ordinary data files and the
  * swap drops `_graft_meta` — batches never outlive the base files they
  * amend. Partition-scoped writes (OPTIMIZE…WHERE, mergePruned, the
  * partition fast DELETE) materialize or drop the matched partitions and
  * delete the corresponding partition subdirectories of every committed
  * batch, leaving other partitions' amendments live.
  *
  * 100 TB shape: the marks and the new row versions are both O(matched);
  * reads add one unionByName branch per live batch (each a plain file
  * scan in the table's partition layout) and the existing DV anti-join —
  * no shuffle is introduced. The batch count is bounded by update
  * frequency between OPTIMIZE runs, the same bound Delta's DV file count
  * has between compactions.
  */
object DvUpdates {

  private[table] def dir(tablePath: String): String =
    s"$tablePath/_graft_meta/dv_updates"

  private[table] def batchDataDir(tablePath: String, batch: String): String =
    s"${dir(tablePath)}/$batch"

  /** The committed marks directory for `batch` — existing ⟺ the batch is
    * committed. Lives INSIDE the DV sidecar dir so the marks apply
    * through the ordinary [[DeletionVectors.applied]] read (its sidecar
    * read is recursive).
    */
  private[table] def marksDir(tablePath: String, batch: String): Path =
    new Path(DeletionVectors.dir(tablePath), s"update_$batch")

  /** Staging area for the marks while the update is in flight (inside
    * `_graft_meta`, so invisible; sibling of the sidecar so the commit
    * rename is same-directory-tree and cheap).
    */
  private[table] def marksStagingDir(tablePath: String, batch: String): Path =
    new Path(s"$tablePath/_graft_meta/dv_updates_staging/update_$batch")

  /** Batches whose commit rename landed, oldest-first by name (order is
    * not semantically significant: marks hide each batch's own
    * pre-images, so batches commute under union).
    */
  private[graft] def committedBatches(spark: SparkSession,
      tablePath: String): Seq[String] = {
    val d = new Path(dir(tablePath))
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(d)) return Nil
    fs.listStatus(d).toSeq.collect {
      case st if st.isDirectory &&
        fs.exists(marksDir(tablePath, st.getPath.getName)) =>
        st.getPath.getName
    }.sorted
  }

  /** Committed marks directories that witness no batch — the marks-only
    * commits of DV deletes and compactions: `update_<id>` under the
    * sidecar with no `dv_updates/<id>` data dir. Ids, sorted.
    */
  private[table] def marksOnly(spark: SparkSession,
      tablePath: String): Seq[String] = {
    val d = new Path(DeletionVectors.dir(tablePath))
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (try fs.listStatus(d).toSeq
     catch { case _: java.io.FileNotFoundException => Nil }).collect {
      case st if st.isDirectory && st.getPath.getName.startsWith("update_") =>
        st.getPath.getName.stripPrefix("update_")
    }.filterNot(id => fs.exists(new Path(batchDataDir(tablePath, id)))).sorted
  }

  /** Staged-but-never-committed batch dirs and orphaned marks stagings —
    * a failed or crashed writer's litter, invisible to reads; vacuum's
    * cleanup list (reaped only while no writer lock stands).
    */
  private[table] def orphans(spark: SparkSession,
      tablePath: String): Seq[Path] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val d = new Path(dir(tablePath))
    val fs = d.getFileSystem(conf)
    val staged =
      if (!fs.exists(d)) Nil
      else fs.listStatus(d).toSeq.collect {
        case st if st.isDirectory &&
          !fs.exists(marksDir(tablePath, st.getPath.getName)) => st.getPath
      }
    val stagingRoot = new Path(s"$tablePath/_graft_meta/dv_updates_staging")
    val marks =
      if (!fs.exists(stagingRoot)) Nil
      else fs.listStatus(stagingRoot).toSeq.map(_.getPath)
    staged ++ marks
  }

  /** Data files of every committed batch — the update extension's
    * contribution to "this table's data files"
    * ([[ShallowClone.scanFiles]] folds this in, which carries the files
    * into the stats manifest, bloom index builds, clone manifests, and
    * DV key resolution).
    */
  private[table] def dataFiles(spark: SparkSession,
      tablePath: String): Seq[String] =
    committedBatches(spark, tablePath).flatMap(b =>
      ShallowClone.listParquet(spark, batchDataDir(tablePath, b)))

  /** Driver-side "does any parquet under `dir` hold a row?" via footer
    * row counts — replaces the `spark.read.parquet(dir).head(1)` job the
    * post-write emptiness probes paid (2 Spark jobs per DV merge/update
    * commit, on files this writer just created). It guards a commit, so
    * it fails closed: an unreadable footer throws and the commit aborts
    * before its rename, instead of counting as rows and committing a
    * corrupt batch or marks file.
    */
  private[table] def anyRows(spark: SparkSession, dir: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    FsWalk.dataParquet(p.getFileSystem(conf), p)
      .exists(f => TableSnapshot.footerRows(conf, f._1) > 0)
  }

  /** Per-batch scans for the committed batches that hold files, paired
    * with the batch data dir, from the table's [[TableSnapshot]]: each
    * declares the schema its writer stamped into the footers (a batch is
    * written by ONE job, so its files share it; schema evolution BETWEEN
    * batches is the fold's unionByName(allowMissingColumns)), so no scan
    * pays a footer-inference job at plan construction. `basePath`
    * anchors hive partition-column recovery at the batch dir, mirroring
    * the base scan's layout.
    */
  private[table] def committedScans(spark: SparkSession,
      snap: TableSnapshot): Seq[(String, DataFrame)] =
    snap.liveBatches.map(b => b.dir -> spark.read.schema(b.schema)
      .option("basePath", b.dir).parquet(b.files: _*))

  /** Fold the committed batches onto `base`: each branch is prepared by
    * `prep` (position columns, stats keys — anything that needs the
    * branch's own `_metadata`, which does not survive a union) and
    * DV-applied against the batch's own root before the
    * `unionByName(allowMissingColumns)` (schema evolution between update
    * time and read time surfaces as typed nulls, same as mergeSchema).
    * `base` must already be prepared/DV-applied by the caller.
    */
  private[table] def foldBatches(spark: SparkSession, tablePath: String,
      base: DataFrame, prep: DataFrame => DataFrame = identity): DataFrame =
    foldBatchesOpt(spark, tablePath, Some(base), prep).get

  /** [[foldBatches]] tolerating an absent base scan (a partition
    * fast-DELETE can remove every base file while committed batches still
    * hold rows); None ⟺ no base AND no committed batch.
    */
  private[table] def foldBatchesOpt(spark: SparkSession, tablePath: String,
      base: Option[DataFrame],
      prep: DataFrame => DataFrame = identity): Option[DataFrame] =
    committedScans(spark, TableSnapshot.of(spark, tablePath))
      .foldLeft(base) { case (acc, (bd, scan)) =>
        val branch = DeletionVectors.applied(spark, prep(scan),
          DeletionVectors.dir(tablePath), bd)
        Some(acc.fold(branch)(_.unionByName(branch, allowMissingColumns = true)))
      }

  /** Columns [[amendedKeyed]] pins each branch's (full path, row index)
    * to before the union.
    */
  private[table] val FileCol = "__graft_dvu_file"
  private[table] val PosCol = "__graft_dvu_pos"

  /** The ONE-JOIN amended read: base scan plus every committed batch,
    * each branch pinning `_metadata` to plain (full path, row index)
    * columns BEFORE the union (the metadata struct does not survive one),
    * then a single DV anti-join over the whole union. Replaces a
    * per-branch [[DeletionVectors.applied]] fold on the hot read path:
    * B+1 separate anti-join sub-plans were the dominant plan-construction
    * cost as batches accumulate (DvBatchProbe). The sidecar's key→path
    * resolution uses the snapshot's file map, which already folds the
    * committed batch files in, so marks over base rows and over batch
    * rows resolve through one map. The [[FileCol]]/[[PosCol]] columns are
    * left in place: `read` drops them, the DV writers derive their mark
    * columns from them. None ⟺ no base AND no committed batch.
    *
    * `batchesInBase`: a shallow clone's base scan is built from
    * [[ShallowClone.scanFiles]], which ALREADY folds this table's own
    * committed batch files in — unioning the batch scans on top would
    * read every amended row twice (and a subsequent update would then
    * write duplicate new versions). Callers whose base carries the batch
    * files set this true and the union is skipped; the single anti-join
    * still hides the old versions.
    */
  private[table] def amendedKeyed(spark: SparkSession, snap: TableSnapshot,
      baseRaw: Option[DataFrame],
      batchesInBase: Boolean = false): Option[DataFrame] = {
    import org.apache.spark.sql.functions.col
    def keyed(df: DataFrame): DataFrame = df
      .withColumn(FileCol, col("_metadata.file_path"))
      .withColumn(PosCol, col("_metadata.row_index"))
    val branches = baseRaw.map(keyed).toSeq ++
      (if (batchesInBase) Nil else committedScans(spark, snap).map(b => keyed(b._2)))
    branches.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .map(u => DeletionVectors.antiJoin(spark, u, snap, FileCol, PosCol))
  }
}
