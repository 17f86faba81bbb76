package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

/** Delta-style `COPY INTO` — idempotent, incremental file loading into a
  * [[MedallionTable]] (the reference's bronze landing step,
  * `raw_data_download.py` → `bronze_table_creation.py:25`, made
  * exactly-once): each run lists the source directory, loads ONLY the
  * files no previous run loaded, and records them in a loaded-file log so
  * a re-run (scheduler retry, backfill overlap, crashed orchestrator
  * replay) is a no-op instead of a duplicate append. Per-run cost is
  * O(new files) data work + O(loaded files) log metadata — the log is one
  * row per ingested file, the same driver-metadata class as Delta's own
  * transaction log, never a data scan.
  *
  * Files are identified by their qualified path string (Delta's default:
  * re-landing DIFFERENT bytes under an ALREADY-LOADED path is not
  * re-ingested — landing zones append new files, they don't edit old
  * ones).
  *
  * == Crash-safe protocol ==
  *
  * The data append and its log entry live in different places, so a crash
  * between them must not double-load (log missing, data present) or
  * drop files forever (log present, data missing). Ordering, under a
  * table-scoped `copy.lock` (create-exclusive, same discipline as the
  * writer lock — `vacuum()` clears a crashed run's leftover):
  *
  *  1. RECOVER: for each pending log segment from a crashed predecessor,
  *     ask `history()` whether its batch's data commit landed
  *     (the batch id rides in the commit-marker op, `copy-into:<batch>`):
  *     landed → finalize the segment (step 4 below, replayed); not landed
  *     → discard it (its files re-qualify as new).
  *  2. STAGE: write the new files' log rows to
  *     the pending segment dir (not yet visible to the
  *     loaded-file set).
  *  3. COMMIT: append the data through the normal claim-first commit with
  *     op `copy-into:<batch>`.
  *  4. FINALIZE: rename the pending segment into the loaded-file log
  *     (atomic dir rename). A crash before 3 loses only staged metadata;
  *     a crash between 3 and 4 is exactly what step 1 repairs.
  *
  * Recovery window: step 1 trusts `history()` OR the durable per-batch
  * witness file written right after the data commit — other writers
  * (appends, streaming sinks) can prune the commit marker from history
  * long before the next COPY INTO runs, and the witness outlives that
  * pruning. The only history-dependent instant is the driver-local gap
  * between the commit returning and the witness landing.
  */
object CopyInto {

  final case class Result(filesLoaded: Int, rowsLoaded: Long)

  // The log lives in the COMMITS sibling dir, not `_graft_meta`: rewrites
  // (OPTIMIZE / row-level DELETE / RESTORE) swap the table directory —
  // `_graft_meta` included — and carry forward only table STATE (schema,
  // constraints, versions, DV, colmap). Ingest bookkeeping must survive a
  // compaction exactly like the commit markers do, and they survive by
  // living beside the table, where the swap never reaches.
  private def logDir(tablePath: String) =
    new Path(SideFiles.commitsDir(tablePath), "copy_log")
  private def pendingDir(tablePath: String) =
    new Path(SideFiles.commitsDir(tablePath), "copy_log_pending")
  private def lockFile(t: MedallionTable) = new Path(t.commitsDir, "copy.lock")

  /** Test hook, [[MedallionTable.testFailpoint]] style: called between the
    * data commit and the log finalize so specs can simulate the crash the
    * recovery step exists for.
    */
  @volatile var testFailpoint: String => Unit = _ => ()

  /** Qualified paths of every file a previous COPY INTO loaded. */
  def loadedFiles(spark: SparkSession, tablePath: String): Set[String] = {
    val dir = logDir(tablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Set.empty
    // the log is a flat dir of per-batch segment SUBDIRS (each finalized
    // by one atomic rename) — recurse past them to the parquet parts
    else spark.read.option("recursiveFileLookup", "true")
      .parquet(dir.toString)
      .select("source_file").collect().map(_.getString(0)).toSet
  }

  /** Non-hidden data files under `sourceDir` (recursive), qualified;
    * `pattern` (Delta's `PATTERN` option, a glob over the source-relative
    * path) narrows the landing — a subtree glob (dir slash double-star)
    * or a `batch-` filename prefix glob.
    */
  private def listSource(spark: SparkSession, sourceDir: String,
      pattern: Option[String]): Seq[String] = {
    val root = new Path(sourceDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"COPY INTO source does not exist: $sourceDir")
    val matcher = pattern.map(p =>
      java.nio.file.FileSystems.getDefault.getPathMatcher(s"glob:$p"))
    // FsWalk's pruned listStatus census, not fs.listFiles(recursive):
    // this walk is O(source files) EVERY run and a 100k-file landing
    // dir is COPY INTO's steady state — the located-status iterator's
    // ~4.3 ms/file would dominate the idempotent re-run's no-op cost
    FsWalk.files(fs, root, FsWalk.hiddenName).collect {
      case (st, rel)
          if !FsWalk.hiddenName(st.getPath.getName) &&
            matcher.forall(_.matches(java.nio.file.Paths.get(rel))) =>
        fs.makeQualified(st.getPath).toString
    }.sorted
  }

  private def withCopyLock[T](t: MedallionTable)(body: => T): T =
    t.withFileLock(lockFile(t), "COPY INTO copy lock")(body)

  /** Step 1 of the protocol — also callable on its own (a maintenance
    * janitor). MUST run under the copy lock when called from a load.
    */
  /** Durable per-batch commit witness: commit markers prune after
    * [[MedallionTable.HistoryDepth]] commits FROM ANY WRITER (appends,
    * streaming sinks), so a crashed-but-committed batch whose recovery
    * only runs much later needs a witness that outlives the pruning.
    * Written right after the data commit, deleted after the finalize it
    * guards. The residual unwitnessed window is the driver-local
    * instant between the commit returning and this file landing —
    * covered by the history marker, which cannot have pruned yet.
    */
  private def witnessFile(t: MedallionTable, batch: String) =
    new Path(t.commitsDir, s"copy_batches/$batch")

  private def recoverPending(t: MedallionTable): Unit = {
    val spark = t.spark
    val pend = pendingDir(t.path)
    val fs = pend.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(pend)) return
    val committedOps = t.history().map(_._2).toSet
    fs.listStatus(pend).foreach { st =>
      val batch = st.getPath.getName
      if (committedOps.contains(s"copy-into:$batch") ||
          fs.exists(witnessFile(t, batch))) {
        // data landed, finalize was lost — replay it
        fs.mkdirs(logDir(t.path))
        if (!fs.rename(st.getPath, new Path(logDir(t.path), batch)))
          throw new java.io.IOException(
            s"COPY INTO recovery: finalize rename failed for batch $batch")
        try fs.delete(witnessFile(t, batch), false)
        catch { case _: java.io.IOException => () }
      } else fs.delete(st.getPath, true) // data never committed: re-qualify
    }
  }

  /** Load the not-yet-loaded files from `sourceDir` into `table`.
    * `format` is a Spark DataSource short name (`parquet`/`csv`/`json`),
    * `options` passes through to the reader (e.g. `header`,
    * `inferSchema`). Row counts are footer-only for parquet; CSV/JSON pay
    * one extra O(new files) pass.
    */
  def copyInto(table: MedallionTable, sourceDir: String,
      format: String = "parquet",
      options: Map[String, String] = Map.empty,
      pattern: Option[String] = None): Result =
    withCopyLock(table) {
      val spark = table.spark
      recoverPending(table)
      val newFiles =
        (listSource(spark, sourceDir, pattern).toSet --
          loadedFiles(spark, table.path)).toSeq.sorted
      if (newFiles.isEmpty) Result(0, 0L)
      else {
        val batch = java.util.UUID.randomUUID().toString
        // STAGE: one tiny parquet segment per run — O(new files) rows
        val spark2 = spark
        import spark2.implicits._
        newFiles.toDF("source_file").withColumn("batch_id", lit(batch))
          .coalesce(1).write
          .parquet(new Path(pendingDir(table.path), batch).toString)
        // COMMIT: the batch id rides in the op string (recovery's witness)
        val df = spark.read.format(format).options(options).load(newFiles: _*)
        val rows = df.count()
        table.appendOp(df, s"copy-into:$batch")
        // durable witness BEFORE the failpoint/finalize: recovery must
        // see the commit even after marker retention prunes its op
        val fs = pendingDir(table.path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        SideFiles.write(fs, witnessFile(table, batch), batch)
        testFailpoint("post-copy-commit")
        // FINALIZE
        fs.mkdirs(logDir(table.path))
        if (!fs.rename(new Path(pendingDir(table.path), batch),
            new Path(logDir(table.path), batch)))
          throw new java.io.IOException(
            s"COPY INTO: finalize rename failed for batch $batch " +
              "(the data committed; the next run's recovery completes the log)")
        try fs.delete(witnessFile(table, batch), false)
        catch { case _: java.io.IOException => () }
        Result(newFiles.size, rows)
      }
    }
}
