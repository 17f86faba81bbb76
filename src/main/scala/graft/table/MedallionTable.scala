package graft.table

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}

/** Parquet-backed table with the Delta-table maintenance semantics the
  * reference exercises (SURVEY.md §2.2 K1-K4, §7.1 — no Delta jars ship in
  * this environment, so the table layer is reimplemented natively).
  *
  * Layout: a directory of parquet files, optionally hive-partitioned
  * (`partitionBy`, reference partitions every fact table on the ingest batch
  * key `data_block_id`, `bronze_table_creation.py:26` et al.). Reads always
  * pass `mergeSchema=true` so schema evolution across appends (the
  * reference's `.option('mergeSchema','true')`, K1) round-trips.
  *
  * Scale notes:
  *   - append/overwrite are plain distributed parquet writes — no driver
  *     bottleneck, any partition count. Claim-first data jobs on ONE
  *     table serialize behind the writer lock (Spark's
  *     FileOutputCommitter shares `_temporary/0` per output path, so
  *     truly simultaneous appends would corrupt each other's staging);
  *     jobs on different tables are unaffected.
  *   - merge is one full-outer shuffle join (see [[MergeOps]]) followed by a
  *     distributed rewrite. When `partitionColumns ⊆ keys`,
  *     [[mergePruned]] restricts both the read and the rewrite to the
  *     partitions present in the source — the 100 TB incremental path
  *     (a batch touching one `data_block_id` rewrites one partition, not
  *     the table).
  *   - the full-table swap keeps the previous data live until the
  *     replacement is fully in place (rename dst→backup, rename tmp→dst,
  *     delete backup; restore backup on failure).
  *   - multi-writer: optimistic concurrency via a create-exclusive
  *     commit-marker CAS plus a rewrite-intent lease (two-phase; see
  *     [[commitVersion]] / rewriteVia) plus in-flight write fencing —
  *     a rewrite computed against a stale snapshot fails cleanly with
  *     ConcurrentModificationException instead of silently discarding
  *     the other writer's commit; a claim-first writer racing a
  *     rewrite's swap backs off on the intent instead of landing rows
  *     the swap would discard; and a rewrite refuses to pin a snapshot
  *     while a claim-first data job is in flight, so a visible marker
  *     always implies visible data. No supported interleaving can
  *     silently lose committed rows. Data-plane serialization stays
  *     single-writer-preferred (the reference's Airflow DAG is strictly
  *     linear, SURVEY.md §7.4); the protocol turns violations of that
  *     assumption from corruption into detected conflicts.
  */
final class MedallionTable(
    val spark: SparkSession,
    val path: String,
    val partitionColumns: Seq[String] = Nil,
    /** >0 enables time travel: every rewrite (merge/compact/restore)
      * archives the previous table state under `_graft_meta/versions/vN`,
      * keeping the newest `retainVersions` snapshots (Delta-style history,
      * directory-granular). Appends mutate in place and do not version.
      */
    val retainVersions: Int = 0) {

  private def fs: FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Exception-free existence dispatch replacing the reference's
    * `try: save(mode='error') except: merge` control flow
    * (`silver_table_creation.py:43-66`, SURVEY.md §3.4). A directory
    * holding only `_SUCCESS`/`_temporary` leftovers from a crashed write
    * does NOT count as an existing table — only actual data files do.
    */
  def exists: Boolean = {
    val p = new Path(path)
    // A deliberately-emptied table (all rows DELETEd, schema stash in
    // place) still EXISTS: createOrError must refuse it, createOrMerge
    // must merge into it, and vacuum must not mistake it for a mid-swap
    // crash and resurrect a stale backup over it.
    fs.exists(p) &&
      (hasDataFiles(p) || fs.exists(new Path(p, "_graft_meta/schema.ddl")))
  }

  /** Recursive file walk that PRUNES skipped subtrees up front instead
    * of statting every entry and filtering afterwards — `fs.listFiles
    * (recursive)` walks job-committer staging (`_temporary`,
    * `.spark-staging-*`) whose entries vanish at commit, turning a
    * concurrent writer into FileNotFound crashes inside the listing
    * (and wasting stats on trees the caller ignores anyway). A subtree
    * vanishing mid-walk reads as empty — the committer removed it, so
    * its files were never data. Callers judge hiddenness on segments
    * BELOW the root only (an underscore-prefixed ANCESTOR dir must not
    * hide the whole table — see [[hasDataFiles]]'s data-loss note).
    */
  private def walkFiles(root: Path, skipDir: String => Boolean)(
      f: org.apache.hadoop.fs.FileStatus => Boolean): Unit = {
    def rec(d: Path): Boolean = {
      val entries =
        try fs.listStatus(d)
        catch { case _: java.io.FileNotFoundException =>
          Array.empty[org.apache.hadoop.fs.FileStatus] }
      entries.forall { st =>
        val n = st.getPath.getName
        if (st.isDirectory) skipDir(n) || rec(st.getPath)
        else f(st)
      }
    }
    rec(root)
    ()
  }

  private def hiddenName(n: String): Boolean =
    n.startsWith("_") || n.startsWith(".")

  private[table] def hasDataFiles(p: Path): Boolean = {
    var found = false
    walkFiles(p, hiddenName) { st =>
      if (!hiddenName(st.getPath.getName) && st.getLen > 0) found = true
      !found // short-circuit the walk once a data file is seen
    }
    found
  }

  def read: DataFrame = {
    val snap = TableSnapshot.of(this)
    val schemaFile = new Path(path, "_graft_meta/schema.ddl")
    // A table whose rows were all DELETEd has no data files to carry the
    // schema — fall back to the stashed DDL and stay readable (empty).
    if (snap.isClone)
      SchemaOverlay.applied(spark, path, ColumnMap.toLogical(
        DvUpdates.amendedKeyed(spark, snap,
          // WideCols.reader: a cloned-from-widened-source table copies the
          // overlay, and the pointed-at files mix narrow/wide footers
          Some(WideCols.reader(spark, path).parquet(snap.scanFiles: _*)),
          batchesInBase = true).get.drop(DvUpdates.FileCol, DvUpdates.PosCol),
        ColumnMap.load(spark, path)))
    else if (snap.rootExists && !snap.hasData && snap.batches.isEmpty &&
        fs.exists(schemaFile))
      // the stashed DDL is maintained by addColumn/dropColumn, so no
      // overlay pass is needed on this branch (batch guard: a partition
      // fast-DELETE can empty the BASE while committed update batches
      // still hold live rows — those must keep reading)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        org.apache.spark.sql.types.StructType.fromDDL(readMetaText(schemaFile)))
    else {
      // base may be absent with batches live (see the guard above):
      // start the union from the batch scans alone in that case.
      // ONE DV anti-join over the whole base∪batches union (see
      // DvUpdates.amendedKeyed) — not one per branch.
      val keyed =
        if (snap.rootExists && !snap.hasData)
          DvUpdates.amendedKeyed(spark, snap, None)
            // empty dir without stashed schema and no batches: surface
            // the same inference error the plain scan always gave
            .getOrElse(mergedParquet(snap))
        else liveKeyed(snap)
      SchemaOverlay.applied(spark, path, ColumnMap.toLogical(
        keyed.drop(DvUpdates.FileCol, DvUpdates.PosCol),
        ColumnMap.load(spark, path)))
    }
  }

  /** The physical base∪batches union of a table WITH base data files,
    * keyed by (file path, row index) and DV-applied: the one plan [[read]]
    * and [[dvLiveWithPos]] share, analysed once per snapshot and session.
    */
  private def liveKeyed(snap: TableSnapshot): DataFrame =
    snap.frame(spark, "live")(
      DvUpdates.amendedKeyed(spark, snap, Some(mergedParquet(snap))).get)

  /** [[read]] WITHOUT the committed update batches folded in — the scan
    * [[compactWhere]] materializes from: the partition-scoped overwrite
    * must not copy batch rows into the base while their files stay live
    * (the delete-after-overwrite alternative has a crash window that
    * double-counts). Assumes a non-clone table with data files (its only
    * caller requires a partitioned table).
    */
  private def readBase(): DataFrame = {
    val snap = TableSnapshot.of(this)
    SchemaOverlay.applied(spark, path, ColumnMap.toLogical(
      DvUpdates.amendedKeyed(spark, snap, Some(mergedParquet(snap)),
        batchesInBase = true).get.drop(DvUpdates.FileCol, DvUpdates.PosCol),
      ColumnMap.load(spark, path)))
  }

  /** The raw-files half of [[read]], declared with the base schema of
    * the table's [[TableSnapshot]]: `mergeSchema=true` resolves by
    * reading EVERY footer in a Spark job at each `DataFrameReader.parquet`
    * call (measured 80–530 ms per read on bench-scale tables), and the
    * snapshot holds that resolution for as long as it describes the
    * table — one version, carried by the committing writer across every
    * commit that leaves the base footer set's schema intact (see the
    * [[TableSnapshot]] scaladoc for the invalidation rule). An unresolved
    * snapshot pays the footer job once and keeps the result. While a
    * type-widening overlay is live, the authoritative reader schema
    * comes from `_graft_meta/physschema.ddl` — mixed narrow/wide footers
    * REFUSE to merge, and the explicit schema also skips the footer job
    * outright (WideCols scaladoc).
    */
  private def mergedParquet(snap: TableSnapshot): DataFrame =
    snap.baseSchema match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None =>
        val df = snap.wide.map(spark.read.schema)
          .getOrElse(spark.read.option("mergeSchema", "true")).parquet(path)
        snap.resolvedBase(df.schema)
        df
    }

  /** Order-independent hash of the commit-sibling directory's contents
    * (marker/lock/intent names × mtimes) — changes on every claim, CAS,
    * or rebuild-after-delete (fresh marker files carry fresh mtimes), at
    * the cost of ONE flat small-directory listing.
    */
  private[table] def commitStamp(excludeName: String = null): Long =
    if (!fs.exists(commitsDir)) 0L
    else fs.listStatus(commitsDir).foldLeft(0L) { (h, st) =>
      val n = st.getPath.getName
      // the stats lock and refresh stagings are manifest PLUMBING, not
      // table mutations: including them would (a) churn the table
      // snapshot for nothing and (b) make commitManifestSwap's stamp
      // re-check see its OWN staging dir as a foreign commit and always
      // abort. Append stagings are likewise INVISIBLE state — nothing a
      // reader can see changes until the publish claims a marker (which
      // IS in the stamp), and including them would make a staged
      // append's own file renames read as foreign commits in its stats
      // re-check. `excludeName` lets a claim HOLDER stamp the world
      // around its own lock, which provably vanishes before any
      // post-release reader lists ([[TableSnapshot]] publishing).
      if (n == "stats.lock" || n == "journal.lock" ||
          n.startsWith("stats_staging_") ||
          n.startsWith("append_staging_") || n == excludeName) h
      else h + n.hashCode.toLong * 1000003L + st.getModificationTime
    }

  /** Order-independent hash of every non-temporary file (relative path ×
    * length) under the table root — data AND `_graft_meta`/DV sidecars,
    * so any mutation that changes what [[read]] returns changes the
    * census. One driver listing; the read it guards lists the same tree
    * anyway. Shared as the invalidation key by [[SmallSnapshot]].
    */
  private[table] def metaCensusHash(): Long = {
    val p = new Path(path)
    if (!fs.exists(p)) 0L
    else {
      val rootUri = fs.makeQualified(p).toUri
      var h = 0L
      // job-committer staging pruned up front (walkFiles scaladoc);
      // `_graft_meta` and DV sidecars stay IN the census by design
      walkFiles(p, n => n.startsWith("_temporary") ||
          n.startsWith(".spark-staging")) { f =>
        val rel = rootUri.relativize(fs.makeQualified(f.getPath).toUri).getPath
        h += rel.hashCode.toLong * 1000003L + f.getLen
        true
      }
      h
    }
  }

  /** Persist the schema beside the data (see [[read]]'s empty fallback). */
  private def stashSchema(schema: org.apache.spark.sql.types.StructType,
      base: Path = new Path(path)): Unit =
    writeMetaText(new Path(base, "_graft_meta/schema.ddl"), schema.toDDL)

  private def writer(df: DataFrame, mode: SaveMode) = {
    val w = clusterSmallWrite(df).write.mode(mode)
    if (partitionColumns.nonEmpty) w.partitionBy(partitionColumns: _*) else w
  }

  /** Scale-adaptive write clustering (optimization guide §6 small files,
    * §2 scale-adaptive partitioning): a DRIVER-BUILT batch — every leaf a
    * [[LocalRelation]] — parallelizes into `defaultParallelism` slices
    * (32 in `local[32]`), so a 50-row append scattered 32 micro files
    * into the table, paying 32 write tasks on the commit, 32 footer
    * reads in the stats floor, and a 32-file listing/scan/footer-merge
    * on every subsequent read (WriteShapeProbe: 1000-row overwrite = 32
    * files pre-fix, 1 post). `coalesce(1)` is shuffle-free and exact
    * here: local-relation data is driver memory, small by construction,
    * and the size-estimate gate (`spark.graft.smallWriteClusterBytes`,
    * default 128 MB, 0 disables) keeps a pathological giant local frame
    * on the parallel path.
    *
    * Exchange-fed batches are deliberately NOT touched: AQE already
    * coalesces their write partitions to the advisory size at any scale
    * (measured: agg-fed 8-cell write = 8 files, scan-fed small write =
    * 1 file, with or without this), and an injected REBALANCE costs an
    * extra shuffle job per commit for nothing (A/B'd and reverted,
    * round 19). An explicit repartition root (e.g.
    * StandingAnnIndex.clusterForWrite, FileCountProbe's
    * repartitionByRange) is the caller's declared layout and passes
    * through untouched by the same leaf gate.
    */
  private def clusterSmallWrite(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      LocalRelation, Repartition, RepartitionByExpression, RebalancePartitions}
    val threshold = spark.conf.getOption("spark.graft.smallWriteClusterBytes")
      .flatMap(_.toLongOption).getOrElse(128L * 1024 * 1024)
    if (threshold <= 0) return df
    val plan = df.queryExecution.analyzed
    // an explicit repartition ANYWHERE in a local-leaf plan is the
    // caller's declared layout (FileCountProbe fans a local frame out to
    // n files on purpose) — coalesce(1) on top would collapse it
    val declaredLayout = plan.exists {
      case _: Repartition | _: RepartitionByExpression |
           _: RebalancePartitions => true
      case _ => false
    }
    val leaves = plan.collectLeaves()
    // analyzed-plan size estimate: a tree walk, no optimization pass
    if (!declaredLayout && leaves.nonEmpty &&
        leaves.forall(_.isInstanceOf[LocalRelation]) &&
        plan.stats.sizeInBytes <= BigInt(threshold))
      df.coalesce(1)
    else df
  }

  /** In-place mutations invalidate the min/max manifest — a stale manifest
    * would make [[readRange]] silently drop rows in files it doesn't list
    * (rewrites don't need this: the swap drops `_graft_meta` wholesale).
    * Under the stats lock so it serializes with a concurrent refresh's
    * commit swap ([[commitManifestSwap]]): whichever lands second wins,
    * and the loser's outcome is manifest-absent — conservative, never
    * stale-present.
    */
  private def invalidateStats(): Unit = withStatsLock {
    fs.delete(new Path(path, "_graft_meta/stats"), true)
  }

  private def statsLockFile = new Path(commitsDir, "stats.lock")

  /** Microsecond-scale mutex around manifest delete/swap operations
    * ([[withIdentityLock]]'s contract: bounded wait, [[vacuum]] clears a
    * crashed holder's leftover).
    */
  private def withStatsLock[T](f: => T): T = {
    fs.mkdirs(commitsDir)
    val deadline = System.currentTimeMillis() + MedallionTable.WriterWaitMs
    while (!atomicCreateExclusive(statsLockFile,
        System.currentTimeMillis().toString)) {
      if (System.currentTimeMillis() > deadline)
        throw new java.util.ConcurrentModificationException(
          s"stats manifest lock on $path held after " +
            s"${MedallionTable.WriterWaitMs} ms; " +
            MedallionTable.crashedHolderHint)
      Thread.sleep(10)
    }
    try f finally {
      try fs.delete(statsLockFile, false)
      catch { case _: java.io.IOException => () }
    }
  }

  /** Commit a freshly-built stats manifest ([[TableStats.refresh]]): under
    * the stats lock, re-check that NO commit was claimed since the build
    * began — a writer that claimed in between may have changed files the
    * manifest does not describe, and a stale-present manifest silently
    * drops rows under file skipping. On a stamp mismatch the staging is
    * discarded and no manifest lands (conservative; the caller's next
    * refresh rebuilds). Writers that claim AFTER this swap run their own
    * [[invalidateStats]], which serializes behind the same lock — so
    * every interleaving ends manifest-absent or manifest-fresh.
    *
    * The stamp alone cannot see a claim-first writer ALREADY in flight
    * when the build took `stamp0`: that writer's marker and lock predate
    * the stamp and are unchanged at swap time, yet its files/DV marks may
    * have landed after the build's listing — and its own invalidateStats
    * may already have run, so the swap would resurrect a stale manifest
    * that silently drops the writer's rows under file skipping. Any
    * STANDING writer lock (global or scoped) therefore also aborts the
    * swap; the released-lock case is what the stamp catches (release
    * follows the marker claim, which changed the stamp).
    */
  private[table] def commitManifestSwap(stamp0: Long,
      staging: String): Boolean = withStatsLock {
    val sp = new Path(path, "_graft_meta/stats")
    if (commitStamp() != stamp0 || writeLockHeld()) {
      fs.delete(new Path(staging), true); false
    }
    else {
      fs.delete(sp, true)
      if (!fs.rename(new Path(staging), sp))
        throw new java.io.IOException(
          s"stats manifest commit failed: $staging -> $sp")
      true
    }
  }

  // ---- small metadata text files ----------------------------------------

  private def readMetaText(p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def writeMetaText(p: Path, text: String): Unit = {
    // Write-then-rename: an in-place create truncates first, so a crash
    // mid-write would leave a corrupt metadata file with no recovery.
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"metadata write failed: $tmp -> $p")
  }

  // ---- optimistic concurrency (commit-marker CAS) -----------------------

  /** Commit markers live in a SIBLING directory (`<path>__graft_commits`):
    * the swap replaces the table directory wholesale, so a counter inside
    * `_graft_meta` would travel with whichever writer staged it instead of
    * recording the table's commit history. The sibling name matches
    * neither vacuum litter pattern, so maintenance never touches it.
    */
  private[table] def commitsDir = new Path(s"${path}__graft_commits")

  private def commitMarkers: Seq[Long] =
    if (!fs.exists(commitsDir)) Nil
    else fs.listStatus(commitsDir).toSeq.map(_.getPath.getName).flatMap { n =>
      if (n.startsWith("v") && n.endsWith(".commit"))
        n.stripPrefix("v").stripSuffix(".commit").toLongOption
      else None
    }.sorted

  /** Monotonic commit ordinal — every successful write path claims the
    * next one via [[tryClaimCommit]].
    */
  def commitVersion: Long = commitMarkers.lastOption.getOrElse(0L)

  /** CAS: atomically create the `v{expected+1}.commit` marker
    * (create-exclusive — atomic on HDFS/object stores with conditional
    * create; on the local fs, Hadoop's `create(overwrite=false)` is
    * check-then-create, so the claim goes through
    * `java.io.File.createNewFile`, which the JDK documents as atomic —
    * the guarantee holds uniformly in the environment the specs and
    * bench actually run in). Returns false when another writer already
    * claimed that ordinal, i.e. the table advanced since `expected` was
    * read. Keeps the newest [[MedallionTable.HistoryDepth]] markers. The
    * marker body records the operation name — existence is the CAS, the
    * body is DESCRIBE HISTORY-style metadata (an empty body read between
    * creation and the body write renders as "unknown" in [[history]]).
    */
  /** Atomic create-exclusive file creation with a body — the CAS
    * primitive under commit markers AND the writer lock. Atomic on
    * HDFS/object stores with conditional create; on the local fs,
    * Hadoop's `create(overwrite=false)` is check-then-create, so the
    * claim goes through `java.io.File.createNewFile`, which the JDK
    * documents as atomic. If the body write fails AFTER the create
    * succeeded (disk full), the file is deleted before reporting
    * failure — a leftover would claim an ordinal/lock nobody owns.
    */
  private[table] def atomicCreateExclusive(p: Path, body: String): Boolean =
    if ("file" == fs.getUri.getScheme) {
      val local = new java.io.File(fs.makeQualified(p).toUri.getPath)
      try local.createNewFile() && {
        try {
          val out = new java.io.FileOutputStream(local)
          try out.write(body.getBytes("UTF-8")) finally out.close()
          true
        } catch { case _: java.io.IOException => local.delete(); false }
      } catch { case _: java.io.IOException => false }
    } else
      try {
        val out = fs.create(p, false)
        try {
          try out.write(body.getBytes("UTF-8")) finally out.close()
          true
        } catch {
          case _: java.io.IOException =>
            try fs.delete(p, false)
            catch { case _: java.io.IOException => () }
            false
        }
      } catch { case _: java.io.IOException => false }

  private def tryClaimCommit(expected: Long, op: String): Boolean = {
    fs.mkdirs(commitsDir)
    // In-commit timestamp (Delta ICT parity): the commit instant rides in
    // the marker BODY, monotone by construction — max(wall clock, previous
    // commit's instant + 1). File mtimes are NOT monotone (clock skew
    // across writers, fs copies/restores reset them), and TIMESTAMP AS OF
    // resolves against these instants; one tiny marker read per claim.
    // Legacy boundary: a pre-ICT predecessor marker has no body instant,
    // but history() renders ITS timestamp from the file mtime — seeding 0
    // here would let a restored/skewed mtime (the exact hazard ICT
    // targets) sit ABOVE the first in-commit instant, going non-monotone
    // at the upgrade boundary. Fence above the mtime instead.
    val prevMarker = new Path(commitsDir, s"v$expected.commit")
    val prevTs = markerInstant(prevMarker).getOrElse(
      try { if (fs.exists(prevMarker))
        fs.getFileStatus(prevMarker).getModificationTime else 0L }
      catch { case _: java.io.IOException => 0L })
    val ts = math.max(System.currentTimeMillis(), prevTs + 1)
    val created = atomicCreateExclusive(
      new Path(commitsDir, s"v${expected + 1}.commit"), s"$op\t$ts")
    if (created)
      commitMarkers.dropRight(MedallionTable.HistoryDepth).foreach { v =>
        // Durable history: a marker leaving the live window is RENAMED
        // into the journal dir, not deleted — DESCRIBE HISTORY and
        // TIMESTAMP AS OF resolve over [[fullHistory]], which folds the
        // journal back in, so the retained-snapshot window stays fully
        // addressable past HistoryDepth (Delta keeps 30 days of log for
        // the same reason). Rename is per-ordinal and idempotent under
        // concurrent pruners: a failed rename with the destination
        // present means another writer journaled it — drop the live
        // marker; absent destination leaves the marker for the next
        // prune to retry (never lost, never double-counted —
        // [[fullHistory]] dedups by ordinal anyway).
        val src = new Path(commitsDir, s"v$v.commit")
        val dst = new Path(journalDir, s"v$v.commit")
        try {
          fs.mkdirs(journalDir)
          if (!fs.rename(src, dst) && fs.exists(dst))
            fs.delete(src, false)
        } catch { case _: java.io.IOException => () }
      }
    created
  }

  // ---- durable commit journal (history past HistoryDepth) ---------------

  /** Journaled markers: pruned commit markers land here (file-per-ordinal,
    * then compacted into `journal.tsv` rows `ordinal \t instant \t op`).
    */
  private def journalDir = new Path(commitsDir, "journal")

  private def journalTsv = new Path(commitsDir, "journal.tsv")

  /** Parse `journal.tsv` rows; tolerate a missing/corrupt line (the row
    * also survives as its per-ordinal file until compaction deletes it,
    * and compaction deletes only what it durably wrote).
    */
  private def journalTsvRows(): Seq[(Long, String, Long)] = {
    // fall back to the compaction swap's parked copy when the tsv is
    // missing (crash inside [[compactJournal]]'s rename pair) — the .bak
    // holds the complete pre-swap rows, and the not-yet-deleted
    // per-ordinal files cover everything newer. The exists/read pair is
    // a TOCTOU against a CONCURRENT compactor (scoped commits run
    // compaction too): tsv can vanish between the check and the open, so
    // an IOException retries through tsv -> bak -> tsv — by the second
    // pass either the new tsv has landed (rename done) or the bak still
    // holds the pre-swap rows. Only a doubly-missing journal reads Nil.
    val bak = new Path(commitsDir, "journal.tsv.bak")
    def parse(text: String): Seq[(Long, String, Long)] =
      text.split('\n').toSeq.flatMap { line =>
        line.split('\t') match {
          case Array(v, ts, op) =>
            for (vl <- v.toLongOption; tl <- ts.toLongOption)
              yield (vl, op, tl)
          case _ => None
        }
      }
    val candidates = Seq(journalTsv, bak, journalTsv)
    val it = candidates.iterator
    var out: Option[Seq[(Long, String, Long)]] = None
    while (out.isEmpty && it.hasNext) {
      val src = it.next()
      if (fs.exists(src)) {
        try out = Some(parse(readMetaText(src)))
        catch { case _: java.io.IOException => () } // parked mid-read; next
      }
    }
    out.getOrElse(Nil)
  }

  /** Un-compacted journal files, parsed exactly like live markers. */
  private def journalFileRows(): Seq[(Long, String, Long)] =
    if (!fs.exists(journalDir)) Nil
    else fs.listStatus(journalDir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (!(n.startsWith("v") && n.endsWith(".commit"))) None
      else n.stripPrefix("v").stripSuffix(".commit").toLongOption.flatMap {
        v =>
          try {
            val (op, instant) = splitMarkerBody(readMetaText(st.getPath))
            Some((v, if (op.isEmpty) "unknown" else op,
              // rename preserves mtime, so legacy (pre-ICT) journaled
              // markers keep their original commit-time rendering
              instant.getOrElse(st.getModificationTime)))
          } catch { case _: java.io.IOException => None }
      }
    }

  /** Fold `journalDir` files into `journal.tsv` (one row per ordinal) and
    * delete the absorbed files. The tsv rewrite is read-modify-write, so
    * two concurrent compactors would lose rows — serialized by a
    * TRY-lock (`journal.lock`): a busy lock means another commit is
    * already compacting, so this one skips (best-effort upkeep; the
    * loose files stay fully readable and the next commit retries). This
    * is what lets SCOPED commits — concurrent staged appends above all —
    * run journal upkeep at all; under the global lock the try-lock is
    * simply never contended. Crash between the tsv rename and the file
    * deletes leaves rows in both places; [[fullHistory]] dedups by
    * ordinal, and the next compaction clears the files. A crashed
    * holder's leftover lock only pauses compaction (never correctness)
    * until [[vacuum]] clears it.
    */
  private def compactJournal(): Unit = {
    val files = if (!fs.exists(journalDir)) Nil
      else fs.listStatus(journalDir).toSeq.map(_.getPath)
        .filter(p => p.getName.startsWith("v") &&
          p.getName.endsWith(".commit"))
    if (files.size <= MedallionTable.JournalCompactThreshold) return
    val jlock = new Path(commitsDir, "journal.lock")
    if (!atomicCreateExclusive(jlock,
        System.currentTimeMillis().toString)) return
    try compactJournalLocked(files)
    finally {
      try fs.delete(jlock, false)
      catch { case _: java.io.IOException => () }
    }
  }

  private def compactJournalLocked(files: Seq[Path]): Unit = {
    val merged = (journalTsvRows() ++ journalFileRows())
      .groupBy(_._1).map(_._2.head).toSeq.sortBy(_._1)
    // Crash-safe tsv swap: [[writeMetaText]]'s delete-then-rename leaves
    // a window where journal.tsv is ABSENT — a crash there would
    // permanently lose every previously-compacted row (their per-ordinal
    // files were deleted by the earlier compaction), silently shrinking
    // fullHistory/DESCRIBE HISTORY/TIMESTAMP AS OF. Park the old tsv as
    // `.bak` across the swap instead; [[journalTsvRows]] falls back to
    // the .bak when the tsv is missing, so every crash point reads
    // complete history. Leftover .bak/.new are harmless (a present tsv
    // wins; the next compaction overwrites both).
    val tmp = new Path(commitsDir, "journal.tsv.new")
    val bak = new Path(commitsDir, "journal.tsv.bak")
    val out = fs.create(tmp, true)
    try out.write(merged.map { case (v, op, ts) =>
      s"$v\t$ts\t$op" }.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(journalTsv)) {
      fs.delete(bak, false)
      if (!fs.rename(journalTsv, bak))
        throw new java.io.IOException(
          s"journal compaction: park failed: $journalTsv -> $bak")
    }
    if (!fs.rename(tmp, journalTsv))
      throw new java.io.IOException(
        s"journal compaction: swap failed: $tmp -> $journalTsv")
    try fs.delete(bak, false) catch { case _: java.io.IOException => () }
    files.foreach(p =>
      try fs.delete(p, false) catch { case _: java.io.IOException => () })
  }

  /** [[history]] extended past [[MedallionTable.HistoryDepth]] with the
    * durable journal: every commit this table ever made, newest first
    * (journal rows beyond the live window; live markers win on overlap).
    * One small-file read plus one small-dir listing on top of
    * [[history]] — use for DESCRIBE HISTORY / time-travel resolution,
    * not in per-commit hot paths (which only need the live window).
    */
  def fullHistory(): Seq[(Long, String, Long)] = {
    val live = history()
    val seen = live.map(_._1).toSet
    val journaled = (journalFileRows() ++ journalTsvRows())
      .filter(r => !seen.contains(r._1))
      .groupBy(_._1).map(_._2.head).toSeq
    (live ++ journaled).sortBy(-_._1)
  }

  /** Parse a marker body's `op \t instant` tail; None when the marker is
    * absent or predates in-commit timestamps (mtime is the fallback then).
    */
  private def markerInstant(p: Path): Option[Long] =
    try {
      if (!fs.exists(p)) None
      else splitMarkerBody(readMetaText(p))._2
    } catch { case _: java.io.IOException => None }

  /** (op, Some(instant)) for ICT-era markers, (body, None) for legacy
    * ones — split at the LAST tab, only when an all-digit instant
    * follows, so op strings themselves never mis-parse.
    */
  private def splitMarkerBody(body: String): (String, Option[Long]) = {
    val i = body.lastIndexOf('\t')
    if (i < 0) (body, None)
    else {
      val tail = body.substring(i + 1)
      if (tail.nonEmpty && tail.forall(_.isDigit))
        (body.substring(0, i), Some(tail.toLong))
      else (body, None)
    }
  }

  // ---- rewrite-intent lease (phase 2 of the rewrite commit) -------------

  /** Rewrite-intent marker: published by [[rewriteVia]] AFTER its marker
    * CAS and BEFORE its conflict re-check, cleared once the swap renames
    * land (or the rewrite aborts). While the intent STANDS, claim-first
    * writers refuse to claim — closing the re-check-to-rename window
    * where a claim could land unseen and have its rows swapped away.
    * Deliberately NO expiry (matching [[writeLock]]): an expiring
    * intent would let a claimant proceed under a rewrite stalled longer
    * than the lease — a clock-dependent safety hole. Instead claimants
    * wait a bounded [[MedallionTable.WriterWaitMs]] (healthy rewrites
    * clear the intent in milliseconds) and then fail fast with a clear
    * conflict; a crashed rewrite's leftover intent blocks claims until
    * [[vacuum]] clears it. No clock assumption anywhere in the protocol.
    * The body (publish time + op) is diagnostics only.
    */
  private def intentFile = new Path(commitsDir, "rewrite.intent")

  private def publishIntent(op: String): Unit =
    writeMetaText(intentFile, s"${System.currentTimeMillis()}\t$op")

  private def clearIntent(): Unit =
    try fs.delete(intentFile, false)
    catch { case _: java.io.IOException => () }

  private def intentStanding(): Boolean = fs.exists(intentFile)

  /** Writer lock: held by claim-first writers from BEFORE their marker
    * claim until their data has landed (or failure cleanup released the
    * marker). It serves two purposes at once:
    *
    *  1. MUTEX between claim-first data jobs — Spark's
    *     FileOutputCommitter stages every job writing a given path under
    *     the SAME `<path>/_temporary/0`, so two simultaneous appends
    *     corrupt each other's staging (observed: FileNotFoundException
    *     at job commit in the thread-stress spec). The lock turns that
    *     corruption into an orderly bounded wait.
    *  2. In-flight fence for rewrites: `lock absent ∧ marker visible ⇒
    *     that claim's data is visible` — the invariant [[rewriteVia]]'s
    *     snapshot fence relies on (rewrites never take the lock; their
    *     staging is a private tmp dir).
    *
    * Deliberately NO lease: a claim-first write may legitimately run for
    * hours, and expiring the lock would let a rewrite swap the table out
    * from under a slow healthy writer (or a second append corrupt its
    * staging). A crashed writer's leftover lock fails others with a
    * clear ConcurrentModificationException after a bounded wait until
    * [[vacuum]] clears it — fail-stop, never silent loss.
    */
  private def writeLock = new Path(commitsDir, "write.lock")

  /** Footprint-SCOPED writer locks (`write_<token>.lock` beside the
    * global `write.lock`): a scoped claim-first writer declares the
    * RESOURCES it will touch (partition directories as `p:<relative
    * dir>`, plus shared structures like the DV sidecar's append staging
    * as `dv-stage`) in its lock body, and writers whose declared
    * footprints are DISJOINT run concurrently — two `OPTIMIZE … WHERE`
    * on different partitions, or a partition-scoped DV delete beside a
    * disjoint compaction, no longer serialize (Delta's optimistic
    * partition-level conflict check, restricted to the existing lease
    * protocol). Overlapping footprints — and anything vs the global
    * lock — keep today's serial behavior.
    *
    * Arbitration is publish-then-check: create your own lock, then list
    * the others. Local-fs listings are strongly consistent, so of two
    * concurrent overlapping claimants at least one sees the other. A
    * claimant that sees a conflict never proceeds; it either HOLDS its
    * lock and waits (when its token orders lowest among the conflicting
    * scoped locks — the holder it waits on either saw no conflict and is
    * writing, or will back off to it) or RELEASES and retries (global
    * lock standing, or a lower-ordered conflicter). The token is fixed
    * per acquisition, so relative order is stable across retries and
    * the pairwise total order makes wait chains acyclic. A lock body
    * still mid-create (zero bytes) reads as conflicting-with-everything
    * — conservative, same crashed-writer fail-fast story as the global
    * lock; [[vacuum]] clears leftovers.
    */
  private def scopedLockFiles(): Seq[Path] =
    if (!fs.exists(commitsDir)) Nil
    else fs.listStatus(commitsDir).toSeq.collect {
      case st if st.isFile && st.getPath.getName.startsWith("write_") &&
          st.getPath.getName.endsWith(".lock") => st.getPath
    }

  /** Resources a standing scoped lock declares; None = unreadable or
    * mid-create (treat as conflicting with everything).
    */
  private def lockResources(p: Path): Option[Set[String]] =
    try {
      val body = readMetaText(p)
      if (body.isEmpty) None // created, body not yet written
      else Some(body.split('\n').drop(1).filter(_.nonEmpty).toSet)
    } catch {
      case _: java.io.FileNotFoundException => Some(Set.empty) // releasing
      case _: java.io.IOException => None
    }

  /** Any writer lock standing — global or scoped. The invariant
    * [[rewriteVia]]'s snapshot fence needs (`no lock ∧ marker visible ⇒
    * that claim's data is visible`) spans BOTH kinds, so the fence and
    * every other "is a writer in flight" probe must use this, not a
    * bare global-lock check.
    */
  private def writeLockHeld(): Boolean =
    fs.exists(writeLock) || scopedLockFiles().nonEmpty

  /** Acquire the writer lock for `footprint` (None = global). Returns
    * the lock file to delete on release.
    *
    * Global: create-exclusive on `write.lock` (unchanged), then DRAIN
    * standing scoped holders — new scoped claimants back off while the
    * global lock stands, so the population only shrinks; the global
    * writer proceeds once it is alone.
    *
    * Scoped: the publish-then-check protocol above.
    */
  private def acquireWriteLock(op: String,
      footprint: Option[Set[String]]): Path = {
    fs.mkdirs(commitsDir)
    val deadline = System.currentTimeMillis() + MedallionTable.WriterWaitMs
    def timedOut(): Boolean = System.currentTimeMillis() > deadline
    footprint match {
      case None =>
        while (!atomicCreateExclusive(writeLock,
            s"${System.currentTimeMillis()}\t$op")) {
          if (timedOut())
            throw new java.util.ConcurrentModificationException(
              s"another claim-first write holds the writer lock on $path " +
                s"after ${MedallionTable.WriterWaitMs} ms; " +
                MedallionTable.crashedHolderHint)
          Thread.sleep(50)
        }
        try {
          while (scopedLockFiles().nonEmpty) {
            if (timedOut())
              throw new java.util.ConcurrentModificationException(
                s"scoped writer locks on $path still standing after " +
                  s"${MedallionTable.WriterWaitMs} ms; " +
                  MedallionTable.crashedHolderHint)
            Thread.sleep(25)
          }
        } catch {
          case t: Throwable =>
            try fs.delete(writeLock, false)
            catch { case _: java.io.IOException => () }
            throw t
        }
        writeLock
      case Some(resources) =>
        val token = java.util.UUID.randomUUID().toString.take(12)
        val own = new Path(commitsDir, s"write_$token.lock")
        val body = (s"${System.currentTimeMillis()}\t$op" +:
          resources.toSeq.sorted).mkString("\n")
        var acquired = false
        try {
          while (!acquired) {
            if (timedOut())
              throw new java.util.ConcurrentModificationException(
                s"conflicting writer locks on $path still standing after " +
                  s"${MedallionTable.WriterWaitMs} ms (footprint " +
                  s"${resources.mkString(", ")}); " +
                  MedallionTable.crashedHolderHint)
            if (fs.exists(writeLock)) {
              // release own FIRST: a global writer drains scoped locks,
              // so sleeping while still holding ours would deadlock the
              // pair until both time out
              if (fs.exists(own))
                try fs.delete(own, false)
                catch { case _: java.io.IOException => () }
              Thread.sleep(50)
            }
            else if (!fs.exists(own) && !atomicCreateExclusive(own, body))
              Thread.sleep(25)
            else {
              // compare by NAME: listStatus returns fs-qualified paths
              // while `own` is constructed unqualified — Path equality
              // would make a holder see its own lock as a conflict
              val conflicting = scopedLockFiles()
                .filter(_.getName != own.getName).filter {
                p => lockResources(p) match {
                  case None => true // mid-create or unreadable: assume worst
                  case Some(rs) => rs.exists(resources.contains)
                }
              }
              if (conflicting.isEmpty && !fs.exists(writeLock))
                acquired = true
              else if (fs.exists(writeLock) ||
                  conflicting.exists(_.getName < own.getName)) {
                // yield: global writer draining, or a lower-ordered
                // conflicter that may be holding-and-waiting on us
                try fs.delete(own, false)
                catch { case _: java.io.IOException => () }
                Thread.sleep(10 + scala.util.Random.nextInt(40))
              } else Thread.sleep(25) // lowest order: hold and wait
            }
          }
          own
        } catch {
          case t: Throwable =>
            try fs.delete(own, false)
            catch { case _: java.io.IOException => () }
            throw t
        }
    }
  }

  /** Claim the next commit ordinal, run the write, and release the marker
    * if the write FAILS — for write paths whose effects COMMUTE with
    * concurrent same-kind writers (append, pruned merge, fast-path
    * delete, create): losing a claim race just means retrying against the
    * advanced ordinal, and a rewrite that computed against the pre-claim
    * snapshot detects the conflict at ITS commit point. The
    * failure-release keeps [[history]] honest (no marker for a batch that
    * never landed, e.g. a CHECK-rejected append) and stops a failed write
    * from aborting innocent concurrent rewrites; deleting the marker is
    * safe because commitVersion is max-based, so a freed latest ordinal is
    * simply re-claimable (create-exclusive prevents reuse races).
    *
    * The whole claim+write section runs under the [[writeLock]] (atomic
    * create-exclusive acquire with a bounded wait); the lock is released
    * LAST, after either the data landed or the failed claim was
    * released.
    */
  private def withClaimedCommit[T](op: String)(write: => T): T =
    withClaimedCommitScoped(op, None)((_: Long) => write)

  /** [[withClaimedCommit]] with (a) an optional footprint — scoped
    * writers with disjoint footprints run CONCURRENTLY (see
    * [[acquireWriteLock]]) — and (b) the claimed commit ordinal passed
    * to the body: under concurrency `commitVersion` can advance past
    * this writer's claim while its body runs, so a body that records
    * its own ordinal (change-feed captures) must use the claimed value,
    * never re-read the counter.
    */
  private def withClaimedCommitScoped[T](op: String,
      footprint: Option[Set[String]])(write: Long => T): T = {
    // commit-floor phasing (CommitFloorProbe): zero-cost no-op hook in
    // production, same pattern as testFailpoint
    val phase = MedallionTable.commitPhaseHook
    var tPhase = System.nanoTime()
    def mark(name: String): Unit = if (phase ne MedallionTable.noopPhase) {
      val now = System.nanoTime()
      phase(name, now - tPhase)
      tPhase = now
    }
    val lock = acquireWriteLock(op, footprint)
    mark("acquire-lock")
    var succeeded = false
    try {
      TableSnapshot.claimStarted(this)
      var claimed = -1L
      var attempts = 0
      def retryOrGiveUp(): Unit = {
        attempts += 1
        if (attempts >= 8) throw new java.util.ConcurrentModificationException(
          s"could not claim a commit marker for $path after $attempts attempts " +
            "(commit contention)")
        Thread.sleep(25)
      }
      // The intent WAIT has its own budget, separate from claim-race
      // attempts: a healthy rewrite clears its intent in milliseconds,
      // so the wait almost never exceeds one sleep — but a crashed
      // rewrite's leftover intent stands until vacuum(), and the
      // claimant must fail with a message pointing there rather than
      // burning its contention attempts inside 200 ms.
      val intentDeadline =
        System.currentTimeMillis() + MedallionTable.WriterWaitMs
      def awaitIntent(): Unit = {
        if (System.currentTimeMillis() > intentDeadline)
          throw new java.util.ConcurrentModificationException(
            s"rewrite intent on $path still standing after " +
              s"${MedallionTable.WriterWaitMs} ms; " +
              MedallionTable.crashedHolderHint)
        Thread.sleep(50)
      }
      while (claimed < 0) {
        // Two-phase guard, claimant side: an unexpired rewrite intent means a
        // rewrite has CAS'd its marker and is between its conflict re-check
        // and its swap renames — a claim landing now would go unseen and its
        // rows would be swapped away. Check BEFORE claiming (cheap, avoids
        // burning ordinals) and re-check AFTER the claim (the intent may have
        // been published between the pre-check and our CAS); on the
        // post-claim hit, release the claim so the rewrite — which may
        // already have aborted on seeing our marker — finds a clean ordinal
        // when either side retries.
        if (intentStanding()) awaitIntent()
        else {
          val expected = commitVersion
          if (!tryClaimCommit(expected, op)) retryOrGiveUp()
          else if (intentStanding()) {
            try fs.delete(new Path(commitsDir, s"v${expected + 1}.commit"), false)
            catch { case _: java.io.IOException => () }
            awaitIntent()
          } else claimed = expected + 1
        }
      }
      MedallionTable.testFailpoint("mid-claim-first")
      mark("claim")
      val out =
        try write(claimed)
        catch {
          case t: Throwable =>
            try fs.delete(new Path(commitsDir, s"v$claimed.commit"), false)
            catch { case _: java.io.IOException => () }
            throw t
        }
      mark("body")
      succeeded = true
      // change-feed op durability: record the op for commits whose body
      // did not capture (maintenance/DDL read as dataChange=false, DV
      // compaction invalidates, etc. — ChangeFeed classifies by op).
      // Best-effort AFTER the write: a capture failure must not release
      // the marker of a landed commit — the read side fail-stops instead.
      if (ChangeFeed.isEnabled(spark, path))
        try ChangeFeed.captureAuto(spark, path, claimed, op)
        catch { case scala.util.control.NonFatal(_) => () }
      mark("cdf-capture")
      // journal upkeep under ANY holder (compactJournal serializes
      // concurrent compactors via its try-lock — staged appends are
      // scoped, and without this the journal would grow unboundedly on
      // pure-append workloads); best-effort — the commit happened, and
      // uncompacted journal files stay fully readable
      try compactJournal()
      catch { case scala.util.control.NonFatal(_) => () }
      mark("journal")
      out
    } finally {
      // publish the next snapshot from what the body wrote (or drop it
      // when the body failed) while the lock still stands, stamped to
      // the post-release world — see [[TableSnapshot]]
      TableSnapshot.claimReleasing(this, lock.getName, succeeded)
      try fs.delete(lock, false)
      catch { case _: java.io.IOException => () }
      mark("release")
    }
  }

  /** Delta `DESCRIBE HISTORY` analog over the retained commit markers:
    * (commit ordinal, operation, marker mtime millis), newest first.
    * Depth is bounded by the marker retention
    * ([[MedallionTable.HistoryDepth]]); bodies a crashed writer left
    * empty read as "unknown".
    */
  def history(): Seq[(Long, String, Long)] =
    commitMarkers.reverse.flatMap { v =>
      // A concurrent writer's retention pruning can delete a marker between
      // the listing and these reads — drop the row, never throw from a
      // read-only call.
      val p = new Path(commitsDir, s"v$v.commit")
      try {
        val (op, instant) = splitMarkerBody(readMetaText(p))
        // in-commit timestamp when recorded (monotone — tryClaimCommit);
        // marker mtime only for legacy pre-ICT markers
        Some((v, if (op.isEmpty) "unknown" else op,
          instant.getOrElse(fs.getFileStatus(p).getModificationTime)))
      } catch { case _: java.io.IOException => None }
    }

  // ---- CHECK constraints (Delta-style quality gates) --------------------

  private def constraintsFile = new Path(path, "_graft_meta/constraints.tsv")

  /** Registered CHECK constraints: name → SQL boolean expression. */
  def checkConstraints: Map[String, String] =
    if (!fs.exists(constraintsFile)) Map.empty
    else readMetaText(constraintsFile).split('\n').filter(_.nonEmpty).map { line =>
      val i = line.indexOf('\t')
      if (i < 0) throw new IllegalStateException(
        s"constraint registry corrupt at $constraintsFile: line without tab")
      line.substring(0, i) -> line.substring(i + 1)
    }.toMap

  private def persistConstraints(cs: Map[String, String],
      base: Path = new Path(path)): Unit = {
    val file = new Path(base, "_graft_meta/constraints.tsv")
    if (cs.isEmpty) { if (fs.exists(file)) fs.delete(file, false) }
    else writeMetaText(file,
      cs.map { case (n, e) => s"$n\t$e" }.mkString("\n"))
  }

  /** Adds a CHECK constraint after validating the EXISTING data satisfies
    * it (Delta `ALTER TABLE ADD CONSTRAINT` semantics — one scan; SQL
    * CHECK semantics: only FALSE violates, NULL passes). Every subsequent
    * write path enforces it on the incoming rows in-pass. Constraint
    * names must not contain tab/newline; expressions must not contain
    * newline (the tsv layout).
    */
  def addCheckConstraint(name: String, sqlExpr: String): Unit = {
    require(!name.exists(c => c == '\t' || c == '\n') && !sqlExpr.contains('\n'),
      "constraint name/expression must be tab/newline-free")
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    if (exists) {
      val bad = read.filter(not(coalesce(expr(sqlExpr), lit(true)))).limit(1).count()
      require(bad == 0,
        s"cannot add CHECK constraint $name: existing rows violate ($sqlExpr)")
    }
    persistConstraints(checkConstraints + (name -> sqlExpr))
  }

  def dropCheckConstraint(name: String): Unit =
    persistConstraints(checkConstraints - name)

  // ---- NOT NULL constraints (ALTER COLUMN … SET/DROP NOT NULL) ----------

  private def notNullFile = new Path(path, "_graft_meta/notnull.tsv")

  /** Columns under a NOT NULL constraint (Delta's `ALTER COLUMN … SET
    * NOT NULL`). Enforced on every write pass through the same
    * [[graft.functions.CheckInvariant]] as CHECK constraints — including
    * a batch that OMITS the column entirely (it would read back as NULL,
    * so it violates; Delta's nullable=false contract).
    */
  def notNullColumns: Set[String] =
    if (!fs.exists(notNullFile)) Set.empty
    else readMetaText(notNullFile).split('\n').filter(_.nonEmpty).toSet

  private def persistNotNull(ns: Set[String],
      base: Path = new Path(path)): Unit = {
    val file = new Path(base, "_graft_meta/notnull.tsv")
    if (ns.isEmpty) { if (fs.exists(file)) fs.delete(file, false) }
    else writeMetaText(file, ns.toSeq.sorted.mkString("\n"))
  }

  /** `ALTER TABLE … ALTER COLUMN name SET NOT NULL`: validates the
    * EXISTING rows first (one short-circuiting scan, like
    * [[addCheckConstraint]]), then arms the write-pass gate on every
    * path — append/create, rewrite merges/updates, and the DV
    * update/merge staged batches.
    */
  def setNotNull(name: String): Unit = {
    require(!name.exists(c => c == '\t' || c == '\n'),
      "column name must be tab/newline-free")
    if (exists) {
      val schema = read.schema
      require(schema.fieldNames.contains(name),
        s"SET NOT NULL: column '$name' not in " +
          schema.fieldNames.mkString("[", ",", "]"))
      val bad = read.filter(
        org.apache.spark.sql.functions.col(
          "`" + name.replace("`", "``") + "`").isNull).limit(1).count()
      require(bad == 0,
        s"cannot SET NOT NULL on $name: existing rows carry NULLs — " +
          "backfill them first (e.g. UPDATE … SET with a default)")
    }
    persistNotNull(notNullColumns + name)
  }

  /** `ALTER COLUMN name DROP NOT NULL` — re-opens the column. */
  def dropNotNull(name: String): Unit =
    persistNotNull(notNullColumns - name)

  /** Synthetic write-pass invariants for the registered NOT NULL columns
    * — fed into [[enforced]] alongside the CHECKs (never persisted into
    * constraints.tsv). `IS NOT NULL` is FALSE exactly on a NULL, so SQL
    * CHECK semantics enforce it; a column the batch lacks is widened to
    * NULL by enforceChecks and violates, as it must.
    */
  private def notNullInvariants(ns: Set[String] = notNullColumns)
      : Map[String, String] =
    ns.map(c =>
      s"__notnull_$c" -> s"`${c.replace("`", "``")}` IS NOT NULL").toMap

  // ---- column defaults (Delta allowColumnDefaults parity) ----------------

  private def defaultsFile = new Path(path, "_graft_meta/defaults.tsv")

  /** Registered column defaults: name → (column type DDL at declare
    * time, SQL expression). A batch that OMITS the column gets the
    * default evaluated at write time; a provided column — including
    * explicit NULLs — is never touched, and existing rows never change
    * (Delta's `ALTER COLUMN … SET DEFAULT` contract: future inserts
    * only). Scope: the insert-class writes (append/COPY INTO/create/
    * overwrite) fill omitted columns, and MERGE INSERT clauses fill
    * columns no clause assigns ([[insertDefaultColumns]]) — Delta's
    * allowColumnDefaults surface, complete.
    */
  def columnDefaults: Map[String, (String, String)] =
    if (!fs.exists(defaultsFile)) Map.empty
    else readMetaText(defaultsFile).split('\n').filter(_.contains('\t'))
      .map { l =>
        val parts = l.split('\t')
        parts(0) -> (parts(1), parts(2))
      }.toMap

  private def persistDefaults(ds: Map[String, (String, String)],
      base: Path = new Path(path)): Unit = {
    val file = new Path(base, "_graft_meta/defaults.tsv")
    if (ds.isEmpty) { if (fs.exists(file)) fs.delete(file, false) }
    else writeMetaText(file, ds.toSeq.sortBy(_._1)
      .map { case (n, (t, e)) => s"$n\t$t\t$e" }.mkString("\n"))
  }

  /** `ALTER TABLE … ALTER COLUMN name SET DEFAULT <expr>`: the
    * expression must be constant-foldable (no column references —
    * Delta's same rule) and castable to the column's type; both are
    * validated HERE, once, so the write path never discovers a broken
    * default mid-batch. Non-deterministic expressions (e.g.
    * `current_timestamp()`) are legal and evaluate per batch, as in
    * Delta.
    */
  def setColumnDefault(name: String, exprSql: String): Unit = {
    require(!name.exists(c => c == '\t' || c == '\n') &&
        !exprSql.exists(c => c == '\t' || c == '\n'),
      "column name and default expression must be tab/newline-free")
    require(exists, s"SET DEFAULT: no table at $path yet — defaults " +
      "attach to an existing column (create the table first)")
    val schema = read.schema
    require(schema.fieldNames.contains(name),
      s"SET DEFAULT: column '$name' not in " +
        schema.fieldNames.mkString("[", ",", "]"))
    require(!identityColumns.keys.exists(_.equalsIgnoreCase(name)),
      s"SET DEFAULT: '$name' is GENERATED ALWAYS AS IDENTITY — " +
        "engine-assigned; a default cannot apply")
    require(!generatedColumns.keys.exists(_.equalsIgnoreCase(name)),
      s"SET DEFAULT: '$name' is a generated column — computed from its " +
        "expression; a default cannot apply")
    val refs = spark.sessionState.sqlParser.parseExpression(exprSql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name
    }
    require(refs.isEmpty,
      s"SET DEFAULT: expression references column(s) ${refs.mkString(", ")}" +
        " — defaults must be constant-foldable (literals and " +
        "deterministic-free functions only), Delta's rule")
    val dt = schema(name).dataType
    // evaluability + castability probe: one local row, fails loudly now
    spark.range(1).select(
      org.apache.spark.sql.functions.expr(exprSql).cast(dt)).head()
    // Claimed commit (alterColumnType's pattern): a bare registry write
    // races concurrent rewrites — rewriteVia snapshots columnDefaults
    // up front and re-persists that snapshot into its swap, so a default
    // set in between would be silently discarded. Under the claim, the
    // rewrite either sees the new registry at its snapshot or aborts at
    // its CAS/re-check; the registry re-read inside the block picks up
    // any default DDL that committed while this one waited on the lock.
    withClaimedCommit("set-default") {
      persistDefaults(columnDefaults + (name -> (dt.sql, exprSql)))
    }
  }

  /** `ALTER COLUMN name DROP DEFAULT` — omitted columns read back as
    * NULL again (rows already written with the default keep it).
    * Claimed commit for the same rewrite-serialization reason as
    * [[setColumnDefault]]; a drop of an unregistered default is a pure
    * no-op (no commit claimed).
    */
  def dropColumnDefault(name: String): Unit =
    if (columnDefaults.contains(name)) withClaimedCommit("drop-default") {
      persistDefaults(columnDefaults - name)
    }

  /** The registry as MERGE insert-clause fills ([[MergeOps.mergeClauses]]
    * / [[MergeOps.mergeVectoredPlan]] `insertDefaults`): a column no
    * INSERT clause assigns takes its default, exactly Delta's
    * allowColumnDefaults MERGE behavior.
    */
  private def insertDefaultColumns(): Map[String, org.apache.spark.sql.Column] =
    columnDefaults.map { case (n, (tddl, e)) =>
      n -> org.apache.spark.sql.functions.expr(e)
        .cast(org.apache.spark.sql.types.DataType.fromDDL(tddl))
    }

  /** Insert-class write-pass fill: a registered default column the batch
    * OMITS is computed in-pass (cast to the column type recorded at
    * declare time — widening later only upcasts further). Provided
    * columns, explicit NULLs included, pass through untouched.
    */
  private def applyDefaults(df: DataFrame,
      ds: Map[String, (String, String)] = columnDefaults): DataFrame =
    if (ds.isEmpty) df
    else {
      val present = df.columns.map(_.toLowerCase).toSet
      ds.foldLeft(df) { case (d, (n, (tddl, e))) =>
        if (present.contains(n.toLowerCase)) d
        else d.withColumn(n, org.apache.spark.sql.functions.expr(e)
          .cast(org.apache.spark.sql.types.DataType.fromDDL(tddl)))
      }
    }

  // ---- generated columns (Delta GENERATED ALWAYS AS parity) --------------

  private def generatedFile = new Path(path, "_graft_meta/generated.tsv")

  /** Registered generated columns: name → SQL expression. On every write
    * path, a missing generated column is COMPUTED from its expression
    * in-pass, and a provided one is VALIDATED to null-safe-equal it
    * (riding the same [[graft.functions.CheckInvariant]] as CHECK
    * constraints — no extra scan either way). The canonical use is a
    * derived partition key: `o_year = year(o_orderdate)` with
    * `partitionColumns = Seq("o_year")` gives hive partition pruning on
    * a column no writer has to remember to supply — Delta's generated-
    * column partitioning (the reference partitions every table on such a
    * derived batch key, `bronze_table_creation.py:26`).
    */
  def generatedColumns: Map[String, String] =
    if (!fs.exists(generatedFile)) Map.empty
    else readMetaText(generatedFile).split('\n').filter(_.nonEmpty).map { line =>
      val i = line.indexOf('\t')
      if (i < 0) throw new IllegalStateException(
        s"generated-column registry corrupt at $generatedFile")
      line.substring(0, i) -> line.substring(i + 1)
    }.toMap

  private def persistGenerated(gs: Map[String, String],
      base: Path = new Path(path)): Unit = {
    val file = new Path(base, "_graft_meta/generated.tsv")
    if (gs.isEmpty) { if (fs.exists(file)) fs.delete(file, false) }
    else writeMetaText(file,
      gs.map { case (n, e) => s"$n\t$e" }.mkString("\n"))
  }

  /** Declare `name` as GENERATED ALWAYS AS (`exprSql`). Delta defines
    * generated columns at table creation; the equivalent here is
    * declaring on an EMPTY (or not-yet-created) table. Declaring on a
    * table with data is accepted only when the column already exists and
    * every row satisfies `name <=> expr` (one validation scan) — a
    * missing column would need a backfill rewrite, which the caller
    * should do explicitly and then declare.
    */
  def setGeneratedColumn(name: String, exprSql: String): Unit = {
    require(!name.exists(c => c == '\t' || c == '\n') && !exprSql.contains('\n'),
      "generated column name/expression must be tab/newline-free")
    // converse of setIdentityColumn's guard: one column cannot be both
    // engine-assigned (IDENTITY) and expression-generated
    require(!identityColumns.keys.exists(_.equalsIgnoreCase(name)),
      s"$name is GENERATED ALWAYS AS IDENTITY — dropIdentityColumn() " +
        "first to declare it as an expression-generated column")
    // converse of setColumnDefault's guard: a default would fill an
    // omitted generated column BEFORE the generation invariant runs and
    // every such batch would then refuse on the mismatch
    require(!columnDefaults.keys.exists(_.equalsIgnoreCase(name)),
      s"$name has a column DEFAULT — dropColumnDefault() first " +
        "(a generated column is computed, not defaulted)")
    // Delta's rule: a generation expression may not reference another
    // generated column (or itself). Without this, [[enforced]]'s fold
    // over the registry Map would resolve chained generations
    // nondeterministically by hash iteration order.
    val referenced = spark.sessionState.sqlParser.parseExpression(exprSql)
      .collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
      }.map(_.toLowerCase).toSet
    val genNames = generatedColumns.keys.map(_.toLowerCase).toSet + name.toLowerCase
    val chained = referenced.intersect(genNames)
    require(chained.isEmpty,
      s"cannot declare generated column $name: its expression references " +
        s"generated column(s) ${chained.toSeq.sorted.mkString(", ")} — " +
        "generation expressions may reference only non-generated columns " +
        "(inline the referenced expression instead)")
    // the converse chain: an EXISTING generation expression referencing
    // the column being declared would become a chain the moment this
    // declaration lands
    generatedColumns.foreach { case (n, e) =>
      val refs = spark.sessionState.sqlParser.parseExpression(e).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
      }.map(_.toLowerCase).toSet
      require(!refs.contains(name.toLowerCase),
        s"cannot declare generated column $name: existing generated " +
          s"column $n references it — drop $n first or inline")
    }
    import org.apache.spark.sql.functions.{col, expr, lit, not}
    if (exists && !read.isEmpty) {
      val d = read
      require(d.columns.exists(_.equalsIgnoreCase(name)),
        s"cannot declare generated column $name on a non-empty table " +
          s"that lacks it — backfill first (e.g. updateVectored), " +
          "then declare")
      val bad = d.filter(not(col(name) <=> expr(exprSql))).limit(1).count()
      require(bad == 0,
        s"cannot declare generated column $name: existing rows violate " +
          s"$name <=> ($exprSql)")
    }
    persistGenerated(generatedColumns + (name -> exprSql))
  }

  def dropGeneratedColumn(name: String): Unit =
    persistGenerated(generatedColumns - name)

  // ---- identity columns (Delta GENERATED ALWAYS AS IDENTITY parity) ------

  private def identityFile = new Path(path, "_graft_meta/identity.tsv")
  private def identityHwFile = new Path(commitsDir, "identity_hw")
  private[table] def identityLockFile = new Path(commitsDir, "identity.lock")

  /** Registered identity columns: name → (start, step). On the
    * append/create paths a registered column must be ABSENT from the
    * incoming frame (GENERATED ALWAYS — a provided value refuses) and is
    * assigned `highWater + step, …` densely; merge-inserted rows arrive
    * with a NULL identity (the insert clause may not assign it) and are
    * filled the same way. Values are BIGINT, monotonic per column,
    * collision-free across concurrent writers (allocation is serialized
    * by a create-exclusive lock in the commits sidecar), and may have
    * GAPS after a crashed write — the high-water advances before the
    * rows land, Delta identity's exact contract.
    */
  def identityColumns: Map[String, (Long, Long)] =
    if (!fs.exists(identityFile)) Map.empty
    else readMetaText(identityFile).split('\n').filter(_.nonEmpty).map { line =>
      val p = line.split('\t')
      if (p.length != 3) throw new IllegalStateException(
        s"identity registry corrupt at $identityFile")
      p(0) -> ((p(1).toLong, p(2).toLong))
    }.toMap

  private def persistIdentityCols(m: Map[String, (Long, Long)],
      base: Path = new Path(path)): Unit = {
    val file = new Path(base, "_graft_meta/identity.tsv")
    if (m.isEmpty) { if (fs.exists(file)) fs.delete(file, false) }
    else writeMetaText(file,
      m.map { case (n, (st, sp)) => s"$n\t$st\t$sp" }.mkString("\n"))
  }

  /** Declare `name` GENERATED ALWAYS AS IDENTITY (START WITH `start`
    * STEP `step`). On a table with data the column must already exist as
    * BIGINT — the high-water then syncs to its current extreme (Delta's
    * `ALTER TABLE … SYNC IDENTITY`); on an empty or not-yet-created
    * table the column is born at first write.
    */
  def setIdentityColumn(name: String, start: Long = 1L,
      step: Long = 1L): Unit = {
    require(step != 0L, "identity step must be nonzero")
    require(!name.exists(c => c == '\t' || c == '\n'),
      "identity column name must be tab/newline-free")
    require(!generatedColumns.keys.exists(_.equalsIgnoreCase(name)),
      s"$name is already a generated column")
    if (exists && !read.isEmpty) {
      val schema = read.schema
      val actual = schema.fieldNames.find(_.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(
          s"cannot declare identity column $name on a non-empty table " +
            "that lacks it — backfill first, then declare"))
      require(schema(actual).dataType ==
        org.apache.spark.sql.types.LongType,
        s"identity columns are BIGINT; $actual is ${schema(actual).dataType}")
      // NULLs would break the NULL⟺merge-insert induction: the next
      // data-preserving rewrite (compact/delete) would silently assign
      // them fresh ids through fillIdentityNulls
      val nNull = read.filter(
        org.apache.spark.sql.functions.col(actual).isNull).limit(1).count()
      require(nNull == 0L,
        s"cannot declare identity column $actual: existing rows carry " +
          "NULLs — backfill them first")
    }
    persistIdentityCols(identityColumns + (name -> ((start, step))))
    if (exists && !read.isEmpty) syncIdentityHw(name)
  }

  /** Row tracking — Delta's row IDs: a stable BIGINT `_row_id` assigned
    * at first write and PRESERVED across every data-preserving operation
    * (DV updates/merges keep the base row's id, rewrites and OPTIMIZE
    * carry ids through, merge inserts get fresh ones) — rewrites move
    * bytes, never identities. Implementation IS the identity machinery:
    * `_row_id` registers as GENERATED ALWAYS AS IDENTITY, so allocation
    * is high-water-before-rows (crash ⇒ gap, never collision), writers
    * may not supply or SET it, and the NULL⟺inserted induction fills
    * merge inserts. On a table with data, enablement BACKFILLS in one
    * rewrite (ids 1..n); on an empty/unborn table ids start at first
    * write. A failed backfill rolls the registration back — the registry
    * never points at rows without ids.
    */
  def enableRowTracking(): Unit = {
    val col = MedallionTable.RowIdCol
    require(!identityColumns.keys.exists(_.equalsIgnoreCase(col)),
      s"row tracking is already enabled on $path")
    if (!exists || read.isEmpty) setIdentityColumn(col)
    else {
      require(!read.columns.exists(_.equalsIgnoreCase(col)),
        s"cannot enable row tracking: $path already has a $col column " +
          "not managed by the engine — rename or drop it first")
      persistIdentityCols(identityColumns + (col -> ((1L, 1L))))
      try
        rewriteVia(read.withColumn(col,
          org.apache.spark.sql.functions.lit(null).cast("long")),
          op = "enable-row-tracking")
      catch { case t: Throwable => dropIdentityColumn(col); throw t }
    }
  }

  /** Whether [[enableRowTracking]] is in force. */
  def rowTrackingEnabled: Boolean =
    identityColumns.keys.exists(_.equalsIgnoreCase(MedallionTable.RowIdCol))

  def dropIdentityColumn(name: String): Unit = {
    persistIdentityCols(identityColumns - name)
    // drop the high-water entry too: a later re-declare must honor its
    // own START WITH (or re-sync from data), not continue from a stale
    // counter that may describe a table that no longer exists
    withIdentityLock {
      val hw = readIdentityHw() - name
      if (fs.exists(identityHwFile)) {
        if (hw.isEmpty) fs.delete(identityHwFile, false)
        else writeMetaText(identityHwFile,
          hw.map { case (k, v) => s"$k\t$v" }.mkString("\n"))
      }
    }
  }

  private def readIdentityHw(): Map[String, Long] =
    if (!fs.exists(identityHwFile)) Map.empty
    else readMetaText(identityHwFile).split('\n').filter(_.nonEmpty).map { l =>
      val i = l.indexOf('\t')
      l.substring(0, i) -> l.substring(i + 1).trim.toLong
    }.toMap

  /** Serialize identity allocation: appends hold the writer lock but
    * rewrites do not, so allocation gets its own create-exclusive lock
    * (milliseconds hold; [[vacuum]] clears a crashed holder's leftover,
    * same contract as the writer lock).
    */
  private def withIdentityLock[T](f: => T): T = {
    fs.mkdirs(commitsDir)
    val deadline = System.currentTimeMillis() + MedallionTable.WriterWaitMs
    while (!atomicCreateExclusive(identityLockFile,
        System.currentTimeMillis().toString)) {
      if (System.currentTimeMillis() > deadline)
        throw new java.util.ConcurrentModificationException(
          s"identity allocation lock on $path held after " +
            s"${MedallionTable.WriterWaitMs} ms; " +
            MedallionTable.crashedHolderHint)
      Thread.sleep(20)
    }
    try f finally {
      try fs.delete(identityLockFile, false)
      catch { case _: java.io.IOException => () }
    }
  }

  /** Last id the table's data could carry — bootstrap for a table whose
    * high-water file is absent (clone, declare-on-existing before sync,
    * lost sidecar): one column-pruned scan of the current extreme, paid
    * once (the next allocation persists the file).
    */
  private def bootstrapIdentityLast(name: String, start: Long,
      step: Long): Long = {
    import org.apache.spark.sql.functions.{col, max => smax, min => smin}
    if (!exists || !read.columns.exists(_.equalsIgnoreCase(name)))
      start - step
    else {
      val r = read.agg(
        (if (step > 0) smax(col(name)) else smin(col(name)))
          .cast("long")).head()
      if (r.isNullAt(0)) start - step else r.getLong(0)
    }
  }

  private def syncIdentityHw(name: String): Unit = withIdentityLock {
    val (start, step) = identityColumns(name)
    val last = bootstrapIdentityLast(name, start, step)
    val hw = readIdentityHw()
    writeMetaText(identityHwFile,
      (hw + (name -> last)).map { case (k, v) => s"$k\t$v" }.mkString("\n"))
  }

  /** Allocate `n` consecutive ids for `name`, returning the FIRST. The
    * high-water lands BEFORE the rows do: a failed write leaks a gap,
    * never a collision.
    */
  private def allocateIdentity(name: String, n: Long): Long =
    withIdentityLock {
      val (start, step) = identityColumns(name)
      val hw = readIdentityHw()
      val last = hw.getOrElse(name, bootstrapIdentityLast(name, start, step))
      writeMetaText(identityHwFile,
        (hw + (name -> (last + n * step)))
          .map { case (k, v) => s"$k\t$v" }.mkString("\n"))
      last + step
    }

  /** Append/create-path identity enforcement: provided → refuse
    * (GENERATED ALWAYS), absent → assign densely. The batch is
    * localCheckpointed so the count and the indexed pass share ONE
    * materialization (and the assignment cannot shift under a
    * recomputed nondeterministic source).
    */
  private def applyIdentityAppend(df: DataFrame): DataFrame = {
    val ids = identityColumns
    if (ids.isEmpty) return df
    val present = df.columns.map(_.toLowerCase).toSet
    val provided = ids.keys.filter(k => present.contains(k.toLowerCase))
    if (provided.nonEmpty) throw new IllegalStateException(
      s"column(s) ${provided.mkString(", ")} of $path are GENERATED " +
        "ALWAYS AS IDENTITY — the engine assigns them; drop them from " +
        "the batch, or dropIdentityColumn() to hand-manage")
    assignIdentities(df, ids.keys.toSeq.sorted.map(n => n -> ids(n)))
  }

  private def assignIdentities(df: DataFrame,
      names: Seq[(String, (Long, Long))],
      alreadyMaterialized: Boolean = false): DataFrame = {
    if (names.isEmpty) return df
    // fillIdentityNulls hands in a projection of an already-checkpointed
    // frame: deterministic and cheap to re-traverse, no second cut needed.
    // LAZY checkpoint: the size census below is the materializing action,
    // so determinism costs zero extra passes (eager would run its own
    // count job first — one full pass wasted per identity append).
    val cached =
      if (alreadyMaterialized) df else df.localCheckpoint(eager = false)
    // One size census job yields BOTH the total (block allocation) and
    // the per-partition offsets (dense assignment) — `count()` +
    // `zipWithIndex` paid the same information with two jobs
    // (zipWithIndex runs an internal per-partition count of its own).
    // mapPartitions emits exactly one element per partition, and collect
    // concatenates partition results in order, so index == partition id.
    // Long accumulation, not Iterator.size: size returns Int and a
    // partition past 2^31 rows would silently overflow at 100 TB scale.
    val sizes = cached.rdd
      .mapPartitions { it =>
        var n = 0L; while (it.hasNext) { it.next(); n += 1L }
        Iterator(n)
      }.collect()
    val n = sizes.sum
    if (n == 0L)
      return names.foldLeft(cached) { case (d, (nm, _)) =>
        d.withColumn(nm,
          org.apache.spark.sql.functions.lit(null).cast("long"))
      }
    val offsets = sizes.scanLeft(0L)(_ + _)
    val firsts = names.map { case (nm, (_, step)) =>
      (allocateIdentity(nm, n), step)
    }
    val schema2 = names.foldLeft(cached.schema)((s, f) =>
      s.add(f._1, org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = cached.rdd.mapPartitionsWithIndex { case (pid, it) =>
      var i = offsets(pid)
      it.map { r =>
        val out = org.apache.spark.sql.Row.fromSeq(r.toSeq ++
          firsts.map { case (first, step) => first + i * step })
        i += 1
        out
      }
    }
    spark.createDataFrame(rdd, schema2)
  }

  /** Merge/rewrite-path identity fill: inserted rows arrive with a NULL
    * identity (the insert clause may not assign it — ALWAYS); base rows
    * are never NULL by the append-path induction, so NULL ⟺ insert.
    */
  private def fillIdentityNulls(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val ids = identityColumns
    val names = ids.keys.toSeq.sorted
      .filter(n => df.columns.exists(_.equalsIgnoreCase(n)))
    if (names.isEmpty) return df
    // Cheap existence probe on the UN-checkpointed frame first: the hot
    // rewrite paths (delete/update/compact/overwrite) carry no NULL
    // identities, so the common case pays one short-circuiting head(1)
    // scan instead of a full localCheckpoint materialization of the
    // rewrite product (round-14 advice). Only a frame that actually
    // needs a fill is checkpointed — ONCE, for all identity columns
    // (the per-column derivations below are filters/unions over that
    // single materialization, so they re-traverse deterministically).
    val anyNull = df
      .filter(names.map(col(_).isNull).reduce(_ || _))
      .head(1).nonEmpty
    if (!anyNull) return df
    val cached = df.localCheckpoint()
    names.foldLeft(cached) { (d, nm) =>
      val nulls = d.filter(col(nm).isNull)
      if (nulls.head(1).isEmpty) d
      else {
        val assigned = assignIdentities(nulls.drop(nm), Seq(nm -> ids(nm)),
          alreadyMaterialized = true)
        d.filter(col(nm).isNotNull)
          .unionByName(assigned.select(d.columns.map(col): _*))
      }
    }
  }

  /** Refuse clause/SET assignments to identity columns (ALWAYS). */
  private def refuseIdentitySet(assigned: Iterable[String],
      what: String): Unit = {
    val ids = identityColumns
    if (ids.isEmpty) return
    val hit = assigned.filter(a => ids.keys.exists(_.equalsIgnoreCase(a)))
    if (hit.nonEmpty) throw new IllegalStateException(
      s"$what assigns identity column(s) ${hit.mkString(", ")} of $path " +
        "— GENERATED ALWAYS AS IDENTITY columns are engine-assigned; " +
        "drop the assignment, or dropIdentityColumn() to hand-manage")
  }

  /** Enforces the given constraints on incoming rows IN the write pass:
    * a [[graft.functions.CheckInvariant]] fused onto the first output
    * column throws inside the task on the first violating row, so no
    * extra scan is paid. SQL CHECK semantics — only a FALSE result
    * violates; NULL passes. Columns a constraint references that the
    * incoming frame does not carry (K1 schema evolution — they read back
    * as NULL) are substituted with typed NULLs for evaluation, then
    * dropped again.
    *
    * Shape matters (round-6 review finding): the earlier
    * `filter(assert_true(...).isNull)` gate was a deterministic predicate
    * that PushDownPredicates could move BELOW the caller's joins/
    * aggregates — evaluating the constraint on intermediate rows not in
    * the final batch and spuriously rejecting a valid write. Riding on a
    * projected output column (Delta's CheckInvariant shape) pins the
    * check to the final per-row output: projections don't push through
    * joins, and the column can't be pruned because it IS written.
    */
  private def enforced(df: DataFrame,
      cs0: Map[String, String] = checkConstraints ++ notNullInvariants(),
      gens: Map[String, String] = generatedColumns): DataFrame = {
    // Generated columns first (constraints may reference them): a column
    // the incoming frame lacks is COMPUTED in-pass; a provided one turns
    // into a null-safe-equality invariant riding the same guard as the
    // CHECKs — either way, no extra scan.
    import org.apache.spark.sql.functions.expr
    val present0 = df.columns.map(_.toLowerCase).toSet
    val (toCompute, toValidate) =
      gens.partition { case (n, _) => !present0.contains(n.toLowerCase) }
    val withGen = toCompute.foldLeft(df) { case (d, (n, e)) =>
      d.withColumn(n, expr(e))
    }
    val cs = cs0 ++ toValidate.map { case (n, e) =>
      s"__generated_$n" -> s"`${n.replace("`", "``")}` <=> ($e)"
    }
    enforceChecks(withGen, cs)
  }

  /** The CHECK-invariant guard itself — see [[enforced]] for the write-
    * path composition (generated columns are folded in there).
    */
  private def enforceChecks(df: DataFrame,
      cs: Map[String, String]): DataFrame = {
    if (cs.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{coalesce, col, expr, lit}
      import org.apache.spark.sql.GraftColumnBridge
      val present = df.columns.map(_.toLowerCase).toSet
      val missing = cs.values.flatMap { e =>
        spark.sessionState.sqlParser.parseExpression(e).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
        }
      }.toSeq.distinct.filterNot(c => present.contains(c.toLowerCase))
      val widened = missing.foldLeft(df)((d, c) => d.withColumn(c, lit(null)))
      val all = cs.values.map(e => coalesce(expr(e), lit(true))).reduce(_ && _)
      val msg = cs.map { case (n, e) => s"$n: $e" }.mkString("CHECK violated [", "; ", "]")
      // Selecting only df's original columns drops the widened NULL stand-ins
      // again; the check expression still resolves against `widened`.
      // Column names are backtick-quoted: a bare col("a.b") would parse as
      // nested-field access and break on dotted names the old filter shape
      // never re-parsed.
      def q(c: String) = col("`" + c.replace("`", "``") + "`")
      val guard = graft.functions.CheckInvariant(
        GraftColumnBridge.expression(q(df.columns.head)),
        GraftColumnBridge.expression(all), msg)
      widened.select(df.columns.zipWithIndex.map { case (c, i) =>
        if (i == 0) GraftColumnBridge.column(guard).as(c) else q(c)
      }: _*)
    }
  }

  /** K1 — append with schema merge + partitioning. Claims a commit marker
    * FIRST (appends write straight into the live directory, so there is no
    * staged state to CAS at the end): a concurrent rewrite that merged
    * against the pre-append snapshot then fails its own CAS instead of
    * silently swapping the appended rows away.
    */
  def append(df: DataFrame): Unit = appendOp(df, "append")

  /** [[append]] with a caller-supplied commit-marker operation string —
    * the hook [[CopyInto]] uses to make the data commit and its loaded-file
    * log entry mutually recoverable (the batch id rides in the op, so
    * recovery can ask history "did this batch's data land?").
    *
    * Concurrency (Delta blind-append parity): an eligible append STAGES
    * its data into a private dir with no lock held, then publishes under
    * a partition-scoped claim — N ingest jobs appending to one table run
    * their data writes (the dominant cost) in parallel and serialize
    * only on the O(metadata) publish; an append and a DISJOINT scoped
    * rewrite commit concurrently. Ineligible batches (schema evolution,
    * append-created tables) and
    * metadata drift detected under the claim fall back to the serial
    * global-lock path, which is always correct.
    */
  private[table] def appendOp(df: DataFrame, op: String): Unit =
    if (serialAppendsConf || !appendStageEligible(df) || !appendStaged(df, op))
      withClaimedCommit(op) { appendBody(df, op) }

  /** `spark.graft.serialAppends=true` forces every append onto the
    * legacy global-lock in-place path — the escape hatch for storage
    * where the staged publish's per-file rename is not metadata-cheap,
    * and the A/B control for the concurrency probes.
    */
  private def serialAppendsConf: Boolean =
    spark.conf.getOption("spark.graft.serialAppends").exists(_.toBoolean)

  /** Staged-append eligibility — the serial path owns everything else:
    *   - table must exist with a stashed schema (append-created tables
    *     keep the legacy evolving contract);
    *   - no schema evolution: a batch column outside the declared schema
    *     needs the stash/reader-schema updates only a global writer may
    *     make.
    *
    * Identity/row-tracking batches ARE eligible (round 18): allocation
    * was never global-writer-lock work — [[allocateIdentity]] reserves a
    * consecutive id BLOCK under its own milliseconds-held identity lock
    * and persists the high-water BEFORE any row exists, so N stagers
    * draw disjoint blocks and run their data jobs concurrently. A
    * staged attempt that stands down after allocating (drift → serial
    * retry, which allocates a fresh block) leaks a gap — the registry's
    * documented contract ("crash ⇒ gap, never a collision"). Without
    * this, enabling row tracking silently re-serialized the whole
    * ingest.
    */
  private def appendStageEligible(df: DataFrame): Boolean =
    exists && {
      val sf = new Path(path, "_graft_meta/schema.ddl")
      fs.exists(sf) && {
        val have = org.apache.spark.sql.types.StructType
          .fromDDL(readMetaText(sf)).fieldNames.map(_.toLowerCase).toSet
        df.columns.forall(c => have.contains(c.toLowerCase))
      }
    }

  /** Fingerprint of every metadata input the staged-append transform
    * consumes (registries, column map, widening overlay, stashed schema,
    * CDF arming) — (length × mtime) per tracked `_graft_meta` file off
    * ONE flat listing. Metadata mutations only happen under the GLOBAL
    * writer lock, which excludes scoped holders, so equal fingerprints
    * before staging and under the claim prove the transform's inputs
    * still describe the table; drift falls back to the serial path.
    */
  private def appendMetaFingerprint(): Long = {
    val tracked = Set("schema.ddl", "colmap.tsv", "physschema.ddl",
      "widecols.tsv", "constraints.tsv", "defaults.tsv", "generated.tsv",
      "identity.tsv", "notnull.tsv", "addcols.tsv", "dropcols.tsv")
    val md = new Path(path, "_graft_meta")
    val base = if (ChangeFeed.isEnabled(spark, path)) 1L else 0L
    if (!fs.exists(md)) base
    else fs.listStatus(md).foldLeft(base) { (h, st) =>
      val n = st.getPath.getName
      if (!tracked.contains(n)) h
      else h + n.hashCode.toLong * 1000003L + st.getLen * 31L +
        st.getModificationTime
    }
  }

  private case class AppendMetaDrift() extends RuntimeException

  /** PHYSICAL-name read schema for an append batch's freshly-landed
    * files, off the stashed DDL (zero jobs, zero footer reads) — what
    * [[TableStats.completeIncrementalUpdate]] uses to skip its
    * mergeSchema footer job. None when no stash exists (append-created
    * tables), where the legacy mergeSchema read stays.
    */
  private def stashedPhysicalSchema()
      : Option[org.apache.spark.sql.types.StructType] = {
    val sf = new Path(path, "_graft_meta/schema.ddl")
    if (!fs.exists(sf)) None
    else {
      val cmap = ColumnMap.load(spark, path)
      Some(org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructType.fromDDL(readMetaText(sf))
          .fields.map(f => f.copy(name = cmap.getOrElse(f.name, f.name)))))
    }
  }

  /** Stage-then-publish append. Returns false when the batch turns out
    * ineligible mid-flight (fresh physical column under a widening
    * overlay, empty staged set, metadata drift under the claim) — the
    * caller retries on the serial path.
    *
    * Protocol:
    *  1. NO LOCK: transform the batch (same chain as [[appendBody]],
    *     identity blocks drawn under their own short lock) and write
    *     it, hive layout and
    *     all, into a private `append_staging_*` dir in the commits
    *     sibling (invisible to every reader/census/rewrite snapshot;
    *     excluded from [[commitStamp]] like the refresh stagings).
    *  2. Scoped claim on exactly the partition dirs the staged files
    *     land in (`p:<relative dir>` — the spelling every other scoped
    *     writer declares, so overlap detection matches exactly; root
    *     files collide on the bare `p:`).
    *  3. Under the claim: re-check the metadata fingerprint, park the
    *     stats manifest (same reader-visibility contract as
    *     [[appendBody]] — manifest ABSENT while files appear), then
    *     PUBLISH by renaming staged files in: O(files) driver fs ops,
    *     zero data movement. The claim-first rationale is preserved —
    *     unpublished files are invisible to a racing rewrite's snapshot,
    *     and once we claim, its CAS/re-check fails as before.
    *  4. Incremental stats complete under the stats mutex with a
    *     commit-stamp re-check: any FOREIGN claim since ours may have
    *     mutated files the parked manifest describes (disjoint scoped
    *     rewrite) or raced the park protocol (second append) — abort to
    *     manifest-absent, never stale. Sequential ingest (the standing-
    *     index steady state) keeps its incremental manifest.
    *
    * Crash windows: pre-claim — staging litter only, table untouched
    * ([[vacuum]] clears). Mid-publish — marker + lock stand, some files
    * visible: the same torn window the Hadoop job committer's one-by-one
    * task renames already have on the serial path, now strictly shorter
    * (renames only).
    */
  private def appendStaged(df: DataFrame, op: String): Boolean = {
    import scala.util.control.NonFatal
    val phase = MedallionTable.commitPhaseHook
    var tPhase = System.nanoTime()
    def mark(name: String): Unit = if (phase ne MedallionTable.noopPhase) {
      val now = System.nanoTime()
      phase(name, now - tPhase)
      tPhase = now
    }
    val fp0 = appendMetaFingerprint()
    val cmap = ColumnMap.load(spark, path)
    // same transform chain as [[appendBody]] — identity included: the
    // block is drawn (and the high-water persisted) here, BEFORE the
    // lock-free staging write, so concurrent stagers never collide
    val physBatch = upcastBatch(WideCols.canonicalize(
      ColumnMap.toPhysical(enforced(applyIdentityAppend(applyDefaults(df))),
        cmap),
      WideCols.load(spark, path)), cmap)
    // post-transform physical-name check: a staged column missing from
    // the recorded reader schema means extendReaderSchema would have to
    // WRITE (a global-lock read-modify-write) — serial path's job
    WideCols.readerSchema(spark, path).foreach { cur =>
      val have = cur.fieldNames.map(_.toLowerCase).toSet
      if (!physBatch.schema.fieldNames.forall(n =>
          have.contains(n.toLowerCase)))
        return false
    }
    val token = java.util.UUID.randomUUID().toString.take(12)
    val staging = new Path(commitsDir, s"append_staging_$token")
    fs.mkdirs(commitsDir)
    try {
      mark("staged:transform")
      // the expensive distributed write runs OUTSIDE any lock — N
      // appenders stage in parallel; CHECK/NOT NULL gates fire here,
      // before any claim exists to release
      writer(physBatch, SaveMode.Overwrite).parquet(staging.toString)
      MedallionTable.testFailpoint("post-stage-write")
      mark("staged:stage-write")
      val stagingUri = fs.makeQualified(staging).toUri
      val rels = scala.collection.mutable.ArrayBuffer[String]()
      walkFiles(staging, n => n.startsWith("_") || n.startsWith(".")) { st =>
        if (st.getPath.getName.endsWith(".parquet"))
          rels += stagingUri.relativize(
            fs.makeQualified(st.getPath).toUri).getPath
        true
      }
      if (rels.isEmpty) return false // empty batch: legacy commit semantics
      val footprint: Set[String] = rels.map { r =>
        val i = r.lastIndexOf('/')
        "p:" + (if (i < 0) "" else r.substring(0, i))
      }.toSet
      withClaimedCommitScoped(op, Some(footprint)) { claimed =>
        if (appendMetaFingerprint() != fp0) throw AppendMetaDrift()
        val cdfOn = ChangeFeed.isEnabled(spark, path)
        // stamp AFTER our own claim: any LATER foreign claim aborts the
        // incremental manifest commit below (absent, never stale)
        val stamp1 = commitStamp()
        val incremental = TableStats.beginIncrementalUpdate(spark, path)
        val published = rels.zipWithIndex.map { case (r, i) =>
          val dst = new Path(path, r)
          fs.mkdirs(dst.getParent)
          if (!fs.rename(new Path(staging, r), dst))
            throw new java.io.IOException(
              s"staged append publish failed: $staging/$r -> $dst")
          // the TORN window: some files renamed in, the rest still
          // staged — CrashRecoveryProbe kills a child JVM right here
          if (i == 0 && rels.size > 1)
            MedallionTable.testFailpoint("mid-append-publish")
          fs.makeQualified(dst).toString
        }.toSeq
        MedallionTable.testFailpoint("post-append-publish")
        TableSnapshot.wroteBaseFiles(this, published, org.apache.spark.sql.types
          .StructType(physBatch.schema.filterNot(f => partitionColumns.contains(f.name))))
        mark("staged:publish")
        if (incremental) {
          // atomic with a concurrent writer's invalidate (both take the
          // stats mutex): its claim precedes its invalidate, so either
          // our stamp check sees the claim (abort) or our completed
          // manifest lands BEFORE its invalidate deletes it — no
          // interleaving resurrects a manifest missing that writer's
          // mutations
          val ok = withStatsLock {
            commitStamp() == stamp1 && {
              try {
                TableStats.completeIncrementalUpdate(spark, path, published,
                  stashedPhysicalSchema())
                true
              } catch { case NonFatal(_) => false }
            }
          }
          if (!ok) withStatsLock {
            fs.delete(new Path(path, "_graft_meta/stats"), true)
            fs.delete(new Path(path, "_graft_meta/stats_pending"), true)
          }
        } else invalidateStats()
        mark("staged:stats")
        if (cdfOn)
          try ChangeFeed.captureFiles(spark, path, claimed, op, published)
          catch { case NonFatal(_) => () } // read fail-stops
      }
      true
    } catch {
      case _: AppendMetaDrift => false // caller retries on the serial path
    } finally {
      try fs.delete(staging, true) catch { case _: java.io.IOException => () }
    }
  }

  /** The append write itself — runs INSIDE a claimed commit. */
  private def appendBody(df: DataFrame, op: String): Unit = {
    val phase = MedallionTable.commitPhaseHook
    var tPhase = System.nanoTime()
    def mark(name: String): Unit = if (phase ne MedallionTable.noopPhase) {
      val now = System.nanoTime()
      phase(name, now - tPhase)
      tPhase = now
    }
    // Incremental manifest maintenance (TableStats.beginIncrementalUpdate
    // scaladoc): when a manifest exists, park it as pending, write the
    // data, then stats JUST the new files and commit the manifest back by
    // rename — append keeps file skipping armed at O(batch) stats cost.
    // Any failure leaves the manifest absent (conservative), never stale.
    val cdfOn = ChangeFeed.isEnabled(spark, path)
    val incremental = TableStats.beginIncrementalUpdate(spark, path)
    val before =
      if (incremental || cdfOn) dataFileSet() else Set.empty[String]
    mark("append:pre-walk")
    // appended files must carry the PHYSICAL names the existing files do
    // (mergeSchema would otherwise read a renamed column as two) — and,
    // under a live type-widening overlay, the WIDE types (canonicalize:
    // new files never reintroduce a narrow spelling). extendReaderSchema
    // runs BEFORE the data lands (WideCols scaladoc: a crash between the
    // two degrades the evolving append to a metadata-only ADD COLUMN).
    val cmap = ColumnMap.load(spark, path)
    val physBatch = upcastBatch(WideCols.canonicalize(
      ColumnMap.toPhysical(enforced(applyIdentityAppend(applyDefaults(df))),
        cmap),
      WideCols.load(spark, path)), cmap)
    WideCols.extendReaderSchema(spark, path, physBatch.schema)
    // schema-evolving append: keep the stashed DDL (the authority for
    // the emptied-table read fallback and for upcastBatch's declared
    // types) in step with the union the footers now carry — otherwise a
    // column added by append evolution stays invisible to both until
    // the next rewrite re-stashes. Logical names; BEFORE the data write
    // (the crash window then reads as a metadata-only declaration,
    // matching extendReaderSchema's contract above).
    val sfStash = new Path(path, "_graft_meta/schema.ddl")
    if (fs.exists(sfStash)) {
      val stash = org.apache.spark.sql.types.StructType
        .fromDDL(readMetaText(sfStash))
      val have = stash.fieldNames.map(_.toLowerCase).toSet
      val fresh = df.schema.fields.filterNot(f =>
        have.contains(f.name.toLowerCase))
      if (fresh.nonEmpty)
        stashSchema(org.apache.spark.sql.types.StructType(
          stash.fields ++ fresh))
    }
    mark("append:transform")
    writer(physBatch, SaveMode.Append).parquet(path)
    mark("append:write-job")
    val added =
      if (incremental || cdfOn) (dataFileSet() -- before).toSeq else Nil
    mark("append:post-walk")
    if (incremental)
      try TableStats.completeIncrementalUpdate(spark, path, added,
        stashedPhysicalSchema())
      catch {
        // pending = junk; the explicit invalidate guards the corner
        // where a concurrent refresh landed a manifest that predates
        // this append's files (absent is conservative, stale is not)
        case scala.util.control.NonFatal(_) => invalidateStats()
      }
    else invalidateStats()
    mark("append:stats")
    // change-feed capture is metadata-only: the added FILES are the
    // insert rows (ChangeFeed scaladoc) — commitVersion is stable inside
    // the claimed block (writer lock held; a racing rewrite's CAS fails)
    if (cdfOn)
      try ChangeFeed.captureFiles(spark, path, commitVersion, op, added)
      catch { case scala.util.control.NonFatal(_) => () } // read fail-stops
  }

  /** Write-time type enforcement for appends (Delta's store-assignment
    * contract): a batch column NARROWER than the table's declared type is
    * upcast in-pass (lossless — e.g. an int frame appended after the
    * column widened, or after a rewrite materialized the widening; left
    * as-is it would land a third footer spelling `mergeSchema` refuses
    * to merge). A batch column WIDER than the table refuses loudly with
    * the ALTER COLUMN TYPE hatch — silently landing it would break every
    * future read the same way. Types come from the stashed schema DDL
    * (logical names → mapped physical; absent on append-only-created
    * tables, where this is a no-op — the legacy contract). Non-widening
    * type differences pass through untouched (struct evolution etc. keep
    * their existing `mergeSchema` semantics).
    */
  private def upcastBatch(physBatch: DataFrame,
      cmap: Map[String, String]): DataFrame = {
    val sf = new Path(path, "_graft_meta/schema.ddl")
    if (!fs.exists(sf)) return physBatch
    val stash = org.apache.spark.sql.types.StructType
      .fromDDL(readMetaText(sf))
    val physTypes = stash.fields
      .map(f => cmap.getOrElse(f.name, f.name).toLowerCase -> f.dataType)
      .toMap
    // partition columns are OUT of scope either way: their values are
    // directory names, not footer pages — no narrow/wide footer conflict
    // exists for them, and the standing-index tables legitimately append
    // wider-typed partition keys today
    val partLower = partitionColumns.map(_.toLowerCase).toSet
    physBatch.schema.fields.foldLeft(physBatch) { (d, f) =>
      (if (partLower.contains(f.name.toLowerCase)) None
       else physTypes.get(f.name.toLowerCase)) match {
        case Some(tt) if tt != f.dataType &&
            WideCols.supported(f.dataType, tt) =>
          d.withColumn(f.name, org.apache.spark.sql.functions
            .col("`" + f.name.replace("`", "``") + "`").cast(tt))
        case Some(tt) if tt != f.dataType &&
            WideCols.supported(tt, f.dataType) =>
          throw new IllegalArgumentException(
            s"append: batch column '${f.name}' is ${f.dataType.sql} but " +
              s"the table declares ${tt.sql} — a wider batch would land " +
              "files no table scan can resolve; ALTER COLUMN TYPE " +
              s"${f.dataType.sql} first (metadata-only), then append")
        case _ => d
      }
    }
  }

  /** Live data files (qualified path strings), `_graft_meta` excluded by
    * path segments below the table root (substring-matching the absolute
    * path would misjudge tables under an underscore-prefixed ancestor —
    * see [[hasDataFiles]]).
    */
  private def dataFileSet(): Set[String] = {
    val p = new Path(path)
    if (!fs.exists(p)) Set.empty
    else {
      val b = Set.newBuilder[String]
      walkFiles(p, hiddenName) { st =>
        val f = st.getPath
        if (f.getName.endsWith(".parquet") && !hiddenName(f.getName))
          b += f.toString
        true
      }
      b.result()
    }
  }

  /** K2 — full replace (static dims, `bronze_table_creation.py:36,61`).
    * An EXISTING table replaces through the backup swap: a plain
    * `SaveMode.Overwrite` deletes the old data BEFORE the job runs, so a
    * constraint-violating (or simply failing) batch would destroy the
    * table instead of being rejected — and it would wipe `_graft_meta`
    * (the constraint registry) with it.
    */
  def overwrite(df: DataFrame): Unit =
    // overwrite of an EXISTING table is a user batch too: identity
    // ALWAYS semantics apply exactly as on the create path (provided →
    // refuse, missing → assign) — without this, a second overwrite
    // accepted caller ids without advancing the high-water (review
    // finding, round 14)
    if (exists) rewriteVia(applyIdentityAppend(applyDefaults(df)))
    else {
      val cs = checkConstraints
      val gs = generatedColumns
      val ics = identityColumns
      val nns = notNullColumns
      val dfts = columnDefaults
      withClaimedCommit("create-overwrite") {
        // SaveMode.Overwrite deletes the dir (registries included) BEFORE
        // the job runs — restore the pre-create registries even when the
        // write fails, or a rejected/failed first batch silently disarms
        // the gate (and forgets the generated columns). Identity
        // assignment runs during argument evaluation, before the delete.
        try writer(enforced(applyIdentityAppend(applyDefaults(df, dfts)),
            cs ++ notNullInvariants(nns), gs),
          SaveMode.Overwrite).parquet(path)
        finally { persistConstraints(cs); persistGenerated(gs)
          persistIdentityCols(ics); persistNotNull(nns)
          persistDefaults(dfts) }
        stashSchema(df.schema)
        // same NonFatal guard as appendBody: a capture IO failure must
        // not unwind withClaimedCommit (which would delete the claimed
        // marker AFTER the data and registries landed, leaving a
        // populated table at commit 0) — the feed read fail-stops instead
        if (ChangeFeed.isEnabled(spark, path))
          try ChangeFeed.captureFiles(spark, path, commitVersion,
            "create-overwrite", dataFileSet().toSeq)
          catch { case scala.util.control.NonFatal(_) => () }
      }
    }

  /** K3 — first-run create, error if the table already exists. */
  def createOrError(df: DataFrame): Unit = {
    if (exists)
      throw new IllegalStateException(s"table already exists at $path")
    val cs = checkConstraints
    val gs = generatedColumns
    val ics = identityColumns
    val nns = notNullColumns
    val dfts = columnDefaults
    withClaimedCommit("create") {
      try writer(enforced(applyIdentityAppend(applyDefaults(df, dfts)),
          cs ++ notNullInvariants(nns), gs),
        SaveMode.Overwrite).parquet(path)
      finally { persistConstraints(cs); persistGenerated(gs)
        persistIdentityCols(ics); persistNotNull(nns)
        persistDefaults(dfts) }
      stashSchema(df.schema)
      // NonFatal-guarded for the same reason as appendBody / overwrite:
      // the commit landed; a capture failure degrades to a feed refusal
      if (ChangeFeed.isEnabled(spark, path))
        try ChangeFeed.captureFiles(spark, path, commitVersion, "create",
          dataFileSet().toSeq)
        catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** K4 — 3-clause merge (see [[MergeOps.merge3Clause]]): materializes the
    * merged result next to the table, then swaps directories with the
    * previous data kept as a backup until the swap lands.
    *
    * @param checkUniqueKeys Delta fails when multiple source rows match one
    *        target row; pay one aggregation to replicate that guarantee.
    */
  def merge(
      source: DataFrame,
      keys: Seq[String],
      updateCondition: Option[(MergeOps.ColRef, MergeOps.ColRef) => Column] = None,
      deleteNotMatchedBySource: Boolean = true,
      checkUniqueKeys: Boolean = false): Unit = {
    if (checkUniqueKeys) MergeOps.requireUniqueKeys(source, keys)
    // 3-clause merge assigns EVERY source column: a source carrying an
    // identity column would write caller ids on inserts without
    // advancing the high-water — ALWAYS refuses it (hand-manage via
    // dropIdentityColumn, as on the other paths)
    refuseIdentitySet(source.columns.filter(c =>
      identityColumns.keys.exists(_.equalsIgnoreCase(c))), "merge source")
    rewriteVia(
      MergeOps.merge3Clause(read, source, keys, updateCondition, deleteNotMatchedBySource),
      op = "merge")
  }

  /** General ordered-clause merge (see [[MergeOps.mergeClauses]]) — the
    * full `MERGE INTO … WHEN …` surface, through the SAME rewrite commit
    * protocol as [[merge]]. This is what the SQL DML bridge
    * ([[graft.plans.GraftDmlRule]]) executes.
    *
    * @param checkUniqueKeys replicate Delta's "multiple source rows
    *        matched" failure by requiring unique source keys (one
    *        aggregation). Stricter than Delta in two ways, both
    *        deterministic refusals: an unmatched duplicate also fails, and
    *        the check applies even to insert-only merges — the full-outer
    *        rewrite would otherwise FAN OUT a matched target row once per
    *        duplicate source row and silently duplicate it in the
    *        rewritten table (review finding, round 10).
    */
  /** Session flag making every library-path merge schema-evolving —
    * Delta's `schema.autoMerge.enabled` analog. (SQL merges evolve via
    * the `WITH SCHEMA EVOLUTION` clause, which Spark's analyzer gates.)
    */
  private def autoMergeSchemaConf: Boolean =
    spark.conf.getOption("spark.graft.autoMergeSchema").exists(_.toBoolean)

  /** @param evolveSchema `MERGE … WITH SCHEMA EVOLUTION` / the
    *        `spark.graft.autoMergeSchema` session flag: assignments to
    *        columns the target lacks WIDEN the table — each new column is
    *        typed from the like-named SOURCE column, old rows read it as
    *        typed NULL (Delta autoMerge's contract). Off (default), such
    *        assignments refuse fail-stop with the hatches named.
    */
  def mergeClauses(
      source: DataFrame,
      keys: Seq[(String, String)],
      matched: Seq[MergeOps.WhenClause],
      notMatched: Seq[MergeOps.WhenNotMatchedInsert],
      notMatchedBySource: Seq[MergeOps.WhenClause],
      checkUniqueKeys: Boolean = true,
      evolveSchema: Boolean = false): Unit = {
    if (checkUniqueKeys)
      MergeOps.requireUniqueKeys(source, keys.map(_._2))
    val clauses = matched ++ notMatched ++ notMatchedBySource
    val evolved =
      if (evolveSchema || autoMergeSchemaConf)
        MergeOps.resolveEvolvedFromSource(read.columns.toSeq, clauses,
          source, path)
      else {
        MergeOps.refuseEvolvedAssignments(read.columns.toSeq, clauses, path)
        Nil
      }
    refuseIdentitySet(MergeOps.assignedColumns(clauses), "MERGE clause")
    rewriteVia(
      {
        // target widened with source-typed NULL columns INSIDE the
        // by-name rewrite product (the fence contract): the rewrite then
        // materializes the evolved schema physically in one pass
        val target = evolved.foldLeft(read) { case (d, (n, dt)) =>
          d.withColumn(n, org.apache.spark.sql.functions.lit(null).cast(dt))
        }
        MergeOps.mergeClauses(target, source, keys, matched, notMatched,
          notMatchedBySource, insertDefaultColumns())
      },
      op = "merge")
  }

  /** Deletion-vector MERGE — the [[DvUpdates]] write path for
    * `MERGE INTO`, the mechanism Delta ships as DV-enabled merge: instead
    * of [[mergeClauses]]' full-table rewrite, the matched rows consumed by
    * an UPDATE or DELETE clause are position-marked in the DV sidecar,
    * their new versions (plus the NOT MATCHED inserts) land as ONE staged
    * batch, and a single atomic directory rename commits both — write cost
    * O(matched + inserted), zero base data files touched. Semantics are
    * [[mergeClauses]]' exactly (first-applying-clause, target schema out,
    * Delta's multiple-source-rows failure), which `MergeVectoredSpec`
    * pins by running both paths on the same inputs.
    *
    * Cost shape at 100 TB — the reason this exists: ONE pass over the
    * table (a broadcast-hash inner join against the small source — no
    * table shuffle, target-only rows never leave the scan), persisted at
    * O(matched) and reused for the marks, the new versions, and the
    * insert anti-join. A daily upsert touching 0.1% of rows pays 0.1%,
    * not a full rewrite.
    *
    * NOT MATCHED BY SOURCE clauses run O(consumed) on this path too
    * (round 16): the single pass switches to a left-outer broadcast
    * join, by-source UPDATEs contribute marks + staged new versions,
    * by-source DELETEs marks alone, and unconsumed target-only rows are
    * filtered before the persist ([[MergeOps.mergeVectoredPlan]]) — the
    * reference's K4 full-sync shape (by-source delete) lands as
    * O(matched + disappeared) instead of a full rewrite. Partition and
    * key-range pushdown are DISABLED for by-source merges: both prune
    * exactly the unmatched-target row class the clauses act on.
    *
    * Contract edges, all loud:
    *   - The source must be broadcast-sized and the matched set
    *     memory/disk-cacheable (MEMORY_AND_DISK — spills, never recompute
    *     storms). A merge touching most of the table belongs to the
    *     rewrite path too.
    *   - Refused while a Delta-log export is live (external readers
    *     cannot see the sidecar or staged batches), like every DV write.
    *   - No schema evolution: output schema ≡ target schema, as SQL
    *     MERGE. An assignment targeting a column the table lacks REFUSES
    *     fail-stop (round-14; previously it was silently dropped) with
    *     the hatches named: ADD COLUMN first — after which the same DV
    *     merge lands and old rows read the column as typed NULL — or the
    *     evolving 3-clause rewrite ([[merge]]).
    */
  def mergeVectored(
      source: DataFrame,
      keys: Seq[(String, String)],
      matched: Seq[MergeOps.WhenClause],
      notMatched: Seq[MergeOps.WhenNotMatchedInsert],
      notMatchedBySource: Seq[MergeOps.WhenClause] = Nil,
      checkUniqueKeys: Boolean = true,
      evolveSchema: Boolean = false): Unit = withClaimedCommit("merge-dv") {
    import org.apache.spark.sql.functions.col
    requireNoDeltaLogForDv()
    if (checkUniqueKeys)
      MergeOps.requireUniqueKeys(source, keys.map(_._2))
    val allClauses = matched ++ notMatched ++ notMatchedBySource
    refuseIdentitySet(MergeOps.assignedColumns(allClauses), "MERGE clause")
    if (evolveSchema || autoMergeSchemaConf)
      // Schema evolution on the DV path is METADATA-ONLY, recorded inside
      // this merge's own claimed commit: each new column lands as a
      // SchemaOverlay ADD (typed from the source), so base files read it
      // as typed NULL while the staged batch materializes real values —
      // zero base-file rewrites, the same cost shape as the merge itself.
      MergeOps.resolveEvolvedFromSource(read.columns.toSeq,
        allClauses, source, path)
        .foreach { case (n, dt) => recordAddColumn(n, dt.sql) }
    val logical = read // post-evolution: includes any just-added columns
    MergeOps.refuseEvolvedAssignments(logical.columns.toSeq,
      allClauses, path)
    val liveAll = SchemaOverlay.applied(spark, path, ColumnMap.toLogical(
      dvLiveWithPos(), ColumnMap.load(spark, path)))
    // Partition-pruned table pass: when a partition column is among the
    // merge keys, only its source-side key values can match — derive an
    // isin filter from the (broadcast-sized by contract) source, and
    // Catalyst's partition pruning drops every other directory from the
    // scan. A merge keyed on the partition column that touches 3 of 1000
    // partitions scans 3. Null key values never equi-match, so dropping
    // them from the filter set is exact; inserts are unaffected (the
    // anti-join runs against the matched keys, which the pruning cannot
    // shrink below the true matched set).
    // By-source merges act on the UNMATCHED target rows — the exact row
    // class partition/key-range pushdown would prune away — so both
    // pushdowns are off for them (a by-source sync merge must see every
    // target row to decide what disappeared).
    val partKeys =
      if (notMatchedBySource.nonEmpty) Nil
      else keys.filter { case (tk, _) => partitionColumns.contains(tk) }
    MedallionTable.lastMergeDvPartitionFilter =
      if (partKeys.isEmpty) None
      else Some(partKeys.map { case (tk, sk) =>
        val vals = source.select(col(sk)).distinct().collect()
          .map(_.get(0)).filter(_ != null).toSeq
        tk -> vals
      }.toMap)
    val livePart = MedallionTable.lastMergeDvPartitionFilter match {
      case Some(f) => f.foldLeft(liveAll) { case (df, (tk, vals)) =>
        df.filter(col(tk).isInCollection(vals))
      }
      case None => liveAll
    }
    // Key-range pushdown for the non-partition merge keys (Delta's merge
    // file skipping from source stats, in predicate form): a matched row's
    // key is necessarily within the source's [min, max], so the range
    // conjunct is exact — and pushed to the parquet scan it arms row-group
    // skipping plus the manifest's per-file pruning when the table is
    // clustered on the key. One aggregation over the broadcast-sized
    // source covers all keys; null-keyed target rows drop (they cannot
    // equi-match). Unclustered tables pay one codegen'd compare per row.
    val rangeKeys =
      if (notMatchedBySource.nonEmpty) Nil
      else keys.filterNot { case (tk, _) => partitionColumns.contains(tk) }
    MedallionTable.lastMergeDvRangeFilter =
      if (rangeKeys.isEmpty) None
      else {
        import org.apache.spark.sql.functions.{max, min}
        val aggs = rangeKeys.flatMap { case (_, sk) =>
          Seq(min(col(sk)).as(s"__min_$sk"), max(col(sk)).as(s"__max_$sk")) }
        val r = source.agg(aggs.head, aggs.tail: _*).head()
        Some(rangeKeys.zipWithIndex.flatMap { case ((tk, _), i) =>
          val (lo, hi) = (r.get(2 * i), r.get(2 * i + 1))
          if (lo == null || hi == null) None else Some(tk -> ((lo, hi)))
        }.toMap)
      }
    val live = MedallionTable.lastMergeDvRangeFilter match {
      case Some(f) if f.nonEmpty => f.foldLeft(livePart) {
        case (df, (tk, (lo, hi))) =>
          df.filter(col(tk) >= org.apache.spark.sql.functions.lit(lo) &&
            col(tk) <= org.apache.spark.sql.functions.lit(hi))
      }
      case _ => livePart
    }
    val plan = MergeOps.mergeVectoredPlan(live, source, keys, matched,
      notMatched, logical.columns.toSeq, logical.schema,
      Seq("__graft_dv_file", "__graft_dv_pos"), insertDefaultColumns(),
      notMatchedBySource)
    val j = plan.matchedPairs.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val batch = java.util.UUID.randomUUID().toString.take(12)
      val batchDir = DvUpdates.batchDataDir(path, batch)
      val marksStaging = DvUpdates.marksStagingDir(path, batch)
      // merge-inserted rows carry a NULL identity — fill (no-op when
      // none registered; updates keep their base row's id)
      val newRows = fillIdentityNulls(
        plan.newVersions(j).unionByName(plan.inserts(j)))
      // stage 1: new versions + inserts — table partition layout, CHECKs
      // enforced, physical column names (same dialect as the base files)
      writeBatch(enforced(newRows), batch)
      // stage 2: marks for the consumed matched rows' OLD positions
      plan.marks(j).write.mode(SaveMode.Overwrite).parquet(marksStaging.toString)
      // row-based emptiness: an empty frame's write can still leave a
      // zero-row part file, which must not become a committed batch —
      // answered from the just-written footers driver-side (no Spark job)
      val batchHasRows = DvUpdates.anyRows(spark, batchDir)
      val marksHaveRows = DvUpdates.anyRows(spark, marksStaging.toString)
      if (!batchHasRows && !marksHaveRows) {
        // no clause consumed anything: leave no witness, clear the litter
        fs.delete(new Path(batchDir), true)
        fs.delete(marksStaging, true)
        if (ChangeFeed.isEnabled(spark, path))
          try ChangeFeed.captureEmpty(spark, path, commitVersion, "merge-dv")
          catch { case scala.util.control.NonFatal(_) => () }
      } else {
        // An insert-only merge commits zero marks; a delete-only merge
        // commits an empty batch. The WITNESS is the marks DIRECTORY
        // existing (DvUpdates.committedBatches), so materialize both dirs
        // even when their side is empty — an empty marks dir hides
        // nothing and an empty batch dir contributes no scan, but the
        // commit rename still flips visibility atomically.
        fs.mkdirs(new Path(batchDir))
        if (!fs.exists(marksStaging)) fs.mkdirs(marksStaging)
        invalidateStats()
        fs.mkdirs(new Path(DeletionVectors.dir(path)))
        MedallionTable.testFailpoint("pre-merge-dv-commit")
        // COMMIT POINT: one atomic rename — marks hide the old versions
        // AND witness the staged batch into reads (DvUpdates contract)
        if (!fs.rename(marksStaging, DvUpdates.marksDir(path, batch)))
          throw new java.io.IOException(
            s"merge-dv commit rename failed: $marksStaging -> " +
              DvUpdates.marksDir(path, batch))
        // feed capture: the recorded target KEY columns let the read
        // classify postimages (has a same-key preimage in this commit ⇒
        // update_postimage, else insert) and preimages (has a postimage
        // ⇒ update_preimage, else delete) — exact for key-stable merges;
        // a key-changing update renders as delete+insert (same net
        // change set, Delta's rendering for re-keyed rows)
        if (ChangeFeed.isEnabled(spark, path))
          try ChangeFeed.captureBatch(spark, path, commitVersion, "merge-dv",
            batch, ShallowClone.listParquet(spark, batchDir),
            keys.map(_._1))
          catch { case scala.util.control.NonFatal(_) => () } // post-commit
      }
    } finally j.unpersist()
  }

  /** Stage a DV-update batch's new row versions under
    * `_graft_meta/dv_updates/<batch>/`: the table's partition layout and
    * physical column names, the same dialect as the base files. The data
    * schema written goes to the snapshot the commit publishes.
    */
  private def writeBatch(rows: DataFrame, batch: String): Unit = {
    val staged = WideCols.canonicalize(ColumnMap.toPhysical(rows,
      ColumnMap.load(spark, path)), WideCols.load(spark, path))
    val w = staged.write.mode(SaveMode.Overwrite)
    (if (partitionColumns.nonEmpty) w.partitionBy(partitionColumns: _*)
     else w).parquet(DvUpdates.batchDataDir(path, batch))
    TableSnapshot.wroteBatch(this, batch, org.apache.spark.sql.types.StructType(
      staged.schema.filterNot(f => partitionColumns.contains(f.name))))
  }

  /** Type-2 SCD merge (see [[MergeOps.scd2Merge]]): applies an attribute
    * snapshot effective at `effective`, closing changed current rows and
    * opening their new versions, through the same rewrite commit protocol
    * as [[merge]] (history records the op, concurrent writers conflict
    * cleanly).
    */
  def scd2Merge(
      source: DataFrame,
      keys: Seq[String],
      effective: Column,
      changeCondition: Option[(MergeOps.ColRef, MergeOps.ColRef) => Column] = None): Unit = {
    // same ALWAYS refusal as merge(): an SCD2 snapshot carrying an
    // identity column would open new versions with caller-supplied ids
    refuseIdentitySet(source.columns.filter(c =>
      identityColumns.keys.exists(_.equalsIgnoreCase(c))), "SCD2 source")
    // A duplicate-keyed snapshot would fan out the SCD2 full-outer join and
    // break the one-current-row-per-key invariant (MergeOps.scd2Merge's
    // documented contract) — enforce it here, where an action is fine.
    MergeOps.requireUniqueKeys(source, keys)
    rewriteVia(
      MergeOps.scd2Merge(read, source, keys, effective, changeCondition),
      op = "scd2-merge")
  }

  /** Full-table rewrite through a tmp dir + backup swap: never a moment
    * where the live path is the only copy gone; restore on failure.
    *
    * Optimistic concurrency (two-phase): the commit ordinal is read BEFORE
    * the write job runs (the job consumes this table's current data);
    * after staging, a create-exclusive marker CAS claims ordinal+1, then a
    * rewrite-intent lease is published and the ordinal re-checked before
    * the swap renames. If another writer committed in between, the CAS (or
    * re-check) fails and this rewrite aborts with
    * [[java.util.ConcurrentModificationException]] — its staged tmp is
    * deleted, its marker released, and the live table is untouched,
    * instead of the second swap silently discarding the first writer's
    * commit (Delta-parity conflict detection; the reference relies on
    * Delta's transactional commit). The intent lease closes the former
    * re-check-to-rename residual race: claimants seeing an unexpired
    * intent back off (see [[intentStanding]]).
    *
    * In-flight fencing closes the wider claim-read-to-swap window (the
    * round-7 advice finding): a claim-first writer whose marker is
    * visible but whose data job is still running would otherwise pass
    * both the CAS and the re-check — its claim is already counted in
    * `expectedVersion` — and the swap would discard its rows (or at
    * best fail its task commit). The fence loop below reads the ordinal
    * and THEN checks the writer lock, retrying until clean: the lock is
    * acquired before every claim and held past its data job, so a clean
    * check proves every claim counted in `expectedVersion` has landed
    * its data. `newData0` is BY-NAME and evaluated after the fence, so the
    * table scan's file listing (eager at `read`) also sees that landed
    * data — callers must construct the rewrite product (including their
    * `read`) inside the argument expression.
    */
  private def rewriteVia(newData0: => DataFrame,
      writerTweak: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =>
        org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] = identity,
      op: String = "rewrite"): Unit = {
    // Enforce CHECK constraints (and generated-column invariants) on
    // every rewrite product (merge results, updates, restores) and carry
    // both registries across the swap, which replaces the _graft_meta
    // directory. One registry read serves both.
    val constraints = checkConstraints
    val gens = generatedColumns
    val idCols = identityColumns
    val notNulls = notNullColumns
    val defaults = columnDefaults
    // Snapshot fence: ordinal BEFORE the lock check, retry until the
    // lock is free — see the scaladoc. Fail-stop on a persistently-held
    // lock (crashed writer): vacuum() clears it.
    var expectedVersion = -1L
    var fenceAttempts = 0
    while (expectedVersion < 0) {
      val v = commitVersion
      if (!writeLockHeld()) expectedVersion = v
      else {
        fenceAttempts += 1
        if (fenceAttempts >= 8) throw new java.util.ConcurrentModificationException(
          s"claim-first write in flight on $path: rewrite cannot pin a " +
            s"snapshot (${MedallionTable.crashedHolderHint})")
        Thread.sleep(25)
      }
    }
    // merge-inserted rows carry a NULL identity (the clause may not
    // assign it) — fill before enforcement; untouched when none registered
    val newData = enforced(fillIdentityNulls(newData0),
      constraints ++ notNullInvariants(notNulls), gens)
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(s"${path}__graft_tmp_$suffix")
    val dst = new Path(path)
    // The backup name embeds a wall-clock-millis ordinal: local-fs mtime
    // can have 1 s granularity, so two crashed rewrites inside one tick
    // would make a pick-newest-by-mtime vacuum arbitrary (and possibly
    // restore the stale state). Wall-clock, not nanoTime: nanoTime resets
    // across JVM restarts/reboots, which would order backups from
    // different processes wrongly. vacuum() prefers the ordinal, with
    // mtime as the same-millisecond tiebreak and the legacy fallback.
    val backup =
      new Path(s"${path}__graft_old_${System.currentTimeMillis()}_$suffix")
    var written = false
    try {
      val w = writerTweak(newData.write.mode(SaveMode.Overwrite))
      (if (partitionColumns.nonEmpty) w.partitionBy(partitionColumns: _*) else w)
        .parquet(tmp.toString)
      // Metadata goes into the TMP directory BEFORE the swap, so the
      // rename atomically carries schema + constraint registry with the
      // data. Writing them after the swap left a crash window where the
      // backup was already deleted but the new dir had neither schema.ddl
      // (a rewrite that legally empties the table would then read as
      // nonexistent — and a later vacuum() would "restore" the superseded
      // backup over a committed delete) nor the CHECK registry (silently
      // disarming the gate). Any rewrite can legally produce zero rows
      // (merge with delete-not-matched, row-level DELETE), and an empty
      // parquet dir carries no schema of its own.
      stashSchema(newData.schema, tmp)
      persistConstraints(constraints, tmp)
      persistGenerated(gens, tmp)
      persistIdentityCols(idCols, tmp)
      persistNotNull(notNulls, tmp)
      persistDefaults(defaults, tmp)
      MedallionTable.testFailpoint("pre-commit")
      if (!tryClaimCommit(expectedVersion, op))
        throw new java.util.ConcurrentModificationException(
          s"concurrent write detected on $path: commit v${expectedVersion + 1} " +
            "already claimed by another writer (this rewrite was computed " +
            s"against v$expectedVersion); aborting without touching the table")
      var committed = false
      try {
        MedallionTable.testFailpoint("pre-swap")
        // Two-phase close of the claim→swap window: a claim-FIRST writer
        // (append / pruned merge / fast delete) that claimed a LATER
        // ordinal after our CAS has written — or is writing — rows into
        // the live directory that this swap would silently discard.
        // Phase 2 publishes a rewrite intent BEFORE the conflict
        // re-check; claimants check the intent both before AND after
        // their own CAS. Case split: a claim landing before the re-check
        // is seen there (abort, release marker); a claim landing after it
        // necessarily runs its post-claim intent check after this intent
        // was published and still unexpired — the claimant releases and
        // retries once the intent clears, by which time the swap has
        // landed and the retry writes into the new table state. No
        // interleaving loses rows (spec: "two-phase intent closes the
        // re-check-to-rename window").
        publishIntent(op)
        try {
          if (commitVersion != expectedVersion + 1)
            throw new java.util.ConcurrentModificationException(
              s"concurrent write detected on $path: another writer claimed " +
                s"v${commitVersion} after this rewrite's CAS; aborting before " +
                "the swap could discard its rows")
          MedallionTable.testFailpoint("post-recheck")
          written = true
          if (!fs.rename(dst, backup))
            throw new java.io.IOException(s"swap failed: $dst -> $backup")
          MedallionTable.testFailpoint("mid-swap")
          if (!fs.rename(tmp, dst)) {
            fs.rename(backup, dst) // restore — table untouched on failure
            throw new java.io.IOException(s"swap failed: $tmp -> $dst (restored)")
          }
          committed = true
        } finally clearIntent()
        if (retainVersions > 0) archiveBackup(backup, expectedVersion)
        else fs.delete(backup, true)
      } catch {
        // Release the claimed marker on ANY post-CAS failure before the
        // swap lands (conflict re-check, rename failure, injected crash):
        // the batch never landed, so history() must not record it and
        // commitVersion must not stay advanced past the (restored) state —
        // the same contract withClaimedCommit enforces for claim-first
        // paths. Post-swap failures (archiveBackup) keep the marker: the
        // commit happened. A hard JVM death between CAS and swap still
        // leaks a marker; vacuum()'s backup restore handles the data and
        // history() renders the orphan row from its recorded body.
        case t: Throwable if !committed =>
          try fs.delete(new Path(commitsDir, s"v${expectedVersion + 1}.commit"), false)
          catch { case _: java.io.IOException => () }
          throw t
      }
      // change-feed: a rewrite's change set derives from snapshots at
      // read time — record the OP durably (manifest outlives the marker
      // retention). Best-effort: the commit already happened.
      if (ChangeFeed.isEnabled(spark, path))
        try ChangeFeed.captureAuto(spark, path, expectedVersion + 1, op)
        catch { case scala.util.control.NonFatal(_) => () }
    } finally {
      // swap renames land AFTER the marker CAS — drop the snapshot so no
      // reader keeps the pre-swap one under the post-CAS stamp
      TableSnapshot.drop(spark, path)
      if (!written) fs.delete(tmp, true) // failed write leaves no litter
    }
  }

  /** Delta-style `DELETE WHERE`. When the predicate references ONLY
    * partition columns and the table is unversioned, the matching
    * partition directories are dropped after a pure FILESYSTEM listing —
    * no data file is opened (on a 100 TB table a retention delete on the
    * batch key is |partitions| metadata ops). Versioned tables and
    * row-level predicates rewrite through the usual backup swap so
    * time travel keeps the pre-image. The fast path deletes directory by
    * directory (idempotent under retry, like [[mergePruned]]'s
    * per-partition commit — re-run after a crash to finish).
    *
    * The table schema is stashed in `_graft_meta/schema.ddl` first, so a
    * delete that empties the table leaves it readable (empty, schema
    * intact) instead of an unreadable bare directory — the parquet-dir
    * analog of Delta keeping schema in its log.
    */
  def delete(cond: Column): Unit = {
    val df = read // ONE relation: schema, refs analysis, and rewrite share it
    val schema = df.schema
    // Resolve the predicate against the table schema to learn which
    // columns it references (the raw Column is an opaque unresolved node
    // with empty `.references`). Analysis only — no job runs.
    val refs = df.select(cond.as("__graft_cond"))
      .queryExecution.analyzed.expressions
      .flatMap(_.references.map(_.name)).toSet
    if (retainVersions == 0 && partitionColumns.nonEmpty && refs.nonEmpty &&
        refs.subsetOf(partitionColumns.toSet)) {
      withClaimedCommit("delete-partitions") {
      matchingPartitionDirs(cond, schema)
        .foreach(d => fs.delete(new Path(d), true))
      // committed update batches hold the matched partitions' amended
      // rows — kept, they would resurrect the "deleted" partition. Same
      // idempotent-under-retry contract as the base-dir drops above (a
      // crash between the two is healed by re-running the DELETE).
      DvUpdates.committedBatches(spark, path).foreach { b =>
        matchingPartitionDirs(cond, schema,
            new Path(DvUpdates.batchDataDir(path, b)))
          .foreach(d => fs.delete(new Path(d), true))
      }
      hideUnlaidBatchRows(cond)
      invalidateStats()
      // Fast path bypasses rewriteVia (which stashes after its swap): a
      // delete that drops every partition must leave the table readable.
      stashSchema(schema)
      }
    } else {
      // DELETE removes rows where cond is TRUE; FALSE and NULL survive
      // (a bare `!cond` filter would also drop the NULL rows). Re-read
      // inside the by-name argument: rewriteVia's fence must precede the
      // scan's file listing (the outer `df` listed files pre-fence).
      import org.apache.spark.sql.functions.{coalesce, lit, not}
      rewriteVia(read.filter(not(coalesce(cond, lit(false)))), op = "delete")
    }
  }

  /** The partition fast-DELETE's second half for update batches whose
    * files do NOT sit in the table's partition layout: a DV write through
    * a handle that does not declare the partition columns (the SQL
    * catalog's, unless created with PARTITIONED BY) stages its batch flat,
    * so no directory drop reaches the matched partitions' rows in it —
    * they would outlive the DELETE. Their positions are marked in the
    * sidecar instead, one scan over just those files.
    */
  private def hideUnlaidBatchRows(cond: Column): Unit = {
    import org.apache.spark.sql.functions.col
    def laidOut(dir: String, file: String): Boolean = {
      val segs = file.stripPrefix(dir + "/").split('/').dropRight(1)
      segs.length == partitionColumns.size &&
        segs.zip(partitionColumns).forall { case (seg, c) =>
          seg.startsWith(c + "=") }
    }
    TableSnapshot.of(this).liveBatches.flatMap { b =>
      val flat = b.files.filterNot(laidOut(b.dir, _))
      if (flat.isEmpty) None
      else Some(spark.read.schema(b.schema).option("basePath", b.dir)
        .parquet(flat: _*).filter(cond)
        .select(DeletionVectors.fileKey(col("_metadata.file_path")).as("file"),
          col("_metadata.row_index").as("pos")))
    }.reduceOption(_ unionByName _)
      .foreach(_.write.mode(SaveMode.Append).parquet(DeletionVectors.dir(path)))
  }

  /** DEEP CLONE (Delta `CREATE TABLE t CLONE s` without SHALLOW): a
    * MATERIALIZED copy of the source's current logical state — one
    * distributed write of `source.read`, so deletion vectors, update
    * batches, column maps, schema overlays and type widenings are all
    * applied-and-materialized in the copy rather than referenced
    * (decoupled from source rewrites BY CONSTRUCTION: zero pointer
    * entries, the cross-storage copy [[cloneFrom]] cannot give). The
    * registries that survive rewrites travel — CHECK constraints,
    * generated/identity/NOT NULL/default columns, plus the identity
    * HIGH-WATER so inserts on the clone never re-allocate the source's
    * ids. Partitioned sources keep their hive layout. Cost is O(data) —
    * this is the OPTIMIZE write path pointed at a fresh location.
    */
  def deepCloneFrom(source: MedallionTable): Unit = {
    require(!exists, s"clone target $path must not exist")
    require(source.exists, s"clone source ${source.path} has no data")
    require(partitionColumns.isEmpty ||
        partitionColumns == source.partitionColumns,
      s"deep clone target declares partitioning ${partitionColumns
        .mkString(", ")} but the source's is ${source.partitionColumns
        .mkString(", ")} — a clone keeps the source layout")
    val parts = source.partitionColumns
    withClaimedCommit("deep-clone") {
      // Source-side fence (rewriteVia's shape pointed at the SOURCE): a
      // concurrent claim-first append on the source could otherwise be
      // captured PARTIALLY — job-committer renames are not atomic as a
      // set — or crash the copy mid-listing, and a partial capture
      // persists a torn clone silently. Fence = no source writer lock
      // standing before the read (every claim-first writer holds its
      // lock past its data job), then verify the source file census is
      // UNCHANGED after the copy; a census drift means a writer landed
      // mid-copy — redo against the settled source. Registries re-read
      // inside the loop so they describe the same snapshot as the data.
      var attempts = 0
      var done = false
      while (!done) {
        attempts += 1
        // waits on the same WriterWaitMs deadline every other writer
        // wait uses: an in-flight append is a multi-second Spark job, so
        // a short fixed budget would make deepCloneFrom throw almost
        // immediately instead of queueing like the rest of the protocol
        val fenceDeadline =
          System.currentTimeMillis() + MedallionTable.WriterWaitMs
        while (source.writeLockHeld()) {
          if (System.currentTimeMillis() > fenceDeadline)
            throw new java.util.ConcurrentModificationException(
              s"deep clone: claim-first write in flight on ${source.path} " +
                s"after ${MedallionTable.WriterWaitMs} ms; " +
                "cannot pin a source snapshot " +
                s"(${MedallionTable.crashedHolderHint})")
          Thread.sleep(25)
        }
        val census0 = source.metaCensusHash()
        val cs = source.checkConstraints
        val gens = source.generatedColumns
        val ics = source.identityColumns
        val nns = source.notNullColumns
        val dfts = source.columnDefaults
        val hw = source.readIdentityHw()
        MedallionTable.retryOnVanishedFiles() {
          val df = source.read
          val w = df.write.mode(SaveMode.Overwrite)
          (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(path)
          stashSchema(df.schema)
        }
        if (source.writeLockHeld() || source.metaCensusHash() != census0) {
          if (attempts >= 4)
            throw new java.util.ConcurrentModificationException(
              s"deep clone: source ${source.path} kept changing under the " +
                s"copy ($attempts attempts) — retry when source writes " +
                "settle")
          // the next Overwrite replaces the torn copy wholesale
        } else {
          persistConstraints(cs)
          persistGenerated(gens)
          persistIdentityCols(ics)
          persistNotNull(nns)
          persistDefaults(dfts)
          if (hw.nonEmpty)
            writeMetaText(identityHwFile, hw.toSeq.sortBy(_._1)
              .map { case (n, v) => s"$n\t$v" }.mkString("\n"))
          done = true
        }
      }
    }
  }

  /** SHALLOW CLONE ([[ShallowClone]]): make THIS (empty) table a
    * zero-copy clone of `source` — pointer manifest to the source's
    * current data files plus copies of its read-state metadata (deletion
    * vector, column map, schema overlay, CHECK registry, schema stash),
    * all O(files)
    * driver work and zero data bytes. Writes land locally; the first
    * rewrite (OPTIMIZE being the canonical one) materializes and
    * decouples from the source. Valid while the source is not REWRITTEN
    * (appends to the source are invisible and harmless; a source swap
    * relocates the pointed-at files — see the ShallowClone scaladoc).
    * Unpartitioned tables only: pointer files outside the table root
    * cannot reproduce a hive directory layout.
    */
  def cloneFrom(source: MedallionTable): Unit = {
    require(!exists, s"clone target $path must not exist")
    require(partitionColumns.isEmpty && source.partitionColumns.isEmpty,
      "shallow clone supports unpartitioned tables only")
    // committed update batches are source data files too: the pointer
    // manifest carries them and the copied dv sidecar carries their marks
    // (both update_<b> dirs and flat delete marks ride the "dv" copy), so
    // the clone reproduces the amended view without local batch state
    val files = (source.dataFileSet() ++
      DvUpdates.dataFiles(spark, source.path)).toSeq.sorted
    require(files.nonEmpty, s"clone source ${source.path} has no data files")
    withClaimedCommit("clone") {
      ShallowClone.write(spark, path, files)
      def copyMeta(name: String): Unit = {
        val src = new Path(source.path, s"_graft_meta/$name")
        val sfs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (sfs.exists(src))
          org.apache.hadoop.fs.FileUtil.copy(sfs, src, fs,
            new Path(path, s"_graft_meta/$name"), false, true,
            spark.sparkContext.hadoopConfiguration)
      }
      // addcols/dropcols: the clone's reads apply the CLONE's overlay
      // over the pointed-at files — without copies, a source's dropped
      // column resurrects and an unmaterialized ADD vanishes; widecols/
      // physschema: a widened source's files mix narrow/wide footers the
      // clone could not otherwise resolve
      Seq("dv", "colmap.tsv", "constraints.tsv", "generated.tsv",
        "notnull.tsv", "addcols.tsv", "dropcols.tsv", "widecols.tsv",
        "physschema.ddl").foreach(copyMeta)
      stashSchema(source.read.schema)
    }
  }

  /** RENAME COLUMN as metadata ([[ColumnMap]]): no data file changes —
    * the rename is visible to every read surface immediately and costs
    * O(1). Refuses the cases whose stored artifacts still speak the old
    * name: partition columns (physical directory layout), CHECK
    * constraints (stored as expression text), and tables with a live
    * Delta-log export (external readers can't see the map — OPTIMIZE
    * first to materialize). Stale skipping artifacts are handled, not
    * trusted: the stats manifest is invalidated (its columns are keyed
    * by name) and any bloom index on the old name is dropped.
    */
  def renameColumn(oldName: String, newName: String): Unit = {
    val schema = read.schema
    require(schema.fieldNames.contains(oldName),
      s"rename: column '$oldName' not in ${schema.fieldNames.mkString("[", ",", "]")}")
    require(!schema.fieldNames.contains(newName),
      s"rename: column '$newName' already exists")
    require(!SchemaOverlay.drops(spark, path).contains(newName),
      s"rename: '$newName' is a dropped column's physical slot — the read " +
        "projection would collide with the tombstoned bytes; OPTIMIZE to " +
        "shed them first")
    // mirror of addColumn's guard: after rename x→z, the PHYSICAL slot x
    // still lives in every data file. A later rename y→x passes the
    // logical-schema checks, but the map {z→x, x→y} then renames through
    // a colliding name on both the read (toLogical) and write
    // (toPhysical) fold — duplicate columns on every read surface.
    require(!ColumnMap.load(spark, path).values.toSet.contains(newName),
      s"rename: '$newName' is the physical slot of a renamed column — " +
        "reads would surface two columns with that name; OPTIMIZE to " +
        "materialize the earlier rename first")
    require(!partitionColumns.contains(oldName),
      s"rename: '$oldName' is a partition column — its directory layout " +
        "is physical; rewrite the table to rename it")
    // identity registry is keyed by NAME (identity.tsv + the high-water
    // entry): renaming a registered column would leave the registry
    // pointing at the old name, and the next append's applyIdentityAppend
    // would silently re-create it — mirror the CHECK-constraint refusal
    require(!identityColumns.keys.exists(_.equalsIgnoreCase(oldName)),
      s"rename: '$oldName' is GENERATED ALWAYS AS IDENTITY — the registry " +
        "is keyed by name; dropIdentityColumn() first, rename, then " +
        "re-declare (setIdentityColumn syncs the high-water from data)")
    require(!identityColumns.keys.exists(_.equalsIgnoreCase(newName)),
      s"rename: '$newName' is a registered identity column's name — the " +
        "renamed data would collide with the engine-assigned slot; " +
        "dropIdentityColumn() first")
    val offending = checkConstraints.filter { case (_, expr) =>
      s"\\b${java.util.regex.Pattern.quote(oldName)}\\b".r
        .findFirstIn(expr).isDefined
    }
    require(offending.isEmpty,
      s"rename: CHECK constraint(s) ${offending.keys.mkString(", ")} " +
        s"reference '$oldName' — drop them first")
    require(!fs.exists(new Path(path, "_delta_log")),
      "rename: table has a Delta-log export; external readers cannot " +
        "see the column map — OPTIMIZE to materialize, then re-sync")
    withClaimedCommit("rename-column") {
      // an unmaterialized ADDed column renames inside the overlay (no
      // physical column exists to map); everything else through the map
      if (!SchemaOverlay.renameAdd(spark, path, oldName, newName))
        ColumnMap.rename(spark, path, oldName, newName)
      invalidateStats()
      fs.delete(new Path(path, s"_graft_meta/bloom/$oldName"), true)
      // the defaults registry is keyed by LOGICAL name — retarget it, or
      // the next omitted-column append resurrects the OLD name
      val dmap = columnDefaults
      dmap.get(oldName).foreach(v =>
        persistDefaults(dmap - oldName + (newName -> v)))
      stashSchema(org.apache.spark.sql.types.StructType(schema.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f)))
    }
  }

  /** Metadata-only `ALTER TABLE ADD COLUMN` ([[SchemaOverlay]]): records
    * the (name, type) declaration; reads surface a typed NULL until some
    * write materializes the column. Zero data work at any table size.
    */
  def addColumn(name: String, typeDdl: String): Unit =
    withClaimedCommit("add-column") { recordAddColumn(name, typeDdl) }

  /** [[addColumn]]'s body without the claimed commit — for callers already
    * inside one (schema-evolving MERGE records its new columns as part of
    * its OWN commit, the transactional shape Delta's autoMerge has).
    */
  private def recordAddColumn(name: String, typeDdl: String): Unit = {
    val dt = org.apache.spark.sql.types.DataType.fromDDL(typeDdl) // validates
    val schema = read.schema
    require(!schema.fieldNames.contains(name),
      s"add column: '$name' already exists")
    require(!SchemaOverlay.drops(spark, path).contains(name),
      s"add column: '$name' is a dropped column's physical slot — its old " +
        "bytes would resurrect under the new column; OPTIMIZE to shed them " +
        "first")
    require(!ColumnMap.load(spark, path).values.toSet.contains(name),
      s"add column: '$name' is the physical slot of a renamed column — " +
        "new files would collide with the old bytes; OPTIMIZE to " +
        "materialize the rename first")
    SchemaOverlay.recordAdd(spark, path, name, typeDdl)
    stashSchema(org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField(name, dt)))
  }

  /** Metadata-only `ALTER TABLE DROP COLUMN` ([[SchemaOverlay]]): the
    * column's PHYSICAL name is tombstoned; reads exclude it, the bytes
    * stay until the next full rewrite sheds them. Same boundaries as
    * [[renameColumn]] (partition columns, CHECK references, live
    * Delta-log export), each refused loudly.
    */
  def dropColumn(name: String): Unit = {
    val schema = read.schema
    require(schema.fieldNames.contains(name),
      s"drop column: '$name' not in ${schema.fieldNames.mkString("[", ",", "]")}")
    require(!partitionColumns.contains(name),
      s"drop column: '$name' is a partition column — its directory layout " +
        "is physical; rewrite the table to drop it")
    // same registry-keyed-by-name hazard as rename: a dropped identity
    // column's registry entry would survive and the next append would
    // silently resurrect the (tombstoned) physical slot with fresh ids
    require(!identityColumns.keys.exists(_.equalsIgnoreCase(name)),
      s"drop column: '$name' is GENERATED ALWAYS AS IDENTITY — " +
        "dropIdentityColumn() first (it also retires the high-water " +
        "entry), then drop the column")
    val offending = checkConstraints.filter { case (_, expr) =>
      s"\\b${java.util.regex.Pattern.quote(name)}\\b".r
        .findFirstIn(expr).isDefined
    }
    require(offending.isEmpty,
      s"drop column: CHECK constraint(s) ${offending.keys.mkString(", ")} " +
        s"reference '$name' — drop them first")
    require(!fs.exists(new Path(path, "_delta_log")),
      "drop column: table has a Delta-log export; external readers cannot " +
        "see the overlay — OPTIMIZE to materialize, then re-sync")
    withClaimedCommit("drop-column") {
      // the rename chain ends here: the tombstone carries the PHYSICAL
      // name the files use, and the map entry (if any) is retired
      val physical = ColumnMap.load(spark, path).getOrElse(name, name)
      if (physical != name) ColumnMap.rename(spark, path, name, physical)
      // tombstone ⟺ some file physically carries the column (an ADD
      // entry alone proves nothing: appends may have materialized it).
      // Clone-aware: a shallow clone's columns live in the POINTED-AT
      // files — judging from local files alone would skip the tombstone
      // and leave the "dropped" column fully visible.
      val rawSchema = {
        // scanFiles covers clones AND committed update batches (a column
        // materialized only by an update batch is still physical);
        // explicit-list reads lose hive partition columns, which is fine
        // here — partition columns were refused above
        val files = ShallowClone.scanFiles(spark, path)
        if (files.nonEmpty)
          // WideCols.reader: post-widen footers refuse to merge; the
          // overlay schema is exactly the materialization census anyway
          // (seeded from footers, extended by every materializing append)
          WideCols.reader(spark, path).parquet(files: _*).schema
        else new org.apache.spark.sql.types.StructType()
      }
      SchemaOverlay.recordDrop(spark, path, physical,
        rawSchema.fieldNames.contains(physical))
      invalidateStats()
      fs.delete(new Path(path, s"_graft_meta/bloom/$name"), true)
      persistDefaults(columnDefaults - name) // a default keyed to the name dies with it
      stashSchema(org.apache.spark.sql.types.StructType(
        schema.fields.filterNot(_.name == name)))
    }
  }

  /** Metadata-only `ALTER TABLE … ALTER COLUMN name TYPE <wider>` —
    * Delta's type-widening table feature ([[WideCols]]): no data file is
    * touched at any table size; existing narrow pages decode through the
    * parquet readers' widening promotion under the recorded wide reader
    * schema, and new writes land wide. Only Delta's widening matrix is
    * accepted ([[WideCols.supported]]); anything else — including the
    * lossy `long -> double` — refuses with the rewrite hatch named.
    *
    * Boundaries (each refused loudly): partition columns (directory
    * values are physical), identity columns (the allocator is
    * LongType-fixed), generated columns and their expression sources
    * (stored expression text would silently change result types),
    * shallow clones (the files belong to the source — OPTIMIZE to
    * materialize first), live Delta-log exports (external readers can't
    * see the overlay), and columns declared by a not-yet-materialized
    * ADD COLUMN (re-declare instead: drop the add, re-add wide). A bloom
    * index on the column is dropped, not trusted — its hashes are keyed
    * to the narrow type's byte width ([[BloomIndex]] probes hash the
    * column's TABLE type, so a stale index would prune wrongly) — and
    * the min/max stats manifest is invalidated the same as every other
    * in-place schema mutation.
    */
  def alterColumnType(name: String, typeDdl: String): Unit = {
    val target = org.apache.spark.sql.types.DataType.fromDDL(typeDdl)
    val schema = read.schema
    require(schema.fieldNames.contains(name),
      s"ALTER COLUMN TYPE: column '$name' not in " +
        schema.fieldNames.mkString("[", ",", "]"))
    val from = schema(name).dataType
    // heal case: a crash between record()'s two writes leaves the reader
    // schema wide with no widecols entry (WideCols.record scaladoc) — the
    // logical type then ALREADY reads as `target`, so the user's retried
    // ALTER arrives as a same-type declaration; accept it and complete
    // the overlay instead of refusing it as a no-op
    val physical0 = ColumnMap.load(spark, path).getOrElse(name, name)
    val healing = from == target &&
      WideCols.readerSchema(spark, path).exists(s =>
        s.fieldNames.contains(physical0) &&
          s(physical0).dataType == target) &&
      !WideCols.load(spark, path).contains(physical0)
    require(healing || WideCols.supported(from, target),
      s"ALTER COLUMN TYPE: ${from.sql} -> ${target.sql} on '$name' is " +
        s"not a supported widening (${WideCols.describeSupported}); " +
        "rewrite the table (read + cast + overwrite) for any other change")
    require(!partitionColumns.contains(name),
      s"ALTER COLUMN TYPE: '$name' is a partition column — its directory " +
        "values are physical; rewrite the table to retype it")
    require(!identityColumns.keys.exists(_.equalsIgnoreCase(name)),
      s"ALTER COLUMN TYPE: '$name' is GENERATED ALWAYS AS IDENTITY — the " +
        "allocator is BIGINT-fixed; dropIdentityColumn() to hand-manage")
    val genHit = generatedColumns.filter { case (g, e) =>
      g.equalsIgnoreCase(name) ||
        s"\\b${java.util.regex.Pattern.quote(name)}\\b".r
          .findFirstIn(e).isDefined
    }
    require(genHit.isEmpty,
      s"ALTER COLUMN TYPE: '$name' is a generated column or a source of " +
        s"one (${genHit.keys.mkString(", ")}) — the stored expression's " +
        "result type would silently drift; dropGeneratedColumn() first")
    require(!ShallowClone.isClone(spark, path),
      "ALTER COLUMN TYPE: table is a shallow clone — the data files " +
        "belong to the source; OPTIMIZE (compact) to materialize first")
    require(!fs.exists(new Path(path, "_delta_log")),
      "ALTER COLUMN TYPE: table has a Delta-log export; external readers " +
        "cannot see the widening overlay — OPTIMIZE to materialize, " +
        "then re-sync")
    withClaimedCommit("widen-column") {
      val physical = ColumnMap.load(spark, path).getOrElse(name, name)
      // current reader schema in PHYSICAL names: the live overlay schema
      // when present (re-widen chains), else the LAST footer merge this
      // table will ever run (explicit schemas take over from here).
      // Legally-emptied table (all rows deleted; only schema.ddl keeps it
      // existing): there are no footers to merge, so Spark's inference
      // would throw unable-to-infer inside the claimed commit — seed from
      // the stashed DDL instead (authoritative on the empty branch, see
      // [[read]]), mapped to physical names so the overlay records the
      // on-disk spelling.
      val cmapSeed = ColumnMap.load(spark, path)
      val ddlFile = new Path(path, "_graft_meta/schema.ddl")
      val current = WideCols.readerSchema(spark, path).getOrElse(
        if (!hasDataFiles(new Path(path)) && fs.exists(ddlFile))
          org.apache.spark.sql.types.StructType(
            org.apache.spark.sql.types.StructType
              .fromDDL(readMetaText(ddlFile)).fields
              .map(f => f.copy(name = cmapSeed.getOrElse(f.name, f.name))))
        else spark.read.option("mergeSchema", "true").parquet(path).schema)
      require(current.fieldNames.contains(physical),
        s"ALTER COLUMN TYPE: '$name' is declared by a not-yet-" +
          "materialized ADD COLUMN — dropColumn() the declaration and " +
          "re-add it with the wider type (both are metadata-only)")
      val resolved = org.apache.spark.sql.types.StructType(
        current.fields.map(f =>
          if (f.name == physical) f.copy(dataType = target) else f))
      WideCols.record(spark, path, physical, target, resolved)
      invalidateStats()
      fs.delete(new Path(path, s"_graft_meta/bloom/$name"), true)
      stashSchema(org.apache.spark.sql.types.StructType(schema.fields.map(
        f => if (f.name == name) f.copy(dataType = target) else f)))
    }
  }

  /** Live widened columns (LOGICAL name → wide type); empty when no
    * type-widening overlay is live.
    */
  def widenedColumns: Map[String, org.apache.spark.sql.types.DataType] = {
    val phys = WideCols.load(spark, path)
    if (phys.isEmpty) phys
    else {
      val toLogical = ColumnMap.load(spark, path).map(_.swap)
      phys.map { case (p, t) => toLogical.getOrElse(p, p) -> t }
    }
  }

  // ---- Idempotent writes (Delta txnAppId/txnVersion parity) ------------

  private def txnFile(appId: String) = {
    require(appId.nonEmpty && !appId.contains('/') && !appId.contains('\n'),
      s"invalid txnAppId '$appId'")
    new Path(commitsDir, s"txns/$appId")
  }

  /** Highest txn version recorded for `appId` (monotonic). */
  def lastTxnVersion(appId: String): Option[Long] = {
    val p = txnFile(appId)
    if (!fs.exists(p)) None
    else scala.util.Try(readMetaText(p).trim.toLong).toOption
  }

  /** One-time txn-record migration for callers whose DERIVED appId
    * changed spelling (the streaming sink's checkpoint hash moved from
    * the raw option string to the qualified URI): when the current appId
    * has no record but the legacy one does, copy the legacy high-water
    * (and any surviving applied-witnesses) under the new name — without
    * this, the first restart after the spelling change replays the last
    * micro-batch without txn dedup. Safe to call repeatedly (no-op once
    * the current record exists); the caller owns single-writer-per-appId
    * semantics, same as [[appendIdempotent]] itself.
    */
  private[graft] def migrateTxnRecord(legacyAppId: String,
      appId: String): Unit = {
    if (legacyAppId == appId) return
    if (lastTxnVersion(appId).isEmpty) {
      lastTxnVersion(legacyAppId).foreach { v =>
        writeMetaText(txnFile(appId), v.toString)
      }
      val wd = new Path(commitsDir, "txns_applied")
      if (fs.exists(wd))
        fs.listStatus(wd).toSeq.map(_.getPath.getName)
          .filter(_.startsWith(legacyAppId + "-")).foreach { n =>
            val tail = n.stripPrefix(legacyAppId + "-")
            val dst = txnWitness(appId, tail.toLongOption.getOrElse(-1L))
            if (tail.toLongOption.isDefined && !fs.exists(dst))
              writeMetaText(dst, "")
          }
    }
  }

  private case class TxnAlreadyApplied() extends RuntimeException

  /** Durable per-(appId, version) applied witness ([[CopyInto]]'s
    * `copy_batches` pattern): the commit marker is pruned after
    * [[MedallionTable.HistoryDepth]] commits from ANY writer, so when the
    * post-append high-water write fails (deliberately swallowed), a replay
    * arriving after pruning would pass both checks and append a duplicate.
    * This file outlives pruning; it is deleted again once the high-water
    * file covers the version (so the directory holds only the rare
    * failed-high-water survivors, not one file per batch).
    */
  private def txnWitness(appId: String, version: Long) =
    new Path(commitsDir, s"txns_applied/$appId-$version")

  /** Exactly-once append under replays — Delta's `txnAppId`/`txnVersion`
    * options as an explicit API. The caller names the writing application
    * and a monotonically increasing batch version; a replay of an
    * already-applied (appId, version) is a NO-OP (returns false) instead
    * of a duplicate append. This is what makes foreachBatch sinks and
    * scheduler retries safe: `appendIdempotent(df, queryId, batchId)` per
    * micro-batch gives the sink exactly-once without bespoke bookkeeping
    * (the standing indexes' tag probes and goldStream's commit ordinal
    * are specialized forms of the same idea).
    *
    * Witness protocol: the (appId, version) pair rides in the commit
    * marker op (atomic with the claim); a per-app version file beside
    * the markers caches the high-water mark so the skip outlives marker
    * retention. Both checks re-run under the writer lock, so concurrent
    * replays serialize and exactly one applies.
    */
  def appendIdempotent(df: DataFrame, appId: String, version: Long): Boolean = {
    // Lock-free fast path: ONLY the high-water file, which is written
    // after a SUCCESSFUL apply. The commit marker is deliberately not
    // consulted here — a concurrent writer's marker stands while its
    // write is still in flight (and is released if that write FAILS), so
    // trusting it outside the lock would let a speculative replay report
    // no-op-success for a batch that never lands.
    if (lastTxnVersion(appId).exists(_ >= version)) return false
    val op = s"append-txn:$appId:$version"
    try {
      withClaimedCommit(op) {
        // Re-check under the writer lock, where the marker IS a safe
        // witness: any same-op marker beyond our own (claim-first minted
        // ours already — hence count ≥ 2) belongs to a predecessor that
        // either completed (its data is in) or died post-claim, which
        // the claim-first crash model counts as applied — the crash
        // window between the data write and the high-water update.
        if (lastTxnVersion(appId).exists(_ >= version) ||
            fs.exists(txnWitness(appId, version)) ||
            history().count(_._2 == op) >= 2) throw TxnAlreadyApplied()
        // Durable claim-first witness, written BEFORE the data: a crash
        // from here on counts as applied — exactly the contract the
        // marker-count check already encodes ("died post-claim" above) —
        // but unlike the marker this file survives retention pruning. An
        // IN-PROCESS append failure rolls it back below so the retry
        // (whose marker was also released) correctly re-applies.
        writeMetaText(txnWitness(appId, version), "")
        try appendBody(df, op)
        catch {
          case t: Throwable =>
            try fs.delete(txnWitness(appId, version), false)
            catch { case _: java.io.IOException => () }
            throw t
        }
        MedallionTable.testFailpoint("post-txn-append")
        // best-effort: the data is applied, so a failed high-water write
        // must NOT bubble out of the claimed block — withClaimedCommit's
        // failure path would release the commit marker, destroying the
        // marker witness and turning the next retry into a duplicate
        // append. The durable witness above stands either way; on
        // success the now-redundant witness is retired to keep the
        // directory bounded by FAILED high-water writes only.
        try {
          writeMetaText(txnFile(appId),
            math.max(version, lastTxnVersion(appId).getOrElse(Long.MinValue))
              .toString)
          fs.delete(txnWitness(appId, version), false)
        } catch { case scala.util.control.NonFatal(_) => () }
      }
      true
    } catch { case _: TxnAlreadyApplied => false }
  }

  /** A soft delete is invisible to Delta-log readers (the sidecar is not
    * a Delta action and the file set does not change, so [[DeltaLogExport
    * .sync]] would report "already in sync" while external readers keep
    * serving the deleted rows — the GDPR-erasure failure mode). Mirrors
    * the rename/drop refusals: use the rewriting [[delete]] instead, or
    * OPTIMIZE first (the rewrite swaps the log away; re-sync restarts it
    * against the post-delete snapshot).
    */
  private def requireNoDeltaLogForDv(): Unit =
    require(!fs.exists(new Path(path, "_delta_log")),
      "delete-dv: table has a Delta-log export; external readers cannot " +
        "see the deletion-vector sidecar — use delete() (rewrite), or " +
        "OPTIMIZE then re-sync the export")

  /** DELETE as a deletion vector ([[DeletionVectors]]): records matching
    * rows' positions in the `_graft_meta/dv` sidecar instead of
    * rewriting files — O(matched) write cost, zero data files touched,
    * result-identical to [[delete]] (TRUE deletes; FALSE and NULL
    * survive). The positions are computed on the DV-APPLIED view, so
    * re-marking already-deleted rows is impossible by construction (and
    * duplicates would be inert anyway). Invalidate-then-mark ordering
    * matches the other in-place mutations: a manifest must never
    * describe rows a reader won't see.
    */
  /** Physical live view carrying `(__graft_dv_file, __graft_dv_pos)` —
    * the shared mark-computation base for [[deleteVectored]],
    * [[deleteVectoredKeys]] and [[updateVectored]]: base scan ∪ committed
    * update batches, position columns captured PER BRANCH (`_metadata`
    * does not survive a union), DV applied per branch. Rows already
    * amended by an earlier update batch are positioned by their batch
    * file, so marks over them hide the amended version — chains compose.
    */
  /** The LOGICAL schema from the stashed DDL alone — one tiny metadata
    * read, NO footer-resolution job. For footprint/predicate-analysis
    * work that runs BEFORE the writer lock on every scoped op, paying
    * `read`'s schema resolution there measurably taxed commit-heavy
    * workloads (within-epoch A/B: +13-15% on the DV/CDF bench queries).
    * Partition columns can neither rename nor widen (both refuse), so
    * the stash is authoritative for exactly the columns footprint
    * analysis needs; callers fall back to the full `read` when the
    * stash is absent (append-only legacy tables).
    */
  private def cheapLogicalSchema(): Option[org.apache.spark.sql.types.StructType] =
    try {
      val sf = new Path(path, "_graft_meta/schema.ddl")
      if (fs.exists(sf))
        Some(org.apache.spark.sql.types.StructType.fromDDL(readMetaText(sf)))
      else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Column names a predicate references, resolved against `schema` by a
    * LOCAL empty relation (analysis only — no files listed, no job).
    * None when analysis fails (stale stash naming: fall back to the
    * conservative global path).
    */
  private def predicateRefs(cond: Column,
      schema: org.apache.spark.sql.types.StructType): Option[Set[String]] =
    try Some(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      .select(cond.as("__graft_cond"))
      .queryExecution.analyzed.expressions
      .flatMap(_.references.map(_.name)).toSet)
    catch { case scala.util.control.NonFatal(_) => None }

  /** Physical-name base-dir scan that stays schema-resolvable when the
    * base holds NO data files — incremental clustering's steady state
    * (the data lives in batch dirs) and the legally-emptied table both
    * leave nothing to infer footers from, so the stashed DDL (mapped to
    * physical names) seeds an explicit schema instead.
    */
  private def basePhysicalScan(snap: TableSnapshot): DataFrame = {
    val sf = new Path(path, "_graft_meta/schema.ddl")
    if (snap.wide.isEmpty && !snap.hasData && fs.exists(sf)) {
      val cmap = ColumnMap.load(spark, path)
      spark.read.schema(org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructType
          .fromDDL(readMetaText(sf)).fields
          .map(f => f.copy(name = cmap.getOrElse(f.name, f.name)))))
        .parquet(path)
    } else mergedParquet(snap) // same WideCols-aware resolution, from
      // the snapshot (a DV op's base scan pays no footer job)
  }

  /** Reader with THIS table's resolved base physical schema declared —
    * for change-feed scans over groups of LIVE base files, where a
    * per-group `mergeSchema` re-resolution costs one footer job each.
    * The declared schema is exactly what mergeSchema over the base
    * resolves (live footers merged + partition columns as inferred), so
    * a SUBSET of base files reads identically: absent columns surface as
    * nulls, the same union semantics the feed's `unionByName` fold
    * already gives them. None for clones (their base-dir footer merge
    * covers only clone-LOCAL files, not the pointed-at source files a
    * feed group may mix in).
    */
  private[table] def basePhysicalReader()
      : Option[org.apache.spark.sql.DataFrameReader] = {
    val snap = TableSnapshot.of(this)
    if (snap.isClone) None
    else Some(spark.read.schema(basePhysicalScan(snap).schema))
  }

  /** The live rows in physical names plus the DV position columns the
    * vectored writers mark by (`__graft_dv_file` = relocation-stable file
    * key, `__graft_dv_pos` = row index), derived from the same keyed
    * union [[read]] builds.
    */
  private def dvLiveWithPos(): DataFrame = {
    import org.apache.spark.sql.functions.col
    val snap = TableSnapshot.of(this)
    // A clone's scanFiles carries BOTH the source's committed batch files
    // (cloneFrom folds them into the pointer manifest) AND this clone's
    // OWN committed batches (DvUpdates.dataFiles) — so the batch union
    // inside amendedKeyed must be skipped (batchesInBase), or every
    // amended row reads twice and the next update writes duplicate new
    // versions (ShallowCloneSpec "two vectored updates" regression).
    val keyed =
      if (snap.isClone)
        DvUpdates.amendedKeyed(spark, snap, Some(WideCols.reader(spark, path)
          .parquet(snap.scanFiles: _*)), batchesInBase = true).get
      else if (snap.hasData) liveKeyed(snap)
      else DvUpdates.amendedKeyed(spark, snap, Some(basePhysicalScan(snap))).get
    val data = keyed.columns.toSeq
      .filterNot(c => c == DvUpdates.FileCol || c == DvUpdates.PosCol)
    keyed.select(data.map(c => col(s"`$c`")) ++ Seq(
      DeletionVectors.fileKey(col(DvUpdates.FileCol)).as("__graft_dv_file"),
      col(DvUpdates.PosCol).as("__graft_dv_pos")): _*)
  }

  def deleteVectored(cond: Column): Unit =
    // vanished-files retry: the scan/listing can catch a concurrent
    // disjoint rewrite's dir-replacement gap (retryOnVanishedFiles)
    MedallionTable.retryOnVanishedFiles() { deleteVectoredOnce(cond) }

  private def deleteVectoredOnce(cond: Column): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    // Partition-only predicate → footprint-scoped lock: the matched
    // partitions plus `dv-stage` (the sidecar's shared Append staging —
    // two concurrent DV deletes would corrupt each other's
    // FileOutputCommitter `_temporary`, so DV deletes always serialize
    // with EACH OTHER), letting a disjoint OPTIMIZE … WHERE run
    // concurrently. Row-level predicates keep the global lock: their
    // scan and marks can touch any partition.
    // cheap pre-lock analysis (stash schema + local relation — no footer
    // job): the full `read` here taxed every DV delete ~13-15% on
    // commit-heavy workloads (within-epoch A/B, SCALING.md round 16)
    val cheapSchema =
      if (partitionColumns.isEmpty || !exists) None else cheapLogicalSchema()
    val footprint: Option[Set[String]] = cheapSchema.flatMap { schema =>
      predicateRefs(cond, schema) match {
        case Some(refs)
            if refs.nonEmpty && refs.subsetOf(partitionColumns.toSet) =>
          Some(matchingPartitionDirs(cond, schema)
            .map(d => "p:" + relativePartitionDir(d)).toSet + "dv-stage")
        case _ => None // row-level predicate, or stale stash: global
      }
    }
    withClaimedCommitScoped("delete-dv", footprint) { claimed =>
      requireNoDeltaLogForDv()
      // scoped path: the matched set must not have grown since the
      // footprint was declared (dir-creating writers are global and thus
      // excluded — asserted like compactWhere, never assumed), or the
      // marks could dangle under a concurrent disjoint rewrite
      footprint.foreach { declared =>
        val inside = matchingPartitionDirs(cond, cheapSchema.get)
          .map(d => "p:" + relativePartitionDir(d)).toSet
        require(inside.subsetOf(declared),
          s"DELETE (DV): partitions ${(inside -- declared).mkString(", ")} " +
            "appeared after the footprint was declared — aborting before " +
            "marks could dangle under a concurrent rewrite")
      }
      val dvPath = DeletionVectors.dir(path)
      val cdfOn = ChangeFeed.isEnabled(spark, path)
      val marksBefore = if (cdfOn) dvMarkFiles(dvPath) else Set.empty[String]
      // overlay applied so the predicate resolves against the SAME logical
      // schema delete() sees (unmaterialized ADDs evaluate as typed NULLs,
      // tombstoned columns are invisible) — the result-identical contract
      val live = SchemaOverlay.applied(spark, path, ColumnMap.toLogical(
        dvLiveWithPos(), ColumnMap.load(spark, path)))
      invalidateStats()
      live.filter(coalesce(cond, lit(false)))
        .select(org.apache.spark.sql.functions.col("__graft_dv_file").as("file"),
          org.apache.spark.sql.functions.col("__graft_dv_pos").as("pos"))
        .write.mode(SaveMode.Append).parquet(dvPath)
      // second invalidate AFTER the marks land: a refresh that started
      // mid-flight (stamp taken after our claim) could otherwise commit
      // a manifest built before the marks — see commitManifestSwap
      invalidateStats()
      // feed capture = the mark FILES this commit appended; the deleted
      // row images reconstruct by position at read (ChangeFeed scaladoc).
      // Non-fatal: the delete's data effect has landed — a capture failure
      // must not release the marker (the feed read fail-stops instead).
      // `claimed`, not commitVersion: a concurrent disjoint writer can
      // advance the counter while this body runs.
      if (cdfOn)
        try ChangeFeed.captureMarks(spark, path, claimed,
          "delete-dv", (dvMarkFiles(dvPath) -- marksBefore).toSeq)
        catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Top-level mark files of the DV sidecar (update_* batch-marks dirs
    * excluded) — the delete-dv change-feed capture unit.
    */
  private def dvMarkFiles(dvPath: String): Set[String] = {
    val d = new Path(dvPath)
    if (!fs.exists(d)) Set.empty
    else fs.listStatus(d).collect {
      case st if st.isFile && st.getPath.getName.endsWith(".parquet") =>
        st.getPath.getName
    }.toSet
  }

  /** [[deleteVectored]] keyed by a FRAME of victim keys instead of a
    * predicate: the mark job semi-joins the broadcast key set, so a
    * cascade of thousands of keys stays one distributed job — no driver
    * collect, no giant literal tree blowing codegen. Semantics ≡
    * `deleteVectored(keys-tuple IN keySet)`.
    */
  def deleteVectoredKeys(keys: DataFrame, keyCols: Seq[String]): Unit =
    withClaimedCommit("delete-dv") {
      import org.apache.spark.sql.functions.broadcast
      requireNoDeltaLogForDv()
      val dvPath = DeletionVectors.dir(path)
      val cdfOn = ChangeFeed.isEnabled(spark, path)
      val marksBefore = if (cdfOn) dvMarkFiles(dvPath) else Set.empty[String]
      val live = SchemaOverlay.applied(spark, path, ColumnMap.toLogical(
        dvLiveWithPos(), ColumnMap.load(spark, path)))
      invalidateStats()
      live.join(broadcast(keys.select(keyCols.map(
            org.apache.spark.sql.functions.col): _*).distinct()),
          keyCols, "left_semi")
        .select(org.apache.spark.sql.functions.col("__graft_dv_file").as("file"),
          org.apache.spark.sql.functions.col("__graft_dv_pos").as("pos"))
        .write.mode(SaveMode.Append).parquet(dvPath)
      invalidateStats() // post-write: see deleteVectored
      if (cdfOn)
        try ChangeFeed.captureMarks(spark, path, commitVersion,
          "delete-dv", (dvMarkFiles(dvPath) -- marksBefore).toSeq)
        catch { case scala.util.control.NonFatal(_) => () } // read fail-stops
    }

  /** Whether any deletion-vector soft state is live — delete marks in
    * the sidecar or committed UPDATE/MERGE batches. The `REORG … APPLY
    * (PURGE)` no-op guard: a clean table must not pay a rewrite.
    */
  def hasDvState: Boolean =
    DvUpdates.committedBatches(spark, path).nonEmpty ||
      (DeletionVectors.exists(spark, DeletionVectors.dir(path)) &&
        ShallowClone.listParquet(spark, DeletionVectors.dir(path)).nonEmpty)

  /** Compact the DV sidecar's FLAT delete-mark files: N small appends
    * (one per [[deleteVectored]] call) become ONE deduplicated file. Every
    * read lists and scans the whole sidecar, and the collect fast path
    * caps on its byte size — so between materializing rewrites, a
    * delete-heavy table accumulates exactly the small-file creep this
    * clears. Returns the number of mark files removed (0 = nothing to do).
    *
    * Crash-safe WITHOUT a commit window, by the sidecar's own semantics:
    * marks are idempotent hides and duplicates are harmless (anti-join),
    * so the combined file lands FIRST (rename from staging) and the old
    * files are deleted after — any crash between leaves a harmless
    * superset that the next compaction clears. Committed UPDATE/MERGE
    * marks (`update_<batch>/` subdirectories) are untouched: their
    * existence witnesses batch visibility ([[DvUpdates]]) and they are
    * dropped only by the materializing rewrite.
    */
  def compactDv(): Int = withClaimedCommit("dv-compact") {
    import org.apache.spark.sql.functions.col
    val old = DeletionVectors.flatMarkFiles(spark, path)
    if (old.size < 2) 0
    else {
      val staging = DeletionVectors.compactStagingDir(path)
      fs.delete(staging, true)
      spark.read.schema(DeletionVectors.MarkSchema)
        .parquet(old.map(_.toString): _*)
        .select(col("file"), col("pos")).distinct()
        .repartition(1)
        .write.mode(SaveMode.Overwrite).parquet(staging.toString)
      val part = ShallowClone.listParquet(spark, staging.toString)
      require(part.nonEmpty, s"dv-compact: staging produced no file ($staging)")
      val combined = new Path(DeletionVectors.dir(path),
        s"compacted_${java.util.UUID.randomUUID().toString.take(12)}.parquet")
      if (!fs.rename(new Path(part.head), combined))
        throw new java.io.IOException(
          s"dv-compact: rename failed: ${part.head} -> $combined")
      MedallionTable.testFailpoint("mid-dv-compact")
      // the originals are per-commit change-feed evidence: archive them
      // (tiny position lists) so delete feed ranges survive compaction
      if (ChangeFeed.isEnabled(spark, path))
        ChangeFeed.archiveMarkFiles(spark, path, old)
      else old.foreach(f => fs.delete(f, false))
      fs.delete(staging, true)
      old.size
    }
  }

  /** Compact the committed UPDATE/MERGE amendment batches: N batches —
    * each one read-union branch plus one marks directory on every read —
    * become ONE batch holding the current visible amended rows. Bounds
    * the read-plan width an update-heavy table accumulates between full
    * OPTIMIZE runs, the same way [[compactDv]] bounds the flat-mark file
    * count. Returns the number of batches folded (0 = nothing to do).
    *
    * Crash-safe via the SAME single-rename primitive as the writes it
    * compacts: the combined batch's marks directory carries (a) every old
    * batch's marks — they must survive the old directories' deletion —
    * plus (b) hide-all marks for every row of every old batch file. The
    * commit rename therefore flips the table from "old batches visible"
    * to "combined batch visible, old batch rows all hidden" in one
    * atomic step; the old directories are then pure dead weight, deleted
    * best-effort afterwards (a crash between leaves fully-hidden
    * directories that waste scan IO until the next compaction or rewrite
    * folds them away — never a correctness window). A crash BEFORE the
    * rename leaves an unwitnessed staged batch, which [[vacuum]] already
    * clears as a DvUpdates orphan.
    *
    * Refused on a column-mapped table (the batch files speak the physical
    * dialect; OPTIMIZE materializes the map and the batches together).
    */
  def compactDvBatches(): Int = withClaimedCommit("dv-batch-compact") {
    import org.apache.spark.sql.functions.col
    require(ColumnMap.load(spark, path).isEmpty,
      "dv-batch-compact: table has renamed columns (column map); run " +
        "OPTIMIZE to materialize the map and the batches together")
    val old = DvUpdates.committedBatches(spark, path)
    if (old.size < 2) 0
    else {
      val newBatch = java.util.UUID.randomUUID().toString.take(12)
      val newDataDir = DvUpdates.batchDataDir(path, newBatch)
      val marksStaging = DvUpdates.marksStagingDir(path, newBatch)
      // current VISIBLE amended rows: every batch branch, DV-applied
      // (None ⟺ no old batch holds any file — delete-only batches).
      // Clustered to few files: the fold inherits one shard per task per
      // branch (tiny files × many), and every read lists and plans the
      // batch's files — amendment volume between OPTIMIZE runs is the
      // bound, so one file per partition value (or a handful total) is
      // the right shape.
      DvUpdates.foldBatchesOpt(spark, path, None).foreach { combined =>
        val shaped =
          if (partitionColumns.nonEmpty)
            combined.repartition(partitionColumns.map(
              org.apache.spark.sql.functions.col): _*)
          else combined.coalesce(
            math.max(1, spark.sessionState.conf.numShufflePartitions / 8))
        val w = shaped.write.mode(SaveMode.Overwrite)
        (if (partitionColumns.nonEmpty) w.partitionBy(partitionColumns: _*)
         else w).parquet(newDataDir)
      }
      // marks: old batches' marks (replicated — their dirs are deleted
      // after commit) + hide-all for every old batch file's rows. Either
      // side can be empty (insert-only merges commit no marks; delete-only
      // merges commit no files) — the witness is the DIRECTORY.
      val oldMarkFiles = old.flatMap(b => ShallowClone.listParquet(
        spark, DvUpdates.marksDir(path, b).toString))
      val oldMarks =
        if (oldMarkFiles.isEmpty) None
        else Some(spark.read.schema(DeletionVectors.MarkSchema)
          .parquet(oldMarkFiles: _*)
          .select(col("file"), col("pos")))
      val hideAll = DvUpdates.committedScans(spark, TableSnapshot.of(this))
        .map { case (_, scan) =>
          scan.select(
            DeletionVectors.fileKey(col("_metadata.file_path")).as("file"),
            col("_metadata.row_index").as("pos"))
        }.reduceOption(_ unionByName _)
      (oldMarks.toSeq ++ hideAll.toSeq).reduceOption(_ unionByName _)
        // one file: marks are collect-cap-bounded, and every read lists
        // and scans the sidecar — 32 distinct() shards is pure creep
        .foreach(_.distinct().coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(marksStaging.toString))
      if (!fs.exists(marksStaging)) fs.mkdirs(marksStaging)
      fs.mkdirs(new Path(newDataDir))
      invalidateStats()
      MedallionTable.testFailpoint("pre-dv-batch-compact-commit")
      // COMMIT POINT — as updateVectored/mergeVectored
      if (!fs.rename(marksStaging, DvUpdates.marksDir(path, newBatch)))
        throw new java.io.IOException(
          s"dv-batch-compact commit rename failed: $marksStaging")
      MedallionTable.testFailpoint("post-dv-batch-compact-commit")
      // dead weight: marks are replicated, rows are hidden — any order
      old.foreach { b =>
        fs.delete(DvUpdates.marksDir(path, b), true)
        fs.delete(new Path(DvUpdates.batchDataDir(path, b)), true)
      }
      old.size
    }
  }

  /** `UPDATE SET … WHERE` via the deletion-vector extension
    * ([[DvUpdates]]): O(matched) instead of [[update]]'s O(table)
    * rewrite. Semantics are identical to [[update]] — simultaneous
    * assignment (every SET expression reads the OLD row), unknown SET
    * columns refused, NULL/FALSE predicate rows untouched — but the
    * table's data files are never rewritten: the matched rows' positions
    * are marked in the DV sidecar and their new versions land as a
    * staged batch, both made visible by ONE atomic directory rename (the
    * crash-window argument lives in the [[DvUpdates]] scaladoc;
    * `UpdateVectoredSpec` drives it with the commit failpoint). Updating
    * a partition column is allowed — the new version simply lands in its
    * new partition directory inside the batch. Same interop boundary as
    * [[deleteVectored]]: refused while a Delta-log export is live
    * (external readers cannot see the sidecar or the batch).
    */
  def updateVectored(cond: Column, set: Map[String, Column]): Unit =
    withClaimedCommit("update-dv") {
      import org.apache.spark.sql.functions.{coalesce, col, lit}
      requireNoDeltaLogForDv()
      refuseIdentitySet(set.keys, "UPDATE")
      val logical = read
      val byLower = logical.columns.map(c => c.toLowerCase -> c).toMap
      val resolved = set.map { case (k, v) =>
        byLower.getOrElse(k.toLowerCase, throw new IllegalArgumentException(
          s"update-dv: column '$k' not in table schema " +
            logical.columns.mkString("[", ",", "]"))) -> v
      }
      val batch = java.util.UUID.randomUUID().toString.take(12)
      val live = SchemaOverlay.applied(spark, path, ColumnMap.toLogical(
        dvLiveWithPos(), ColumnMap.load(spark, path)))
      val matched = live.filter(coalesce(cond, lit(false)))
      // ONE projection = simultaneous-assignment semantics, exactly as
      // update(); the position columns drop out of the projection
      val newRows = matched.select(logical.columns.toIndexedSeq.map(c =>
        resolved.get(c).map(_.as(c)).getOrElse(col(c))): _*)
      val batchDir = DvUpdates.batchDataDir(path, batch)
      val marksStaging = DvUpdates.marksStagingDir(path, batch)
      // stage 1: new row versions — table partition layout, CHECKs
      // enforced, physical names (batch files must speak the same schema
      // dialect as the base files so mergeSchema unions stay uniform)
      writeBatch(enforced(newRows), batch)
      // stage 2: marks for the matched rows' OLD positions
      matched.select(col("__graft_dv_file").as("file"),
          col("__graft_dv_pos").as("pos"))
        .write.mode(SaveMode.Overwrite).parquet(marksStaging.toString)
      // row-based emptiness (as mergeVectored): an empty frame's write
      // can still leave a zero-row part file, and committing it would
      // leave a permanent dead read-union branch per no-match update —
      // answered from the just-written footers driver-side (no Spark job)
      val batchHasRows = DvUpdates.anyRows(spark, batchDir)
      if (!batchHasRows) {
        // nothing matched: leave no witness, clear the invisible litter
        fs.delete(new Path(batchDir), true)
        fs.delete(marksStaging, true)
        if (ChangeFeed.isEnabled(spark, path))
          try ChangeFeed.captureEmpty(spark, path, commitVersion, "update-dv")
          catch { case scala.util.control.NonFatal(_) => () }
      } else {
        require(DvUpdates.anyRows(spark, marksStaging.toString),
          s"update-dv: staged batch has data but no marks ($marksStaging) — " +
            "aborting before the commit could duplicate rows")
        invalidateStats()
        fs.mkdirs(new Path(DeletionVectors.dir(path)))
        MedallionTable.testFailpoint("pre-update-dv-commit")
        // COMMIT POINT: one atomic rename flips both effects — the marks
        // hide the old versions AND witness the staged batch into reads
        if (!fs.rename(marksStaging, DvUpdates.marksDir(path, batch)))
          throw new java.io.IOException(
            s"update-dv commit rename failed: $marksStaging -> " +
              DvUpdates.marksDir(path, batch))
        // feed capture (post-commit; a crash in between fail-stops the
        // read): postimages = the batch files, preimages reconstruct
        // from the marks — keys empty ⟺ all postimages update_postimage
        if (ChangeFeed.isEnabled(spark, path))
          try ChangeFeed.captureBatch(spark, path, commitVersion, "update-dv",
            batch, ShallowClone.listParquet(spark, batchDir), Nil)
          catch { case scala.util.control.NonFatal(_) => () } // post-commit
      }
    }

  /** Delta-style `UPDATE SET ... WHERE`: every SET expression is
    * evaluated against the OLD row (simultaneous-assignment semantics —
    * `SET a = b, b = a` swaps), then the table is rewritten through the
    * backup swap.
    */
  def update(cond: Column, set: Map[String, Column]): Unit = {
    import org.apache.spark.sql.functions.{col, when}
    refuseIdentitySet(set.keys, "UPDATE")
    val df = read
    // Resolve SET keys case-insensitively (Spark's default resolution),
    // and FAIL on an unknown key — a typo'd column must not become a
    // silent no-op rewrite.
    val byLower = df.columns.map(c => c.toLowerCase -> c).toMap
    val resolved = set.map { case (k, v) =>
      byLower.getOrElse(k.toLowerCase, throw new IllegalArgumentException(
        s"update: column '$k' not in table schema ${df.columns.mkString("[", ",", "]")}")) -> v
    }
    // ONE projection: every SET expression reads the pre-update row by
    // construction (no staging columns, no reserved names). The frame is
    // re-read inside the by-name argument (post-fence listing); the
    // projection list comes from the pre-validated schema, which is
    // stable under the supported concurrency.
    rewriteVia({
      val d = read
      d.select(df.columns.map { c =>
        resolved.get(c).map(v => when(cond, v).otherwise(col(c)).as(c))
          .getOrElse(col(c))
      }: _*)
    }, op = "update")
  }

  // ---- time travel ------------------------------------------------------

  private def versionsDir = new Path(path, "_graft_meta/versions")

  def listVersions(): Seq[Int] =
    if (!fs.exists(versionsDir)) Nil
    else fs.listStatus(versionsDir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") => n.drop(1).toInt }.sorted.toSeq

  /** Read a retained snapshot (see `retainVersions`) — applying the
    * snapshot's own deletion vector if it carried one (archived under
    * `_graft_dv`; basename keying survives the relocation).
    */
  def readVersion(n: Int): DataFrame = {
    val vdir = new Path(versionsDir, s"v$n")
    // a snapshot taken while a type-widening overlay was live carries its
    // archived reader schema (mixed narrow/wide footers refuse to merge)
    val vreader = WideCols
      .readerSchemaFrom(spark, WideCols.archivedSchemaFile(vdir))
      .map(spark.read.schema)
      .getOrElse(spark.read.option("mergeSchema", "true"))
    val base =
      if (ShallowClone.isClone(spark, vdir.toString))
        vreader.parquet(ShallowClone.scanFiles(spark, vdir.toString): _*)
      else vreader.parquet(vdir.toString)
    SchemaOverlay.applyTo(
      ColumnMap.toLogical(
        DeletionVectors.applied(spark, base,
          DeletionVectors.archivedDir(vdir).toString, vdir.toString),
        ColumnMap.loadFrom(spark, ColumnMap.archivedFile(vdir))),
      SchemaOverlay.addsFrom(spark, SchemaOverlay.archivedAddFile(vdir)),
      SchemaOverlay.dropsFrom(spark, SchemaOverlay.archivedDropFile(vdir)))
  }

  /** Rewrite the live table back to snapshot `n` (itself versioned). */
  def restoreVersion(n: Int): Unit = rewriteVia(readVersion(n), op = s"restore-v$n")

  /** Change-data-feed between snapshot `n` and the live table: the row
    * changes (`_change_type` insert / update_preimage / update_postimage /
    * delete) that turn version `n` into the current state — Delta
    * `table_changes` semantics, computed as one full-outer diff join on
    * `keys` (see [[MergeOps.merge3ClauseCDC]]).
    */
  def changesSince(n: Int, keys: Seq[String]): DataFrame = {
    val old = readVersion(n)
    val cur = read
    MergeOps.merge3ClauseCDC(old, cur, keys,
      Some(MergeOps.anyColumnDiffers(old, cur, keys)))
  }

  /** [[changesSince]] in COMMIT-ORDINAL space (the numbering `history()` /
    * DESCRIBE HISTORY report — see [[stateAtOrdinal]]); the SQL CDC surface
    * uses this so "since version N" means the N a user just read from
    * history, not an internal snapshot id.
    */
  def changesSinceOrdinal(c: Long, keys: Seq[String]): DataFrame = {
    val old = stateAtOrdinal(c).getOrElse(throw new IllegalArgumentException(
      s"state at commit $c of $path is not retained " +
        s"(reconstructible commits: ${reconstructibleOrdinals.mkString(", ")})"))
    val cur = read
    MergeOps.merge3ClauseCDC(old, cur, keys,
      Some(MergeOps.anyColumnDiffers(old, cur, keys)))
  }

  // ---- change data feed (writer-captured; see ChangeFeed) ---------------

  /** Enable the writer-captured change data feed (Delta
    * `enableChangeDataFeed` parity): from this commit on, every write
    * leaves O(Δ) change METADATA that [[readChangeFeed]] turns into
    * per-commit change rows without snapshot diffs. Itself a commit
    * (`set-cdf`), like Delta's property-setting transaction.
    */
  def enableChangeDataFeed(): Unit =
    if (!ChangeFeed.isEnabled(spark, path))
      withClaimedCommit("set-cdf") {
        ChangeFeed.writeEnabled(spark, path, commitVersion)
      }

  def changeDataFeedEnabled: Boolean = ChangeFeed.isEnabled(spark, path)

  /** Explicit feed retention: expire all but the newest `keepCommits`
    * captured commits' manifests ([[ChangeFeed.expireBefore]] — reads
    * into the expired range refuse with the re-baseline hatch named;
    * reads past the watermark are untouched). The maintenance ops run
    * the age-horizon flavor automatically (`spark.graft.cdfRetentionMs`
    * on [[vacuum]]/[[autoCompact]]).
    */
  def expireChangeFeed(keepCommits: Int): Long =
    ChangeFeed.expire(this, keepCommits)

  /** Delta `table_changes(t, startVersion, endVersion)`: the row changes
    * committed by ordinals `[startVersion, endVersion]` (both inclusive,
    * commit-ordinal space — the numbering [[history]] reports), in the
    * current logical schema plus `_change_type` / `_commit_version` /
    * `_commit_timestamp`. Cost is O(changed rows) + O(touched files) —
    * never a table diff; refusal surface in the [[ChangeFeed]] scaladoc.
    */
  def readChangeFeed(startVersion: Long, endVersion: Long = -1L): DataFrame =
    ChangeFeed.read(this,
      startVersion, if (endVersion < 0) commitVersion else endVersion)

  /** Commit ordinals whose state can be read back (stamped snapshots plus
    * the live table).
    */
  def reconstructibleOrdinals: Seq[Long] =
    (snapshotOrdinals.values.toSeq ++ (if (exists) Seq(commitVersion) else Nil))
      .distinct.sorted

  /** Archive the pre-rewrite state as the next version: carry forward the
    * older snapshots it holds, strip its metadata, move its data files in,
    * and prune beyond `retainVersions`.
    */
  private def archiveBackup(backup: Path, atOrdinal: Long): Unit = {
    fs.mkdirs(versionsDir)
    val backupVersions = new Path(backup, "_graft_meta/versions")
    if (fs.exists(backupVersions))
      fs.listStatus(backupVersions).foreach { st =>
        fs.rename(st.getPath, new Path(versionsDir, st.getPath.getName))
      }
    // a deletion vector is part of the archived STATE (stripping it with
    // the metadata would resurrect its rows in time travel) — move it to
    // the snapshot-local sidecar readVersion applies
    val committedUpdateBatches = DvUpdates.committedBatches(spark, backup.toString)
    val backupDv = new Path(backup, "_graft_meta/dv")
    if (fs.exists(backupDv))
      fs.rename(backupDv, DeletionVectors.archivedDir(backup))
    // committed update-batch files are archived state too — their marks
    // just moved with the sidecar. Relocate them into the snapshot's own
    // partition layout, where the RELATIVE-TAIL-keyed marks keep finding
    // them (basenames are job-unique, so no collision with base files);
    // uncommitted (orphan) batches die with _graft_meta below.
    committedUpdateBatches.foreach { b =>
      val bd = new Path(DvUpdates.batchDataDir(backup.toString, b))
      ShallowClone.listParquet(spark, bd.toString).foreach { f =>
        val fp = new Path(f)
        val rel = fs.makeQualified(bd).toUri
          .relativize(fs.makeQualified(fp).toUri).getPath
        val dest = new Path(backup, rel)
        fs.mkdirs(dest.getParent)
        if (!fs.rename(fp, dest))
          throw new java.io.IOException(
            s"version archive failed: update batch file $fp -> $dest")
      }
    }
    val backupMap = new Path(backup, "_graft_meta/colmap.tsv")
    if (fs.exists(backupMap))
      fs.rename(backupMap, ColumnMap.archivedFile(backup))
    val backupClone = ShallowClone.file(backup.toString)
    if (fs.exists(backupClone))
      fs.rename(backupClone, ShallowClone.archivedFile(backup))
    SchemaOverlay.archive(spark, backup) // add/drop overlay = archived schema
    WideCols.archive(spark, backup) // widened types = archived reader schema
    fs.delete(new Path(backup, "_graft_meta"), true)
    val next = (listVersions() :+ 0).max + 1 // after carry-forward, so ids continue
    if (!fs.rename(backup, new Path(versionsDir, s"v$next")))
      throw new java.io.IOException(s"version archive failed: $backup -> v$next")
    // Stamp which COMMIT ORDINAL this snapshot's state belongs to: snapshot
    // ids advance only on rewrites while commit ordinals advance on every
    // write (appends included), so the two numberings diverge — the SQL
    // time-travel surface needs the mapping to stay consistent with
    // DESCRIBE HISTORY (review finding, round 10). Underscore-prefixed, so
    // parquet listing ignores it.
    writeMetaText(new Path(versionsDir, s"v$next/_graft_ordinal"),
      atOrdinal.toString)
    val vs = listVersions()
    vs.dropRight(retainVersions).foreach { old =>
      fs.delete(new Path(versionsDir, s"v$old"), true)
    }
  }

  /** snapshot id → the commit ordinal whose table state it archived
    * (pre-stamping snapshots are absent — they cannot be ordinal-resolved).
    */
  def snapshotOrdinals: Map[Int, Long] = listVersions().flatMap { v =>
    val p = new Path(versionsDir, s"v$v/_graft_ordinal")
    try {
      if (fs.exists(p)) Some(v -> readMetaText(p).trim.toLong) else None
    } catch { case _: java.io.IOException => None }
  }.toMap

  /** The table state as of COMMIT ORDINAL `c` (the numbering DESCRIBE
    * HISTORY reports): the live table for the newest commit, an archived
    * snapshot when one was stamped for `c`, None otherwise — the caller
    * refuses rather than guessing across the snapshot-id space.
    */
  def stateAtOrdinal(c: Long): Option[DataFrame] =
    if (exists && c == commitVersion) Some(read)
    else snapshotOrdinals.collectFirst { case (v, ord) if ord == c => readVersion(v) }

  /** OPTIMIZE-style maintenance: rewrite the table with `nFiles` output
    * files range-clustered on `clusterBy` (Z-order-lite: range partition +
    * in-file sort), so [[refreshStats]]-based skipping gets tight per-file
    * min/max ranges and small files are compacted away.
    */
  def compact(clusterBy: Seq[String] = Nil, nFiles: Int = 0): Unit = {
    val n = if (nFiles > 0) nFiles
      else math.max(1, spark.sessionState.conf.numShufflePartitions / 4)
    // read inside the by-name argument: post-fence listing (see rewriteVia)
    rewriteVia({
      val df = read
      if (clusterBy.nonEmpty) {
        val cols = clusterBy.map(org.apache.spark.sql.functions.col)
        df.repartitionByRange(n, cols: _*).sortWithinPartitions(cols: _*)
      } else df.coalesce(n)
    }, op = "optimize")
    // Clustering exists to enable skipping, and the rewrite just dropped
    // the manifest — rebuild it so OPTIMIZE leaves pruning armed, exactly
    // when the per-file ranges are at their tightest.
    refreshStats()
  }

  /** Z-order clustering: interleave the bit patterns of each cluster
    * column's quantile-bucket so files get tight min/max ranges on ALL
    * cluster columns at once (lexicographic range clustering only helps
    * the leading column). 8 bits per column, up to 4 columns.
    *
    * Bucketing derives 255 cut-points per column from `approxQuantile`
    * (a distributed sketch; the driver sees ≤255 doubles per column) and
    * maps each value to its bucket with a narrow codegen'd expression —
    * NO global sort anywhere: the earlier `ntile` formulation funneled the
    * whole table through one task per cluster column, a scale-killer for
    * the 100 TB maintenance path. Strings/binaries bucket on an
    * order-preserving 6-byte big-endian prefix (exact in a double), the
    * same truncation real Z-order implementations use.
    */
  def compactZOrder(clusterBy: Seq[String], nFiles: Int = 0): Unit = {
    require(clusterBy.nonEmpty && clusterBy.size <= 4, "1-4 z-order columns")
    // The whole construction — read, quantile sketch jobs, bucketing —
    // runs inside the by-name argument so it happens after the fence.
    rewriteVia(zShape(read, clusterBy, nFiles), op = "optimize-zorder")
    refreshStats() // same rationale as compact: leave pruning armed
  }

  /** The z-order shaping shared by [[compactZOrder]] (full rewrite) and
    * [[clusterIncremental]] (new-data-only maintenance): interleaved
    * quantile-bucket bits of the cluster columns, range-partitioned into
    * `nFiles` outputs with a row-hash tiebreak, sorted within partitions.
    */
  private def zShape(df: DataFrame, clusterBy: Seq[String],
      nFiles: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val n = if (nFiles > 0) nFiles
      else math.max(1, spark.sessionState.conf.numShufflePartitions / 4)
    val bits = 8
    def surrogate(c: String): Column = df.schema(c).dataType match {
      case _: NumericType | BooleanType => col(c).cast("double")
      case DateType => unix_date(col(c)).cast("double")
      case _: TimestampType | TimestampNTZType => unix_micros(col(c)).cast("double")
      case StringType | BinaryType =>
        // 6-byte zero-padded big-endian prefix: lexicographic byte order
        // == numeric order, and 48 bits are exactly representable in the
        // double that approxQuantile works over.
        expr(s"CAST(CONV(HEX(RPAD(CAST(`$c` AS BINARY), 6, X'00')), 16, 10) AS DOUBLE)")
      case other =>
        throw new IllegalArgumentException(s"cannot z-order column $c of type $other")
    }
    val withSurr = clusterBy.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      d.withColumn(s"__graft_zs_$i", surrogate(c))
    }
    val surrCols = clusterBy.indices.map(i => s"__graft_zs_$i").toArray
    val cuts = withSurr.stat.approxQuantile(
      surrCols, (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray, 0.001)
    // bucket id = number of cut-points strictly below the value (nulls →
    // bucket 0) — monotone in the column, computed row-local. Native
    // binary-search expression: the former 255-term when-chain was
    // nominally codegen'd but overflowed the generated method into
    // interpreted evaluation (~40 µs/row — 24 s just to bucket 600 k
    // rows × 2 columns at sf0.1).
    val bucketed = clusterBy.indices.foldLeft(withSurr) { case (d, i) =>
      d.withColumn(s"__graft_zb_$i",
        org.apache.spark.sql.GraftColumnBridge.column(
          graft.functions.QuantileBucket(
            org.apache.spark.sql.GraftColumnBridge.expression(
              col(s"__graft_zs_$i")),
            cuts(i).toSeq)))
    }
    // interleave: bit b of column i lands at position b*numCols + i
    val z = (0 until bits).flatMap { b =>
      clusterBy.indices.map { i =>
        shiftleft(
          shiftright(col(s"__graft_zb_$i"), b).bitwiseAND(lit(1L)),
          b * clusterBy.size + i)
      }
    }.reduce((a, b) => a.bitwiseOR(b))
    // Range-partition on (z, row-hash tiebreak): value-based cuts can
    // collapse to a handful of distinct z-values on low-cardinality or
    // heavily-skewed cluster columns, and z alone would then yield that
    // few output partitions (giant files). The deterministic tiebreak
    // splits equal-z runs across files while keeping z as the primary
    // clustering, restoring the balanced output the old rank-based
    // bucketing guaranteed. It hashes every HASHABLE column — just the
    // cluster columns would be exactly as low-cardinality as they are,
    // and MapType columns must be skipped (xxhash64 rejects maps).
    def hashSafe(dt: DataType): Boolean = dt match {
      case _: MapType => false
      case s: StructType => s.fields.forall(f => hashSafe(f.dataType))
      case a: ArrayType => hashSafe(a.elementType)
      case _ => true
    }
    val hashCols = df.schema.fields.filter(f => hashSafe(f.dataType)).map(f => col(f.name))
    val tiebreak = if (hashCols.nonEmpty) xxhash64(hashCols: _*) else lit(0L)
    bucketed.withColumn("__graft_z", z)
      .repartitionByRange(n, col("__graft_z"), tiebreak)
      .sortWithinPartitions(col("__graft_z"))
      .drop((clusterBy.indices.flatMap(i =>
        Seq(s"__graft_zb_$i", s"__graft_zs_$i")) :+ "__graft_z"): _*)
  }

  /** Incremental clustering maintenance (Delta liquid-clustering's cost
    * shape): z-cluster ONLY the data appended since the last pass into
    * the existing layout, so a 100 TB append stream never pays a
    * full-table re-sort for routine maintenance. Cost is O(new data) —
    * flat in table size (ClusterProbe, SCALING.md round 16).
    *
    * Mechanism — no registry, no bookkeeping: the BASE directory is, by
    * invariant, exactly the not-yet-clustered data. A pass reads the
    * live base rows (DV-applied, positioned), stages their z-sorted copy
    * as a committed [[DvUpdates]] batch — the SAME atomic marks-rename
    * commit the DV merge uses, so readers flip from old files to the
    * clustered batch in one rename — and then drops the fully-masked
    * base files (idempotent: a leftover reads as zero live rows and is
    * re-dropped next pass; a crash before the rename leaves the table
    * untouched). Appends keep landing in the base dir; each pass absorbs
    * them into another clustered batch. Content never changes, so the
    * commit is CDF-no-change like every OPTIMIZE.
    *
    * Read shape after N passes: base (new appends) ∪ N clustered batch
    * scans, each with tight per-file z-ranges in the stats manifest —
    * range reads prune to the same few files a full [[compactZOrder]]
    * yields (ClusterIncrementalSpec pins the parity). Batch-count creep
    * is bounded by the existing janitors: the next full OPTIMIZE /
    * [[compactZOrder]] materializes everything and re-seeds the layout.
    *
    * Returns the number of base files absorbed (0 = nothing to do).
    */
  def clusterIncremental(clusterBy: Seq[String], nFiles: Int = 0,
      refreshManifest: Boolean = true): Int = {
    require(clusterBy.nonEmpty && clusterBy.size <= 4, "1-4 cluster columns")
    val absorbed = MedallionTable.retryOnVanishedFiles() {
      clusterIncrementalOnce(clusterBy, nFiles)
    }
    // outside the claim, like compactWhere: the stamp-checked swap makes
    // a raced rebuild land absent (conservative), never stale
    if (absorbed > 0 && refreshManifest) refreshStats()
    absorbed
  }

  private def clusterIncrementalOnce(clusterBy: Seq[String],
      nFiles: Int): Int = withClaimedCommit("cluster-incremental") {
    import org.apache.spark.sql.functions.col
    requireNoDeltaLogForDv()
    require(!ShallowClone.isClone(spark, path),
      "cluster-incremental: table is a shallow clone — the data files " +
        "belong to the source; OPTIMIZE (compact) to materialize first")
    val baseFiles = dataFileSet()
    if (baseFiles.isEmpty) 0
    else {
      // positioned, DV-applied, BASE-ONLY live rows: amended/deleted rows
      // are masked and amended versions live in batch dirs, so the staged
      // batch holds exactly the live base content — nothing else
      def prep(df: DataFrame): DataFrame = df
        .withColumn("__graft_dv_file",
          DeletionVectors.fileKey(col("_metadata.file_path")))
        .withColumn("__graft_dv_pos", col("_metadata.row_index"))
      val baseLive = SchemaOverlay.applied(spark, path, ColumnMap.toLogical(
        DeletionVectors.applied(spark,
          prep(basePhysicalScan(TableSnapshot.of(this))),
          DeletionVectors.dir(path), path),
        ColumnMap.load(spark, path)))
      val j = baseLive.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (j.head(1).nonEmpty) {
          val batch = java.util.UUID.randomUUID().toString.take(12)
          val batchDir = DvUpdates.batchDataDir(path, batch)
          val marksStaging = DvUpdates.marksStagingDir(path, batch)
          // stage 1: the clustered copy — physical names, wide types,
          // table partition layout (rows unchanged: no CHECK re-run)
          val shaped = zShape(
            j.drop("__graft_dv_file", "__graft_dv_pos"), clusterBy, nFiles)
          val w = WideCols.canonicalize(ColumnMap.toPhysical(shaped,
            ColumnMap.load(spark, path)), WideCols.load(spark, path))
            .write.mode(SaveMode.Overwrite)
          (if (partitionColumns.nonEmpty) w.partitionBy(partitionColumns: _*)
           else w).parquet(batchDir)
          // stage 2: marks for every absorbed live row's old position
          j.select(col("__graft_dv_file").as("file"),
              col("__graft_dv_pos").as("pos"))
            .write.mode(SaveMode.Overwrite).parquet(marksStaging.toString)
          invalidateStats()
          fs.mkdirs(new Path(DeletionVectors.dir(path)))
          MedallionTable.testFailpoint("pre-cluster-commit")
          // COMMIT POINT: marks hide the base originals AND witness the
          // clustered batch into reads, atomically (DvUpdates contract)
          if (!fs.rename(marksStaging, DvUpdates.marksDir(path, batch)))
            throw new java.io.IOException(
              s"cluster-incremental commit rename failed: $marksStaging " +
                s"-> ${DvUpdates.marksDir(path, batch)}")
        }
        // absorbing every base file can empty the base dir — stash the
        // schema FIRST so the table keeps existing (the same contract as
        // delete()'s fast path; read()'s batch guard handles the rest).
        // The logical schema is already in hand on the positioned frame —
        // no second `read` construction needed
        stashSchema(org.apache.spark.sql.types.StructType(j.schema.fields
          .filterNot(f => f.name == "__graft_dv_file" ||
            f.name == "__graft_dv_pos")))
        // absorb: every base row is now masked (or was already) — drop
        // the files. Best-effort and idempotent: a leftover contributes
        // zero live rows and is re-dropped by the next pass; readers
        // racing the drop are covered by retryOnVanishedFiles, the same
        // exposure class as OPTIMIZE…WHERE's dir replacement.
        MedallionTable.testFailpoint("post-cluster-commit")
        baseFiles.foreach(f =>
          try fs.delete(new Path(f), false)
          catch { case _: java.io.IOException => () })
        invalidateStats()
        baseFiles.size
      } finally j.unpersist()
    }
  }

  /** VACUUM-style cleanup: remove sibling `__graft_tmp_*` / `__graft_old_*`
    * directories left by rewrites that crashed mid-swap. If the crash
    * happened BETWEEN the two swap renames, the live directory is gone and
    * the only committed copy lives in the backup — vacuum must RESTORE it,
    * never delete it. Safe under the documented single-writer assumption
    * (no rewrite in flight during maintenance). Returns directories removed.
    */
  /** Partition directories whose k=v tuple satisfies `cond`. Partition
    * tuples come from the DIRECTORY NAMES (the values Spark itself
    * wrote — reconstructing them from typed values would have to
    * replicate Spark's cast-to-string rendering exactly; listing
    * sidesteps that whole class of bug and opens no data file). The raw
    * path strings are cast back to the column types locally
    * (|partitions| rows — partition METADATA, not data) and the SAME
    * predicate picks the matches. Shared by [[delete]]'s metadata-only
    * fast path and [[compactWhere]].
    */
  private def matchingPartitionDirs(cond: Column,
      schema: org.apache.spark.sql.types.StructType,
      root: Path = null): Seq[String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.functions.{col, element_at, lit, when}
    val rootDir = Option(root).getOrElse(new Path(path))
    if (!fs.exists(rootDir)) return Nil
    def walk(base: Path, depth: Int): Seq[Path] =
      if (depth == 0) Seq(base)
      else fs.listStatus(base).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .flatMap(st => walk(st.getPath, depth - 1))
    val dirs = walk(rootDir, partitionColumns.size)
    if (dirs.isEmpty) return Nil
    val spark2 = spark
    import spark2.implicits._
    val rootUri = fs.makeQualified(rootDir).toUri
    val parsed = dirs.map { d =>
      val rel = rootUri.relativize(fs.makeQualified(d).toUri).getPath
      val values = rel.split('/').filter(_.nonEmpty).toSeq.map { seg =>
        ExternalCatalogUtils.unescapePathName(seg.substring(seg.indexOf('=') + 1))
      }
      (d.toString, values)
    }
    val typed = partitionColumns.zipWithIndex.foldLeft(
      parsed.toDF("__graft_dir", "__graft_vals")) { case (df, (c, i)) =>
      val raw = element_at(col("__graft_vals"), i + 1)
      df.withColumn(c,
        when(raw === ExternalCatalogUtils.DEFAULT_PARTITION_NAME, lit(null))
          .otherwise(raw).cast(schema(c).dataType))
    }
    typed.filter(cond).select("__graft_dir").collect()
      .map(_.getString(0)).toSeq
  }

  /** Delta's `OPTIMIZE t WHERE <partition predicate>` — compaction scoped
    * to the matching partition directories via dynamic partition
    * overwrite; every other partition's files stay untouched on disk
    * (byte-identical, spec-asserted). The predicate must reference
    * partition columns ONLY: a row-level predicate under a partition
    * overwrite would silently drop a touched partition's non-matching
    * rows — refused up front, never guessed. This is the maintenance
    * primitive that matters at 100 TB: compact yesterday's hot partition
    * without rewriting (or even scanning) the cold ones. Claim-first
    * concurrency like [[mergePruned]] (per-partition commit is this
    * path's documented weaker atomicity vs [[compact]]'s full-table
    * swap). Compaction never changes CONTENT, so retained-version reads
    * and CDC diffs are unaffected regardless of `retainVersions`.
    *
    * The trailing [[refreshStats]] keeps file skipping armed (the
    * overwrite invalidated the manifest); that rebuild is the one
    * O(table) step and can be deferred by passing
    * `refreshManifest = false` when a later `ANALYZE TABLE` will run.
    */
  def compactWhere(cond: Column, nFiles: Int = 0,
      refreshManifest: Boolean = true): Unit = {
    require(partitionColumns.nonEmpty,
      "OPTIMIZE ... WHERE needs a partitioned table; use compact() instead")
    // vanished-files retry: the read/listing phases here walk the whole
    // table and can catch a concurrent DISJOINT rewrite's dir-replacement
    // gap (see MedallionTable.retryOnVanishedFiles)
    MedallionTable.retryOnVanishedFiles() { compactWhereOnce(cond, nFiles) }
    if (refreshManifest) refreshStats()
  }

  private def compactWhereOnce(cond: Column, nFiles: Int): Unit = {
    val df = read
    val schema = df.schema
    val refs = df.select(cond.as("__graft_cond"))
      .queryExecution.analyzed.expressions
      .flatMap(_.references.map(_.name)).toSet
    require(refs.nonEmpty && refs.subsetOf(partitionColumns.toSet),
      "OPTIMIZE ... WHERE predicate may reference partition columns only (" +
        s"${partitionColumns.mkString(", ")}); got: ${refs.mkString(", ")}")
    // Footprint declared from a PRE-lock listing: it only arbitrates
    // concurrency; the authoritative matched set is re-listed inside
    // the claim. The relist ⊆ declared invariant holds because every
    // writer able to CREATE a matching partition directory (append,
    // overwrite, rewrite) carries the global footprint and is excluded
    // while our scoped lock stands — asserted anyway, never assumed.
    val declared = matchingPartitionDirs(cond, schema)
      .map(d => "p:" + relativePartitionDir(d)).toSet
    withClaimedCommitScoped("optimize-where", Some(declared)) { _ =>
      // listing inside the claim: the matched set must reflect the
      // claimed ordinal's directory state
      val dirs = matchingPartitionDirs(cond, schema)
      val inside = dirs.map(d => "p:" + relativePartitionDir(d)).toSet
      require(inside.subsetOf(declared),
        s"OPTIMIZE ... WHERE: partitions ${(inside -- declared).mkString(", ")} " +
          "appeared after the footprint was declared (concurrent " +
          "dir-creating writer leaked past the lock protocol) — aborting " +
          "before an undeclared partition could be overwritten")
      if (dirs.nonEmpty) {
        val n = if (nFiles > 0) nFiles else dirs.size
        // hash-distribute on the partition tuple with one slot per
        // touched partition → ~one output file per partition, no global
        // sort; the filter on partition columns prunes the scan to the
        // matched directories (Catalyst partition pruning).
        // BASE-ONLY scan (DV applied, update batches excluded): the
        // batches' amended rows stay live in their own directories —
        // compacting them into the base here would need a
        // delete-after-overwrite whose crash window double-counts; the
        // batch files are cleared atomically by the next full rewrite.
        val shaped = readBase().filter(cond).repartition(n,
          partitionColumns.map(org.apache.spark.sql.functions.col): _*)
        ColumnMap.toPhysical(shaped, ColumnMap.load(spark, path)).write
          .mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partitionColumns: _*)
          .parquet(path)
        invalidateStats()
      }
    }
  }

  /** A partition directory path relative to the table root (the escaped
    * on-disk spelling, e.g. `blk=3` or `a=1/b=x`) — the canonical
    * footprint-resource form shared by every scoped writer, so two
    * writers naming the same partition always collide on the same
    * string.
    */
  private def relativePartitionDir(dir: String): String =
    fs.makeQualified(new Path(path)).toUri
      .relativize(fs.makeQualified(new Path(dir)).toUri).getPath
      .stripSuffix("/")

  /** Typed predicate selecting exactly the given partition directories —
    * the inverse of [[matchingPartitionDirs]], built with the same
    * directory-name casting discipline (so the round trip is exact for
    * every stats-worthy partition type, nulls included).
    */
  private def dirsPredicate(dirs: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Column = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.functions.{col, lit}
    val rootUri = fs.makeQualified(new Path(path)).toUri
    dirs.map { d =>
      val rel = rootUri.relativize(
        fs.makeQualified(new Path(d)).toUri).getPath
      val values = rel.split('/').filter(_.nonEmpty).toSeq.map { seg =>
        ExternalCatalogUtils.unescapePathName(seg.substring(seg.indexOf('=') + 1))
      }
      partitionColumns.zip(values).map { case (c, raw) =>
        if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) col(c).isNull
        else col(c) === lit(raw).cast(schema(c).dataType)
      }.reduce(_ && _)
    }.reduceOption(_ || _).getOrElse(lit(false))
  }

  /** Delta auto-compaction analog: find the partitions (or the whole
    * unpartitioned table) whose LIVE parquet file count exceeds
    * `maxFiles` and compact just those — the small-files janitor a
    * high-frequency append workload needs, built on [[compactWhere]] so
    * below-threshold partitions are untouched on disk. The victim scan
    * is a pure directory listing (no data file opened); returns the
    * number of partitions compacted (1 for a whole-table compact).
    * Run it after a burst of small appends, or on a maintenance cadence.
    */
  def autoCompact(maxFiles: Int = 8): Int = {
    require(maxFiles >= 1, "autoCompact needs maxFiles >= 1")
    def nParquetUnder(d: Path): Int = {
      // live files only: a crashed job's _temporary staging (or any
      // hidden segment) must not count toward the threshold — same
      // discipline as dataFileSet/hasDataFiles
      var n = 0
      walkFiles(d, hiddenName) { st =>
        if (st.getPath.getName.endsWith(".parquet") &&
            !hiddenName(st.getPath.getName)) n += 1
        true
      }
      n
    }
    if (!exists) 0
    else {
      // delete-heavy tables creep in the SIDECAR too: many small flat
      // mark files, each listed and scanned by every read — same
      // janitor, same threshold (update_<batch> witnesses excluded).
      // Update/merge-heavy tables creep in BATCH COUNT (one read-union
      // branch each): fold those too, except on column-mapped tables
      // (compactDvBatches' documented refusal — OPTIMIZE owns that case).
      val dvCompacted =
        (if (DeletionVectors.flatMarkFiles(spark, path).size > maxFiles) {
          compactDv(); 1
        } else 0) +
        (if (DvUpdates.committedBatches(spark, path).size > maxFiles &&
            ColumnMap.load(spark, path).isEmpty) {
          compactDvBatches(); 1
        } else 0)
      expireFeedByConf()
      dvCompacted + (if (partitionColumns.isEmpty) {
        val live = dataFileSet().size
        if (live > maxFiles) { compact(); 1 } else 0
      } else {
        val schema = read.schema
        // every partition dir, via the always-true predicate
        import org.apache.spark.sql.functions.lit
        val victims = matchingPartitionDirs(lit(true), schema)
          .filter(d => nParquetUnder(new Path(d)) > maxFiles)
        if (victims.isEmpty) 0
        else {
          compactWhere(dirsPredicate(victims, schema))
          victims.size
        }
      })
    }
  }

  /** `VACUUM ... DRY RUN`: what [[vacuum]] WOULD do, touching nothing —
    * neither litter, nor the crashed-writer lock/intent files, nor the
    * mid-swap restore. Rows are (path, action): `delete` for rewrite
    * litter, `restore` for the backup a real vacuum would rename back
    * over a mid-swap husk, `defer` for rewrite litter vacuum stands down
    * from while a young intent/lock says a live rewriter may own the
    * absent-dir swap window, `refuse` for tmp litter that might be the
    * only copy of the data.
    */
  /** Rewrite litter beside the table dir (tmp + backup siblings) —
    * shared by [[vacuum]] and [[vacuumDryRun]] so the dry run can never
    * desynchronize from what vacuum actually touches.
    */
  private def rewriteLitter(): Seq[Path] = {
    val dst = fs.makeQualified(new Path(path))
    val parent = dst.getParent
    if (parent == null || !fs.exists(parent)) return Nil
    val name = dst.getName
    fs.listStatus(parent).map(_.getPath).filter { p =>
      val n = p.getName
      n != name && (n.startsWith(s"${name}__graft_tmp_") ||
        n.startsWith(s"${name}__graft_old_"))
    }.toSeq
  }

  /** Newest-backup pick for the mid-swap restore. Two crashed rewrites
    * can leave two backups; an arbitrary pick could resurrect a stale
    * state and then delete the latest committed copy as litter. Prefer
    * the monotonic ordinal embedded in the name at rename time; fall
    * back to mtime for legacy hash-only names (mtime granularity can be
    * 1 s). Ordinal-bearing names are `<millis>_<hash>`; legacy names are
    * a bare hash. Requiring the separator keeps an all-digit legacy hex
    * hash (e.g. "12345678") from being misread as an ordinal.
    */
  private def newestBackup(backups: Seq[Path]): Path = {
    val name = fs.makeQualified(new Path(path)).getName
    def ordinal(p: Path): Long = {
      val rest = p.getName.stripPrefix(s"${name}__graft_old_")
      val digits = rest.takeWhile(_.isDigit)
      if (digits.nonEmpty && rest.lift(digits.length).contains('_'))
        digits.toLong
      else -1L
    }
    backups.maxBy(p => (ordinal(p), fs.getFileStatus(p).getModificationTime))
  }

  private def isBackup(p: Path): Boolean = {
    val name = fs.makeQualified(new Path(path)).getName
    p.getName.startsWith(s"${name}__graft_old_")
  }

  /** Crash litter of an interrupted [[compactDv]] — the staging dir only:
    * a compacted file that landed is REAL marks (kept), and not-yet-
    * deleted old flat files are a harmless superset (the next compaction
    * clears them).
    */
  private def dvCompactLitter(): Seq[Path] = {
    val st = DeletionVectors.compactStagingDir(path)
    if (fs.exists(st)) Seq(st) else Nil
  }

  def vacuumDryRun(): Seq[(String, String)] = {
    val litter = rewriteLitter() ++ DvUpdates.orphans(spark, path) ++
      dvCompactLitter()
    if (litter.isEmpty) return Nil
    val backups = litter.filter(isBackup)
    if (exists) {
      // mirror vacuum's live-table age guard: young __graft_tmp_ dirs
      // (possibly a LIVE rewrite's in-progress product) are skipped, so
      // the dry run must not promise their deletion
      val reap = vacuumReaper()
      litter.filter(p => !isRewriteTmp(p) || reap(p))
        .map(p => (p.toString, "delete")).sortBy(_._1)
    }
    else if (liveRewritePossible(vacuumReaper())) {
      // absent dir + young intent/lock: possibly a LIVE rewrite's swap
      // window — a real vacuum stands down from restore and rewrite
      // litter alike; witness-checked DV orphans it still deletes
      val (rw, dv) = litter.partition(p => isBackup(p) || isRewriteTmp(p))
      (rw.map(p => (p.toString, "defer")) ++
        dv.map(p => (p.toString, "delete"))).sortBy(_._1)
    }
    else if (backups.nonEmpty) {
      // a real vacuum would restore the newest backup, delete the rest
      val restore = newestBackup(backups)
      (litter.filterNot(_ == restore).map(p => (p.toString, "delete")) :+
        ((restore.toString, "restore"))).sortBy(_._1)
    } else
      // tmp litter but no live data and no backup: vacuum REFUSES here
      // (the litter might be the only copy) — the dry run must say so,
      // not promise a delete that would throw
      litter.map(p => (p.toString, "refuse")).sortBy(_._1)
  }

  private def isRewriteTmp(p: Path): Boolean = {
    val name = fs.makeQualified(new Path(path)).getName
    p.getName.startsWith(s"${name}__graft_tmp_")
  }

  /** The retention-horizon predicate for [[vacuum]]'s writer-artifact
    * reaping (locks, intents, append/stats stagings, live-table rewrite
    * tmp dirs): none of these PROVE a crash — stage-then-publish appends
    * hold no lock during their data job, and a rewrite's tmp dir exists
    * for the whole rewrite — so a janitor vacuum racing live writers
    * must only reap artifacts older than
    * `spark.graft.vacuumStagingRetentionMs` (default
    * [[MedallionTable.VacuumStagingRetentionMs]]).
    * `spark.graft.vacuumAssumeNoWriters=true` restores the unconditional
    * reap for operator-driven crash recovery (the shape every
    * "run vacuum()" error message points at). A path that vanishes under
    * the mtime probe belongs to a writer that just released it —
    * exactly the case to skip.
    */
  private def vacuumReaper(): Path => Boolean = {
    val assumeNoWriters = spark.conf
      .getOption("spark.graft.vacuumAssumeNoWriters").exists(_.toBoolean)
    val horizon = spark.conf
      .getOption("spark.graft.vacuumStagingRetentionMs")
      .flatMap(_.toLongOption)
      .getOrElse(MedallionTable.VacuumStagingRetentionMs)
    val cutoff = System.currentTimeMillis() - horizon
    p => assumeNoWriters ||
      (try fs.getFileStatus(p).getModificationTime <= cutoff
       catch { case _: java.io.IOException => false })
  }

  /** A LIVE rewrite's two-rename swap (`dst→backup`, `tmp→dst`) leaves
    * the table dir ABSENT for an instant — indistinguishable from a
    * mid-swap crash by directory shape alone. The swap runs under a
    * published rewrite intent, and claim-first writers hold lock files,
    * so a standing intent/lock YOUNGER than the retention horizon means
    * a live (or recently-crashed) rewriter may still own the window:
    * [[vacuum]]'s restore must stand down, or a healthy rewrite's second
    * rename fails against the restored backup (fail-stop, but a spurious
    * failure a 1 Hz janitor would inject routinely). An artifact older
    * than the horizon — or `spark.graft.vacuumAssumeNoWriters=true` —
    * proves the crash and re-arms the restore.
    */
  private def liveRewritePossible(reapable: Path => Boolean): Boolean =
    (fs.exists(intentFile) && !reapable(intentFile)) ||
      (fs.exists(writeLock) && !reapable(writeLock)) ||
      scopedLockFiles().exists(p => !reapable(p))

  def vacuum(): Int = {
    val dst = fs.makeQualified(new Path(path))
    if (rewriteLitter().isEmpty && !fs.exists(commitsDir)) return 0
    def litter() = rewriteLitter()
    val reapable = vacuumReaper()
    // stand down from the restore AND from rewrite litter while a live
    // rewriter may own the absent-dir window — see liveRewritePossible
    val standDown = !exists && liveRewritePossible(reapable)
    val recovered = !exists && !standDown
    if (recovered) {
      // mid-swap crash: restore the backup (pre-rewrite committed state);
      // the interrupted rewrite re-runs idempotently later
      val backups = litter().filter(isBackup)
      if (backups.nonEmpty) {
        val newest = newestBackup(backups)
        fs.delete(dst, true) // drop a marker-only husk if present
        if (!fs.rename(newest, dst))
          throw new java.io.IOException(
            s"vacuum: restore failed: $newest -> $dst")
      } else if (litter().nonEmpty)
        // only tmp dirs but no live table and no backup: unknown state —
        // refuse to destroy what might be the only data
        throw new IllegalStateException(
          s"vacuum: $path has no live data and no backup; refusing to " +
            s"delete ${litter().map(_.getName).mkString(", ")}")
    }
    // __graft_tmp_ siblings of a LIVE table may belong to a LIVE rewrite
    // mid-data-job (it holds the writer lock, but vacuum must not have
    // to trust that) — age-guarded like every other writer artifact.
    // After a RESTORE (the !exists branch above ran) the tmp is provably
    // the crashed swap's: reap it regardless of age, as before.
    // Backups (__graft_old_) with a live table are a completed-swap's
    // pending delete; DV orphans/compact staging are witness-checked
    // (provably uncommitted) — all unconditional.
    val toDelete = (if (standDown) Nil
      else litter()
        .filter(p => recovered || !isRewriteTmp(p) || reapable(p))) ++
      // a crashed updateVectored's invisible staging: batch dirs without
      // a committed marks witness, and marks stagings that never renamed
      DvUpdates.orphans(spark, path) ++ dvCompactLitter()
    toDelete.foreach(p => fs.delete(p, true))
    // Writer-coordination artifacts in the commits dir: locks, intents,
    // and private append/stats stagings. These are NOT provably crash
    // litter — stage-then-publish appends run their data job with NO
    // lock held, so a janitor vacuum (the cron deployment shape) racing
    // N live ingest processes would delete a LIVE writer's staging and
    // fail its publish mid-batch. Retention-horizon shape (Delta's) via
    // [[vacuumReaper]]; default 2 h — far past any healthy write's
    // lifetime, while a live writer's artifacts are minutes old.
    def reapFile(p: Path): Unit =
      if (reapable(p))
        try fs.delete(p, false) catch { case _: java.io.IOException => () }
    // a standing intent and the writer lock (both deliberately
    // unexpiring — they fail others fast until cleared, see
    // writeLock/intentFile)
    if (reapable(intentFile)) clearIntent()
    reapFile(writeLock)
    // crashed scoped writers' footprint locks (see acquireWriteLock)
    scopedLockFiles().foreach(reapFile)
    // a crashed refresh's stats lock and staging litter (commitManifestSwap),
    // plus a crashed staged append's private staging (appendStaged)
    reapFile(statsLockFile)
    if (fs.exists(commitsDir))
      fs.listStatus(commitsDir).map(_.getPath)
        .filter(p => p.getName.startsWith("stats_staging_") ||
          p.getName.startsWith("append_staging_"))
        .filter(reapable)
        .foreach(p => try fs.delete(p, true)
          catch { case _: java.io.IOException => () })
    // a crashed COPY INTO's serialization lock (see CopyInto.withCopyLock)
    reapFile(new Path(commitsDir, "copy.lock"))
    // a crashed compactor's journal try-lock (pauses upkeep, never reads)
    reapFile(new Path(commitsDir, "journal.lock"))
    // a crashed writer's identity-allocation lock (see withIdentityLock)
    reapFile(identityLockFile)
    expireFeedByConf()
    toDelete.length
  }

  /** Feed-manifest retention hook: expire change-feed capture manifests
    * older than `spark.graft.cdfRetentionMs` (default 30 days — Delta's
    * log-retention shape), bounding the feed sidecar without a dedicated
    * cron. Riding [[vacuum]] and [[autoCompact]] — the existing janitors.
    * Negative retention disables. NonFatal-guarded: retention must never
    * fail the maintenance op it rides on.
    */
  private def expireFeedByConf(): Unit =
    if (ChangeFeed.isEnabled(spark, path)) {
      val ms = spark.conf.getOption("spark.graft.cdfRetentionMs")
        .flatMap(_.toLongOption).getOrElse(30L * 24 * 3600 * 1000)
      if (ms >= 0)
        try ChangeFeed.expireOlderThan(this, ms)
        catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Delta's `CONVERT TO DELTA` analog: adopt an existing plain-parquet
    * directory as a graft table IN PLACE — metadata only, zero data bytes
    * moved or rewritten (the 100 TB adoption story: a petabyte lake
    * directory becomes a governed table in O(1) data work). Stamps commit
    * v1 (`convert`) so history/CDC have a baseline ordinal, stashes the
    * schema (an all-rows-deleted table stays readable), and optionally
    * builds the stats manifest so file skipping and metadata aggregates
    * are armed from the first query (`withStats = false` defers that one
    * O(table) scan to a later `ANALYZE TABLE`). Refused on a directory
    * that already has graft commit history — convert is a birth
    * certificate, not a repair tool.
    */
  def convertInPlace(withStats: Boolean = true): Unit = {
    require(exists, s"convert: no parquet data at $path")
    require(commitVersion == 0L,
      s"convert: $path already has graft commit history (v$commitVersion)")
    withClaimedCommit("convert") { stashSchema(read.schema) }
    if (withStats) refreshStats()
  }

  /** Build/refresh the file-level min/max manifest (see [[TableStats]]). */
  def refreshStats(columns: Seq[String] = Nil): Unit =
    // the rebuild's whole-table scan can catch a concurrent scoped
    // rewrite's dir-replacement gap; the stamp-checked commit swap makes
    // a re-run cheap and correct (see TableStats.refresh)
    MedallionTable.retryOnVanishedFiles() {
      TableStats.refresh(spark, path, columns)
    }

  /** Range read with manifest-based file skipping; result ≡
    * `read.filter(column between lower and upper)`.
    */
  def readRange(column: String, lower: Any, upper: Any): DataFrame =
    TableStats.readRange(spark, path, column, lower, upper)

  /** Partition-pruned merge for `partitionColumns ⊆ keys`: reads and
    * rewrites ONLY the hive partitions present in the source, via dynamic
    * partition overwrite. Untouched partition directories are never read or
    * written — the incremental path a 100 TB table needs.
    *
    * Semantics note (documented divergence): the not-matched-by-source
    * delete clause applies *within touched partitions only*; rows living in
    * partitions the source doesn't mention are kept. That is the standard
    * incremental-batch contract (the reference's batches always carry their
    * own `data_block_id`s).
    *
    * Failure atomicity (documented, weaker than [[merge]]'s swap): dynamic
    * partition overwrite commits per partition directory via the Hadoop
    * committer — a crash mid-commit can leave a touched partition replaced
    * while another is not. Untouched partitions are never at risk. Callers
    * needing the all-or-nothing guarantee at the cost of a full rewrite
    * should use [[merge]].
    */
  def mergePruned(
      source: DataFrame,
      keys: Seq[String],
      updateCondition: Option[(MergeOps.ColRef, MergeOps.ColRef) => Column] = None,
      deleteNotMatchedBySource: Boolean = true): Unit = {
    require(partitionColumns.nonEmpty && partitionColumns.forall(keys.contains),
      s"mergePruned requires partitionColumns (${partitionColumns.mkString(",")}) ⊆ keys")
    // Distinct partition tuples in the source: bounded by partition count,
    // safe to collect (this is partition *metadata*, not data).
    val touched: Array[Row] =
      source.select(partitionColumns.map(org.apache.spark.sql.functions.col): _*)
        .distinct().collect()
    // vanished-files retry: the pre-claim read/listing can catch a
    // concurrent DISJOINT writer's dir-replacement gap
    MedallionTable.retryOnVanishedFiles() {
      mergePrunedOnce(source, keys, updateCondition, deleteNotMatchedBySource,
        touched)
    }
  }

  /** A touched partition tuple rendered as a footprint resource string —
    * the spelling two CONCURRENT mergePruned calls agree on for a
    * partition that does not exist on disk yet (both rendering the same
    * values through the same function collide correctly; for EXISTING
    * dirs the authoritative dir-derived spelling is declared as well, so
    * cross-op conflicts with OPTIMIZE/DV-delete always match exactly).
    */
  private def renderedPartitionDir(row: Row): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    partitionColumns.zipWithIndex.map { case (c, i) =>
      val v = row.get(i)
      ExternalCatalogUtils.escapePathName(c) + "=" +
        (if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
         else ExternalCatalogUtils.escapePathName(v.toString))
    }.mkString("/")
  }

  private def mergePrunedOnce(
      source: DataFrame,
      keys: Seq[String],
      updateCondition: Option[(MergeOps.ColRef, MergeOps.ColRef) => Column],
      deleteNotMatchedBySource: Boolean,
      touched: Array[Row]): Unit = {
    val prunePred: Column = touched.map { row =>
      partitionColumns.zipWithIndex
        .map { case (c, i) => org.apache.spark.sql.functions.col(c) === org.apache.spark.sql.functions.lit(row.get(i)) }
        .reduce(_ && _)
    }.reduceOption(_ || _).getOrElse(org.apache.spark.sql.functions.lit(false))

    val schema = read.schema
    // Footprint-scoped concurrency (round 16): the touched partitions
    // are declared in BOTH spellings — the on-disk dir names for
    // existing partitions (exact match against OPTIMIZE…WHERE /
    // DV-delete footprints) and the value-rendered form that covers
    // partitions this merge CREATES (two merges inserting into the same
    // new partition render identically and serialize; a dir-creating
    // merge racing a scoped compaction is caught by the compaction's
    // relist ⊆ declared assertion). Disjoint daily-ingest merges — the
    // dominant multi-job pattern at 100 TB — now commit concurrently.
    // Widened tables add the shared physschema resource: two merges'
    // extendReaderSchema calls are read-modify-write on one file.
    val existingDirs =
      if (exists) matchingPartitionDirs(prunePred, schema)
        .map(relativePartitionDir).toSet
      else Set.empty[String]
    val footprint = (existingDirs ++ touched.map(renderedPartitionDir))
      .map("p:" + _) ++
      (if (WideCols.load(spark, path).nonEmpty) Set("physschema")
       else Set.empty[String])
    // Dynamic partition overwrite replaces exactly the partitions present in
    // `merged`; all other partition directories are untouched on disk.
    // CHECK constraints gate this path too — it is createOrMerge's (and so
    // the pipeline's) canonical upsert route. Claim-first concurrency like
    // append (no staged state to CAS; per-partition commit is the
    // documented weaker atomicity of this path).
    withClaimedCommitScoped("merge-pruned", Some(footprint)) { _ =>
      // the matched set must not have grown since the footprint was
      // declared (dir creators are global or footprint-colliding —
      // asserted, never assumed, like compactWhere)
      val inside = matchingPartitionDirs(prunePred, schema)
        .map(d => "p:" + relativePartitionDir(d)).toSet
      require(inside.subsetOf(footprint),
        s"mergePruned: partitions ${(inside -- footprint).mkString(", ")} " +
          "appeared after the footprint was declared — aborting before an " +
          "undeclared partition could be overwritten")
      // scan + merge constructed UNDER the lock: the file listing must
      // reflect the locked state — a pre-lock listing is stale whenever
      // this merge waited out a same-footprint predecessor, and merging
      // against it would dynamic-overwrite the predecessor's rows away
      // (latent under the old global lock too; surfaced by the
      // same-new-partition concurrency spec)
      val prunedTarget = read.filter(prunePred) // partition-pruned scan
      val merged = MergeOps.merge3Clause(prunedTarget, source, keys,
        updateCondition, deleteNotMatchedBySource)
      // Touched partitions carrying live DV-update amendments would need
      // a delete-after-overwrite here (the merged frame reads the
      // amended rows, so their batch files must go once the overwrite
      // lands) whose crash window double-counts — refused under the
      // writer lock (no update can commit concurrently), with the atomic
      // escape hatch named. Untouched partitions' amendments are fine.
      DvUpdates.committedBatches(spark, path).foreach { b =>
        require(matchingPartitionDirs(prunePred, prunedTarget.schema,
            new Path(DvUpdates.batchDataDir(path, b))).isEmpty,
          "mergePruned: touched partitions have live DV-update amendments " +
            s"(batch $b) — OPTIMIZE (compact) to materialize them first")
      }
      // canonicalize: this claim-first path writes into the LIVE dir, so
      // a widened column must land wide (the merged frame usually is —
      // it reads through the overlay — but source-provided inserts can
      // still carry the narrow spelling)
      val prunedBatch = WideCols.canonicalize(
        ColumnMap.toPhysical(enforced(merged), ColumnMap.load(spark, path)),
        WideCols.load(spark, path))
      WideCols.extendReaderSchema(spark, path, prunedBatch.schema)
      prunedBatch.write
        .mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionColumns: _*)
        .parquet(path)
      invalidateStats()
    }
  }

  /** The reference's canonical upsert entry (`silver_table_creation.py:43-66`):
    * create on first run, 3-clause merge with the dynamic any-column-differs
    * update condition on re-runs. Routes to the partition-pruned path when
    * the layout allows it.
    */
  def createOrMerge(source: DataFrame, keys: Seq[String]): Unit =
    if (!exists) createOrError(source)
    else {
      val cond = Some(MergeOps.anyColumnDiffers(read, source, keys))
      if (partitionColumns.nonEmpty && partitionColumns.forall(keys.contains))
        mergePruned(source, keys, cond)
      else merge(source, keys, cond)
    }
}

object MedallionTable {
  def apply(spark: SparkSession, path: String, partitionColumns: Seq[String] = Nil,
      retainVersions: Int = 0): MedallionTable =
    new MedallionTable(spark, path, partitionColumns, retainVersions)

  /** Commit markers (and so [[MedallionTable.history]] depth) retained per
    * table — bounds the sibling directory's size on long-lived tables.
    */
  val HistoryDepth = 8

  /** Bounded retry for FILE-VANISHED races: a concurrent scoped rewrite
    * commits by replacing partition-directory contents (dynamic
    * partition overwrite has a delete→rename gap), so another writer's
    * LISTING or scan phase — which walks the whole table even when its
    * own footprint is disjoint — can catch a directory or file
    * mid-replacement. The listing race is millisecond-scale and the
    * caught operation has no partial effects (failed jobs clean their
    * staging; claimed markers are released on body failure), so a short
    * re-run from scratch is the correct recovery — the fs-listing
    * engine's stand-in for the log-defined snapshot a Delta reader lists
    * from. Only vanished-file shapes retry; everything else rethrows.
    */
  private[table] def retryOnVanishedFiles[T](attempts: Int = 4)(f: => T): T = {
    def vanished(t: Throwable, depth: Int = 0): Boolean =
      t != null && depth < 10 && (t.isInstanceOf[java.io.FileNotFoundException] ||
        (t.getMessage != null &&
          (t.getMessage.contains("FAILED_READ_FILE") ||
            t.getMessage.contains("does not exist") ||
            // RawLocalFileSystem loads permissions via `ls` — a file
            // vanishing under it surfaces as an ExitCodeException
            t.getMessage.contains("No such file or directory"))) ||
        vanished(t.getCause, depth + 1))
    var i = 0
    while (true) {
      try return f
      catch {
        case scala.util.control.NonFatal(t)
            if i < attempts - 1 && vanished(t) =>
          i += 1; Thread.sleep(50L * i)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Journal-dir file count beyond which [[MedallionTable.compactJournal]]
    * folds per-ordinal journal files into one `journal.tsv` — bounds the
    * sibling directory at HistoryDepth live markers + this many journal
    * files + one tsv, while keeping the common case (few pruned commits)
    * free of read-modify-write cycles. private[graft] var so specs can
    * force compaction with few commits.
    */
  private[graft] var JournalCompactThreshold = 64

  /** The row-tracking column ([[MedallionTable.enableRowTracking]]). */
  val RowIdCol = "_row_id"

  /** Bounded wait budget for writer coordination: how long a claim-first
    * writer waits on a standing rewrite intent OR on another writer's
    * lock before failing with a conflict. Healthy holders release in
    * milliseconds (intent) or one data job (lock), so the budget exists
    * for crashed holders — whose leftovers vacuum() clears — and for
    * long-running writes under contention (retryable). private[graft]
    * var so specs can shrink it when they deliberately hold a window
    * open.
    */
  private[graft] var WriterWaitMs = 30000L

  /** Default retention horizon for [[MedallionTable.vacuum]]'s
    * writer-coordination cleanup (locks, intents, append/stats staging):
    * artifacts YOUNGER than this are presumed to belong to a live writer
    * and skipped — stage-then-publish appends hold no lock during their
    * data job, so "a staging dir exists" never proves a crash. 2 hours:
    * orders of magnitude past a healthy write, small against the
    * multi-day retention vacuums typically run with. Override with
    * `spark.graft.vacuumStagingRetentionMs`;
    * `spark.graft.vacuumAssumeNoWriters=true` restores the unconditional
    * reap for operator-driven crash recovery.
    */
  private[graft] val VacuumStagingRetentionMs = 2L * 3600 * 1000

  /** Shared remediation clause for lock/intent-held conflict messages.
    * A DEFAULT vacuum only reaps coordination artifacts older than the
    * staging retention — telling an operator "vacuum() clears it" right
    * after a crash would send them to a no-op. The accurate guidance is
    * the retention wait OR the explicit assume-no-writers hatch.
    */
  private[table] val crashedHolderHint: String =
    "a crashed holder's leftovers are reaped by vacuum() once older " +
      "than spark.graft.vacuumStagingRetentionMs (2 h default), or " +
      "immediately with spark.graft.vacuumAssumeNoWriters=true"

  /** Test-only failpoint, invoked at named points of the commit
    * protocol ("mid-claim-first": a claim-first writer holds its
    * writer lock and claimed marker but has not run its data job —
    * the window the snapshot fence protects; "pre-commit": staged,
    * before the marker CAS; "pre-swap": after the CAS, before the intent
    * publish; "post-recheck": intent published and conflict re-check
    * passed, immediately before the swap renames — the window the
    * two-phase intent protects; "mid-swap": between the two swap
    * renames). Specs inject a concurrent writer or a simulated crash
    * here; production never sets it.
    *
    * Cross-PROCESS crash injection: when `GRAFT_FAILPOINT_HALT` names a
    * failpoint, reaching it calls `Runtime.halt` — no shutdown hooks, no
    * finally blocks, the closest in-JVM analog of `kill -9`. Lets the
    * multi-process probes ([[graft.tools.CrashRecoveryProbe]]) kill a
    * real child JVM mid-window; unset (production), the check is one
    * env lookup memoized at class load.
    */
  private val haltAt: Option[String] = sys.env.get("GRAFT_FAILPOINT_HALT")
  private[graft] var testFailpoint: String => Unit =
    if (haltAt.isEmpty) _ => ()
    else name => if (haltAt.contains(name)) Runtime.getRuntime.halt(137)

  /** Commit-floor phase instrumentation ([[graft.tools.CommitFloorProbe]]):
    * (phase name, nanos since previous phase). Identity-compared against
    * [[noopPhase]] so the production path pays one reference check.
    */
  private[graft] val noopPhase: (String, Long) => Unit = (_, _) => ()
  private[graft] var commitPhaseHook: (String, Long) => Unit = noopPhase

  /** Last mergeVectored's derived partition-pruning sets (partition col →
    * source key values), None when no merge key was a partition column —
    * observability seam for specs asserting the pruned table pass.
    */
  private[graft] var lastMergeDvPartitionFilter:
    Option[Map[String, Seq[Any]]] = None

  /** Last mergeVectored's derived key-range pushdown (non-partition merge
    * key → source [min, max]); None when every key was a partition column.
    */
  private[graft] var lastMergeDvRangeFilter:
    Option[Map[String, (Any, Any)]] = None
}
