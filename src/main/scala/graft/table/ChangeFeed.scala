package graft.table

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change data feed — Delta's `enableChangeDataFeed` / `table_changes`
  * reproduced for [[MedallionTable]], with WRITER-CAPTURED per-commit
  * change metadata instead of the O(table) snapshot diff
  * [[MedallionTable.changesSinceOrdinal]] pays.
  *
  * Why a second CDC surface: `changesSinceOrdinal` full-outer-joins two
  * complete table states — correct, but every refresh of a downstream
  * consumer (incremental gold, materialized join) costs a table-sized
  * shuffle and requires the old state to be a RETAINED SNAPSHOT. At
  * 100 TB that is exactly the wrong shape: a feed consumer wants the
  * cost of reading "what changed" to be O(changed rows), not O(table).
  * Delta gets this by recording per-commit change information in its
  * log (reference storage engine, `medallion_init.sh:4-18`; the
  * reference's own incremental surface is Delta MERGE,
  * `silver_table_creation.py:57-66`). This module rebuilds the contract
  * on the graft commit protocol.
  *
  * == Capture (write side, O(Δ) metadata only) ==
  *
  * When the feed is enabled, every commit leaves a tiny MANIFEST under
  * `<path>__graft_commits/cdf/c<ordinal>` — the commits sidecar survives
  * rewrite swaps (the table dir's `_graft_meta` does not) and clones
  * don't copy it (a clone starts its own history, so it starts its own
  * feed). No change ROW is ever written twice:
  *
  *  - append / idempotent append / COPY INTO / create: the manifest
  *    records the ADDED FILE keys ([[DeletionVectors.fileKeyOf]] tails).
  *    The rows themselves stay where the append put them.
  *  - `delete-dv`: the manifest records the MARK FILES this delete
  *    appended to the DV sidecar. The deleted row images are
  *    reconstructed at read time by position.
  *  - `update-dv` / `merge-dv`: the manifest records the batch id, the
  *    batch's data-file keys, and the marks directory. Postimages are
  *    the batch files; preimages reconstruct by position. For merges it
  *    also records the target key columns, which lets the read classify
  *    insert vs update_postimage (and delete vs update_preimage)
  *    exactly — a matched target row always has a preimage under the
  *    same key.
  *  - rewrites (merge/update/delete via the backup swap, overwrite,
  *    restore): the manifest records only the op; the read derives
  *    delete-all + insert-all from the archived pre/post snapshots when
  *    `retainVersions` keeps them, Delta's remove+add rendering of a
  *    rewrite. (Delta CDC renders copied-over rows too when the writer
  *    captured them; a snapshot diff cannot tell a rewritten-identical
  *    row from an untouched one, so this surface is the coarser but
  *    still exactly-consistent delete+insert form.)
  *  - maintenance (OPTIMIZE*, DV compaction) and metadata DDL
  *    (ADD/DROP/RENAME COLUMN, convert): `dataChange = false` — no rows,
  *    matching Delta.
  *
  * Manifests are written as the LAST action inside the claimed commit
  * (temp + rename, so readers never see a partial one). A crash between
  * the commit point and the manifest leaves a committed change without
  * capture: the read REFUSES that ordinal (fail-stop, never silently
  * wrong), unless the snapshot fallback covers it.
  *
  * == Read (O(changed rows) + O(touched files) scans) ==
  *
  * [[read]] unions one branch per commit CLASS (not per commit):
  *  - append-class inserts are ONE scan over every in-range commit's
  *    recorded files, attributed to their commits by a broadcast
  *    file-key join (a file is added by exactly one commit) — an
  *    N-append range costs one plan branch, not N;
  *  - positional reconstruction gathers ALL commits' marks into ONE
  *    frame and joins the needed base files ONCE (the
  *    [[DvUpdates.amendedKeyed]] lesson: per-branch joins cost ~1 s of
  *    driver plan-construction each — see `graft.tools.DvBatchProbe`);
  *  - merge classification is one window per merge commit over that
  *    commit's own O(Δ) pre+post rows — no join;
  *  - referenced files are resolved by file key across the live table,
  *    committed update batches, and archived version snapshots (archive
  *    relocation preserves the key — the [[DeletionVectors]] relative-
  *    tail contract), each group read with its own `basePath` so hive
  *    partition values survive, and each mapped through the column map
  *    that covers it.
  *
  * Feed rows surface in the CURRENT logical schema (columns added since
  * a change read as typed NULLs, dropped columns disappear — Delta CDF's
  * latest-schema contract) plus `_change_type`, `_commit_version`,
  * `_commit_timestamp`.
  *
  * == Refusals (all fail-stop with the escape hatch named) ==
  *
  *  - ranges before the enablement commit;
  *  - a commit whose capture is missing (crash window) or whose marks /
  *    batch / data files were compacted away (`compactDv`,
  *    `compactDvBatches`, or a rewrite on an unversioned table) — DV
  *    maintenance invalidates feed ranges that cross it, exactly as
  *    Delta's VACUUM invalidates CDF ranges referencing vacuumed files;
  *  - a rewrite commit on a table whose `retainVersions` no longer
  *    reconstructs its pre/post states.
  */
object ChangeFeed {

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  val CommitTimestampCol = "_commit_timestamp"

  /** Ops that change no logical rows: safe to skip with no manifest. */
  private val NoChangeOps: Set[String] = Set(
    "convert", "add-column", "drop-column", "rename-column", "set-cdf",
    "widen-column", "set-default", "drop-default",
    "optimize", "optimize-where", "optimize-zorder", "cluster-incremental",
    "reorg-purge",
    "dv-compact", "dv-batch-compact", "analyze", "sync-delta-log",
    "checkpoint-delta-log")

  /** Ops whose change set is derived from pre/post snapshots. */
  private def isRewriteClass(op: String): Boolean =
    op == "merge" || op == "merge-pruned" || op == "scd2-merge" ||
      op == "update" || op == "delete" || op == "delete-partitions" ||
      op == "rewrite" || op == "enable-row-tracking" ||
      op.startsWith("restore-")

  // ---- storage ----------------------------------------------------------

  private def cdfRoot(tablePath: String): Path =
    new Path(s"${tablePath}__graft_commits/cdf")

  private def flagFile(tablePath: String): Path =
    new Path(cdfRoot(tablePath), "enabled")

  private[table] def manifestFile(tablePath: String, ordinal: Long): Path =
    new Path(cdfRoot(tablePath), s"c$ordinal")

  private def fsOf(spark: SparkSession, tablePath: String): FileSystem =
    new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** Temp + rename: a reader never observes a partial file. Hadoop's
    * `FileSystem.rename` REFUSES an existing destination (unlike POSIX
    * rename), so a re-write replaces via delete + rename — before this
    * fix the second write of a WATERMARK (mirror `cdf_mirror_reflects`,
    * retention `expired_through`) silently kept the old value, which made
    * every `replicateTo` after the first re-read the feed from its
    * bootstrap ordinal instead of O(Δ since last). A crash between the
    * delete and the rename leaves the file ABSENT: manifests/flags
    * fail-stop on absence and watermarks degrade conservatively (mirror
    * re-applies an idempotent window; an expired-manifest read refuses),
    * never a partial or stale-but-trusted value. A failed SECOND rename
    * is a true concurrent writer: keep theirs (retried ops write
    * identical bytes; watermark writers are maintenance-serialized).
    */
  private def writeTextAtomic(fs: FileSystem, p: Path, text: String): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val staged = new Path(p.getParent, s"${p.getName}.new")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    // TWO-PHASE replace (round-15): the new value lands COMPLETE at a
    // durable staging name (its own rename, so it is never partial)
    // before the destination is touched. A crash between the delete and
    // the final rename used to leave the file ABSENT — for a watermark
    // that meant losing the retention/mirror floor; now readers fall
    // back to `<name>.new` ([[readTextStaged]]) and see the value the
    // crashed writer had fully staged.
    if (fs.exists(staged)) fs.delete(staged, false)
    if (!fs.rename(tmp, staged)) { fs.delete(tmp, false); return }
    if (fs.exists(p)) fs.delete(p, false)
    MedallionTable.testFailpoint("cdf-watermark-post-delete")
    // a failed final rename is a true concurrent writer (they landed the
    // destination between our delete and rename): keep THEIRS and clear
    // our staging so no stale fallback survives (retried ops write
    // identical bytes; watermark writers are maintenance-serialized)
    if (!fs.rename(staged, p)) fs.delete(staged, false)
  }

  /** Watermark read with the two-phase fallback: the destination when
    * present, else the fully-staged `<name>.new` a writer crashed before
    * renaming (see [[writeTextAtomic]]). None = neither exists.
    */
  private def readTextStaged(fs: FileSystem, p: Path): Option[String] = {
    if (fs.exists(p)) return Some(readText(fs, p))
    val staged = new Path(p.getParent, s"${p.getName}.new")
    if (fs.exists(staged)) Some(readText(fs, staged)) else None
  }

  def isEnabled(spark: SparkSession, tablePath: String): Boolean =
    fsOf(spark, tablePath).exists(flagFile(tablePath))

  /** Commit ordinal of the enabling commit, when enabled. */
  def enabledAt(spark: SparkSession, tablePath: String): Option[Long] = {
    val fs = fsOf(spark, tablePath)
    if (!fs.exists(flagFile(tablePath))) None
    else readText(fs, flagFile(tablePath)).trim.toLongOption
  }

  private[table] def writeEnabled(spark: SparkSession, tablePath: String,
      ordinal: Long): Unit = {
    val fs = fsOf(spark, tablePath)
    fs.mkdirs(cdfRoot(tablePath))
    writeTextAtomic(fs, flagFile(tablePath), ordinal.toString)
  }

  // ---- manifests ---------------------------------------------------------

  private[table] final case class Manifest(
      op: String,
      ts: Long,
      typ: String, // files | marks | batch | auto | empty
      batch: Option[String],
      keys: Seq[String],
      files: Seq[String], // data-file keys (fileKeyOf tails)
      marks: Seq[String]) // dv-root-relative mark files / dirs

  private def render(m: Manifest): String = {
    val b = new StringBuilder
    b ++= s"op\t${m.op}\n"
    b ++= s"ts\t${m.ts}\n"
    b ++= s"type\t${m.typ}\n"
    m.batch.foreach(x => b ++= s"batch\t$x\n")
    if (m.keys.nonEmpty) b ++= s"keys\t${m.keys.mkString(",")}\n"
    m.files.foreach(f => b ++= s"f\t$f\n")
    m.marks.foreach(x => b ++= s"m\t$x\n")
    b.result()
  }

  private def parse(text: String): Manifest = {
    var op = "unknown"; var ts = 0L; var typ = "auto"
    var batch: Option[String] = None
    var keys = Seq.empty[String]
    val files = Seq.newBuilder[String]; val marks = Seq.newBuilder[String]
    text.split('\n').foreach { line =>
      val i = line.indexOf('\t')
      if (i > 0) {
        val (k, v) = (line.substring(0, i), line.substring(i + 1))
        k match {
          case "op" => op = v
          case "ts" => ts = v.toLongOption.getOrElse(0L)
          case "type" => typ = v
          case "batch" => batch = Some(v)
          case "keys" => keys = v.split(',').toSeq.filter(_.nonEmpty)
          case "f" => files += v
          case "m" => marks += v
          case _ => ()
        }
      }
    }
    Manifest(op, ts, typ, batch, keys, files.result(), marks.result())
  }

  private[table] def loadManifest(spark: SparkSession, tablePath: String,
      ordinal: Long): Option[Manifest] = {
    val fs = fsOf(spark, tablePath)
    val p = manifestFile(tablePath, ordinal)
    if (!fs.exists(p)) None else Some(parse(readText(fs, p)))
  }

  private def captureManifest(spark: SparkSession, tablePath: String,
      ordinal: Long, m: Manifest): Unit = {
    val fs = fsOf(spark, tablePath)
    fs.mkdirs(cdfRoot(tablePath))
    writeTextAtomic(fs, manifestFile(tablePath, ordinal), render(m))
  }

  private def now(): Long = System.currentTimeMillis()

  /** Append-class capture: the added data files ARE the inserted rows. */
  private[table] def captureFiles(spark: SparkSession, tablePath: String,
      ordinal: Long, op: String, addedFiles: Seq[String]): Unit =
    captureManifest(spark, tablePath, ordinal, Manifest(op, now(), "files",
      None, Nil, addedFiles.map(DeletionVectors.fileKeyOf).sorted, Nil))

  /** `delete-dv` capture: the mark files this commit appended. */
  private[table] def captureMarks(spark: SparkSession, tablePath: String,
      ordinal: Long, op: String, markFiles: Seq[String]): Unit =
    captureManifest(spark, tablePath, ordinal, Manifest(op, now(), "marks",
      None, Nil, Nil, markFiles.sorted))

  /** `update-dv` / `merge-dv` capture. `keys` nonEmpty ⟺ merge (enables
    * insert/update classification); empty ⟺ plain update (all
    * postimages are update_postimage).
    */
  private[table] def captureBatch(spark: SparkSession, tablePath: String,
      ordinal: Long, op: String, batch: String, batchFiles: Seq[String],
      keys: Seq[String]): Unit =
    captureManifest(spark, tablePath, ordinal, Manifest(op, now(), "batch",
      Some(batch), keys,
      batchFiles.map(DeletionVectors.fileKeyOf).sorted,
      Seq(s"update_$batch")))

  /** A data-changing commit that matched nothing (no-op delete/update):
    * recorded so the feed returns zero rows instead of refusing.
    */
  private[table] def captureEmpty(spark: SparkSession, tablePath: String,
      ordinal: Long, op: String): Unit =
    captureManifest(spark, tablePath, ordinal,
      Manifest(op, now(), "empty", None, Nil, Nil, Nil))

  /** Generic post-commit capture: records the OP (durable past marker
    * retention) for commits whose change rows are derived (rewrites) or
    * empty (maintenance/DDL). Skips if the op body already captured.
    */
  private[table] def captureAuto(spark: SparkSession, tablePath: String,
      ordinal: Long, op: String): Unit = {
    val fs = fsOf(spark, tablePath)
    if (!fs.exists(manifestFile(tablePath, ordinal)))
      captureManifest(spark, tablePath, ordinal,
        Manifest(op, now(), "auto", None, Nil, Nil, Nil))
  }

  // ---- retention (janitor) -------------------------------------------------

  private def expiredFile(tablePath: String): Path =
    new Path(cdfRoot(tablePath), "expired_through")

  /** Highest commit ordinal expired by feed retention — reads at or
    * below it refuse with the re-baseline hatch named. `Long.MinValue`
    * when nothing has expired.
    */
  def expiredThrough(spark: SparkSession, tablePath: String): Long = {
    val fs = fsOf(spark, tablePath)
    readTextStaged(fs, expiredFile(tablePath))
      .flatMap(_.trim.toLongOption).getOrElse(Long.MinValue)
  }

  /** Feed-manifest retention janitor: capture manifests accumulate one
    * per commit forever (tiny, but at a realistic commit rate the
    * per-read listing and the sidecar itself grow unboundedly — Delta
    * expires CDF with log retention). Expires every manifest at or below
    * `ordinal`, plus the archived delete-marks no surviving manifest
    * references.
    *
    * Atomic with the refusal watermark: `expired_through` is written
    * FIRST (temp + rename), so a reader concurrent with the deletes — or
    * resuming after a janitor crash mid-delete — refuses the expired
    * range with the hatch named instead of tripping over a half-present
    * manifest set. Leftover manifests ≤ the watermark are harmless
    * litter the next expiry re-deletes.
    *
    * The captured HEAD manifest always survives (`ordinal` is clamped to
    * `capturedThrough - 1`): [[capturedThrough]]'s walk-back and the
    * mirror/MV watermark checks stay O(1) on an idle table.
    *
    * @return the expired-through ordinal now in force.
    */
  def expireBefore(t: MedallionTable, ordinal: Long): Long = {
    val spark = t.spark
    val fs = fsOf(spark, t.path)
    val already = expiredThrough(spark, t.path)
    if (enabledAt(spark, t.path).isEmpty) return already
    val head = capturedThrough(t)
    val e = math.min(ordinal, head - 1)
    if (e <= already) return already
    writeTextAtomic(fs, expiredFile(t.path), e.toString)
    // delete expired manifests (by listing — ordinals below enablement
    // or from a prior epoch don't exist as files)
    val root = cdfRoot(t.path)
    val survivors = Seq.newBuilder[Path]
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("c")) n.drop(1).toLongOption.foreach { ord =>
        if (ord <= e) fs.delete(st.getPath, false)
        else survivors += st.getPath
      }
    }
    // prune the marks archive: keep only flat mark files some surviving
    // manifest still references (expired delete ranges refuse anyway)
    val arch = marksArchiveDir(t.path)
    if (fs.exists(arch)) {
      val referenced = survivors.result().flatMap { p =>
        parse(readText(fs, p)).marks.filterNot(_.contains("/"))
      }.toSet
      fs.listStatus(arch).foreach { st =>
        if (!referenced.contains(st.getPath.getName))
          fs.delete(st.getPath, false)
      }
    }
    e
  }

  /** Expire all but the newest `keepCommits` captured commits. */
  def expire(t: MedallionTable, keepCommits: Int): Long = {
    require(keepCommits >= 1, "feed retention must keep >= 1 commit")
    expireBefore(t, capturedThrough(t) - keepCommits)
  }

  /** Age-horizon expiry (Delta's log-retention shape): expire manifests
    * whose capture timestamp is older than `maxAgeMs`. The maintenance
    * hooks ([[MedallionTable.vacuum]] / autoCompact) call this with
    * `spark.graft.cdfRetentionMs` (default 30 days), so feed metadata is
    * bounded without a dedicated cron.
    */
  def expireOlderThan(t: MedallionTable, maxAgeMs: Long): Long = {
    val spark = t.spark
    val fs = fsOf(spark, t.path)
    val already = expiredThrough(spark, t.path)
    if (enabledAt(spark, t.path).isEmpty) return already
    val cutoff = now() - maxAgeMs
    val root = cdfRoot(t.path)
    if (!fs.exists(root)) return already
    val ordinals = fs.listStatus(root).flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("c")) n.drop(1).toLongOption else None
    }.sorted
    if (ordinals.isEmpty) return already
    // capture timestamps are monotone in the ordinal, so ONE read of the
    // oldest manifest answers the common is-anything-expirable question
    // (this rides every vacuum/autoCompact — it must be cheap when the
    // answer is no); only then walk forward for the newest stale ordinal,
    // stopping at the first fresh one
    if (parse(readText(fs, manifestFile(t.path, ordinals.head))).ts >= cutoff)
      return already
    var newest = ordinals.head
    var i = 1
    while (i < ordinals.length &&
        parse(readText(fs, manifestFile(t.path, ordinals(i)))).ts < cutoff) {
      newest = ordinals(i); i += 1
    }
    expireBefore(t, newest)
  }

  // ---- file resolution ----------------------------------------------------

  /** A group of files readable in one scan: same `basePath` root (so
    * hive partition values parse) and same column map.
    */
  private final case class RootGroup(basePath: String,
      colMap: Map[String, String], files: Seq[String])

  /** Index every resolvable data file by its relative-tail key: live
    * table files (root = table path), committed update-batch files
    * (root = the batch dir), and archived snapshot files (root = the
    * snapshot dir, column map = the archived one). First hit wins
    * (live before archived; archive MOVES files, so keys are unique in
    * practice).
    */
  private def dataFileIndex(spark: SparkSession, t: MedallionTable)
      : Map[String, (String, String, Map[String, String])] = {
    val fs = fsOf(spark, t.path)
    val liveMap = ColumnMap.load(spark, t.path)
    val out = scala.collection.mutable.Map
      .empty[String, (String, String, Map[String, String])]
    def put(key: String, file: String, root: String,
        m: Map[String, String]): Unit =
      if (!out.contains(key)) out(key) = (file, root, m)
    // FsWalk's pruned listStatus census, not fs.listFiles(recursive) —
    // this runs on the FEED-READ path over the table root, so the
    // located-status iterator's ~4.3 ms/file would cost a 100k-file
    // table ~430 s of driver listing before any data work
    def listDataFiles(root: Path): Seq[String] =
      FsWalk.dataParquet(fs, root)
        .map(s => fs.makeQualified(s._1.getPath).toString)
    if (ShallowClone.isClone(spark, t.path))
      // a clone's live files are POINTERS into the source's directory
      // (plus local appends and its own committed batches — scanFiles
      // folds all three). Clones are unpartitioned by contract, so each
      // file's parent works as its basePath.
      ShallowClone.scanFiles(spark, t.path).foreach(f =>
        put(DeletionVectors.fileKeyOf(f), f,
          new Path(f).getParent.toString, liveMap))
    else {
      // live base files
      listDataFiles(new Path(t.path)).foreach(f =>
        put(DeletionVectors.fileKeyOf(f), f, t.path, liveMap))
      // live committed update batches (their own basePath roots)
      DvUpdates.committedBatches(spark, t.path).foreach { b =>
        val bd = DvUpdates.batchDataDir(t.path, b)
        ShallowClone.listParquet(spark, bd).foreach(f =>
          put(DeletionVectors.fileKeyOf(f), f, bd, liveMap))
      }
    }
    // archived snapshots (batch files were relocated into the snapshot's
    // own layout, so one recursive listing covers them)
    t.listVersions().sorted.reverse.foreach { v =>
      val vdir = new Path(t.path, s"_graft_meta/versions/v$v")
      val vmap = ColumnMap.loadFrom(spark, ColumnMap.archivedFile(vdir))
      listDataFiles(vdir).foreach(f =>
        put(DeletionVectors.fileKeyOf(f), f, vdir.toString, vmap))
    }
    out.toMap
  }

  /** DV compaction coalesces the flat delete-mark files; the originals
    * are per-commit feed evidence, so [[archiveMarkFiles]] parks them
    * here (tiny position lists, commits-sidecar lifetime — exactly the
    * manifests') instead of deleting, and delete feed ranges survive
    * `compactDv`. Batch (`update_*`) marks get no such treatment:
    * `compactDvBatches` deletes the batch DATA files too, so those
    * ranges refuse either way.
    */
  private def marksArchiveDir(tablePath: String): Path =
    new Path(cdfRoot(tablePath), "marks_archive")

  /** Move superseded flat mark files into the archive ([[compactDv]]'s
    * feed hook). A failed rename falls back to delete — the feed range
    * then refuses exactly as it would have without the archive.
    */
  private[table] def archiveMarkFiles(spark: SparkSession, tablePath: String,
      files: Seq[Path]): Unit = {
    val fs = fsOf(spark, tablePath)
    val dir = marksArchiveDir(tablePath)
    fs.mkdirs(dir)
    files.foreach { f =>
      val ok =
        try fs.rename(f, new Path(dir, f.getName))
        catch { case _: java.io.IOException => false }
      if (!ok)
        try fs.delete(f, false)
        catch { case _: java.io.IOException => () }
    }
  }

  /** Resolve a dv-root-relative mark path (file or `update_<batch>` dir)
    * against the live sidecar, the compaction archive (flat files), and
    * archived snapshots' sidecars.
    */
  private def resolveMark(spark: SparkSession, t: MedallionTable,
      rel: String): Option[String] = {
    val fs = fsOf(spark, t.path)
    val live = new Path(DeletionVectors.dir(t.path), rel)
    if (fs.exists(live)) return Some(live.toString)
    if (!rel.contains("/")) {
      val archived = new Path(marksArchiveDir(t.path), rel)
      if (fs.exists(archived)) return Some(archived.toString)
    }
    t.listVersions().sorted.reverse.foreach { v =>
      val p = new Path(DeletionVectors.archivedDir(
        new Path(t.path, s"_graft_meta/versions/v$v")), rel)
      if (fs.exists(p)) return Some(p.toString)
    }
    None
  }

  private def refuse(msg: String): Nothing =
    throw new IllegalStateException(s"change feed: $msg")

  /** Highest commit ordinal whose capture manifest exists — the
    * COMPLETION witness concurrent feed readers must use instead of
    * `commitVersion`: a claim-first writer's marker is visible from the
    * moment it claims, BEFORE its data and capture land, so a poll racing
    * an in-flight write would read the claimed ordinal and refuse on the
    * not-yet-written manifest. The walk-back is at most one commit deep
    * under the writer-lock serialization (a crashed writer's permanent
    * gap parks readers at the pre-crash ordinal until vacuum/re-baseline
    * — fail-safe, never wrong data).
    */
  def capturedThrough(t: MedallionTable): Long = {
    val spark = t.spark
    enabledAt(spark, t.path) match {
      case None => t.commitVersion
      case Some(en) =>
        var cur = t.commitVersion
        while (cur > en && loadManifest(spark, t.path, cur).isEmpty) cur -= 1
        cur
    }
  }

  /** First captured commit whose manifest timestamp is at or after `ms`
    * (Delta's `startingTimestamp` resolution) — `None` when every captured
    * commit predates the instant (the caller starts after the current
    * head). Resolution runs against the CAPTURE MANIFESTS, not the commit
    * markers: markers age out after [[MedallionTable.HistoryDepth]]
    * commits, so a marker-based walk on a table with more retained
    * captures than markers would silently clamp to the oldest surviving
    * marker and never deliver the older captured commits (round-14
    * advice, high). Manifest timestamps are monotone in the ordinal (the
    * same premise [[expireOlderThan]]'s early-exit rests on), so the walk
    * is a BINARY SEARCH — O(log commits) manifest reads, once per stream
    * start.
    *
    * Fail-stop: when the instant predates the oldest SURVIVING manifest
    * and feed retention has expired older ones, the true first-at-or-after
    * commit may be gone — refuse with the hatch named instead of silently
    * starting late. With nothing expired, the oldest surviving manifest IS
    * the feed's first captured commit, so starting there is exact.
    */
  def firstCapturedAtOrAfter(t: MedallionTable, ms: Long): Option[Long] = {
    val spark = t.spark
    val fs = fsOf(spark, t.path)
    enabledAt(spark, t.path).getOrElse(refuse(
      s"not enabled on ${t.path} — run enableChangeDataFeed() first"))
    val root = cdfRoot(t.path)
    val ords: Array[Long] =
      if (!fs.exists(root)) Array.empty
      else fs.listStatus(root).flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("c")) n.drop(1).toLongOption else None
      }.sorted
    if (ords.isEmpty) return None
    def tsAt(i: Int): Long =
      parse(readText(fs, manifestFile(t.path, ords(i)))).ts
    if (tsAt(ords.length - 1) < ms) return None // everything predates ms
    if (tsAt(0) >= ms) {
      // instant at or before the oldest surviving capture: exact only if
      // no older capture was expired away
      if (expiredThrough(spark, t.path) > Long.MinValue) refuse(
        s"startingTimestamp $ms predates the oldest surviving capture " +
          s"manifest of ${t.path} (feed retention expired older commits) " +
          "— the true first commit at or after the instant may be gone; " +
          "use startingVersion, or re-baseline the consumer")
      return Some(ords(0))
    }
    // invariant: ts(lo) < ms <= ts(hi)
    var lo = 0; var hi = ords.length - 1
    while (hi - lo > 1) {
      val mid = lo + (hi - lo) / 2
      if (tsAt(mid) >= ms) hi = mid else lo = mid
    }
    Some(ords(hi))
  }

  // ---- read ----------------------------------------------------------------

  /** The row changes committed by ordinals `[startVersion, endVersion]`,
    * in the table's current logical schema plus `_change_type`,
    * `_commit_version`, `_commit_timestamp`. See the object scaladoc for
    * cost shape and refusal surface.
    */
  def read(t: MedallionTable, startVersion: Long, endVersion: Long): DataFrame = {
    val spark = t.spark
    val en = enabledAt(spark, t.path).getOrElse(refuse(
      s"not enabled on ${t.path} — run enableChangeDataFeed() first"))
    val cur = t.commitVersion
    require(startVersion <= endVersion,
      s"change feed: empty range [$startVersion, $endVersion]")
    if (startVersion <= en) refuse(
      s"range [$startVersion, $endVersion] reaches at or before the " +
        s"enablement commit ($en) of ${t.path}; changes are captured " +
        s"only after enablement — earliest readable version is ${en + 1}")
    if (endVersion > cur) refuse(
      s"endVersion $endVersion is beyond the current commit $cur of ${t.path}")
    val exp = expiredThrough(spark, t.path)
    if (startVersion <= exp) refuse(
      s"range [$startVersion, $endVersion] reaches into commits expired " +
        s"by feed retention (expired through $exp) on ${t.path} — " +
        s"earliest readable version is ${exp + 1}; re-baseline the " +
        "consumer with a full read, or widen the retention horizon")

    // fullHistory, not history(): journaled commits keep their recorded
    // in-commit-timestamp instants, so `_commit_timestamp` for a range
    // reaching past the live marker window still reports COMMIT time —
    // the capture manifest's ts (capture wall-clock, milliseconds later)
    // stays the fallback only for pre-journal legacy state
    val hist = t.fullHistory().map { case (v, op, ts) => v -> ((op, ts)) }.toMap
    val liveSchema = t.read.schema
    val liveCols = liveSchema.fields.map(_.name).toSeq

    // lazily built: only commits that reconstruct by position need it
    lazy val dataIndex = dataFileIndex(spark, t)
    // live update-batch roots (as dataFileIndex names them) -> schema
    lazy val liveBatchSchemas = TableSnapshot.of(t).batches.map(b =>
      DvUpdates.batchDataDir(t.path, b.name) -> b.schema).toMap

    def tsOf(c: Long, m: Option[Manifest]): Long =
      hist.get(c).map(_._2).orElse(m.map(_.ts)).getOrElse(0L)

    /** Scan `keys`-resolved data files grouped by (root, map), with
      * per-group basePath so partition values parse, mapped to logical
      * names. Extra position/key columns included when `withPos`.
      */
    def scanResolved(keys: Seq[String], what: String, cOf: String => Long,
        withPos: Boolean): Option[DataFrame] = {
      if (keys.isEmpty) return None
      val resolved = keys.map { k =>
        dataIndex.getOrElse(k, refuse(
          s"commit ${cOf(k)} of ${t.path}: $what file '$k' is no longer " +
            "resolvable (compacted or vacuumed, and not covered by a " +
            "retained snapshot) — re-baseline the consumer with a full " +
            "read, or raise retainVersions"))
      }
      val dfs = resolved.groupBy(r => (r._2, r._3)).toSeq
        .sortBy(_._1._1).map { case ((root, cmap), grp) =>
          // mergeSchema: one consolidated scan may span files written on
          // both sides of a schema evolution (the per-op-class fold) —
          // without it the scan schema is first-file order luck and an
          // evolved column can vanish from older rows' branch entirely.
          // Under a live/archived type-widening overlay the same span
          // crosses narrow/wide footers (which REFUSE to merge), so the
          // root's recorded reader schema takes over (WideCols scaladoc).
          // Groups rooted at the LIVE table use the base schema of the
          // table's snapshot instead — a subset of base files reads
          // identically under the full merged schema — and groups rooted
          // at a live update batch declare the schema its writer stamped
          // into the footers, so neither pays a per-group footer job
          // (guide §6 metadata cost).
          val reader =
            if (root == t.path) t.basePhysicalReader()
              .getOrElse(WideCols.readerAnyLayout(spark, root))
            else liveBatchSchemas.get(root).map(spark.read.schema)
              .getOrElse(WideCols.readerAnyLayout(spark, root))
          val raw = reader
            .option("basePath", root)
            .parquet(grp.map(_._1).distinct: _*)
          val keyed =
            if (withPos) raw
              .withColumn("__cf_file",
                DeletionVectors.fileKey(col("_metadata.file_path")))
              .withColumn("__cf_pos", col("_metadata.row_index"))
            else raw
          ColumnMap.toLogical(keyed, cmap)
        }
      Some(dfs.reduce(_.unionByName(_, allowMissingColumns = true)))
    }

    // accumulated branches, each already carrying _change_type + commit cols
    val branches = Seq.newBuilder[DataFrame]
    // append-class (typ=files) insert requests, gathered for ONE scan:
    // file key -> (commit, ts). Formerly one scanResolved per commit —
    // O(commits) driver-side plan branches; an append-heavy range (the
    // common shape: RetentionProbe's 120-commit window) now costs one
    // scan over the union of recorded files plus a broadcast join against
    // this tiny key map (a file is added by exactly ONE commit, so the
    // inner equi-join attributes each row exactly once).
    val fileReqs = Seq.newBuilder[(String, Long, Long)]
    // positional reconstruction requests, gathered for ONE join
    // (commit, role, ts, marks source)
    final case class MarkReq(c: Long, role: String, ts: Long,
        paths: Seq[String])
    val markReqs = Seq.newBuilder[MarkReq]
    // merge commits needing key classification: c -> keys
    val mergeKeys = scala.collection.mutable.Map.empty[Long, Seq[String]]

    def stamp(df: DataFrame, c: Long, ts: Long, typ: Option[String]): DataFrame = {
      val base = typ.map(x => df.withColumn(ChangeTypeCol, lit(x))).getOrElse(df)
      base.withColumn(CommitVersionCol, lit(c))
        .withColumn(CommitTimestampCol,
          timestamp_millis(lit(ts)))
    }

    (startVersion to endVersion).foreach { c =>
      val mOpt = loadManifest(spark, t.path, c)
      val op = mOpt.map(_.op).orElse(hist.get(c).map(_._1)).getOrElse(refuse(
        s"commit $c of ${t.path} has no capture manifest and its marker " +
          "aged out of history retention — the operation is unknown, so " +
          "its changes cannot be derived; re-baseline the consumer"))
      val ts = tsOf(c, mOpt)
      mOpt match {
        case Some(m) if m.typ == "files" =>
          m.files.foreach(k => fileReqs += ((k, c, ts)))
        case Some(m) if m.typ == "marks" =>
          val paths = m.marks.map(rel => resolveMark(spark, t, rel)
            .getOrElse(refuse(
              s"commit $c of ${t.path}: delete marks '$rel' were " +
                "compacted away (compactDv) and no retained snapshot " +
                "carries them — re-baseline the consumer")))
          if (paths.nonEmpty) markReqs += MarkReq(c, "delete", ts, paths)
        case Some(m) if m.typ == "batch" =>
          val isMerge = m.keys.nonEmpty
          // postimages: the staged batch's data files
          scanResolved(m.files, "batch", _ => c, withPos = false).foreach { df =>
            branches += stamp(df, c, ts,
              Some(if (isMerge) "__merge_post" else "update_postimage"))
          }
          // preimages: the batch's marks directory
          m.marks.foreach { rel =>
            val p = resolveMark(spark, t, rel).getOrElse(refuse(
              s"commit $c of ${t.path}: update marks '$rel' were " +
                "compacted away (compactDvBatches) and no retained " +
                "snapshot carries them — re-baseline the consumer"))
            // an insert-only merge commits an EMPTY marks dir (the
            // witness) — nothing to reconstruct
            val files = ShallowClone.listParquet(spark, p)
            if (files.nonEmpty) markReqs += MarkReq(c,
              if (isMerge) "__merge_pre" else "update_preimage", ts, files)
          }
          if (isMerge) mergeKeys(c) = m.keys
        case Some(m) if m.typ == "empty" => ()
        case other =>
          // auto manifest, or no manifest at all (crash window / enabled
          // mid-history): classify by op
          if (NoChangeOps.contains(op)) ()
          else if (isRewriteClass(op)) {
            val pre = t.stateAtOrdinal(c - 1).getOrElse(refuse(
              s"commit $c of ${t.path} is a rewrite ($op) and the " +
                s"pre-state (commit ${c - 1}) is not a retained snapshot " +
                "— raise retainVersions or re-baseline the consumer"))
            val post = t.stateAtOrdinal(c).getOrElse(refuse(
              s"commit $c of ${t.path} is a rewrite ($op) and the " +
                s"post-state is not reconstructible — re-baseline"))
            branches += stamp(pre, c, ts, Some("delete"))
            branches += stamp(post, c, ts, Some("insert"))
          } else if (other.isEmpty) refuse(
            s"commit $c of ${t.path} ($op) committed without capture — " +
              "a writer crashed between its commit point and its feed " +
              "manifest, or the op predates enablement; re-baseline")
          else refuse(
            s"commit $c of ${t.path}: capture for op $op is incomplete " +
              s"(recorded '${other.get.typ}') — the writer failed between " +
              "its commit point and its capture; re-baseline the consumer")
      }
    }

    // ---- ONE scan + broadcast key join for every append-class commit ----
    // _change_type stays a per-branch LITERAL ("insert"), so the merge
    // classification's plan-level pruning below still constant-folds this
    // branch out of the merge-row split; only the commit/ts columns come
    // from the join. Merge/update postimages keep their own branches —
    // their _change_type literal is what lets the classifier prune.
    val fReqs = fileReqs.result()
    if (fReqs.nonEmpty) {
      val fileReqCommit: String => Long =
        fReqs.map(r => r._1 -> r._2).toMap.getOrElse(_, -1L)
      val meta = spark.createDataFrame(fReqs).toDF(
        "__fm_key", "__fm_c", "__fm_ts")
      scanResolved(fReqs.map(_._1), "appended",
        fileReqCommit, withPos = true)
        .foreach { rows =>
          val attributed = rows
            .join(broadcast(meta), col("__cf_file") === col("__fm_key"),
              "inner")
          branches += attributed
            .withColumn(ChangeTypeCol, lit("insert"))
            .withColumn(CommitVersionCol, col("__fm_c"))
            .withColumn(CommitTimestampCol, timestamp_millis(col("__fm_ts")))
            .drop("__cf_file", "__cf_pos", "__fm_key", "__fm_c", "__fm_ts")
        }
    }

    // ---- ONE positional-reconstruction join for every marks request ----
    val reqs = markReqs.result()
    if (reqs.nonEmpty) {
      val marks = reqs.map { r =>
        // marks schema is the writers' fixed (file, pos) — declaring it
        // skips one footer-inference job per marks request
        spark.read.schema(DeletionVectors.MarkSchema).parquet(r.paths: _*)
          .select(col("file").as("__cf_file"), col("pos").as("__cf_pos"))
          .withColumn("__cf_c", lit(r.c))
          .withColumn("__cf_role", lit(r.role))
          .withColumn("__cf_ts", lit(r.ts))
      }.reduce(_.unionByName(_))
      // driver-side file-key gather: files-count-bounded, the same class
      // as every manifest/sidecar listing on this table. Zero-row marks
      // files are legal (an insert-only merge's committed witness).
      val needed = marks.select("__cf_file").distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      scanResolved(needed, "marked base", _ => -1L, withPos = true).foreach { rows =>
        val recon = rows.join(broadcast(marks),
          Seq("__cf_file", "__cf_pos"), "inner")
        branches += recon
          .withColumn(ChangeTypeCol, col("__cf_role"))
          .withColumn(CommitVersionCol, col("__cf_c"))
          .withColumn(CommitTimestampCol, timestamp_millis(col("__cf_ts")))
          .drop("__cf_file", "__cf_pos", "__cf_c", "__cf_role", "__cf_ts")
      }
    }

    val all = branches.result()
    val unioned =
      if (all.isEmpty)
        // empty range: zero rows in the right schema
        stamp(t.read.limit(0), 0L, 0L, Some("insert"))
      else all.reduce(_.unionByName(_, allowMissingColumns = true))

    // merge classification: one window per merge commit over that
    // commit's own O(Δ) pre+post rows — a preimage whose key-tuple has a
    // postimage in the SAME commit is an update_preimage (else delete);
    // a postimage with a preimage is an update_postimage (else insert).
    val classified = if (mergeKeys.isEmpty) unioned else {
      // classification needs the recorded (merge-time LOGICAL) key
      // columns to still exist — a later RENAME COLUMN of a merge key
      // would otherwise die in analysis with an unhelpful message
      val unionedCols = unioned.columns.map(_.toLowerCase).toSet
      mergeKeys.foreach { case (c, ks) =>
        val gone = ks.filterNot(k => unionedCols.contains(k.toLowerCase))
        if (gone.nonEmpty) refuse(
          s"commit $c of ${t.path}: merge key column(s) " +
            s"${gone.mkString(", ")} were renamed or dropped since the " +
            "merge was captured — its changes can no longer be " +
            "classified; re-baseline the consumer")
      }
      // ONE window pass over the merge rows ONLY, every key set at once
      // (the former shape folded one whole-feed window per distinct key
      // set: a range with many heterogeneous-key merges multiplied
      // full-feed shuffles). The merge-row split prunes at the plan
      // level: `_change_type` is a per-branch literal, so the filter
      // constant-folds each union branch to keep-or-empty. Each merge
      // commit records exactly one key set, so a per-commit CANONICAL
      // KEY STRING (per-component md5 — fixed width, so no delimiter
      // ambiguity; nulls to a sentinel, preserving the window's
      // null-safe grouping) lets one (commit, key) window classify all
      // commits together, keeping execution passes constant in the
      // number of merges.
      val isMergeRow = col(ChangeTypeCol).isin("__merge_pre", "__merge_post")
      val rest = unioned.filter(!isMergeRow)
      def keyStr(ks: Seq[String]): Column =
        concat(ks.flatMap(k => Seq(
          when(col(k).isNull, lit("n")).otherwise(lit("v")),
          md5(coalesce(col(k).cast("string"), lit(""))))): _*)
      val keyExpr = mergeKeys.toSeq.sortBy(_._1)
        .foldLeft(lit(null).cast("string")) { case (acc, (c, ks)) =>
          when(col(CommitVersionCol) === c, keyStr(ks)).otherwise(acc)
        }
      val w = Window.partitionBy(col(CommitVersionCol), col("__cf_key"))
      val cm = unioned.filter(isMergeRow)
        .withColumn("__cf_key", keyExpr)
        .withColumn("__cf_has_pre",
          max(when(col(ChangeTypeCol) === "__merge_pre", 1)
            .otherwise(0)).over(w))
        .withColumn("__cf_has_post",
          max(when(col(ChangeTypeCol) === "__merge_post", 1)
            .otherwise(0)).over(w))
        .withColumn(ChangeTypeCol,
          when(col(ChangeTypeCol) === "__merge_pre",
            when(col("__cf_has_post") === 1, lit("update_preimage"))
              .otherwise(lit("delete")))
            .otherwise(
              when(col("__cf_has_pre") === 1, lit("update_postimage"))
                .otherwise(lit("insert"))))
        .drop("__cf_key", "__cf_has_pre", "__cf_has_post")
      rest.unionByName(cm, allowMissingColumns = true)
    }

    // final projection: the CURRENT logical schema (latest-schema
    // contract) — missing columns surface as typed NULLs, stale
    // physical/dropped columns are not selected
    val have = classified.columns.toSet
    val outCols = liveCols.map { c =>
      if (have.contains(c)) col(c)
      else lit(null).cast(liveSchema(c).dataType).as(c)
    } ++ Seq(col(ChangeTypeCol), col(CommitVersionCol), col(CommitTimestampCol))
    classified.select(outCols: _*)
  }

  // ---- CDC replication -----------------------------------------------------

  private def mirrorWatermarkFile(mirrorPath: String): Path =
    new Path(s"${mirrorPath}__graft_commits/cdf_mirror_reflects")

  /** CDC replication — the canonical feed consumer (Delta's documented
    * CDF → MERGE mirroring pattern): bring `mirror` up to `source`'s
    * current state by applying the NET effect of the changes since the
    * last replication, keyed by `keys`.
    *
    * Net effect: per key, the change row from the HIGHEST commit wins
    * (preimages excluded — they describe the past); within one commit an
    * insert/postimage outranks a delete, which renders the rewrite
    * fallback's delete-all+insert-all correctly (a surviving key has
    * both; the insert is its terminal state). The whole net-change set
    * applies as ONE ordered-clause [[MedallionTable.mergeVectored]]
    * commit — matched deletes become DV marks, matched upserts update,
    * unmatched non-deletes insert (O(matched) marks, zero base-file
    * rewrites) — so the mirror pays O(Δ) data work and a single commit
    * round per refresh, never a source or mirror rescan.
    *
    * Exactly-once effect without atomicity: the watermark (a sibling
    * file in the mirror's commits dir) is advanced AFTER the apply, and
    * a replayed window re-applies the SAME terminal states — the upsert
    * sets equal values and the key-delete finds nothing — so a crash
    * between apply and stamp converges on re-run (the
    * [[IncrementalJoin.catchUp]] idempotent-repair argument).
    *
    * Bootstrap (no watermark): full copy of the source's current state.
    * A refused feed range (uncaptured commit, compacted marks) surfaces
    * as-is: re-baseline by deleting the mirror (next call re-copies).
    */
  def replicateTo(source: MedallionTable, mirror: MedallionTable,
      keys: Seq[String]): Unit = {
    val spark = source.spark
    val fs = fsOf(spark, mirror.path)
    val wmFile = mirrorWatermarkFile(mirror.path)
    val wm: Option[Long] =
      if (!mirror.exists) None
      else readTextStaged(fs, wmFile).flatMap(_.trim.toLongOption)
    // completion-witnessed head, not the raw marker head: a replication
    // racing an in-flight writer must not refuse on (or stamp past) a
    // commit whose capture hasn't landed yet
    val cur = capturedThrough(source)
    wm match {
      case Some(at) if at == cur => () // already current
      case Some(at) =>
        val ch = read(source, at + 1, cur)
          .filter(col(ChangeTypeCol) =!= "update_preimage")
        // terminal state per key: highest commit; insert beats delete
        // within one commit (the rewrite delete-all+insert-all rendering)
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(col(CommitVersionCol).desc,
            when(col(ChangeTypeCol) === "delete", 0).otherwise(1).desc)
        // Materialize the O(Δ) net-change set ONCE: the feed plan is
        // construction-heavy (per-commit branches + positional joins),
        // and the DV merge evaluates its source several times (unique-key
        // check, key-range aggregate, matched pass) — without the cut,
        // each evaluation re-runs the whole feed (measured 10.5 s → the
        // checkpointed apply in graft.tools.CdfProbe).
        val last = ch.withColumn("__cf_rn", row_number().over(w))
          .filter(col("__cf_rn") === 1).drop("__cf_rn")
          .drop(CommitVersionCol, CommitTimestampCol)
          .localCheckpoint()
        val srcCols = last.columns.filterNot(_ == ChangeTypeCol).toSeq
        val cols = mirror.read.columns.toSeq
        // source schema evolved past the mirror: the DV merge would
        // silently drop the new columns from every replicated row —
        // fail-stop with the escape hatch instead of silent divergence
        val newCols = srcCols.filterNot(c =>
          cols.exists(_.equalsIgnoreCase(c)))
        if (newCols.nonEmpty) refuse(
          s"source ${source.path} grew columns ${newCols.mkString(", ")} " +
            s"the mirror ${mirror.path} lacks — evolve the mirror first " +
            "(append with the new schema / ADD COLUMN) or re-baseline " +
            "by deleting it")
        // inverse drift: the mirror has columns the source lacks — the
        // merge's insert map would reference nonexistent source columns
        // and die in analysis with a raw cannot-resolve; refuse with the
        // same escape hatch instead
        val goneCols = cols.filterNot(c =>
          srcCols.exists(_.equalsIgnoreCase(c)))
        if (goneCols.nonEmpty) refuse(
          s"mirror ${mirror.path} has columns ${goneCols.mkString(", ")} " +
            s"the source ${source.path} no longer provides — drop them " +
            "from the mirror, or re-baseline by deleting it")
        // ONE ordered-clause DV merge applies the whole net-change set —
        // terminal deletes consume their matched rows as marks, terminal
        // upserts update-or-insert — in a single mirror commit (formerly a
        // merge commit PLUS a deleteVectoredKeys commit: two claimed-commit
        // rounds, two manifests, two stats invalidations per refresh; the
        // key sets are disjoint per the row_number, so apply order between
        // the classes never mattered). A delete whose key the mirror lacks
        // is unmatched and the insert clause's condition skips it — exactly
        // deleteVectoredKeys' no-op on an absent key.
        if (last.head(1).nonEmpty)
          mirror.mergeVectored(last, keys.map(k => k -> k),
            Seq(
              MergeOps.WhenMatchedDelete(Some(
                (_: MergeOps.ColRef, sc: MergeOps.ColRef) =>
                  sc(ChangeTypeCol) === "delete")),
              MergeOps.WhenMatchedUpdate(None,
                cols.filterNot(keys.contains).map(c =>
                  c -> ((_: MergeOps.ColRef, sc: MergeOps.ColRef) => sc(c))).toMap)),
            Seq(MergeOps.WhenNotMatchedInsert(Some(
              (_: MergeOps.ColRef, sc: MergeOps.ColRef) =>
                sc(ChangeTypeCol) =!= "delete"),
              cols.map(c =>
                c -> ((_: MergeOps.ColRef, sc: MergeOps.ColRef) => sc(c))).toMap)),
            // `last` is unique per key by construction (row_number = 1)
            checkUniqueKeys = false)
      case None =>
        mirror.overwrite(source.read)
    }
    writeTextAtomic(fs, wmFile, cur.toString)
  }
}
