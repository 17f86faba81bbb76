package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}

/** One immutable view of everything a read of a LIVE table needs besides
  * the rows themselves — the per-version snapshot Delta readers build from
  * the log, in this layout's idiom:
  *
  *  - the base data files (relocation-stable keys, length, mtime) and
  *    whether the root holds any data at all;
  *  - the table record ([[TableMeta]]: declarations, schema and the
  *    column map / overlay / widening layout), read again only when its
  *    file's length or mtime changed;
  *  - the resolved base schema (the footer-merged `mergeSchema` result,
  *    or the record's reader schema while a widening is live);
  *  - the committed DV-update batches ([[DvUpdates]]), each with its
  *    files and the Spark schema its writer stamped into the footers;
  *  - the DV sidecar's mark files with their collected `(fileKey, pos)`
  *    rows ([[DeletionVectors]]), or no rows above
  *    [[DeletionVectors.MaxCollectedSidecarBytes]] (the distributed
  *    anti-join then reads the sidecar itself);
  *  - shallow-clone pointers, and from all of the above the file-key map
  *    the marks resolve through.
  *
  * Snapshots live in ONE bounded JVM-wide registry keyed by the
  * qualified table path and stamped with [[MedallionTable.commitStamp]]
  * (one flat listing of the commits sidecar). Every table mutation claims
  * a marker before its data lands, and every claimed writer
  * ([[MedallionTable]] `withClaimedCommitScoped`) publishes the next
  * snapshot from what it just wrote when it releases its lock; a rewrite
  * swap drops the entry. Invalidation rule: a snapshot is served only
  * while its stamp equals the current listing; on a mismatch (another
  * JVM committed, or a rewrite dropped it) the snapshot is rebuilt from
  * disk, so correctness never depends on the registry.
  *
  * Rebuilds run on the driver and launch no Spark job for what the
  * previous snapshot already knew: every piece is carried by file
  * identity (path, length, mtime — data files are immutable; a committed
  * marks directory, landed by one rename and removed whole, by path and
  * mtime without a listing), new mark files and new batch footers are
  * read directly, and the base schema
  * survives when the base file set is unchanged or only gained files
  * whose footer schema it already covers. Only a base-file REMOVAL (a
  * partition delete, a rewrite) or a new column sends the base schema
  * back to one footer-merge job. An unreadable footer or mark file
  * aborts the operation: it is never taken as a schema or as an empty
  * mark set.
  *
  * Inside a claim body (this thread holds the table's writer lock) the
  * registry is bypassed: each lookup re-lists and carries from the
  * body's previous snapshot, so a body that reads after its own writes
  * sees them.
  */
private[table] final class TableSnapshot private (
    val path: String,
    val stamp: TableSnapshot.Stamp,
    val rootExists: Boolean,
    val hasData: Boolean,
    val baseFiles: Seq[TableSnapshot.DataFile],
    val meta: TableMeta,
    val metaId: Option[(Long, Long)],
    val batches: Seq[TableSnapshot.Batch],
    val markFiles: Seq[TableSnapshot.MarkFile],
    val markDirs: Map[String, Long],
    val cloneSources: Seq[String],
    base: Option[StructType],
    private val frames: TableSnapshot.Frames) {
  import TableSnapshot._

  private val baseRef =
    new java.util.concurrent.atomic.AtomicReference[StructType](base.orNull)

  /** The resolved base schema, None until the first base scan resolves
    * it (the content fields fix it; resolution is only deferred).
    */
  def baseSchema: Option[StructType] = Option(baseRef.get())

  private[table] def resolvedBase(s: StructType): Unit = {
    baseRef.compareAndSet(null, s); ()
  }

  def isClone: Boolean = cloneSources.nonEmpty

  /** Committed batches that hold files — one read-union branch each. */
  def liveBatches: Seq[Batch] = batches.filter(_.files.nonEmpty)

  /** Every data file a reader scans — [[ShallowClone.scanFiles]]. */
  def scanFiles: Seq[String] =
    cloneSources ++ baseFiles.map(_.path) ++ batches.flatMap(_.files)

  /** fileKey -> full path over [[scanFiles]] (first hit wins). */
  lazy val fileKeys: Map[String, String] =
    scanFiles.groupBy(DeletionVectors.fileKeyOf).view.mapValues(_.head).toMap

  def hasMarks: Boolean = markFiles.nonEmpty

  /** Collected marks, None when the sidecar is above the collect cap. */
  def marks: Option[Seq[(String, Long)]] =
    if (markFiles.exists(_.rows.isEmpty)) None
    else Some(markFiles.flatMap(_.rows.get.toSeq))

  /** Per-session memo of DataFrames built over exactly this content
    * (the keyed base∪batches union both `read` and the DV writers'
    * position scan start from): analysed once per version and session.
    */
  private[table] def frame(spark: SparkSession, name: String)(
      build: => DataFrame): DataFrame = {
    val k = SessionCaches.token(spark) + "|" + name
    val hit = frames.m.get(k)
    if (hit != null) hit
    else { val df = build; frames.m.putIfAbsent(k, df); df }
  }

  private[table] def sameContent(o: TableSnapshot): Boolean =
    rootExists == o.rootExists && hasData == o.hasData &&
      baseFiles == o.baseFiles && meta == o.meta && metaId == o.metaId &&
      batches == o.batches &&
      markFiles.map(_.id) == o.markFiles.map(_.id) && markDirs == o.markDirs &&
      cloneSources == o.cloneSources

  private def withStamp(s: Stamp): TableSnapshot =
    new TableSnapshot(path, s, rootExists, hasData, baseFiles, meta, metaId,
      batches, markFiles, markDirs, cloneSources, baseSchema, frames)
}

private[table] object TableSnapshot {

  final case class DataFile(path: String, len: Long, mtime: Long)

  /** Commits-sidecar stamp and table-root mtime (-1 when absent). */
  final case class Stamp(commits: Long, root: Long)

  private def stampOf(t: MedallionTable, key: String,
      excludeName: String = null): Stamp = {
    val commits = t.commitStamp(excludeName)
    val root = new Path(key)
    val fs = fsOf(t.spark, root)
    Stamp(commits,
      try fs.getFileStatus(root).getModificationTime
      catch { case _: java.io.FileNotFoundException => -1L })
  }

  /** A committed update batch: its data dir, files and the data-column
    * schema its writer stamped into the footers (partition columns are
    * inferred from the paths at scan time, as for the base).
    */
  final case class Batch(name: String, dir: String, files: Seq[String],
      schema: StructType)

  /** A sidecar mark file; `rows` is None above the collect cap. */
  final case class MarkFile(path: String, len: Long, mtime: Long,
      rows: Option[Array[(String, Long)]]) {
    def id: (String, Long, Long) = (path, len, mtime)
  }

  private final class Frames {
    val m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  }

  /** Qualified path -> snapshot. Snapshots are small (file lists, one
    * schema per batch, marks capped by the collect limit); 64 live tables
    * bound the footprint like the memos this replaced.
    */
  private val registry = new BoundedLruCache[TableSnapshot](64)

  /** Snapshots built inside this thread's claim bodies, by table key. */
  private val inBody =
    new ThreadLocal[scala.collection.mutable.Map[String, TableSnapshot]] {
      override def initialValue() = scala.collection.mutable.Map.empty
    }

  /** What this thread's claim bodies wrote, by table key: base files and
    * update batches (by name), each with the data schema it was written
    * with — see [[wroteBaseFiles]] and [[wroteBatch]].
    */
  private final case class Wrote(files: Map[String, StructType] = Map.empty,
      batches: Map[String, StructType] = Map.empty)
  private val written =
    new ThreadLocal[scala.collection.mutable.Map[String, Wrote]] {
      override def initialValue() = scala.collection.mutable.Map.empty
    }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def keyOf(spark: SparkSession, tablePath: String): String = {
    val p = new Path(tablePath)
    fsOf(spark, p).makeQualified(p).toString
  }

  /** The current snapshot of `t`: the registry's when its stamp matches
    * the commits listing, else rebuilt from disk (carrying from the stale
    * one) and registered.
    */
  def of(t: MedallionTable): TableSnapshot = {
    val key = keyOf(t.spark, t.path)
    val body = inBody.get()
    if (body.contains(key)) {
      val s = advance(t, key, stampOf(t, key), Option(body(key))
        .orElse(registry.get(key)))
      body(key) = s
      s
    } else {
      val stamp = stampOf(t, key)
      registry.get(key) match {
        case Some(s) if s.stamp == stamp => s
        case prev =>
          val s = advance(t, key, stamp, prev)
          registry.put(key, s)
          s
      }
    }
  }

  /** The registered snapshot of `t` as of its last build, unchecked
    * against the disk: for a pre-claim read that its claim re-checks.
    */
  def latest(t: MedallionTable): Option[TableSnapshot] =
    registry.get(keyOf(t.spark, t.path))

  /** Snapshot for a sidecar given only paths (DV reads routed through
    * [[DeletionVectors]]).
    */
  def of(spark: SparkSession, tablePath: String): TableSnapshot =
    of(new MedallionTable(spark, tablePath))

  /** A claimed writer's body starts on this thread. */
  def claimStarted(t: MedallionTable): Unit = {
    inBody.get()(keyOf(t.spark, t.path)) = null
  }

  /** A claim body landed `files` (qualified paths) in the base, written
    * with data columns `schema`: the publish checks that schema against
    * the carried base schema once instead of reading every new footer.
    */
  def wroteBaseFiles(t: MedallionTable, files: Seq[String],
      schema: StructType): Unit = {
    val key = keyOf(t.spark, t.path)
    val w = written.get()
    val cur = w.getOrElse(key, Wrote())
    w(key) = cur.copy(files = cur.files ++ files.map(_ -> schema))
  }

  /** A claim body staged update batch `name` with data columns `schema`:
    * the publish takes it instead of reading the batch's footer.
    */
  def wroteBatch(t: MedallionTable, name: String, schema: StructType): Unit = {
    val key = keyOf(t.spark, t.path)
    val w = written.get()
    val cur = w.getOrElse(key, Wrote())
    w(key) = cur.copy(batches = cur.batches + (name -> nullable(schema)))
  }

  /** A claimed writer is about to release its lock: publish the next
    * snapshot, stamped to the post-release world (the listing minus the
    * writer's own lock). A failed body, or a publish that cannot read
    * what the body wrote, drops the entry instead — the next read
    * rebuilds from disk and fails there if the file is really bad.
    */
  def claimReleasing(t: MedallionTable, lockName: String,
      succeeded: Boolean): Unit = {
    val key = keyOf(t.spark, t.path)
    val body = inBody.get()
    val prev = body.remove(key).flatMap(Option(_)).orElse(registry.get(key))
    val wrote = written.get().remove(key).getOrElse(Wrote())
    if (!succeeded) registry.remove(key)
    else
      try registry.put(key,
        advance(t, key, stampOf(t, key, lockName), prev, wrote))
      catch { case scala.util.control.NonFatal(_) => registry.remove(key) }
  }

  /** A rewrite swapped the directory outside any claim body. */
  def drop(spark: SparkSession, tablePath: String): Unit =
    registry.remove(keyOf(spark, tablePath))

  /** Build the snapshot at `stamp` from disk, carrying every piece
    * `prev` already knew by file identity. Returns `prev` itself (with
    * its frame memo) when nothing a reader sees has changed.
    */
  private def advance(t: MedallionTable, key: String, stamp: Stamp,
      prev: Option[TableSnapshot],
      wrote: Wrote = Wrote()): TableSnapshot = {
    val spark = t.spark
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(key)
    val fs = fsOf(spark, root)
    val rootExists = stamp.root >= 0
    val walked =
      if (!rootExists) Nil else FsWalk.files(fs, root, FsWalk.hiddenName)
    val hasData = walked.exists { case (st, _) =>
      !FsWalk.hiddenName(st.getPath.getName) && st.getLen > 0 }
    val baseFiles = walked.collect {
      case (st, _) if FsWalk.isData(st) =>
        DataFile(fs.makeQualified(st.getPath).toString, st.getLen,
          st.getModificationTime)
    }
    // the record is written whole and renamed in, never changed in place:
    // while the file holding it keeps its length and mtime, its status
    // carries `prev`'s record instead of reading it again, and no file
    // is the empty record
    val metaId = SideFiles.status(fs, TableMeta.file(key))
      .map(st => (st.getLen, st.getModificationTime))
    val meta = if (metaId.isEmpty) TableMeta.Empty
      else prev.filter(_.metaId == metaId).fold(t.meta)(_.meta)
    // an archived snapshot's manifest sits at its root: the walk lists it
    val archivedClone = ShallowClone.archivedFile(root).getName
    val cloneSources = ShallowClone.sources(spark, ShallowClone.file(key)) ++
      walked.collect { case (st, rel) if rel == archivedClone => st.getPath }
        .flatMap(ShallowClone.sources(spark, _))

    val prevBatches = prev.toSeq.flatMap(_.batches).map(b => b.name -> b).toMap
    val batches = DvUpdates.committedBatches(spark, key).map { b =>
      val dir = DvUpdates.batchDataDir(key, b)
      val files = ShallowClone.listParquet(spark, dir)
      prevBatches.get(b) match {
        case Some(pb) if pb.files == files => pb
        case _ => Batch(b, dir, files,
          if (files.isEmpty) new StructType()
          else wrote.batches.get(b).orElse(footerSchema(conf, files.min))
            .getOrElse(throw new IllegalStateException(
              s"update batch file ${files.min} carries no Spark schema")))
      }
    }

    // every commit's marks land as one `update_<id>` directory by one
    // rename and are only ever removed whole, so a directory unchanged in
    // name and mtime is carried from `prev` without listing it again
    val dvDir = new Path(DeletionVectors.dir(key))
    val top = try fs.listStatus(dvDir).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    val markDirs = top.collect { case st if st.isDirectory &&
      !FsWalk.hiddenName(st.getPath.getName) =>
        st.getPath.toString -> st.getModificationTime }.toMap
    def parquet(st: FileStatus): Option[(String, Long, Long)] =
      if (!st.getPath.getName.endsWith(".parquet")) None
      else Some((st.getPath.toString, st.getLen, st.getModificationTime))
    val listed = top.flatMap { st =>
      val dir = st.getPath.toString
      if (!st.isDirectory) parquet(st).toSeq
      else if (!markDirs.contains(dir)) Nil
      else if (prev.exists(_.markDirs.get(dir).contains(markDirs(dir))))
        prev.get.markFiles.filter(_.path.startsWith(dir + "/")).map(_.id)
      else FsWalk.files(fs, st.getPath, FsWalk.hiddenName).flatMap(f => parquet(f._1))
    }.sortBy(_._1)
    val collect = listed.map(_._2).sum <= DeletionVectors.MaxCollectedSidecarBytes
    val prevMarks = prev.toSeq.flatMap(_.markFiles).map(m => m.id -> m).toMap
    val markFiles = listed.map { case id @ (p, len, mtime) =>
      prevMarks.get(id).filter(_.rows.isDefined || !collect)
        .map(m => if (collect) m else m.copy(rows = None))
        .getOrElse(MarkFile(p, len, mtime,
          if (collect) Some(readMarks(conf, new Path(p))) else None))
    }

    val fresh = new TableSnapshot(key, stamp, rootExists, hasData, baseFiles,
      meta, metaId, batches, markFiles, markDirs, cloneSources, None, new Frames)
    prev match {
      case Some(p) if p.sameContent(fresh) => p.withStamp(stamp)
      case _ =>
        val carried = prev.flatMap(p => carryBase(conf, p, fresh, wrote.files))
        new TableSnapshot(key, stamp, rootExists, hasData, baseFiles, meta,
          metaId, batches, markFiles, markDirs, cloneSources, carried, new Frames)
    }
  }

  /** The previous base schema still holds when the record's reader
    * schema is unchanged and the base only GAINED files whose columns it
    * already carries with the same types — taken from `wrote` for the
    * files the committing body wrote itself, from the footer otherwise —
    * under partition values its partition columns parse. A removed file may have been
    * the last to carry a column, so removals re-resolve.
    */
  private def carryBase(conf: Configuration, prev: TableSnapshot,
      now: TableSnapshot,
      wrote: Map[String, StructType]): Option[StructType] =
    prev.baseSchema.filter { s =>
      val before = prev.baseFiles.toSet
      val added = now.baseFiles.filterNot(before.contains)
      val byName = s.fields.map(x => x.name -> x.dataType).toMap
      val covered = scala.collection.mutable.Map.empty[StructType, Boolean]
      def fits(schema: StructType): Boolean = covered.getOrElseUpdate(schema,
        schema.fields.forall(x => byName.get(x.name).contains(x.dataType)))
      now.meta.readerSchema == prev.meta.readerSchema &&
        before.subsetOf(now.baseFiles.toSet) &&
        added.forall { f =>
          wrote.get(f.path).orElse(footerSchema(conf, f.path)).exists(fits) &&
            partitionValues(f.path).forall { case (k, v) =>
              byName.get(k).exists(partitionValueFits(_, v)) }
        }
    }

  private def partitionValues(file: String): Seq[(String, String)] =
    file.split('/').dropRight(1).reverse.takeWhile(_.contains("=")).map { s =>
      val i = s.indexOf('=')
      s.substring(0, i) -> s.substring(i + 1)
    }.toSeq

  private def partitionValueFits(dt: DataType, v: String): Boolean =
    v == "__HIVE_DEFAULT_PARTITION__" || (dt match {
      case IntegerType => v.toIntOption.isDefined
      case LongType => v.toLongOption.isDefined
      case StringType => true
      case _ => false
    })

  private def footer(in: org.apache.parquet.io.InputFile) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter finally r.close()
  }

  private def footer(conf: Configuration, file: String): org.apache.parquet
      .hadoop.metadata.ParquetMetadata =
    footer(org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new Path(file), conf))

  /** The Spark schema a writer stamped into `file`'s footer (what
    * parquet schema inference returns for it), None when the footer
    * carries none. An unreadable footer throws.
    */
  private[table] def footerSchema(conf: Configuration,
      file: String): Option[StructType] =
    Option(footer(conf, file).getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata"))
      .map(j => nullable(DataType.fromJson(j).asInstanceOf[StructType]))

  /** Scans read every file column as nullable, whatever was written. */
  private def nullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  /** Total row count of a listed file from its footer (the listing's
    * status spares a second one); throws when unreadable.
    */
  private[table] def footerRows(conf: Configuration, file: FileStatus): Long = {
    var n = 0L
    footer(org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf))
      .getBlocks.forEach(b => n += b.getRowCount)
    n
  }

  /** Every `(file, pos)` row of one mark file, read on the driver. */
  private[table] def readMarks(conf: Configuration,
      p: Path): Array[(String, Long)] = {
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), p)
      .withConf(conf).build()
    try {
      val out = Array.newBuilder[(String, Long)]
      var g = reader.read()
      while (g != null) {
        // a null key or position matches no row, as in the scan it replaces
        if (g.getFieldRepetitionCount("file") > 0 &&
            g.getFieldRepetitionCount("pos") > 0)
          out += ((g.getString("file", 0), g.getLong("pos", 0)))
        g = reader.read()
      }
      out.result()
    } finally reader.close()
  }
}
