package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.ObjectMapper

import scala.collection.mutable

/** Minimal checkpoint-less Delta-log EXPORT for a [[MedallionTable]]: the
  * last interop gap with the reference's storage format
  * (`medallion_init.sh:10-18` ships real Delta). [[sync]] writes
  * `_delta_log/%020d.json` commit files — JSON-lines Delta actions:
  * `protocol` (reader 1 / writer 2), `metaData` (deterministic table id,
  * the Spark-JSON `schemaString` Delta itself uses, partition columns,
  * parquet format) and one `add` per live data file (relative path,
  * partitionValues parsed from hive dirs, size, modificationTime,
  * dataChange) — plus `remove` actions when a previously-exported file
  * vanished without a directory swap. An external Delta reader replays
  * adds minus removes in version order; the `k10_delta_export_replay`
  * oracle does exactly that replay in DuckDB SQL (`read_json` over the
  * log → live-file semi-join against the parquet dir), and
  * DeltaLogExportSpec replays it independently on the Scala side.
  *
  * Deliberate limits of "minimal": checkpoints ([[checkpoint]]) are
  * written on demand rather than every-10-versions, `metaData` re-emitted
  * only when the schema string changes, and a REWRITE (overwrite /
  * merge / OPTIMIZE — MedallionTable swaps the whole directory, so the
  * log vanishes with the old dir) restarts the export at version 0
  * describing the post-rewrite snapshot, which replays correctly but
  * does not preserve cross-rewrite history. Append-only tables — the
  * reference's bronze landing pattern — get a faithful per-sync version
  * chain. Driver-side work is file listing + tiny JSON, the same
  * metadata class as Delta's own log writes.
  */
object DeltaLogExport {

  private val mapper = new ObjectMapper()

  /** Exported live set + last schemaString according to the existing log:
    * the checkpoint (if `_last_checkpoint` names one) seeds the live set,
    * then JSON versions AFTER it replay adds/removes in order — exactly
    * the read protocol an external Delta client follows.
    */
  private def replayLog(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      logDir: Path): (Long, mutable.LinkedHashSet[String], Option[String]) = {
    val live = mutable.LinkedHashSet.empty[String]
    var lastSchema: Option[String] = None
    if (!fs.exists(logDir)) return (-1L, live, lastSchema)
    var fromVersion = 0L
    SideFiles.readLatest(fs, new Path(logDir, "_last_checkpoint")).foreach { text =>
      val ckV = mapper.readTree(text).get("version").asLong
      val ck = spark.read.parquet(
        new Path(logDir, f"$ckV%020d.checkpoint.parquet").toString)
      ck.select("add.path").collect()
        .foreach(r => if (!r.isNullAt(0)) live += r.getString(0))
      ck.select("metaData.schemaString").collect()
        .foreach(r => if (!r.isNullAt(0)) lastSchema = Some(r.getString(0)))
      fromVersion = ckV + 1
    }
    val versions = fs.listStatus(logDir).map(_.getPath)
      .filter(_.getName.matches("\\d{20}\\.json")).sortBy(_.getName)
    versions.filter(_.getName.stripSuffix(".json").toLong >= fromVersion)
      .foreach { vf =>
        val text = SideFiles.read(fs, vf).getOrElse(
          throw new java.io.FileNotFoundException(s"delta log $vf vanished"))
        text.split('\n').filter(_.nonEmpty).foreach { line =>
          val node = mapper.readTree(line)
          if (node.has("add")) live += node.get("add").get("path").asText()
          if (node.has("remove")) live -= node.get("remove").get("path").asText()
          if (node.has("metaData"))
            lastSchema = Some(node.get("metaData").get("schemaString").asText())
        }
      }
    val lastV = versions.lastOption
      .map(_.getName.stripSuffix(".json").toLong).getOrElse(fromVersion - 1)
    (lastV, live, lastSchema)
  }

  /** Sync the export to the table's CURRENT snapshot: diffs the live
    * data-file set against what the log's last version describes and
    * writes one new commit json with the delta (first call also carries
    * `protocol` + `metaData`). Returns the version written, or -1 when
    * the log already matches (idempotent no-op — nothing is written).
    */
  /** [[sync]] with materialize-on-export: when the table carries soft
    * state no external Delta reader can interpret — live column renames,
    * a shallow-clone pointer manifest, deletion vectors or DV-update
    * batches — `materialize = true` runs one OPTIMIZE first (the rewrite
    * bakes every soft feature into plain files and the swap drops
    * `_graft_meta`, restarting the log at a clean version-0 snapshot of
    * the SAME logical content), then syncs. Correct, not zero-copy: the
    * materialization is a full rewrite, which is exactly why the default
    * `sync` refuses instead of doing this silently. A table with no soft
    * state skips the rewrite entirely.
    */
  def sync(spark: SparkSession, tablePath: String,
      materialize: Boolean): Long = {
    if (materialize) {
      val root = new Path(tablePath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val soft = new MedallionTable(spark, tablePath).meta.colMap.nonEmpty ||
        ShallowClone.isClone(spark, tablePath) ||
        DeletionVectors.exists(spark, DeletionVectors.dir(tablePath))
      if (soft)
        new MedallionTable(spark, tablePath,
          partitionColumns = detectPartitionColumns(fs, root)).compact()
    }
    sync(spark, tablePath)
  }

  /** Hive partition keys from the directory layout (first `k=v` chain) —
    * the materializing OPTIMIZE must preserve the layout an exported log
    * describes via `partitionValues`.
    */
  private def detectPartitionColumns(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[String] = {
    val b = Seq.newBuilder[String]
    var d = root
    var go = fs.exists(root)
    while (go) {
      val subs = fs.listStatus(d).filter(st => st.isDirectory && {
        val n = st.getPath.getName
        n.contains("=") && !n.startsWith("_") && !n.startsWith(".")
      })
      if (subs.isEmpty) go = false
      else { b += subs.head.getPath.getName.split("=", 2)(0); d = subs.head.getPath }
    }
    b.result()
  }

  def sync(spark: SparkSession, tablePath: String): Long = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"no table at $tablePath")
    // an external log reader sees the files' PHYSICAL column names and
    // has no access to the column map — exporting would publish a schema
    // the data files contradict. Materialize (OPTIMIZE) first.
    val tm = new MedallionTable(spark, tablePath).meta
    require(tm.colMap.isEmpty,
      s"delta-log export refused: $tablePath has live column renames " +
        "(ColumnMap); run OPTIMIZE to materialize them — or " +
        "sync(materialize = true) / SYNC DELTA LOG FOR t MATERIALIZED " +
        "to do both in one step")
    // same class of blindness for type widening: an external Delta
    // reader would resolve the mixed narrow/wide footers itself (and
    // refuse, or worse) — the reader schema is graft-local metadata
    require(tm.widened.isEmpty,
      s"delta-log export refused: $tablePath has live type widenings " +
        "(WideCols); run OPTIMIZE to materialize them — or " +
        "sync(materialize = true) / SYNC DELTA LOG FOR t MATERIALIZED")
    // A clone's data lives in pointer files OUTSIDE the table root; a
    // path-relative log would describe only the local writes and an
    // external reader would miss most of the table. Same remedy: the
    // first OPTIMIZE materializes and decouples.
    require(!ShallowClone.isClone(spark, tablePath),
      s"delta-log export refused: $tablePath is a shallow clone — its " +
        "data files live outside the table root, which a path-relative " +
        "Delta log cannot describe; OPTIMIZE to materialize (or " +
        "sync(materialize = true)), then re-sync")
    // A deletion vector (delete marks or DV-update batches) changes what
    // readers see without touching files, so the file census below would
    // be "already in sync" while every exported add still covers the
    // soft-deleted rows — an external reader would serve them. Refused
    // for the same reason renames are: external readers cannot see the
    // sidecar.
    require(!DeletionVectors.exists(spark, DeletionVectors.dir(tablePath)),
      s"delta-log export refused: $tablePath has live deletion vectors " +
        "or DV-update batches; external readers cannot see the sidecar — " +
        "OPTIMIZE to materialize (or sync(materialize = true)), then " +
        "re-sync")
    val logDir = new Path(root, "_delta_log")
    val (lastVersion, exportedLive, exportedSchema) = replayLog(spark, fs, logDir)

    // current live files, relative to the table root (same traversal rule
    // as MedallionTable.dataFileSet: skip _-/.-prefixed segments)
    // FsWalk's pruned listStatus census (table-wide, once per sync) —
    // same hidden-segment rule as the old rel-segment filter without
    // the ~4.3 ms/file located-status iterator
    val current = mutable.LinkedHashMap.empty[String, (Long, Long)]
    FsWalk.dataParquet(fs, root).foreach { case (st, rel) =>
      current += rel -> ((st.getLen, st.getModificationTime))
    }

    val schemaString = new MedallionTable(spark, tablePath).read.schema.json
    val adds = current.keysIterator.filterNot(exportedLive).toSeq
    val removes = exportedLive.iterator.filterNot(current.keySet).toSeq
    val needMeta = !exportedSchema.contains(schemaString)
    if (adds.isEmpty && removes.isEmpty && !needMeta) return -1L

    val version = lastVersion + 1
    val sb = new StringBuilder
    if (version == 0L) {
      val protocol = mapper.createObjectNode()
      protocol.putObject("protocol")
        .put("minReaderVersion", 1).put("minWriterVersion", 2)
      sb.append(mapper.writeValueAsString(protocol)).append('\n')
    }
    if (needMeta) {
      val partCols = current.keysIterator.flatMap(
        _.split('/').dropRight(1).filter(_.contains('=')).map(_.split('=')(0)))
        .distinct.toSeq
      val metaWrap = mapper.createObjectNode()
      val meta = metaWrap.putObject("metaData")
      meta.put("id",
        java.util.UUID.nameUUIDFromBytes(tablePath.getBytes("UTF-8")).toString)
      val fmt = meta.putObject("format")
      fmt.put("provider", "parquet")
      fmt.putObject("options")
      meta.put("schemaString", schemaString)
      val pc = meta.putArray("partitionColumns")
      partCols.foreach(pc.add)
      meta.putObject("configuration")
      meta.put("createdTime", 0L)
      sb.append(mapper.writeValueAsString(metaWrap)).append('\n')
    }
    removes.foreach { p =>
      val wrap = mapper.createObjectNode()
      wrap.putObject("remove").put("path", p)
        .put("dataChange", true).put("deletionTimestamp", 0L)
      sb.append(mapper.writeValueAsString(wrap)).append('\n')
    }
    adds.foreach { p =>
      val (len, mod) = current(p)
      val wrap = mapper.createObjectNode()
      val add = wrap.putObject("add")
      add.put("path", p)
      val pv = add.putObject("partitionValues")
      p.split('/').dropRight(1).filter(_.contains('=')).foreach { seg =>
        val Array(k, v) = seg.split("=", 2)
        pv.put(k, v)
      }
      add.put("size", len).put("modificationTime", mod).put("dataChange", true)
      sb.append(mapper.writeValueAsString(wrap)).append('\n')
    }

    if (!fs.exists(logDir)) fs.mkdirs(logDir)
    // exclusive create = the same CAS discipline Delta uses for commits:
    // two concurrent syncs race for version N, the loser re-reads the log
    // (its diff may now be empty — the winner exported the same files)
    // and retries against the new head instead of clobbering the winner.
    if (SideFiles.createExclusive(fs, new Path(logDir, f"$version%020d.json"),
        sb.toString)) version
    else sync(spark, tablePath)
  }

  /** The files an external reader would scan: replay of the exported log
    * (adds minus removes, version order) — the Scala half of the interop
    * check; the DuckDB oracle replays the same JSON independently.
    */
  def liveFilesFromLog(spark: SparkSession, tablePath: String): Seq[String] = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    replayLog(spark, fs, new Path(root, "_delta_log"))._2.toSeq
  }

  /** Read the table THROUGH its Delta log — the external-reader protocol
    * run inside Spark: checkpoint-seeded replay → adds-minus-removes
    * live set → scan exactly those files. This is what any Delta client
    * does with a `_delta_log`, so it reads real exported-from-elsewhere
    * Delta directories the same way it reads graft-exported ones, and —
    * unlike the directory-listing read — it ignores files the log never
    * committed (crash litter, un-synced writes), which
    * `k10_delta_log_read` and DeltaLogExportSpec assert.
    */
  def readViaLog(spark: SparkSession, tablePath: String): org.apache.spark.sql.DataFrame = {
    val files = liveFilesFromLog(spark, tablePath)
    require(files.nonEmpty, s"no live files in $tablePath/_delta_log")
    // basePath: an explicit file list skips partition-directory
    // inference without it, silently dropping hive partition columns
    // the exported schemaString declares
    spark.read.option("mergeSchema", "true").option("basePath", tablePath)
      .parquet(files.map(f => s"$tablePath/$f"): _*)
  }

  /** Write a Delta CHECKPOINT at the log's current version: one parquet
    * file holding the full replayed state (a protocol row, a metaData
    * row, one add row per live file — nullable struct columns, the Delta
    * checkpoint layout) plus the `_last_checkpoint` pointer. Readers then
    * seed from the checkpoint and replay only the JSON versions after it
    * — the reason checkpoints exist: a year of per-batch syncs otherwise
    * means a year of JSON files per snapshot read. Returns the
    * checkpointed version, or -1 if there is no log yet.
    */
  def checkpoint(spark: SparkSession, tablePath: String): Long = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new Path(root, "_delta_log")
    val (version, live, schemaOpt) = replayLog(spark, fs, logDir)
    if (version < 0) return -1L
    val schemaString = schemaOpt.getOrElse(
      new MedallionTable(spark, tablePath).read.schema.json)

    import org.apache.spark.sql.types._
    val pvType = MapType(StringType, StringType)
    val ckSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", pvType)))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", pvType),
        StructField("createdTime", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", pvType),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType))))))

    def fileInfo(rel: String): (Long, Long) = {
      val st = fs.getFileStatus(new Path(root, rel))
      (st.getLen, st.getModificationTime)
    }
    val partCols = live.iterator.flatMap(
      _.split('/').dropRight(1).filter(_.contains('=')).map(_.split('=')(0)))
      .toSeq.distinct
    import org.apache.spark.sql.Row
    val protoRow = Row(Row(1, 2), null, null)
    val metaRow = Row(null, Row(
      java.util.UUID.nameUUIDFromBytes(tablePath.getBytes("UTF-8")).toString,
      Row("parquet", Map.empty[String, String]), schemaString,
      partCols, Map.empty[String, String], 0L), null)
    val addRows = live.toSeq.map { rel =>
      val (len, mod) = fileInfo(rel)
      val pv = rel.split('/').dropRight(1).filter(_.contains('='))
        .map { seg => val Array(k, v) = seg.split("=", 2); k -> v }.toMap
      Row(null, null, Row(rel, pv, len, mod, true))
    }
    val ck = spark.createDataFrame(
      spark.sparkContext.parallelize((protoRow +: metaRow +: addRows), 1),
      ckSchema)
    // parquet writers emit a directory; stage then move the single part
    // file to the protocol-mandated flat name
    val stage = new Path(logDir, s".ck_stage_$version")
    ck.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = fs.listStatus(stage).map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException("checkpoint stage empty"))
    val target = new Path(logDir, f"$version%020d.checkpoint.parquet")
    fs.delete(target, false)
    if (!fs.rename(part, target))
      throw new java.io.IOException(s"checkpoint rename failed: $target")
    fs.delete(stage, true)
    val ptr = mapper.createObjectNode()
    ptr.put("version", version).put("size", 2L + addRows.size)
    SideFiles.replace(fs, new Path(logDir, "_last_checkpoint"),
      mapper.writeValueAsString(ptr))
    version
  }
}
