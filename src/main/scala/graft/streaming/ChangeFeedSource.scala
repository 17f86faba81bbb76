package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructType, TimestampType}

import graft.table.{ChangeFeed, MedallionTable}

/** Structured-Streaming source over a table's writer-captured change
  * feed — Delta's `readStream.option("readChangeFeed", true)` analog:
  *
  *   spark.readStream.format("graft-cdf").option("path", p).load()
  *
  * Offsets ARE commit ordinals, which is what makes the stream
  * exactly-once by construction: `getOffset` reports the table's current
  * commit, each micro-batch is `ChangeFeed.read(start+1, end]`, and a
  * replayed (start, end] window re-reads the SAME immutable capture
  * manifests — checkpoint recovery needs no source-side state at all.
  * The first batch starts at the feed's enablement commit (Delta's
  * `startingVersion` = enablement default).
  *
  * Per-batch cost is the feed read's: O(changed rows + touched files),
  * never a table scan (SCALING.md round 13). Each trigger admits at most
  * `maxCommitsPerTrigger` commits (default 50 — Delta's
  * `maxFilesPerTrigger` analog), so a stream restarted after a long
  * outage drains the backlog in bounded batches instead of one batch
  * whose plan construction is linear in the gap. A range the feed refuses
  * (compacted marks, crashed capture, unversioned rewrite) fails the
  * stream fail-stop instead of misreporting — re-baseline the consumer
  * and restart from a fresh checkpoint.
  *
  * The schema is pinned at stream start (table columns + `_change_type`,
  * `_commit_version`, `_commit_timestamp`); batches project-and-cast to
  * it, so a mid-stream schema evolution surfaces new columns only after
  * a restart (the v1 Source contract — same as every file source).
  */
final class ChangeFeedSource(sqlContext: SQLContext, tablePath: String,
    metadataPath: String, options: Map[String, String])
    extends Source {

  private val spark = sqlContext.sparkSession
  private def table = MedallionTable(spark, tablePath)

  /** Per-trigger admission bound (Delta's `maxFilesPerTrigger` analog,
    * in COMMITS — the unit the feed's read cost is linear in): a stream
    * restarted after N missed commits drains them in ⌈N/bound⌉ batches
    * instead of ONE batch whose driver-side plan construction is linear
    * in N (measured 6.8 s at 50 commits, SCALING.md round 13; the knee
    * is why 50 is the default).
    */
  private val maxCommitsPerTrigger: Long = {
    val v = options.get(ChangeFeedSource.MaxCommitsKey)
      .map(s => s.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"graft-cdf: ${ChangeFeedSource.MaxCommitsKey} must be a positive " +
          s"long, got '$s'")))
      .getOrElse(ChangeFeedSource.DefaultMaxCommits)
    require(v > 0, s"graft-cdf: ${ChangeFeedSource.MaxCommitsKey} must be " +
      s"positive, got $v")
    v
  }

  /** Highest offset this source ever REPORTED, persisted in the stream's
    * own metadata dir (temp + rename) BEFORE getOffset returns it. The v1
    * Source API gives getOffset no "current position" input, so a rate
    * limit needs its own floor: on a restart where every batch committed,
    * getOffset is the first call — clamping from the ENABLEMENT commit
    * there would report an offset BELOW the checkpointed one, and Spark
    * would log it as a new (smaller) end and re-deliver already-committed
    * commits in the next batch. Persisting before returning makes the
    * floor ≥ every offset Spark's WAL can contain, so the clamp only ever
    * moves forward. Lifetime = the checkpoint's (a fresh checkpoint is a
    * fresh metadataPath, so a re-baselined stream starts clean).
    */
  /** Two ALTERNATING slot files, reads take the max. A lost floor
    * would make a restart (with a fully-committed WAL) clamp from the
    * enablement commit, report an offset BELOW the checkpointed one, and
    * re-deliver committed commits. Each slot is a replaced sidecar
    * ([[graft.table.SideFiles.replace]]), and a persist only ever
    * replaces the slot holding the OLDER value, so the other slot keeps
    * a floor ≥ every offset the WAL can hold even if the slot being
    * written were lost: getOffset persists BEFORE returning, so a value
    * lost mid-persist was never reported to Spark.
    */
  private val floorSlots = Array(
    new org.apache.hadoop.fs.Path(metadataPath, "graft-cdf-reported"),
    new org.apache.hadoop.fs.Path(metadataPath, "graft-cdf-reported.1"))
  private val floorFs = floorSlots(0)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readSlot(p: org.apache.hadoop.fs.Path): Long =
    graft.table.SideFiles.readLatest(floorFs, p)
      .flatMap(_.trim.toLongOption).getOrElse(Long.MinValue)

  private var floor: Long = floorSlots.map(readSlot).max

  private def persistFloor(v: Long): Unit = {
    // overwrite the slot with the SMALLER value (or the empty one): the
    // other slot keeps the previous floor intact through the replace
    val target =
      if (readSlot(floorSlots(0)) <= readSlot(floorSlots(1))) floorSlots(0)
      else floorSlots(1)
    graft.table.SideFiles.replace(floorFs, target, v.toString)
  }

  /** Delta's `startingVersion`: deliver changes from this commit ordinal
    * onward (default = enablement + 1). Clamped to the enablement commit
    * — asking for earlier history than the feed captured refuses at read
    * time anyway, so the clamp only skips the always-empty prefix.
    */
  private val startingVersion: Option[Long] = {
    val byVersion = options.get(ChangeFeedSource.StartingVersionKey).map(s =>
      s.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"graft-cdf: ${ChangeFeedSource.StartingVersionKey} must be a " +
          s"long, got '$s'")))
    // Delta's startingTimestamp: first delivered commit is the first one
    // AT or AFTER the instant (epoch millis, or any java.sql.Timestamp
    // literal). Resolved once at stream start against the CAPTURE
    // MANIFESTS (binary search over their monotone timestamps) — NOT the
    // commit-marker history, which retains only HistoryDepth markers and
    // would silently clamp a deeper instant to the oldest surviving
    // marker, losing older captured commits the feed can still read
    // (round-14 advice, high). An instant predating the oldest surviving
    // manifest after retention expiry fails the stream fail-stop.
    val byTs = options.get(ChangeFeedSource.StartingTimestampKey).map { s =>
      val ms = s.toLongOption.getOrElse(
        try java.sql.Timestamp.valueOf(s).getTime
        catch {
          case _: IllegalArgumentException =>
            throw new IllegalArgumentException(
              s"graft-cdf: ${ChangeFeedSource.StartingTimestampKey} must " +
                s"be epoch millis or 'yyyy-mm-dd hh:mm:ss[.f]', got '$s'")
        })
      ChangeFeed.firstCapturedAtOrAfter(table, ms).getOrElse(
        // nothing at/after the instant yet: start after the current head
        table.commitVersion + 1)
    }
    require(byVersion.isEmpty || byTs.isEmpty,
      "graft-cdf: startingVersion and startingTimestamp are mutually " +
        "exclusive")
    byVersion.orElse(byTs)
  }

  private def enabledAtOrRefuse: Long =
    ChangeFeed.enabledAt(spark, tablePath).getOrElse(
      throw new IllegalStateException(
        s"graft-cdf source: change data feed is not enabled on $tablePath " +
          "— run enableChangeDataFeed() first"))

  /** First offset a fresh stream starts AFTER: commits ≤ this are never
    * delivered. `startingVersion` n means "first delivered commit is n",
    * i.e. the stream's zero offset is n - 1.
    */
  private def streamEpoch: Long = {
    val en = enabledAtOrRefuse
    math.max(en, startingVersion.map(_ - 1L).getOrElse(en))
  }

  override val schema: StructType =
    ChangeFeedSource.feedSchema(spark, tablePath)

  override def getOffset: Option[Offset] = {
    val en = streamEpoch
    // completion-witnessed head (ChangeFeed.capturedThrough): a
    // claim-first writer's marker is visible before its capture lands,
    // and polling the raw marker head would refuse on the in-flight
    // commit's missing manifest
    val cur = ChangeFeed.capturedThrough(table)
    // admission bound, clamped from the floor (never backwards);
    // saturating add — a huge maxCommitsPerTrigger (used to disable the
    // limit) must not wrap negative and stall the stream
    val base = math.max(floor, en)
    val lim =
      if (Long.MaxValue - math.max(base, 0L) < maxCommitsPerTrigger)
        Long.MaxValue
      else base + maxCommitsPerTrigger
    val next = math.max(math.min(cur, lim), floor)
    if (next <= en) None
    else {
      if (next > floor) { persistFloor(next); floor = next }
      Some(LongOffset(next))
    }
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    // restart passes SerializedOffset(json); LongOffset.json is the same
    // long rendering, so .json.toLong handles both uniformly
    val s = start.map(_.json.toLong).getOrElse(streamEpoch)
    val e = end.json.toLong
    // belt-and-braces: a recovered batch's end is as good a floor as a
    // reported offset (covers a lost/unreadable floor file)
    if (e > floor) { floor = e; persistFloor(e) }
    val batch =
      if (s >= e)
        GraftColumnBridge.streamingDataFrame(spark,
          spark.sparkContext
            .emptyRDD[org.apache.spark.sql.catalyst.InternalRow],
          schema)
      else {
        val ch = ChangeFeed.read(table, s + 1, e)
        // pin to the stream-start schema: columns added since read as
        // typed NULLs until restart, exactly the declared contract
        val projected = ch.select(schema.fields.toIndexedSeq.map { f =>
          if (ch.columns.exists(_.equalsIgnoreCase(f.name)))
            col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }: _*)
        GraftColumnBridge.streamingDataFrame(spark,
          projected.queryExecution.toRdd, schema)
      }
    batch
  }

  override def stop(): Unit = ()

  override def toString: String = s"ChangeFeedSource[$tablePath]"
}

object ChangeFeedSource {
  val MaxCommitsKey = "maxCommitsPerTrigger"
  val StartingVersionKey = "startingVersion"
  val StartingTimestampKey = "startingTimestamp"
  val DefaultMaxCommits = 50L

  private[streaming] def feedSchema(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String): StructType = {
    val base = MedallionTable(spark, tablePath).read.schema
    new StructType(base.fields ++ Array(
      org.apache.spark.sql.types.StructField(
        ChangeFeed.ChangeTypeCol, StringType, nullable = false),
      org.apache.spark.sql.types.StructField(
        ChangeFeed.CommitVersionCol, LongType, nullable = false),
      org.apache.spark.sql.types.StructField(
        ChangeFeed.CommitTimestampCol, TimestampType, nullable = true)))
  }
}

/** `format("graft-cdf")` registration (META-INF services). */
final class ChangeFeedSourceProvider
    extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-cdf"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-cdf source requires .option(\"path\", <table dir>)"))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    ("graft-cdf", schema.getOrElse(
      ChangeFeedSource.feedSchema(sqlContext.sparkSession,
        pathOf(parameters))))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new ChangeFeedSource(sqlContext, pathOf(parameters), metadataPath,
      parameters)
}
