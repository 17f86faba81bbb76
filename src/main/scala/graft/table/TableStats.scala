package graft.table

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-level data skipping for [[MedallionTable]] — the Delta-style
  * min/max manifest over raw parquet. At 100 TB the win is not row-group
  * filtering (parquet already does that) but never *listing or opening*
  * files whose [min,max] range can't match the predicate: a selective
  * range query over a clustered table touches a handful of files instead
  * of every file's footer.
  *
  * Stats live under `<table>/_graft_meta/stats` (underscore-prefixed, so
  * normal parquet reads of the table ignore it). The manifest itself is a
  * parquet table built with one distributed aggregation over
  * `input_file_name()` — no driver-side scan.
  *
  * Pruning compares numeric bounds as doubles (exact for longs < 2^53 —
  * beyond that pruning stays correct only if bounds cast consistently,
  * which they do, both sides being produced by the same cast) and
  * strings/timestamps lexicographically on their canonical string form.
  */
object TableStats {

  private def statsPath(tablePath: String) = s"$tablePath/_graft_meta/stats"

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }

  private def pendingPath(tablePath: String) = s"$tablePath/_graft_meta/stats_pending"

  private def statsWorthy(dt: DataType): Boolean = dt match {
    // NTZ included: parquet timestamps with isAdjustedToUTC=false read
    // as TIMESTAMP_NTZ in Spark 4, and both flavors share the
    // lexicographic-canonical-string property pruning relies on.
    case _: NumericType | StringType | TimestampType | TimestampNTZType
       | DateType => true
    case _ => false
  }

  /** Per-file stats rows for `df` over `cols` (each must be stats-worthy
    * and present in `df`): one row per `input_file_name()` — or per the
    * caller-captured `fileKey` when `df` is no longer a bare scan
    * (`input_file_name` is undefined after a join, the deletion-vector
    * case below).
    */
  /** Canonical-epoch expression for time columns — the rendering-free
    * bounds [[prunedFiles]] compares time-range predicates against:
    * epoch MICROS for instant timestamps, epoch DAYS for dates. Both are
    * pure integers on both the manifest side and the predicate side
    * (see [[toEpochCanonical]]), so no string rendering can ever
    * mismatch. TIMESTAMP_NTZ is deliberately absent: its epoch value
    * depends on the session time zone, and a manifest built under one
    * zone must not prune a query run under another — NTZ stays on the
    * lexicographic canonical-string path.
    */
  private def epochExpr(dt: DataType, c: Column): Option[Column] = dt match {
    case TimestampType => Some(unix_micros(c))
    case DateType => Some(unix_date(c).cast("long"))
    case _ => None
  }

  private def perFileStats(df: DataFrame, cols: Seq[String],
      fileKey: Option[Column] = None): DataFrame = {
    val aggs = cols.flatMap { c =>
      val numericMin =
        if (isNumeric(df.schema(c).dataType)) min(col(c)).cast("double")
        else lit(null).cast("double")
      val numericMax =
        if (isNumeric(df.schema(c).dataType)) max(col(c)).cast("double")
        else lit(null).cast("double")
      Seq(
        min(col(c)).cast("string").as(s"min_str__$c"),
        max(col(c)).cast("string").as(s"max_str__$c"),
        numericMin.as(s"min_num__$c"),
        numericMax.as(s"max_num__$c")) ++
        epochExpr(df.schema(c).dataType, col(c)).toSeq.flatMap(e => Seq(
          min(e).as(s"min_ts__$c"), max(e).as(s"max_ts__$c")))
    } :+ count(lit(1)).as("row_count")
    df.groupBy(fileKey.getOrElse(input_file_name()).as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The predicate-side half of the canonical-epoch contract: the pushed
    * filter value (whatever vintage of Java time object Spark hands the
    * V1 source) → the same integer [[epochExpr]] recorded. None = not a
    * time value this contract covers (caller keeps the file,
    * conservative).
    */
  private[graft] def toEpochCanonical(dt: DataType, v: Any): Option[Long] =
    (dt, v) match {
      case (TimestampType, t: java.sql.Timestamp) =>
        val i = t.toInstant; Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
      case (TimestampType, i: java.time.Instant) =>
        Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
      case (DateType, d: java.sql.Date) => Some(d.toLocalDate.toEpochDay)
      case (DateType, d: java.time.LocalDate) => Some(d.toEpochDay)
      case _ => None
    }

  /** One distributed pass: per file × column min/max (string + numeric). */
  def refresh(spark: SparkSession, tablePath: String,
      columns: Seq[String] = Nil): Unit = {
    // stamp BEFORE the build: any commit claimed after this point means
    // the manifest under construction may not describe that writer's
    // files — the swap below re-checks and aborts (conservative)
    val stamp0 = new MedallionTable(spark, tablePath).commitStamp()
    // manifest columns are LOGICAL names (what pushed predicates use) —
    // project renamed physical columns back before any stats run; a
    // shallow clone's manifest covers pointer files too
    val isClone = ShallowClone.isClone(spark, tablePath)
    val snap = TableSnapshot.of(new MedallionTable(spark, tablePath))
    val tm = snap.meta
    val rawBase =
      if (isClone)
        // a shallow clone's scanFiles covers the source's pointed-at
        // batch files AND the clone's OWN committed batches — so no
        // batch fold may run below, or batch rows aggregate twice and
        // the manifest row_count (the metadata COUNT(*) path) inflates
        tm.reader(spark).parquet(ShallowClone.scanFiles(spark, tablePath): _*)
      else (tm.readerSchema, tm.physicalSchema) match {
        // mixed narrow/wide footers: the single-footer schema pick (and
        // mergeSchema alike) break under a live widening — the recorded
        // wide schema is authoritative
        case (Some(s), _) => spark.read.schema(s).parquet(tablePath)
        // base emptied while batches hold the data (incremental
        // clustering's steady state, or a fully-deleted table): no
        // footers to infer from — seed from the recorded schema in
        // physical names, exactly like the table read's empty branch
        case (None, Some(s))
            if !snap.hasData =>
          spark.read.schema(s).parquet(tablePath)
        case _ => spark.read.parquet(tablePath)
      }
    // a deletion vector changes what readers SEE without touching files:
    // stats (row counts above all — the metadata COUNT(*) path) must
    // describe the DV-applied view, keyed by the file captured BEFORE
    // the anti-join (input_file_name is undefined after it). Committed
    // DV-update batches are folded per branch the same way the table
    // read does, so the manifest covers their rows too.
    val dvPath = DeletionVectors.dir(tablePath)
    val hasBatches = !isClone &&
      DvUpdates.committedBatches(spark, tablePath).nonEmpty
    val (df, fileKey) =
      if (!DeletionVectors.exists(spark, dvPath) && !hasBatches)
        (ColumnMap.toLogical(rawBase, tm.colMap), None)
      else {
        def prep(d: org.apache.spark.sql.DataFrame) =
          d.withColumn("__stats_file", col("_metadata.file_path"))
        val baseApplied =
          DeletionVectors.applied(spark, prep(rawBase), dvPath, tablePath)
        // clone: batch files are in rawBase already (see above); their
        // marks resolve through the same one anti-join, so folding
        // committedScans here would be the read-side double-count's
        // stats twin
        val folded =
          if (isClone) baseApplied
          else DvUpdates.foldBatches(spark, tablePath, baseApplied, prep)
        (ColumnMap.toLogical(folded, tm.colMap), Some(col("__stats_file")))
      }
    val cols = (if (columns.nonEmpty) columns else df.columns.toSeq)
      .filter(c => c != "__stats_file" && statsWorthy(df.schema(c).dataType))
    // a leftover pending dir from a crashed incremental update is junk
    // once a full rebuild lands
    val pp = new org.apache.hadoop.fs.Path(pendingPath(tablePath))
    pp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(pp, true)
    // Build into a PRIVATE staging dir, then commit by swap under the
    // stats lock with a commit-stamp re-check (MedallionTable
    // .commitManifestSwap): two concurrent refreshes no longer collide
    // in a shared `_temporary`, and a refresh racing a WRITER aborts
    // instead of landing a manifest that does not describe the writer's
    // files — manifest absent is merely conservative, manifest stale is
    // silent row loss under file skipping.
    // staging lives in the COMMITS SIBLING, not under the table root: a
    // dir appearing/renaming inside _graft_meta races every recursive
    // lister (census hashes, data-file sets) into FileNotFound crashes
    val staging = new org.apache.hadoop.fs.Path(SideFiles.commitsDir(tablePath),
      "stats_staging_" + java.util.UUID.randomUUID().toString.take(8)).toString
    perFileStats(df, cols, fileKey)
      .coalesce(1) // manifest is tiny: one row per data file
      .write.mode("overwrite").parquet(staging)
    writeCovered(spark, staging, cols)
    new MedallionTable(spark, tablePath).commitManifestSwap(stamp0, staging)
  }

  /** Covered-column sidecar inside the manifest dir: `_covered.txt`
    * travels with every stats/pending rename and lets incremental
    * updates learn the covered set with ONE driver text read instead of
    * a parquet schema-inference pass over the (one-file-per-append)
    * manifest dir — a per-commit job in the measured floor
    * (CommitFloorProbe). Underscore-prefixed, so manifest parquet scans
    * ignore it.
    */
  private def writeCovered(spark: SparkSession, dir: String,
      cols: Seq[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, "_covered.txt")
    SideFiles.write(p.getFileSystem(spark.sparkContext.hadoopConfiguration),
      p, cols.mkString("\n"))
  }

  private def readCovered(spark: SparkSession,
      dir: String): Option[Seq[String]] = {
    val p = new org.apache.hadoop.fs.Path(dir, "_covered.txt")
    SideFiles.read(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
      .map(_.split('\n').toSeq.filter(_.nonEmpty))
  }

  /** Driver-side per-file stats rows from parquet FOOTER metadata — the
    * commit-floor fast path for [[completeIncrementalUpdate]]. The
    * incremental stats job was the measured floor's biggest term
    * (CommitFloorProbe r18: ~115-150 ms/commit of a ~350 ms stats-armed
    * commit sat in one Spark job re-reading the batch it just wrote);
    * the footers of those freshly self-written files already carry
    * min/max/null-count per column chunk, readable in ~1 ms/file with
    * zero jobs.
    *
    * Correctness gates — `None` (whole-batch fallback to the job path,
    * never a mixed manifest) unless EVERY covered column of EVERY file
    * is exactly representable:
    *   - types: String / Byte / Short / Int / Long / Date / Timestamp.
    *     Float and Double are excluded because parquet writers silently
    *     drop NaN from chunk min/max while Spark's min/max order NaN
    *     greatest — a footer bound could under-report MAX to
    *     [[aggregateFromManifest]]. Timestamps engage ONLY when the file
    *     stores INT64 TIMESTAMP(MICROS, UTC) (the engine sessions set
    *     `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`);
    *     legacy INT96 chunks carry deprecated, ordering-unreliable
    *     min/max (PARQUET-1065) and fail the gate per file. Decimal/NTZ
    *     stay excluded for representation subtleties.
    *   - every chunk must carry usable statistics: values present, or a
    *     set null-count proving the chunk all-null; a >4 KB string makes
    *     parquet omit chunk stats → that file fails the gate.
    *   - string bounds come back EXACT (parquet chunk stats are written
    *     untruncated by this engine's own writer — the only writer of
    *     append batches; parquet's unsigned-lexicographic binary order
    *     equals Spark's UTF8String order, and block merging uses
    *     parquet's own comparator via `mergeStatistics`).
    *   - hive partition columns (absent from footers) are reconstructed
    *     from the file's `k=v` path segments, typed through the table
    *     schema — min = max = the partition value, as the job path
    *     computes; `__HIVE_DEFAULT_PARTITION__` reads as null.
    * `spark.graft.footerStats=false` disables the path outright.
    *
    * Returns rows in the exact column layout [[perFileStats]] produces
    * (file, then min_str/max_str/min_num/max_num[/min_ts/max_ts] per
    * present column, row_count, then 4 null columns per missing covered
    * column) so both paths' part-files coexist in one manifest dir.
    */
  private[table] def footerStatsRows(spark: SparkSession, tablePath: String,
      newFiles: Seq[String], readSchema: Option[StructType],
      covered: Seq[String], colMap: Map[String, String] = Map.empty)
      : Option[(StructType, Seq[org.apache.spark.sql.Row])] = {
    import org.apache.hadoop.fs.Path
    if (!spark.conf.getOption("spark.graft.footerStats").forall(_.toBoolean))
      return None
    // scale guard: footer reads are DRIVER work (~1-5 ms/file, pooled
    // 16-wide below). Small batches — the commit-floor shape this path
    // exists for — win outright; a many-thousand-file batch belongs on
    // the distributed job, which scales out with the cluster instead of
    // serializing on the driver.
    val maxFiles = spark.conf.getOption("spark.graft.footerStatsMaxFiles")
      .flatMap(_.toIntOption).getOrElse(256)
    if (newFiles.size > maxFiles) return None
    val schema = readSchema.getOrElse(return None)
    val reverse = colMap.map(_.swap) // physical -> logical
    def logicalOf(p: String) = reverse.getOrElse(p, p)
    // Resolve covered -> schema columns with the SESSION's resolver, the
    // same way footer fields and hive path segments are matched below.
    // Under spark.sql.caseSensitive=false (the default) a covered column
    // whose manifest-recorded case differs from the current schema
    // spelling must still engage the footer path — a case-sensitive
    // `contains` here silently fell back to the job path (correct but
    // defeating the floor cut) and was asymmetric with the
    // equalsIgnoreCase matching on the footer side.
    val resolver = spark.sessionState.analyzer.resolver
    val logicalCols = schema.fieldNames.map(logicalOf).toSeq
    val (present, missing) =
      covered.partition(c => logicalCols.exists(resolver(_, c)))
    val presentFields: Seq[(String, String, DataType)] = present.map { c =>
      val phys = colMap.collectFirst {
        case (l, p) if resolver(l, c) => p
      }.getOrElse(c)
      (c, phys, schema.fields.find(f => resolver(f.name, phys))
        .getOrElse(return None).dataType)
    }
    val okTypes = presentFields.forall {
      case (_, _, StringType | ByteType | ShortType | IntegerType |
        LongType | DateType | TimestampType) => true
      case _ => false
    }
    if (!okTypes) return None

    // manifest schema, mirroring perFileStats' layout exactly
    val fields = Seq(StructField("file", StringType)) ++
      presentFields.flatMap { case (c, _, dt) =>
        Seq(StructField(s"min_str__$c", StringType),
          StructField(s"max_str__$c", StringType),
          StructField(s"min_num__$c", DoubleType),
          StructField(s"max_num__$c", DoubleType)) ++
          (if (dt == DateType || dt == TimestampType)
            Seq(StructField(s"min_ts__$c", LongType),
              StructField(s"max_ts__$c", LongType))
          else Nil)
      } ++ Seq(StructField("row_count", LongType)) ++
      missing.flatMap(c => Seq(StructField(s"min_str__$c", StringType),
        StructField(s"max_str__$c", StringType),
        StructField(s"min_num__$c", DoubleType),
        StructField(s"max_num__$c", DoubleType)))
    val rowSchema = StructType(fields)

    val hconf = spark.sessionState.newHadoopConf()
    // String-bound exactness assumes UNTRUNCATED chunk statistics (the
    // engine's own writer leaves parquet's truncation off). If the user
    // configures parquet.statistics.truncate.length (spark.hadoop.*),
    // truncated BINARY bounds still pass the usable gate but are not
    // values present in the data — a metadata MIN/MAX answer would
    // fabricate a string. Numerics/dates are untruncatable; gate only
    // batches with a string-covered column.
    if (presentFields.exists(_._3 == StringType) &&
        hconf.get("parquet.statistics.truncate.length") != null)
      return None
    val tRoot = new Path(tablePath)
    val fsys = tRoot.getFileSystem(hconf)
    val rootUri = fsys.makeQualified(tRoot).toUri
    val defaultPart = "__HIVE_DEFAULT_PARTITION__"
    def partitionValues(f: Path): Map[String, String] = {
      val rel = rootUri.relativize(fsys.makeQualified(f).toUri).getPath
      rel.split('/').iterator.filter(_.contains('=')).map { seg =>
        val i = seg.indexOf('=')
        seg.substring(0, i) ->
          GraftColumnBridge.unescapePathName(seg.substring(i + 1))
      }.toMap
    }
    // typed stat cells for one column of one file: (minStr, maxStr,
    // minNum, maxNum, minTs, maxTs) — all-null for an all-null/absent col
    type Cells = (String, String, java.lang.Double, java.lang.Double,
      java.lang.Long, java.lang.Long)
    val nullCells: Cells = (null, null, null, null, null, null)
    def cellsOf(dt: DataType, minV: Any, maxV: Any): Cells = dt match {
      case StringType =>
        (minV.asInstanceOf[String], maxV.asInstanceOf[String], null, null,
          null, null)
      case DateType =>
        val (lo, hi) = (minV.asInstanceOf[Int], maxV.asInstanceOf[Int])
        (java.time.LocalDate.ofEpochDay(lo.toLong).toString,
          java.time.LocalDate.ofEpochDay(hi.toLong).toString,
          null, null, Long.box(lo.toLong), Long.box(hi.toLong))
      case TimestampType =>
        // INT64 micros straight from the chunk stats; the string cells
        // use Spark's own cast-to-string formatter (session zone,
        // trailing-zero-trimmed fraction) so both manifest paths render
        // byte-identically
        val (lo, hi) = (minV.asInstanceOf[Long], maxV.asInstanceOf[Long])
        val fmt = org.apache.spark.sql.catalyst.util.TimestampFormatter
          .getFractionFormatter(org.apache.spark.sql.catalyst.util
            .DateTimeUtils.getZoneId(
              spark.sessionState.conf.sessionLocalTimeZone))
        (fmt.format(lo), fmt.format(hi), null, null,
          Long.box(lo), Long.box(hi))
      case _ => // byte/short/int/long
        val (lo, hi) = (minV.asInstanceOf[Number].longValue(),
          maxV.asInstanceOf[Number].longValue())
        // match the job path's rendering: cast through the DECLARED type
        def render(v: Long) = dt match {
          case ByteType => v.toByte.toString
          case ShortType => v.toShort.toString
          case IntegerType => v.toInt.toString
          case _ => v.toString
        }
        (render(lo), render(hi), Double.box(lo.toDouble),
          Double.box(hi.toDouble), null, null)
    }

    def fileRow(f: String): Option[org.apache.spark.sql.Row] = {
      val fp = new Path(f)
      val footer =
        try {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(fp, hconf))
          try r.getFooter finally r.close()
        } catch { case scala.util.control.NonFatal(_) => return None }
      val blocks = footer.getBlocks
      val rowCount = {
        var n = 0L
        blocks.forEach(b => n += b.getRowCount)
        n
      }
      val fileSchema = footer.getFileMetaData.getSchema
      val parts = partitionValues(fp)
      val cells: Seq[Cells] = presentFields.map { case (_, phys, dt) =>
        // hive partition column: value is in the path, not the footer
        parts.keys.find(_.equalsIgnoreCase(phys)) match {
          case Some(k) =>
            val raw = parts(k)
            if (raw == defaultPart) nullCells
            else try dt match {
              case StringType => cellsOf(dt, raw, raw)
              case DateType =>
                val d = java.time.LocalDate.parse(raw).toEpochDay.toInt
                cellsOf(dt, d, d)
              case _ => val v = raw.toLong; cellsOf(dt, v, v)
            } catch { case scala.util.control.NonFatal(_) => return None }
          case None =>
            val matches = (0 until fileSchema.getFieldCount)
              .map(fileSchema.getFieldName)
              .filter(_.equalsIgnoreCase(phys))
            if (matches.isEmpty) nullCells // absent column reads as null
            else if (matches.size > 1) return None
            else {
              val name = matches.head
              var merged: org.apache.parquet.column.statistics
                .Statistics[_] = null
              val it = blocks.iterator()
              while (it.hasNext) {
                val b = it.next()
                val chunk = {
                  var found: org.apache.parquet.hadoop.metadata
                    .ColumnChunkMetaData = null
                  b.getColumns.forEach { c =>
                    if (c.getPath.size() == 1 && c.getPath.toArray()(0) == name)
                      found = c
                  }
                  found
                }
                if (chunk == null) return None
                // timestamp gate: only INT64 TIMESTAMP(MICROS, UTC) chunks
                // carry trustworthy bounds — legacy INT96 stats use a
                // deprecated, ordering-unreliable comparator (PARQUET-1065)
                if (dt == TimestampType) {
                  import org.apache.parquet.schema.LogicalTypeAnnotation
                  val pt = chunk.getPrimitiveType
                  val okTs = pt.getPrimitiveTypeName ==
                    org.apache.parquet.schema.PrimitiveType
                      .PrimitiveTypeName.INT64 &&
                    (pt.getLogicalTypeAnnotation match {
                      case t: LogicalTypeAnnotation
                          .TimestampLogicalTypeAnnotation =>
                        t.isAdjustedToUTC &&
                          t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
                      case _ => false
                    })
                  if (!okTs) return None
                }
                val st = chunk.getStatistics
                // usable = carries values, or proves the chunk all-null
                val usable = st != null && (st.hasNonNullValue ||
                  (st.isNumNullsSet && st.getNumNulls == chunk.getValueCount))
                if (!usable) return None
                if (merged == null)
                  merged = st.copy.asInstanceOf[
                    org.apache.parquet.column.statistics.Statistics[_]]
                else
                  try merged.mergeStatistics(st)
                  catch { case scala.util.control.NonFatal(_) => return None }
              }
              if (merged == null || !merged.hasNonNullValue) nullCells
              else {
                val (minV, maxV) = merged match {
                  case b: org.apache.parquet.column.statistics
                      .BinaryStatistics =>
                    (b.genericGetMin.toStringUsingUTF8,
                      b.genericGetMax.toStringUsingUTF8)
                  case s => (s.genericGetMin, s.genericGetMax)
                }
                try cellsOf(dt, minV, maxV)
                catch { case scala.util.control.NonFatal(_) => return None }
              }
            }
        }
      }
      val values = Seq(fsys.makeQualified(fp).toString) ++
        presentFields.zip(cells).flatMap { case ((_, _, dt), c) =>
          Seq(c._1, c._2, c._3, c._4) ++
            (if (dt == DateType || dt == TimestampType) Seq(c._5, c._6)
             else Nil)
        } ++ Seq(Long.box(rowCount)) ++
        missing.flatMap(_ => Seq(null, null, null, null))
      Some(org.apache.spark.sql.Row.fromSeq(values))
    }

    // Footer reads are ~1-5 ms of driver-side IO each; a 32-file batch
    // read SEQUENTIALLY loses to the parallel stats job it replaces
    // (within-epoch A/B at sf0.1: footer-on slower on every commit-heavy
    // query until this pool landed). Bounded parallelism keeps the
    // multi-file case ahead; a single-file batch skips the pool.
    val rowOpts: Seq[Option[org.apache.spark.sql.Row]] =
      if (newFiles.size <= 1) newFiles.map(fileRow)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, newFiles.size))
        try {
          val futs = newFiles.map(f => pool.submit(
            new java.util.concurrent.Callable[Option[org.apache.spark.sql.Row]] {
              override def call() =
                try fileRow(f)
                catch { case scala.util.control.NonFatal(_) => None }
            }))
          futs.map(_.get())
        } finally pool.shutdown()
      }
    if (rowOpts.exists(_.isEmpty)) None
    else Some((rowSchema, rowOpts.map(_.get)))
  }

  /** Driver-side manifest part-file write (parquet-mr Group API) — a
    * handful of stats rows never needs a Spark job; the 1-task write's
    * scheduling alone measured ~90 ms/commit. The part lands under a
    * unique name directly in the manifest dir (the caller's append-mode
    * contract); a torn file from a crash sits in `stats_pending`, which
    * the next writer's [[beginIncrementalUpdate]] clears — same
    * manifest-absent-never-stale guarantee as the job path.
    */
  private def writeManifestPart(spark: SparkSession, dir: String,
      rowSchema: StructType, rows: Seq[org.apache.spark.sql.Row]): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val b = Types.buildMessage()
    rowSchema.fields.foreach { f =>
      f.dataType match {
        case StringType => b.addField(Types.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name))
        case DoubleType =>
          b.addField(Types.optional(PrimitiveTypeName.DOUBLE).named(f.name))
        case LongType =>
          b.addField(Types.optional(PrimitiveTypeName.INT64).named(f.name))
        case dt => throw new IllegalArgumentException(
          s"manifest writer: unexpected type $dt for ${f.name}")
      }
    }
    val msg = b.named("graft_stats")
    val hconf = spark.sessionState.newHadoopConf()
    val out = new org.apache.hadoop.fs.Path(dir,
      s"part-footer-${java.util.UUID.randomUUID().toString.take(12)}.parquet")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(out, hconf))
      .withType(msg).withConf(hconf)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { r =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(msg)
      rowSchema.fields.zipWithIndex.foreach { case (f, i) =>
        val v = r.get(i)
        if (v != null) f.dataType match {
          case StringType => g.append(f.name,
            org.apache.parquet.io.api.Binary.fromString(v.asInstanceOf[String]))
          case DoubleType => g.append(f.name, v.asInstanceOf[Double])
          case _ => g.append(f.name, v.asInstanceOf[Long])
        }
      }
      writer.write(g)
    } finally writer.close()
  }

  /** Crash-safe incremental manifest maintenance for APPEND (the one
    * mutation that adds files without touching existing ones). Protocol —
    * the manifest on disk is either COMPLETE or ABSENT, never stale:
    *
    *  1. [[beginIncrementalUpdate]] (before the data write): rename
    *     `stats` → `stats_pending`. From here until completion the table
    *     has NO manifest — readers fall back to full scans, which is
    *     merely conservative. A crash leaves only the pending dir
    *     (harmless junk; `refresh` clears it).
    *  2. write the data files.
    *  3. [[completeIncrementalUpdate]]: append per-file stats rows for
    *     JUST the new files into the pending dir (one job over the new
    *     files — O(batch), the incremental point), then atomically rename
    *     `stats_pending` → `stats`. The rename is the commit: before it,
    *     no manifest; after it, a complete one.
    *
    * Covered columns follow the EXISTING manifest (schema-evolved new
    * columns get no stats until the next full refresh; a covered column
    * missing from the appended batch records null bounds — both
    * conservative under pruning and correct under min/max).
    */
  def beginIncrementalUpdate(spark: SparkSession, tablePath: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sp = new org.apache.hadoop.fs.Path(statsPath(tablePath))
    val pp = new org.apache.hadoop.fs.Path(pendingPath(tablePath))
    fs.delete(pp, true) // stray pending from a crashed predecessor
    fs.exists(sp) && fs.rename(sp, pp)
  }

  /** `meta`: the table record the new files were written under. Its
    * schema in physical names ([[TableMeta.physicalSchema]]) is the
    * authoritative read schema for the new files — an explicit schema
    * skips the `mergeSchema` footer-resolution JOB, the single largest
    * term in the measured per-commit floor (CommitFloorProbe: ~350 ms of
    * a ~500 ms stats-armed commit sat in this method). Any type the
    * explicit schema cannot decode fails the read, which both callers
    * already catch into invalidate — manifest absent, never wrong.
    */
  def completeIncrementalUpdate(spark: SparkSession, tablePath: String,
      newFiles: Seq[String], meta: TableMeta): Unit = {
    val readSchema = meta.physicalSchema
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pp = new org.apache.hadoop.fs.Path(pendingPath(tablePath))
    if (newFiles.nonEmpty) {
      // covered set: the sidecar (one driver text read) when present —
      // a legacy manifest without one pays the schema-inference pass
      // once and gains the sidecar for every later commit
      val covered = readCovered(spark, pendingPath(tablePath)).getOrElse {
        val inferred = spark.read.parquet(pendingPath(tablePath)).schema
          .fieldNames.collect { case f if f.startsWith("min_str__") =>
            f.stripPrefix("min_str__")
          }.toSeq
        writeCovered(spark, pendingPath(tablePath), inferred)
        inferred
      }
      // the no-AQE clone: adaptive execution splits this tiny shuffle
      // into two scheduled JOBS (exchange future + result), doubling the
      // fixed per-commit latency for a query over a handful of rows
      val s1 = SessionCaches.noAqeSession(spark)
      footerStatsRows(spark, tablePath, newFiles, readSchema, covered,
          meta.colMap) match {
        case Some((rowSchema, rows)) =>
          // footer fast path: stats came off the batch files' own
          // parquet metadata driver-side, and the manifest part is
          // written driver-side too — the stats half of the commit
          // schedules ZERO Spark jobs (CommitFloorProbe: the 1-task
          // write job alone was ~90 ms/commit of scheduling)
          writeManifestPart(spark, pendingPath(tablePath), rowSchema, rows)
        case None =>
          val reader = readSchema match {
            case Some(s) => s1.read.schema(s)
            case None => s1.read.option("mergeSchema", "true")
          }
          val df = ColumnMap.toLogical(
            reader.option("basePath", tablePath).parquet(newFiles: _*),
            meta.colMap)
          val (present, missing) = covered.partition(df.columns.contains)
          val stats = missing.foldLeft(perFileStats(df, present)) { (s, c) =>
            s.withColumn(s"min_str__$c", lit(null).cast("string"))
              .withColumn(s"max_str__$c", lit(null).cast("string"))
              .withColumn(s"min_num__$c", lit(null).cast("double"))
              .withColumn(s"max_num__$c", lit(null).cast("double"))
      }
      stats.coalesce(1).write.mode("append").parquet(pendingPath(tablePath))
      }
      // Self-compaction: append mode adds one part-file per commit, so a
      // standing index's manifest fragments without bound — every read
      // and every legacy inference pass would grow with COMMIT COUNT,
      // not file count. Fold the manifest back to one file once it
      // crosses the threshold: one extra tiny job every ~threshold
      // commits, amortized O(1/commit).
      val parts = fs.listStatus(pp).count(st =>
        st.getPath.getName.endsWith(".parquet"))
      if (parts > 32) {
        val tmp = new org.apache.hadoop.fs.Path(
          pendingPath(tablePath) + "_compact")
        fs.delete(tmp, true)
        s1.read.parquet(pendingPath(tablePath)).coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        writeCovered(spark, tmp.toString, covered)
        fs.delete(pp, true)
        if (!fs.rename(tmp, pp))
          throw new java.io.IOException(
            s"stats manifest compaction rename failed for $tablePath")
      }
    }
    // a refresh that committed while this append was in flight (its
    // stamp pre-dated our claim, so its manifest misses our files) loses
    // to the pending manifest, which IS complete: old rows + new files
    fs.delete(new org.apache.hadoop.fs.Path(statsPath(tablePath)), true)
    if (!fs.rename(pp, new org.apache.hadoop.fs.Path(statsPath(tablePath))))
      throw new java.io.IOException(
        s"stats manifest commit rename failed for $tablePath")
  }

  /** Manifest presence. Every table mutation either deletes the stats dir
    * (`invalidateStats`) or swaps `_graft_meta` away wholesale (rewrites),
    * so a PRESENT manifest always describes the live files — the
    * invariant the aggregate pushdown below relies on.
    */
  def hasManifest(spark: SparkSession, tablePath: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(statsPath(tablePath))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Columns the manifest carries min/max for (refresh may cover a
    * subset). Driver-side parquet footer read — no job.
    */
  def coveredColumns(spark: SparkSession, tablePath: String): Set[String] =
    spark.read.parquet(statsPath(tablePath)).schema.fieldNames
      .collect { case f if f.startsWith("min_str__") =>
        f.stripPrefix("min_str__")
      }.toSet

  /** Global aggregates a fresh manifest answers without opening one data
    * file (the `SELECT COUNT(*) / MIN / MAX FROM t` metadata path).
    */
  sealed trait ManifestAgg
  case object RowCount extends ManifestAgg
  final case class ColMin(column: String) extends ManifestAgg
  final case class ColMax(column: String) extends ManifestAgg

  /** Covered columns whose MIN/MAX [[aggregateFromManifest]] answers.
    * TIMESTAMP/DATE columns qualify only when the manifest carries their
    * canonical-epoch cells (`min_ts__`/`max_ts__`): their string cells
    * were rendered in the WRITER's session zone, and casting them back in
    * the reader's zone would shift the result — without the epoch cells
    * the caller scans instead.
    */
  def aggregableColumns(spark: SparkSession, tablePath: String,
      tableSchema: StructType): Set[String] = {
    val fields = spark.read.parquet(statsPath(tablePath)).schema.fieldNames.toSet
    fields.collect { case f if f.startsWith("min_str__") =>
      f.stripPrefix("min_str__")
    }.filter { c =>
      tableSchema.find(_.name == c).forall(f => !isTemporal(f.dataType)) ||
        (fields(s"min_ts__$c") && fields(s"max_ts__$c"))
    }
  }

  private def isTemporal(dt: DataType): Boolean = dt match {
    case TimestampType | DateType => true
    case _ => false
  }

  /** One-row result computed purely from the manifest: COUNT(*) sums the
    * per-file row counts; MIN/MAX re-aggregate the per-file bounds AFTER
    * casting back to the column's own type (per-file bounds were written
    * as canonical strings; casting first keeps ordering numeric where the
    * column is numeric — a lexicographic min over "9","10" would be
    * wrong). String round-trips are exact for the zone-free covered
    * types (longs, shortest-repr doubles, strings); TIMESTAMP/DATE
    * columns read the canonical-epoch cells instead, so the answer does
    * not depend on the reader's session zone ([[aggregableColumns]]). A
    * manifest part predating the epoch cells falls back to its string
    * cell.
    */
  def aggregateFromManifest(spark: SparkSession, tablePath: String,
      specs: Seq[ManifestAgg], tableSchema: StructType): DataFrame = {
    val stats = spark.read.parquet(statsPath(tablePath))
    def bound(side: String, c: String): Column = {
      val dt = tableSchema(c).dataType
      val fromString = col(s"${side}_str__$c").cast(dt)
      val epoch = col(s"${side}_ts__$c")
      dt match {
        case TimestampType => coalesce(timestamp_micros(epoch), fromString)
        case DateType =>
          coalesce(date_from_unix_date(epoch.cast("int")), fromString)
        case _ => fromString
      }
    }
    val aggs = specs.zipWithIndex.map {
      case (RowCount, i) =>
        coalesce(sum(col("row_count")), lit(0L)).as(s"agg_$i")
      case (ColMin(c), i) => min(bound("min", c)).as(s"agg_$i")
      case (ColMax(c), i) => max(bound("max", c)).as(s"agg_$i")
    }
    stats.agg(aggs.head, aggs.tail: _*)
  }

  /** Data files that can hold a row matching ALL the given per-column
    * bound constraints (None = unbounded on that side): the intersection
    * of each column's overlap set, computed in ONE manifest pass. Files
    * with missing stats for a constrained column are kept (conservative).
    * `None` result = no manifest — caller must read everything.
    *
    * Numeric columns compare double-cast bounds, string columns raw
    * values, and TIMESTAMP/DATE columns the canonical-EPOCH integer
    * bounds (`min_ts__`/`max_ts__`, epoch micros / days) — time-range
    * scans being THE dominant access shape at 100 TB, their pruning must
    * not depend on string renderings agreeing (the old footgun; the
    * bounds are now integers end to end). A time constraint whose value
    * isn't a recognized Java time object, or a manifest predating the
    * epoch columns, keeps all files (conservative). TIMESTAMP_NTZ stays
    * excluded ([[epochExpr]]: its epoch depends on the session zone).
    */
  def prunedFiles(spark: SparkSession, tablePath: String,
      bounds: Seq[(String, Option[Any], Option[Any])],
      schema: StructType): Option[Seq[String]] = {
    if (!hasManifest(spark, tablePath)) return None
    val stats = spark.read.parquet(statsPath(tablePath))
    // A partial manifest (ANALYZE ... FOR COLUMNS, or a schema-evolved
    // append whose new column predates the last refresh) may not carry
    // stats for every constrained column. Constraints on uncovered
    // columns contribute nothing (conservative: all files kept for them)
    // instead of referencing absent min_*/max_* columns and failing.
    val statCols = stats.schema.fieldNames.toSet
    val keep = bounds.foldLeft(lit(true)) { case (acc, (c, loOpt, hiOpt)) =>
      // Time columns compare on the canonical-epoch integer bounds
      // ([[epochExpr]]/[[toEpochCanonical]]) — pure longs on both sides,
      // no rendering to mismatch. Numeric/string columns as before.
      val temporal = isTemporal(schema(c).dataType)
      val numeric = isNumeric(schema(c).dataType)
      val (loName, hiName) =
        if (temporal) (s"min_ts__$c", s"max_ts__$c")
        else if (numeric) (s"min_num__$c", s"max_num__$c")
        else (s"min_str__$c", s"max_str__$c")
      def canon(v: Any): Option[Column] =
        if (temporal) toEpochCanonical(schema(c).dataType, v).map(lit(_))
        else if (numeric) Some(lit(v).cast("double"))
        else Some(lit(v))
      if (!statCols.contains(loName) || !statCols.contains(hiName)) acc
      else {
        val (fileLo, fileHi) = (col(loName), col(hiName))
        val missTooLow = hiOpt.flatMap(canon).map(fileLo > _).getOrElse(lit(false))
        val missTooHigh = loOpt.flatMap(canon).map(fileHi < _).getOrElse(lit(false))
        acc && (fileLo.isNull || fileHi.isNull || !(missTooLow || missTooHigh))
      }
    }
    Some(stats.filter(keep).select("file").collect().map(_.getString(0)).toSeq)
  }

  /** Files whose [min,max] for `column` overlaps [lower, upper]. */
  private def candidateFiles(spark: SparkSession, tablePath: String,
      column: String, lower: Column, upper: Column, numeric: Boolean): Seq[String] = {
    val stats = spark.read.parquet(statsPath(tablePath))
    val (lo, hi) =
      if (numeric) (col(s"min_num__$column"), col(s"max_num__$column"))
      else (col(s"min_str__$column"), col(s"max_str__$column"))
    // conservative: keep files with missing stats for the column
    val overlaps = lo.isNull || hi.isNull || !(hi < lower || lo > upper)
    stats.filter(overlaps).select("file").collect().map(_.getString(0)).toSeq
  }

  /** Range read with file skipping + residual filter (result is identical
    * to `read.filter(between)`; only the touched file set shrinks).
    */
  def readRange(spark: SparkSession, tablePath: String, column: String,
      lower: Any, upper: Any): DataFrame = {
    val residual0 = col(column) >= lit(lower) && col(column) <= lit(upper)
    // Soft table state (deletion vectors / DV-update batches): the
    // manifest covers base AND batch files (refresh folds every branch),
    // so pruning still works — rebuild the read's branch union over the
    // CANDIDATE files only, key positions per branch, and pay the same
    // single anti-join the full read pays. This is what keeps range
    // reads file-pruned in incremental clustering's steady state, where
    // ALL data lives in clustered batch dirs. Clones keep the logical
    // fallback (pointer manifests don't subset cleanly).
    if (DeletionVectors.exists(spark, DeletionVectors.dir(tablePath)) ||
        DvUpdates.committedBatches(spark, tablePath).nonEmpty) {
      val mt = new MedallionTable(spark, tablePath)
      val logical = mt.read
      if (ShallowClone.isClone(spark, tablePath) ||
          !hasManifest(spark, tablePath) ||
          !coveredColumns(spark, tablePath).contains(column))
        return logical.filter(residual0)
      val numeric0 = isNumeric(logical.schema(column).dataType)
      val (lo0, hi0) =
        if (numeric0) (lit(lower).cast("double"), lit(upper).cast("double"))
        else (lit(lower.toString), lit(upper.toString))
      val files = candidateFiles(spark, tablePath, column, lo0, hi0, numeric0)
      if (files.isEmpty) return logical.filter(lit(false))
      def norm(s: String): String = s.replaceFirst("^[A-Za-z0-9+.-]+:/+", "/")
      val batchDirs = DvUpdates.committedBatches(spark, tablePath)
        .map(b => DvUpdates.batchDataDir(tablePath, b))
      val tm = mt.meta
      val f = "__graft_dvr_file"
      val x = "__graft_dvr_pos"
      def branch(baseDir: String, subset: Seq[String]) = {
        val r = tm.readerSchema.map(spark.read.schema).getOrElse(spark.read)
        r.option("basePath", baseDir).parquet(subset: _*)
          .withColumn(f, col("_metadata.file_path"))
          .withColumn(x, col("_metadata.row_index"))
      }
      val batchSubsets = batchDirs.map(d =>
        d -> files.filter(fp => norm(fp).startsWith(norm(d) + "/")))
      val inBatches = batchSubsets.flatMap(_._2).toSet
      val baseSubset = files.filterNot(inBatches.contains)
      val branches =
        (if (baseSubset.nonEmpty) Seq(branch(tablePath, baseSubset))
         else Nil) ++
          batchSubsets.collect { case (d, sub) if sub.nonEmpty =>
            branch(d, sub) }
      val unioned = branches
        .reduce(_.unionByName(_, allowMissingColumns = true))
      val appliedDf = DeletionVectors.appliedToKeyed(spark, unioned,
        DeletionVectors.dir(tablePath), tablePath, f, x).drop(f, x)
      return tm.logical(appliedDf).filter(residual0)
    }
    // raw scans carry PHYSICAL names and (under a live widening overlay)
    // mixed narrow/wide footers: project to logical names and the wide
    // reader schema, or a renamed/widened column's range read breaks —
    // the manifest itself is already keyed by logical names
    val tm = new MedallionTable(spark, tablePath).meta
    def scan(paths: Seq[String]): org.apache.spark.sql.DataFrame = {
      val r = tm.readerSchema.map(spark.read.schema).getOrElse(spark.read)
      // basePath keeps hive partition columns recoverable from file paths
      ColumnMap.toLogical(
        if (paths.isEmpty) r.parquet(tablePath)
        else r.option("basePath", tablePath).parquet(paths: _*),
        tm.colMap)
    }
    val full = scan(Nil)
    val residual = col(column) >= lit(lower) && col(column) <= lit(upper)
    val hasStats = {
      val p = new org.apache.hadoop.fs.Path(statsPath(tablePath))
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    if (!hasStats) return full.filter(residual) // manifest absent/stale→rebuilt on demand
    val numeric = isNumeric(full.schema(column).dataType)
    val (lo, hi) =
      if (numeric) (lit(lower).cast("double"), lit(upper).cast("double"))
      else (lit(lower.toString), lit(upper.toString))
    val files = candidateFiles(spark, tablePath, column, lo, hi, numeric)
    val pruned =
      if (files.isEmpty) full.filter(lit(false))
      else scan(files)
    pruned.filter(residual)
  }
}
