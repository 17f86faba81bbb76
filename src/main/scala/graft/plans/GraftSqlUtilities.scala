package graft.plans

import scala.util.matching.Regex

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

import graft.table.MedallionTable

/** Delta's utility SQL statements for graft tables, via a delegating parser
  * (`injectParser` — the same mechanism as Delta's own `DeltaSqlParser`):
  *
  *   - `DESCRIBE HISTORY t | '<path>'`
  *   - `OPTIMIZE t [ZORDER BY (c1, c2)]` / `OPTIMIZE t WHERE <part pred>`
  *   - `VACUUM t [DRY RUN]`
  *   - `COPY INTO t FROM '<dir>' FILEFORMAT = PARQUET|CSV|JSON
  *     [PATTERN = '<glob>']` (idempotent incremental loading,
  *     [[graft.table.CopyInto]])
  *   - `RESTORE [TABLE] t TO TIMESTAMP AS OF '<instant>'`
  *   - `CONVERT TO GRAFT '<dir>' [PARTITIONED BY (c, …)]`
  *     (in-place adoption, metadata-only)
  *   - `RESTORE [TABLE] t TO VERSION AS OF n`
  *   - `SYNC DELTA LOG FOR t` / `CHECKPOINT DELTA LOG FOR t`
  *     ([[graft.table.DeltaLogExport]] — storage-format interop)
  *   - `ALTER TABLE t ADD CONSTRAINT name CHECK (expr)` / `DROP CONSTRAINT`
  *     (claimed ONLY for graft targets — Spark 4.1 parses constraint DDL
  *     natively for v2 tables, so non-graft targets delegate)
  *
  * plus inline `FROM t VERSION AS OF n` / `TIMESTAMP AS OF ts` resolution.
  *
  * Version numbers on this surface are COMMIT ORDINALS — the numbering
  * `DESCRIBE HISTORY` reports (appends included), mapped to archived
  * snapshots via the per-snapshot ordinal stamp
  * ([[MedallionTable.snapshotOrdinals]]). The API's `readVersion` /
  * `restoreVersion` keep their documented snapshot-id space; the SQL
  * surface never exposes snapshot ids, so a describe-then-travel workflow
  * cannot cross numbering spaces.
  *
  * Targets are either a catalog table created `USING graft` (resolved
  * through the session catalog at run time) or a quoted location. Anything
  * the grammar does not match falls through verbatim to the delegate.
  */
class GraftSqlParser(spark: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan = {
    val t = sqlText.trim.stripSuffix(";").trim
    t match {
      case DescribeHistoryRe(target) =>
        GraftDescribeHistoryCommand(target.trim)
      case OptimizeZOrderRe(target, cols) =>
        GraftOptimizeCommand(target.trim,
          cols.split(",").map(stripQuotes).toSeq.filter(_.nonEmpty))
      case OptimizeWhereRe(target, predicate) =>
        GraftOptimizeWhereCommand(target.trim, predicate.trim)
      case OptimizeRe(target) =>
        GraftOptimizeCommand(target.trim, Nil)
      case ReorgPurgeRe(target) =>
        GraftReorgPurgeCommand(target.trim)
      case DescribeDetailRe(target) =>
        GraftDescribeDetailCommand(target.trim)
      case VacuumDryRunRe(target) =>
        GraftVacuumDryRunCommand(target.trim)
      case VacuumRe(target) =>
        GraftVacuumCommand(target.trim)
      case CopyIntoRe(target, source, format, pattern) =>
        GraftCopyIntoCommand(target.trim, stripQuotes(source),
          format.trim.toLowerCase, Option(pattern))
      case ConvertRe(target, parts) =>
        GraftConvertCommand(target.trim,
          Option(parts).toSeq.flatMap(_.split(",").map(stripQuotes)
            .map(_.trim).filter(_.nonEmpty)))
      // ANALYZE is also Spark grammar — claim it only for graft targets
      // (quoted paths always; named tables when the catalog says so).
      case AnalyzeColsRe(target, cols) if isGraftTarget(spark, target) =>
        GraftAnalyzeCommand(target.trim,
          cols.split(",").map(stripQuotes).toSeq.filter(_.nonEmpty))
      case AnalyzeRe(target) if isGraftTarget(spark, target) =>
        GraftAnalyzeCommand(target.trim, Nil)
      case RestoreTsRe(target, instant) =>
        GraftRestoreTimestampCommand(target.trim, instant)
      case RestoreRe(target, version) =>
        GraftRestoreCommand(target.trim, version.toLong)
      case SyncDeltaLogRe(target, materialized) =>
        GraftSyncDeltaLogCommand(target.trim, alsoCheckpoint = false,
          materialize = materialized != null)
      case CheckpointDeltaLogRe(target) =>
        GraftSyncDeltaLogCommand(target.trim, alsoCheckpoint = true)
      case CreateBloomIndexRe(target, cols) =>
        GraftBloomIndexCommand(target.trim,
          cols.split(",").map(stripQuotes).toSeq.filter(_.nonEmpty),
          drop = false)
      case DropBloomIndexRe(target) =>
        GraftBloomIndexCommand(target.trim, Nil, drop = true)
      case SearchBm25Re(target, terms, k) =>
        GraftBm25SearchCommand(target.trim,
          terms.split(",").map(stripQuotes).toSeq.filter(_.nonEmpty),
          k.toInt)
      // Spark 4.1's own grammar handles constraint DDL for v2 tables —
      // claim the statement only when the target is actually ours.
      case ShallowCloneRe(target, source) if isGraftTarget(spark, source) =>
        GraftShallowCloneCommand(target.trim, source.trim)
      // AFTER the shallow case: DeepCloneRe is the no-SHALLOW spelling
      case DeepCloneRe(target, source) if isGraftTarget(spark, source) =>
        GraftDeepCloneCommand(target.trim, source.trim)
      case RenameColumnRe(target, oldName, newName) if isGraftTarget(spark, target) =>
        GraftRenameColumnCommand(target.trim, oldName.trim, newName.trim)
      case AddColumnRe(target, name, typeDdl) if isGraftTarget(spark, target) =>
        GraftAddColumnCommand(target.trim, name.trim, typeDdl.trim)
      case DropColumnDdlRe(target, name) if isGraftTarget(spark, target) =>
        GraftDropColumnCommand(target.trim, name.trim)
      case AddConstraintRe(target, cname, cexpr) if isGraftTarget(spark, target) =>
        GraftAddConstraintCommand(target.trim, cname.trim, cexpr.trim)
      case DropConstraintRe(target, cname) if isGraftTarget(spark, target) =>
        GraftDropConstraintCommand(target.trim, cname.trim)
      case AlterTypeRe(target, cname, typeDdl) if isGraftTarget(spark, target) =>
        GraftAlterColumnTypeCommand(target.trim, cname.trim, typeDdl.trim)
      case SetDefaultRe(target, cname, dexpr) if isGraftTarget(spark, target) =>
        GraftColumnDefaultCommand(target.trim, cname.trim, Some(dexpr.trim))
      case DropDefaultRe(target, cname) if isGraftTarget(spark, target) =>
        GraftColumnDefaultCommand(target.trim, cname.trim, None)
      case SetNotNullRe(target, cname) if isGraftTarget(spark, target) =>
        GraftNotNullCommand(target.trim, cname.trim, set = true)
      case DropNotNullRe(target, cname) if isGraftTarget(spark, target) =>
        GraftNotNullCommand(target.trim, cname.trim, set = false)
      case EnableCdfRe(target) if isGraftTarget(spark, target) =>
        GraftEnableCdfCommand(target.trim)
      case EnableRowTrackingRe(target) if isGraftTarget(spark, target) =>
        GraftEnableRowTrackingCommand(target.trim)
      case SetGeneratedRe(target, name, exprSql) if isGraftTarget(spark, target) =>
        GraftGeneratedColumnCommand(target.trim, name.trim, Some(exprSql.trim))
      case DropGeneratedRe(target, name) if isGraftTarget(spark, target) =>
        GraftGeneratedColumnCommand(target.trim, name.trim, None)
      case SetIdentityRe(target, name, start, step)
          if isGraftTarget(spark, target) =>
        GraftIdentityColumnCommand(target.trim, name.trim, add = true,
          Option(start).map(_.toLong).getOrElse(1L),
          Option(step).map(_.toLong).getOrElse(1L))
      case DropIdentityRe(target, name) if isGraftTarget(spark, target) =>
        GraftIdentityColumnCommand(target.trim, name.trim, add = false, 1L, 1L)
      case _ => resolveTimeTravel(delegate.parsePlan(sqlText))
    }
  }

  /** Inline `SELECT … FROM t VERSION AS OF n` / `TIMESTAMP AS OF ts` over
    * graft catalog tables: Spark parses these natively into
    * [[RelationTimeTravel]] but the session catalog cannot load versioned
    * tables, so the graft-owned nodes are swapped for the state-at-ordinal
    * read here (non-graft targets pass through for Spark's own handling).
    * `TIMESTAMP AS OF` resolves to the newest commit at or before the
    * instant (Delta semantics) via the history mtimes.
    */
  private def resolveTimeTravel(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel =>
        graftSnapshotFor(tt).getOrElse(tt)
    }

  private def graftSnapshotFor(
      tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel)
      : Option[LogicalPlan] = {
    val identParts = tt.relation match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
        u.multipartIdentifier
      case _ => return None
    }
    val ident = identParts match {
      case Seq(name)     => TableIdentifier(name)
      case Seq(db, name) => TableIdentifier(name, Some(db))
      case Seq(cat, db, name) if cat.equalsIgnoreCase("spark_catalog") =>
        TableIdentifier(name, Some(db))
      case _ => return None
    }
    val catalog = spark.sessionState.catalog
    // temp views and foreign tables fall through to Spark's own handling
    if (catalog.isTempView(identParts) || !catalog.tableExists(ident)) return None
    val meta = catalog.getTableMetadata(ident)
    if (!meta.provider.exists(_.equalsIgnoreCase("graft"))) return None
    val mt = new MedallionTable(spark, meta.location.toString)
    val ordinal = (tt.version, tt.timestamp) match {
      case (Some(v), _) => v.toLong
      case (None, Some(tsExpr)) =>
        // String instants go through Spark's own timestamp parser in the
        // SESSION time zone (accepts date-only forms too) — a JVM-default-
        // zone java.sql parse would shift the resolved snapshot.
        val zone = org.apache.spark.sql.catalyst.util.DateTimeUtils
          .getZoneId(spark.sessionState.conf.sessionLocalTimeZone)
        val millis = tsExpr match {
          case org.apache.spark.sql.catalyst.expressions.Literal(s, StringType) =>
            org.apache.spark.sql.catalyst.util.DateTimeUtils
              .stringToTimestamp(
                org.apache.spark.unsafe.types.UTF8String.fromString(s.toString),
                zone)
              .getOrElse(throw new IllegalArgumentException(
                s"cannot parse TIMESTAMP AS OF instant: $s")) / 1000L
          case e => e.eval() match {
            case micros: java.lang.Long => micros / 1000L // TimestampType
            case other => throw new IllegalArgumentException(
              s"cannot evaluate TIMESTAMP AS OF expression: $other")
          }
        }
        // fullHistory: the journal keeps instants addressable past the
        // live HistoryDepth window, so TIMESTAMP AS OF spans the whole
        // retained-snapshot range, not the last 8 commits
        val at = mt.fullHistory().filter(_._3 <= millis).map(_._1)
        if (at.isEmpty) throw new IllegalArgumentException(
          s"no retained version of ${ident.unquotedString} at or before " +
            new java.sql.Timestamp(millis))
        at.max
      case _ => return None
    }
    // Commit-ordinal space throughout (stamped snapshots or the live
    // table); anything else refuses clearly instead of dying in the scan
    // or silently reading a neighboring snapshot.
    val snapshot = mt.stateAtOrdinal(ordinal).getOrElse(
      throw new IllegalArgumentException(
        s"state at commit $ordinal of ${ident.unquotedString} is not retained " +
          s"(reconstructible commits: ${mt.reconstructibleOrdinals.mkString(", ")})"))
    // keep the table name as a qualifier so `t.col` references still
    // resolve against the substituted snapshot
    Some(SubqueryAlias(ident.table, snapshot.queryExecution.logical))
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    // stored VIEW text re-parses through parseQuery — a view over
    // `t VERSION AS OF n` must resolve here too, not only at CREATE time
    resolveTimeTravel(delegate.parseQuery(sqlText))
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

object GraftSqlParser {
  // target = quoted path, backquoted identifier, or [db.]identifier
  private val T = """('[^']+'|`[^`]+`|[\w.]+)"""
  private[plans] val DescribeHistoryRe: Regex =
    s"""(?is)DESCRIBE\\s+HISTORY\\s+$T""".r
  private[plans] val OptimizeZOrderRe: Regex =
    s"""(?is)OPTIMIZE\\s+$T\\s+ZORDER\\s+BY\\s*\\(([^)]+)\\)""".r
  private[plans] val OptimizeRe: Regex = s"""(?is)OPTIMIZE\\s+$T""".r
  private[plans] val OptimizeWhereRe: Regex =
    s"""(?is)OPTIMIZE\\s+$T\\s+WHERE\\s+(.+)""".r
  private[plans] val VacuumRe: Regex = s"""(?is)VACUUM\\s+$T""".r
  private[plans] val VacuumDryRunRe: Regex =
    s"""(?is)VACUUM\\s+$T\\s+DRY\\s+RUN""".r
  private[plans] val CopyIntoRe: Regex =
    s"""(?is)COPY\\s+INTO\\s+$T\\s+FROM\\s+$T\\s+FILEFORMAT\\s*=\\s*(\\w+)(?:\\s+PATTERN\\s*=\\s*'([^']+)')?""".r
  private[plans] val ConvertRe: Regex =
    s"""(?is)CONVERT\\s+TO\\s+GRAFT\\s+$T(?:\\s+PARTITIONED\\s+BY\\s*\\(([^)]+)\\))?""".r
  private[plans] val DescribeDetailRe: Regex =
    s"""(?is)DESCRIBE\\s+DETAIL\\s+$T""".r
  private[plans] val ReorgPurgeRe: Regex =
    s"""(?is)REORG\\s+TABLE\\s+$T\\s+APPLY\\s*\\(\\s*PURGE\\s*\\)""".r
  private[plans] val AnalyzeColsRe: Regex =
    s"""(?is)ANALYZE\\s+TABLE\\s+$T\\s+COMPUTE\\s+STATISTICS\\s+FOR\\s+COLUMNS\\s+(.+)""".r
  private[plans] val AnalyzeRe: Regex =
    s"""(?is)ANALYZE\\s+TABLE\\s+$T\\s+COMPUTE\\s+STATISTICS""".r
  private[plans] val RestoreRe: Regex =
    s"""(?is)RESTORE\\s+(?:TABLE\\s+)?$T\\s+TO\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)""".r
  private[plans] val RestoreTsRe: Regex =
    s"""(?is)RESTORE\\s+(?:TABLE\\s+)?$T\\s+TO\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'""".r
  private[plans] val SyncDeltaLogRe: Regex =
    s"""(?is)SYNC\\s+DELTA\\s+LOG\\s+FOR\\s+$T(\\s+MATERIALIZED)?""".r
  private[plans] val CheckpointDeltaLogRe: Regex =
    s"""(?is)CHECKPOINT\\s+DELTA\\s+LOG\\s+FOR\\s+$T""".r
  private[plans] val SearchBm25Re: Regex =
    s"""(?is)SEARCH\\s+BM25\\s+INDEX\\s+$T\\s+FOR\\s*\\(([^)]+)\\)\\s+LIMIT\\s+(\\d+)""".r
  private[plans] val CreateBloomIndexRe: Regex =
    s"""(?is)CREATE\\s+BLOOMFILTER\\s+INDEX\\s+ON\\s+(?:TABLE\\s+)?$T\\s+FOR\\s+COLUMNS\\s*\\(([^)]+)\\)""".r
  private[plans] val DropBloomIndexRe: Regex =
    s"""(?is)DROP\\s+BLOOMFILTER\\s+INDEX\\s+ON\\s+(?:TABLE\\s+)?$T""".r
  private[plans] val ShallowCloneRe: Regex =
    s"""(?is)CREATE\\s+TABLE\\s+$T\\s+SHALLOW\\s+CLONE\\s+$T""".r
  private[plans] val DeepCloneRe: Regex =
    s"""(?is)CREATE\\s+TABLE\\s+$T\\s+CLONE\\s+$T""".r
  private[plans] val RenameColumnRe: Regex =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+RENAME\\s+COLUMN\\s+(\\w+)\\s+TO\\s+(\\w+)""".r
  private[plans] val AddColumnRe: Regex =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+ADD\\s+COLUMN\\s+(\\w+)\\s+(.+)""".r
  private[plans] val DropColumnDdlRe: Regex =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+DROP\\s+COLUMN\\s+(\\w+)""".r
  private[plans] val AddConstraintRe: Regex =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+ADD\\s+CONSTRAINT\\s+(\\w+)\\s+CHECK\\s*\\((.+)\\)""".r
  private[plans] val DropConstraintRe: Regex =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+DROP\\s+CONSTRAINT\\s+(\\w+)""".r
  private[plans] val AlterTypeRe: Regex =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+ALTER\\s+COLUMN\\s+(\\w+)\\s+TYPE\\s+(.+)""".r
  private[plans] val SetDefaultRe: Regex =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+ALTER\\s+COLUMN\\s+(\\w+)\\s+SET\\s+DEFAULT\\s+(.+)""".r
  private[plans] val DropDefaultRe: Regex =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+ALTER\\s+COLUMN\\s+(\\w+)\\s+DROP\\s+DEFAULT""".r
  private[plans] val SetNotNullRe: Regex =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+ALTER\\s+COLUMN\\s+(\\w+)\\s+SET\\s+NOT\\s+NULL""".r
  private[plans] val DropNotNullRe: Regex =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+ALTER\\s+COLUMN\\s+(\\w+)\\s+DROP\\s+NOT\\s+NULL""".r
  private[plans] val SetGeneratedRe: Regex =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+ADD\\s+GENERATED\\s+COLUMN\\s+(\\w+)\\s+AS\\s*\\((.+)\\)""".r
  private[plans] val DropGeneratedRe: Regex =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+DROP\\s+GENERATED\\s+COLUMN\\s+(\\w+)""".r
  private[plans] val SetIdentityRe: Regex =
    (s"""(?is)ALTER\\s+TABLE\\s+$T\\s+ADD\\s+IDENTITY\\s+COLUMN\\s+(\\w+)""" +
      """(?:\s+START\s+WITH\s+(-?\d+))?(?:\s+STEP\s+BY\s+(-?\d+))?\s*""").r
  private[plans] val DropIdentityRe: Regex =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+DROP\\s+IDENTITY\\s+COLUMN\\s+(\\w+)""".r
  // Delta property-parity surface for the change feed: accept both the
  // delta.* and graft.* property spellings, value true only
  private[plans] val EnableCdfRe: Regex =
    (s"""(?is)ALTER\\s+TABLE\\s+$T\\s+SET\\s+TBLPROPERTIES\\s*\\(\\s*""" +
      """'?(?:delta|graft)\.enableChangeDataFeed'?\s*=\s*'?true'?\s*\)""").r
  private[plans] val EnableRowTrackingRe: Regex =
    (s"""(?is)ALTER\\s+TABLE\\s+$T\\s+SET\\s+TBLPROPERTIES\\s*\\(\\s*""" +
      """'?(?:delta|graft)\.enableRowTracking'?\s*=\s*'?true'?\s*\)""").r

  private[plans] def stripQuotes(s: String): String = {
    val t = s.trim
    if ((t.startsWith("'") && t.endsWith("'")) ||
        (t.startsWith("`") && t.endsWith("`"))) t.substring(1, t.length - 1)
    else t
  }

  /** Post-rewrite cache upkeep: named targets resolve their catalog
    * relation (so CACHE TABLE entries recache); quoted-path targets cover
    * path-derived and read-by-path caches — a CACHE TABLE entry can only
    * be matched through its name, so path-target maintenance of a
    * separately-cataloged location should use the name form.
    */
  private[plans] def refreshTarget(spark: SparkSession, target: String,
      path: String): Unit = {
    val named = if (target.trim.startsWith("'")) None
      else scala.util.Try(
        spark.table(stripQuotes(target.trim)).queryExecution.analyzed).toOption
    GraftDml.invalidateCaches(spark, path, named)
  }

  /** A named catalog table caches its CREATE-time schema — refresh the
    * entry after a metadata-only schema change (rename/add/drop column).
    */
  private[plans] def recreateCatalogEntry(spark: SparkSession,
      target: String, path: String): Unit =
    if (!target.trim.startsWith("'"))
      try {
        spark.sql(s"DROP TABLE IF EXISTS $target")
        spark.sql(s"CREATE TABLE $target USING graft LOCATION '$path'")
      } catch { case scala.util.control.NonFatal(_) => () }

  /** Whether a statement target is ours: a quoted path always is; an
    * identifier is when it resolves to a `USING graft` catalog table.
    * Used to avoid shadowing Spark's native DDL on foreign tables.
    */
  private[plans] def isGraftTarget(spark: SparkSession, target: String): Boolean =
    target.trim.startsWith("'") ||
      scala.util.Try(resolvePath(spark, target)).isSuccess

  /** Target → table location: a quoted string is a path; an identifier
    * resolves through the session catalog and must be a `USING graft`
    * table.
    */
  private[plans] def resolvePath(spark: SparkSession, target: String): String = {
    val t = target.trim
    if (t.startsWith("'")) stripQuotes(t)
    else {
      val parts = stripQuotes(t).split("\\.").toSeq
      val ident = parts match {
        case Seq(name)     => TableIdentifier(name)
        case Seq(db, name) => TableIdentifier(name, Some(db))
        case Seq(cat, db, name) if cat.equalsIgnoreCase("spark_catalog") =>
          TableIdentifier(name, Some(db))
        case _ => throw new IllegalArgumentException(
          s"cannot resolve table identifier '$target'")
      }
      val meta = spark.sessionState.catalog.getTableMetadata(ident)
      if (!meta.provider.exists(_.equalsIgnoreCase("graft")))
        throw new IllegalArgumentException(
          s"$target is not a graft table (provider=${meta.provider.getOrElse("?")})")
      meta.location.toString
    }
  }
}

/** `DESCRIBE HISTORY` — (version, op, timestamp), newest first, bounded by
  * marker retention.
  */
final case class GraftDescribeHistoryCommand(target: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("timestamp", TimestampType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val mt = new MedallionTable(spark, GraftSqlParser.resolvePath(spark, target))
    mt.fullHistory().map { case (v, op, millis) =>
      Row(v, op, new java.sql.Timestamp(millis))
    }
  }
}

/** `SEARCH BM25 INDEX '<path>'|t FOR ('term', …) LIMIT k` — the standing
  * BM25 inverted index ([[graft.text.StandingBm25Index]]) exposed to SQL
  * users: returns the top-k (doc_id, score_micro) by the shared
  * micro-rounded Robertson/Lucene formula, reading only the probed
  * term-bucket directories plus the O(tags) stats rows. The k-row result
  * is command-output-sized by construction. The ANN siblings stay
  * API-side (a query VECTOR has no natural SQL literal form).
  */
final case class GraftBm25SearchCommand(target: String, terms: Seq[String],
    k: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("doc_id", LongType, nullable = false)(),
    AttributeReference("score_micro", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    require(terms.nonEmpty, "SEARCH BM25 INDEX needs at least one term")
    val idx = new graft.text.StandingBm25Index(spark,
      GraftSqlParser.resolvePath(spark, target))
    idx.query(terms, k).collect().toSeq
  }
}

/** `OPTIMIZE [ZORDER BY (…)]` — compaction (+ Z-order clustering) through
  * the rewrite commit protocol; reports the parquet file count change.
  */
final case class GraftOptimizeCommand(target: String, zorderBy: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("files_before", IntegerType, nullable = false)(),
    AttributeReference("files_after", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolvePath(spark, target)
    val before = GraftSqlUtil.nParquet(spark, path)
    val mt = new MedallionTable(spark, path)
    if (zorderBy.nonEmpty) mt.compactZOrder(zorderBy) else mt.compact()
    GraftSqlParser.refreshTarget(spark, target, path)
    Seq(Row(path, before, GraftSqlUtil.nParquet(spark, path)))
  }
}

/** `REORG TABLE t APPLY (PURGE)` — Delta's DV-materialization surface:
  * rewrite the table's soft deletion-vector state (delete marks,
  * UPDATE/MERGE amendment batches) into plain data files. Routed through
  * the same OPTIMIZE rewrite (which reads the DV-applied view and drops
  * `_graft_meta` soft state with the swap), with the guard Delta's REORG
  * has: a table with NO live DV state is a NO-OP — `purged=false`, zero
  * files touched — because paying a 100 TB rewrite to purge nothing is
  * the scale bug this statement exists to avoid.
  */
final case class GraftReorgPurgeCommand(target: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("purged", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolvePath(spark, target)
    val mt = new MedallionTable(spark, path)
    if (!mt.hasDvState) Seq(Row(path, false))
    else {
      mt.compact()
      GraftSqlParser.refreshTarget(spark, target, path)
      Seq(Row(path, true))
    }
  }
}

/** `DESCRIBE DETAIL t` — Delta's one-row table summary: location, live
  * file count and bytes, discovered partition columns, current commit
  * ordinal (the DESCRIBE HISTORY numbering), retained snapshot count,
  * registered CHECK constraints, and whether the stats manifest is
  * present (⇒ current; arms skipping + metadata aggregates).
  */
final case class GraftDescribeDetailCommand(target: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("partition_columns", StringType, nullable = false)(),
    AttributeReference("commit_version", LongType, nullable = false)(),
    AttributeReference("num_retained_snapshots", LongType, nullable = false)(),
    AttributeReference("check_constraints", StringType, nullable = false)(),
    AttributeReference("generated_columns", StringType, nullable = false)(),
    AttributeReference("not_null_columns", StringType, nullable = false)(),
    AttributeReference("identity_columns", StringType, nullable = false)(),
    AttributeReference("row_tracking", BooleanType, nullable = false)(),
    AttributeReference("column_defaults", StringType, nullable = false)(),
    AttributeReference("widened_columns", StringType, nullable = false)(),
    AttributeReference("change_data_feed", BooleanType, nullable = false)(),
    AttributeReference("stats_fresh", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolvePath(spark, target)
    val mt = new MedallionTable(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var (nFiles, bytes) = (0L, 0L)
    // shared listStatus census (FsWalk) — hidden-subtree pruning is the
    // same rule the old rel-segment filter applied, without the
    // ~4.3 ms/file located-status iterator on a table-wide walk
    graft.table.FsWalk.dataParquet(fs, root).foreach { case (st, _) =>
      nFiles += 1; bytes += st.getLen
    }
    // partition columns read off the directory layout (k=v segments),
    // outermost first
    def partCols(p: org.apache.hadoop.fs.Path, acc: Seq[String]): Seq[String] = {
      val sub =
        if (fs.exists(p)) fs.listStatus(p).filter(st =>
          st.isDirectory && st.getPath.getName.contains("="))
        else Array.empty[org.apache.hadoop.fs.FileStatus]
      if (sub.isEmpty) acc
      else partCols(sub.head.getPath,
        acc :+ sub.head.getPath.getName.takeWhile(_ != '='))
    }
    val snapshots = mt.reconstructibleOrdinals
      .filterNot(_ == mt.commitVersion)
    val m = mt.meta
    Seq(Row("graft/parquet", path, nFiles, bytes,
      partCols(root, Nil).mkString(","), mt.commitVersion,
      snapshots.size.toLong,
      m.checks.keys.toSeq.sorted.mkString(","),
      m.generated.keys.toSeq.sorted.mkString(","),
      m.notNull.toSeq.sorted.mkString(","),
      m.identity.keys.toSeq.sorted.mkString(","),
      m.rowTracking,
      m.defaults.toSeq.sortBy(_._1)
        .map { case (n, (_, e)) => s"$n=$e" }.mkString(","),
      mt.widenedColumns.toSeq.sortBy(_._1)
        .map { case (n, t) => s"$n:${t.sql}" }.mkString(","),
      mt.changeDataFeedEnabled,
      graft.table.TableStats.hasManifest(spark, path)))
  }
}

/** `ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS c1, c2]` — builds the
  * file-level min/max manifest ([[graft.table.TableStats.refresh]]),
  * arming manifest file skipping and the metadata-only COUNT/MIN/MAX
  * path on the catalog scan. Reports what the fresh manifest covers.
  */
final case class GraftAnalyzeCommand(target: String, columns: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolvePath(spark, target)
    new MedallionTable(spark, path).refreshStats(columns)
    val m = graft.table.TableStats.aggregateFromManifest(spark, path,
      Seq(graft.table.TableStats.RowCount),
      new MedallionTable(spark, path).read.schema)
    val rows = m.collect()(0).getLong(0)
    val files = spark.read.parquet(s"$path/_graft_meta/stats").count()
    Seq(Row(path, files, rows))
  }
}

/** `CREATE TABLE '<path>' SHALLOW CLONE s` — zero-copy clone
  * ([[graft.table.ShallowClone]]): pointer manifest + read-state
  * metadata copies, no data bytes. The target must be a quoted PATH
  * (a brand-new table needs a location; registering it in the catalog
  * is a separate CREATE TABLE … USING graft LOCATION).
  */
final case class GraftShallowCloneCommand(target: String, source: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("n_pointer_files", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    require(target.startsWith("'") || target.startsWith("`"),
      "SHALLOW CLONE target must be a quoted path — a new table needs a " +
        "location (register a name afterwards with CREATE TABLE … USING " +
        "graft LOCATION)")
    val tgt = GraftSqlParser.stripQuotes(target)
    val src = GraftSqlParser.resolvePath(spark, source)
    val t = new MedallionTable(spark, tgt)
    t.cloneFrom(new MedallionTable(spark, src))
    Seq(Row(tgt,
      graft.table.ShallowClone.sources(spark,
        graft.table.ShallowClone.file(tgt)).size.toLong))
  }
}

/** `CREATE TABLE '<path>' CLONE s` — DEEP clone
  * ([[graft.table.MedallionTable.deepCloneFrom]]): one materialized copy
  * of the source's logical state, registries carried, zero pointer
  * entries — decoupled from source rewrites by construction (the
  * cross-storage copy SHALLOW CLONE cannot give). Target must be a
  * quoted path, like the shallow form.
  */
final case class GraftDeepCloneCommand(target: String, source: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("rows_copied", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    require(target.startsWith("'") || target.startsWith("`"),
      "CLONE target must be a quoted path — a new table needs a " +
        "location (register a name afterwards with CREATE TABLE … USING " +
        "graft LOCATION)")
    val tgt = GraftSqlParser.stripQuotes(target)
    val src = GraftSqlParser.resolvePath(spark, source)
    val s = new MedallionTable(spark, src,
      partitionColumns = GraftSqlUtil.discoveredPartitionColumns(spark, src))
    new MedallionTable(spark, tgt).deepCloneFrom(s)
    Seq(Row(tgt, new MedallionTable(spark, tgt).read.count()))
  }
}

/** `ALTER TABLE t RENAME COLUMN a TO b` — metadata-only rename via the
  * column map ([[graft.table.ColumnMap]]): zero data files touched.
  * Catalog-registered tables have their cached catalog schema refreshed
  * by re-creating the entry (the catalog stores the CREATE-time schema).
  */
final case class GraftRenameColumnCommand(target: String,
    oldName: String, newName: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("renamed", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolvePath(spark, target)
    new MedallionTable(spark, path,
      partitionColumns = GraftSqlUtil.discoveredPartitionColumns(spark, path))
      .renameColumn(oldName, newName)
    GraftSqlParser.recreateCatalogEntry(spark, target, path)
    Seq(Row(path, s"$oldName -> $newName"))
  }
}

/** `ALTER TABLE t ADD COLUMN name type` — metadata-only
  * ([[graft.table.SchemaOverlay]]): reads surface a typed NULL until a
  * write materializes the column.
  */
final case class GraftAddColumnCommand(target: String, name: String,
    typeDdl: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("added", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolvePath(spark, target)
    new MedallionTable(spark, path).addColumn(name, typeDdl)
    GraftSqlParser.recreateCatalogEntry(spark, target, path)
    Seq(Row(path, s"$name $typeDdl"))
  }
}

/** `ALTER TABLE t DROP COLUMN name` — metadata-only tombstone
  * ([[graft.table.SchemaOverlay]]): bytes stay until the next rewrite.
  * The table is constructed with the DISCOVERED partition columns so the
  * partition-column refusal holds on the SQL path too.
  */
final case class GraftDropColumnCommand(target: String, name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("dropped", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolvePath(spark, target)
    new MedallionTable(spark, path,
      partitionColumns = GraftSqlUtil.discoveredPartitionColumns(spark, path))
      .dropColumn(name)
    GraftSqlParser.recreateCatalogEntry(spark, target, path)
    Seq(Row(path, name))
  }
}

/** `CREATE BLOOMFILTER INDEX ON TABLE t FOR COLUMNS (c1, c2)` /
  * `DROP BLOOMFILTER INDEX ON TABLE t` — the Delta-parity SQL surface of
  * [[graft.table.BloomIndex]]: per-file bloom filters arming point-lookup
  * file skipping on the catalog scan (the pruning min/max stats cannot
  * give on a non-clustered column). Reports one row per column built.
  */
final case class GraftBloomIndexCommand(target: String,
    columns: Seq[String], drop: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("column", StringType, nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolvePath(spark, target)
    if (drop) {
      val p = new org.apache.hadoop.fs.Path(s"$path/_graft_meta/bloom")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      Seq(Row(path, "*", 0L))
    } else columns.map { c =>
      graft.table.BloomIndex.build(spark, path, c)
      val n = spark.read.parquet(s"$path/_graft_meta/bloom/$c").count()
      Row(path, c, n)
    }
  }
}

/** `VACUUM` — removes crashed writers' leftover staging/backup directories
  * and stale locks next to the table.
  */
/** `SYNC DELTA LOG FOR t` / `CHECKPOINT DELTA LOG FOR t` — the SQL
  * surface of [[graft.table.DeltaLogExport]]: sync writes the next commit
  * json describing the table's current snapshot (or no-ops at -1 when
  * already in sync); the CHECKPOINT form additionally writes the
  * checkpoint parquet + `_last_checkpoint` pointer external readers seed
  * from.
  */
final case class GraftSyncDeltaLogCommand(target: String,
    alsoCheckpoint: Boolean,
    /** `… MATERIALIZED`: OPTIMIZE away soft state (renames, clones, DVs,
      * DV-update batches) before syncing — the SQL spelling of
      * `DeltaLogExport.sync(materialize = true)`. Without it, soft state
      * refuses with a message naming this escape hatch. */
    materialize: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("synced_version", LongType, nullable = false)(),
    AttributeReference("checkpoint_version", LongType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolvePath(spark, target)
    val synced = graft.table.DeltaLogExport.sync(spark, path, materialize)
    val ck = if (alsoCheckpoint)
      Some(graft.table.DeltaLogExport.checkpoint(spark, path)) else None
    Seq(Row(path, synced, ck.orNull))
  }
}

final case class GraftVacuumCommand(target: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("removed", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolvePath(spark, target)
    Seq(Row(path, new MedallionTable(spark, path).vacuum()))
  }
}

/** Shared filesystem helpers for the utility commands. */
private[plans] object GraftSqlUtil {

  /** Live parquet file count under `path` — hidden subtrees
    * (`_graft_meta` version snapshots, `_delta_log` checkpoints,
    * committer staging) pruned by the shared [[graft.table.FsWalk]]
    * census, which also avoids the per-entry block-location resolution
    * `fs.listFiles(recursive)` pays (~4.3 ms/file; this count runs 2×
    * per OPTIMIZE over the whole table).
    */
  def nParquet(spark: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.table.FsWalk.dataParquet(fs, p).size
  }

  /** Hive partition columns read off the directory layout (k=v path
    * segments), outermost first — the same discovery DESCRIBE DETAIL
    * reports.
    */
  def discoveredPartitionColumns(spark: SparkSession, path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    @scala.annotation.tailrec
    def walk(p: org.apache.hadoop.fs.Path, acc: Seq[String]): Seq[String] = {
      val sub =
        if (fs.exists(p)) fs.listStatus(p).filter(st =>
          st.isDirectory && st.getPath.getName.contains("="))
        else Array.empty[org.apache.hadoop.fs.FileStatus]
      if (sub.isEmpty) acc
      else walk(sub.head.getPath,
        acc :+ sub.head.getPath.getName.takeWhile(_ != '='))
    }
    walk(root, Nil)
  }
}

/** `VACUUM t DRY RUN` — what a real vacuum would do, touching nothing:
  * one row per candidate, action ∈ {delete, restore}
  * ([[MedallionTable.vacuumDryRun]]).
  */
final case class GraftVacuumDryRunCommand(target: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("action", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolvePath(spark, target)
    new MedallionTable(spark, path).vacuumDryRun()
      .map { case (p, action) => Row(p, action) }
  }
}

/** `OPTIMIZE t WHERE <partition predicate>` — partition-scoped compaction
  * ([[MedallionTable.compactWhere]]): only the matching partition
  * directories are rewritten; the predicate must reference partition
  * columns only (refused otherwise — a row predicate under a partition
  * overwrite would drop rows). Reports the file-count change the same way
  * [[GraftOptimizeCommand]] does. Partition columns come off the
  * directory layout, like DESCRIBE DETAIL's discovery.
  */
final case class GraftOptimizeWhereCommand(target: String, predicate: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("files_before", IntegerType, nullable = false)(),
    AttributeReference("files_after", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolvePath(spark, target)
    val partCols = GraftSqlUtil.discoveredPartitionColumns(spark, path)
    require(partCols.nonEmpty,
      s"OPTIMIZE ... WHERE: $path is not hive-partitioned; use plain OPTIMIZE")
    val before = GraftSqlUtil.nParquet(spark, path)
    val mt = new MedallionTable(spark, path, partitionColumns = partCols)
    mt.compactWhere(org.apache.spark.sql.functions.expr(predicate))
    GraftSqlParser.refreshTarget(spark, target, path)
    Seq(Row(path, before, GraftSqlUtil.nParquet(spark, path)))
  }
}

/** `COPY INTO t FROM '<dir>' FILEFORMAT = PARQUET|CSV|JSON` — idempotent
  * incremental file loading ([[graft.table.CopyInto]]): only files no
  * previous COPY INTO loaded are appended; a re-run is a no-op. Returns
  * Delta's shape: (num_inserted_files, num_inserted_rows).
  */
final case class GraftCopyIntoCommand(target: String, source: String,
    format: String, pattern: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("num_inserted_files", IntegerType, nullable = false)(),
    AttributeReference("num_inserted_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolvePath(spark, target)
    val partCols = GraftSqlUtil.discoveredPartitionColumns(spark, path)
    val mt = new MedallionTable(spark, path, partitionColumns = partCols)
    val opts = if (format == "csv")
      Map("header" -> "true", "inferSchema" -> "true")
    else Map.empty[String, String]
    val r = graft.table.CopyInto.copyInto(mt, source, format, opts, pattern)
    GraftSqlParser.refreshTarget(spark, target, path)
    Seq(Row(r.filesLoaded, r.rowsLoaded))
  }
}

/** `CONVERT TO GRAFT '<dir>' [PARTITIONED BY (c, …)]` — in-place adoption
  * of an existing plain-parquet directory ([[MedallionTable.convertInPlace]]):
  * metadata only, zero data bytes moved. The optional PARTITIONED BY must
  * match the directory's hive layout (validated against discovery).
  */
final case class GraftConvertCommand(target: String, partitionCols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("commit_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolvePath(spark, target)
    val discovered = GraftSqlUtil.discoveredPartitionColumns(spark, path)
    require(partitionCols.isEmpty || partitionCols == discovered,
      s"CONVERT TO GRAFT: declared partitioning (${partitionCols.mkString(",")}) " +
        s"does not match the directory layout (${discovered.mkString(",")})")
    val mt = new MedallionTable(spark, path,
      partitionColumns = if (partitionCols.nonEmpty) partitionCols else discovered)
    mt.convertInPlace()
    Seq(Row(path, mt.commitVersion))
  }
}

/** `RESTORE … TO VERSION AS OF n` — rewinds the live table to the state at
  * COMMIT ORDINAL n (the DESCRIBE HISTORY numbering; restoring to the
  * current ordinal is a no-op). The restore is itself a new commit, so it
  * is undoable.
  */
final case class GraftRestoreCommand(target: String, version: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("restored_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolvePath(spark, target)
    val mt = new MedallionTable(spark, path)
    if (version != mt.commitVersion) {
      val snap = mt.snapshotOrdinals.collectFirst {
        case (v, ord) if ord == version => v
      }.getOrElse(throw new IllegalArgumentException(
        s"state at commit $version of $target is not retained " +
          s"(reconstructible commits: ${mt.reconstructibleOrdinals.mkString(", ")})"))
      mt.restoreVersion(snap)
      GraftSqlParser.refreshTarget(spark, target, path)
    }
    Seq(Row(path, version))
  }
}

/** `RESTORE … TO TIMESTAMP AS OF '<instant>'` — Delta's timestamp-based
  * restore: resolves to the newest commit at or before the instant (the
  * inline `TIMESTAMP AS OF` rule, session-zone parsed) and delegates to
  * the ordinal restore.
  */
final case class GraftRestoreTimestampCommand(target: String, instant: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("restored_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolvePath(spark, target)
    val mt = new MedallionTable(spark, path)
    val zone = org.apache.spark.sql.catalyst.util.DateTimeUtils
      .getZoneId(spark.sessionState.conf.sessionLocalTimeZone)
    val millis = org.apache.spark.sql.catalyst.util.DateTimeUtils
      .stringToTimestamp(
        org.apache.spark.unsafe.types.UTF8String.fromString(instant), zone)
      .getOrElse(throw new IllegalArgumentException(
        s"cannot parse TIMESTAMP AS OF instant: $instant")) / 1000L
    val at = mt.fullHistory().filter(_._3 <= millis).map(_._1)
    if (at.isEmpty) throw new IllegalArgumentException(
      s"no retained version of $target at or before " +
        new java.sql.Timestamp(millis))
    GraftRestoreCommand(target, at.max).run(spark)
  }
}

/** `ALTER TABLE … ADD CONSTRAINT name CHECK (expr)` — Delta's quality-gate
  * DDL: validates existing rows on add, then every write enforces the
  * predicate in the write pass (no extra scan) through the same registry
  * the API maintains.
  */
final case class GraftAddConstraintCommand(target: String, cname: String,
    cexpr: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolvePath(spark, target)
    new MedallionTable(spark, path).addCheckConstraint(cname, cexpr)
    Seq.empty
  }
}

/** `ALTER TABLE … DROP CONSTRAINT name`. */
final case class GraftDropConstraintCommand(target: String, cname: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolvePath(spark, target)
    new MedallionTable(spark, path).dropCheckConstraint(cname)
    Seq.empty
  }
}

/** `ALTER TABLE t ALTER COLUMN c TYPE <wider>` — Delta's type-widening
  * table feature ([[graft.table.MedallionTable.alterColumnType]]):
  * metadata-only, no data file touched; existing narrow pages decode
  * through the parquet readers' widening promotion, new writes land
  * wide, and the first full rewrite materializes the overlay away.
  */
final case class GraftAlterColumnTypeCommand(target: String, cname: String,
    typeDdl: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = new MedallionTable(spark, GraftSqlParser.resolvePath(spark, target))
    t.alterColumnType(cname, typeDdl)
    Seq.empty
  }
}

/** `ALTER TABLE t ALTER COLUMN c SET DEFAULT <expr>` / `… DROP DEFAULT`
  * — Delta's allowColumnDefaults parity
  * ([[graft.table.MedallionTable.setColumnDefault]]): constant-foldable
  * expression validated at declare time; insert-class batches that OMIT
  * the column get it filled in-pass, provided columns are untouched,
  * existing rows never change.
  */
final case class GraftColumnDefaultCommand(target: String, cname: String,
    dexpr: Option[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = new MedallionTable(spark, GraftSqlParser.resolvePath(spark, target))
    dexpr match {
      case Some(e) => t.setColumnDefault(cname, e)
      case None => t.dropColumnDefault(cname)
    }
    Seq.empty
  }
}

/** `ALTER TABLE t ALTER COLUMN c SET NOT NULL` / `… DROP NOT NULL` —
  * Delta parity ([[graft.table.MedallionTable.setNotNull]]): SET
  * validates existing rows first, then every write pass gates the
  * column (including DV update/merge staged batches and batches that
  * omit the column); DROP re-opens it.
  */
final case class GraftNotNullCommand(target: String, cname: String,
    set: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = new MedallionTable(spark, GraftSqlParser.resolvePath(spark, target))
    if (set) t.setNotNull(cname) else t.dropNotNull(cname)
    Seq.empty
  }
}

/** `ALTER TABLE t ADD GENERATED COLUMN c AS (expr)` / `… DROP GENERATED
  * COLUMN c` — Delta GENERATED ALWAYS AS parity
  * ([[graft.table.MedallionTable.setGeneratedColumn]]: compute-on-write
  * when missing, null-safe-equality invariant when provided).
  */
final case class GraftGeneratedColumnCommand(target: String, name: String,
    exprSql: Option[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = new MedallionTable(spark, GraftSqlParser.resolvePath(spark, target))
    exprSql match {
      case Some(e) => t.setGeneratedColumn(name, e)
      case None => t.dropGeneratedColumn(name)
    }
    Seq.empty
  }
}

/** `ALTER TABLE t ADD IDENTITY COLUMN c [START WITH n] [STEP BY m]` /
  * `… DROP IDENTITY COLUMN c` — Delta GENERATED ALWAYS AS IDENTITY
  * parity ([[graft.table.MedallionTable.setIdentityColumn]]: BIGINT
  * engine-assigned, dense and collision-free under concurrent writers).
  */
final case class GraftIdentityColumnCommand(target: String, name: String,
    add: Boolean, start: Long, step: Long) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = new MedallionTable(spark, GraftSqlParser.resolvePath(spark, target))
    if (add) t.setIdentityColumn(name, start, step)
    else t.dropIdentityColumn(name)
    Seq.empty
  }
}

/** `ALTER TABLE t SET TBLPROPERTIES (delta.enableChangeDataFeed = true)`
  * — Delta's property spelling (graft.* accepted too) arming the
  * writer-captured change feed ([[graft.table.ChangeFeed]]).
  */
final case class GraftEnableCdfCommand(target: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolvePath(spark, target)
    new MedallionTable(spark, path).enableChangeDataFeed()
    Seq.empty
  }
}

/** `ALTER TABLE t SET TBLPROPERTIES ('delta.enableRowTracking' = 'true')`
  * — Delta row-ID parity ([[graft.table.MedallionTable.enableRowTracking]]:
  * stable `_row_id` via the identity machinery; backfill rewrite on a
  * table with data).
  */
final case class GraftEnableRowTrackingCommand(target: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolvePath(spark, target)
    new MedallionTable(spark, path).enableRowTracking()
    Seq.empty
  }
}

/** Table-valued SQL functions for the read-side maintenance surfaces —
  * Delta's `table_changes(…)` analog plus history-as-a-table:
  *
  *   - `graft_table_changes('<path>', sinceCommit, 'k1' [, 'k2'…])`
  *   - `graft_table_history('<path>')`
  *
  * Arguments must be literals (they parameterize plan construction).
  * `sinceCommit` is a COMMIT ORDINAL (the history numbering); the TVF
  * returns the keyed diff — inserts / updates (pre+post image) / deletes —
  * between that commit's state and the live table, so CDC consumers can
  * stay in pure SQL.
  */
object GraftTableFunctions {
  type TvfInjection =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)

  private def litString(e: Expression, what: String): String = e.eval() match {
    case null => throw new IllegalArgumentException(s"$what must be a literal string")
    case v    => v.toString
  }

  private def litLong(e: Expression, what: String): Long = e.eval() match {
    case n: Number => n.longValue()
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: $other")
  }

  val injections: Seq[TvfInjection] = Seq(
    (new FunctionIdentifier("graft_table_changes"),
      new ExpressionInfo(classOf[MedallionTable].getName, "graft_table_changes"),
      (exprs: Seq[Expression]) => {
        require(exprs.length >= 3,
          "usage: graft_table_changes('<path>', sinceCommit, 'key1'[, 'key2'…])")
        val spark = SparkSession.active
        val path = litString(exprs.head, "path")
        val since = litLong(exprs(1), "sinceCommit")
        val keys = exprs.drop(2).map(litString(_, "key column"))
        new MedallionTable(spark, path).changesSinceOrdinal(since, keys)
          .queryExecution.logical
      }),
    (new FunctionIdentifier("graft_table_history"),
      new ExpressionInfo(classOf[MedallionTable].getName, "graft_table_history"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "usage: graft_table_history('<path>')")
        val spark = SparkSession.active
        val path = litString(exprs.head, "path")
        import spark.implicits._
        new MedallionTable(spark, path).fullHistory()
          .toDF("version", "operation", "ts_millis")
          .queryExecution.logical
      }),
    // Delta's table_changes over the WRITER-CAPTURED feed: O(changed
    // rows), per-commit attribution, no key columns and no snapshot
    // retention needed (graft.table.ChangeFeed) — the snapshot-diff
    // graft_table_changes above remains for un-enabled tables. The first
    // argument is a location OR a `USING graft` catalog table name
    // (Delta's table_changes takes either spelling).
    (new FunctionIdentifier("graft_change_feed"),
      new ExpressionInfo(classOf[MedallionTable].getName, "graft_change_feed"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2 || exprs.length == 3,
          "usage: graft_change_feed('<path or table>', startVersion[, endVersion])")
        val spark = SparkSession.active
        val target = litString(exprs.head, "path or table")
        val path =
          if (target.contains("/")) target
          else GraftSqlParser.resolvePath(spark, target)
        val mt = new MedallionTable(spark, path)
        val from = litLong(exprs(1), "startVersion")
        val to = if (exprs.length == 3) litLong(exprs(2), "endVersion")
          else mt.commitVersion
        mt.readChangeFeed(from, to).queryExecution.logical
      })
  )
}
