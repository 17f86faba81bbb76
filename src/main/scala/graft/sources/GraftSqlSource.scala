package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.MedallionTable

/** Named-table SQL surface for [[graft.table.MedallionTable]] (round-8
  * verdict ask #2): a DataSourceV2 `TableProvider` registered under the
  * short name `graft`, so catalog users can
  *
  * {{{
  *   CREATE TABLE g USING graft LOCATION '/data/silver/orders'
  *   SELECT * FROM g WHERE o_orderkey < 100
  * }}}
  *
  * — the way the reference's users consume its tables by registered name
  * (`silver_table_creation.py:353`, `gold_table_creation.py:103,134`)
  * rather than by path. Reads delegate to `MedallionTable.read`, so the
  * deleted-to-empty schema fallback, `mergeSchema` evolution view, and
  * version layout all behave identically to the API path.
  *
  * Scan shape: the V2 `ScanBuilder` accepts column pruning and filter
  * pushdown, then bridges to the V1 row-scan API ([[V1Scan]], the same
  * shim Spark's own Kafka source uses) whose `buildScan` re-declares the
  * pruned/filtered read as a DataFrame over the underlying parquet —
  * Catalyst therefore pushes the filters and the projection into the
  * PARQUET scan itself (`PushedFilters` in the inner plan), so the
  * named-table path scans no more bytes than the API path. Pushed filters
  * are also left in `postScanFilters` (pushFilters returns its input):
  * re-evaluating them above the scan is semantically free and keeps the
  * translator conservative.
  *
  * Writes: `INSERT INTO g …` appends and `INSERT OVERWRITE g …` replaces,
  * both through the V1 write bridge ([[V1Write]] → `InsertableRelation`)
  * into [[MedallionTable.append]]/[[MedallionTable.overwrite]] — so SQL
  * writes go through the SAME CAS-serialized commit protocol (claimed
  * commits, write fencing) as the API path; nothing bypasses the
  * multi-writer safety layer. MERGE/DELETE/UPDATE stay API-side (Spark
  * routes those through a catalog's `StagedTable`/row-level-op plugins,
  * out of scope for a plain `TableProvider`).
  */
final class GraftSqlSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider {
  override def shortName(): String = "graft"

  /** `df.writeStream.format("graft")` — the Structured Streaming sink
    * (Delta's streaming-sink parity). Registered HERE because the class
    * already owns the `graft` short name (a second DataSourceRegister
    * under it would make every lookup ambiguous); the implementation —
    * exactly-once micro-batch appends via the table layer's
    * txnAppId/txnVersion machinery — lives in
    * [[graft.streaming.GraftStreamSink]].
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink =
    graft.streaming.GraftStreamSink.create(sqlContext, parameters,
      partitionColumns, outputMode)

  // CREATE TABLE stores the inferred schema in the catalog and hands it
  // back on later reads — accept it rather than re-inferring per query.
  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft data source requires LOCATION (or a path option)"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val mt = new MedallionTable(SparkSession.active, pathOf(options))
    Option(options.get(GraftSqlSource.VersionAsOf))
      .map(v => mt.readVersion(v.toInt)).getOrElse(mt.read).schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // CREATE TABLE … PARTITIONED BY (c) arrives as identity transforms;
    // anything fancier (bucket/days/…) has no MedallionTable layout and
    // must refuse rather than silently ignore the clause.
    val partCols = partitioning.toSeq.map { t =>
      if (t.name == "identity" && t.references.length == 1)
        t.references.head.fieldNames.mkString(".")
      else throw new IllegalArgumentException(
        s"graft tables support only identity PARTITIONED BY columns, got: $t")
    }
    new GraftSqlTable(properties.get("path"), schema,
      Option(properties.get(GraftSqlSource.VersionAsOf)).map(_.toInt),
      partCols)
  }
}

object GraftSqlSource {
  /** `OPTIONS (versionAsOf N)` pins the table to a retained snapshot — the
    * catalog twin of [[MedallionTable.readVersion]] (Delta's `VERSION AS
    * OF`). Snapshot tables are read-only: INSERT refuses.
    */
  val VersionAsOf = "versionAsOf"

  /** (location, pinned version) when `t` is a graft catalog table — the
    * hook the SQL DML bridge ([[graft.plans.GraftDmlRule]]) uses to
    * recognize its targets without widening [[GraftSqlTable]]'s
    * visibility.
    */
  def tableLocation(t: org.apache.spark.sql.connector.catalog.Table)
      : Option[(String, Option[Int])] = t match {
    case g: GraftSqlTable => Some((g.location, g.pinnedVersion))
    case _ => None
  }
}

private[sources] final class GraftSqlTable(path: String, tableSchema: StructType,
    versionAsOf: Option[Int] = None, partCols: Seq[String] = Nil)
    extends Table with SupportsRead with SupportsWrite {
  private[sources] def location: String = path
  private[sources] def pinnedVersion: Option[Int] = versionAsOf
  // Value equality: the catalog loads a fresh Table instance per query, and
  // cache invalidation after SQL DML matches cached plans via sameResult —
  // which canonicalizes DataSourceV2Relation down to `table` equality.
  // Reference equality would leave CACHE TABLE entries serving stale rows.
  override def equals(other: Any): Boolean = other match {
    case g: GraftSqlTable =>
      g.location == path && g.pinnedVersion == versionAsOf
    case _ => false
  }
  override def hashCode(): Int = (path, versionAsOf).hashCode()
  override def name(): String =
    s"graft.`$path`" + versionAsOf.map(v => s"@v$v").getOrElse("")
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] =
    partCols.map(c => org.apache.spark.sql.connector.expressions.Expressions
      .identity(c)).toArray
  override def capabilities(): util.Set[TableCapability] =
    // V1_BATCH_WRITE (not BATCH_WRITE): routes the planner to the
    // AppendDataExecV1 path that honors V1Write.toInsertableRelation.
    // AUTOMATIC_SCHEMA_EVOLUTION declares that the table layer CAN evolve
    // under MERGE — Spark's analyzer only acts on it when the statement
    // carries `WITH SCHEMA EVOLUTION` (MergeIntoTable.schemaEvolutionEnabled
    // is the conjunction of the clause and this capability), so plain
    // merges keep their exact refusal semantics.
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(path, tableSchema, versionAsOf)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    versionAsOf.foreach { v =>
      throw new IllegalArgumentException(
        s"table pinned to versionAsOf=$v is read-only — write to the live table instead")
    }
    new GraftWriteBuilder(path, replace = false, partCols)
  }
}

/** INSERT INTO → [[MedallionTable.append]]; INSERT OVERWRITE arrives as
  * `truncate()` + write → [[MedallionTable.overwrite]]. The V1 bridge
  * hands the data over as a DataFrame, which is exactly what the table
  * layer's commit protocol consumes — SQL and API writes share one path.
  */
private[sources] final class GraftWriteBuilder(path: String, replace: Boolean,
    partCols: Seq[String] = Nil)
    extends WriteBuilder with SupportsTruncate {
  override def truncate(): WriteBuilder =
    new GraftWriteBuilder(path, replace = true, partCols)
  override def build(): V1Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          val mt = new MedallionTable(data.sparkSession, path,
            partitionColumns = partCols)
          if (replace || overwrite) mt.overwrite(data) else mt.append(data)
        }
      }
  }
}

private[sources] final class GraftScanBuilder(path: String, fullSchema: StructType,
    versionAsOf: Option[Int] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggPushed: Option[(Seq[graft.table.TableStats.ManifestAgg], StructType)] = None

  override def pruneColumns(requiredSchema: StructType): Unit = {
    if (aggPushed.isDefined) return // output is the agg schema, not table columns
    // empty pruning (e.g. COUNT(*)) keeps one narrowest column: a
    // zero-column scan df has no row count to carry
    required =
      if (requiredSchema.fields.nonEmpty) requiredSchema
      else StructType(fullSchema.fields.take(1))
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(GraftFilterTranslator.translate(_).isDefined)
    filters // conservative: Spark re-evaluates everything post-scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** Metadata-only aggregates (Delta's "answer COUNT(*) from the log"
    * behavior): an ungrouped, unfiltered COUNT(*)/MIN/MAX over a table
    * whose stats manifest is present (writes invalidate it, so present ⇒
    * current — see [[graft.table.TableStats.hasManifest]]) is answered
    * from the manifest without opening one data file. Anything else —
    * filters (Spark skips aggregate pushdown when post-scan filters
    * remain, and ours always remain), GROUP BY, other functions, a
    * column the manifest doesn't cover, a pinned snapshot — falls back
    * to the ordinary scan.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    translateAggregation(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    translateAggregation(agg) match {
      case some @ Some(_) => aggPushed = some; true
      case None => false
    }

  private def translateAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(Seq[graft.table.TableStats.ManifestAgg], StructType)] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.types.{LongType, StructField}
    import graft.table.TableStats
    if (versionAsOf.nonEmpty || pushed.nonEmpty ||
        agg.groupByExpressions.nonEmpty) return None
    val spark = SparkSession.active
    if (!TableStats.hasManifest(spark, path)) return None
    val covered = TableStats.aggregableColumns(spark, path, fullSchema)
    def columnOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 &&
        covered(nr.fieldNames.head) => Some(nr.fieldNames.head)
      case _ => None
    }
    val specs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some((TableStats.RowCount: TableStats.ManifestAgg,
          StructField("count(*)", LongType, nullable = false)))
      case m: Min => columnOf(m.column).map(c =>
        (TableStats.ColMin(c): TableStats.ManifestAgg,
          StructField(s"min($c)", fullSchema(c).dataType)))
      case m: Max => columnOf(m.column).map(c =>
        (TableStats.ColMax(c): TableStats.ManifestAgg,
          StructField(s"max($c)", fullSchema(c).dataType)))
      case _ => None
    }
    if (specs.forall(_.isDefined)) {
      val flat = specs.map(_.get)
      Some((flat.map(_._1), StructType(flat.map(_._2))))
    } else None
  }

  override def build(): Scan = aggPushed match {
    case Some((specs, outSchema)) =>
      new GraftManifestAggScan(path, specs, outSchema, fullSchema)
    case None => new GraftV1Scan(path, required, pushed, versionAsOf, fullSchema)
  }
}

/** One-row scan over the stats manifest — the completely-pushed-down
  * aggregate's data source. Reads `_graft_meta/stats` (one row per data
  * file), never the data.
  */
private[sources] final class GraftManifestAggScan(path: String,
    specs: Seq[graft.table.TableStats.ManifestAgg], outSchema: StructType,
    tableSchema: StructType) extends V1Scan {
  override def readSchema(): StructType = outSchema
  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val relation = new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = outSchema
      override def toString: String = "GraftManifestAggRelation"
      override def buildScan(): RDD[Row] =
        graft.table.TableStats.aggregateFromManifest(context.sparkSession,
          path, specs, tableSchema).rdd
    }
    relation.asInstanceOf[T]
  }
}

private[sources] final class GraftV1Scan(path: String, required: StructType,
    pushed: Array[Filter], versionAsOf: Option[Int] = None,
    fullSchema: StructType = new StructType()) extends V1Scan {
  override def readSchema(): StructType = required
  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    // Manifest-based FILE skipping for pushed range/equality predicates
    // (Delta's data skipping, wired into the SQL scan): when the stats
    // manifest is present (⇒ current — writes invalidate it), a pushed
    // bound on a numeric or string column prunes the file LIST, so a
    // selective query never opens — or even lists into the scan — the
    // files whose [min,max] can't match. Resolved inside buildScan (one
    // tiny driver-side manifest read per execution) so a cached plan
    // re-executed after an append sees the appended files, matching the
    // unpruned path's execute-time table resolution. The plan-time
    // toString count below is best-effort display only.
    def computePruned(): Option[Seq[String]] =
      if (versionAsOf.nonEmpty) None
      // a shallow clone's files live outside the table root: the pruned
      // subset read (basePath-anchored) cannot express them — scan
      // through MedallionTable.read until a rewrite materializes
      else if (graft.table.ShallowClone.isClone(context.sparkSession, path))
        None
      // same boundary for committed DV-update batches: their files live
      // under _graft_meta in their own partition anchor, which the
      // basePath-anchored subset read cannot express — full logical scan
      // until OPTIMIZE materializes, then pruning re-arms
      else if (graft.table.DvUpdates.committedBatches(
          context.sparkSession, path).nonEmpty)
        None
      else {
        val sess = context.sparkSession
        val bounds = pushed.toSeq
          .flatMap(GraftFilterTranslator.pruneBounds(_, required))
        val byStats =
          if (bounds.isEmpty) None
          else graft.table.TableStats.prunedFiles(sess, path, bounds, required)
        // Point lookups additionally consult the per-file bloom index
        // (graft.table.BloomIndex) — the pruning min/max can't give on a
        // non-clustered high-cardinality column. Both prunings are
        // supersets of the matching files, so their intersection is too.
        val byBloom = GraftFilterTranslator.pointLookups(pushed.toSeq)
          .flatMap { case (c, vs) =>
            fullSchema.find(_.name == c).flatMap(f =>
              graft.table.BloomIndex.prunedFiles(sess, path, c, vs, f.dataType))
          }
          .reduceOption { (a, b) =>
            val keep = b.map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath)
              .toSet
            a.filter(f =>
              keep(new org.apache.hadoop.fs.Path(f).toUri.getPath))
          }
        (byStats, byBloom) match {
          case (Some(s), Some(bl)) =>
            val keep = bl
              .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet
            Some(s.filter(f =>
              keep(new org.apache.hadoop.fs.Path(f).toUri.getPath)))
          case (s @ Some(_), None) => s
          case (None, bl) => bl
        }
      }
    // evaluated once, lazily, when the plan is rendered — not at execute
    lazy val planTimePruned: Option[Seq[String]] =
      try computePruned() catch { case scala.util.control.NonFatal(_) => None }
    val relation = new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = required
      override def toString: String = planTimePruned match {
        case Some(files) => s"GraftPrunedScanRelation(${files.size} files)"
        case None => "GraftScanRelation"
      }
      override def buildScan(): RDD[Row] = {
        val pruned = computePruned()
        // Re-declared as a DataFrame so Catalyst pushes the projection and
        // every translated filter into the parquet scan underneath.
        val mt = new MedallionTable(context.sparkSession, path)
        val base = pruned match {
          case Some(Nil) =>
            mt.read.filter(org.apache.spark.sql.functions.lit(false))
          case Some(files) =>
            // mergeSchema as in MedallionTable.read; a schema-evolved
            // column absent from every SURVIVING file is restored as a
            // typed null so the projection below never goes unresolved.
            // The deletion vector applies on the SUBSET scan too — its
            // marks for unread files simply never match.
            val sub = graft.table.ColumnMap.toLogical(
              graft.table.DeletionVectors.applied(
                context.sparkSession,
                context.sparkSession.read
                  .option("mergeSchema", "true").option("basePath", path)
                  .parquet(files: _*),
                s"$path/_graft_meta/dv", path),
              mt.meta.colMap)
            required.fields.foldLeft(sub) { (df, f) =>
              if (df.columns.contains(f.name)) df
              else df.withColumn(f.name,
                org.apache.spark.sql.functions.lit(null).cast(f.dataType))
            }
          case None =>
            val b0 = versionAsOf.map(mt.readVersion).getOrElse(mt.read)
            // catalog schema may run AHEAD of the physical table (merge
            // schema evolution alters the catalog at analysis; a crash
            // before the merge executes leaves the column catalog-only) —
            // surface such columns as typed NULLs, the ADD COLUMN
            // contract, instead of an unresolved projection below
            required.fields.foldLeft(b0) { (df, f) =>
              if (df.columns.contains(f.name)) df
              else df.withColumn(f.name,
                org.apache.spark.sql.functions.lit(null).cast(f.dataType))
            }
        }
        val projected = base.select(required.fieldNames.map(col).toIndexedSeq: _*)
        pushed.flatMap(GraftFilterTranslator.translate)
          .foldLeft(projected)(_.filter(_))
          .rdd
      }
    }
    relation.asInstanceOf[T]
  }
}

/** `sources.Filter` → `Column` for the common pushable shapes; `None`
  * means "cannot translate", which only costs the pushdown (Spark still
  * applies the filter above the scan).
  */
private[sources] object GraftFilterTranslator {
  def translate(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === v)
    case EqualNullSafe(a, v)      => Some(col(a) <=> v)
    case GreaterThan(a, v)        => Some(col(a) > v)
    case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case LessThan(a, v)           => Some(col(a) < v)
    case LessThanOrEqual(a, v)    => Some(col(a) <= v)
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case And(l, r) =>
      for (lc <- translate(l); rc <- translate(r)) yield lc && rc
    case Or(l, r) =>
      for (lc <- translate(l); rc <- translate(r)) yield lc || rc
    case Not(c) => translate(c).map(!_)
    case _      => None
  }

  /** Per-column [lower, upper] constraints implied by a pushed conjunct,
    * for manifest file pruning ([[graft.table.TableStats.prunedFiles]]).
    * Numeric and string columns only — timestamp/date filter values don't
    * render in the manifest's canonical string form (see prunedFiles), and
    * any unhandled shape safely contributes nothing (no pruning, never
    * wrong pruning). Strict bounds are relaxed to inclusive: file-level
    * pruning only needs a superset of matching files.
    */
  def pruneBounds(f: Filter, schema: StructType)
      : Seq[(String, Option[Any], Option[Any])] = {
    def ok(a: String, v: Any): Boolean =
      schema.fieldNames.contains(a) && (schema(a).dataType match {
        case _: org.apache.spark.sql.types.NumericType => v.isInstanceOf[Number]
        case org.apache.spark.sql.types.StringType => v.isInstanceOf[String]
        // time-range predicates prune via the manifest's canonical-epoch
        // integer bounds (TableStats.toEpochCanonical handles either
        // datetime-API vintage of the pushed value); NTZ excluded there
        case dt @ (org.apache.spark.sql.types.TimestampType |
                   org.apache.spark.sql.types.DateType) =>
          graft.table.TableStats.toEpochCanonical(dt, v).isDefined
        case _ => false
      })
    f match {
      case EqualTo(a, v) if ok(a, v)            => Seq((a, Some(v), Some(v)))
      case GreaterThan(a, v) if ok(a, v)        => Seq((a, Some(v), None))
      case GreaterThanOrEqual(a, v) if ok(a, v) => Seq((a, Some(v), None))
      case LessThan(a, v) if ok(a, v)           => Seq((a, None, Some(v)))
      case LessThanOrEqual(a, v) if ok(a, v)    => Seq((a, None, Some(v)))
      // IN → [min, max] envelope, NUMERIC only: picking string min/max
      // here would use Scala's UTF-16 ordering while the manifest compares
      // in Spark's UTF-8 byte order — divergent for non-BMP text, and a
      // too-narrow envelope prunes wrongly. (Range predicates on strings
      // are safe: their comparison runs inside Spark.)
      case In(a, vs) if vs.nonEmpty && vs.forall(ok(a, _)) &&
          schema(a).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
        val ds = vs.map(_.asInstanceOf[Number].doubleValue())
        Seq((a, Some(ds.min), Some(ds.max)))
      case And(l, r) => pruneBounds(l, schema) ++ pruneBounds(r, schema)
      case _ => Seq.empty
    }
  }

  /** Per-column point-lookup value sets implied by pushed conjuncts, for
    * bloom-index file pruning ([[graft.table.BloomIndex.prunedFiles]]).
    * Only shapes where EVERY matching row must hold one of the listed
    * values qualify (equality, IN, AND thereof); OR/NOT/ranges
    * contribute nothing — a bloom can only answer membership.
    */
  def pointLookups(conjuncts: Seq[Filter]): Seq[(String, Seq[Any])] = {
    def walk(f: Filter): Seq[(String, Seq[Any])] = f match {
      case EqualTo(a, v) if v != null       => Seq(a -> Seq(v))
      case EqualNullSafe(a, v) if v != null => Seq(a -> Seq(v))
      case In(a, vs) if vs.nonEmpty && vs.forall(_ != null) =>
        Seq(a -> vs.toSeq)
      case And(l, r) => walk(l) ++ walk(r)
      case _ => Seq.empty
    }
    conjuncts.flatMap(walk)
      .groupBy(_._1)
      // multiple constraints on one column: any one of them prunes
      // correctly; the smallest value set prunes hardest
      .map { case (c, cs) => c -> cs.map(_._2).minBy(_.size) }
      .toSeq
  }
}
