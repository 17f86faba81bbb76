package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Metadata-only `ALTER TABLE … ALTER COLUMN … TYPE <wider>` — Delta's
  * type-widening table feature (Delta 3.2+), the third leg of the
  * column-mapping story after [[ColumnMap]] (rename) and
  * [[SchemaOverlay]] (add/drop).
  *
  * At 100 TB a type change must not rewrite data files. The table record
  * holds the widened columns ([[TableMeta.widened]], physical name → wide
  * type); existing files keep their narrow physical type, and reads
  * resolve through Spark 4's parquet widening promotion — an explicit
  * READER schema with the wide type decodes narrow pages in place
  * (int32 → long, int32 → double, float → double, int32/int64 → decimal,
  * decimal → wider decimal, date → timestamp_ntz; probed on this exact
  * Spark build, `TypeWideningSpec`).
  *
  * The catch: `mergeSchema=true` REFUSES footer sets that mix a narrow
  * and a wide spelling of one column (`CANNOT_MERGE_SCHEMAS`), so the
  * moment a post-widen append lands a wide file, footer-merge resolution
  * is gone for good. While a widening is live, the authoritative reader
  * schema therefore lives in the same record ([[TableMeta.readerSchema]]:
  * physical names, wide types, partition columns included): seeded from
  * the table snapshot's resolved base schema at widen time, extended
  * add-only by every append that introduces new columns (the K1
  * `mergeSchema` evolution contract), and declared by every scan that
  * would otherwise footer-merge — table reads, DV scans, stats refresh,
  * change-feed reconstruction, snapshot reads. A side benefit at scale:
  * while a widening is live, reads skip the footer-merge job entirely.
  *
  * Lifecycle mirrors [[ColumnMap]]: any full rewrite (OPTIMIZE, merge,
  * update, overwrite) materializes the wide type physically — the
  * rewrite product comes off the widened read — and writes a record
  * without the widening ([[TableMeta.rewritten]]). Archived versions keep
  * their record, so time travel renders each version with the types it
  * had.
  *
  * The supported matrix is Delta's (and exactly what the parquet reader
  * promotion honors): byte → short/int/long/double/decimal,
  * short → int/long/double/decimal, int → long/double/decimal,
  * long → decimal, float → double, decimal → wider decimal (scale may
  * grow only if integer digits don't shrink), date → timestamp_ntz.
  * `long → double` is NOT widening (loses integers past 2^53) and the
  * reader refuses it; integral → decimal requires the Delta minimums
  * (p−s ≥ 10, or ≥ 20 from long) so every intermediate width a re-widen
  * chain may have left in files also fits.
  */
object WideCols {

  /** Cast widened columns up to their declared wide type (PHYSICAL
    * names) so every post-widen file lands wide — new files never
    * reintroduce a third spelling, and the first full rewrite
    * materializes the overlay away.
    */
  private[table] def canonicalize(df: DataFrame,
      wides: Map[String, DataType]): DataFrame =
    wides.foldLeft(df) { case (d, (n, dt)) =>
      if (d.columns.contains(n) && d.schema(n).dataType != dt)
        d.withColumn(n, col("`" + n.replace("`", "``") + "`").cast(dt))
      else d
    }

  /** Delta's widening matrix (scaladoc) — the only type changes the
    * parquet readers promote losslessly.
    */
  def supported(from: DataType, to: DataType): Boolean = (from, to) match {
    case (f, t) if f == t => false
    case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
    case (ShortType, IntegerType | LongType | DoubleType) => true
    case (IntegerType, LongType | DoubleType) => true
    case (FloatType, DoubleType) => true
    case (ByteType | ShortType | IntegerType, d: DecimalType) =>
      d.scale >= 0 && d.precision - d.scale >= 10
    case (LongType, d: DecimalType) =>
      d.scale >= 0 && d.precision - d.scale >= 20
    case (f: DecimalType, t: DecimalType) =>
      t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
    case (DateType, TimestampNTZType) => true
    case _ => false
  }

  private[table] def describeSupported: String =
    "byte->short/int/long/double, short->int/long/double, " +
      "int->long/double, long->decimal(>=20,s), float->double, " +
      "integral->decimal(p-s>=10), decimal->wider decimal, " +
      "date->timestamp_ntz"
}
