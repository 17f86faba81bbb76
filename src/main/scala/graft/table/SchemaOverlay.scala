package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.DataType

/** Metadata-only `ALTER TABLE ADD COLUMN` / `DROP COLUMN` — the schema
  * half of Delta's column-mapping story, completing [[ColumnMap]]'s
  * rename half.
  *
  * At 100 TB neither adding nor dropping a column may touch data files:
  *   - ADD records (name, type) in the table record ([[TableMeta.adds]]);
  *     reads surface the column as a typed NULL until some write
  *     materializes it (then `mergeSchema` takes over and the entry is a
  *     no-op).
  *   - DROP records the column's PHYSICAL name ([[TableMeta.drops]], a
  *     tombstone); the bytes stay in the files, reads exclude the column,
  *     and the next full rewrite (OPTIMIZE / merge / row-level DELETE)
  *     physically sheds it and writes a record without the overlay — the
  *     same self-clearing lifecycle as [[ColumnMap]] and
  *     [[DeletionVectors]].
  *
  * Each archived version keeps the record it had, so time travel renders
  * every snapshot with the schema it had.
  *
  * Boundary (refused, not guessed): re-adding a name whose physical slot
  * is tombstoned, or whose physical slot is occupied through a rename —
  * the old bytes would resurrect under the new column. Delta prevents
  * this with per-column IDs; here the guard is the refusal until a
  * rewrite sheds the tombstoned bytes.
  */
object SchemaOverlay {

  /** Apply an overlay to a LOGICAL-named frame: tombstoned columns out
    * (post-drop, no [[ColumnMap]] entry maps them, so their logical name
    * IS the physical name), declared-missing columns in as typed nulls.
    */
  def applyTo(df: DataFrame, adds: Seq[(String, DataType)],
      drops: Seq[String]): DataFrame = {
    val dropped = drops.filter(df.columns.contains) match {
      case Nil => df
      case ds => df.drop(ds: _*)
    }
    adds.foldLeft(dropped) { case (d, (name, dt)) =>
      if (d.columns.contains(name)) d
      else d.withColumn(name, lit(null).cast(dt))
    }
  }
}
