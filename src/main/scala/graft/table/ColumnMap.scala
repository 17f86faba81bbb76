package graft.table

import org.apache.spark.sql.DataFrame

/** Column mapping — RENAME COLUMN as a metadata operation, Delta's
  * column-mapping story for [[MedallionTable]].
  *
  * A rename-by-rewrite costs O(table); at 100 TB renaming a column in a
  * fact table is as unrunnable as a small delete via rewrite. The table
  * record ([[TableMeta.colMap]]) instead holds logical→physical name
  * pairs: data files keep their PHYSICAL (at-write) names forever, reads
  * project physical→logical, and every append-class write translates
  * logical→physical so the file schemas stay uniform under
  * `mergeSchema`. Any full REWRITE (merge, update, OPTIMIZE, overwrite)
  * materializes logical names physically and writes a record without
  * the map ([[TableMeta.rewritten]]) — the same self-clearing lifecycle
  * as [[DeletionVectors]]. Delta implements this with per-column IDs in
  * parquet footers; a name-pair map is the same contract at this
  * layout's granularity (names here are unique per table the way IDs are
  * in Delta).
  *
  * Boundaries (each refused loudly, not silently wrong): partition
  * columns (directory names are physical), columns referenced by CHECK
  * constraints (their expressions are stored as text), and tables with
  * a live Delta-log export (an external reader has no access to the
  * map — materialize via OPTIMIZE first).
  */
object ColumnMap {

  /** Physical-file frame → user-facing names. */
  def toLogical(df: DataFrame, map: Map[String, String]): DataFrame =
    map.foldLeft(df) { case (d, (logical, physical)) =>
      if (d.columns.contains(physical)) d.withColumnRenamed(physical, logical)
      else d
    }

  /** User-facing frame → the names the files carry. */
  def toPhysical(df: DataFrame, map: Map[String, String]): DataFrame =
    map.foldLeft(df) { case (d, (logical, physical)) =>
      if (d.columns.contains(logical)) d.withColumnRenamed(logical, physical)
      else d
    }
}
