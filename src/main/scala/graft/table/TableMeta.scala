package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** A table's metadata as one immutable record — what Delta keeps in its
  * `metaData` action. It holds the column declarations (CHECK
  * constraints, NOT NULL columns, column defaults, generated and identity
  * columns), the logical schema, and the layout the metadata-only schema
  * changes leave until the next full rewrite materializes them: the
  * logical→physical column map ([[ColumnMap]]), added and dropped columns
  * ([[SchemaOverlay]]), and widened columns with the physical reader
  * schema ([[WideCols]]).
  *
  * [[MedallionTable]] stores it as one `_graft_meta` file and changes it
  * only inside claimed commits; [[TableSnapshot]] carries the copy a read
  * uses. A rewrite keeps the declarations and clears the layout
  * ([[rewritten]]), a shallow clone copies the record whole, and each
  * archived version keeps the record it had, so time travel renders it
  * with its own layout.
  *
  * @param checks       CHECK constraint name → SQL boolean expression
  * @param notNull      columns under NOT NULL
  * @param defaults     column → (column type DDL at declare time, SQL
  *                     expression)
  * @param generated    column → generation expression
  * @param identity     column → (start, step)
  * @param schema       the logical schema; None only on a table a plain
  *                     append created
  * @param colMap       logical → physical name of each renamed column
  * @param adds         columns ADDed but carried by no file yet, in
  *                     declaration order
  * @param drops        physical names of DROPped columns whose bytes the
  *                     files still hold
  * @param widened      physical name → wide type of each widened column
  * @param readerSchema the physical reader schema (partition columns
  *                     included) while a widening is live: mixed
  *                     narrow/wide footers refuse to merge
  */
final case class TableMeta(
    checks: Map[String, String] = Map.empty,
    notNull: Set[String] = Set.empty,
    defaults: Map[String, (String, String)] = Map.empty,
    generated: Map[String, String] = Map.empty,
    identity: Map[String, (Long, Long)] = Map.empty,
    schema: Option[StructType] = None,
    colMap: Map[String, String] = Map.empty,
    adds: Seq[(String, DataType)] = Nil,
    drops: Seq[String] = Nil,
    widened: Map[String, DataType] = Map.empty,
    readerSchema: Option[StructType] = None) {

  def isEmpty: Boolean = this == TableMeta.Empty

  def isIdentity(c: String): Boolean =
    identity.keys.exists(_.equalsIgnoreCase(c))

  def isGenerated(c: String): Boolean =
    generated.keys.exists(_.equalsIgnoreCase(c))

  def rowTracking: Boolean = isIdentity(MedallionTable.RowIdCol)

  /** The CHECKs plus one synthetic invariant per NOT NULL column, the set
    * every write pass enforces. `IS NOT NULL` is FALSE exactly on a NULL,
    * so SQL CHECK semantics enforce it, and a column the batch lacks reads
    * as NULL and violates, as it must.
    */
  def invariants: Map[String, String] =
    checks ++ notNull.map(c =>
      s"__notnull_$c" -> s"`${c.replace("`", "``")}` IS NOT NULL")

  /** Each default as a column cast to the type recorded at declare time
    * (widening later only upcasts further).
    */
  def defaultColumns: Map[String, Column] =
    defaults.map { case (n, (tddl, e)) =>
      n -> org.apache.spark.sql.functions.expr(e)
        .cast(org.apache.spark.sql.types.DataType.fromDDL(tddl))
    }

  /** The logical schema in the names the data files carry. */
  def physicalSchema: Option[StructType] =
    schema.map(s => StructType(s.fields.map(f =>
      f.copy(name = colMap.getOrElse(f.name, f.name)))))

  /** A physical-name scan as readers see it: renamed columns under their
    * logical names, dropped columns out, added columns in as typed NULLs.
    */
  def logical(df: DataFrame): DataFrame =
    SchemaOverlay.applyTo(ColumnMap.toLogical(df, colMap), adds, drops)

  /** A logical batch as new files must carry it: physical names, widened
    * columns cast up to their wide type.
    */
  def physical(df: DataFrame): DataFrame =
    WideCols.canonicalize(ColumnMap.toPhysical(df, colMap), widened)

  /** A reader declaring [[readerSchema]] while a widening is live, the
    * footer merge otherwise.
    */
  def reader(spark: SparkSession): DataFrameReader =
    readerSchema.fold(spark.read.option("mergeSchema", "true"))(
      spark.read.schema)

  /** Widened columns under their logical names. */
  def widenedLogical: Map[String, DataType] = {
    val toLogical = colMap.map(_.swap)
    widened.map { case (p, t) => toLogical.getOrElse(p, p) -> t }
  }

  /** The record a full rewrite writes beside its product: the
    * declarations kept, the layout materialized away, the product's
    * schema recorded.
    */
  def rewritten(s: StructType): TableMeta =
    copy(schema = Some(s), colMap = Map.empty, adds = Nil, drops = Nil,
      widened = Map.empty, readerSchema = None)

  /** The record after column `name` is renamed to `to`, or dropped when
    * `to` is None. NOT NULL, defaults and a generated column's own entry
    * follow a rename and retire with a drop. Refused: identity columns
    * (their high-water is keyed by name as well), a rename onto an
    * identity column's name, and a column that a CHECK or generation
    * expression references (the stored text would still name it).
    */
  def columnChanged(name: String, to: Option[String]): TableMeta = {
    val what = if (to.isEmpty) "drop column" else "rename"
    require(!isIdentity(name),
      s"$what: '$name' is GENERATED ALWAYS AS IDENTITY — its declaration " +
        "and high-water are keyed by name; dropIdentityColumn() first, " +
        "then re-declare (setIdentityColumn syncs the high-water from data)")
    to.foreach { n =>
      require(!isIdentity(n),
        s"rename: '$n' is a registered identity column's name — the " +
          "renamed data would collide with the engine-assigned slot; " +
          "dropIdentityColumn() first")
      require(!n.exists(c => c == '\t' || c == '\n'),
        "rename: column name must be tab/newline-free")
    }
    val word = s"\\b${java.util.regex.Pattern.quote(name)}\\b".r
    def referencing(exprs: Map[String, String]): Seq[String] =
      exprs.collect { case (k, e) if word.findFirstIn(e).isDefined => k }
        .toSeq.sorted
    val chk = referencing(checks)
    require(chk.isEmpty, s"$what: CHECK constraint(s) ${chk.mkString(", ")} " +
      s"reference '$name' — drop them first")
    val gen = referencing(generated)
    require(gen.isEmpty, s"$what: generated column(s) ${gen.mkString(", ")} " +
      s"reference '$name' — dropGeneratedColumn() first")
    def moved[V](m: Map[String, V]): Map[String, V] =
      m.get(name).fold(m)(v => m - name ++ to.map(_ -> v))
    copy(
      notNull = if (notNull(name)) notNull - name ++ to else notNull,
      defaults = moved(defaults),
      generated = moved(generated))
  }

  /** The layout after RENAME COLUMN `from` → `to`. A column ADDed but not
    * yet written renames inside [[adds]] (no physical column exists to
    * map to); any other maps to its physical name, which chains through
    * repeated renames (a→b→c keeps pointing at the file column a), and a
    * rename back to the physical name clears the entry.
    */
  def renamedColumn(from: String, to: String): TableMeta =
    if (adds.exists(_._1 == from))
      copy(adds = adds.map { case (n, t) => (if (n == from) to else n, t) })
    else {
      val physical = colMap.getOrElse(from, from)
      copy(colMap = colMap - from ++
        (if (to == physical) Nil else Seq(to -> physical)))
    }

  /** The layout after DROP COLUMN `name`: its map entry and any ADD of
    * its physical name retire, and the physical name is tombstoned only
    * when some file carries the column (`materialized`) — an ADD never
    * written to needs no tombstone, which keeps the name reusable at
    * once. The caller judges materialization from the file schema: an
    * ADD entry proves nothing, since it stays after appends write it.
    */
  def droppedColumn(name: String, materialized: Boolean): TableMeta = {
    val physical = colMap.getOrElse(name, name)
    copy(colMap = colMap - name, adds = adds.filterNot(_._1 == physical),
      drops = if (materialized) drops :+ physical else drops)
  }

  /** The layout after ALTER COLUMN TYPE: physical column `physical`
    * widened to `wide`, with `resolved` the current physical reader
    * schema carrying the wide type already — both in one record, so no
    * crash can leave one without the other.
    */
  def widenedColumn(physical: String, wide: DataType,
      resolved: StructType): TableMeta =
    copy(widened = widened + (physical -> wide), readerSchema = Some(resolved))

  /** The record before a batch that may bring new columns lands: they
    * join the logical schema (`logicalBatch`) and, while a widening is
    * live, the reader schema (`physicalBatch`). Add-only — an existing
    * column's type never changes here, since widened columns are cast up
    * before the write. Persisted BEFORE the data, a crash in between
    * reads as a metadata-only ADD COLUMN (typed-NULL reads) instead of a
    * column lost from every explicit-schema scan.
    */
  def evolvedBy(logicalBatch: Option[StructType],
      physicalBatch: StructType): TableMeta = {
    def extended(s: StructType, batch: StructType): StructType = {
      val have = s.fieldNames.map(_.toLowerCase).toSet
      val fresh = batch.fields.filterNot(f => have.contains(f.name.toLowerCase))
      if (fresh.isEmpty) s else StructType(s.fields ++ fresh)
    }
    copy(
      schema = logicalBatch.fold(schema)(b => schema.map(extended(_, b))),
      readerSchema = readerSchema.map(extended(_, physicalBatch)))
  }

  /** One record entry per line, tab-separated, kind first. Declaration
    * expressions come last, so CHECK and generation expressions may hold
    * tabs; declared names and default expressions are refused tabs and
    * newlines when declared. Layout names are URL-encoded and schemas and
    * types written as Spark JSON, so no value can break the line layout.
    */
  def encode: String = {
    import TableMeta.enc
    (checks.toSeq.sorted.map { case (n, e) => s"check\t$n\t$e" } ++
      notNull.toSeq.sorted.map(n => s"notnull\t$n") ++
      defaults.toSeq.sortBy(_._1).map { case (n, (t, e)) =>
        s"default\t$n\t$t\t$e" } ++
      generated.toSeq.sorted.map { case (n, e) => s"generated\t$n\t$e" } ++
      identity.toSeq.sortBy(_._1).map { case (n, (st, sp)) =>
        s"identity\t$n\t$st\t$sp" } ++
      schema.map(s => s"schema\t${s.json}") ++
      colMap.toSeq.sorted.map { case (l, p) => s"colmap\t${enc(l)}\t${enc(p)}" } ++
      adds.map { case (n, t) => s"add\t${enc(n)}\t${t.json}" } ++
      drops.map(n => s"drop\t${enc(n)}") ++
      widened.toSeq.sortBy(_._1).map { case (n, t) =>
        s"widened\t${enc(n)}\t${t.json}" } ++
      readerSchema.map(s => s"reader\t${s.json}")
    ).mkString("\n")
  }
}

object TableMeta {
  val Empty: TableMeta = TableMeta()

  val FileName = "table.tsv"

  def file(tablePath: String): Path =
    new Path(tablePath, s"_graft_meta/$FileName")

  /** The record an archived version keeps beside its data files. */
  def archivedFile(versionDir: Path): Path =
    new Path(versionDir, s"_graft_$FileName")

  private def enc(name: String): String =
    java.net.URLEncoder.encode(name, "UTF-8")

  private def dec(text: String): String =
    java.net.URLDecoder.decode(text, "UTF-8")

  /** Inverse of [[TableMeta.encode]]; any line it cannot read throws
    * (fail closed: a record silently missing a CHECK disarms a gate, one
    * missing a column map entry reads a column under the wrong name).
    */
  def decode(text: String, where: String): TableMeta =
    text.split('\n').filter(_.nonEmpty).foldLeft(Empty) { (m, line) =>
      def struct(json: String): StructType = DataType.fromJson(json) match {
        case s: StructType => s
        case t => throw new IllegalArgumentException(s"not a struct: ${t.sql}")
      }
      try line.split("\t", -1).toList match {
        case "check" :: n :: e if e.nonEmpty =>
          m.copy(checks = m.checks + (n -> e.mkString("\t")))
        case "notnull" :: n :: Nil => m.copy(notNull = m.notNull + n)
        case "default" :: n :: t :: e :: Nil =>
          m.copy(defaults = m.defaults + (n -> ((t, e))))
        case "generated" :: n :: e if e.nonEmpty =>
          m.copy(generated = m.generated + (n -> e.mkString("\t")))
        case "identity" :: n :: st :: sp :: Nil =>
          m.copy(identity = m.identity + (n -> ((st.toLong, sp.toLong))))
        case "schema" :: j :: Nil => m.copy(schema = Some(struct(j)))
        case "colmap" :: l :: p :: Nil =>
          m.copy(colMap = m.colMap + (dec(l) -> dec(p)))
        case "add" :: n :: t :: Nil =>
          m.copy(adds = m.adds :+ (dec(n) -> DataType.fromJson(t)))
        case "drop" :: n :: Nil => m.copy(drops = m.drops :+ dec(n))
        case "widened" :: n :: t :: Nil =>
          m.copy(widened = m.widened + (dec(n) -> DataType.fromJson(t)))
        case "reader" :: j :: Nil => m.copy(readerSchema = Some(struct(j)))
        case _ => throw new IllegalArgumentException("unknown entry")
      } catch {
        case scala.util.control.NonFatal(e) => throw new IllegalStateException(
          s"table record corrupt at $where: '$line'", e)
      }
    }
}
