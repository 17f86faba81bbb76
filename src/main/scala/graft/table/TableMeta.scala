package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Column

/** A table's column declarations as one immutable record — the facts
  * Delta keeps beside the schema in its `metaData` action: CHECK
  * constraints, NOT NULL columns, column defaults, generated columns and
  * identity columns. [[MedallionTable]] stores it as one `_graft_meta`
  * file, changes it only inside claimed commits, and carries it whole
  * across rewrites, creates and clones.
  *
  * @param checks    CHECK constraint name → SQL boolean expression
  * @param notNull   columns under NOT NULL
  * @param defaults  column → (column type DDL at declare time, SQL
  *                  expression)
  * @param generated column → generation expression
  * @param identity  column → (start, step)
  */
final case class TableMeta(
    checks: Map[String, String] = Map.empty,
    notNull: Set[String] = Set.empty,
    defaults: Map[String, (String, String)] = Map.empty,
    generated: Map[String, String] = Map.empty,
    identity: Map[String, (Long, Long)] = Map.empty) {

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

  /** One declaration per line, tab-separated, kind first. Expressions
    * come last, so CHECK and generation expressions may hold tabs; names
    * and default expressions are refused tabs and newlines when declared.
    */
  def encode: String = (
    checks.toSeq.sorted.map { case (n, e) => s"check\t$n\t$e" } ++
      notNull.toSeq.sorted.map(n => s"notnull\t$n") ++
      defaults.toSeq.sortBy(_._1).map { case (n, (t, e)) =>
        s"default\t$n\t$t\t$e" } ++
      generated.toSeq.sorted.map { case (n, e) => s"generated\t$n\t$e" } ++
      identity.toSeq.sortBy(_._1).map { case (n, (st, sp)) =>
        s"identity\t$n\t$st\t$sp" }
  ).mkString("\n")
}

object TableMeta {
  val Empty: TableMeta = TableMeta()

  val FileName = "declarations.tsv"

  def file(tablePath: String): Path =
    new Path(tablePath, s"_graft_meta/$FileName")

  /** Inverse of [[TableMeta.encode]]; any line it cannot read throws
    * (fail closed: a record silently missing a CHECK disarms a gate).
    */
  def decode(text: String, where: String): TableMeta =
    text.split('\n').filter(_.nonEmpty).foldLeft(Empty) { (m, line) =>
      def corrupt = new IllegalStateException(
        s"table declarations corrupt at $where: '$line'")
      line.split("\t", -1).toList match {
        case "check" :: n :: e if e.nonEmpty =>
          m.copy(checks = m.checks + (n -> e.mkString("\t")))
        case "notnull" :: n :: Nil => m.copy(notNull = m.notNull + n)
        case "default" :: n :: t :: e :: Nil =>
          m.copy(defaults = m.defaults + (n -> ((t, e))))
        case "generated" :: n :: e if e.nonEmpty =>
          m.copy(generated = m.generated + (n -> e.mkString("\t")))
        case "identity" :: n :: st :: sp :: Nil =>
          (st.toLongOption, sp.toLongOption) match {
            case (Some(a), Some(b)) =>
              m.copy(identity = m.identity + (n -> ((a, b))))
            case _ => throw corrupt
          }
        case _ => throw corrupt
      }
    }
}
