package graft.table

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Pure (no I/O) implementation of the reference's 3-clause Delta MERGE as a
  * DataFrame→DataFrame transform, so the semantics are unit-testable and can
  * be exposed as an oracle-checked query.
  *
  * Reference shape (`silver_table_creation.py:57-66` and 6 more sites,
  * SURVEY.md §2.2 K4):
  *
  *   whenMatchedUpdate(condition = any column differs, set = all source cols)
  *   whenNotMatchedInsert(values = all source cols)
  *   whenNotMatchedBySourceDelete()
  *
  * Spark-first design ([[mergeClauses]], which [[merge3Clause]] states the
  * three clauses to): a single full-outer shuffle join on the merge keys,
  * column resolution with `when(...)`, and a row filter for the delete
  * clause. At 100 TB this is one shuffle of each side keyed on the merge
  * keys — the same cost profile as Delta's join-based merge — and it stays
  * entirely inside whole-stage codegen (no UDFs).
  *
  * Each side enters the join under its own qualifier (`__graft_t`,
  * `__graft_s`) with its columns unrenamed, so target and source may
  * share lineage (the common "merge a filtered view of the table into
  * itself" case) without tripping Spark's ambiguous-self-join analysis.
  * No side renames a column with a projection: Catalyst's constraint
  * propagation adds, for every alias of a bare attribute, a rewritten
  * copy of each child constraint that mentions it, so renaming all n
  * columns of a source cleaned by `na.drop()` (one `atleastnnonnulls`
  * over every column) built 2^n constraints, rebuilt on each optimizer
  * pass (SPARK-33152). Padded and evolved columns are typed-NULL
  * literals, which add one constraint each.
  *
  * Delta-parity semantics honored here:
  *   - UPDATE SET covers only columns present in the source: target-only
  *     columns keep their target value on matched rows.
  *   - Columns only in source are added to the output schema with the
  *     target side null-padded *and typed* (cast to the source datatype so
  *     no NullType ever reaches a parquet writer); shared columns keep the
  *     target's type.
  *   - Duplicate merge-key values in the source make Delta fail with
  *     "multiple source rows matched"; callers that need that guarantee use
  *     [[requireUniqueKeys]] (an action, so kept out of this pure builder).
  */
object MergeOps {

  /** Resolves a logical column name to the target- or source-side Column
    * inside the merge join — the column under its side's qualifier, quoted
    * so names holding `.` or a backtick resolve; see [[merge3Clause]]'s
    * updateCondition.
    */
  type ColRef = String => Column

  private val TargetSide = "__graft_t"
  private val SourceSide = "__graft_s"
  private val MatchedSide = "__graft_mk"
  private val TgtMark = "__graft_t_present__"
  private val SrcMark = "__graft_s_present__"
  private def quoted(c: String): String = "`" + c.replace("`", "``") + "`"
  /** Column `c` of a frame, whatever characters its name holds. */
  private def bare(c: String): Column = col(quoted(c))
  private def typedNull(dt: DataType): Column = lit(null).cast(dt)
  private val tc: ColRef = c => col(s"$TargetSide.${quoted(c)}")
  private val sc: ColRef = c => col(s"$SourceSide.${quoted(c)}")

  /** `df` as one side of a merge join: every column unrenamed, `padded`
    * typed-NULL columns and the side's presence `mark` added, under the
    * side's `qualifier`.
    */
  private def side(df: DataFrame, qualifier: String, mark: String,
      padded: Seq[(String, DataType)] = Nil): DataFrame =
    df.select(col("*") +: padded.map { case (c, dt) => typedNull(dt).as(c) } :+
      lit(true).as(mark): _*).as(qualifier)

  /** Replicates the reference's dynamic change-condition synthesis
    * (`silver_table_creation.py:50-54` et al., SURVEY.md §2.2 K5): OR over
    * all shared non-key columns of `destination.c <> source.c`. Null-unsafe
    * `<>` on purpose — the reference guarantees no nulls via dropna first
    * (SURVEY.md §7.4).
    */
  def anyColumnDiffers(
      target: DataFrame, source: DataFrame, keys: Seq[String]): (ColRef, ColRef) => Column =
    anyShared(target, source, keys)(_ =!= _)

  /** Null-SAFE variant of [[anyColumnDiffers]]: `NOT (t <=> s)` treats a
    * value↔NULL transition as a change instead of an unknown. This is the
    * [[scd2Merge]] default — dimension attributes are commonly nullable,
    * and under null-unsafe `<>` a tracked column transitioning to or from
    * NULL yields a NULL predicate, so the update would be silently dropped
    * (round-8 advice). [[merge3Clause]] keeps the null-unsafe default
    * because it replicates the reference's synthesized condition verbatim
    * and the reference guarantees no nulls via dropna.
    */
  def anyColumnDiffersNullSafe(
      target: DataFrame, source: DataFrame, keys: Seq[String]): (ColRef, ColRef) => Column =
    anyShared(target, source, keys)((t, s) => !(t <=> s))

  /** OR of `differs` over the shared non-key columns; false when none. */
  private def anyShared(target: DataFrame, source: DataFrame, keys: Seq[String])(
      differs: (Column, Column) => Column): (ColRef, ColRef) => Column = {
    val shared =
      target.columns.toSeq.filterNot(keys.contains).filter(source.columns.contains)
    (t, s) => shared.map(c => differs(t(c), s(c))).reduceOption(_ || _).getOrElse(lit(false))
  }

  /** Delta fails a MERGE when one target row matches multiple source rows.
    * Single distributed aggregation; call before [[merge3Clause]] when the
    * source is not known-deduplicated (reference sources always are —
    * `dropDuplicates()` precedes every merge, `silver_table_creation.py:32`).
    */
  def requireUniqueKeys(source: DataFrame, keys: Seq[String]): Unit = {
    val dup = source.groupBy(keys.map(col): _*).count().filter(col("count") > 1)
    if (!dup.isEmpty)
      throw new IllegalArgumentException(
        s"merge source has duplicate key values on (${keys.mkString(", ")}) — " +
          "Delta MERGE semantics forbid multiple source rows matching one target row")
  }

  /** 3-clause merge of `source` into `target` keyed on `keys`: the
    * reference's three clauses as [[WhenClause]]s — UPDATE SET every
    * source column on matched rows, INSERT every source column, DELETE
    * not matched by source — through [[mergeClauses]]. Source-only
    * columns evolve the output schema with the source's type; shared
    * columns keep the target's type.
    *
    * @param updateCondition matched-row update gate, given (targetRef,
    *        sourceRef) column resolvers (e.g. [[anyColumnDiffers]]);
    *        None = update all matched rows (equivalent under the delete
    *        clause).
    * @param deleteNotMatchedBySource reference merges always pass true
    *        (full target↔source sync); false gives plain upsert.
    * @param insertDefaults column DEFAULTs for target columns the source
    *        lacks, as [[mergeClauses]].
    */
  def merge3Clause(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      updateCondition: Option[(ColRef, ColRef) => Column] = None,
      deleteNotMatchedBySource: Boolean = true,
      insertDefaults: Map[String, Column] = Map.empty): DataFrame = {
    require(keys.nonEmpty, "merge requires at least one key column")
    // ListMap: evolved columns follow the source's column order
    val all = scala.collection.immutable.ListMap(source.columns.toSeq.map { c =>
      target.columns.find(_.equalsIgnoreCase(c)).getOrElse(c) ->
        ((_: ColRef, s: ColRef) => s(c)) }: _*)
    val matched = Seq(WhenMatchedUpdate(updateCondition, all))
    mergeClauses(target, source, keys.map(k => k -> k), matched,
      Seq(WhenNotMatchedInsert(None, all)),
      Seq(WhenNotMatchedBySourceDelete(None)).filter(_ => deleteNotMatchedBySource),
      insertDefaults,
      resolveEvolvedFromSource(target.columns, matched, source, "target"))
  }

  /** Change-data-feed variant of [[merge3Clause]] (Delta CDF semantics,
    * public behavior): instead of the merged table, emit the CHANGES the
    * merge would apply — `_change_type` ∈ insert / update_preimage /
    * update_postimage / delete. Unchanged matched rows emit nothing.
    *
    * Same single full-outer shuffle join; the four classes are filters +
    * projections over it (Catalyst reuses the exchange across the union
    * branches), so the cost profile matches the merge itself.
    */
  def merge3ClauseCDC(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      updateCondition: Option[(ColRef, ColRef) => Column] = None,
      deleteNotMatchedBySource: Boolean = true): DataFrame = {
    require(keys.nonEmpty, "merge requires at least one key column")
    val targetCols = target.columns.toSeq
    val sourceCols = source.columns.toSet
    val allCols: Seq[String] =
      targetCols ++ source.columns.toSeq.filterNot(targetCols.contains)

    def prep(df: DataFrame, other: DataFrame, qualifier: String, mark: String) =
      side(df, qualifier, mark, allCols.filterNot(df.columns.contains)
        .map(c => c -> other.schema(c).dataType))

    val t = prep(target, source, TargetSide, TgtMark)
    val s = prep(source, target, SourceSide, SrcMark)
    val joined = t.join(s, keys.map(k => tc(k) === sc(k)).reduce(_ && _), "full_outer")

    val srcPresent = col(SrcMark).isNotNull
    val tgtPresent = col(TgtMark).isNotNull
    val updCond = updateCondition.map(f => f(tc, sc)).getOrElse(lit(true))

    def proj(side: ColRef, change: String) =
      allCols.map(side) :+ lit(change).as("_change_type")
    // post-image honors UPDATE SET spanning only real source columns
    val postCols = allCols.map { c =>
      if (sourceCols.contains(c)) sc(c) else tc(c)
    } :+ lit("update_postimage").as("_change_type")

    val inserts = joined.filter(srcPresent && !tgtPresent).select(proj(sc, "insert"): _*)
    val pre = joined.filter(srcPresent && tgtPresent && updCond)
      .select(proj(tc, "update_preimage"): _*)
    val post = joined.filter(srcPresent && tgtPresent && updCond).select(postCols: _*)
    val dels = joined.filter(!srcPresent && tgtPresent).select(proj(tc, "delete"): _*)

    val changes = inserts.union(pre).union(post)
    if (deleteNotMatchedBySource) changes.union(dels) else changes
  }

  /** SCD2 metadata columns: validity interval + current flag. `valid_to`
    * is null on open rows (the "current" convention the reference's Delta
    * stack uses for type-2 dims; a sentinel date would leak into range
    * predicates).
    */
  val Scd2Cols: Seq[String] = Seq("valid_from", "valid_to", "is_current")

  /** Bootstrap a type-2 dimension from a day-0 snapshot: every row current
    * as of `effective`.
    */
  def scd2Init(snapshot: DataFrame, effective: Column): DataFrame = {
    val effType = snapshot.select(effective.as("__e")).schema.head.dataType
    snapshot
      .withColumn("valid_from", effective)
      .withColumn("valid_to", typedNull(effType))
      .withColumn("is_current", lit(true))
  }

  /** Slowly-changing-dimension type-2 merge (the history-keeping sibling of
    * [[merge3Clause]]): apply a day-N attribute snapshot to a dimension
    * whose schema carries [[Scd2Cols]]. Per business key:
    *
    *   - matched current row, any tracked column differs → the current row
    *     CLOSES (`valid_to = effective`, `is_current = false`) and the
    *     source row opens as the new current version;
    *   - matched, nothing differs → current row passes through untouched
    *     (re-applying the same snapshot is a no-op — idempotent loads);
    *   - source-only key → opens as a new current row;
    *   - target-only key → passes through still-current (SCD2 never
    *     deletes; a retired entity is closed by a later snapshot that
    *     carries its tombstone attribute, not by absence).
    *
    * Closed history rows ride along unjoined. Cost profile: ONE shuffle
    * join of current-rows × source on the keys (history is a filter,
    * no join), the closed/opened/passthrough classes are filter+project
    * branches over it (Catalyst reuses the exchange), all codegen. At
    * 100 TB the dimension's current slice — not its history — is the join
    * side, which is what keeps daily loads O(|dim|), not O(|dim|·days).
    *
    * Reference analog: the 3-clause MERGE sites (`silver_table_creation
    * .py:57-66`) overwrite matched rows in place — type-1. This is the
    * type-2 counterpart a warehouse needs for point-in-time joins.
    *
    * CONTRACT — unique source keys: like Delta MERGE, the source snapshot
    * must carry at most one row per business key. A duplicate key fans out
    * the full-outer join, emitting duplicate closed rows and multiple
    * `is_current = true` rows per key — silently breaking the
    * one-current-row invariant. This builder is pure (no actions), so the
    * check lives in the caller: [[graft.table.MedallionTable.scd2Merge]]
    * runs [[requireUniqueKeys]] before invoking this.
    *
    * @param changeCondition tracked-change gate, default
    *        [[anyColumnDiffersNullSafe]] over the business columns
    *        (null-SAFE: dimensions commonly have nullable attributes, and
    *        a value↔NULL transition must read as a change, not unknown).
    */
  def scd2Merge(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      effective: Column,
      changeCondition: Option[(ColRef, ColRef) => Column] = None): DataFrame = {
    require(keys.nonEmpty, "scd2 merge requires at least one key column")
    require(Scd2Cols.forall(target.columns.contains),
      s"target is not an SCD2 dimension (missing ${Scd2Cols.mkString("/")})")
    require(Scd2Cols.forall(c => !source.columns.contains(c)),
      "source must carry business columns only, not SCD2 metadata")

    val bizCols = target.columns.toSeq.filterNot(Scd2Cols.contains)
    require(source.columns.toSet == bizCols.toSet,
      s"source columns ${source.columns.mkString(",")} must equal the " +
        s"dimension's business columns ${bizCols.mkString(",")}")

    val history = target.filter(!col("is_current"))
    val current = target.filter(col("is_current"))

    val t = side(current, TargetSide, TgtMark)
    val s = side(source, SourceSide, SrcMark)
    val joined = t.join(s, keys.map(k => tc(k) === sc(k)).reduce(_ && _), "full_outer")

    val srcPresent = col(SrcMark).isNotNull
    val tgtPresent = col(TgtMark).isNotNull
    val differs = changeCondition
      .map(f => f(tc, sc))
      .getOrElse(anyColumnDiffersNullSafe(current.select(bizCols.map(bare): _*),
        source, keys)(tc, sc))
    val changing = srcPresent && tgtPresent && differs

    // Surviving target-side rows: closed when the source changes them,
    // untouched otherwise (incl. target-only keys).
    val fromTarget = joined.filter(tgtPresent).select(
      bizCols.map(tc) ++ Seq(
        tc("valid_from"),
        when(changing, effective).otherwise(tc("valid_to")).as("valid_to"),
        when(changing, lit(false)).otherwise(tc("is_current")).as("is_current")): _*)

    // Newly-opened versions: brand-new keys plus the changed ones.
    val opened = joined.filter(srcPresent && (!tgtPresent || differs)).select(
      bizCols.map(sc) ++ Seq(
        effective.as("valid_from"),
        typedNull(target.schema("valid_to").dataType).as("valid_to"),
        lit(true).as("is_current")): _*)

    val outCols = (bizCols ++ Scd2Cols).map(bare)
    history.select(outCols: _*)
      .union(fromTarget.select(outCols: _*))
      .union(opened.select(outCols: _*))
  }

  // ---------------------------------------------------------------------
  // General ordered-clause merge (the full SQL MERGE INTO surface)
  // ---------------------------------------------------------------------

  /** One resolved WHEN clause of a general merge. Conditions and assigned
    * values are functions of the (target, source) column resolvers — the
    * same [[ColRef]] convention as [[merge3Clause]]'s update condition —
    * so callers (including the SQL DML bridge, [[graft.plans.GraftDmlRule]])
    * never see the internal side qualifiers.
    */
  sealed trait WhenClause { def condition: Option[(ColRef, ColRef) => Column] }
  /** WHEN MATCHED [AND cond] THEN UPDATE SET … — unassigned target columns
    * keep their target value.
    */
  final case class WhenMatchedUpdate(
      condition: Option[(ColRef, ColRef) => Column],
      set: Map[String, (ColRef, ColRef) => Column]) extends WhenClause
  /** WHEN MATCHED [AND cond] THEN DELETE. */
  final case class WhenMatchedDelete(
      condition: Option[(ColRef, ColRef) => Column]) extends WhenClause
  /** WHEN NOT MATCHED [AND cond] THEN INSERT … — unassigned target columns
    * become NULL (Delta parity). Conditions/values may reference only the
    * source side (the analyzer guarantees this for SQL-originated merges).
    */
  final case class WhenNotMatchedInsert(
      condition: Option[(ColRef, ColRef) => Column],
      values: Map[String, (ColRef, ColRef) => Column]) extends WhenClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET … — target-side
    * references only.
    */
  final case class WhenNotMatchedBySourceUpdate(
      condition: Option[(ColRef, ColRef) => Column],
      set: Map[String, (ColRef, ColRef) => Column]) extends WhenClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE. */
  final case class WhenNotMatchedBySourceDelete(
      condition: Option[(ColRef, ColRef) => Column]) extends WhenClause

  /** Every column name the clauses assign (update SETs + insert values). */
  def assignedColumns(clauses: Seq[WhenClause]): Seq[String] =
    clauses.flatMap {
      case WhenMatchedUpdate(_, set) => set.keys
      case WhenNotMatchedInsert(_, values) => values.keys
      case WhenNotMatchedBySourceUpdate(_, set) => set.keys
      case _ => Nil
    }.distinct

  /** Columns the clause assignments target that `targetCols` lacks —
    * nonEmpty ⟺ the merge would EVOLVE the schema. The clause paths
    * ([[mergeClauses]], [[graft.table.MedallionTable.mergeVectored]])
    * refuse these fail-stop: their output projection is the target
    * schema, so an unknown assignment would be silently dropped —
    * diverging from [[merge3Clause]], which evolves to the union schema.
    * (Delta without autoMerge rejects unknown assignment columns in
    * analysis; with it, it evolves. The graft hatches: ADD COLUMN first,
    * or use the evolving [[merge3Clause]] rewrite.)
    */
  def evolvedAssignments(targetCols: Seq[String],
      clauses: Seq[WhenClause]): Seq[String] = {
    val have = targetCols.map(_.toLowerCase).toSet
    assignedColumns(clauses).filterNot(c => have.contains(c.toLowerCase))
  }

  /** Evolved assignment names typed from the SOURCE schema — the Delta
    * autoMerge contract (`WITH SCHEMA EVOLUTION` / the autoMerge session
    * flag): evolution adds exactly the columns the source carries, with
    * the source's type; old rows read them as typed NULL. An evolved
    * assignment whose name has NO source column cannot be typed and
    * refuses with the ADD COLUMN hatch (Delta refuses these too — its
    * evolution is derived from the source schema, not from assignment
    * names).
    */
  private[table] def resolveEvolvedFromSource(targetCols: Seq[String],
      clauses: Seq[WhenClause], source: DataFrame, path: String)
      : Seq[(String, DataType)] =
    evolvedAssignments(targetCols, clauses).map { c =>
      source.schema.fields.find(_.name.equalsIgnoreCase(c)) match {
        case Some(f) => c -> f.dataType
        case None => throw new IllegalStateException(
          s"merge into $path assigns new column $c, but the source " +
            "carries no column of that name to take its type from — " +
            "schema evolution adds only source-typed columns; ALTER " +
            s"TABLE ... ADD COLUMN $c first")
      }
    }

  private[table] def refuseEvolvedAssignments(targetCols: Seq[String],
      clauses: Seq[WhenClause], path: String): Unit = {
    val gone = evolvedAssignments(targetCols, clauses)
    if (gone.nonEmpty) throw new IllegalStateException(
      s"merge into $path assigns column(s) ${gone.mkString(", ")} the " +
        "target does not have — schema-evolving merges are not supported " +
        "on the clause paths (the output projection is the target " +
        "schema); ALTER TABLE ... ADD COLUMN first, or use the evolving " +
        "3-clause rewrite (MedallionTable.merge)")
  }

  /** General SQL-MERGE semantics over a single full-outer shuffle join:
    * per row class (matched / source-only / target-only) the FIRST clause
    * whose condition holds applies — UPDATE rewrites columns, DELETE drops
    * the row, INSERT materializes it — and a row matching no clause takes
    * the default (matched & target-only keep the target row, source-only
    * vanishes). This is the executable form of `MERGE INTO t USING s ON …
    * WHEN …`; [[merge3Clause]] is the reference's three clauses over it.
    *
    * The output schema is the target schema plus `evolved` — SQL MERGE
    * without schema evolution never widens the table — and every assigned
    * value is cast to its column's type (the analyzer has already aligned
    * SQL-originated assignments; the cast also protects library callers).
    *
    * Cost profile at 100 TB: one shuffle of each side on the merge keys,
    * then narrow codegen'd projections — clause count adds expression
    * width, never extra joins or passes.
    *
    * @param keys equi-join pairs (targetCol, sourceCol) extracted from the
    *        ON condition. Non-equi ON conditions are out of scope (they
    *        would force a theta-join; Delta itself plans them as
    *        cartesian-ish joins that do not survive scale).
    * @param evolved columns the merge adds to the target schema, typed
    *        from the source ([[resolveEvolvedFromSource]]).
    */
  def mergeClauses(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[(String, String)],
      matched: Seq[WhenClause],
      notMatched: Seq[WhenNotMatchedInsert],
      notMatchedBySource: Seq[WhenClause],
      insertDefaults: Map[String, Column] = Map.empty,
      evolved: Seq[(String, DataType)] = Nil): DataFrame = {
    requireClauseKinds(keys, matched, notMatchedBySource)

    // evolved columns join the target side as typed NULLs: old rows read
    // them as NULL, assignments fill them
    val schema = StructType(target.schema.fields ++
      evolved.map { case (n, dt) => StructField(n, dt) })
    val targetCols = schema.fieldNames.toSeq
    val t = side(target, TargetSide, TgtMark, evolved)
    val s = side(source, SourceSide, SrcMark)

    val joined = t.join(s,
      keys.map { case (tk, sk) => tc(tk) === sc(sk) }.reduce(_ && _), "full_outer")

    val srcPresent = col(SrcMark).isNotNull
    val tgtPresent = col(TgtMark).isNotNull

    // A row class the clauses drop whole is also filtered where Catalyst
    // can see it, so the full outer join narrows: under the reference's
    // by-source DELETE it becomes a right outer join, which may broadcast
    // the (pruned) target instead of shuffling both sides.
    val dropped = Seq(tgtPresent).filter(_ => notMatched.isEmpty) ++
      Seq(srcPresent).filter(_ => notMatchedBySource.headOption
        .contains(WhenNotMatchedBySourceDelete(None)))
    // Each row's first applying clause, evaluated once and only inside its
    // own row class: the per-column projection below references the index
    // instead of repeating every clause condition once per column.
    val idx = Seq("m", "i", "n").map(k => s"__graft_clause_$k")
    val indexed = dropped.foldLeft(joined)(_ filter _).select(col("*") +:
      Seq(when(tgtPresent && srcPresent, chosen(matched)),
        when(srcPresent && !tgtPresent, chosen(notMatched)),
        when(tgtPresent && !srcPresent, chosen(notMatchedBySource)))
        .zip(idx).map { case (e, n) => e.as(n) }: _*)
    val Seq(mIdx, iIdx, nIdx) = idx.map(col)

    val keep =
      when(tgtPresent && srcPresent, !deleteChosen(matched, mIdx))
        .when(srcPresent, iIdx =!= -1)
        .otherwise(!deleteChosen(notMatchedBySource, nIdx))

    val resolved = targetCols.map { c =>
      when(tgtPresent && srcPresent, chainClauseValues(schema, matched, mIdx, c, tc(c)))
        .when(srcPresent, chainClauseValues(schema, notMatched, iIdx, c,
          typedNull(schema(c).dataType), insertDefaults))
        .otherwise(chainClauseValues(schema, notMatchedBySource, nIdx, c, tc(c)))
        .as(c)
    }

    indexed.filter(keep).select(resolved: _*)
  }

  // ---------------------------------------------------------------------
  // Shared clause-resolution pieces (mergeClauses + the vectored plan)
  // ---------------------------------------------------------------------

  private def requireClauseKinds(keys: Seq[(String, String)],
      matched: Seq[WhenClause], notMatchedBySource: Seq[WhenClause]): Unit = {
    require(keys.nonEmpty, "merge requires at least one equi-key pair")
    matched.foreach {
      case _: WhenMatchedUpdate | _: WhenMatchedDelete => ()
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN MATCHED clause: $other")
    }
    notMatchedBySource.foreach {
      case _: WhenNotMatchedBySourceUpdate | _: WhenNotMatchedBySourceDelete => ()
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN NOT MATCHED BY SOURCE clause: $other")
    }
  }

  /** First clause whose condition holds (NULL = does not hold, SQL
    * three-valued semantics via when()); -1 = no clause applies. `t`
    * resolves the target side.
    */
  private def chosen(clauses: Seq[WhenClause], t: ColRef = tc): Column =
    clauses.zipWithIndex.foldRight(lit(-1)) { case ((cl, i), els) =>
      when(cl.condition.map(f => f(t, sc)).getOrElse(lit(true)), lit(i))
        .otherwise(els)
    }

  /** The value column `c` takes under the clause `idx` selected, `default`
    * when no clause applies (or an applying UPDATE leaves `c` unassigned);
    * every assignment cast to the target column's type. `t` resolves the
    * target side.
    */
  private def chainClauseValues(targetSchema: StructType,
      clauses: Seq[WhenClause], idx: Column, c: String, default: Column,
      insertDefaults: Map[String, Column] = Map.empty, t: ColRef = tc): Column = {
    val dt = targetSchema(c).dataType
    // a column the INSERT clause leaves unassigned takes its registered
    // column DEFAULT when one exists (Delta allowColumnDefaults in MERGE),
    // typed-NULL otherwise — update clauses never default (existing rows)
    def insertFill: Column =
      insertDefaults.get(c).map(_.cast(dt)).getOrElse(typedNull(dt))
    clauses.zipWithIndex.foldRight(default) { case ((cl, i), els) =>
      val v: Column = cl match {
        case WhenMatchedUpdate(_, set) =>
          set.get(c).map(f => f(t, sc).cast(dt)).getOrElse(default)
        case WhenNotMatchedBySourceUpdate(_, set) =>
          set.get(c).map(f => f(t, sc).cast(dt)).getOrElse(default)
        case WhenNotMatchedInsert(_, values) =>
          values.get(c).map(f => f(t, sc).cast(dt)).getOrElse(insertFill)
        case _ => default // DELETE rows are filtered out; value unused
      }
      when(idx === i, v).otherwise(els)
    }
  }

  private def deleteChosen(clauses: Seq[WhenClause], idx: Column): Column =
    clauses.zipWithIndex.collect {
      case (_: WhenMatchedDelete, i)            => idx === i
      case (_: WhenNotMatchedBySourceDelete, i) => idx === i
    }.reduceOption(_ || _).getOrElse(lit(false))

  // ---------------------------------------------------------------------
  // Deletion-vector merge plan (the DvUpdates write path for MERGE)
  // ---------------------------------------------------------------------

  /** The row-class frames of a deletion-vector MERGE
    * ([[graft.table.MedallionTable.mergeVectored]]). `matchedPairs` is the
    * SINGLE pass over the table — an inner broadcast-hash join of the
    * positioned target scan against the (small) source — and every other
    * frame is a function OF it so the caller can `persist()` the pass once
    * and derive marks, new row versions, and inserts from the cached
    * O(matched) result instead of re-scanning:
    *
    *   - `marks(j)`: (file, pos) of every matched row consumed by an
    *     applying UPDATE or DELETE clause — the DV sidecar entries.
    *   - `newVersions(j)`: the post-UPDATE row versions (target schema).
    *   - `inserts(j)`: source rows that matched NO target row, resolved
    *     through the NOT MATCHED insert clauses (target schema). Derived
    *     via an anti-join against the cached matched keys — small × small,
    *     never a second table scan.
    *
    * Matched rows whose clauses all decline keep their base-file version
    * untouched (no mark, no new version) — exactly [[mergeClauses]]'
    * default.
    *
    * NOT MATCHED BY SOURCE clauses ride the SAME single pass: the join
    * switches inner → left-outer (still a broadcast-hash join on the
    * streamed scan — no table shuffle), target-only rows evaluate the
    * by-source clause chain in-pass, and only those a clause CONSUMES
    * survive into the persisted frame — by-source UPDATE contributes
    * marks + staged new versions, by-source DELETE marks alone. Cost is
    * output-proportional (O(matched + by-source-consumed + inserted)):
    * a full-sync merge whose batch covers most of the table marks only
    * the rows that actually disappeared, which no plan can avoid
    * writing. Target-only rows no clause consumes are filtered before
    * the persist, so the cached pass never holds the untouched table.
    */
  final case class VectoredMergePlan(
      matchedPairs: DataFrame,
      marks: DataFrame => DataFrame,
      newVersions: DataFrame => DataFrame,
      inserts: DataFrame => DataFrame)

  /** Build the [[VectoredMergePlan]]. Pure — no actions, no persistence.
    *
    * @param targetWithPos the positioned live scan: the target's logical
    *        columns plus `posCols` (the DV file/pos pair).
    * @param keys equi-join pairs (targetCol, sourceCol), as [[mergeClauses]].
    * @param posCols exactly (fileKeyCol, posCol), in that order.
    */
  def mergeVectoredPlan(
      targetWithPos: DataFrame,
      source: DataFrame,
      keys: Seq[(String, String)],
      matched: Seq[WhenClause],
      notMatched: Seq[WhenNotMatchedInsert],
      targetCols: Seq[String],
      targetSchema: StructType,
      posCols: Seq[String],
      insertDefaults: Map[String, Column] = Map.empty,
      notMatchedBySource: Seq[WhenClause] = Nil): VectoredMergePlan = {
    require(posCols.length == 2, "posCols must be (fileKey, pos)")
    requireClauseKinds(keys, matched, notMatchedBySource)

    val t = targetWithPos.as(TargetSide)
    // the presence MARK (not a source column's null-ness) distinguishes
    // matched from target-only rows under the left join — source columns
    // may legitimately hold NULLs
    val s = side(source, SourceSide, SrcMark)

    val mIdx = chosen(matched)
    val nIdx = chosen(notMatchedBySource)
    val srcPresent = col(SrcMark).isNotNull

    // ONE table pass: stream the positioned scan, broadcast the source.
    // Without by-source clauses the join is INNER — target-only rows
    // never leave the scan, their row class is "untouched" by
    // construction. With by-source clauses it is LEFT OUTER (same
    // broadcast-hash shape), and target-only rows a by-source clause
    // declines are filtered HERE, before the caller's persist, so the
    // cached frame stays output-proportional.
    // The row-class formulas below serve both shapes: under the inner
    // join the source mark is never NULL and no by-source clause exists,
    // so the optimizer folds their target-only halves away.
    val joined = t.join(broadcast(s),
      keys.map { case (tk, sk) => tc(tk) === sc(sk) }.reduce(_ && _),
      if (notMatchedBySource.nonEmpty) "left_outer" else "inner")
      .filter(srcPresent || nIdx =!= -1)

    val consumes = (srcPresent && mIdx =!= -1) || (!srcPresent && nIdx =!= -1)
    val marks = (j: DataFrame) => j.filter(consumes)
      .select(tc(posCols.head).as("file"), tc(posCols(1)).as("pos"))

    val keepsNewVersion =
      (srcPresent && mIdx =!= -1 && !deleteChosen(matched, mIdx)) ||
        (!srcPresent && nIdx =!= -1 && !deleteChosen(notMatchedBySource, nIdx))
    val newVersions = (j: DataFrame) =>
      j.filter(keepsNewVersion).select(targetCols.map(c =>
        when(srcPresent, chainClauseValues(targetSchema, matched, mIdx, c,
          tc(c))).otherwise(chainClauseValues(targetSchema,
          notMatchedBySource, nIdx, c, tc(c))).as(c)): _*)

    val inserts = (j: DataFrame) => {
      // Source rows with no match: anti-join the SMALL frames (source ×
      // the cached matched source-keys, under their own qualifier). Target
      // references resolve to typed NULLs, so library-caller insert
      // expressions that touch tc(...) read NULL instead of erroring
      // (SQL-originated inserts are analyzer-guaranteed source-only).
      // Under by-source the cached frame also holds target-only rows —
      // their null source keys never equi-match the anti-join, but filter
      // them anyway for a tight build side.
      val matchedKeys = j.filter(srcPresent)
        .select(keys.map { case (_, sk) => sc(sk) }: _*).distinct()
        .as(MatchedSide)
      val unmatched = s.join(broadcast(matchedKeys),
          keys.map { case (_, sk) => sc(sk) === col(s"$MatchedSide.${quoted(sk)}") }
            .reduce(_ && _),
          "left_anti")
      val nullTarget: ColRef = c => typedNull(targetSchema(c).dataType)
      val iIdx = chosen(notMatched, nullTarget)
      unmatched.filter(iIdx =!= -1)
        .select(targetCols.map(c =>
          chainClauseValues(targetSchema, notMatched, iIdx, c, nullTarget(c),
            insertDefaults, nullTarget).as(c)): _*)
    }

    VectoredMergePlan(joined, marks, newVersions, inserts)
  }
}
