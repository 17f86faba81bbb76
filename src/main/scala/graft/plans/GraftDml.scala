package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession, GraftColumnBridge => B}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, AttributeSet, Cast, CommonExpressionRef, EqualTo, Expression, RuntimeReplaceable, SubqueryExpression, With}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, lit}

import graft.sources.GraftSqlSource
import graft.table.{MedallionTable, MergeOps}

/** SQL DML bridge for graft catalog tables — the analyzer-rule rewrite that
  * makes `MERGE INTO` / `UPDATE` / `DELETE FROM` work against
  * `CREATE TABLE … USING graft` tables (the Delta-style architecture:
  * Delta's pre-DSv2 releases wired MERGE exactly this way, a resolution
  * rule turning the analyzed command into a runnable command over its own
  * table layer).
  *
  * Spark fully analyzes all three commands for ANY DSv2 relation — stars
  * expanded, assignments aligned and cast, conditions resolved — and only
  * fails at planning with "table does not support …". This rule intercepts
  * the analyzed plan (post-hoc resolution, so everything is resolved) when
  * the target is a graft table and replaces it with a command that executes
  * through [[MedallionTable]] — the SAME CAS-serialized rewrite commit
  * protocol as the API paths; SQL DML gains multi-writer conflict
  * detection, CHECK-constraint enforcement, history, and time travel for
  * free.
  *
  * Scope (documented refusals, matching Delta's own limits where noted):
  *   - ON must be a conjunction of target=source equi-predicates (a theta
  *     ON would force an all-pairs join — the shape that dies at scale);
  *   - no subqueries inside conditions (Delta refuses these too);
  *   - no nested-field assignments;
  *   - snapshot tables (`OPTIONS (versionAsOf N)`) are read-only.
  *
  * `MERGE … WITH SCHEMA EVOLUTION` (and `spark.graft.autoMergeSchema`)
  * are supported: Spark's ResolveMergeIntoSchemaEvolution alters the
  * catalog schema from the source before this rule runs, and the flag
  * threads through to the table layer to widen the physical table.
  *
  * Activation: sessions built with `spark.sql.extensions =
  * graft.plans.GraftExtensions` (e.g. [[graft.GraftSession]]). Analyzer
  * rules cannot be injected into an already-built session — unlike the
  * function registrations, there is no post-hoc `register` for this rule.
  */
class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case d @ DeleteFromTable(target, cond) if d.resolved =>
      graftTarget(target).map { case (rel, path) =>
        requireNoSubquery(cond, "DELETE condition")
        GraftDeleteCommand(path,
          toColumn(cond, rel.outputSet, c => col(quoted(c)), unusedRef), rel)
      }.getOrElse(d)

    case u @ UpdateTable(target, assignments, cond) if u.resolved =>
      graftTarget(target).map { case (rel, path) =>
        cond.foreach(requireNoSubquery(_, "UPDATE condition"))
        assignments.foreach(a => requireNoSubquery(a.value, "UPDATE assignment"))
        val set = assignments.map { a =>
          assignmentName(a) ->
            toColumn(a.value, rel.outputSet, c => col(quoted(c)), unusedRef)
        }.toMap
        GraftUpdateCommand(path,
          cond.map(toColumn(_, rel.outputSet, c => col(quoted(c)), unusedRef))
            .getOrElse(lit(true)),
          set, rel)
      }.getOrElse(u)

    case m: MergeIntoTable if m.resolved =>
      graftTarget(m.targetTable).map { case (rel, path) =>
        // WITH SCHEMA EVOLUTION (and the autoMerge capability) are
        // resolved BEFORE this rule by Spark's own
        // ResolveMergeIntoSchemaEvolution: it computes the schema changes
        // from the source, alters the CATALOG table, and re-resolves the
        // target — so the assignments below already reference the evolved
        // columns. The flag still threads through to the table layer,
        // which widens the PHYSICAL table (rewrite: in-pass; DV path: a
        // SchemaOverlay ADD inside the merge commit).
        val evolve = m.withSchemaEvolution ||
          spark.conf.getOption(GraftDml.AutoMergeKey).exists(_.toBoolean)
        val tOut = rel.outputSet
        val sOut = m.sourceTable.outputSet
        requireNoSubquery(m.mergeCondition, "MERGE ON condition")
        (m.matchedActions ++ m.notMatchedActions ++ m.notMatchedBySourceActions)
          .foreach { a =>
            a.condition.foreach(requireNoSubquery(_, "MERGE WHEN condition"))
            a match {
              case ua: UpdateAction => ua.assignments
                .foreach(x => requireNoSubquery(x.value, "MERGE assignment"))
              case ia: InsertAction => ia.assignments
                .foreach(x => requireNoSubquery(x.value, "MERGE assignment"))
              case _ => ()
            }
          }
        val srcNames = m.sourceTable.output.map(_.name)
        require(srcNames.distinct.size == srcNames.size,
          "MERGE source has duplicate column names — alias them apart first")

        val keys = equiKeys(m.mergeCondition, tOut, sOut)
        val matched = m.matchedActions.map {
          case UpdateAction(c, assigns, _) => MergeOps.WhenMatchedUpdate(
            c.map(mkCond(_, tOut, sOut)), mkSet(assigns, tOut, sOut))
          case DeleteAction(c) =>
            MergeOps.WhenMatchedDelete(c.map(mkCond(_, tOut, sOut)))
          case other => throw new UnsupportedOperationException(
            s"unsupported WHEN MATCHED action: $other")
        }
        val notMatched = m.notMatchedActions.map {
          case InsertAction(c, assigns) => MergeOps.WhenNotMatchedInsert(
            c.map(mkCond(_, tOut, sOut)), mkSet(assigns, tOut, sOut))
          case other => throw new UnsupportedOperationException(
            s"unsupported WHEN NOT MATCHED action: $other")
        }
        val bySource = m.notMatchedBySourceActions.map {
          case UpdateAction(c, assigns, _) => MergeOps.WhenNotMatchedBySourceUpdate(
            c.map(mkCond(_, tOut, sOut)), mkSet(assigns, tOut, sOut))
          case DeleteAction(c) =>
            MergeOps.WhenNotMatchedBySourceDelete(c.map(mkCond(_, tOut, sOut)))
          case other => throw new UnsupportedOperationException(
            s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
        }
        GraftMergeCommand(path, m.sourceTable, keys, matched, notMatched,
          bySource, rel, evolve)
      }.getOrElse(m)

    case p => p
  }

  /** Unwraps alias layers; Some((relation, path)) when the target is a
    * LIVE graft table. Snapshot-pinned tables refuse with a clear error
    * instead of silently falling through to Spark's generic one.
    */
  private def graftTarget(p: LogicalPlan): Option[(DataSourceV2Relation, String)] =
    p match {
      case SubqueryAlias(_, child) => graftTarget(child)
      case r: DataSourceV2Relation =>
        GraftSqlSource.tableLocation(r.table).map {
          case (path, None) => (r, path)
          case (_, Some(v)) => throw new UnsupportedOperationException(
            s"table pinned to versionAsOf=$v is read-only — run DML against the live table")
        }
      case _ => None
    }

  private def quoted(c: String): String = s"`$c`"

  private val unusedRef: MergeOps.ColRef = c =>
    throw new IllegalStateException(s"unexpected source-side reference $c")

  private def requireNoSubquery(e: Expression, where: String): Unit =
    if (e.exists(_.isInstanceOf[SubqueryExpression]))
      throw new UnsupportedOperationException(
        s"subqueries are not supported in a graft $where (Delta parity)")

  private def assignmentName(a: Assignment): String = a.key match {
    case ar: AttributeReference => ar.name
    case other => throw new UnsupportedOperationException(
      s"only top-level column assignments are supported, got: $other")
  }

  /** Rewrites side attributes to the caller-supplied resolvers and wraps
    * the result as a Column; everything else in the tree is already
    * resolved and re-analyzes as-is — once runtime-replaceable
    * expressions are lowered ([[lowered]]).
    */
  private def toColumn(e: Expression, tOut: AttributeSet, t: MergeOps.ColRef,
      s: MergeOps.ColRef, sOut: AttributeSet = AttributeSet.empty): Column =
    B.column(lowered(e).transform {
      case a: AttributeReference if tOut.contains(a) => B.expression(t(a.name))
      case a: AttributeReference if sOut.contains(a) => B.expression(s(a.name))
    })

  /** Replaces every runtime-replaceable expression by its replacement
    * (what the optimizer's ReplaceExpressions does) and inlines the
    * common-expression `With` nodes those replacements use. `BETWEEN`
    * resolves to a runtime-replaceable `Between` whose replacement shares
    * its input through a `With`: with the attributes swapped for
    * unresolved column references, re-analysis of that tree failed with
    * an UnresolvedException. The lowered form is plain comparisons.
    * Inlining evaluates a shared input once per reference, so a
    * non-deterministic one refuses.
    */
  private def lowered(e: Expression): Expression =
    e.transformUp { case r: RuntimeReplaceable => r.replacement }
      .transformUp { case w: With =>
        val defs = w.defs.map(d => d.id -> d.child).toMap
        if (!defs.values.forall(_.deterministic))
          throw new UnsupportedOperationException(
            s"non-deterministic shared input in a graft DML expression: ${w.sql}")
        w.child.transformUp {
          case r: CommonExpressionRef if defs.contains(r.id) => defs(r.id)
        }
      }

  private def mkCond(e: Expression, tOut: AttributeSet, sOut: AttributeSet)
      : (MergeOps.ColRef, MergeOps.ColRef) => Column =
    (t, s) => toColumn(e, tOut, t, s, sOut)

  private def mkSet(assigns: Seq[Assignment], tOut: AttributeSet, sOut: AttributeSet)
      : Map[String, (MergeOps.ColRef, MergeOps.ColRef) => Column] =
    assigns.map { a =>
      val name = assignmentName(a)
      name -> ((t: MergeOps.ColRef, s: MergeOps.ColRef) =>
        toColumn(a.value, tOut, t, s, sOut))
    }.toMap

  /** ON must split into target=source equi-pairs (casts stripped — the
    * join re-coerces identically).
    */
  private def equiKeys(cond: Expression, tOut: AttributeSet, sOut: AttributeSet)
      : Seq[(String, String)] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def stripCastAlias(e: Expression): Expression = e match {
      case c: Cast => stripCastAlias(c.child)
      case a: Alias => stripCastAlias(a.child)
      case x => x
    }
    conjuncts(cond).map { c =>
      c match {
        case EqualTo(l, r) =>
          (stripCastAlias(l), stripCastAlias(r)) match {
            case (a: AttributeReference, b: AttributeReference)
                if tOut.contains(a) && sOut.contains(b) => (a.name, b.name)
            case (a: AttributeReference, b: AttributeReference)
                if sOut.contains(a) && tOut.contains(b) => (b.name, a.name)
            case _ => throw new UnsupportedOperationException(
              s"MERGE ON must be a conjunction of target=source column equalities; got: $c")
          }
        case _ => throw new UnsupportedOperationException(
          s"MERGE ON must be a conjunction of target=source column equalities; got: $c")
      }
    }
  }
}

/** `DELETE FROM g WHERE …` → [[MedallionTable.delete]] (NULL-predicate rows
  * survive, SQL semantics; partition-aligned predicates drop whole
  * directories metadata-only).
  */
final case class GraftDeleteCommand(path: String, cond: Column,
    targetRelation: LogicalPlan) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    new MedallionTable(spark, path).delete(cond)
    GraftDml.invalidateCaches(spark, path, Some(targetRelation))
    Seq.empty
  }
}

private[plans] object GraftDml {
  /** Session flag turning on merge schema evolution without the SQL
    * clause — Delta's `spark.databricks.delta.schema.autoMerge.enabled`
    * analog. Read by [[GraftDmlRule]] for the table-layer widening AND by
    * the catalog table's capabilities (AUTOMATIC_SCHEMA_EVOLUTION), which
    * arms Spark's own analyzer-side catalog evolution.
    */
  val AutoMergeKey = "spark.graft.autoMergeSchema"

  /** Cached plans over the table (CACHE TABLE / df.cache) must not keep
    * serving pre-DML rows — the same invalidation Spark's own v2 DML and
    * Delta perform after a write (review finding, round 10).
    */
  /** Invalidation owed after any data-mutating statement: path-derived
    * caches of the inner parquet scan via refreshByPath, CACHE TABLE
    * entries over the catalog relation via recacheByPlan (sameResult —
    * DataSourceV2Relation equality includes the catalog identifier, so
    * the RESOLVED target relation is threaded through when available),
    * and read-by-path caches via a freshly-built path relation.
    */
  def invalidateCaches(spark: SparkSession, path: String,
      targetRelation: Option[LogicalPlan] = None): Unit = {
    spark.catalog.refreshByPath(path)
    targetRelation.foreach(B.recacheByPlan(spark, _))
    B.recacheByPlan(spark,
      spark.read.format("graft").option("path", path).load()
        .queryExecution.logical)
  }
}

/** `UPDATE g SET … [WHERE …]` → [[MedallionTable.update]] (simultaneous
  * assignment semantics, matching SQL). With the session conf
  * `spark.graft.dvWrites=true` the update routes through the
  * deletion-vector path instead ([[MedallionTable.updateVectored]] —
  * O(matched) marks + staged batch, zero data files rewritten), the way
  * Delta routes DML once `enableDeletionVectors` is set; result-identical
  * by the DvUpdates contract, and refused with the usual actionable
  * message on a table with a live Delta-log export.
  */
final case class GraftUpdateCommand(path: String, cond: Column,
    set: Map[String, Column], targetRelation: LogicalPlan)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = new MedallionTable(spark, path)
    if (spark.conf.getOption("spark.graft.dvWrites").exists(_.toBoolean))
      t.updateVectored(cond, set)
    else t.update(cond, set)
    GraftDml.invalidateCaches(spark, path, Some(targetRelation))
    Seq.empty
  }
}

/** `MERGE INTO g USING s ON … WHEN …` → [[MedallionTable.mergeClauses]]:
  * one full-outer shuffle join on the extracted equi-keys, first-match
  * clause semantics, Delta's multiple-source-rows-matched failure. With
  * `spark.graft.dvWrites=true` the merge routes through the
  * deletion-vector path instead ([[MedallionTable.mergeVectored]] —
  * O(consumed) marks + one staged batch, zero data files rewritten),
  * mirroring Delta's DV-enabled MERGE — NOT MATCHED BY SOURCE statements
  * included (round 16): by-source clauses ride the same single pass as a
  * left-outer broadcast join, so the full-sync merge shape stays
  * O(matched + disappeared) end-to-end.
  */
final case class GraftMergeCommand(
    path: String,
    source: LogicalPlan,
    keys: Seq[(String, String)],
    matched: Seq[MergeOps.WhenClause],
    notMatched: Seq[MergeOps.WhenNotMatchedInsert],
    notMatchedBySource: Seq[MergeOps.WhenClause],
    targetRelation: LogicalPlan,
    evolveSchema: Boolean = false) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    val t = new MedallionTable(spark, path)
    val dv = spark.conf.getOption("spark.graft.dvWrites").exists(_.toBoolean)
    val sourceDf = B.ofRows(spark, source)
    // mergeVectored force-broadcasts the source (its documented
    // broadcast-sized contract) — a large-source full-sync merge routed
    // there blindly could OOM the driver/executors. SQL MERGE guards the
    // route with the planner's own size estimate against the broadcast
    // threshold and falls back to the result-identical rewrite path when
    // the source is too big. A non-positive threshold is the
    // conventional way to DISABLE broadcasts outright (they OOM'd), so
    // it must also forbid this forced one — the rewrite path handles
    // every size. spark.graft.dvMergeMaxSourceBytes overrides the cap
    // when users want DV merges sized independently of join planning.
    val dvFits = dv && {
      val cap = spark.conf.getOption("spark.graft.dvMergeMaxSourceBytes")
        .flatMap(_.toLongOption)
        .getOrElse(spark.sessionState.conf.autoBroadcastJoinThreshold)
      cap > 0 &&
        sourceDf.queryExecution.optimizedPlan.stats.sizeInBytes <= cap
    }
    if (dvFits)
      t.mergeVectored(sourceDf, keys, matched, notMatched,
        notMatchedBySource, evolveSchema = evolveSchema)
    else t.mergeClauses(
      sourceDf, keys, matched, notMatched, notMatchedBySource,
      evolveSchema = evolveSchema)
    GraftDml.invalidateCaches(spark, path, Some(targetRelation))
    Seq.empty
  }
}
