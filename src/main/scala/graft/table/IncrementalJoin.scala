package graft.table

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental maintenance of a materialized N:1 equi-join (fact ⋈ dim)
  * from CDC change feeds — the join half of the gold-refresh story whose
  * aggregate half is [[IncrementalAgg]].
  *
  * The reference's gold table IS such a join: a wide fact enriched with
  * several dimension tables, rebuilt end-to-end every pipeline run
  * (gold_table_creation.py:26-31 loads every input, :164 rewrites the
  * result). That is O(fact ⋈ dims) per refresh; at 100 TB the fact-side
  * shuffle dominates the pipeline. For an INNER equi-join keyed N:1
  * (each fact row matches at most one dim row — the star-schema
  * contract), the classic view-maintenance decomposition applies:
  *
  *   Δ(F ⋈ D) = ΔF ⋈ D'  ⊕  F'|affected ⋈ ΔD
  *
  * where ' marks post-change state and `affected` is the fact slice
  * whose join key appears in ΔD. Both terms are MERGEs into the
  * materialized table keyed by the FACT key (the output key of an N:1
  * join), so a refresh costs O(ΔF ⋈ D) + O(affected slice) + the
  * partition-pruned rewrite — never a full fact rescan.
  *
  * Scale shape per apply:
  *  - fact-side batch: one equi-join of the CHANGE BATCH against the
  *    dim (AQE broadcasts a small dim), then one [[MedallionTable]]
  *    merge — O(batch) rows shuffled on the merge keys.
  *  - dim-side batch: the affected key set is batch-bounded (a dim
  *    change feed names the keys it touched), broadcast into a
  *    left-semi filter of the fact — with the fact partitioned or
  *    stats-manifested on the join key this scan prunes to the touched
  *    slice's files — then the same merge.
  *
  * Dangling rows fall out of the algebra rather than needing cases: a
  * fact row whose key has no dim match joins to nothing (inner join),
  * so the merge DELETEs its materialized row if one existed; a dim
  * INSERT that makes previously-dangling fact rows joinable INSERTs
  * them. Exactness: the merge rewrites whole rows (no float
  * accumulation at all), so the maintained view is bit-identical to a
  * recompute — which is what `k9_incremental_join`'s oracle asserts by
  * recomputing the post-change join from scratch.
  *
  * Key pairs are (factCol, dimCol) — star schemas name the two sides
  * differently (o_custkey / c_custkey) and then both key columns survive
  * into the view; a same-named pair keeps one copy (USING semantics).
  */
object IncrementalJoin {

  private def joinCond(left: DataFrame, right: DataFrame,
      on: Seq[(String, String)]): Column =
    on.map { case (f, dk) => left(f) === right(dk) }.reduce(_ && _)

  /** Same-named key pairs would duplicate a column in the joined view —
    * keep the fact side, drop the dim copy (USING semantics).
    */
  private def dropDupKeys(joined: DataFrame, dim: DataFrame,
      on: Seq[(String, String)]): DataFrame =
    on.collect { case (f, dk) if f == dk => dim(dk) }
      .foldLeft(joined)(_.drop(_))

  /** Materialized view = inner equi-join, keyed by the fact key. Join
    * strategy is left to Catalyst/AQE: a small dim broadcasts, a large
    * one shuffle-joins (and at scale both sides pre-partitioned on the
    * join keys co-locate).
    */
  def fullCompute(fact: DataFrame, dim: DataFrame,
      on: Seq[(String, String)]): DataFrame =
    dropDupKeys(fact.join(dim, joinCond(fact, dim, on)), dim, on)

  /** Apply a FACT-side CDC batch (schema: fact columns + `_change_type`,
    * the [[MedallionTable.changesSince]] feed) against the CURRENT dim
    * state. Result state ≡ [[fullCompute]] over the post-change fact.
    *
    * Preimages are dropped (CDC is a same-key diff: an update's key is
    * stable, a key change arrives as delete + insert), postimages and
    * inserts upsert their joined row — or DELETE the materialized row
    * when the new join key dangles — and deletes delete.
    */
  def applyFactChanges(mv: MedallionTable, factChanges: DataFrame,
      dim: DataFrame, factKeys: Seq[String],
      on: Seq[(String, String)]): Unit = {
    val batch = factChanges
      .filter(col("_change_type").isin("insert", "update_postimage", "delete"))
      .withColumn("__del", col("_change_type") === "delete")
      .drop("_change_type")
    val d = dim.withColumn("__dim_hit", lit(true))
    // the pruned route assumes the view's partition columns are
    // KEY-STABLE; an update that MOVES a row across partitions would
    // leave the old copy in an untouched directory — detect (one
    // batch-sized aggregate) and take the full-outer route instead
    val partCols = mv.partitionColumns
    val prunedSafe = partCols.isEmpty ||
      (partCols.forall(factChanges.columns.contains) &&
        factChanges
          .filter(col("_change_type")
            .isin("update_preimage", "update_postimage"))
          .groupBy(factKeys.map(col): _*)
          .agg(countDistinct(struct(partCols.map(col): _*)).as("__n"))
          .filter(col("__n") > 1).isEmpty)
    mergeAffected(mv,
      dropDupKeys(batch.join(d, joinCond(batch, d, on), "left"), d, on),
      factKeys, allowPruned = prunedSafe)
  }

  /** Apply a DIM-side CDC batch. `fact` and `dim` are the CURRENT
    * (post-change) states; `dimChanges` is the dim's CDC feed, used only
    * for the key set it touched (pre + post images both contribute, so a
    * dim key-move repairs both the rows it left and the rows it now
    * serves). Result state ≡ [[fullCompute]] over the current states.
    *
    * The affected-key set is batch-bounded — broadcast by construction,
    * the same class as [[IncrementalAgg]]'s group-key join — and the
    * left-semi fact filter is what a join-key-partitioned or
    * stats-manifested fact turns into a pruned scan.
    */
  def applyDimChanges(mv: MedallionTable, fact: DataFrame,
      dim: DataFrame, dimChanges: DataFrame, factKeys: Seq[String],
      on: Seq[(String, String)]): Unit = {
    val affected = dimChanges.select(on.map(p => col(p._2)): _*).distinct()
    val slice = fact.join(broadcast(affected),
      joinCond(fact, affected, on), "left_semi")
    val d = dim.withColumn("__dim_hit", lit(true))
    val withFlags = slice.withColumn("__del", lit(false))
    mergeAffected(mv,
      dropDupKeys(withFlags.join(d, joinCond(withFlags, d, on), "left"), d, on),
      factKeys)
  }

  /** Batch "REFRESH MATERIALIZED VIEW" for the join — the sibling of
    * [[IncrementalAgg.catchUp]]: bring the view up to the fact's current
    * commit by repairing from `changesSinceOrdinal(reflected)`, whatever
    * wrote the fact and however many times this re-runs. Bootstrap is a
    * full compute.
    *
    * The reflected ordinal lives in a SIBLING file
    * (`<view>__graft_mv_reflects`) — a join view is fact-sized, so the
    * aggregate-gold trick of stamping the ordinal into the table and
    * swapping it whole would cost a full rewrite per refresh. The
    * stamp-after-repair ordering is safe WITHOUT atomicity because the
    * repair is idempotent by construction (a state diff re-applied sets
    * the same final rows; DV re-marks are inert), so a crash between
    * repair and stamp only means the next refresh re-applies a prefix —
    * at-least-once application of an idempotent repair is exactly-once
    * effect. Dim-side changes are the caller's to route through
    * [[applyDimChanges]] (dims change rarely and out-of-band).
    *
    * Change source: the fact's writer-captured change feed when it
    * covers the gap (O(Δ) — [[ChangeFeed]]); otherwise the snapshot
    * diff, for which `fact` must be opened with `retainVersions`
    * covering the refresh cadence, as for [[IncrementalAgg.catchUp]].
    */
  def catchUp(fact: MedallionTable, dim: DataFrame, mv: MedallionTable,
      factKeys: Seq[String], on: Seq[(String, String)]): Unit = {
    val spark = mv.spark
    val p = new org.apache.hadoop.fs.Path(s"${mv.path}__graft_mv_reflects")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val reflected: Option[Long] =
      SideFiles.readLatest(fs, p).filter(_ => mv.exists).map(_.trim.toLong)
    // stamp target resolved per change source (IncrementalAgg
    // .changesAndHead: the feed path's head is the completion-witnessed
    // capturedThrough, never the raw marker head)
    var cur = fact.commitVersion
    reflected match {
      case Some(ord) if ord == cur => () // nothing new
      case Some(ord) =>
        val (changes, head) = IncrementalAgg.changesAndHead(fact, ord, factKeys)
        cur = head
        if (head != ord) applyFactChanges(mv, changes, dim, factKeys, on)
      case None =>
        mv.overwrite(fullCompute(fact.read, dim, on))
    }
    SideFiles.replace(fs, p, cur.toString)
  }

  /** Shared merge: `src` carries the view's columns plus `__del`
    * (explicit fact delete) and `__dim_hit` (null = the row's join key
    * currently dangles). Matched rows update — or delete when deleted /
    * dangling; unmatched joinable rows insert; view rows outside the
    * batch are untouched (no NOT-MATCHED-BY-SOURCE clause).
    *
    * Two physical routes with identical semantics:
    *  - PRUNED (the shape that makes the O(batch) claim REAL at 100 TB —
    *    IncrementalJoinProbe measures it): when the view is
    *    hive-partitioned on KEY-STABLE fact columns (a date bucket — the
    *    universal lakehouse layout, and CDC batches have date locality),
    *    upserts go through the dynamic-partition-overwrite merge (reads
    *    and rewrites ONLY the touched partitions; partition columns join
    *    as extra keys, sound because they are key-stable) and removals
    *    go through a deletion vector (O(matched), zero files rewritten).
    *  - FULL-OUTER fallback otherwise — correct everywhere, but a full
    *    view rewrite; right for small or unpartitioned views.
    */
  private def mergeAffected(mv: MedallionTable, src: DataFrame,
      factKeys: Seq[String], allowPruned: Boolean = true): Unit = {
    import MergeOps._
    val partCols = mv.partitionColumns
    if (allowPruned && partCols.nonEmpty &&
        partCols.forall(src.columns.contains)) {
      val removals = src
        .filter(col("__del") || col("__dim_hit").isNull)
        .select(factKeys.map(col): _*)
      val upserts = src.filter(!col("__del") && col("__dim_hit").isNotNull)
        .drop("__del", "__dim_hit")
      if (!upserts.isEmpty)
        mv.mergePruned(upserts, factKeys ++ partCols,
          deleteNotMatchedBySource = false)
      if (!removals.isEmpty) // key frame stays distributed: a dim-delete
        mv.deleteVectoredKeys(removals, factKeys) // cascade never collects
    } else {
      val viewCols = mv.read.columns.toSeq
      val setAll: Map[String, (ColRef, ColRef) => Column] =
        viewCols.map(c => c -> ((_: ColRef, s: ColRef) => s(c))).toMap
      mv.mergeClauses(
        source = src,
        keys = factKeys.map(k => k -> k),
        matched = Seq(
          WhenMatchedDelete(Some((_, s) => s("__del") || s("__dim_hit").isNull)),
          WhenMatchedUpdate(None, setAll)),
        notMatched = Seq(WhenNotMatchedInsert(
          Some((_, s) => !s("__del") && s("__dim_hit").isNotNull), setAll)),
        notMatchedBySource = Nil)
    }
  }
}
