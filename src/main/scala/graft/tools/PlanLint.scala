package graft.tools

import org.apache.spark.sql.execution.SparkPlan

/** Plan-level anti-pattern sweep over EVERY registered query — the
  * automated form of the "is this the plan you'd want at 100 TB" audit:
  *
  *   - CartesianProduct / BroadcastNestedLoopJoin (all-pairs blowups;
  *     BNLJ with a broadcast side is tolerated only when allowlisted
  *     with a bounded-side justification);
  *   - Window or global Sort over a SINGLE partition (the whole dataset
  *     funnels through one task — the compactZOrder-class scale-killer);
  *
  * Exit code 1 when a non-allowlisted violation appears, so the sweep
  * can gate a round like selfcheck/benchgate do. Allowlist entries are
  * deliberate, documented design decisions — not suppressions.
  *
  * Usage: runMain graft.tools.PlanLint [sfDir] [query ...]
  */
object PlanLint {

  /** query -> (allowed offense PREFIXES, justification). Per-pattern, not
    * per-query: a regression introducing a NEW anti-pattern class in an
    * allowlisted query must still fail the gate.
    */
  private val allow: Map[String, (Set[String], String)] = Map(
    "j15_cross_join_small" -> (Set("BroadcastNestedLoopJoin"),
      "deliberate CROSS JOIN coverage query; both sides broadcast-small by construction"),
    "j7_geo_nn_assignment" -> (Set("BroadcastNestedLoopJoin"),
      "crossJoin against an explicitly broadcast, bounded dimension (stations)"),
    "ngram_jaccard_pairs" -> (Set("BroadcastNestedLoopJoin"),
      "exact all-pairs Jaccard on a doc_id<25 bounded population (oracle baseline; the unbounded path is LSH)"),
    "dedup_cc_groups" -> (Set("BroadcastNestedLoopJoin"),
      "edges derive from the same bounded all-pairs baseline as ngram_jaccard_pairs"),
    "dedup_embedding_pairs" -> (Set("BroadcastNestedLoopJoin"),
      "documented bounded-corpus broadcast kernel; unbounded path is sim_ann_lsh/ivf"),
    "j12_range_join" -> (Set("BroadcastNestedLoopJoin"),
      "broadcast range join: BNLJ against an explicitly broadcast, bounded interval set"),
    "sim_topk_bruteforce" -> (Set("BroadcastNestedLoopJoin"),
      "corpus x broadcast(k query vectors): the bounded exact baseline; scale paths are sim_ann_lsh/ivf"),
    "eval_classifier_metrics" -> (Set("BroadcastNestedLoopJoin"),
      "confusion counts over embed_knn_classifier's decisions — inherits its corpus x broadcast(25 query vectors) brute-force kernel; ANN paths swap in at scale"),
    "eval_retrieval_metrics" -> (Set("BroadcastNestedLoopJoin"),
      "ranked lists from the bounded brute-force baseline (corpus x broadcast(8 query vectors)); ANN paths swap in at scale with the same output shape"),
    "sim_hybrid_rrf" -> (Set("BroadcastNestedLoopJoin", "Window over a single partition"),
      "dense arm is corpus x broadcast(ONE query vector); both rank windows run AFTER TakeOrderedAndProject over exactly 20 survivor rows, so the single partition holds <= 20 rows by construction"),
    "sim_hybrid_standing" -> (Set("BroadcastNestedLoopJoin", "Window over a single partition"),
      "dense arm probes queries x broadcast(trained centroid table) as sim_standing_index; the sparse rank window runs over StandingBm25Index.query's <= 20-row top-k output"),
    "sim_ann_ivf" -> (Set("BroadcastNestedLoopJoin"),
      "corpus x broadcast(centroids) cell assignment — centroid count is a small constant"),
    "sim_ann_ivf_seeded" -> (Set("BroadcastNestedLoopJoin"),
      "same corpus x broadcast(centroids) assignment as sim_ann_ivf, with seed (iterations=0) centroids for the end-to-end DuckDB oracle"),
    "sim_ann_xcheck" -> (Set("BroadcastNestedLoopJoin"),
      "same IVF corpus x broadcast(centroids) cell assignment as sim_ann_ivf, on the planted-dup corpus"),
    "sim_standing_index" -> (Set("BroadcastNestedLoopJoin"),
      "queries x broadcast(trained centroid table) probe — centroid count is a small constant; the candidate join is an equi-join on cell_id"),
    "sim_standing_ivfpq" -> (Set("BroadcastNestedLoopJoin"),
      "queries x broadcast(trained centroid table) probe, as sim_standing_index; ADC itself is an equi-join on (cell_id, sub_id, code) over the cell-pruned code table"),
    "sim_semdedup" -> (Set("BroadcastNestedLoopJoin"),
      "same IVF corpus x broadcast(centroids) cell assignment; the pair join itself is an equi-join on cell_id"),
    "sim_ivfpq_topk" -> (Set("BroadcastNestedLoopJoin"),
      "IVFADC composite: same corpus x broadcast(centroids) assignment as sim_ann_ivf; ADC itself is an equi-join on (cell_id, sub_id, code)"),
    "sim_ivfpq_xcheck" -> (Set("BroadcastNestedLoopJoin"),
      "same IVFADC assignment on the planted-dup corpus"),
    "sim_ivfpq_seeded" -> (Set("BroadcastNestedLoopJoin"),
      "same IVFADC corpus x broadcast(centroids) assignment with seed " +
        "(iterations=0) quantizers for the end-to-end DuckDB oracle"),
    "embed_knn_classifier" -> (Set("BroadcastNestedLoopJoin"),
      "vote over the bounded sim_topk_bruteforce kernel (25 broadcast queries); the scale path swaps in Ivf/IvfPq topK — same output shape"),
    "sim_decontaminate_semantic" -> (Set("BroadcastNestedLoopJoin"),
      "corpus x broadcast(benchmark vectors): the bench side is bounded by contract (an eval suite); an unbroadcastable benchmark moves to the IVF cell join")
  )

  private def offenses(plan: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.{SortExec, adaptive}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.{LocalLimitExec, ProjectExec}
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    // A SinglePartition exchange is FINE when it carries pre-reduced data:
    // a global aggregate ships one partial row per upstream partition, a
    // limit ships ≤ limit rows. It is a funnel only when raw data flows in.
    def reduced(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec | _: LocalLimitExec => true
      case pr: ProjectExec => reduced(pr.child)
      case _ => false
    }
    def walk(p: SparkPlan): Seq[String] = {
      val here = p match {
        case _: CartesianProductExec => Seq("CartesianProduct")
        case j: BroadcastNestedLoopJoinExec => Seq(s"BroadcastNestedLoopJoin(${j.joinType})")
        case w: WindowExec if w.partitionSpec.isEmpty => Seq("Window over a single partition")
        case s: SortExec if s.global &&
            s.child.outputPartitioning == SinglePartition => Seq("global Sort into one partition")
        case e: ShuffleExchangeLike if e.outputPartitioning == SinglePartition &&
            !reduced(e.child) => Seq("Exchange to SinglePartition over raw data")
        case _ => Nil
      }
      val kids = p match {
        case a: adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case a: adaptive.QueryStageExec => Seq(a.plan)
        case other => other.children
      }
      here ++ kids.flatMap(walk)
    }
    walk(plan).distinct
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.GraftSession.builder(4)
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var bad = 0
    names.foreach { n =>
      graft.SparkEntry.queries.get(n) match {
        case None =>
          bad += 1
          println(s"FAIL  $n: no such registered query")
        case Some(fn) =>
          try {
            val found = offenses(fn(spark, sfDir).queryExecution.executedPlan)
            if (found.nonEmpty) {
              val (okPrefixes, why) = allow.getOrElse(n, (Set.empty[String], ""))
              val (allowed, denied) =
                found.partition(f => okPrefixes.exists(f.startsWith))
              if (allowed.nonEmpty)
                println(s"ALLOW $n: ${allowed.mkString("; ")} — $why")
              if (denied.nonEmpty) {
                bad += 1
                println(s"FAIL  $n: ${denied.mkString("; ")}")
              }
            }
          } catch {
            // a query whose plan no longer even builds is a regression,
            // not a skip — the gate must fail on it
            case e: Throwable =>
              bad += 1
              println(s"FAIL  $n: plan construction threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
      }
    }
    println(s"\n${names.size} plans checked, $bad non-allowlisted violations")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
