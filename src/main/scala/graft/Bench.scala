package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every registered query against
  * `SPARK_GRAFT_SF_DIR` and prints ONE compact JSON line on stdout.
  *
  * The driver keeps only a ~2000-char tail of the output and parses the JSON
  * line from it, so the line MUST (a) start with `{` at column 0 — build.sbt
  * sets `run / outputStrategy := StdoutOutput` so sbt does not prepend
  * `[info] ` — and (b) stay well under 2000 chars, so the per-query map is
  * restricted to a fixed headline subset at 3-decimal precision. The full
  * per-query map is written to `target/bench_full.json` for local analysis.
  */
object Bench {

  /** Fixed headline subset reported in the JSON line (stable keys across
    * rounds so totals and per-query times stay comparable). `value` is still
    * the total over ALL registered queries.
    */
  private val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority",
    "q5_local_supplier", "q6_forecast_revenue", "q10_returned_items",
    "q14_promo_share", "m0_wide_table", "pipeline_gold_e2e",
    "a1_dynamic_groupby_sql", "a2_static_agg14", "j7_geo_nn_assignment",
    "j14_salted_skew_join", "k4_merge_upsert", "k4_merge_cdc",
    "f5_dropduplicates", "dedup_exact_hash", "dedup_minhash_sig",
    "dedup_lsh_near_pairs", "dedup_simhash", "ngram_jaccard_pairs",
    "dedup_embedding_pairs", "sim_topk_bruteforce", "sim_ann_ivf",
    "sim_ann_lsh", "mm_features", "text_stats", "text_lm_score",
    "text_winnowing_fp", "text_token_bpe", "lang_id_ngram",
    "events_sessions_batch", "events_windowed_agg", "win_row_number",
    "sort_limit_topk", "u1_union",
    // round-5 additions (keys only ever grow; old keys stay comparable)
    "dedup_cc_groups", "embed_stats", "mm_decode_image", "text_redact_pii",
    // round-7 additions
    "mm_decode_video", "mm_decode_audio", "text_repetition", "text_gopher_rules",
    "text_decontaminate", "dedup_keep_best",
    // round-8 additions (line stays well under the ~2000-char tail budget)
    "dedup_index_persisted", "dedup_decision_xcheck", "sim_ann_xcheck",
    "text_boilerplate", "j11b_asof_salted", "sim_semdedup", "shard_shuffle",
    "pipeline_llm_curate", "sample_upsample_epochs", "text_bpe_pair_freq",
    // round-8 second wave
    "dedup_image_phash", "text_hash_classifier", "j18_bucketed_join",
    "agg_table_fingerprint",
    // round-10 additions
    "k6_catalog_named_table", "text_bpe_train_xcheck", "sim_ivfpq_topk",
    "embed_centroid_classifier"
  )

  private def f3(v: Double): String =
    if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // engine conf from GraftSession (the one source users, tests and the
    // oracle share); only harness keys are added here
    val spark = GraftSession.builder(cpus.toInt)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      // Round-8 postmortem: a transient local-mode RPC stall (default ask
      // timeout 120s, but the heartbeat/ask retry loop stalled one query
      // for ~37s × 2 attempts) inflated a2_static_agg14 7.8× and printed a
      // stack into the parsed tail. Generous timeouts make a GC-pause-class
      // hiccup a non-event; the per-query watchdog still bounds true hangs.
      .config("spark.network.timeout", "600s")
      .config("spark.rpc.askTimeout", "600s")
      .config("spark.rpc.lookupTimeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    LogNoise.silenceExpected()
    // Keep the parsed tail JSON-only by construction: every log4j event
    // (including any ERROR stack) goes to a file, never stdout/stderr.
    try LogNoise.redirectToFile("target/bench_spark.log")
    catch { case _: Throwable => () }
    val rpcTrip = LogNoise.installRpcTripDetector()
    // Bench's own diagnostics also go to the log file, not stderr: the
    // driver's parsed tail must hold nothing but the final JSON line.
    val blog = org.apache.logging.log4j.LogManager.getLogger("graft.Bench")
    // Unmeasured warmup: absorb executor/codegen startup so the first
    // measured query reflects query cost, not JVM cost.
    spark.range(1000).selectExpr("sum(id)").collect()
    try Tables.lineitem(spark, sfDir).limit(10).count()
    catch { case _: Throwable => () }
    // Per-query watchdog (same job-group-cancel shape as Verify): one
    // pathological query must not erase the whole round's performance
    // evidence — round 4's bench hung for ~59 minutes on a single query
    // and was killed, leaving no JSON at all. On timeout the query records
    // -1 and the run moves on.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val timeout = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "300").toInt
    // Watchdog self-test hook (off unless SPARK_GRAFT_INJECT_HANG is set):
    // adds a query that sleeps forever inside a task, proving a hung query
    // records -1 and the JSON line still prints.
    val injected: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] =
      if (sys.env.contains("SPARK_GRAFT_INJECT_HANG"))
        Map("__injected_hang" -> ((s, _) => {
          import s.implicits._
          s.range(4).mapPartitions { it => Thread.sleep(3600 * 1000L); it }.toDF()
        }))
      else Map.empty
    // One watchdog-guarded attempt; returns (elapsed seconds or -1,
    // whether an RPC stall was logged during the attempt — see
    // LogNoise.RpcTripDetector for why a tripped attempt's time is
    // evidence about the stall, not the query).
    // Live watchdog cancellers from earlier timed-out queries keep
    // re-cancelling their job group; the interrupt/cleanup fallout can log
    // "Futures timed out" during LATER attempts and spuriously trip the
    // detector (round-9 advice). While any canceller is alive, a trip is
    // attributed to the cleanup, not the measured query.
    val activeCancellers = new java.util.concurrent.atomic.AtomicInteger(0)
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      rpcTrip.reset()
      val t0 = System.nanoTime()
      // noop sink: computes EVERY output column (count() lets column
      // pruning skip per-column work entirely, hiding expression cost)
      // without paying sink I/O. A failed/timed-out query records -1,
      // never its time-to-failure (which would read as a speedup).
      val workerThread = new java.util.concurrent.atomic.AtomicReference[Thread]()
      val work = Future {
        // Job-group properties are thread-local: set them on the thread
        // that submits the Spark jobs, or cancelJobGroup cancels nothing.
        workerThread.set(Thread.currentThread())
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        finally spark.sparkContext.clearJobGroup()
      }
      val ok =
        try { Await.result(work, timeout.seconds); true }
        catch {
          case _: java.util.concurrent.TimeoutException =>
            // cancelJobGroup only reaches ACTIVE jobs — a query hung in
            // driver-side planning (the round-4 failure class) or between
            // AQE jobs would sail past one cancel. Interrupt the worker
            // and keep re-cancelling until it actually stops, so the
            // runaway can't burn cores under every later measurement.
            spark.sparkContext.cancelJobGroup(name)
            Option(workerThread.get()).foreach(_.interrupt())
            activeCancellers.incrementAndGet()
            val canceller = new Thread(() => {
              try {
                while (!work.isCompleted) {
                  Thread.sleep(5000)
                  spark.sparkContext.cancelJobGroup(name)
                }
              } finally activeCancellers.decrementAndGet()
            }, s"bench-cancel-$name")
            canceller.setDaemon(true)
            canceller.start()
            blog.warn(s"$name timed out after ${timeout}s (cancelled)")
            false
          case e: Throwable =>
            blog.warn(s"$name failed: ${e.getMessage}")
            false
        }
      // A trip observed while a cleanup canceller is live is cleanup
      // fallout, not a stall under this query's measurement.
      val trippedClean = rpcTrip.tripped && activeCancellers.get() == 0
      if (rpcTrip.tripped && !trippedClean)
        blog.warn(s"$name: rpc-ish log event ignored (watchdog canceller live)")
      (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0, trippedClean)
    }
    // Per-query isolation (round-5 verdict: late heavy queries read 2-4x
    // their isolated cost because GC pressure and leftover executor state
    // from 100+ prior queries land under their measurement). Settle the JVM
    // before each query, then record the best of two back-to-back attempts —
    // the min discards whichever attempt ate a stray GC pause or cache miss,
    // reproducing what TimeQuery measures in isolation. A failed first
    // attempt records -1 without a retry (a hung query must cost one
    // timeout, not two).
    val methodology =
      "noop-sink all-columns; per-query GC-settled best-of-2, rpc-tripped attempts invalid; " +
        "queries map = fixed headline subset, value = total over all"
    // Per query: (recorded seconds or -1, whether the RECORDED value came
    // from an rpc-tripped attempt — i.e. no clean attempt was available and
    // the figure is measurement-suspect, round-9 advice).
    val results: Map[String, (Double, Boolean)] =
      (SparkEntry.queries ++ injected).map { case (name, fn) =>
        spark.catalog.clearCache()
        System.gc()
        Thread.sleep(100)
        val (t1, trip1) = timeOnce(name, fn)
        val rec: (Double, Boolean) =
          if (t1 < 0) (t1, false)
          // A slow-but-passing CLEAN first attempt skips the retry: a hung
          // second attempt would cost a full extra watchdog timeout per
          // query, and best-of-2 on an already-over-budget query buys
          // nothing (round-6 ADVICE — bounds worst-case bench wall-clock).
          // An rpc-tripped attempt never earns the skip: its inflated time
          // is the round-8 failure class and must not stand unchallenged.
          else if (!trip1 && t1 > timeout / 2.0) (t1, false)
          else {
            val (t2, trip2) = timeOnce(name, fn)
            // Best-of-2 over CLEAN attempts only: a measurement taken
            // across a logged RPC stall is invalid (round-8 verdict). A
            // tripped attempt whose retry failed, or two tripped attempts,
            // earns ONE bounded extra attempt; still no clean figure →
            // record the min, marked tripped, and n_rpc_tripped flags it.
            (t2 < 0, trip1, trip2) match {
              case (true, false, _)  => (t1, false)
              case (true, true, _)   =>
                val (t3, trip3) = timeOnce(name, fn)
                if (t3 >= 0 && !trip3) (t3, false)
                else (math.min(t1, if (t3 < 0) t1 else t3), true)
              case (_, false, false) => (math.min(t1, t2), false)
              case (_, true, false)  => (t2, false)
              case (_, false, true)  => (t1, false)
              case (_, true, true)   =>
                val (t3, trip3) = timeOnce(name, fn)
                if (t3 >= 0 && !trip3) (t3, false)
                else (math.min(t1, math.min(t2, if (t3 < 0) t2 else t3)), true)
            }
          }
        if (rec._2) blog.warn(s"$name: recorded value came from an rpc-tripped attempt")
        name -> rec
      }
    val times = results.map { case (k, (t, _)) => k -> t }
    val total = times.values.filter(_ >= 0).sum
    val nFailed = times.values.count(_ < 0)
    val rpcTrippedNames = results.collect { case (k, (_, true)) => k }.toSeq.sorted
    val nRpcTripped = rpcTrippedNames.size
    // Full detail + measurement environment for benchgate/local analysis
    // (round-6 ADVICE: the gate must refuse to compare a run against a
    // baseline recorded at a different sf/cpus/methodology).
    val sfName = new java.io.File(sfDir).getName
    val fullJson = times.toSeq.sortBy(-_._2)
      .map { case (k, v) => s"""    "$k": $v""" }.mkString("{\n", ",\n", "\n  }")
    // `queries` stays a flat name→seconds map (benchgate.py's contract);
    // trip markers ride in a sibling list.
    val trippedJson = rpcTrippedNames.map(n => s""""$n"""").mkString("[", ", ", "]")
    try {
      val out = new java.io.PrintWriter("target/bench_full.json")
      try out.println(
        s"""{
           |  "sf": "$sfName",
           |  "cpus": $cpus,
           |  "methodology": "$methodology",
           |  "n_rpc_tripped": $nRpcTripped,
           |  "rpc_tripped": $trippedJson,
           |  "queries": $fullJson
           |}""".stripMargin)
      finally out.close()
    } catch { case _: Throwable => () }
    val qs = headline.flatMap(k => times.get(k).map(v => s"\"$k\":${f3(v)}"))
      .mkString("{", ",", "}")
    // The stdout line must fit the driver's ~2000-char parsed tail
    // together with sbt's trailing "[success]" line; the full methodology
    // string (~160 chars) lives in target/bench_full.json, where
    // benchgate.py enforces it against the baseline — here a short
    // pointer keeps ~180 chars of headroom for future headline keys.
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,""" +
      s""""n_queries":${times.size},"n_failed":$nFailed,"n_rpc_tripped":$nRpcTripped,""" +
      s""""methodology":"bench_full.json",""" +
      s""""sf":"$sfDir"}""")
    spark.stop()
  }
}
