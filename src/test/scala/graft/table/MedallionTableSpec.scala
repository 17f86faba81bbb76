package graft.table

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** Table-layer semantics: K1-K4 round trips, robust existence detection,
  * safe swap, and the partition-pruned merge leaving untouched partitions'
  * files physically unmodified (the 100 TB incremental contract).
  */
class MedallionTableSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def fs(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("createOrError creates once then refuses") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("mt_create"))
    val df = Seq((1L, "a")).toDF("id", "s")
    t.createOrError(df)
    assert(t.exists)
    intercept[IllegalStateException] { t.createOrError(df) }
  }

  test("two concurrent createOrError: exactly one wins, its rows survive") {
    import spark.implicits._
    val p = tmpDir("mt_create_race")
    val staged = new java.util.concurrent.CountDownLatch(2)
    // both creates pass the pre-claim existence check and stage before
    // either claims
    MedallionTable.testFailpoint = {
      case "post-stage-write" =>
        staged.countDown()
        staged.await(30, java.util.concurrent.TimeUnit.SECONDS)
      case _ => ()
    }
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(1L, 2L).map { id =>
      new Thread(() =>
        try MedallionTable(spark, p).createOrError(
          (0 until 10).map(i => (id, i)).toDF("id", "n"))
        catch { case e: Throwable => failures.add(e) })
    }
    try { threads.foreach(_.start()); threads.foreach(_.join(120000)) }
    finally MedallionTable.testFailpoint = _ => ()
    assert(failures.size == 1, failures)
    assert(failures.peek().isInstanceOf[IllegalStateException], failures.peek())
    val rows = MedallionTable(spark, p).read.select("id").as[Long].collect()
    assert(rows.length == 10 && rows.distinct.length == 1, rows.toSeq)
  }

  test("exists is false for empty/marker-only directories") {
    val p = tmpDir("mt_exists")
    val t = MedallionTable(spark, p)
    assert(!t.exists)
    val f = fs(p)
    f.mkdirs(new Path(p))
    f.create(new Path(p, "_SUCCESS")).close()
    assert(!t.exists) // marker-only dir ≠ table (crashed-write leftover)
  }

  test("exists is true for tables under underscore/dot-prefixed ancestor dirs") {
    import spark.implicits._
    // regression: hiddenness must be judged below the table root, not on the
    // absolute path — else createOrMerge overwrites instead of merging
    val base = tmpDir("mt_hidden_anc")
    val p = s"$base/_hidden.parent/.dotted/table"
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    assert(t.exists, "table under hidden-named ancestors must report exists")
    // pre-fix, exists=false also mis-routed createOrError into overwriting
    intercept[IllegalStateException] {
      t.createOrError(Seq((2L, "b")).toDF("id", "s"))
    }
    // and a non-delete merge must see (and keep) the existing row
    t.merge(Seq((2L, "b")).toDF("id", "s"), Seq("id"),
      deleteNotMatchedBySource = false)
    assert(t.read.count() == 2, "merge must keep rows it can only see via exists-path read")
  }

  test("append accumulates; overwrite replaces") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("mt_append"))
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    t.append(Seq((2L, "b")).toDF("id", "s"))
    assert(t.read.count() == 2)
    t.overwrite(Seq((3L, "c")).toDF("id", "s"))
    assert(t.read.collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("createOrMerge: create then full-sync merge equals second source") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("mt_com"))
    t.createOrMerge(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"), Seq("id"))
    t.createOrMerge(Seq((2L, 20.0), (3L, 30.0)).toDF("id", "v"), Seq("id"))
    assert(t.read.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((2L, 20.0), (3L, 30.0)))
  }

  test("merge survives and old data gone after swap; no tmp/backup litter") {
    import spark.implicits._
    val p = tmpDir("mt_swap")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    t.merge(Seq((1L, 10.0)).toDF("id", "v"), Seq("id"))
    assert(t.read.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 10.0)))
    val parent = new Path(p).getParent
    val siblings = fs(p).listStatus(parent).map(_.getPath.getName).toSet
    // the commit-marker log is a durable sibling by design, not litter
    assert(siblings == Set(new Path(p).getName, new Path(p).getName + "__graft_commits"),
      s"litter: $siblings")
  }

  test("vacuum removes crashed-swap litter, never the live table") {
    import spark.implicits._
    val p = tmpDir("mt_vacuum")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    val f = fs(p)
    // simulate a crash mid-swap: tmp and old siblings left behind
    f.mkdirs(new Path(s"${p}__graft_tmp_deadbeef"))
    f.mkdirs(new Path(s"${p}__graft_old_deadbeef"))
    f.mkdirs(new Path(s"${p}_unrelated")) // NOT litter — must survive
    // a YOUNG tmp dir may be a LIVE rewrite's in-progress product: the
    // default vacuum reaps only the old backup (completed-swap leftover)
    assert(t.vacuum() == 1)
    assert(f.exists(new Path(s"${p}__graft_tmp_deadbeef")),
      "default vacuum must not reap a young rewrite tmp (could be live)")
    f.mkdirs(new Path(s"${p}__graft_old_deadbeef")) // re-fabricate
    // aged past the retention horizon = provably crashed
    f.setTimes(new Path(s"${p}__graft_tmp_deadbeef"),
      System.currentTimeMillis() - 3L * 3600 * 1000, -1)
    assert(t.vacuum() == 2)
    assert(t.read.count() == 1)
    assert(f.exists(new Path(s"${p}_unrelated")))
    assert(!f.exists(new Path(s"${p}__graft_tmp_deadbeef")))
    assert(t.vacuum() == 0)
  }

  test("vacuum restores the backup when a crash between swap renames lost the live dir") {
    import spark.implicits._
    val p = tmpDir("mt_vacuum_restore")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "committed")).toDF("id", "s"))
    val f = fs(p)
    // simulate: rewrite wrote tmp, renamed live -> old, died before tmp -> live
    f.rename(new Path(p), new Path(s"${p}__graft_old_c0ffee"))
    f.mkdirs(new Path(s"${p}__graft_tmp_c0ffee"))
    assert(!t.exists)
    t.vacuum()
    assert(t.read.collect().map(_.getString(1)).toSeq == Seq("committed"),
      "vacuum must restore the only committed copy, not delete it")
    assert(!f.exists(new Path(s"${p}__graft_tmp_c0ffee")))
    assert(!f.exists(new Path(s"${p}__graft_old_c0ffee")))
  }

  test("vacuum with TWO backups restores the newest by mtime, not listing order") {
    import spark.implicits._
    val p = tmpDir("mt_vacuum_two_backups")
    val t = MedallionTable(spark, p)
    val f = fs(p)
    // two crashed rewrites in sequence: an older backup and a newer one;
    // hash-suffixed names carry no recency order, so picking
    // listStatus().head could resurrect the stale state and then delete
    // the latest committed copy as litter
    t.overwrite(Seq((1L, "stale")).toDF("id", "s"))
    f.rename(new Path(p), new Path(s"${p}__graft_old_aaaaaa"))
    Thread.sleep(1100) // local-fs mtime granularity can be 1s
    t.overwrite(Seq((1L, "latest")).toDF("id", "s"))
    f.rename(new Path(p), new Path(s"${p}__graft_old_zz9999"))
    assert(!t.exists)
    t.vacuum()
    assert(t.read.collect().map(_.getString(1)).toSeq == Seq("latest"),
      "vacuum must restore the NEWEST backup")
    assert(!f.exists(new Path(s"${p}__graft_old_aaaaaa")))
    assert(!f.exists(new Path(s"${p}__graft_old_zz9999")))
  }

  test("vacuum prefers the embedded ordinal over mtime and ignores legacy digit-hashes") {
    import spark.implicits._
    val p = tmpDir("mt_vacuum_ordinal")
    val t = MedallionTable(spark, p)
    val f = fs(p)
    // A legacy backup whose 8-char hash happens to be ALL digits and huge:
    // a naive leading-digits parse would read 99999999 as an ordinal and
    // restore this STALE state over the newer ordinal-named backup.
    t.overwrite(Seq((1L, "stale")).toDF("id", "s"))
    f.rename(new Path(p), new Path(s"${p}__graft_old_99999999"))
    // Newer ordinal-named backup, same fs-mtime second (no sleep): only
    // the ordinal can order them.
    t.overwrite(Seq((1L, "latest")).toDF("id", "s"))
    f.rename(new Path(p), new Path(s"${p}__graft_old_1000_aaaaaaaa"))
    assert(!t.exists)
    t.vacuum()
    assert(t.read.collect().map(_.getString(1)).toSeq == Seq("latest"),
      "ordinal-named backup must beat a legacy all-digit hash name")
  }

  test("partition-aligned delete drops directories without rewriting survivors") {
    import spark.implicits._
    val p = tmpDir("mt_delete_part")
    val t = MedallionTable(spark, p, partitionColumns = Seq("pt"))
    t.overwrite((0 until 100).map(i => (i.toLong, i % 4)).toDF("id", "pt"))
    val f = fs(p)
    val survivorFiles = f.listStatus(new Path(p, "pt=1")).map(_.getPath.getName).toSet
    t.delete(org.apache.spark.sql.functions.col("pt") === 3)
    assert(t.read.select("pt").distinct().collect().map(_.getInt(0)).toSet == Set(0, 1, 2))
    // metadata-only: surviving partition files are byte-identical (no swap)
    assert(f.listStatus(new Path(p, "pt=1")).map(_.getPath.getName).toSet == survivorFiles)
  }

  test("row-level delete keeps FALSE and NULL predicate rows") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("mt_delete_rows"))
    t.overwrite(Seq((1L, Some(5)), (2L, Some(50)), (3L, None))
      .toDF("id", "v"))
    t.delete(org.apache.spark.sql.functions.col("v") > 10)
    assert(t.read.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 3L),
      "NULL-predicate rows must survive a DELETE")
  }

  test("delete that empties the table leaves it readable with its schema") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("mt_delete_all"))
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    t.delete(org.apache.spark.sql.functions.lit(true))
    assert(t.read.count() == 0)
    assert(t.read.schema.fieldNames.toSeq == Seq("id", "s"),
      "schema must survive a DELETE-all (Delta keeps it in the log)")
  }

  test("delete on a versioned table archives the pre-image (no fast path)") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("mt_delete_versioned"),
      partitionColumns = Seq("pt"), retainVersions = 2)
    t.overwrite((0 until 20).map(i => (i.toLong, i % 2)).toDF("id", "pt"))
    t.delete(org.apache.spark.sql.functions.col("pt") === 1)
    assert(t.read.count() == 10)
    assert(t.readVersion(t.listVersions().max).count() == 20,
      "time travel must still see the deleted rows")
  }

  test("partition fast path handles DATE-typed partition values via dir listing") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("mt_delete_date"), partitionColumns = Seq("d"))
    t.overwrite(Seq(
      (1L, java.sql.Date.valueOf("2020-01-01")),
      (2L, java.sql.Date.valueOf("2020-01-02")),
      (3L, java.sql.Date.valueOf("2020-01-02"))).toDF("id", "d"))
    t.delete(org.apache.spark.sql.functions.col("d") ===
      org.apache.spark.sql.functions.lit(java.sql.Date.valueOf("2020-01-02")))
    assert(t.read.select("id").collect().map(_.getLong(0)).toSeq == Seq(1L),
      "typed partition values must match the on-disk directory names")
  }

  test("vacuum does not resurrect a stale backup over a deliberately-emptied table") {
    import spark.implicits._
    val p = tmpDir("mt_vacuum_empty")
    val t = MedallionTable(spark, p)
    val f = fs(p)
    t.overwrite(Seq((1L, "old")).toDF("id", "s"))
    // stale backup from a crashed rewrite that DID land (backup cleanup died)
    f.mkdirs(new Path(s"${p}__graft_old_123_stale"))
    t.delete(org.apache.spark.sql.functions.lit(true)) // legitimate empty state
    assert(t.exists, "an emptied table with a schema stash still exists")
    assert(t.vacuum() == 1) // removes the stale backup as litter
    assert(t.read.count() == 0, "vacuum must not restore deleted rows")
  }

  test("merge that deletes every row leaves the table readable (schema stash)") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("mt_merge_empty"))
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    t.merge(Seq.empty[(Long, String)].toDF("id", "s"), Seq("id")) // full sync to empty
    assert(t.read.count() == 0)
    assert(t.read.schema.fieldNames.toSeq == Seq("id", "s"))
  }

  test("update resolves SET keys case-insensitively and rejects unknown columns") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val t = MedallionTable(spark, tmpDir("mt_update_resolve"))
    t.overwrite(Seq((1L, 10L)).toDF("id", "v"))
    t.update(col("id") === 1, Map("V" -> lit(99L))) // case-insensitive match
    assert(t.read.collect().head.getLong(1) == 99L)
    intercept[IllegalArgumentException] {
      t.update(col("id") === 1, Map("nope" -> lit(0L)))
    }
  }

  test("CHECK constraints gate every write path and survive rewrites") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = MedallionTable(spark, tmpDir("mt_constraints"))
    t.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"))
    t.addCheckConstraint("v_pos", "v > 0")
    // violating append fails and commits nothing
    intercept[Throwable] { t.append(Seq((3L, -1.0)).toDF("id", "v")) }
    assert(t.read.count() == 2, "failed append must not commit rows")
    t.append(Seq((3L, 3.0)).toDF("id", "v")) // clean append passes
    // the registry survives a rewrite (merge swaps the directory)...
    t.merge(Seq((1L, 11.0), (2L, 20.0), (3L, 3.0)).toDF("id", "v"), Seq("id"))
    assert(t.checkConstraints == Map("v_pos" -> "v > 0"))
    // ...and a violating UPDATE is rejected by the rewrite-side gate
    intercept[Throwable] {
      t.update(col("id") === 1, Map("v" -> org.apache.spark.sql.functions.lit(-5.0)))
    }
    assert(t.read.filter("id = 1").collect().head.getDouble(1) == 11.0)
    // adding a constraint the existing data violates is refused
    intercept[IllegalArgumentException] { t.addCheckConstraint("v_big", "v > 100") }
  }

  test("CHECK constraints: SQL NULL semantics, schema evolution, safe overwrite, pruned merge") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val t = MedallionTable(spark, tmpDir("mt_constraints2"), partitionColumns = Seq("pt"))
    t.overwrite(Seq((1L, Some(10.0), 0), (2L, None, 1)).toDF("id", "v", "pt"))
    // NULL result passes (SQL CHECK): row 2 has v = null
    t.addCheckConstraint("v_pos", "v > 0")
    // schema evolution: an appended frame MISSING v reads back as v=null →
    // passes, and must not fail analysis either
    t.append(Seq((4L, 0)).toDF("id", "pt"))
    assert(t.read.count() == 3)
    // a violating overwrite is rejected AND the old data survives
    intercept[Throwable] {
      t.overwrite(Seq((9L, Some(-1.0), 0)).toDF("id", "v", "pt"))
    }
    assert(t.read.filter("id = 1").count() == 1, "overwrite must not destroy on violation")
    // the registry survives a clean overwrite
    t.overwrite(Seq((5L, Some(5.0), 1)).toDF("id", "v", "pt"))
    assert(t.checkConstraints.contains("v_pos"))
    // the partition-pruned merge path (createOrMerge's route) is gated too
    intercept[Throwable] {
      t.mergePruned(Seq((6L, Some(-2.0), 1)).toDF("id", "v", "pt"), Seq("id", "pt"))
    }
    assert(t.read.filter("v < 0").count() == 0)
  }

  test("CHECK gate evaluates on final batch rows, not pre-join/pre-agg rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.sum
    val t = MedallionTable(spark, tmpDir("mt_checkpush"))
    t.overwrite(Seq((1L, 10.0)).toDF("id", "v"))
    t.addCheckConstraint("v_pos", "v > 0")
    // Batch derived through an inner join: the raw left side carries a
    // violating row (id=3, v=-5) that the join filters out. A gate pushed
    // below the join (the round-6 filter-shape hazard) would evaluate
    // v > 0 on that pre-join row and spuriously reject this valid batch.
    val left = Seq((2L, 10.0), (3L, -5.0)).toDF("id", "v")
    val keep = Seq(Tuple1(2L)).toDF("id")
    t.append(left.join(keep, "id").select("id", "v"))
    assert(t.read.count() == 2, "valid joined batch must pass the gate")
    // Through an aggregate: negative addends, positive per-group sum.
    t.append(Seq((4L, -3.0), (4L, 8.0)).toDF("id", "v")
      .groupBy($"id").agg(sum($"v").as("v")))
    assert(t.read.count() == 3, "valid aggregated batch must pass the gate")
    // The gate still fires on a batch whose FINAL rows violate.
    intercept[Throwable] {
      t.append(Seq((5L, -1.0)).toDF("id", "v")
        .join(Seq(Tuple1(5L)).toDF("id"), "id").select("id", "v"))
    }
    assert(t.read.count() == 3, "violating joined batch must not commit")
  }

  test("update evaluates SET expressions against the OLD row (a=b, b=a swaps)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = MedallionTable(spark, tmpDir("mt_update_swap"))
    t.overwrite(Seq((1L, 10L, 20L), (2L, 30L, 40L)).toDF("id", "a", "b"))
    t.update(col("id") === 1, Map("a" -> col("b"), "b" -> col("a")))
    val got = t.read.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 20L, 10L), (2L, 30L, 40L)))
  }

  test("changesSince emits the exact diff between a snapshot and live") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("mt_cdc"), retainVersions = 2)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    t.merge(Seq((1L, "A"), (3L, "c")).toDF("id", "s"), Seq("id")) // full sync
    val ch = t.changesSince(1, Seq("id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(ch == Set(
      (1L, "a", "update_preimage"), (1L, "A", "update_postimage"),
      (3L, "c", "insert"), (2L, "b", "delete")))
  }

  test("applying changesSince to the snapshot reproduces the live state (randomized)") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val t = MedallionTable(spark, tmpDir("mt_cdc_prop"), retainVersions = 2)
    val v1 = (0 until 200).map(i => (i.toLong, rnd.nextInt(100)))
    t.overwrite(v1.toDF("id", "v"))
    // random source: updates, inserts, implicit deletes (full sync)
    val src = (0 until 260).flatMap { i =>
      if (rnd.nextBoolean()) Some((i.toLong, rnd.nextInt(100))) else None
    }
    t.merge(src.toDF("id", "v"), Seq("id"))

    val snapshot = t.readVersion(1).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ch = t.changesSince(1, Seq("id")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val applied = ch.foldLeft(snapshot) {
      case (st, (id, _, "delete")) => st - id
      case (st, (id, v, "insert")) => st + (id -> v)
      case (st, (id, v, "update_postimage")) => st + (id -> v)
      case (st, _) => st // update_preimage: informational
    }
    val live = t.read.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(applied == live, "CDC diff must transform the snapshot into the live state")
    assert(ch.nonEmpty && ch.exists(_._3 == "delete") && ch.exists(_._3 == "insert"))
  }

  test("history records operations per commit, newest first, depth-bounded") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("mt_history"))
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))            // create-overwrite
    t.append(Seq((2L, "b")).toDF("id", "s"))               // append
    t.merge(Seq((1L, "A"), (2L, "b")).toDF("id", "s"), Seq("id")) // rewrite
    val h = t.history()
    assert(h.map(_._1) == h.map(_._1).sorted.reverse, "newest first")
    assert(h.map(_._2) == Seq("merge", "append", "create-overwrite"))
    assert(h.map(_._1) == Seq(3L, 2L, 1L))
    // depth bound: many appends prune the oldest markers
    (0 until MedallionTable.HistoryDepth + 2).foreach { i =>
      t.append(Seq((10L + i, "x")).toDF("id", "s"))
    }
    val h2 = t.history()
    assert(h2.size == MedallionTable.HistoryDepth)
    assert(h2.head._1 == 3L + MedallionTable.HistoryDepth + 2)
    assert(h2.forall(_._2 == "append"))
  }

  test("concurrent rewrite detects the conflict at commit and aborts cleanly") {
    import spark.implicits._
    val p = tmpDir("mt_concurrent")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    t.addCheckConstraint("id_pos", "id > 0")
    // Writer A stages its merge, then — at the pre-commit failpoint, i.e.
    // AFTER A read the table and staged tmp but BEFORE A's marker CAS — a
    // second writer B commits a full rewrite. A must then fail its CAS
    // with ConcurrentModificationException, leaving B's data live (the
    // round-6 hazard was A's swap silently discarding B's commit).
    MedallionTable.testFailpoint = {
      case "pre-commit" =>
        MedallionTable.testFailpoint = _ => () // one-shot: B must not recurse
        MedallionTable(spark, p).merge(Seq((2L, "B2"), (3L, "c")).toDF("id", "s"), Seq("id"))
      case _ => ()
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        t.merge(Seq((1L, "A1"), (2L, "b")).toDF("id", "s"), Seq("id"))
      }
    } finally MedallionTable.testFailpoint = _ => ()
    // B won; A's rewrite left no trace; table + registry intact and readable
    assert(t.read.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((2L, "B2"), (3L, "c")))
    assert(t.checkConstraints == Map("id_pos" -> "id > 0"))
    assert(t.vacuum() == 0, "loser's staged tmp must be cleaned up at abort")
    // the loser retries against the new state and succeeds
    t.merge(Seq((3L, "c3")).toDF("id", "s"), Seq("id"),
      deleteNotMatchedBySource = false)
    assert(t.read.filter("id = 3").collect().head.getString(1) == "c3")
  }

  test("append claims a commit marker so a racing rewrite cannot discard it") {
    import spark.implicits._
    val p = tmpDir("mt_concurrent_append")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    // The rewrite stages against v(N); the append claims v(N+1) before the
    // rewrite's CAS → the rewrite must abort instead of swapping the
    // appended row away.
    MedallionTable.testFailpoint = {
      case "pre-commit" =>
        MedallionTable.testFailpoint = _ => ()
        MedallionTable(spark, p).append(Seq((9L, "late")).toDF("id", "s"))
      case _ => ()
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        t.merge(Seq((1L, "A")).toDF("id", "s"), Seq("id"))
      }
    } finally MedallionTable.testFailpoint = _ => ()
    assert(t.read.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (9L, "late")), "appended row must survive the aborted rewrite")
  }

  test("rewrite aborts when an append claims a later ordinal AFTER its CAS") {
    import spark.implicits._
    val p = tmpDir("mt_postcas_append")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    // The append lands between the rewrite's successful CAS and its swap —
    // the order the original protocol could NOT detect: the swap would have
    // silently discarded the appended rows while both writers "succeeded".
    MedallionTable.testFailpoint = {
      case "pre-swap" =>
        MedallionTable.testFailpoint = _ => ()
        MedallionTable(spark, p).append(Seq((9L, "late")).toDF("id", "s"))
      case _ => ()
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        t.merge(Seq((1L, "A")).toDF("id", "s"), Seq("id"))
      }
    } finally MedallionTable.testFailpoint = _ => ()
    assert(t.read.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (9L, "late")),
      "post-CAS appended row must survive the aborted rewrite")
    // the aborted rewrite released its marker: no phantom 'merge' commit
    assert(!t.history().exists(_._2 == "merge"), s"phantom commit: ${t.history()}")
  }

  test("two-phase intent closes the re-check-to-rename window") {
    import spark.implicits._
    // The round-7 residual race: an append whose claim lands AFTER the
    // rewrite's conflict re-check but BEFORE its swap renames went unseen —
    // both writers "succeeded" and the swap silently discarded the appended
    // rows. With the intent lease, the append's claim-side checks see the
    // rewrite's unexpired intent and back off: the append fails cleanly
    // (no rows written, no marker kept), the rewrite commits, and the
    // retried append lands on the post-swap state. No interleaving loses
    // committed rows.
    val p = tmpDir("mt_two_phase")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    @volatile var appendOutcome: Option[Throwable] = None
    MedallionTable.testFailpoint = {
      case "post-recheck" =>
        MedallionTable.testFailpoint = _ => ()
        // must catch here: a throw from the failpoint would abort the
        // rewrite itself and void the scenario under test. The failpoint
        // HOLDS the intent window open, so shrink the claimant's bounded
        // wait — in production it spans only the ms-scale rename section.
        MedallionTable.WriterWaitMs = 300L
        try MedallionTable(spark, p).append(Seq((9L, "late")).toDF("id", "s"))
        catch { case t: Throwable => appendOutcome = Some(t) }
        finally MedallionTable.WriterWaitMs = 30000L
      case _ => ()
    }
    try t.merge(Seq((1L, "A")).toDF("id", "s"), Seq("id"))
    finally MedallionTable.testFailpoint = _ => ()
    assert(appendOutcome.exists(
      _.isInstanceOf[java.util.ConcurrentModificationException]),
      s"append inside the intent window must back off, got: $appendOutcome")
    assert(t.read.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "A")), "the rewrite must have committed its own rows exactly")
    assert(!t.history().exists(_._2 == "append"),
      s"the backed-off append must not leave a marker: ${t.history()}")
    // the intent was cleared with the swap: a retried append lands cleanly
    MedallionTable(spark, p).append(Seq((9L, "late")).toDF("id", "s"))
    assert(t.read.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "A"), (9L, "late")))
  }

  test("in-flight fence: a rewrite cannot pin a snapshot under a running append") {
    import spark.implicits._
    // The round-7 advice's WIDER window: an append's marker is visible but
    // its data job has not landed — the old protocol let a rewrite pin
    // that ordinal as its snapshot, miss the in-flight rows in its scan,
    // and swap them away with both writers "succeeding". The fence makes
    // the rewrite refuse to pin while the writer lock is held.
    val p = tmpDir("mt_inflight")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    @volatile var mergeOutcome: Option[Throwable] = None
    MedallionTable.testFailpoint = {
      case "mid-claim-first" =>
        MedallionTable.testFailpoint = _ => ()
        try MedallionTable(spark, p).merge(Seq((1L, "M")).toDF("id", "s"), Seq("id"))
        catch { case t: Throwable => mergeOutcome = Some(t) }
      case _ => ()
    }
    try t.append(Seq((9L, "late")).toDF("id", "s"))
    finally MedallionTable.testFailpoint = _ => ()
    assert(mergeOutcome.exists(
      _.isInstanceOf[java.util.ConcurrentModificationException]),
      s"rewrite must refuse to pin a snapshot over an in-flight claim: $mergeOutcome")
    assert(t.read.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (9L, "late")), "the append must land untouched")
    // once the append landed (flag gone), a retried merge sees its rows
    MedallionTable(spark, p).merge(Seq((1L, "M")).toDF("id", "s"), Seq("id"),
      deleteNotMatchedBySource = false)
    assert(t.read.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "M"), (9L, "late")))
  }

  test("a crashed rewrite's standing intent blocks claims until vacuum clears it") {
    import spark.implicits._
    // The intent has NO expiry by design (an expiring intent would let a
    // claimant proceed under a stalled-but-alive rewrite): claimants wait
    // their bounded budget, then fail-stop pointing at vacuum.
    val p = tmpDir("mt_stale_intent")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    val f = fs(p)
    val intent = new Path(s"${p}__graft_commits", "rewrite.intent")
    val out = f.create(intent, true)
    out.write("123\tmerge".getBytes("UTF-8")); out.close()
    MedallionTable.WriterWaitMs = 300L
    try {
      intercept[java.util.ConcurrentModificationException] {
        t.append(Seq((9L, "late")).toDF("id", "s"))
      }
    } finally MedallionTable.WriterWaitMs = 30000L
    assert(t.read.count() == 1, "the refused append must not land rows")
    // a DEFAULT vacuum presumes a minutes-old intent may belong to a
    // LIVE writer (retention horizon) and must leave it standing…
    t.vacuum()
    assert(f.exists(intent),
      "default vacuum must not reap a young intent (could be live)")
    // …the operator who KNOWS the writer crashed flips the flag
    spark.conf.set("spark.graft.vacuumAssumeNoWriters", "true")
    try t.vacuum()
    finally spark.conf.unset("spark.graft.vacuumAssumeNoWriters")
    assert(!f.exists(intent), "vacuum clears the leftover intent")
    t.append(Seq((9L, "late")).toDF("id", "s"))
    assert(t.read.count() == 2)
  }

  test("a crashed writer's lock fails rewrites AND writers until vacuum clears it") {
    import spark.implicits._
    val p = tmpDir("mt_stale_lock")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    val f = fs(p)
    val lock = new Path(s"${p}__graft_commits", "write.lock")
    val out = f.create(lock, true)
    out.write("123\tappend".getBytes("UTF-8")); out.close()
    // fail-stop, not silent: the rewrite's fence refuses to pin a snapshot
    intercept[java.util.ConcurrentModificationException] {
      t.merge(Seq((1L, "M")).toDF("id", "s"), Seq("id"))
    }
    // and a second claim-first writer waits out its bounded budget, then
    // fails with the vacuum pointer instead of corrupting shared staging
    MedallionTable.WriterWaitMs = 300L
    try intercept[java.util.ConcurrentModificationException] {
      t.append(Seq((9L, "late")).toDF("id", "s"))
    } finally MedallionTable.WriterWaitMs = 30000L
    assert(t.read.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a")), "refused writes must not touch the table")
    // default vacuum: the young lock could be a live writer's — skipped;
    // an aged-out lock (mtime past the retention horizon) is reaped
    t.vacuum()
    assert(f.exists(lock),
      "default vacuum must not reap a young lock (could be live)")
    f.setTimes(lock, System.currentTimeMillis() - 3L * 3600 * 1000, -1)
    t.vacuum()
    assert(!f.exists(lock), "vacuum clears the leftover lock")
    t.merge(Seq((1L, "M")).toDF("id", "s"), Seq("id"))
    assert(t.read.collect().head.getString(1) == "M")
  }

  test("a rejected append releases its marker: no phantom history, no fake conflicts") {
    import spark.implicits._
    val p = tmpDir("mt_phantom")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, 10.0)).toDF("id", "v"))
    t.addCheckConstraint("v_pos", "v > 0")
    val v0 = t.commitVersion
    intercept[Throwable] { t.append(Seq((2L, -1.0)).toDF("id", "v")) }
    assert(t.commitVersion == v0,
      "a batch that never landed must not advance the commit ordinal")
    assert(!t.history().exists(_._2 == "append"),
      s"history must not record the rejected append: ${t.history()}")
    // and a rewrite computed against the pre-append state commits cleanly
    // (the stale marker would have produced a spurious conflict abort)
    t.merge(Seq((1L, 11.0)).toDF("id", "v"), Seq("id"))
    assert(t.read.collect().head.getDouble(1) == 11.0)
  }

  test("CHECK gate handles dotted column names (projection must not re-parse)") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("mt_dotted"))
    t.overwrite(Seq((1L, 10.0)).toDF("id", "a.b"))
    t.addCheckConstraint("ab_pos", "`a.b` > 0")
    t.append(Seq((2L, 5.0)).toDF("id", "a.b")) // valid batch must pass
    assert(t.read.count() == 2)
    intercept[Throwable] { t.append(Seq((3L, -1.0)).toDF("id", "a.b")) }
    assert(t.read.count() == 2)
  }

  test("mid-swap crash: vacuum restores the backup with schema and constraints intact") {
    import spark.implicits._
    val p = tmpDir("mt_midswap")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"))
    t.addCheckConstraint("v_pos", "v > 0")
    val before = t.read.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val v0 = t.commitVersion
    // Kill between rename(dst, backup) and rename(tmp, dst): the live dir
    // is gone, the only committed copy is the backup.
    MedallionTable.testFailpoint = {
      case "mid-swap" => throw new RuntimeException("injected crash")
      case _ => ()
    }
    try {
      intercept[RuntimeException] {
        t.merge(Seq((1L, 11.0)).toDF("id", "v"), Seq("id"))
      }
    } finally MedallionTable.testFailpoint = _ => ()
    assert(!t.exists, "test setup: crash must land between the two renames")
    // the failed swap released its marker: after restore, history matches
    // the restored state instead of recording a merge that never landed
    assert(t.commitVersion == v0,
      "a swap that never landed must not advance the commit ordinal")
    assert(!t.history().exists(_._2 == "merge"),
      s"history must not record the crashed merge: ${t.history()}")
    assert(t.vacuum() >= 1, "vacuum must clear the crashed rewrite's litter")
    assert(t.read.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet == before,
      "restore must bring back the pre-rewrite data")
    assert(t.checkConstraints == Map("v_pos" -> "v > 0"),
      "restore must bring back the constraint registry")
    // the gate still fires after recovery, and a clean retry commits
    intercept[Throwable] { t.append(Seq((3L, -1.0)).toDF("id", "v")) }
    t.merge(Seq((1L, 11.0), (2L, 20.0)).toDF("id", "v"), Seq("id"))
    assert(t.read.filter("id = 1").collect().head.getDouble(1) == 11.0)
  }

  test("a record write crashed at the store's failpoint keeps the CHECK " +
      "and the column map") {
    import spark.implicits._
    val p = tmpDir("mt_recordcrash")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"))
    t.renameColumn("v", "amount")
    t.addCheckConstraint("amount_pos", "amount > 0")
    // kill the next record write between dropping the record and landing
    // its replacement on the name
    MedallionTable.testFailpoint = {
      case "sidecar-replace:table.tsv" =>
        MedallionTable.testFailpoint = _ => ()
        throw new RuntimeException("injected crash")
      case _ => ()
    }
    try intercept[RuntimeException] {
      t.addCheckConstraint("amount_small", "amount < 1000")
    } finally MedallionTable.testFailpoint = _ => ()
    assert(!fs(p).exists(TableMeta.file(p)),
      "test setup: the crash must land after the record was dropped")
    // the record that stood before the crashed write still governs: the
    // column map and the committed CHECK
    assert(t.read.columns.toSeq == Seq("id", "amount"))
    val refused = intercept[Throwable] {
      t.append(Seq((3L, -1.0)).toDF("id", "amount"))
    }
    assert(refused.getMessage.contains("amount_pos"), refused.getMessage)
    t.append(Seq((3L, 30.0)).toDF("id", "amount"))
    assert(t.read.select("amount").as[Double].collect().sorted.toSeq ==
      Seq(10.0, 20.0, 30.0))
  }

  test("vacuum reaps killed sidecar writes' temp files past the horizon") {
    import spark.implicits._
    val p = tmpDir("mt_sidecar_temps")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    val f = fs(p)
    val commits = SideFiles.commitsDir(p)
    def plant(dir: Path, name: String): Path = {
      val tmp = new Path(dir, name)
      val out = f.create(tmp, true)
      try out.write("partial".getBytes("UTF-8")) finally out.close()
      tmp
    }
    val record = TableMeta.file(p)
    val aged = Seq(
      plant(record.getParent, s".${record.getName}.dead0001.tmp"),
      plant(commits, ".journal.tsv.dead0002.tmp"),
      plant(new Path(commits, "txns"), ".etl.dead0003.tmp"))
    aged.foreach(f.setTimes(_, System.currentTimeMillis() - 3L * 3600 * 1000, -1))
    // a young one may be a live write's
    val young = plant(commits, ".rewrite.intent.live0004.tmp")
    t.vacuum()
    aged.foreach(a => assert(!f.exists(a), s"vacuum left $a"))
    assert(f.exists(young), "vacuum reaped a young temp file")
    assert(t.read.count() == 1)
  }

  test("thread stress: concurrent appends and merges never lose a committed row") {
    import spark.implicits._
    // Real threads, real interleavings — no failpoints. Whatever the
    // schedule, the protocol's contract is: every write that RETURNED
    // (possibly after retrying a detected conflict) has its rows in the
    // final table. 4 appender threads race a merger thread; conflicts
    // surface as ConcurrentModificationException and are retried, never
    // silently absorbed.
    val p = tmpDir("mt_stress")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((0L, "base")).toDF("id", "s"))
    @annotation.tailrec
    def retry[T](n: Int)(f: => T): T =
      scala.util.Try(f) match {
        case scala.util.Success(v) => v
        case scala.util.Failure(_: java.util.ConcurrentModificationException)
            if n > 0 =>
          Thread.sleep(100); retry(n - 1)(f)
        case scala.util.Failure(e) => throw e
      }
    val committed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def guarded(body: => Unit): Thread = new Thread(() =>
      try body catch { case e: Throwable => failures.add(e) })
    val appenders = (1 to 4).map { w =>
      guarded {
        (0 until 4).foreach { i =>
          val id = w * 100L + i
          retry(60)(MedallionTable(spark, p).append(Seq((id, s"w$w")).toDF("id", "s")))
          committed.add(id)
        }
      }
    }
    val merger = guarded {
      (0 until 3).foreach { _ =>
        retry(60)(MedallionTable(spark, p).merge(
          Seq((0L, "merged")).toDF("id", "s"), Seq("id"),
          deleteNotMatchedBySource = false))
      }
    }
    val threads = appenders :+ merger
    threads.foreach(_.start())
    threads.foreach(_.join(180000))
    assert(failures.isEmpty, s"writer died: ${failures.peek()}")
    val ids = t.read.select("id").collect().map(_.getLong(0)).toSet
    committed.forEach(id => assert(ids.contains(id), s"lost appended row $id"))
    assert(ids.contains(0L), "merged base row must survive")
    assert(t.read.count() == ids.size, "no duplicated rows either")
  }

  test("mergePruned rewrites only partitions present in the source") {
    import spark.implicits._
    val p = tmpDir("mt_pruned")
    val t = MedallionTable(spark, p, partitionColumns = Seq("pt"))
    t.overwrite(Seq((1L, 1, "x"), (2L, 1, "y"), (3L, 2, "z"))
      .toDF("id", "pt", "s"))

    val f = fs(p)
    def partFiles(pt: Int) =
      f.listStatus(new Path(p, s"pt=$pt")).filter(_.isFile)
        .map(s => (s.getPath.getName, s.getModificationTime, s.getLen)).toSet
    val pt2Before = partFiles(2)

    // source touches only pt=1: updates id=1, deletes id=2 (within-partition)
    t.mergePruned(Seq((1L, 1, "X")).toDF("id", "pt", "s"), Seq("id", "pt"))

    assert(partFiles(2) == pt2Before, "untouched partition files changed")
    assert(t.read.select("id", "s").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((1L, "X"), (3L, "z")))
  }

  test("pruned delete clause is partition-scoped") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("mt_pruned2"), partitionColumns = Seq("pt"))
    t.overwrite(Seq((1L, 1), (2L, 2)).toDF("id", "pt"))
    t.mergePruned(Seq((3L, 1)).toDF("id", "pt"), Seq("id", "pt"))
    // pt=1: id=1 deleted (not matched by source), id=3 inserted; pt=2 kept
    assert(t.read.collect().map(_.getLong(0)).toSet == Set(3L, 2L))
  }
}
