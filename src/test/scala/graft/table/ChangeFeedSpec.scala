package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Writer-captured change data feed ([[ChangeFeed]]): per-commit change
  * rows from O(Δ) capture metadata — append file lists, delete-dv mark
  * lists, update/merge-dv batch manifests, rewrite snapshot fallback —
  * plus the refusal boundaries (pre-enablement, crashed capture, DV
  * compaction invalidation) and the latest-schema contract.
  */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def rows(n: Long) =
    (0L until n).map(i => (i, s"s$i", (i % 4).toInt)).toDF("id", "s", "grp")

  private def mk(retain: Int = 0): MedallionTable = {
    val t = MedallionTable(spark, tmpDir("cdf"), retainVersions = retain)
    t.overwrite(rows(20).repartition(2, col("id")))
    t
  }

  private def feed(t: MedallionTable, from: Long, to: Long = -1L) =
    t.readChangeFeed(from, to)
      .select("id", "s", "grp", "_change_type", "_commit_version")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getString(3), r.getLong(4)))
      .toSet

  test("append capture: inserts from exactly the added files, no row copies") {
    val t = mk()
    t.enableChangeDataFeed() // commit 2
    val en = t.commitVersion
    t.append(rows(5).withColumn("id", $"id" + 100L)
      .withColumn("s", concat(lit("a"), $"id"))) // commit 3
    val got = feed(t, en + 1)
    assert(got == (0L until 5L).map(i =>
      (i + 100L, s"a${i + 100L}", i.toInt % 4, "insert", en + 1)).toSet)
    // capture is metadata-only: no change rows stored anywhere
    val cdfDir = new java.io.File(s"${t.path}__graft_commits/cdf")
    assert(cdfDir.listFiles().forall(_.isFile), "manifests only, no row dirs")
    assert(cdfDir.listFiles().map(_.length()).sum < 4096,
      "capture stays tiny metadata")
  }

  test("delete-dv capture: deleted row images reconstruct by position") {
    val t = mk()
    t.enableChangeDataFeed()
    val en = t.commitVersion
    t.deleteVectored($"id" % 5 === 3)
    val got = feed(t, en + 1)
    assert(got == Seq(3L, 8L, 13L, 18L).map(i =>
      (i, s"s$i", i.toInt % 4, "delete", en + 1)).toSet)
    // a second delete attributes to its own commit
    t.deleteVectored($"id" === 0L)
    assert(feed(t, en + 2, en + 2) ==
      Set((0L, "s0", 0, "delete", en + 2)))
    // and the two-commit range unions both
    assert(feed(t, en + 1, en + 1).size + feed(t, en + 2, en + 2).size ==
      feed(t, en + 1, en + 2).size)
  }

  test("update-dv capture: pre/postimages; zero-match update feeds zero rows") {
    val t = mk()
    t.enableChangeDataFeed()
    val en = t.commitVersion
    t.updateVectored($"id" < 3, Map("s" -> concat(lit("u"), $"id")))
    val got = feed(t, en + 1)
    val want = (0L until 3L).flatMap(i => Seq(
      (i, s"s$i", i.toInt % 4, "update_preimage", en + 1),
      (i, s"u$i", i.toInt % 4, "update_postimage", en + 1))).toSet
    assert(got == want)
    t.updateVectored($"id" === 9999L, Map("s" -> lit("x")))
    assert(feed(t, en + 2).isEmpty, "no-match update captures empty")
    // chained: updating an updated row reconstructs the v2 preimage from
    // the BATCH file of the first update
    t.updateVectored($"id" === 1L, Map("s" -> lit("v3")))
    assert(feed(t, en + 3) == Set(
      (1L, "u1", 1, "update_preimage", en + 3),
      (1L, "v3", 1, "update_postimage", en + 3)))
  }

  test("merge-dv capture: key classification — insert vs update vs delete") {
    import MergeOps._
    val t = mk()
    t.enableChangeDataFeed()
    val en = t.commitVersion
    val src = Seq(
      (1L, "m1"), // matched, price below: update
      (2L, "m2"), // matched: update
      (3L, "DEL"), // matched: delete clause
      (100L, "new")).toDF("k", "v")
    t.mergeVectored(src, Seq("id" -> "k"),
      Seq(
        WhenMatchedDelete(Some((_, sc) => sc("v") === "DEL")),
        WhenMatchedUpdate(None, Map("s" -> ((_, sc) => sc("v"))))),
      Seq(WhenNotMatchedInsert(None, Map(
        "id" -> ((_, sc) => sc("k")),
        "s" -> ((_, sc) => sc("v")),
        "grp" -> ((_, _) => lit(9))))))
    val got = feed(t, en + 1)
    val want = Set(
      (1L, "s1", 1, "update_preimage", en + 1),
      (1L, "m1", 1, "update_postimage", en + 1),
      (2L, "s2", 2, "update_preimage", en + 1),
      (2L, "m2", 2, "update_postimage", en + 1),
      (3L, "s3", 3, "delete", en + 1),
      (100L, "new", 9, "insert", en + 1))
    assert(got == want)
  }

  test("insert-only and delete-only merges classify without empty-dir failures") {
    import MergeOps._
    val t = mk()
    t.enableChangeDataFeed()
    val en = t.commitVersion
    t.mergeVectored(Seq((200L, "n")).toDF("k", "v"), Seq("id" -> "k"),
      Nil, Seq(WhenNotMatchedInsert(None, Map(
        "id" -> ((_, sc) => sc("k")), "s" -> ((_, sc) => sc("v")),
        "grp" -> ((_, _) => lit(0))))))
    assert(feed(t, en + 1) == Set((200L, "n", 0, "insert", en + 1)))
    t.mergeVectored(Seq((200L, "x")).toDF("k", "v"), Seq("id" -> "k"),
      Seq(WhenMatchedDelete(None)), Nil)
    assert(feed(t, en + 2) == Set((200L, "n", 0, "delete", en + 2)))
  }

  test("rewrite commits derive delete-all+insert-all from snapshots; " +
      "maintenance and DDL feed no rows") {
    val t = mk(retain = 4)
    t.enableChangeDataFeed()
    val en = t.commitVersion
    t.delete($"id" >= 18L) // rewrite path (row-level predicate)
    val got = feed(t, en + 1)
    assert(got.count(_._4 == "insert") == 18)
    assert(got.count(_._4 == "delete") == 20)
    assert(got.filter(_._4 == "delete").map(_._1) == (0L until 20L).toSet)
    // maintenance: no rows (dataChange=false)
    t.compact()
    assert(feed(t, en + 2).isEmpty, "OPTIMIZE feeds no rows")
    // metadata DDL: no rows
    t.addColumn("note", "STRING")
    assert(feed(t, en + 3).isEmpty, "ADD COLUMN feeds no rows")
  }

  test("latest-schema contract: pre-evolution changes read with typed NULLs") {
    val t = mk()
    t.enableChangeDataFeed()
    val en = t.commitVersion
    t.append(rows(2).withColumn("id", $"id" + 50L))
    t.addColumn("note", "STRING")
    t.append(rows(1).withColumn("id", $"id" + 60L)
      .withColumn("note", lit("n")))
    val f = t.readChangeFeed(en + 1)
    assert(f.columns.toSeq ==
      Seq("id", "s", "grp", "note", "_change_type", "_commit_version",
        "_commit_timestamp"))
    val byId = f.collect().map(r => r.getLong(0) -> r.getAs[String]("note")).toMap
    assert(byId(50L) == null && byId(60L) == "n")
  }

  test("refusals: pre-enablement range, beyond-head range, compacted marks") {
    val t = mk()
    t.enableChangeDataFeed()
    val en = t.commitVersion
    val e1 = intercept[IllegalStateException](t.readChangeFeed(en))
    assert(e1.getMessage.contains("enablement"))
    intercept[IllegalStateException](t.readChangeFeed(en + 1, en + 99))
    t.deleteVectored($"id" === 1L)
    assert(feed(t, en + 1).nonEmpty)
    // delete-mark compaction ARCHIVES the originals (per-commit feed
    // evidence): the range still reads, attribution intact
    t.deleteVectored($"id" === 2L)
    t.compactDv()
    assert(feed(t, en + 1, en + 2) == Set(
      (1L, "s1", 1, "delete", en + 1),
      (2L, "s2", 2, "delete", en + 2)),
      "delete feed ranges survive compactDv via the marks archive")
    // batch compaction deletes the batch DATA files too — update ranges
    // refuse (Delta-parity with VACUUM invalidating CDF), not misreport
    t.updateVectored($"id" === 3L, Map("s" -> lit("u")))
    t.updateVectored($"id" === 4L, Map("s" -> lit("v")))
    t.compactDvBatches()
    val e2 = intercept[IllegalStateException](t.readChangeFeed(en + 3))
    assert(e2.getMessage.contains("compacted"))
    // un-captured rewrite on an unversioned table: refuse, name the knob
    val t2 = mk()
    t2.enableChangeDataFeed()
    val en2 = t2.commitVersion
    t2.delete($"id" === 0L)
    val e3 = intercept[IllegalStateException](t2.readChangeFeed(en2 + 1))
    assert(e3.getMessage.contains("retainVersions"))
  }

  test("crashed capture window fail-stops the read") {
    val t = mk()
    t.enableChangeDataFeed()
    val en = t.commitVersion
    t.append(rows(1).withColumn("id", $"id" + 70L))
    // simulate the crash-between-commit-and-manifest window by removing
    // the captured manifest for the append commit
    val mf = new java.io.File(
      ChangeFeed.manifestFile(t.path, en + 1).toUri.getPath)
    assert(mf.exists()); assert(mf.delete())
    val e = intercept[IllegalStateException](t.readChangeFeed(en + 1))
    assert(e.getMessage.contains("without capture"))
  }

  test("idempotent appends and COPY-INTO-style retries capture once per " +
      "applied batch; feed drives IncrementalAgg to the recomputed gold") {
    val t = mk()
    t.enableChangeDataFeed()
    val en = t.commitVersion
    assert(t.appendIdempotent(rows(3).withColumn("id", $"id" + 300L),
      "app", 1L))
    assert(!t.appendIdempotent(rows(3).withColumn("id", $"id" + 300L),
      "app", 1L), "replay is a no-op")
    t.updateVectored($"id" === 301L, Map("grp" -> lit(3)))
    t.deleteVectored($"id" === 302L)
    val changes = t.readChangeFeed(en + 1)
      .drop("_commit_version", "_commit_timestamp")
    // state at enablement = the create batch (nothing landed in between)
    val gold0 = IncrementalAgg.fullCompute(rows(20),
      Seq("grp"), Seq("sum_id" -> col("id")))
    val maintained = IncrementalAgg.refresh(gold0, changes,
      Seq("grp"), Seq("sum_id" -> col("id")))
    val recomputed = IncrementalAgg.fullCompute(t.read,
      Seq("grp"), Seq("sum_id" -> col("id")))
    val a = maintained.orderBy("grp").collect().map(_.toSeq).toSeq
    val b = recomputed.orderBy("grp").collect().map(_.toSeq).toSeq
    assert(a == b, "feed-maintained gold ≡ full recompute")
  }

  test("IncrementalAgg.catchUp refreshes via the feed with ZERO snapshot " +
      "retention (snapshot diff would refuse)") {
    val t = mk(retain = 0)
    t.enableChangeDataFeed()
    val gold = MedallionTable(spark, tmpDir("cdfgold"))
    def sums = Seq("sum_id" -> col("id"))
    IncrementalAgg.catchUp(t, gold, Seq("id"), Seq("grp"), sums)
    // DV-era churn only — every commit is feed-captured
    t.append(rows(4).withColumn("id", $"id" + 500L))
    t.updateVectored($"id" === 501L, Map("grp" -> lit(3)))
    t.deleteVectored($"id" === 502L)
    // with retain=0 the snapshot-diff path would throw (state at the
    // reflected ordinal is not retained): success proves the feed route
    intercept[IllegalArgumentException](
      t.changesSinceOrdinal(t.commitVersion - 3, Seq("id")))
    IncrementalAgg.catchUp(t, gold, Seq("id"), Seq("grp"), sums)
    val a = gold.read.drop(IncrementalAgg.FactCommitCol)
      .orderBy("grp").collect().map(_.toSeq).toSeq
    val b = IncrementalAgg.fullCompute(t.read, Seq("grp"), sums)
      .orderBy("grp").collect().map(_.toSeq).toSeq
    assert(a == b, "feed-routed catchUp ≡ full recompute, no snapshots")
    // join MV sibling: same routing
    val dim = Seq((0, "d0"), (1, "d1"), (2, "d2"), (3, "d3")).toDF("grp", "g")
    val mv = MedallionTable(spark, tmpDir("cdfjmv"))
    IncrementalJoin.catchUp(t, dim, mv, Seq("id"), Seq("grp" -> "grp"))
    t.updateVectored($"id" === 503L, Map("s" -> lit("z")))
    t.append(rows(1).withColumn("id", $"id" + 600L))
    IncrementalJoin.catchUp(t, dim, mv, Seq("id"), Seq("grp" -> "grp"))
    val ja = mv.read.orderBy("id").collect().map(_.toSeq).toSeq
    val jb = IncrementalJoin.fullCompute(t.read, dim, Seq("grp" -> "grp"))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(ja == jb, "feed-routed join catchUp ≡ full recompute")
  }

  test("replicateTo: CDC mirror — bootstrap, net-effect apply, last-wins " +
      "across commits, replay convergence, rewrite fallback") {
    import MergeOps._
    val t = mk(retain = 4)
    t.enableChangeDataFeed()
    val m = MedallionTable(spark, tmpDir("cdfmir"))
    def mirrorEq(): Unit = {
      val a = m.read.orderBy("id").collect().map(_.toSeq).toSeq
      val b = t.read.orderBy("id").collect().map(_.toSeq).toSeq
      assert(a == b, "mirror ≡ source state")
    }
    ChangeFeed.replicateTo(t, m, Seq("id")) // bootstrap copy
    mirrorEq()
    // churn: insert, update, update-then-delete, delete-then-reinsert
    t.append(rows(3).withColumn("id", $"id" + 800L))
    t.updateVectored($"id" === 800L, Map("s" -> lit("w1")))
    t.updateVectored($"id" === 800L, Map("s" -> lit("w2"))) // last wins
    t.updateVectored($"id" === 801L, Map("s" -> lit("gone")))
    t.deleteVectored($"id" === 801L) // update then delete: net delete
    t.deleteVectored($"id" === 802L)
    t.mergeVectored(Seq((802L, "back")).toDF("k", "v"), Seq("id" -> "k"),
      Nil, Seq(WhenNotMatchedInsert(None, Map(
        "id" -> ((_, sc) => sc("k")), "s" -> ((_, sc) => sc("v")),
        "grp" -> ((_, _) => lit(2)))))) // delete then re-insert: net upsert
    val mirrorFilesBefore = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(m.path)).filter(f =>
        f.getName.endsWith(".parquet") && !f.getPath.contains("_graft_meta"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    ChangeFeed.replicateTo(t, m, Seq("id"))
    mirrorEq()
    // the apply was O(Δ): zero mirror base files rewritten
    val mirrorFilesAfter = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(m.path)).filter(f =>
        f.getName.endsWith(".parquet") && !f.getPath.contains("_graft_meta"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    assert(mirrorFilesBefore.forall { case (f, ts) =>
      mirrorFilesAfter.get(f).contains(ts) },
      "mirror base files untouched by the CDC apply")
    // crash-window replay: reset the watermark and re-apply — converges.
    // Reset through Hadoop FS (not java.io) so the checksum sidecar stays
    // consistent with the data file.
    val wmPath = new org.apache.hadoop.fs.Path(
      s"${m.path}__graft_commits/cdf_mirror_reflects")
    val hfs = wmPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def wmRead(): String = {
      val in = hfs.open(wmPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    val wmNow = wmRead()
    assert(wmNow.toLong == ChangeFeed.capturedThrough(t),
      "watermark must have advanced to the captured head before replay")
    val o = hfs.create(wmPath, true)
    try o.write("2".getBytes("UTF-8")) finally o.close()
    ChangeFeed.replicateTo(t, m, Seq("id"))
    mirrorEq()
    assert(wmRead() == wmNow)
    // rewrite on the source: snapshot-fallback rendering still mirrors
    t.delete($"grp" === 1) // rewrite path
    ChangeFeed.replicateTo(t, m, Seq("id"))
    mirrorEq()
    // no-op refresh is a no-op
    ChangeFeed.replicateTo(t, m, Seq("id"))
    mirrorEq()
    // the watermark ADVANCES across refreshes (Hadoop rename refuses an
    // existing destination; pre-fix the second write silently kept the
    // bootstrap ordinal and every refresh re-read the feed from it)
    val wm = scala.io.Source.fromFile(
      s"${m.path}__graft_commits/cdf_mirror_reflects")
    val stamped = try wm.mkString.trim.toLong finally wm.close()
    assert(stamped == ChangeFeed.capturedThrough(t),
      "mirror watermark must track the source's captured head, not the " +
        "bootstrap ordinal")
  }

  test("partitioned table: capture and positional reconstruction keep " +
      "hive partition values through every op class") {
    val t = MedallionTable(spark, tmpDir("cdfpart"),
      partitionColumns = Seq("grp"))
    t.overwrite(rows(20))
    t.enableChangeDataFeed()
    val en = t.commitVersion
    t.append(rows(4).withColumn("id", $"id" + 40L))
    t.deleteVectored($"id" === 41L)
    t.updateVectored($"id" === 42L, Map("s" -> lit("pu")))
    val got = feed(t, en + 1, en + 3)
    assert(got == Set(
      (40L, "s0", 0, "insert", en + 1),
      (41L, "s1", 1, "insert", en + 1),
      (42L, "s2", 2, "insert", en + 1),
      (43L, "s3", 3, "insert", en + 1),
      (41L, "s1", 1, "delete", en + 2),
      (42L, "s2", 2, "update_preimage", en + 3),
      (42L, "pu", 2, "update_postimage", en + 3)),
      s"partition column grp must survive reconstruction: $got")
  }

  test("composition: RENAME COLUMN surfaces past changes under the new " +
      "name; DROP COLUMN removes it; a clone starts its own feed") {
    val t = mk()
    t.enableChangeDataFeed()
    val en = t.commitVersion
    t.append(rows(2).withColumn("id", $"id" + 90L))
    t.renameColumn("s", "s2")
    val f = t.readChangeFeed(en + 1)
    assert(f.columns.contains("s2") && !f.columns.contains("s"))
    assert(f.filter($"id" === 90L).select("s2").head().getString(0) == "s0",
      "pre-rename captured rows read under the CURRENT logical name")
    t.dropColumn("s2")
    assert(!t.readChangeFeed(en + 1).columns.exists(_.startsWith("s")),
      "dropped column disappears from the feed")
    // clone: commits sidecar is per-table — the clone is NOT feed-armed
    // and its own history starts fresh
    val c = MedallionTable(spark, tmpDir("cdfclone"))
    c.cloneFrom(t)
    assert(!c.changeDataFeedEnabled)
    c.enableChangeDataFeed()
    val cen = c.commitVersion
    c.deleteVectored($"id" === 0L)
    assert(c.readChangeFeed(cen + 1).count() == 1)
  }

  test("replicateTo fail-stops when the source schema evolved past the " +
      "mirror (never silent divergence)") {
    val t = mk()
    t.enableChangeDataFeed()
    val m = MedallionTable(spark, tmpDir("cdfmir2"))
    ChangeFeed.replicateTo(t, m, Seq("id"))
    t.append(rows(1).withColumn("id", $"id" + 70L)
      .withColumn("extra", lit("x")))
    val e = intercept[IllegalStateException](
      ChangeFeed.replicateTo(t, m, Seq("id")))
    assert(e.getMessage.contains("extra") &&
      e.getMessage.contains("evolve the mirror"))
  }

  test("SQL surface: ALTER TABLE SET TBLPROPERTIES arms the feed; " +
      "graft_change_feed TVF reads it and composes in SELECT") {
    val t = MedallionTable(spark, tmpDir("cdfsql"))
    t.overwrite(rows(10))
    spark.sql("ALTER TABLE '" + t.path +
      "' SET TBLPROPERTIES (delta.enableChangeDataFeed = true)")
    assert(t.changeDataFeedEnabled)
    val en = t.commitVersion
    t.deleteVectored($"id" < 2)
    val got = spark.sql(
      s"SELECT id, _change_type FROM graft_change_feed('${t.path}', " +
        s"${en + 1}) WHERE _change_type = 'delete' ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((0L, "delete"), (1L, "delete")))
    // explicit end version
    t.append(rows(1).withColumn("id", $"id" + 40L))
    val only1 = spark.sql(
      s"SELECT count(*) FROM graft_change_feed('${t.path}', ${en + 1}, " +
        s"${en + 1})").head().getLong(0)
    assert(only1 == 2L)
    // catalog-table spelling (Delta's table_changes takes either)
    spark.sql("DROP TABLE IF EXISTS cdf_tvf_t")
    spark.sql(s"CREATE TABLE cdf_tvf_t USING graft LOCATION '${t.path}'")
    assert(spark.sql(
      s"SELECT count(*) FROM graft_change_feed('cdf_tvf_t', ${en + 1}, " +
        s"${en + 1})").head().getLong(0) == 2L)
  }

  test("feed retention janitor: expired ranges refuse with the hatch " +
      "named, post-watermark reads are untouched, archive pruned, " +
      "vacuum/autoCompact wire the age horizon") {
    val t = mk()
    t.enableChangeDataFeed()
    val en = t.commitVersion
    t.append(rows(2).withColumn("id", $"id" + 100L)) // en+1
    t.deleteVectored($"id" === 100L) // en+2 — flat marks
    t.compactDv() // en+3 — marks move to the feed archive
    t.append(rows(2).withColumn("id", $"id" + 200L)) // en+4
    t.deleteVectored($"id" === 201L) // en+5
    // pre-expiry: the archived delete range still reads (round-13 archive)
    assert(feed(t, en + 2, en + 2).nonEmpty)
    val keepRange = feed(t, en + 4)
    assert(t.expireChangeFeed(keepCommits = 2) == en + 3)
    // expired ranges refuse, hatch named
    val e = intercept[IllegalStateException](
      t.readChangeFeed(en + 1, en + 5).collect())
    assert(e.getMessage.contains("retention") &&
      e.getMessage.contains("re-baseline"))
    intercept[IllegalStateException](
      t.readChangeFeed(en + 3, en + 3).collect())
    // post-watermark reads bit-identical
    assert(feed(t, en + 4) == keepRange)
    // manifests physically expired; unreferenced archived marks pruned
    val cdfDir = new java.io.File(s"${t.path}__graft_commits/cdf")
    val names = cdfDir.listFiles().map(_.getName).toSet
    assert(!names.contains(s"c${en + 1}") && !names.contains(s"c${en + 2}"))
    assert(names.contains(s"c${en + 4}") && names.contains(s"c${en + 5}"))
    val arch = new java.io.File(cdfDir, "marks_archive")
    assert(!arch.exists() || arch.listFiles().isEmpty,
      "archived marks referenced only by expired manifests must be pruned")
    // idempotent + monotone: re-expiring at a lower horizon is a no-op
    assert(t.expireChangeFeed(keepCommits = 4) == en + 3)
    // maintenance wiring: age horizon 0 expires everything but the head
    spark.conf.set("spark.graft.cdfRetentionMs", "0")
    try {
      t.vacuum()
      assert(ChangeFeed.expiredThrough(spark, t.path) == en + 4)
      assert(feed(t, en + 5).nonEmpty, "the captured head always survives")
    } finally spark.conf.unset("spark.graft.cdfRetentionMs")
    // default 30-day horizon: fresh manifests never expire under vacuum
    val t2 = mk()
    t2.enableChangeDataFeed()
    val en2 = t2.commitVersion
    t2.append(rows(1).withColumn("id", $"id" + 300L))
    t2.vacuum()
    assert(ChangeFeed.expiredThrough(spark, t2.path) == Long.MinValue &&
      feed(t2, en2 + 1).nonEmpty)
  }

  test("feed expiry prunes archived marks directories recursively") {
    val t = mk()
    t.enableChangeDataFeed()
    val en = t.commitVersion
    t.deleteVectored($"id" === 1L) // en+1
    t.deleteVectored($"id" === 2L) // en+2
    t.compactDv() // en+3 — both marks directories move to the archive
    val arch = new java.io.File(s"${t.path}__graft_commits/cdf/marks_archive")
    assert(arch.listFiles().count(_.isDirectory) == 2)
    assert(feed(t, en + 1, en + 2).map(_._1) == Set(1L, 2L))
    t.append(rows(1).withColumn("id", $"id" + 100L)) // en+4
    assert(t.expireChangeFeed(keepCommits = 1) == en + 3)
    assert(arch.listFiles().isEmpty, "unreferenced archived directories pruned")
  }

  test("replicateTo fail-stops on INVERSE drift: the mirror has columns " +
      "the source no longer provides") {
    val t = mk()
    t.enableChangeDataFeed()
    val m = MedallionTable(spark, tmpDir("cdfmir3"))
    ChangeFeed.replicateTo(t, m, Seq("id")) // bootstrap copies grp
    t.dropColumn("grp")
    t.append(rows(1).drop("grp").withColumn("id", $"id" + 80L))
    // pre-fix this died in Catalyst analysis with a raw cannot-resolve
    // from the merge's insert map; now it refuses with the hatch named
    val e = intercept[IllegalStateException](
      ChangeFeed.replicateTo(t, m, Seq("id")))
    assert(e.getMessage.contains("grp") &&
      e.getMessage.contains("re-baseline"))
  }

  test("catchUp survives a stale-ahead watermark: a fallback-stamped " +
      "ordinal past the captured head degrades to nothing-new") {
    val t = MedallionTable(spark, tmpDir("cdfstale"))
    t.overwrite(rows(8).repartition(2, col("id")))
    t.enableChangeDataFeed()
    val gold = MedallionTable(spark, tmpDir("cdfstaleg"))
    def sums = Seq("sum_id" -> col("id"))
    // a writer crashes between its commit point and its capture…
    t.append(rows(2).withColumn("id", $"id" + 700L))
    val f = new java.io.File(
      s"${t.path}__graft_commits/cdf/c${t.commitVersion}")
    assert(f.delete(), "simulated crash window: capture removed")
    // …then the consumer bootstraps: fullCompute of the CURRENT state,
    // stamped at the RAW marker head — which is PAST the captured-through
    // witness (the crashed commit has no manifest)
    IncrementalAgg.catchUp(t, gold, Seq("id"), Seq("grp"), sums)
    val stamped = gold.read
      .select(IncrementalAgg.FactCommitCol).head().getLong(0)
    assert(ChangeFeed.capturedThrough(t) < stamped,
      "setup must leave the watermark ahead of the captured head")
    // pre-fix: readChangeFeed(ord+1, head) with head < ord+1 threw
    // IllegalArgumentException past the IllegalStateException-only catch
    IncrementalAgg.catchUp(t, gold, Seq("id"), Seq("grp"), sums)
    val a = gold.read.drop(IncrementalAgg.FactCommitCol)
      .orderBy("grp").collect().map(_.toSeq).toSeq
    val b = IncrementalAgg.fullCompute(t.read, Seq("grp"), sums)
      .orderBy("grp").collect().map(_.toSeq).toSeq
    assert(a == b, "stale-ahead watermark must not lose or double rows")
  }

  test("heterogeneous-key merges in ONE range classify independently " +
      "(scoped single-pass classification)") {
    import MergeOps._
    val t = mk()
    t.enableChangeDataFeed()
    val en = t.commitVersion
    // merge A keyed by id: updates 1, inserts 500
    t.mergeVectored(Seq((1L, "a1"), (500L, "a2")).toDF("k", "v"),
      Seq("id" -> "k"),
      Seq(WhenMatchedUpdate(None, Map("s" -> ((_, sc) => sc("v"))))),
      Seq(WhenNotMatchedInsert(None, Map(
        "id" -> ((_, sc) => sc("k")), "s" -> ((_, sc) => sc("v")),
        "grp" -> ((_, _) => lit(9))))))
    // merge B keyed by (id, grp): updates 2 (grp 2), inserts (600, 9)
    t.mergeVectored(Seq((2L, 2, "b1"), (600L, 9, "b2")).toDF("k", "g", "v"),
      Seq("id" -> "k", "grp" -> "g"),
      Seq(WhenMatchedUpdate(None, Map("s" -> ((_, sc) => sc("v"))))),
      Seq(WhenNotMatchedInsert(None, Map(
        "id" -> ((_, sc) => sc("k")), "s" -> ((_, sc) => sc("v")),
        "grp" -> ((_, sc) => sc("g"))))))
    val got = feed(t, en + 1)
    assert(got == Set(
      (1L, "s1", 1, "update_preimage", en + 1),
      (1L, "a1", 1, "update_postimage", en + 1),
      (500L, "a2", 9, "insert", en + 1),
      (2L, "s2", 2, "update_preimage", en + 2),
      (2L, "b1", 2, "update_postimage", en + 2),
      (600L, "b2", 9, "insert", en + 2)),
      s"per-commit key sets must classify within their own slice: $got")
  }

  test("watermark two-phase write: a crash between delete and rename " +
      "keeps the NEW expired_through visible (staged fallback), hatch " +
      "still named; mirror watermark survives the same window") {
    import spark.implicits._
    val p = tmpDir("cfwm2p")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((0L, "z")).toDF("id", "s"))
    t.enableChangeDataFeed()
    (1 to 8).foreach(i => t.append(Seq((i.toLong, "a")).toDF("id", "s")))
    val e1 = t.expireChangeFeed(keepCommits = 6) // first write: no delete
    // SECOND write: delete-then-rename — crash in the window
    MedallionTable.testFailpoint = {
      case "sidecar-replace:expired_through" =>
        MedallionTable.testFailpoint = _ => ()
        throw new RuntimeException("boom: watermark crash window")
      case _ => ()
    }
    val boom = intercept[RuntimeException](t.expireChangeFeed(keepCommits = 2))
    assert(boom.getMessage.contains("boom"))
    val after = ChangeFeed.expiredThrough(spark, p)
    assert(after > e1,
      s"staged fallback must surface the NEW watermark, got $after vs $e1")
    // the refusal still names the retention hatch off the staged value
    val head = ChangeFeed.capturedThrough(t)
    val r = intercept[IllegalStateException](
      t.readChangeFeed(after, head).collect())
    assert(r.getMessage.contains("retention"), s"hatch named: $r")
    // a later clean write heals the staging (rename lands)
    val e3 = t.expireChangeFeed(keepCommits = 1)
    assert(ChangeFeed.expiredThrough(spark, p) == e3 && e3 >= after)

    // mirror watermark: same crash window must not reset replication to
    // its bootstrap ordinal (the round-14 re-read bug, now crash-proof)
    val mp = tmpDir("cfwm2p_mir")
    val m = MedallionTable(spark, mp)
    ChangeFeed.replicateTo(t, m, Seq("id")) // bootstrap + first stamp
    t.append(Seq((100L, "n")).toDF("id", "s"))
    MedallionTable.testFailpoint = {
      case "sidecar-replace:cdf_mirror_reflects" =>
        MedallionTable.testFailpoint = _ => ()
        throw new RuntimeException("boom: mirror watermark crash")
      case _ => ()
    }
    try intercept[RuntimeException](ChangeFeed.replicateTo(t, m, Seq("id")))
    finally MedallionTable.testFailpoint = _ => ()
    // the apply itself completed before the stamp: mirror holds the row
    assert(m.read.filter($"id" === 100L).count() == 1)
    // and the staged watermark means the next refresh reads only the
    // unseen window (nothing new here) instead of re-applying from
    // bootstrap — it must be a cheap no-op that converges
    ChangeFeed.replicateTo(t, m, Seq("id"))
    assert(m.read.count() == t.read.count(), "mirror ≡ source after heal")
  }

  test("a renamed merge key refuses classification cleanly") {
    import MergeOps._
    val t = mk()
    t.enableChangeDataFeed()
    val en = t.commitVersion
    t.mergeVectored(Seq((1L, "m")).toDF("k", "v"), Seq("id" -> "k"),
      Seq(WhenMatchedUpdate(None, Map("s" -> ((_, sc) => sc("v"))))), Nil)
    assert(feed(t, en + 1, en + 1).nonEmpty)
    t.renameColumn("id", "id2")
    val e = intercept[IllegalStateException](
      t.readChangeFeed(en + 1, en + 1).collect())
    assert(e.getMessage.contains("merge key") &&
      e.getMessage.contains("re-baseline"))
  }

  test("_commit_timestamp is each version's ICT instant — including " +
      "JOURNALED commits past the live marker window (not capture time)") {
    val t = mk()
    t.enableChangeDataFeed()
    val en = t.commitVersion
    // 12 appends push the early ones past HistoryDepth=8 into the journal
    (0 until 12).foreach(i =>
      t.append(Seq((200L + i, s"j$i", 0)).toDF("id", "s", "grp")))
    assert(t.history().map(_._1).min > en + 1,
      "fixture must reach into journaled commits")
    val instants = t.fullHistory().map { case (v, _, ts) => v -> ts }.toMap
    val got = t.readChangeFeed(en + 1, en + 12)
      .select("_commit_version", "_commit_timestamp").distinct()
      .collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    assert(got.keySet == (en + 1 to en + 12).toSet)
    got.foreach { case (v, ts) =>
      assert(ts == instants(v),
        s"v$v: feed stamped $ts but the commit instant is ${instants(v)}")
    }
  }
}
