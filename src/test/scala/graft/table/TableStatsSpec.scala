package graft.table

import graft.SparkSpec

/** Data skipping + compaction: a clustered table's manifest prunes the file
  * set for selective range reads, results stay identical to the full
  * filter, and the manifest survives table reads untouched.
  */
class TableStatsSpec extends SparkSpec {

  test("compact clusters files; readRange skips files and matches full filter") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("stats"))
    t.overwrite((0 until 10000).map(i => (i.toLong, s"v$i")).toDF("id", "s")
      .repartition(8)) // unclustered: every file spans the id range
    t.compact(clusterBy = Seq("id"), nFiles = 8) // range-clustered rewrite
    t.refreshStats()

    val pruned = t.readRange("id", 100, 400)
    val expected = t.read.filter($"id" >= 100 && $"id" <= 400)
      .collect().map(_.getLong(0)).sorted
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq == expected.toSeq)

    // selective range over clustered files: far fewer than 8 files touched
    val touched = pruned.inputFiles.length
    assert(touched <= 2, s"expected <=2 clustered files, scanned $touched of 8")
    assert(t.read.inputFiles.length == 8)
  }

  test("string-range skipping works and missing manifest falls back gracefully") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("stats_str"))
    t.overwrite((0 until 1000).map(i => (i.toLong, f"k$i%04d")).toDF("id", "s"))
    // no stats yet — falls back to plain filter
    assert(t.readRange("s", "k0100", "k0199").count() == 100)
    t.compact(clusterBy = Seq("s"), nFiles = 4)
    t.refreshStats()
    val pruned = t.readRange("s", "k0100", "k0199")
    assert(pruned.count() == 100)
    assert(pruned.inputFiles.length <= 2)
  }

  test("timestamp_ntz columns get stats and prune (regression: NTZ was filtered out of the manifest)") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("stats_ntz"))
    // LocalDateTime columns land as TIMESTAMP_NTZ — the same type parquet
    // timestamps with isAdjustedToUTC=false (the fixture tables) read as.
    val rows = (0 until 1000).map { i =>
      (i.toLong, java.time.LocalDateTime.of(1995, 1, 1, 0, 0).plusHours(i.toLong))
    }.toDF("id", "ts")
    t.overwrite(rows)
    t.compact(clusterBy = Seq("ts"), nFiles = 4)
    t.refreshStats(Seq("ts"))
    assert(spark.read.parquet(t.path + "/_graft_meta/stats").columns
      .contains("min_str__ts"), "NTZ column missing from the stats manifest")
    val pruned = t.readRange("ts", "1995-01-05 00:00:00", "1995-01-08 00:00:00")
    val expected = t.read
      .filter($"ts" >= "1995-01-05 00:00:00" && $"ts" <= "1995-01-08 00:00:00")
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq ==
      expected.collect().map(_.getLong(0)).sorted.toSeq)
    assert(pruned.inputFiles.length <= 2,
      s"expected <=2 files after NTZ pruning, scanned ${pruned.inputFiles.length} of 4")
  }

  test("time travel: rewrites archive versions, readVersion/restore work, pruning caps history") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("tt"), retainVersions = 2)
    t.overwrite(Seq((1L, "one")).toDF("id", "s"))
    t.merge(Seq((1L, "ONE"), (2L, "two")).toDF("id", "s"), Seq("id"),
      deleteNotMatchedBySource = false)                       // v1 = {one}
    t.merge(Seq((3L, "three")).toDF("id", "s"), Seq("id"),
      deleteNotMatchedBySource = false)                       // v2 = {ONE,two}
    assert(t.listVersions() == Seq(1, 2))
    assert(t.readVersion(1).collect().map(_.getString(1)).toSet == Set("one"))
    assert(t.readVersion(2).collect().map(_.getString(1)).toSet == Set("ONE", "two"))
    assert(t.read.collect().map(_.getString(1)).toSet == Set("ONE", "two", "three"))

    t.restoreVersion(2) // live table back to v2; archives v3, prunes v1
    assert(t.read.collect().map(_.getString(1)).toSet == Set("ONE", "two"))
    assert(t.listVersions() == Seq(2, 3))
    assert(t.readVersion(3).collect().map(_.getString(1)).toSet ==
      Set("ONE", "two", "three"))
  }

  test("z-order clustering enables skipping on BOTH cluster columns") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("zorder"))
    // two independent dimensions; lexicographic clustering on x would leave
    // y ranges wide in every file
    val rnd = new scala.util.Random(5)
    t.overwrite((0 until 20000).map { i =>
      (i.toLong, rnd.nextInt(10000), rnd.nextInt(10000))
    }.toDF("id", "x", "y").repartition(8))
    t.compactZOrder(Seq("x", "y"), nFiles = 16)
    t.refreshStats()

    def filesTouched(c: String) = {
      val p = t.readRange(c, 100, 400)
      val expected = t.read
        .filter(org.apache.spark.sql.functions.col(c).between(100, 400)).count()
      assert(p.count() == expected)
      p.inputFiles.length
    }
    val fx = filesTouched("x")
    val fy = filesTouched("y")
    assert(fx < 16 && fy < 16,
      s"z-order should prune on both dims: x=$fx, y=$fy of 16")
    assert(fx + fy < 24, s"expected meaningful pruning, got x=$fx y=$fy")
  }

  test("z-order on a low-cardinality column still yields balanced output files") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("stats_zorder_lowcard"))
    t.overwrite((0 until 20000).map(i => (i.toLong, s"s${i % 3}"))
      .toDF("id", "status").repartition(8))
    // 3 distinct values → ≤4 distinct z-buckets; without the content-hash
    // range tiebreak the whole table would land in ≤4 giant files.
    t.compactZOrder(Seq("status"), nFiles = 8)
    assert(t.read.count() == 20000)
    val files = t.read.inputFiles.length
    assert(files >= 6, s"expected ~8 balanced files, got $files")
  }

  test("z-order on a STRING column prunes via the byte-prefix surrogate") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("stats_zorder_string"))
    t.overwrite((0 until 20000).map { i =>
      (i.toLong, f"k${i % 1000}%05d")
    }.toDF("id", "key").repartition(8))
    t.compactZOrder(Seq("key"), nFiles = 16)
    t.refreshStats()
    val pruned = t.readRange("key", "k00100", "k00199")
    val expected = t.read
      .filter(org.apache.spark.sql.functions.col("key").between("k00100", "k00199"))
      .count()
    assert(pruned.count() == expected)
    assert(pruned.inputFiles.length < 16,
      s"string z-order should prune files, touched ${pruned.inputFiles.length} of 16")
  }

  test("readRange works on hive-partitioned tables (partition cols survive)") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("stats_part"), partitionColumns = Seq("pt"))
    t.overwrite((0 until 2000).map(i => (i.toLong, i % 3)).toDF("id", "pt"))
    t.refreshStats()
    // range on a data column: partition column must come back non-null
    val byId = t.readRange("id", 10, 20)
    assert(byId.count() == 11)
    assert(byId.filter($"pt".isNull).count() == 0)
    assert(byId.select("pt").distinct().count() == 3)
    // range on the partition column itself
    val byPt = t.readRange("pt", 1, 1)
    assert(byPt.count() == t.read.filter($"pt" === 1).count())
  }

  test("append and mergePruned invalidate the manifest (readRange stays exact)") {
    import spark.implicits._
    // regression: stale stats after in-place mutations must not make
    // readRange drop rows from unlisted files / fail on deleted files
    val t = MedallionTable(spark, tmpDir("stats_inval"))
    t.overwrite((0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "s"))
    t.refreshStats()
    t.append((100 until 200).map(i => (i.toLong, s"v$i")).toDF("id", "s"))
    assert(t.readRange("id", 0, 199).count() == 200,
      "appended rows must be visible through readRange")

    val tp = MedallionTable(spark, tmpDir("stats_inval_p"), partitionColumns = Seq("pt"))
    tp.overwrite((0 until 100).map(i => (i.toLong, i % 2)).toDF("id", "pt"))
    tp.refreshStats()
    tp.mergePruned(Seq((500L, 0)).toDF("id", "pt"), Seq("id", "pt"))
    // pt=0 rewritten to just {500}; pt=1 untouched (50 rows)
    assert(tp.readRange("id", 0, 1000).count() == 51,
      "readRange must not fail on or miss post-merge files")
  }

  test("manifest swap aborts while ANY writer lock stands (stamp alone " +
      "cannot see a claim-first writer already in flight at build time)") {
    import spark.implicits._
    val p = tmpDir("stats_lockfence")
    val t = MedallionTable(spark, p)
    t.overwrite((0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "s"))
    // a writer that claimed BEFORE the refresh's stamp read and is still
    // mid-data-write: its lock predates and outlives the whole refresh,
    // so the stamp re-check alone would pass and commit a manifest that
    // misses the writer's files — the standing lock must abort the swap
    val lock = new java.io.File(s"${p}__graft_commits/write.lock")
    lock.getParentFile.mkdirs()
    assert(lock.createNewFile())
    try {
      t.refreshStats()
      assert(!TableStats.hasManifest(spark, p),
        "refresh committed a manifest while a writer lock stood")
    } finally lock.delete()
    // lock gone (writer finished): the next refresh lands normally
    t.refreshStats()
    assert(TableStats.hasManifest(spark, p))
    assert(t.readRange("id", 0, 99).count() == 100)

    // scoped locks abort the swap the same way
    val scoped = new java.io.File(s"${p}__graft_commits/write_abc123.lock")
    val out = new java.io.FileOutputStream(scoped)
    out.write("0\top\np:x=1".getBytes("UTF-8")); out.close()
    try {
      t.refreshStats() // invalidate? no — refresh swaps; must abort
      // the previous manifest was deleted by the new refresh's swap? No:
      // the swap aborts BEFORE touching the live manifest, so the old
      // one (still accurate — nothing wrote) survives
      assert(TableStats.hasManifest(spark, p),
        "aborted swap must leave the existing manifest untouched")
    } finally scoped.delete()
  }

  test("incremental manifest self-compacts past the part-file threshold " +
      "and range reads stay exact across many appends") {
    import spark.implicits._
    val p = tmpDir("stats_selfcompact")
    val t = MedallionTable(spark, p)
    t.overwrite((0 until 500).map(i => (i.toLong, s"v$i")).toDF("id", "s"))
    t.refreshStats()
    // 40 appends: mode-append adds one manifest part per commit, so
    // without self-compaction the dir would hold 41 parts (and every
    // covered-column inference would grow with commit count)
    (0 until 40).foreach(i =>
      t.append(Seq((1000L + i, s"a$i")).toDF("id", "s")))
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statsDir = new org.apache.hadoop.fs.Path(p, "_graft_meta/stats")
    assert(TableStats.hasManifest(spark, p),
      "sequential appends must keep the incremental manifest armed")
    val parts = fs.listStatus(statsDir)
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(parts <= 33, s"manifest never self-compacted: $parts parts")
    assert(fs.exists(new org.apache.hadoop.fs.Path(statsDir, "_covered.txt")),
      "covered-columns sidecar must survive compaction and renames")
    // manifest content stayed complete: every append's row is found and
    // the pruned read equals the full filter
    assert(t.readRange("id", 1000L, 1039L).count() == 40)
    assert(t.readRange("id", 0L, 499L).count() == 500)
    // per-file stats rows cover exactly the live files (no dupes, no
    // losses through the 40 park/append/rename cycles + compaction)
    val manifestFiles = spark.read.parquet(statsDir.toString)
      .select("file").distinct().count()
    assert(manifestFiles == t.read.inputFiles.length,
      s"manifest rows ($manifestFiles) != live files " +
        s"(${t.read.inputFiles.length})")
  }

  test("manifest dir is invisible to normal reads and exists()") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("stats_vis"))
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    t.refreshStats()
    assert(t.read.columns.toSeq == Seq("id", "s"))
    assert(t.read.count() == 1)
    assert(t.exists)
  }

  // ---- footer-derived incremental stats (the commit-floor fast path) ----

  /** Manifest rows as comparable tuples, file column replaced by a
    * content key (min id string) so the two tables' differently-named
    * files line up.
    */
  private def manifestRows(p: String): Set[Map[String, Any]] = {
    val df = spark.read.parquet(s"$p/_graft_meta/stats")
    val cols = df.columns.sorted.toSeq
    df.collect().map { r =>
      cols.filter(_ != "file").map(c => c -> r.get(r.fieldIndex(c))).toMap
    }.toSet
  }

  test("footer-derived incremental stats ≡ the Spark-job path on " +
      "adversarial data (unicode, nulls, absent columns, negatives, dates)") {
    import spark.implicits._
    import java.sql.Date
    // two identical tables, one with the footer path disabled — byte-for
    // byte equal manifests proves the driver-side footer math reproduces
    // the job's min/max/null/row-count semantics exactly
    def drive(p: String, footer: Boolean): Unit = {
      spark.conf.set("spark.graft.footerStats", footer.toString)
      try {
        val t = MedallionTable(spark, p)
        t.overwrite(Seq(
          (1L, "banana", Date.valueOf("2024-03-01")),
          (-5L, "apple", Date.valueOf("2023-01-15"))).toDF("id", "s", "d")
          .coalesce(1))
        t.refreshStats()
        // unicode ordering: U+FFFD vs a supplementary char — UTF-8 byte
        // order (parquet, UTF8String) differs from Java UTF-16 order here
        t.append(Seq((100L, "z�", Date.valueOf("2025-06-30")),
          (7L, "z😀", Date.valueOf("2020-02-29")))
          .toDF("id", "s", "d").coalesce(1))
        // all-null string column + empty string in a later batch
        t.append(Seq((200L, null: String, Date.valueOf("2024-01-01")),
          (201L, null: String, Date.valueOf("2024-01-02")))
          .toDF("id", "s", "d").coalesce(1))
        t.append(Seq((300L, "", Date.valueOf("2024-05-05")))
          .toDF("id", "s", "d").coalesce(1))
        // a batch missing a covered column entirely (absent in footer)
        t.append(Seq((400L, Date.valueOf("2024-07-07"))).toDF("id", "d")
          .coalesce(1))
      } finally spark.conf.unset("spark.graft.footerStats")
    }
    val p1 = tmpDir("fstats_on"); val p2 = tmpDir("fstats_off")
    drive(p1, footer = true)
    drive(p2, footer = false)
    assert(manifestRows(p1) == manifestRows(p2),
      s"footer-path manifest diverges from the job path:\n" +
        s"footer=${manifestRows(p1)}\njob=${manifestRows(p2)}")
    // and the consumers agree with the data on the footer-path table
    val t1 = MedallionTable(spark, p1)
    assert(t1.readRange("id", 100L, 250L).count() ==
      t1.read.filter($"id".between(100L, 250L)).count())
    assert(TableStats.aggregateFromManifest(spark, p1,
      Seq(TableStats.RowCount, TableStats.ColMin("s"), TableStats.ColMax("s")),
      t1.read.schema).head() ==
      t1.read.selectExpr("COUNT(*)", "MIN(s)", "MAX(s)").head())
  }

  test("timestamp columns engage the footer path under INT64-micros " +
      "output and both manifest paths render identically (round 20)") {
    import spark.implicits._
    import java.sql.Timestamp
    def drive(p: String, footer: Boolean): Unit = {
      spark.conf.set("spark.graft.footerStats", footer.toString)
      try {
        val t = MedallionTable(spark, p)
        t.overwrite(Seq(
          (1L, Timestamp.valueOf("2024-03-01 10:20:30.123456")),
          (2L, Timestamp.valueOf("1969-12-31 23:59:59"))).toDF("id", "ts")
          .coalesce(1))
        t.refreshStats()
        t.append(Seq((3L, Timestamp.valueOf("2030-06-30 00:00:00")),
          (4L, null: Timestamp)).toDF("id", "ts").coalesce(1))
        t.append(Seq((5L, null: Timestamp), (6L, null: Timestamp))
          .toDF("id", "ts").coalesce(1)) // all-null timestamp batch
      } finally spark.conf.unset("spark.graft.footerStats")
    }
    val p1 = tmpDir("fstats_ts_on"); val p2 = tmpDir("fstats_ts_off")
    drive(p1, footer = true)
    drive(p2, footer = false)
    assert(manifestRows(p1) == manifestRows(p2),
      s"timestamp footer manifest diverges from the job path:\n" +
        s"footer=${manifestRows(p1)}\njob=${manifestRows(p2)}")
    val t1 = MedallionTable(spark, p1)
    val files = t1.read.inputFiles.filter(_.contains("part-")).toSeq
    assert(TableStats.footerStatsRows(spark, p1, files.take(1),
      Some(t1.read.schema), Seq("id", "ts")).nonEmpty,
      "a timestamp-covered INT64-micros batch must take the footer path")
    assert(TableStats.aggregateFromManifest(spark, p1,
      Seq(TableStats.RowCount, TableStats.ColMin("ts"), TableStats.ColMax("ts")),
      t1.read.schema).head() ==
      t1.read.selectExpr("COUNT(*)", "MIN(ts)", "MAX(ts)").head())
  }

  test("timestamp footer stats accept a short session zone id (PST), " +
      "as spark.sql.session.timeZone does") {
    import spark.implicits._
    import java.sql.Timestamp
    val zoneKey = "spark.sql.session.timeZone"
    val zone0 = spark.conf.get(zoneKey)
    spark.conf.set(zoneKey, "PST")
    try {
      def drive(p: String, footer: Boolean): Unit = {
        spark.conf.set("spark.graft.footerStats", footer.toString)
        try {
          val t = MedallionTable(spark, p)
          t.overwrite(Seq((1L, Timestamp.valueOf("2024-03-01 10:20:30.5")))
            .toDF("id", "ts").coalesce(1))
          t.refreshStats()
          t.append(Seq((2L, Timestamp.valueOf("2030-06-30 00:00:00")))
            .toDF("id", "ts").coalesce(1))
        } finally spark.conf.unset("spark.graft.footerStats")
      }
      val p1 = tmpDir("fstats_pst_on"); val p2 = tmpDir("fstats_pst_off")
      drive(p1, footer = true)
      drive(p2, footer = false)
      assert(TableStats.hasManifest(spark, p1))
      assert(manifestRows(p1) == manifestRows(p2),
        s"footer manifest diverges from the job path under PST:\n" +
          s"footer=${manifestRows(p1)}\njob=${manifestRows(p2)}")
      val t1 = MedallionTable(spark, p1)
      val files = t1.read.inputFiles.filter(_.contains("part-")).toSeq
      assert(TableStats.footerStatsRows(spark, p1, files.take(1),
        Some(t1.read.schema), Seq("id", "ts")).nonEmpty,
        "under PST the timestamp batch fell back to the job path")
    } finally spark.conf.set(zoneKey, zone0)
  }

  test("footer stats engage on clean types, fall back whole-batch on " +
      "doubles and on hive partition columns they can reconstruct") {
    import spark.implicits._
    // clean long/string table: the fast path must actually ENGAGE
    val p = tmpDir("fstats_engage")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    t.refreshStats()
    t.append(Seq((2L, "b")).toDF("id", "s").coalesce(1))
    val files = t.read.inputFiles.filter(_.contains("part-")).toSeq
    val schema = t.read.schema
    assert(TableStats.footerStatsRows(spark, p, files.take(1), Some(schema),
      Seq("id", "s")).nonEmpty,
      "clean long/string batch must take the footer path")
    // a covered DOUBLE column forces the job path (NaN under-reporting)
    assert(TableStats.footerStatsRows(spark, p, files.take(1), Some(schema
        .add("v", org.apache.spark.sql.types.DoubleType)),
      Seq("id", "v")).isEmpty,
      "a covered double column must fall back to the job path")
    // hive-partitioned: partition values come off the path, min = max
    val pp = tmpDir("fstats_part")
    val tp = MedallionTable(spark, pp, Seq("grp"))
    tp.overwrite(Seq((1L, "x", "g a"), (2L, "y", "g b")).toDF("id", "s", "grp"))
    tp.refreshStats()
    tp.append(Seq((3L, "z", "g a")).toDF("id", "s", "grp"))
    assert(TableStats.coveredColumns(spark, pp).contains("grp"))
    assert(TableStats.aggregateFromManifest(spark, pp,
      Seq(TableStats.ColMin("grp"), TableStats.ColMax("grp")),
      tp.read.schema).head() ==
      tp.read.selectExpr("MIN(grp)", "MAX(grp)").head(),
      "partition-column bounds must survive the footer path (escaping too)")
  }

  test("footer stats resolve covered columns with the session resolver: " +
      "a case-variant manifest spelling still engages the floor cut") {
    import spark.implicits._
    val p = tmpDir("fstats_case")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    t.refreshStats()
    t.append(Seq((2L, "b")).toDF("id", "s").coalesce(1))
    val files = t.read.inputFiles.filter(_.contains("part-")).toSeq
    val schema = t.read.schema
    // default caseSensitive=false: covered columns recorded in a
    // different case than the schema spelling must still take the
    // footer path (the job-path fallback was correct but defeated the
    // commit-floor cut) …
    val r = TableStats.footerStatsRows(spark, p, files.take(1),
      Some(schema), Seq("ID", "S"))
    assert(r.nonEmpty, "case-variant covered columns must engage the footer path")
    // … and carry REAL bounds (resolved present, not nulled-out missing)
    val (sch, rows) = r.get
    assert(rows.head.get(sch.fieldIndex("min_str__ID")) != null,
      "case-variant column must resolve as present with real bounds")
    assert(rows.head.get(sch.fieldIndex("min_str__S")) != null)
    // case-SENSITIVE mode: "ID" is genuinely a different (absent) column
    spark.conf.set("spark.sql.caseSensitive", "true")
    try {
      val rs = TableStats.footerStatsRows(spark, p, files.take(1),
        Some(schema), Seq("ID"))
      assert(rs.nonEmpty &&
        rs.get._2.head.get(rs.get._1.fieldIndex("min_str__ID")) == null,
        "under caseSensitive=true ID must read as a missing column")
    } finally spark.conf.unset("spark.sql.caseSensitive")
  }

  test("a configured parquet.statistics.truncate.length stands the " +
      "footer path down for string-covered batches (bounds would not be " +
      "values present in the data)") {
    import spark.implicits._
    val p = tmpDir("fstats_trunc")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "abcdefghij")).toDF("id", "s"))
    t.refreshStats()
    t.append(Seq((2L, "klmnopqrst")).toDF("id", "s").coalesce(1))
    val files = t.read.inputFiles.filter(_.contains("part-")).toSeq
    val schema = t.read.schema
    spark.conf.set("parquet.statistics.truncate.length", "4")
    try {
      assert(TableStats.footerStatsRows(spark, p, files.take(1),
        Some(schema), Seq("id", "s")).isEmpty,
        "string-covered batch must fall back when truncation is configured")
      // numerics are untruncatable: integer-only coverage stays on the floor
      assert(TableStats.footerStatsRows(spark, p, files.take(1),
        Some(schema), Seq("id")).nonEmpty,
        "numeric-only coverage must still engage under truncation conf")
    } finally spark.conf.unset("parquet.statistics.truncate.length")
  }
}
