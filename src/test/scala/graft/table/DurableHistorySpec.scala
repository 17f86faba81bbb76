package graft.table

import graft.SparkSpec

/** Durable commit journal: markers pruned past
  * [[MedallionTable.HistoryDepth]] are renamed into the journal (then
  * compacted into one tsv), so `DESCRIBE HISTORY` and `TIMESTAMP AS OF`
  * resolve over the table's whole life, not the last 8 commits — the
  * table-side twin of the change feed's capture-manifest durability.
  */
class DurableHistorySpec extends SparkSpec {
  import spark.implicits._

  test("fullHistory returns every commit ever made; history() stays " +
      "bounded at the live window") {
    val t = MedallionTable(spark, tmpDir("dh1"))
    t.overwrite(Seq(0).toDF("x"))
    (1 until 20).foreach(i => t.append(Seq(i).toDF("x")))
    assert(t.history().length == MedallionTable.HistoryDepth)
    val full = t.fullHistory()
    assert(full.map(_._1) == (20L to 1L by -1L),
      s"journal lost ordinals: ${full.map(_._1)}")
    assert(full.last._2 == "create-overwrite")
    assert(full.count(_._2 == "append") == 19)
    // instants stay monotone across the live/journal boundary
    val ts = full.map(_._3)
    assert(ts.zip(ts.tail).forall { case (n, o) => n >= o },
      s"non-monotone across journal boundary: $ts")
  }

  test("journal compaction folds per-ordinal files into one tsv with " +
      "nothing lost; repeated compaction stays idempotent") {
    val prev = MedallionTable.JournalCompactThreshold
    MedallionTable.JournalCompactThreshold = 4
    try {
      val p = tmpDir("dh2")
      val t = MedallionTable(spark, p)
      t.overwrite(Seq(0).toDF("x"))
      (1 until 25).foreach(i => t.append(Seq(i).toDF("x")))
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val journal = new org.apache.hadoop.fs.Path(p + "__graft_commits",
        "journal")
      val loose =
        if (fs.exists(journal)) fs.listStatus(journal).length else 0
      assert(loose <= 4 + 1, s"journal dir not compacted: $loose files")
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        p + "__graft_commits", "journal.tsv")))
      assert(t.fullHistory().map(_._1) == (25L to 1L by -1L))
    } finally MedallionTable.JournalCompactThreshold = prev
  }

  test("DESCRIBE HISTORY and the history TVF render past the live " +
      "window") {
    val p = tmpDir("dh3")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq(0).toDF("x"))
    (1 until 13).foreach(i => t.append(Seq(i).toDF("x")))
    val rows = spark.sql(s"DESCRIBE HISTORY '$p'").collect()
    assert(rows.length == 13)
    assert(rows.map(_.getLong(0)).toSeq == (13L to 1L by -1L))
    val tvf = spark.sql(
      s"SELECT version FROM graft_table_history('$p')").collect()
    assert(tvf.length == 13)
  }

  test("TIMESTAMP AS OF resolves a beyond-depth-8 retained snapshot " +
      "through the journal") {
    val p = tmpDir("dh4")
    // rewrites archive snapshots; retain enough that commit 2's state is
    // still reconstructible after 12 commits push its marker out of the
    // live window and into the journal
    val t = MedallionTable(spark, p, retainVersions = 12)
    t.overwrite(Seq((1L, "v1")).toDF("id", "s"))            // commit 1
    (2 to 12).foreach(i =>                                   // commits 2..12
      t.merge(Seq((1L, s"v$i")).toDF("id", "s"), Seq("id")))
    assert(t.history().map(_._1).min > 2L,
      "commit 2's marker should have been pruned to the journal")
    val at2 = t.fullHistory().find(_._1 == 2L).map(_._3).get
    spark.sql("DROP TABLE IF EXISTS dh4_tt")
    spark.sql(s"CREATE TABLE dh4_tt USING graft LOCATION '$p'")
    try {
      val inst = java.time.Instant.ofEpochMilli(at2)
        .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
      val got = spark.sql(
        s"SELECT s FROM dh4_tt TIMESTAMP AS OF '$inst'").head.getString(0)
      assert(got == "v2", s"resolved wrong snapshot: $got")
    } finally spark.sql("DROP TABLE IF EXISTS dh4_tt")
  }

  test("crashed journal.tsv replace: history complete, then healed") {
    val prev = MedallionTable.JournalCompactThreshold
    MedallionTable.JournalCompactThreshold = 4
    try {
      val p = tmpDir("dh5")
      val t = MedallionTable(spark, p)
      t.overwrite(Seq(0).toDF("x"))
      (1 until 30).foreach(i => t.append(Seq(i).toDF("x")))
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tsv = new org.apache.hadoop.fs.Path(SideFiles.commitsDir(p),
        "journal.tsv")
      assert(fs.exists(tsv), "precondition: compaction produced the tsv")
      // crash the next compaction at the store's failpoint: the old tsv
      // is dropped and the merged rows sit at journal.tsv.new only
      var crashed = false
      MedallionTable.testFailpoint = {
        case "sidecar-replace:journal.tsv" if !crashed =>
          crashed = true
          throw new RuntimeException("boom: journal compaction crash")
        case _ => ()
      }
      try {
        var i = 30
        while (!crashed && i < 40) { t.append(Seq(i).toDF("x")); i += 1 }
      } finally MedallionTable.testFailpoint = _ => ()
      assert(crashed && !fs.exists(tsv),
        "precondition: a compaction crashed between its drop and rename")
      val head = t.commitVersion
      assert(t.fullHistory().map(_._1) == (head to 1L by -1L),
        "history rows compacted into the tsv were lost mid-replace")
      // the next compaction (triggered by more commits) heals the state:
      // merged rows land in the tsv and the staged copy is gone
      (0 until 10).foreach(i => t.append(Seq(100 + i).toDF("x")))
      assert(t.fullHistory().map(_._1) == (head + 10 to 1L by -1L))
      assert(fs.exists(tsv), "compaction did not rebuild the tsv")
      assert(!fs.exists(SideFiles.staged(tsv)))
    } finally MedallionTable.JournalCompactThreshold = prev
  }

  test("the older park-then-swap compaction's crash states heal") {
    val prev = MedallionTable.JournalCompactThreshold
    MedallionTable.JournalCompactThreshold = 4
    try {
      // that compaction wrote the merged rows whole to journal.tsv.new,
      // parked the tsv at journal.tsv.bak, then renamed .new onto the tsv
      Seq(true, false).foreach { staged =>
        val p = tmpDir("dh6")
        val t = MedallionTable(spark, p)
        t.overwrite(Seq(0).toDF("x"))
        (1 until 30).foreach(i => t.append(Seq(i).toDF("x")))
        val full0 = t.fullHistory().map(_._1)
        val fs = new org.apache.hadoop.fs.Path(p)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val commits = SideFiles.commitsDir(p)
        val tsv = new org.apache.hadoop.fs.Path(commits, "journal.tsv")
        val bak = new org.apache.hadoop.fs.Path(commits, "journal.tsv.bak")
        if (staged) {
          // crashed between its park and its swap
          assert(org.apache.hadoop.fs.FileUtil.copy(fs, tsv, fs,
            SideFiles.staged(tsv), false, fs.getConf))
          assert(fs.rename(tsv, bak))
          assert(t.fullHistory().map(_._1) == full0,
            "history lost the rows staged at journal.tsv.new")
        } else assert(fs.rename(tsv, bak)) // the park alone
        (30 until 40).foreach(i => t.append(Seq(i).toDF("x")))
        assert(t.fullHistory().map(_._1) == (40L to 1L by -1L),
          s"history incomplete after the heal (staged = $staged)")
        assert(fs.exists(tsv) && !fs.exists(bak) &&
          !fs.exists(SideFiles.staged(tsv)))
      }
    } finally MedallionTable.JournalCompactThreshold = prev
  }
}
