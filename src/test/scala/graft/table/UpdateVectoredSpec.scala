package graft.table

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** DV-backed UPDATE ([[DvUpdates]]): O(matched) updates that touch zero
  * base data files, semantics identical to the rewriting update(), one
  * atomic commit rename (crash window driven with the failpoint), and
  * composition with every read surface — catalog scans, stats manifest,
  * partition-scoped maintenance, time travel, clones, further DV ops.
  */
class UpdateVectoredSpec extends SparkSpec {
  import spark.implicits._

  private def mk(retain: Int = 0,
      parts: Seq[String] = Nil): (MedallionTable, String) = {
    val p = tmpDir("udv")
    val t = MedallionTable(spark, p, retainVersions = retain,
      partitionColumns = parts)
    t.overwrite((0L until 100L).map(i => (i, s"s$i", i % 4))
      .toDF("id", "s", "grp").repartition(4, col("id")))
    (t, p)
  }

  private def dataFiles(p: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(p))
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getPath.contains("_graft_meta"))
      .map(f => f.getPath -> f.lastModified()).toMap
  }

  test("updateVectored matches update() semantics, rewrites nothing") {
    val (t, p) = mk()
    val before = dataFiles(p)
    // simultaneous assignment: s reads the OLD id, id reads the OLD id
    t.updateVectored($"id" % 10 === 3,
      Map("id" -> ($"id" + 1000L), "s" -> concat(lit("u"), $"id".cast("string"))))
    assert(dataFiles(p) == before, "base files untouched (same files, mtimes)")
    val got = t.read.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = (0L until 100L).map { i =>
      if (i % 10 == 3) (i + 1000L, s"u$i") else (i, s"s$i")
    }.sortBy(_._1)
    assert(got == want)
    assert(t.read.count() == 100L, "row count preserved")
    // NULL-predicate rows untouched (SQL UPDATE semantics)
    t.updateVectored(when($"id" < 10, $"id" % 2 === 0), Map("s" -> lit("even")))
    assert(t.read.filter($"s" === "even").count() ==
      (0L until 10L).count(i => i % 10 != 3 && i % 2 == 0))
    // unknown SET column refused loudly
    intercept[IllegalArgumentException] {
      t.updateVectored($"id" === 0L, Map("nope" -> lit(1)))
    }
  }

  test("chains: update over updated rows, then vectored delete") {
    val (t, _) = mk()
    t.updateVectored($"id" === 7L, Map("s" -> lit("v2")))
    t.updateVectored($"s" === "v2", Map("s" -> lit("v3")))
    assert(t.read.filter($"id" === 7L).select("s").head().getString(0) == "v3")
    assert(t.read.count() == 100L)
    t.deleteVectored($"s" === "v3")
    assert(t.read.count() == 99L)
    assert(t.read.filter($"id" === 7L).count() == 0L)
  }

  test("partitioned: rows move partitions; fast DELETE drops amendments") {
    val (t, _) = mk(parts = Seq("grp"))
    // move id 5 (grp 1) into grp 99 and rewrite its payload
    t.updateVectored($"id" === 5L, Map("grp" -> lit(99L), "s" -> lit("moved")))
    assert(t.read.filter($"grp" === 99L).select("id").as[Long].collect()
      .toSeq == Seq(5L))
    assert(t.read.count() == 100L)
    // partition-pruned logical read sees the moved row only in grp 99
    assert(t.read.filter($"grp" === 1L && $"id" === 5L).count() == 0L)
    // amend a row in grp 2, then fast-DELETE grp 2: the amendment must
    // not resurrect the partition
    t.updateVectored($"id" === 6L, Map("s" -> lit("amended")))
    t.delete($"grp" === 2L)
    assert(t.read.filter($"grp" === 2L).count() == 0L)
    assert(t.read.filter($"s" === "amended").count() == 0L)
    assert(t.read.count() == 75L)
  }

  test("crash window: no partial state before the commit rename; vacuum heals") {
    val (t, p) = mk()
    val before = t.read.orderBy("id").collect().toSeq
    MedallionTable.testFailpoint = {
      case "pre-update-dv-commit" =>
        MedallionTable.testFailpoint = _ => ()
        throw new RuntimeException("crash before the atomic commit")
      case _ => ()
    }
    try intercept[RuntimeException] {
      t.updateVectored($"id" < 50, Map("s" -> lit("lost")))
    } finally MedallionTable.testFailpoint = _ => ()
    // staged batch + staged marks are invisible: reads are the OLD state
    assert(t.read.orderBy("id").collect().toSeq == before)
    assert(DvUpdates.committedBatches(spark, p).isEmpty)
    // the litter is enumerated and cleared by vacuum
    assert(t.vacuumDryRun().nonEmpty)
    t.vacuum()
    assert(DvUpdates.orphans(spark, p).isEmpty)
    // retry applies cleanly
    t.updateVectored($"id" < 50, Map("s" -> lit("won")))
    assert(t.read.filter($"s" === "won").count() == 50L)
  }

  test("a janitor vacuum inside the commit window leaves a live " +
      "update's staging alone") {
    val (t, p) = mk()
    // a DEFAULT-config vacuum fired while the update holds its claim,
    // between staging its batch and renaming its marks: the staged batch
    // and marks are orphan-shaped, but the writer is live
    MedallionTable.testFailpoint = {
      case "pre-update-dv-commit" =>
        MedallionTable.testFailpoint = _ => ()
        MedallionTable(spark, p).vacuum()
      case _ => ()
    }
    try t.updateVectored($"id" < 10, Map("s" -> lit("janitored")))
    finally MedallionTable.testFailpoint = _ => ()
    assert(t.read.count() == 100L)
    assert(t.read.filter($"s" === "janitored").select("id").as[Long]
      .collect().sorted.toSeq == (0L until 10L))
    assert(DvUpdates.committedBatches(spark, p).size == 1)
  }

  test("OPTIMIZE materializes amendments and drops the extension") {
    val (t, p) = mk()
    t.updateVectored($"id" >= 90, Map("s" -> lit("hot")))
    t.compact(nFiles = 2)
    assert(DvUpdates.committedBatches(spark, p).isEmpty)
    assert(!DeletionVectors.exists(spark, DeletionVectors.dir(p)))
    assert(t.read.filter($"s" === "hot").count() == 10L)
    assert(t.read.count() == 100L)
  }

  test("OPTIMIZE…WHERE compacts base only; amendments stay live") {
    val (t, p) = mk(parts = Seq("grp"))
    t.updateVectored($"id" === 8L, Map("s" -> lit("amended")))
    val expected = t.read.orderBy("id").collect().toSeq
    t.compactWhere($"grp" === 0L)
    assert(t.read.orderBy("id").collect().toSeq == expected,
      "result-identical after scoped compaction")
    assert(DvUpdates.committedBatches(spark, p).nonEmpty,
      "the batch is untouched — full OPTIMIZE is the materialization path")
    // mergePruned refuses when a touched partition carries amendments
    val src = Seq((8L, "merged", 0L)).toDF("id", "s", "grp")
    intercept[IllegalArgumentException] { t.mergePruned(src, Seq("grp", "id")) }
    // untouched partitions merge fine
    t.mergePruned(Seq((203L, "new", 3L)).toDF("id", "s", "grp"),
      Seq("grp", "id"), deleteNotMatchedBySource = false)
    assert(t.read.filter($"id" === 203L).count() == 1L)
    assert(t.read.filter($"id" === 8L).select("s").head().getString(0) ==
      "amended")
  }

  test("SQL UPDATE routes through the DV path under spark.graft.dvWrites") {
    val (t, p) = mk()
    spark.sql("DROP TABLE IF EXISTS udv_sql")
    spark.sql(s"CREATE TABLE udv_sql USING graft LOCATION '$p'")
    val before = dataFiles(p)
    spark.conf.set("spark.graft.dvWrites", "true")
    try spark.sql("UPDATE udv_sql SET s = 'sql_updated' WHERE id < 7")
    finally spark.conf.unset("spark.graft.dvWrites")
    assert(dataFiles(p) == before, "DV-routed SQL UPDATE rewrites nothing")
    assert(spark.sql("SELECT COUNT(*) c FROM udv_sql WHERE s = 'sql_updated'")
      .head().getLong(0) == 7L)
    assert(t.read.count() == 100L)
    // without the conf, the same statement takes the rewrite path
    spark.sql("UPDATE udv_sql SET s = 'rewritten' WHERE id = 50")
    assert(dataFiles(p) != before, "default SQL UPDATE still rewrites")
    assert(DvUpdates.committedBatches(spark, p).isEmpty,
      "the rewrite materialized the earlier DV amendments")
    assert(spark.sql("SELECT s FROM udv_sql WHERE id = 0").head()
      .getString(0) == "sql_updated")
  }

  test("CDC across a vectored update reports the changed rows") {
    val (t, _) = mk(retain = 2)
    t.compact(nFiles = 2) // archive the pre-update state as a snapshot
    val v = t.listVersions().max
    t.updateVectored($"id" === 3L, Map("s" -> lit("after")))
    val changes = t.changesSince(v, Seq("id")).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("_change_type"))).toSet
    assert(changes.exists(c => c._1 == 3L),
      s"update to id=3 must appear in the CDC diff: $changes")
    assert(!changes.exists(_._1 == 4L), "untouched rows must not appear")
  }

  test("catalog scans, metadata counts, clones and time travel see amendments") {
    val (t, p) = mk(retain = 2)
    t.updateVectored($"id" === 42L, Map("s" -> lit("answer")))
    // catalog (graft SQL source) read — pruning falls back to the
    // logical scan while batches are live
    spark.sql("DROP TABLE IF EXISTS udv_cat")
    spark.sql(s"CREATE TABLE udv_cat USING graft LOCATION '$p'")
    assert(spark.sql("SELECT s FROM udv_cat WHERE id = 42").head()
      .getString(0) == "answer")
    assert(spark.sql("SELECT COUNT(*) c FROM udv_cat").head()
      .getLong(0) == 100L)
    // stats manifest over the amended view: metadata COUNT matches
    t.refreshStats()
    val m = TableStats.aggregateFromManifest(spark, p,
      Seq(TableStats.RowCount), t.read.schema)
    assert(m.head().getLong(0) == 100L)
    // clone of an amended table reproduces the amended view zero-copy
    val c = MedallionTable(spark, tmpDir("udv_clone"))
    c.cloneFrom(t)
    assert(c.read.filter($"id" === 42L).select("s").head().getString(0) ==
      "answer")
    assert(c.read.count() == 100L)
    // archive via rewrite: the snapshot keeps the amended state
    t.overwrite(Seq((1L, "z", 0L)).toDF("id", "s", "grp"))
    val v = t.listVersions().max
    assert(t.readVersion(v).filter($"id" === 42L).select("s").head()
      .getString(0) == "answer")
    assert(t.readVersion(v).count() == 100L)
  }

  test("clone + two vectored updates: no duplicate amended rows") {
    // Regression: a clone's base scan (ShallowClone.scanFiles) already
    // folds the clone's OWN committed batch files in — dvLiveWithPos
    // unioning committedScans on top read every amended row TWICE, so
    // the second update wrote duplicate new versions (visible forever).
    val (t, _) = mk()
    val c = MedallionTable(spark, tmpDir("udv_clone2"))
    c.cloneFrom(t)
    c.updateVectored($"id" === 7L, Map("s" -> lit("v2")))
    assert(c.read.count() == 100L, "one update: no duplicates")
    assert(c.read.filter($"id" === 7L).count() == 1L)
    c.updateVectored($"id" === 7L, Map("s" -> concat($"s", lit("!"))))
    assert(c.read.count() == 100L, "second update: no duplicates")
    val row7 = c.read.filter($"id" === 7L).collect()
    assert(row7.length == 1, s"exactly one visible version: ${row7.toSeq}")
    assert(row7.head.getString(1) == "v2!", "updates chain on the clone")
    // merge-dv over the clone's amended view: still one row per key
    c.mergeVectored(
      Seq((7L, "m3", 9L)).toDF("id", "s", "grp"),
      Seq("id" -> "id"),
      Seq(MergeOps.WhenMatchedUpdate(None,
        Map("s" -> ((_, s) => s("s"))))),
      Nil)
    assert(c.read.count() == 100L)
    assert(c.read.filter($"id" === 7L).select("s").collect()
      .map(_.getString(0)).toSeq == Seq("m3"))
    // and a vectored delete over the twice-amended clone removes ONE row
    c.deleteVectored($"id" === 7L)
    assert(c.read.count() == 99L)
    assert(t.read.count() == 100L, "source untouched throughout")
    // stats twin of the same bug: the manifest must count batch rows once
    c.refreshStats()
    val cnt = TableStats.aggregateFromManifest(spark, c.path,
      Seq(TableStats.RowCount), c.read.schema).head().getLong(0)
    assert(cnt == 99L, s"clone manifest row_count must not double-fold: $cnt")
  }

  test("update and updateVectored keep a column's type and store what " +
      "a MERGE assignment stores") {
    import MergeOps._
    def rows(t: MedallionTable) =
      t.read.orderBy("id").collect().map(_.toSeq).toSeq
    val start = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
    val m = MedallionTable(spark, tmpDir("udv_type_m"))
    m.overwrite(start)
    m.mergeClauses(Seq(1L).toDF("k"), Seq("id" -> "k"),
      Seq(WhenMatchedUpdate(None, Map("v" -> ((_, _) => lit(1.5))))), Nil, Nil)
    assert(m.read.schema("v").dataType == org.apache.spark.sql.types.LongType)
    Seq[(String, MedallionTable => Unit)](
      "update" -> (_.update($"id" === 1L, Map("v" -> lit(1.5)))),
      "updateVectored" -> (_.updateVectored($"id" === 1L, Map("V" -> lit(1.5))))
    ).foreach { case (name, run) =>
      val t = MedallionTable(spark, tmpDir("udv_type"))
      t.overwrite(start)
      run(t)
      assert(t.read.schema("v").dataType == org.apache.spark.sql.types.LongType,
        s"$name changed the column type: ${t.read.schema}")
      assert(rows(t) == rows(m), name)
    }
  }

  test("zero-match update leaves no committed batch behind") {
    // Regression: an empty frame's write can still leave a zero-row part
    // file; file-presence detection then committed a permanent dead
    // read-union branch per no-match update. Detection is row-based now.
    val (t, p) = mk()
    t.updateVectored($"id" === 424242L, Map("s" -> lit("never")))
    assert(DvUpdates.committedBatches(spark, p).isEmpty,
      "no-match update must not commit a batch")
    assert(new java.io.File(s"$p/_graft_meta/dv_updates").listFiles() == null ||
      new java.io.File(s"$p/_graft_meta/dv_updates").listFiles().isEmpty,
      "no staged litter either")
    assert(t.read.count() == 100L)
    // and the table still takes a real update afterwards
    t.updateVectored($"id" === 1L, Map("s" -> lit("one")))
    assert(DvUpdates.committedBatches(spark, p).size == 1)
    assert(t.read.filter($"s" === "one").count() == 1L)
  }
}
