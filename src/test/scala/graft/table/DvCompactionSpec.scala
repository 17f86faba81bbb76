package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** DV sidecar compaction ([[MedallionTable.compactDv]]): N marks-only
  * directories (one per DV delete) become one deduplicated directory with
  * read results identical, committed UPDATE/MERGE witnesses untouched,
  * the crash windows harmless by mark idempotence, and the autoCompact
  * janitor triggering on sidecar creep.
  */
class DvCompactionSpec extends SparkSpec {
  import spark.implicits._

  private def seed(): (MedallionTable, String) = {
    val p = tmpDir("dvc")
    val t = MedallionTable(spark, p)
    t.overwrite((0L until 200L).map(i => (i, s"s$i"))
      .toDF("id", "s").repartition(4, col("id")))
    (t, p)
  }

  test("compactDv: N marks-only dirs -> 1, deduped, reads identical") {
    val (t, p) = seed()
    // 5 deletes, two of them overlapping (ids 0..9 matched twice)
    Seq($"id" < 10, $"id" >= 10 && $"id" < 20, $"id" % 37 === 0,
        $"id" < 10, $"id" === 150L)
      .foreach(t.deleteVectored)
    val before = t.read.orderBy("id").collect().toSeq
    // one directory per delete that marked a row: the repeated `id < 10`
    // matches nothing on the DV-applied view and commits none
    val n0 = DvUpdates.marksOnly(spark, p).size
    assert(n0 == 4)
    val removed = t.compactDv()
    assert(removed == n0)
    val dirs = DvUpdates.marksOnly(spark, p)
    assert(dirs.size == 1)
    assert(t.read.orderBy("id").collect().toSeq == before)
    // deduped: the combined directory holds each (file, pos) once
    val combined = spark.read.parquet(DvUpdates.marksDir(p, dirs.head).toString)
    assert(combined.count() == combined.distinct().count())
    // idempotent: a second pass is a no-op
    assert(t.compactDv() == 0)
  }

  test("update-batch witnesses untouched; amended reads survive") {
    val (t, p) = seed()
    t.updateVectored($"id" === 7L, Map("s" -> lit("v2")))
    t.deleteVectored($"id" === 1L)
    t.deleteVectored($"id" === 2L)
    val before = t.read.orderBy("id").collect().toSeq
    val batches = DvUpdates.committedBatches(spark, p)
    assert(batches.nonEmpty)
    t.compactDv()
    assert(DvUpdates.committedBatches(spark, p) == batches,
      "compaction must not touch the update_<batch> visibility witnesses")
    assert(t.read.orderBy("id").collect().toSeq == before)
    assert(t.read.filter($"id" === 7L).select("s").head().getString(0) == "v2")
  }

  test("crash after the combined file lands: harmless superset; recompact heals") {
    val (t, p) = seed()
    t.deleteVectored($"id" < 5)
    t.deleteVectored($"id" >= 195L)
    val n0 = DvUpdates.marksOnly(spark, p).size
    assert(n0 == 2)
    val before = t.read.orderBy("id").collect().toSeq
    // crash BEFORE the rename: nothing lands; the staged marks are
    // litter vacuum enumerates and clears
    MedallionTable.testFailpoint = {
      case "pre-dv-compact-commit" =>
        MedallionTable.testFailpoint = _ => ()
        throw new RuntimeException("crash before the commit rename")
      case _ => ()
    }
    try intercept[RuntimeException] { t.compactDv() }
    finally MedallionTable.testFailpoint = _ => ()
    assert(DvUpdates.marksOnly(spark, p).size == n0)
    assert(t.read.orderBy("id").collect().toSeq == before)
    assert(t.vacuumDryRun().exists(_._1.contains("dv_updates_staging")))
    t.vacuum()
    assert(DvUpdates.orphans(spark, p).isEmpty)
    MedallionTable.testFailpoint = {
      case "mid-dv-compact" =>
        MedallionTable.testFailpoint = _ => ()
        throw new RuntimeException("crash between rename and old-file deletes")
      case _ => ()
    }
    try intercept[RuntimeException] { t.compactDv() }
    finally MedallionTable.testFailpoint = _ => ()
    // combined dir + the old dirs all live: duplicates, semantics
    // unchanged, and the committed rename left no staging behind
    assert(DvUpdates.marksOnly(spark, p).size == n0 + 1)
    assert(t.read.orderBy("id").collect().toSeq == before)
    assert(t.vacuumDryRun().isEmpty)
    // a re-run compacts the superset back to one directory
    assert(t.compactDv() == n0 + 1)
    assert(DvUpdates.marksOnly(spark, p).size == 1)
    assert(t.read.orderBy("id").collect().toSeq == before)
  }

  test("compactDvBatches: N amendment batches -> 1, reads identical") {
    val (t, p) = seed()
    t.updateVectored($"id" === 1L, Map("s" -> lit("u1")))
    t.updateVectored($"id" === 2L, Map("s" -> lit("u2")))
    // chained: amend the amended row — the chain must survive compaction
    t.updateVectored($"s" === "u1", Map("s" -> lit("u1b")))
    import graft.table.MergeOps._
    t.mergeVectored(Seq((3L, "m3"), (500L, "ins")).toDF("i", "snew"),
      Seq("id" -> "i"),
      Seq(WhenMatchedUpdate(None, Map("s" -> ((_, s) => s("snew"))))),
      Seq(WhenNotMatchedInsert(None, Map(
        "id" -> ((_, s) => s("i")), "s" -> ((_, s) => s("snew"))))))
    val before = t.read.orderBy("id").collect().toSeq
    val n0 = DvUpdates.committedBatches(spark, p).size
    assert(n0 == 4)
    assert(t.compactDvBatches() == 4)
    assert(DvUpdates.committedBatches(spark, p).size == 1)
    assert(t.read.orderBy("id").collect().toSeq == before)
    assert(t.read.filter($"id" === 1L).select("s").head().getString(0) == "u1b")
    assert(t.read.filter($"id" === 500L).count() == 1L)
    // idempotent: one batch left -> no-op
    assert(t.compactDvBatches() == 0)
    // further amendments compose over the compacted batch
    t.updateVectored($"id" === 500L, Map("s" -> lit("ins2")))
    assert(t.read.filter($"id" === 500L).select("s").head().getString(0) ==
      "ins2")
  }

  test("compactDvBatches crash windows: before commit invisible; after commit readable") {
    val (t, p) = seed()
    t.updateVectored($"id" === 1L, Map("s" -> lit("a")))
    t.updateVectored($"id" === 2L, Map("s" -> lit("b")))
    val before = t.read.orderBy("id").collect().toSeq
    // crash BEFORE the rename: nothing committed, vacuum clears litter
    MedallionTable.testFailpoint = {
      case "pre-dv-batch-compact-commit" =>
        MedallionTable.testFailpoint = _ => ()
        throw new RuntimeException("crash pre-commit")
      case _ => ()
    }
    try intercept[RuntimeException] { t.compactDvBatches() }
    finally MedallionTable.testFailpoint = _ => ()
    assert(t.read.orderBy("id").collect().toSeq == before)
    assert(DvUpdates.committedBatches(spark, p).size == 2)
    t.vacuum()
    assert(DvUpdates.orphans(spark, p).isEmpty)
    // crash AFTER the rename, before the old-dir deletes: the old
    // batches' rows are all hidden by the combined marks — reads
    // identical despite the leftover directories; a re-run folds them
    MedallionTable.testFailpoint = {
      case "post-dv-batch-compact-commit" =>
        MedallionTable.testFailpoint = _ => ()
        throw new RuntimeException("crash post-commit")
      case _ => ()
    }
    try intercept[RuntimeException] { t.compactDvBatches() }
    finally MedallionTable.testFailpoint = _ => ()
    assert(t.read.orderBy("id").collect().toSeq == before,
      "post-commit crash: combined visible, old rows hidden — no dups")
    assert(t.compactDvBatches() == 3, "re-run folds the leftovers")
    assert(DvUpdates.committedBatches(spark, p).size == 1)
    assert(t.read.orderBy("id").collect().toSeq == before)
  }

  test("autoCompact janitors the sidecar past the threshold") {
    val (t, p) = seed()
    (0 until 10).foreach(i => t.deleteVectored($"id" === i.toLong))
    assert(DvUpdates.marksOnly(spark, p).size == 10)
    assert(t.autoCompact(maxFiles = 8) >= 1)
    assert(DvUpdates.marksOnly(spark, p).size == 1)
    assert(t.read.count() == 190L)
    // everything now under both thresholds: the janitor is a no-op
    assert(t.autoCompact(maxFiles = 8) == 0)
  }
}
