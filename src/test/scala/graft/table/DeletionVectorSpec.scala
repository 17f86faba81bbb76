package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Deletion vectors: soft deletes that touch zero data files, compose
  * with every read surface (API, catalog + pruning, stats manifest,
  * time travel), and materialize on the next rewrite.
  */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def mk(retain: Int = 0): (MedallionTable, String) = {
    val p = tmpDir("dv")
    val t = MedallionTable(spark, p, retainVersions = retain)
    t.overwrite((0L until 100L).map(i => (i, s"s$i", i % 7))
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

  test("deleteVectored filters like delete but rewrites nothing") {
    val (t, p) = mk()
    val before = dataFiles(p)
    t.deleteVectored($"id" % 3 === 0)
    assert(dataFiles(p) == before) // same files, same mtimes
    assert(t.read.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 100L).filter(_ % 3 != 0))
    // second vector accumulates; NULL-condition rows survive (SQL DELETE)
    t.deleteVectored(when($"id" < 10, $"id" % 2 === 1))
    assert(dataFiles(p) == before)
    assert(t.read.count() ==
      (0L until 100L).count(i => i % 3 != 0 && !(i < 10 && i % 2 == 1)))
  }

  test("oversized sidecar takes the distributed anti-join, same result") {
    val (t, p) = mk()
    t.deleteVectored($"id" % 3 === 0)
    val expected = t.read.select("id").collect().map(_.getLong(0)).sorted.toSeq
    // force the large-vector fallback: collect cap below any real sidecar
    val saved = DeletionVectors.MaxCollectedSidecarBytes
    DeletionVectors.MaxCollectedSidecarBytes = 1L
    try {
      assert(t.read.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
        expected, "distributed path must be result-identical")
      // the fallback plan must not collect: no broadcast of the dv rows —
      // assert the anti-join is NOT a BroadcastHashJoin on the dv side
      val plan = t.read.queryExecution.executedPlan.toString
      assert(plan.contains("LeftAnti"), s"anti-join expected in:\n$plan")
      // a second vectored delete through the fallback still composes
      t.deleteVectored($"id" === 1L)
      assert(!t.read.select("id").as[Long].collect().contains(1L))
    } finally DeletionVectors.MaxCollectedSidecarBytes = saved
  }

  test("a rewrite materializes the vector and drops the sidecar") {
    val (t, p) = mk()
    t.deleteVectored($"id" >= 50)
    t.compact(nFiles = 2)
    assert(!DeletionVectors.exists(spark, DeletionVectors.dir(p)))
    assert(t.read.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 50L))
  }

  test("catalog reads (incl. bloom-pruned subsets) respect the vector") {
    val (t, p) = mk()
    BloomIndex.build(spark, p, "id", expectedItemsPerFile = 1000L)
    t.deleteVectored($"id" === 42L)
    spark.sql("DROP TABLE IF EXISTS dv_cat")
    spark.sql(s"CREATE TABLE dv_cat USING graft LOCATION '$p'")
    assert(spark.sql("SELECT id FROM dv_cat WHERE id IN (41, 42)")
      .collect().map(_.getLong(0)).toSeq == Seq(41L))
    assert(spark.sql("SELECT COUNT(*) c FROM dv_cat").head().getLong(0) == 99L)
  }

  test("stats manifest built over a vector counts only visible rows") {
    val (t, p) = mk()
    t.deleteVectored($"id" < 20)
    t.refreshStats()
    // metadata-only COUNT(*) path must agree with the DV-applied view
    val m = TableStats.aggregateFromManifest(spark, p,
      Seq(TableStats.RowCount), t.read.schema)
    assert(m.head().getLong(0) == 80L)
    // and min bounds reflect the survivors (id >= 20)
    val m2 = TableStats.aggregateFromManifest(spark, p,
      Seq(TableStats.ColMin("id")), t.read.schema)
    assert(m2.head().getLong(0) == 20L)
  }

  test("time travel: an archived snapshot keeps its vector") {
    val (t, p) = mk(retain = 2)
    t.deleteVectored($"id" >= 90)            // state A: 0..89
    t.overwrite(Seq((500L, "x", 0L)).toDF("id", "s", "grp")) // archives A
    val v = t.listVersions().max
    assert(t.readVersion(v).select("id").collect().map(_.getLong(0))
      .sorted.toSeq == (0L until 90L)) // NOT 0..99: the vector traveled
    assert(t.read.collect().map(_.getLong(0)).toSeq == Seq(500L))
  }

  test("CDC across a vectored delete reports the deletions") {
    val (t, _) = mk(retain = 2)
    t.compact(nFiles = 2) // archives the 100-row state as a snapshot
    t.deleteVectored($"id" >= 98)
    val ch = t.changesSince(t.listVersions().max, Seq("id"))
    assert(ch.filter($"_change_type" === "delete").select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(98L, 99L))
    assert(ch.filter($"_change_type" =!= "delete").isEmpty)
  }

  test("a DV delete failing before its commit rename deletes no row " +
      "and releases its marker") {
    val (t, p) = mk()
    val before = t.read.orderBy("id").collect().toSeq
    val v0 = t.commitVersion
    MedallionTable.testFailpoint = {
      case "pre-delete-dv-commit" =>
        MedallionTable.testFailpoint = _ => ()
        throw new RuntimeException("crash before the commit rename")
      case _ => ()
    }
    try intercept[RuntimeException] { t.deleteVectored($"id" < 50) }
    finally MedallionTable.testFailpoint = _ => ()
    // all-or-nothing: the staged marks are invisible, no marks dir landed
    assert(t.read.orderBy("id").collect().toSeq == before)
    assert(DvUpdates.marksOnly(spark, p).isEmpty)
    // the claimed marker and the writer lock are both released
    assert(t.commitVersion == v0)
    val commits = new java.io.File(s"${p}__graft_commits").listFiles()
      .map(_.getName).toSeq
    assert(!commits.exists(n => n.startsWith("write") && n.endsWith(".lock")),
      commits.mkString(", "))
    // the staging is litter the default vacuum clears; the retry lands
    assert(DvUpdates.orphans(spark, p).nonEmpty)
    t.vacuum()
    assert(DvUpdates.orphans(spark, p).isEmpty)
    t.deleteVectored($"id" < 50)
    assert(t.read.count() == 50L)
    assert(DvUpdates.marksOnly(spark, p).size == 1)
  }
}
