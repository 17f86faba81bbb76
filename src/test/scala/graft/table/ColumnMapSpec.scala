package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Metadata-only RENAME COLUMN: zero files touched, every read/write
  * surface speaks the new name, rewrites materialize and clear the map,
  * snapshots keep their own map, and the refusal boundary holds.
  */
class ColumnMapSpec extends SparkSpec {
  import spark.implicits._

  private def mk(): (MedallionTable, String) = {
    val p = tmpDir("cmap")
    val t = MedallionTable(spark, p)
    t.overwrite((0L until 50L).map(i => (i, s"s$i", i * 10)).toDF("id", "s", "v"))
    (t, p)
  }

  private def files(p: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(p))
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getPath.contains("_graft_meta"))
      .map(f => f.getPath -> f.lastModified()).toMap
  }

  test("rename is metadata-only and visible to reads, filters, appends") {
    val (t, p) = mk()
    val before = files(p)
    t.renameColumn("v", "score")
    assert(files(p) == before)
    assert(t.read.columns.toSeq == Seq("id", "s", "score"))
    assert(t.read.filter($"score" === 120).select("id").head().getLong(0) == 12L)
    // appends speak the LOGICAL name; the file carries the physical one
    t.append(Seq((100L, "x", 990L)).toDF("id", "s", "score"))
    assert(t.read.filter($"id" === 100).select("score").head().getLong(0) == 990L)
    assert(t.read.count() == 51)
    // chained rename keeps pointing at the original physical column
    t.renameColumn("score", "quality")
    assert(t.read.filter($"id" === 12).select("quality").head().getLong(0) == 120L)
  }

  test("a rewrite materializes logical names and clears the map") {
    val (t, p) = mk()
    t.renameColumn("v", "score")
    t.compact(nFiles = 1)
    assert(MedallionTable(spark, p).meta.colMap.isEmpty)
    // raw parquet now carries the logical name physically
    assert(spark.read.parquet(p).columns.contains("score"))
    assert(t.read.columns.toSeq == Seq("id", "s", "score"))
  }

  test("merge and update speak the logical name") {
    val (t, _) = mk()
    t.renameColumn("v", "score")
    t.merge(Seq((1L, "s1", 111L)).toDF("id", "s", "score"), Seq("id"),
      deleteNotMatchedBySource = false)
    assert(t.read.filter($"id" === 1).select("score").head().getLong(0) == 111L)
    t.update($"id" === 2, Map("score" -> lit(222L)))
    assert(t.read.filter($"id" === 2).select("score").head().getLong(0) == 222L)
  }

  test("time travel: snapshots keep their own map") {
    val p = tmpDir("cmap_tt")
    val t = MedallionTable(spark, p, retainVersions = 2)
    t.overwrite((0L until 10L).map(i => (i, i * 10)).toDF("id", "v"))
    t.renameColumn("v", "score")
    t.overwrite(Seq((500L, 1L)).toDF("id", "score")) // archives renamed state
    val v = t.listVersions().max
    assert(t.readVersion(v).columns.toSeq == Seq("id", "score"))
    assert(t.readVersion(v).filter($"id" === 3).select("score")
      .head().getLong(0) == 30L)
  }

  test("SQL surface + stats/bloom interplay") {
    val (t, p) = mk()
    t.refreshStats()
    BloomIndex.build(spark, p, "v", expectedItemsPerFile = 1000L)
    spark.sql("DROP TABLE IF EXISTS cmap_sql")
    spark.sql(s"CREATE TABLE cmap_sql USING graft LOCATION '$p'")
    spark.sql("ALTER TABLE cmap_sql RENAME COLUMN v TO score")
    assert(spark.sql("SELECT score FROM cmap_sql WHERE id = 7")
      .head().getLong(0) == 70L)
    // stale-by-name artifacts were dropped, not left wrong
    assert(!TableStats.hasManifest(spark, p))
    assert(!BloomIndex.exists(spark, p, "v"))
    // re-analyze arms skipping under the NEW name
    t.refreshStats()
    val m = TableStats.aggregateFromManifest(spark, p,
      Seq(TableStats.ColMax("score")), t.read.schema)
    assert(m.head().getLong(0) == 490L)
  }

  test("refusals: partition column, constraint reference, delta export") {
    val p = tmpDir("cmap_ref")
    val t = MedallionTable(spark, p, partitionColumns = Seq("g"))
    t.overwrite(Seq((1L, "a", 5L), (2L, "b", 6L)).toDF("id", "g", "v"))
    intercept[IllegalArgumentException](t.renameColumn("g", "grp"))
    t.addCheckConstraint("v_pos", "v > 0")
    intercept[IllegalArgumentException](t.renameColumn("v", "w"))
    val p2 = tmpDir("cmap_dl")
    val t2 = MedallionTable(spark, p2)
    t2.overwrite(Seq((1L, 2L)).toDF("id", "v"))
    DeltaLogExport.sync(spark, p2)
    intercept[IllegalArgumentException](t2.renameColumn("v", "w"))
    // and the reverse: no export while a map is live
    val p3 = tmpDir("cmap_dl2")
    val t3 = MedallionTable(spark, p3)
    t3.overwrite(Seq((1L, 2L)).toDF("id", "v"))
    t3.renameColumn("v", "w")
    intercept[IllegalArgumentException](DeltaLogExport.sync(spark, p3))
  }

  test("deletion vector and rename compose") {
    val (t, _) = mk()
    t.deleteVectored($"v" >= 400)
    t.renameColumn("v", "score")
    assert(t.read.count() == 40)
    t.deleteVectored($"score" < 50) // predicate in the NEW name
    assert(t.read.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (5L until 40L))
  }
}
