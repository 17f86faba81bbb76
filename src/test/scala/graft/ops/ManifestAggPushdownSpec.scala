package graft.ops

import graft.SparkSpec
import graft.table.MedallionTable

/** Metadata-only aggregate pushdown through the catalog surface:
  * ungrouped COUNT(*)/MIN/MAX over a stats-fresh graft table is answered
  * from the manifest (plan shows GraftManifestAggRelation, no data scan),
  * and every disqualifier — filter, GROUP BY, stale/absent manifest,
  * uncovered function — falls back to the ordinary scan with the same
  * answers.
  */
class ManifestAggPushdownSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(name: String, refresh: Boolean): String = {
    val p = tmpDir(name)
    val t = new MedallionTable(spark, p)
    t.overwrite(Seq((1L, 10.0, "a"), (2L, -3.5, "b"), (3L, 99.25, "c"),
      (4L, 0.0, null)).toDF("id", "v", "s").repartition(3))
    if (refresh) t.refreshStats()
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING graft LOCATION '$p'")
    p
  }

  private def planOf(sql: String): String =
    spark.sql(sql).queryExecution.executedPlan.toString

  test("COUNT/MIN/MAX on a stats-fresh table read only the manifest") {
    mkTable("agg_push_t", refresh = true)
    val q = "SELECT COUNT(*) AS n, MIN(id) AS min_id, MAX(v) AS max_v, " +
      "MIN(s) AS min_s FROM agg_push_t"
    assert(planOf(q).contains("GraftManifestAggRelation"),
      s"expected manifest-backed scan in:\n${planOf(q)}")
    val r = spark.sql(q).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)) ==
      ((4L, 1L, 99.25, "a")))
  }

  test("filters, GROUP BY, and other aggregates fall back to the scan") {
    mkTable("agg_push_fb", refresh = true)
    for (q <- Seq(
        "SELECT COUNT(*) FROM agg_push_fb WHERE id > 1",
        "SELECT s, COUNT(*) FROM agg_push_fb GROUP BY s",
        "SELECT SUM(v) FROM agg_push_fb",
        "SELECT COUNT(DISTINCT s) FROM agg_push_fb")) {
      assert(!planOf(q).contains("GraftManifestAggRelation"), q)
    }
    // and the fallback answers stay right
    assert(spark.sql("SELECT COUNT(*) FROM agg_push_fb WHERE id > 1")
      .collect()(0).getLong(0) == 3)
  }

  test("ANALYZE TABLE arms the metadata path; FOR COLUMNS limits coverage") {
    val p = mkTable("agg_push_an", refresh = false)
    val q = "SELECT COUNT(*), MIN(id) FROM agg_push_an"
    assert(!planOf(q).contains("GraftManifestAggRelation"))
    val r = spark.sql("ANALYZE TABLE agg_push_an COMPUTE STATISTICS").collect()(0)
    assert(r.getString(0).stripPrefix("file:") == p && r.getLong(2) == 4L,
      r.toString)
    assert(planOf(q).contains("GraftManifestAggRelation"))
    // subset coverage: only v is covered → MIN(id) must fall back
    spark.sql(s"DROP TABLE IF EXISTS agg_push_an2")
    val p2 = tmpDir("agg_push_an2")
    new MedallionTable(spark, p2).overwrite(
      Seq((1L, 2.0)).toDF("id", "v"))
    spark.sql(s"CREATE TABLE agg_push_an2 USING graft LOCATION '$p2'")
    spark.sql("ANALYZE TABLE agg_push_an2 COMPUTE STATISTICS FOR COLUMNS v")
    assert(planOf("SELECT MAX(v) FROM agg_push_an2")
      .contains("GraftManifestAggRelation"))
    assert(!planOf("SELECT MIN(id) FROM agg_push_an2")
      .contains("GraftManifestAggRelation"))
    assert(spark.sql("SELECT MIN(id) FROM agg_push_an2").collect()(0).getLong(0) == 1L)
  }

  test("appending a batch missing a covered column records null bounds") {
    val p = mkTable("agg_push_evo", refresh = true)
    // batch without column s: its file gets null s-bounds — conservative
    // under pruning, invisible to min/max
    new MedallionTable(spark, p).append(Seq((7L, 5.5)).toDF("id", "v"))
    val q = "SELECT COUNT(*), MAX(id), MIN(s), MAX(v) FROM agg_push_evo"
    assert(planOf(q).contains("GraftManifestAggRelation"), planOf(q))
    val r = spark.sql(q).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)) ==
      ((5L, 7L, "a", 99.25)))
    // and a range filter on the missing-stats column keeps that file
    assert(spark.sql("SELECT id FROM agg_push_evo WHERE v > 50")
      .collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("MIN/MAX of TIMESTAMP and DATE columns do not depend on the " +
      "reader's session zone; a manifest without epoch cells scans") {
    val zoneKey = "spark.sql.session.timeZone"
    val zone0 = spark.conf.get(zoneKey)
    val p = tmpDir("agg_push_tz")
    try {
      spark.conf.set(zoneKey, "UTC")
      val t = new MedallionTable(spark, p)
      t.overwrite(Seq((1L, "2024-03-01 10:20:30.123456", "2024-03-01"),
        (2L, "1969-12-31 23:59:59", "1969-12-31"),
        (3L, "2030-06-30 00:00:00", "2030-06-30")).toDF("id", "ts", "d")
        .selectExpr("id", "CAST(ts AS TIMESTAMP) AS ts", "CAST(d AS DATE) AS d")
        .repartition(2))
      t.refreshStats() // stats rendered under UTC
      spark.sql("DROP TABLE IF EXISTS agg_push_tz")
      spark.sql(s"CREATE TABLE agg_push_tz USING graft LOCATION '$p'")
      spark.conf.set(zoneKey, "America/Los_Angeles")
      val q = "SELECT MIN(ts), MAX(ts), MIN(d), MAX(d) FROM agg_push_tz"
      val scan = t.read.selectExpr("MIN(ts)", "MAX(ts)", "MIN(d)", "MAX(d)")
        .head()
      assert(planOf(q).contains("GraftManifestAggRelation"), planOf(q))
      assert(spark.sql(q).head() == scan)
      // strip the canonical-epoch cells, as a manifest predating them
      val stats = new org.apache.hadoop.fs.Path(s"$p/_graft_meta/stats")
      val old = new org.apache.hadoop.fs.Path(s"$p/_graft_meta/stats_noepoch")
      val fs = stats.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val df = spark.read.parquet(stats.toString)
      df.drop(df.columns.filter(_.contains("_ts__")).toSeq: _*)
        .write.parquet(old.toString)
      fs.delete(stats, true)
      assert(fs.rename(old, stats))
      assert(!planOf(q).contains("GraftManifestAggRelation"), planOf(q))
      assert(spark.sql(q).head() == scan)
    } finally spark.conf.set(zoneKey, zone0)
  }

  test("OPTIMIZE leaves the manifest rebuilt — pruning armed right after") {
    val p = mkTable("agg_push_opt", refresh = false)
    spark.sql("OPTIMIZE agg_push_opt")
    assert(planOf("SELECT COUNT(*), MAX(id) FROM agg_push_opt")
      .contains("GraftManifestAggRelation"))
    val r = spark.sql("SELECT COUNT(*), MAX(id) FROM agg_push_opt").collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((4L, 4L)))
  }

  test("absent manifest disables the metadata path; append maintains it") {
    mkTable("agg_push_nostats", refresh = false)
    val q = "SELECT COUNT(*) FROM agg_push_nostats"
    assert(!planOf(q).contains("GraftManifestAggRelation"))
    // refresh enables it; an APPEND keeps it armed — the incremental
    // update stats the new files and the metadata answers move with them
    val p = mkTable("agg_push_inv", refresh = true)
    val qi = "SELECT COUNT(*), MAX(id) FROM agg_push_inv"
    assert(planOf(qi).contains("GraftManifestAggRelation"))
    new MedallionTable(spark, p).append(Seq((9L, 1.0, "z")).toDF("id", "v", "s"))
    assert(planOf(qi).contains("GraftManifestAggRelation"),
      "append must maintain the manifest incrementally, not disarm it")
    val r = spark.sql(qi).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((5L, 9L)))
    // a REWRITE (update) still drops the manifest wholesale → fallback
    new MedallionTable(spark, p).update(
      org.apache.spark.sql.functions.col("id") === 9L,
      Map("v" -> org.apache.spark.sql.functions.lit(2.0)))
    assert(!planOf(qi).contains("GraftManifestAggRelation"),
      "rewrites drop _graft_meta and must disarm the metadata path")
    val r2 = spark.sql(qi).collect()(0)
    assert((r2.getLong(0), r2.getLong(1)) == ((5L, 9L)))
  }
}
