package graft.ops

import graft.SparkSpec
import graft.table.MedallionTable

/** Delta-utility SQL statements (DESCRIBE HISTORY / OPTIMIZE / VACUUM /
  * RESTORE) and the CDC/history table functions, through a real session
  * with the graft extensions.
  */
class GraftSqlUtilitiesSpec extends SparkSpec {

  test("DESCRIBE HISTORY lists operations newest-first, by name and by path") {
    import spark.implicits._
    val p = tmpDir("sqlutil_hist")
    val t = new MedallionTable(spark, p)
    t.overwrite(Seq((1L, 1.0)).toDF("id", "x"))
    t.merge(Seq((1L, 2.0), (2L, 3.0)).toDF("id", "x"), Seq("id"))
    spark.sql("DROP TABLE IF EXISTS sqlutil_hist_t")
    spark.sql(s"CREATE TABLE sqlutil_hist_t USING graft LOCATION '$p'")
    val byName = spark.sql("DESCRIBE HISTORY sqlutil_hist_t").collect()
    assert(byName.map(_.getString(1)).toSeq == Seq("merge", "create-overwrite"))
    val byPath = spark.sql(s"DESCRIBE HISTORY '$p'").collect()
    assert(byPath.map(_.getLong(0)).toSeq == byName.map(_.getLong(0)).toSeq)
  }

  test("SEARCH BM25 INDEX queries the standing index from pure SQL") {
    import spark.implicits._
    val p = tmpDir("sqlutil_bm25")
    val idx = new graft.text.StandingBm25Index(spark, p)
    idx.ingest(Seq(1L -> "spark merge window spark", 2L -> "merge quick fox",
      3L -> "window spark lazy dog").toDF("doc_id", "text"), tag = 1L)
    val viaSql = spark.sql(
        s"SEARCH BM25 INDEX '$p' FOR ('spark', 'merge', 'window') LIMIT 10")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaApi = idx.query(Seq("spark", "merge", "window"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaSql == viaApi && viaSql.nonEmpty,
      s"SQL statement must equal the API query: $viaSql vs $viaApi")
    // at least one term required
    intercept[Exception] {
      spark.sql(s"SEARCH BM25 INDEX '$p' FOR () LIMIT 5").collect()
    }
  }

  test("OPTIMIZE compacts the file count; ZORDER BY variant clusters") {
    import spark.implicits._
    val p = tmpDir("sqlutil_opt")
    val t = new MedallionTable(spark, p)
    // many small appends → many files
    (1 to 5).foreach(i => t.append(Seq((i.toLong, i.toString)).toDF("id", "s")))
    spark.sql("DROP TABLE IF EXISTS sqlutil_opt_t")
    spark.sql(s"CREATE TABLE sqlutil_opt_t USING graft LOCATION '$p'")
    val r = spark.sql("OPTIMIZE sqlutil_opt_t").collect()(0)
    assert(r.getInt(1) >= 5, s"expected >=5 files before, got ${r.getInt(1)}")
    assert(r.getInt(2) < r.getInt(1), "compaction must reduce file count")
    assert(t.read.count() == 5)
    val z = spark.sql("OPTIMIZE sqlutil_opt_t ZORDER BY (id)").collect()(0)
    assert(z.getInt(2) >= 1 && t.read.count() == 5)
  }

  test("DESCRIBE DETAIL summarizes files, partitioning, version, and gates") {
    import spark.implicits._
    val p = tmpDir("sqlutil_detail")
    val t = new MedallionTable(spark, p, partitionColumns = Seq("blk"),
      retainVersions = 2)
    t.overwrite((1L to 20L).map(i => (i, (i % 2).toInt)).toDF("id", "blk"))
    t.addCheckConstraint("pos_id", "id > 0")
    t.merge(Seq((1L, 1), (21L, 1)).toDF("id", "blk"), Seq("id"))
    t.refreshStats()
    spark.sql("DROP TABLE IF EXISTS sqlutil_detail_t")
    spark.sql(s"CREATE TABLE sqlutil_detail_t USING graft LOCATION '$p'")
    val r = spark.sql("DESCRIBE DETAIL sqlutil_detail_t").collect()(0)
    assert(r.getString(0) == "graft/parquet")
    assert(r.getLong(2) > 0 && r.getLong(3) > 0, "files and bytes counted")
    assert(r.getString(4) == "blk", s"partition columns: ${r.getString(4)}")
    assert(r.getLong(5) == 3L,
      "overwrite + add-constraint + merge = commit ordinal 3")
    assert(r.getLong(6) == 1L, "one retained pre-merge snapshot")
    assert(r.getString(7) == "pos_id")
    assert(r.getString(8) == "", "no generated columns declared")
    assert(r.getAs[Boolean]("change_data_feed") == false)
    assert(r.getAs[Boolean]("stats_fresh"), "manifest after refreshStats")
    // registry fields start empty
    assert(r.getAs[String]("not_null_columns") == "")
    assert(r.getAs[String]("identity_columns") == "")
    assert(!r.getAs[Boolean]("row_tracking"))
    assert(r.getAs[String]("column_defaults") == "")
    assert(r.getAs[String]("widened_columns") == "")
    // the table-feature fields report their armed states
    t.enableChangeDataFeed()
    t.setGeneratedColumn("blk", "CAST(id % 2 AS INT)")
    t.setNotNull("id")
    t.setColumnDefault("id", "0")
    val r2 = spark.sql("DESCRIBE DETAIL sqlutil_detail_t").collect()(0)
    assert(r2.getString(8) == "blk" &&
      r2.getAs[Boolean]("change_data_feed"))
    assert(r2.getAs[String]("not_null_columns") == "id")
    assert(r2.getAs[String]("column_defaults") == "id=0")
  }

  test("REORG APPLY (PURGE) materializes DV state; no-op on a clean table") {
    import spark.implicits._
    val p = tmpDir("sqlutil_reorg")
    val t = new MedallionTable(spark, p)
    t.overwrite((1L to 20L).map(i => (i, s"s$i")).toDF("id", "s"))
    // clean table: REORG must NOT rewrite (the 100 TB no-op guard)
    val clean = spark.sql(s"REORG TABLE '$p' APPLY (PURGE)").collect()(0)
    assert(!clean.getBoolean(1))
    t.deleteVectored($"id" <= 3)
    t.updateVectored($"id" === 10L, Map("s" ->
      org.apache.spark.sql.functions.lit("amended")))
    assert(t.hasDvState)
    val purged = spark.sql(s"REORG TABLE '$p' APPLY (PURGE)").collect()(0)
    assert(purged.getBoolean(1))
    assert(!t.hasDvState, "marks and batches materialized into plain files")
    assert(t.read.count() == 17L)
    assert(t.read.filter($"id" === 10L).select("s").head().getString(0) ==
      "amended")
  }

  test("VACUUM reports zero on a clean table") {
    import spark.implicits._
    val p = tmpDir("sqlutil_vac")
    new MedallionTable(spark, p).overwrite(Seq((1L, "a")).toDF("id", "s"))
    assert(spark.sql(s"VACUUM '$p'").collect()(0).getInt(1) == 0)
  }

  test("RESTORE TO VERSION AS OF rewinds and is itself a commit") {
    import spark.implicits._
    val p = tmpDir("sqlutil_restore")
    val t = new MedallionTable(spark, p, retainVersions = 3)
    t.overwrite(Seq((1L, 10.0)).toDF("id", "x"))
    t.merge(Seq((1L, 99.0), (2L, 5.0)).toDF("id", "x"), Seq("id"))
    spark.sql(s"RESTORE TABLE '$p' TO VERSION AS OF 1")
    assert(t.read.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 10.0)))
    assert(t.history().head._2.startsWith("restore"))
  }

  test("graft_table_history and graft_table_changes TVFs read in pure SQL") {
    import spark.implicits._
    val p = tmpDir("sqlutil_tvf")
    val t = new MedallionTable(spark, p, retainVersions = 3)
    t.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"))
    t.merge(Seq((1L, 11.0), (3L, 30.0)).toDF("id", "x"), Seq("id"),
      deleteNotMatchedBySource = false)
    val hist = spark.sql(s"SELECT * FROM graft_table_history('$p')").collect()
    assert(hist.map(_.getString(1)).toSeq == Seq("merge", "create-overwrite"))
    val changes = spark.sql(
      s"SELECT _change_type, id FROM graft_table_changes('$p', 1, 'id')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(changes == Set(("update_preimage", 1L), ("update_postimage", 1L),
      ("insert", 3L)))
  }

  test("inline VERSION AS OF and TIMESTAMP AS OF read retained snapshots") {
    import spark.implicits._
    val p = tmpDir("sqlutil_tt")
    val t = new MedallionTable(spark, p, retainVersions = 3)
    t.overwrite(Seq((1L, 10.0)).toDF("id", "x"))
    t.merge(Seq((1L, 99.0), (2L, 5.0)).toDF("id", "x"), Seq("id"))
    spark.sql("DROP TABLE IF EXISTS sqlutil_tt_t")
    spark.sql(s"CREATE TABLE sqlutil_tt_t USING graft LOCATION '$p'")
    val v1 = spark.sql("SELECT id, x FROM sqlutil_tt_t VERSION AS OF 1")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(v1 == Set((1L, 10.0)))
    // live read unaffected
    assert(spark.sql("SELECT COUNT(*) FROM sqlutil_tt_t").collect()(0).getLong(0) == 2)
    // a snapshot table joins the live one inside a single query
    val joined = spark.sql(
      """SELECT cur.id, cur.x AS x_now, old.x AS x_then
        |FROM sqlutil_tt_t cur
        |LEFT JOIN sqlutil_tt_t VERSION AS OF 1 old ON cur.id = old.id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(joined == Set((1L, 99.0, Some(10.0)), (2L, 5.0, None)))
    // TIMESTAMP AS OF: the instant of v1's commit resolves to v1 (derive
    // the timestamp from history so the test carries no clock assumption)
    val v1Millis = t.history().find(_._1 == 1L).get._3
    val tsLit = new java.sql.Timestamp(v1Millis).toString
    val byTs = spark.sql(
      s"SELECT id, x FROM sqlutil_tt_t TIMESTAMP AS OF '$tsLit'")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(byTs == Set((1L, 10.0)))
    // an instant before the earliest retained version refuses clearly —
    // date-only form included (session-zone parse, not java.sql.Timestamp)
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM sqlutil_tt_t TIMESTAMP AS OF '1990-01-01'"))
    assert(e.getMessage.contains("no retained version"), e.getMessage)
    // table-qualified references resolve against the substituted snapshot
    val q = spark.sql(
      "SELECT sqlutil_tt_t.id FROM sqlutil_tt_t VERSION AS OF 1")
      .collect().map(_.getLong(0)).toSeq
    assert(q == Seq(1L))
    // the live ordinal reads the live table through the same syntax
    val live = spark.sql(
      s"SELECT COUNT(*) FROM sqlutil_tt_t VERSION AS OF ${t.commitVersion}")
      .collect()(0).getLong(0)
    assert(live == 2)
  }

  test("SQL version numbers stay in commit-ordinal space when appends interleave") {
    import spark.implicits._
    val p = tmpDir("sqlutil_ord")
    val t = new MedallionTable(spark, p, retainVersions = 3)
    t.overwrite(Seq((1L, 10.0)).toDF("id", "x"))                    // commit 1
    t.append(Seq((2L, 20.0)).toDF("id", "x"))                       // commit 2
    t.merge(Seq((1L, 11.0), (2L, 20.0), (3L, 30.0)).toDF("id", "x"),
      Seq("id"))                                                    // commit 3
    spark.sql("DROP TABLE IF EXISTS sqlutil_ord_t")
    spark.sql(s"CREATE TABLE sqlutil_ord_t USING graft LOCATION '$p'")
    // DESCRIBE HISTORY ordinals: 3=merge, 2=append, 1=create-overwrite.
    // VERSION AS OF 2 must be the POST-APPEND state (ids 1,2) — the naive
    // snapshot-id read would return a different commit's rows.
    val v2 = spark.sql("SELECT id FROM sqlutil_ord_t VERSION AS OF 2")
      .collect().map(_.getLong(0)).toSet
    assert(v2 == Set(1L, 2L))
    // commit 1's state was never archived (the append mutated in place) —
    // refuse with the ordinal-space message instead of wrong rows
    val e = intercept[Exception](
      spark.sql("SELECT * FROM sqlutil_ord_t VERSION AS OF 1").collect())
    assert(e.getMessage.contains("not retained"), e.getMessage)
    // the CDC TVF speaks the same numbering: changes since the append
    val ch = spark.sql(
      s"SELECT _change_type, id FROM graft_table_changes('$p', 2, 'id')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(ch == Set(("update_preimage", 1L), ("update_postimage", 1L),
      ("insert", 3L)))
    // RESTORE in ordinal space: back to the post-append state
    spark.sql(s"RESTORE TABLE sqlutil_ord_t TO VERSION AS OF 2")
    assert(t.read.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 10.0), (2L, 20.0)))
  }

  test("a view over VERSION AS OF survives re-parse (parseQuery path)") {
    import spark.implicits._
    val p = tmpDir("sqlutil_view")
    val t = new MedallionTable(spark, p, retainVersions = 2)
    t.overwrite(Seq((1L, 1.0)).toDF("id", "x"))
    t.merge(Seq((1L, 2.0), (2L, 3.0)).toDF("id", "x"), Seq("id"))
    spark.sql("DROP TABLE IF EXISTS sqlutil_view_t")
    spark.sql(s"CREATE TABLE sqlutil_view_t USING graft LOCATION '$p'")
    spark.sql("DROP VIEW IF EXISTS sqlutil_view_v")
    spark.sql(
      "CREATE VIEW sqlutil_view_v AS SELECT id, x FROM sqlutil_view_t VERSION AS OF 1")
    assert(spark.sql("SELECT id, x FROM sqlutil_view_v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet == Set((1L, 1.0)))
    spark.sql("DROP VIEW sqlutil_view_v")
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT manages CHECK gates via SQL") {
    import spark.implicits._
    val p = tmpDir("sqlutil_chk")
    val t = new MedallionTable(spark, p)
    t.overwrite(Seq((1L, 5.0), (2L, 7.0)).toDF("id", "v"))
    spark.sql("DROP TABLE IF EXISTS sqlutil_chk_t")
    spark.sql(s"CREATE TABLE sqlutil_chk_t USING graft LOCATION '$p'")
    spark.sql("ALTER TABLE sqlutil_chk_t ADD CONSTRAINT v_pos CHECK (v > 0)")
    assert(t.checkConstraints == Map("v_pos" -> "v > 0"))
    // violating write refuses through the same gate the API enforces
    intercept[Exception](t.append(Seq((3L, -1.0)).toDF("id", "v")))
    assert(t.read.count() == 2)
    // adding a constraint existing rows violate refuses
    val e = intercept[Exception](spark.sql(
      "ALTER TABLE sqlutil_chk_t ADD CONSTRAINT v_big CHECK (v > 6)"))
    assert(t.checkConstraints.keySet == Set("v_pos"))
    spark.sql("ALTER TABLE sqlutil_chk_t DROP CONSTRAINT v_pos")
    assert(t.checkConstraints.isEmpty)
    t.append(Seq((3L, -1.0)).toDF("id", "v"))
    assert(t.read.count() == 3)
  }

  test("SYNC/CHECKPOINT DELTA LOG export and no-op when in sync") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val p = tmpDir("sqlutil_dlx")
    val t = new MedallionTable(spark, p)
    t.overwrite((0 until 50).map(i => (i.toLong, s"r$i")).toDF("id", "s"))
    spark.sql("DROP TABLE IF EXISTS sqlutil_dlx_t")
    spark.sql(s"CREATE TABLE sqlutil_dlx_t USING graft LOCATION '$p'")
    val r0 = spark.sql("SYNC DELTA LOG FOR sqlutil_dlx_t").collect()(0)
    assert(r0.getLong(1) == 0L)
    // in sync → -1, nothing written
    assert(spark.sql(s"SYNC DELTA LOG FOR '$p'").collect()(0).getLong(1) == -1L)
    t.append((50 until 60).map(i => (i.toLong, s"r$i")).toDF("id", "s"))
    val r1 = spark.sql("CHECKPOINT DELTA LOG FOR sqlutil_dlx_t").collect()(0)
    assert(r1.getLong(1) == 1L && r1.getLong(2) == 1L)
    assert(new java.io.File(s"$p/_delta_log/_last_checkpoint").isFile)
    // replay equals the table read
    assert(graft.table.DeltaLogExport.liveFilesFromLog(spark, p).toSet ==
      t.read.inputFiles.map(_.split('/').last).toSet)
  }

  test("utility statements refuse non-graft tables") {
    spark.sql("DROP TABLE IF EXISTS sqlutil_plain")
    spark.sql("CREATE TABLE sqlutil_plain (id BIGINT) USING parquet")
    val e = intercept[Exception](spark.sql("DESCRIBE HISTORY sqlutil_plain").collect())
    assert(e.getMessage.contains("not a graft table"), e.getMessage)
  }

  test("unmatched statements fall through to the delegate parser untouched") {
    // a statement containing the keywords but not the shape
    assert(spark.sql("SELECT 'OPTIMIZE nothing' AS s").collect()(0)
      .getString(0) == "OPTIMIZE nothing")
    intercept[Exception](spark.sql("OPTIMIZE"))
  }
}
