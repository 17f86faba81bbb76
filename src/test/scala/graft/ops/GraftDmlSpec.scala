package graft.ops

import graft.SparkSpec
import graft.table.MedallionTable

/** SQL DML over graft catalog tables ([[graft.plans.GraftDmlRule]]):
  * MERGE INTO / UPDATE / DELETE FROM semantics, clause ordering, Delta
  * multi-match parity, and the documented refusals.
  */
class GraftDmlSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private var n = 0
  private def fresh(rows: Seq[(Long, String, Double)]): (String, MedallionTable) = {
    import spark.implicits._
    n += 1
    val name = s"dml_t$n"
    val p = tmpDir(name)
    val t = new MedallionTable(spark, p)
    t.overwrite(rows.toDF("id", "name", "v"))
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING graft LOCATION '$p'")
    (name, t)
  }

  private def state(t: MedallionTable): Set[(Long, String, Double)] =
    t.read.collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("name"), r.getAs[Double]("v"))).toSet

  test("DELETE FROM with WHERE removes matching rows only") {
    val (name, t) = fresh(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    spark.sql(s"DELETE FROM $name WHERE v >= 20.0")
    assert(state(t) == Set((1L, "a", 10.0)))
  }

  test("DELETE keeps NULL-predicate rows (SQL semantics)") {
    import spark.implicits._
    n += 1
    val name = s"dml_t$n"
    val p = tmpDir(name)
    val t = new MedallionTable(spark, p)
    t.overwrite(Seq((1L, Some(1.0)), (2L, None), (3L, Some(3.0)))
      .toDF("id", "x"))
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING graft LOCATION '$p'")
    spark.sql(s"DELETE FROM $name WHERE x > 2.0")
    assert(t.read.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("UPDATE and DELETE accept BETWEEN in WHERE") {
    val (name, t) = fresh(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0)))
    spark.sql(s"UPDATE $name SET v = v + 1 WHERE id BETWEEN 2 AND 3")
    assert(state(t) == Set((1L, "a", 10.0), (2L, "b", 21.0), (3L, "c", 31.0),
      (4L, "d", 40.0)))
    spark.sql(s"DELETE FROM $name WHERE v BETWEEN 30.5 AND 40.0")
    assert(state(t) == Set((1L, "a", 10.0), (2L, "b", 21.0)))
    spark.sql(s"DELETE FROM $name WHERE id NOT BETWEEN 2 AND 5")
    assert(state(t) == Set((2L, "b", 21.0)))
  }

  test("BETWEEN in UPDATE/DELETE on the deletion-vector path") {
    val (name, t) = fresh(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    val s = spark.newSession()
    s.conf.set("spark.graft.dvWrites", "true")
    s.sql(s"UPDATE $name SET name = 'u' WHERE id BETWEEN 1 AND 2")
    s.sql(s"DELETE FROM $name WHERE v BETWEEN 25.0 AND 35.0")
    assert(state(t) == Set((1L, "u", 10.0), (2L, "u", 20.0)))
  }

  test("MERGE WHEN conditions accept BETWEEN") {
    import spark.implicits._
    val (name, t) = fresh(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    Seq((1L, "x", 1.0), (2L, "y", 2.0), (5L, "z", 5.0), (6L, "w", 6.0))
      .toDF("id", "name", "v").createOrReplaceTempView("between_src")
    spark.sql(
      s"""MERGE INTO $name t USING between_src s ON t.id = s.id
         |WHEN MATCHED AND t.v BETWEEN 15.0 AND 25.0 THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED AND s.id BETWEEN 5 AND 5 THEN INSERT *""".stripMargin)
    assert(state(t) == Set((1L, "a", 10.0), (2L, "b", 2.0), (3L, "c", 30.0),
      (5L, "z", 5.0)))
  }

  test("UPDATE applies simultaneous assignment (swap)") {
    import spark.implicits._
    n += 1
    val name = s"dml_t$n"
    val p = tmpDir(name)
    val t = new MedallionTable(spark, p)
    t.overwrite(Seq((1L, 10.0, 100.0), (2L, 20.0, 200.0)).toDF("id", "a", "b"))
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING graft LOCATION '$p'")
    spark.sql(s"UPDATE $name SET a = b, b = a WHERE id = 1")
    assert(t.read.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSet == Set((1L, 100.0, 10.0), (2L, 20.0, 200.0)))
  }

  test("UPDATE without WHERE touches every row") {
    val (name, t) = fresh(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    spark.sql(s"UPDATE $name SET v = v * 10")
    assert(state(t) == Set((1L, "a", 10.0), (2L, "b", 20.0)))
  }

  test("MERGE 3-clause: update matched, insert new, delete by source") {
    val (name, t) = fresh(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    spark.sql(
      s"""MERGE INTO $name t
         |USING (SELECT 2L AS id, 'B' AS name, 22.0 AS v
         |       UNION ALL SELECT 9L, 'i', 90.0) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(state(t) == Set((2L, "B", 22.0), (9L, "i", 90.0)))
  }

  test("MERGE clause ordering: first matching WHEN wins") {
    val (name, t) = fresh(Seq((1L, "a", 10.0), (2L, "b", 20.0)))
    spark.sql(
      s"""MERGE INTO $name t
         |USING (SELECT 1L AS id, 5.0 AS v UNION ALL SELECT 2L, 95.0) s
         |ON t.id = s.id
         |WHEN MATCHED AND s.v > 90.0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    assert(state(t) == Set((1L, "a", 5.0)))
  }

  test("MERGE conditions may reference both sides") {
    val (name, t) = fresh(Seq((1L, "a", 10.0), (2L, "b", 20.0)))
    spark.sql(
      s"""MERGE INTO $name t
         |USING (SELECT 1L AS id, 5.0 AS v UNION ALL SELECT 2L, 25.0) s
         |ON t.id = s.id
         |WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v""".stripMargin)
    // only id=2 rises (25 > 20); id=1 keeps 10 (5 < 10)
    assert(state(t) == Set((1L, "a", 10.0), (2L, "b", 25.0)))
  }

  test("partial INSERT leaves unassigned columns NULL; partial UPDATE keeps them") {
    val (name, t) = fresh(Seq((1L, "a", 10.0)))
    spark.sql(
      s"""MERGE INTO $name t
         |USING (SELECT 1L AS id, 111.0 AS v UNION ALL SELECT 7L, 70.0) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val rows = t.read.collect()
      .map(r => (r.getAs[Long]("id"), Option(r.getAs[String]("name")),
        r.getAs[Double]("v"))).toSet
    assert(rows == Set((1L, Some("a"), 111.0), (7L, None, 70.0)))
  }

  test("NOT MATCHED BY SOURCE UPDATE touches only unreferenced target rows") {
    val (name, t) = fresh(Seq((1L, "a", 10.0), (2L, "b", 20.0)))
    spark.sql(
      s"""MERGE INTO $name t
         |USING (SELECT 1L AS id) s
         |ON t.id = s.id
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -1.0""".stripMargin)
    assert(state(t) == Set((1L, "a", 10.0), (2L, "b", -1.0)))
  }

  test("duplicate source keys fail like Delta's multiple-matches error") {
    val (name, _) = fresh(Seq((1L, "a", 10.0)))
    val e = intercept[Exception](spark.sql(
      s"""MERGE INTO $name t
         |USING (SELECT 1L AS id, 1.0 AS v UNION ALL SELECT 1L, 2.0) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin))
    assert(e.getMessage.contains("duplicate key"), e.getMessage)
  }

  test("insert-only MERGE with duplicate source keys refuses (no silent fan-out)") {
    val (name, t) = fresh(Seq((1L, "a", 10.0)))
    val e = intercept[Exception](spark.sql(
      s"""MERGE INTO $name t
         |USING (SELECT 1L AS id, 'x' AS name, 1.0 AS v
         |       UNION ALL SELECT 1L, 'y', 2.0) s
         |ON t.id = s.id
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e.getMessage.contains("duplicate key"), e.getMessage)
    // and the table is untouched — the full-outer fan-out never ran
    assert(state(t) == Set((1L, "a", 10.0)))
  }

  test("SQL DML invalidates cached plans over the table") {
    val (name, _) = fresh(Seq((1L, "a", 10.0), (2L, "b", 20.0)))
    spark.sql(s"CACHE TABLE $name")
    assert(spark.sql(s"SELECT COUNT(*) FROM $name").collect()(0).getLong(0) == 2)
    spark.sql(s"DELETE FROM $name WHERE id = 1")
    assert(spark.sql(s"SELECT COUNT(*) FROM $name").collect()(0).getLong(0) == 1,
      "cached pre-delete rows served after DELETE")
    spark.sql(s"UNCACHE TABLE $name")
  }

  test("subqueries in assignment values refuse like condition subqueries") {
    val (name, _) = fresh(Seq((1L, "a", 10.0)))
    import spark.implicits._
    Seq(1.0).toDF("m").createOrReplaceTempView("dml_sub_aux")
    val e = intercept[Exception](spark.sql(
      s"UPDATE $name SET v = (SELECT MAX(m) FROM dml_sub_aux)"))
    assert(e.getMessage.contains("subqueries are not supported"), e.getMessage)
  }

  test("non-equi ON refuses with a clear message") {
    val (name, _) = fresh(Seq((1L, "a", 10.0)))
    val e = intercept[Exception](spark.sql(
      s"""MERGE INTO $name t
         |USING (SELECT 1L AS id, 1.0 AS v) s
         |ON t.id <= s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin))
    assert(e.getMessage.contains("conjunction of target=source column equalities"),
      e.getMessage)
  }

  test("DML against a versionAsOf-pinned table refuses") {
    import spark.implicits._
    n += 1
    val name = s"dml_t$n"
    val p = tmpDir(name)
    val t = new MedallionTable(spark, p, retainVersions = 2)
    t.overwrite(Seq((1L, 1.0)).toDF("id", "x"))
    t.merge(Seq((1L, 2.0)).toDF("id", "x"), Seq("id"))
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING graft LOCATION '$p' OPTIONS (versionAsOf 1)")
    val e = intercept[Exception](spark.sql(s"DELETE FROM $name WHERE id = 1"))
    assert(e.getMessage.contains("read-only"), e.getMessage)
  }

  test("the reference's 3-clause merge with synthesized clauses runs as SQL (K5)") {
    import spark.implicits._
    val (name, t) = fresh(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    val src = Seq((1L, "a", 10.0), (2L, "B", 22.0), (9L, "i", 90.0))
    src.toDF("id", "name", "v").createOrReplaceTempView("dml_ref_src")
    // dynamic synthesis from the column list, the reference's K5 pattern
    // (silver_table_creation.py:50-54) spelled in SQL
    val cols = Seq("name", "v")
    val changeCond = cols.map(c => s"t.$c <> s.$c").mkString(" OR ")
    val setClause = cols.map(c => s"$c = s.$c").mkString(", ")
    spark.sql(
      s"""MERGE INTO $name t USING dml_ref_src s ON t.id = s.id
         |WHEN MATCHED AND ($changeCond) THEN UPDATE SET $setClause
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    // full target↔source sync, the reference's invariant
    assert(state(t) == src.toSet)
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the table from the source: " +
      "new column lands, old rows read typed NULL (rewrite path)") {
    import spark.implicits._
    n += 1
    val name = s"dml_t$n"
    val p = tmpDir(name)
    val t = new MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "nm"))
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING graft LOCATION '$p'")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $name t
         |USING (SELECT 2L AS id, 'B' AS nm, CAST(99.5 AS DOUBLE) AS score
         |       UNION ALL SELECT 3L, 'c', CAST(42.0 AS DOUBLE)) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = t.read.select("id", "nm", "score").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
    assert(got == Set((1L, "a", None), (2L, "B", Some(99.5)),
      (3L, "c", Some(42.0))),
      s"evolved column: matched updated, inserted carries it, old row NULL: $got")
    // the catalog view agrees (Spark altered it at analysis)
    assert(spark.table(name).columns.toSeq == Seq("id", "nm", "score"))
  }

  test("MERGE WITH SCHEMA EVOLUTION on the DV path: metadata-only widen, " +
      "zero base files rewritten") {
    import spark.implicits._
    n += 1
    val name = s"dml_t$n"
    val p = tmpDir(name)
    val t = new MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "nm"))
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING graft LOCATION '$p'")
    spark.conf.set("spark.graft.dvWrites", "true")
    try {
      spark.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $name t
           |USING (SELECT 2L AS id, 7L AS rank) s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET rank = s.rank""".stripMargin)
    } finally spark.conf.unset("spark.graft.dvWrites")
    assert(t.history().headOption.exists(_._2 == "merge-dv"),
      "evolving merge under dvWrites must stay on the DV path")
    val got = t.read.select("id", "rank").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
      .toSet
    assert(got == Set((1L, None), (2L, Some(7L)), (3L, None)),
      s"DV-path evolution: only the matched row carries the new column: $got")
  }

  test("spark.graft.autoMergeSchema evolves LIBRARY-path merges (Delta's " +
      "autoMerge conf analog); SQL without the clause still fails analysis") {
    import spark.implicits._
    import graft.table.MergeOps._
    import org.apache.spark.sql.functions.lit
    n += 1
    val name = s"dml_t$n"
    val p = tmpDir(name)
    val t = new MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "nm"))
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING graft LOCATION '$p'")
    // SQL without WITH SCHEMA EVOLUTION: an unknown-column assignment
    // cannot resolve — the conf cannot arm Spark's analyzer-side catalog
    // evolution (that is clause-gated); the SQL surface for evolution IS
    // the clause
    intercept[org.apache.spark.sql.AnalysisException](spark.sql(
      s"""MERGE INTO $name t USING (SELECT 1L AS id, 5.0 AS extra) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET extra = s.extra""".stripMargin))
    // library path, flag off: refusal (MergeVectoredSpec pins the message)
    val src = Seq((1L, 5.0)).toDF("id", "extra")
    intercept[IllegalStateException](
      t.mergeClauses(src, Seq("id" -> "id"),
        Seq(WhenMatchedUpdate(None,
          Map("extra" -> ((_, sc: ColRef) => sc("extra"))))), Nil, Nil))
    // library path, flag on: the merge widens the table from the source
    spark.conf.set("spark.graft.autoMergeSchema", "true")
    try t.mergeClauses(src, Seq("id" -> "id"),
      Seq(WhenMatchedUpdate(None,
        Map("extra" -> ((_, sc: ColRef) => sc("extra"))))), Nil, Nil)
    finally spark.conf.unset("spark.graft.autoMergeSchema")
    val got = t.read.select("id", "extra").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(got == Set((1L, Some(5.0)), (2L, None)),
      s"conf-driven library evolution: matched carries it, other row NULL: $got")
  }

  test("MERGE after UPDATE after DELETE composes through history") {
    val (name, t) = fresh(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    spark.sql(s"DELETE FROM $name WHERE id = 3")
    spark.sql(s"UPDATE $name SET v = v + 1.0 WHERE id = 1")
    spark.sql(
      s"""MERGE INTO $name t USING (SELECT 2L AS id, 'B' AS name, 0.0 AS v) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET name = s.name""".stripMargin)
    assert(state(t) == Set((1L, "a", 11.0), (2L, "B", 20.0)))
    val ops = t.history().map(_._2)
    assert(ops.count(_ == "merge") >= 1)
  }

  test("dvWrites MERGE with a source past the broadcast threshold falls " +
      "back to the rewrite path (mergeVectored force-broadcasts); a " +
      "fitting source keeps the DV route") {
    val (name, t) = fresh(Seq((1L, "a", 10.0), (2L, "b", 20.0),
      (3L, "c", 30.0)))
    val sql =
      s"""MERGE INTO $name t
         |USING (SELECT 2L AS id, 'B' AS name, 22.0 AS v) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.graft.dvWrites", "true")
    try {
      // 1 byte: every source "exceeds" the threshold — the planner-size
      // guard must route to the result-identical rewrite, never the
      // force-broadcast DV plan (a big full-sync source would OOM there)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      spark.sql(sql)
      assert(state(t) == Set((2L, "B", 22.0)))
      assert(t.history().headOption.exists(_._2 == "merge"),
        s"oversized source stayed on the DV route: ${t.history().head}")
      // back under the default threshold: the DV route stands
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql(
        s"""MERGE INTO $name t
           |USING (SELECT 2L AS id, 'BB' AS name, 23.0 AS v) s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
      assert(state(t) == Set((2L, "BB", 23.0)))
      assert(t.history().headOption.exists(_._2 == "merge-dv"),
        s"fitting source left the DV route: ${t.history().head}")
    } finally {
      spark.conf.unset("spark.graft.dvWrites")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }
}
