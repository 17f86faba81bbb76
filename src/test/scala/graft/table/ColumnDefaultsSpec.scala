package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Column defaults ([[MedallionTable.setColumnDefault]] — Delta's
  * allowColumnDefaults `ALTER COLUMN … SET DEFAULT` parity): omitted-
  * column fill on insert-class writes only, provided values (explicit
  * NULLs included) untouched, existing rows never changed, declare-time
  * validation, registry lifecycle across rewrites/rename/drop, the
  * NOT NULL interplay, and the SQL DDL surface.
  */
class ColumnDefaultsSpec extends SparkSpec {
  import spark.implicits._

  test("omitted column fills, provided column (and explicit NULL) " +
      "passes through, existing rows never change; DROP re-opens") {
    val t = MedallionTable(spark, tmpDir("cd1"))
    t.overwrite(Seq((1L, "a"), (2L, null: String)).toDF("id", "s"))
    t.setColumnDefault("s", "'UNKNOWN'")
    // existing NULL row is untouched by SET DEFAULT
    assert(t.read.filter($"s".isNull).count() == 1)
    // omitted column -> default
    t.append(Seq(3L).toDF("id"))
    assert(t.read.filter($"id" === 3L).select("s").head.getString(0)
      == "UNKNOWN")
    // provided column with an explicit NULL stays NULL
    t.append(Seq((4L, null: String)).toDF("id", "s"))
    assert(t.read.filter($"id" === 4L).select("s").head.isNullAt(0))
    // provided non-null stays as given
    t.append(Seq((5L, "x")).toDF("id", "s"))
    assert(t.read.filter($"id" === 5L).select("s").head.getString(0) == "x")
    t.dropColumnDefault("s")
    t.append(Seq(6L).toDF("id"))
    assert(t.read.filter($"id" === 6L).select("s").head.isNullAt(0))
  }

  test("declare-time validation: missing column, column references, " +
      "uncastable expression, identity/generated columns all refuse") {
    val t = MedallionTable(spark, tmpDir("cd2"))
    t.setIdentityColumn("rid")
    t.setGeneratedColumn("y2", "y * 2")
    t.overwrite(Seq((1L, 10)).toDF("id", "y"))
    intercept[IllegalArgumentException](t.setColumnDefault("nope", "1"))
    val er = intercept[IllegalArgumentException](
      t.setColumnDefault("id", "y + 1"))
    assert(er.getMessage.contains("constant-foldable"))
    intercept[Exception](t.setColumnDefault("y", "'not-an-int-at-all'"))
    val ei = intercept[IllegalArgumentException](
      t.setColumnDefault("rid", "7"))
    assert(ei.getMessage.contains("IDENTITY"))
    val eg = intercept[IllegalArgumentException](
      t.setColumnDefault("y2", "7"))
    assert(eg.getMessage.contains("generated"))
    // converse: declaring a generated column over a defaulted name refuses
    val t2 = MedallionTable(spark, tmpDir("cd2b"))
    t2.overwrite(Seq((1L, 5)).toDF("id", "z"))
    t2.setColumnDefault("z", "0")
    val ec = intercept[IllegalArgumentException](
      t2.setGeneratedColumn("z", "id * 1"))
    assert(ec.getMessage.contains("DEFAULT"))
  }

  test("NOT NULL + DEFAULT compose: an omitted NOT NULL column passes " +
      "through the default instead of refusing") {
    val t = MedallionTable(spark, tmpDir("cd3"))
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    t.setNotNull("s")
    intercept[Exception](t.append(Seq(2L).toDF("id"))) // omitted -> refuse
    t.setColumnDefault("s", "'filled'")
    t.append(Seq(3L).toDF("id")) // omitted -> default -> NOT NULL passes
    assert(t.read.filter($"id" === 3L).select("s").head.getString(0)
      == "filled")
    // an explicit NULL still refuses (defaults never mask provided NULLs)
    intercept[Exception](t.append(Seq((4L, null: String)).toDF("id", "s")))
    assert(t.read.count() == 2)
  }

  test("registry survives rewrites and overwrite-of-existing; " +
      "rename retargets the key; dropColumn clears it") {
    val t = MedallionTable(spark, tmpDir("cd4"))
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    t.setColumnDefault("s", "'d'")
    t.compact() // rewrite swap carries the registry
    t.append(Seq(2L).toDF("id"))
    assert(t.read.filter($"id" === 2L).select("s").head.getString(0) == "d")
    t.overwrite(Seq((9L, "z")).toDF("id", "s")) // overwrite keeps it too
    t.append(Seq(10L).toDF("id"))
    assert(t.read.filter($"id" === 10L).select("s").head.getString(0) == "d")
    t.renameColumn("s", "s2")
    t.append(Seq(11L).toDF("id"))
    assert(t.read.filter($"id" === 11L).select("s2").head.getString(0) == "d")
    assert(t.columnDefaults.keySet == Set("s2"))
    t.dropColumn("s2")
    assert(t.columnDefaults.isEmpty)
  }

  test("non-deterministic default evaluates per batch; MERGE INSERT " +
      "clauses fill unassigned columns (both merge paths)") {
    import MergeOps._
    val t = MedallionTable(spark, tmpDir("cd5"))
    t.overwrite(Seq((1L, "2000-01-01 00:00:00")).toDF("id", "ts"))
    t.setColumnDefault("ts", "CAST(current_timestamp() AS STRING)")
    t.append(Seq(2L).toDF("id"))
    val got = t.read.filter($"id" === 2L).select("ts").head.getString(0)
    assert(got.startsWith("20") && got != "2000-01-01 00:00:00")
    // DV merge: insert clause omits ts -> default fills it (Delta's
    // allowColumnDefaults MERGE behavior); matched rows never defaulted
    t.mergeVectored(Seq(3L).toDF("mk"), Seq("id" -> "mk"),
      Nil, Seq(WhenNotMatchedInsert(None, Map("id" -> ((_, s) => s("mk"))))))
    assert(t.read.filter($"id" === 3L).select("ts").head.getString(0)
      .startsWith("20"))
    // rewrite merge path: same contract
    val t2 = MedallionTable(spark, tmpDir("cd5b"))
    t2.overwrite(Seq((1L, "v", "keep")).toDF("id", "s", "other"))
    t2.setColumnDefault("s", "'dflt'")
    t2.mergeClauses(Seq((1L, "upd"), (9L, "ins")).toDF("mk", "mo"),
      Seq("id" -> "mk"),
      Seq(WhenMatchedUpdate(None, Map("other" -> ((_, sc) => sc("mo"))))),
      Seq(WhenNotMatchedInsert(None, Map(
        "id" -> ((_, sc) => sc("mk")), "other" -> ((_, sc) => sc("mo"))))),
      Nil)
    // matched row keeps its provided s; inserted row gets the default
    assert(t2.read.filter($"id" === 1L).select("s").head.getString(0) == "v")
    assert(t2.read.filter($"id" === 9L).select("s").head.getString(0)
      == "dflt")
  }

  test("merge, mergePruned and createOrMerge inserts fill DEFAULTs; a " +
      "NOT NULL column with a DEFAULT merges like it appends") {
    def s(t: MedallionTable, id: Long): String =
      t.read.filter($"id" === id).select("s").head.getString(0)
    // rewrite merge: the source omits s
    val t = MedallionTable(spark, tmpDir("cd9"))
    t.overwrite(Seq((1L, "v", "keep")).toDF("id", "s", "other"))
    t.setColumnDefault("s", "'dflt'")
    t.merge(Seq((1L, "upd"), (9L, "ins")).toDF("id", "other"), Seq("id"),
      deleteNotMatchedBySource = false)
    assert(s(t, 1L) == "v" && s(t, 9L) == "dflt")
    t.setNotNull("s")
    t.merge(Seq((10L, "ins")).toDF("id", "other"), Seq("id"),
      deleteNotMatchedBySource = false)
    assert(s(t, 10L) == "dflt" && t.read.count() == 3)
    // partitioned on a key: createOrMerge takes mergePruned
    val tp = MedallionTable(spark, tmpDir("cd9p"), Seq("grp"))
    tp.overwrite(Seq((1L, 0L, "v", "keep")).toDF("id", "grp", "s", "other"))
    tp.setColumnDefault("s", "'dflt'")
    tp.setNotNull("s")
    tp.createOrMerge(Seq((1L, 0L, "upd"), (9L, 0L, "ins"), (11L, 1L, "ins"))
      .toDF("id", "grp", "other"), Seq("id", "grp"))
    assert(s(tp, 1L) == "v" && s(tp, 9L) == "dflt" && s(tp, 11L) == "dflt")
    tp.mergePruned(Seq((12L, 2L, "ins")).toDF("id", "grp", "other"),
      Seq("id", "grp"))
    assert(s(tp, 12L) == "dflt" && tp.read.count() == 4)
  }

  test("SQL DDL: SET DEFAULT / DROP DEFAULT round-trip") {
    val p = tmpDir("cd6")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, 5)).toDF("id", "n"))
    spark.sql(s"ALTER TABLE '$p' ALTER COLUMN n SET DEFAULT 42")
    t.append(Seq(2L).toDF("id"))
    assert(t.read.filter($"id" === 2L).select("n").head.getInt(0) == 42)
    spark.sql(s"ALTER TABLE '$p' ALTER COLUMN n DROP DEFAULT")
    t.append(Seq(3L).toDF("id"))
    assert(t.read.filter($"id" === 3L).select("n").head.isNullAt(0))
  }

  test("defaults compose with type widening: the declared-type cast " +
      "upcasts through the live overlay") {
    val t = MedallionTable(spark, tmpDir("cd7"))
    t.overwrite(Seq((1, "a")).toDF("n", "s"))
    t.setColumnDefault("n", "7")
    t.alterColumnType("n", "BIGINT")
    t.append(Seq("b").toDF("s")) // omitted n -> 7, upcast to BIGINT
    assert(t.read.schema("n").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(t.read.filter($"s" === "b").select("n").head.getLong(0) == 7L)
  }

  test("defaults DDL runs under the commit protocol: set/drop claim " +
      "commits; dropping an unregistered default claims none") {
    val t = MedallionTable(spark, tmpDir("cd8"))
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    val v0 = t.commitVersion
    t.setColumnDefault("s", "'D'")
    assert(t.commitVersion == v0 + 1 && t.history().head._2 == "set-default")
    t.dropColumnDefault("s")
    assert(t.commitVersion == v0 + 2 && t.history().head._2 == "drop-default")
    t.dropColumnDefault("never-set")
    assert(t.commitVersion == v0 + 2) // pure no-op, no commit burned
  }

  test("a SET DEFAULT landing while a rewrite is staged aborts the " +
      "rewrite instead of being silently discarded by its snapshot") {
    val p = tmpDir("cd9")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    // rewriteVia snapshots columnDefaults up front and re-persists that
    // snapshot into its swap; pre-fix, a bare registry write in this
    // window was lost. Now the DDL claims a commit, so the rewrite's
    // CAS sees the advanced ordinal and aborts — registry intact.
    MedallionTable.testFailpoint = {
      case "pre-commit" =>
        MedallionTable.testFailpoint = _ => ()
        MedallionTable(spark, p).setColumnDefault("s", "'RACED'")
      case _ => ()
    }
    try intercept[java.util.ConcurrentModificationException](t.compact())
    finally MedallionTable.testFailpoint = _ => ()
    assert(t.history().head._2 == "set-default")
    t.compact() // retry sees (and re-persists) the new registry
    t.append(Seq(3L).toDF("id"))
    assert(t.read.filter($"id" === 3L).select("s").head.getString(0)
      == "RACED")
  }
}
