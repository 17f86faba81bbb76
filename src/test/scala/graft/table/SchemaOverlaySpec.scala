package graft.table

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** Metadata-only ADD/DROP COLUMN: zero data bytes touched at DDL time,
  * read-side overlay semantics, materialization at rewrite, refusal
  * boundaries, rename interplay, and time travel keeping per-snapshot
  * schemas.
  */
class SchemaOverlaySpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def fs(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFileStamps(root: String): Map[String, Long] = {
    val f = fs(root)
    val b = Map.newBuilder[String, Long]
    val it = f.listFiles(new Path(root), true)
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet") &&
          !st.getPath.toString.contains("_graft_meta"))
        b += st.getPath.toString -> st.getModificationTime
    }
    b.result()
  }

  test("addColumn surfaces a typed null, touches no data file, and defers to real values once written") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("so_add"))
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val stamps = dataFileStamps(t.path)

    t.addColumn("score", "DOUBLE")
    assert(dataFileStamps(t.path) == stamps, "ADD COLUMN must touch no data file")
    assert(t.history().head._2 == "add-column")
    val schema = t.read.schema
    assert(schema("score").dataType == org.apache.spark.sql.types.DoubleType)
    assert(t.read.filter($"score".isNull).count() == 2)

    // a later append materializes it; old rows stay null via mergeSchema
    t.append(Seq((3L, "c", 0.5)).toDF("id", "s", "score"))
    val rows = t.read.orderBy("id").select("id", "score").collect()
    assert(rows.map(r => (r.getLong(0), if (r.isNullAt(1)) -1.0 else r.getDouble(1)))
      .toSeq == Seq((1L, -1.0), (2L, -1.0), (3L, 0.5)))
  }

  test("dropColumn hides the column metadata-only; OPTIMIZE sheds the bytes and re-opens the name") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("so_drop"))
    t.overwrite(Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "s", "x"))
    val stamps = dataFileStamps(t.path)

    t.dropColumn("x")
    assert(dataFileStamps(t.path) == stamps, "DROP COLUMN must touch no data file")
    assert(t.read.columns.toSeq == Seq("id", "s"))
    assert(t.history().head._2 == "drop-column")
    // the bytes are still in the files (tombstone, not rewrite)
    assert(spark.read.parquet(t.path).columns.contains("x"))

    // re-adding the tombstoned name is refused until a rewrite sheds it
    intercept[IllegalArgumentException] { t.addColumn("x", "INT") }

    t.compact() // rewrite materializes: files shed the column, overlay clears
    assert(!spark.read.parquet(t.path).columns.contains("x"))
    assert(t.meta.drops.isEmpty, "overlay self-clears at rewrite")
    t.addColumn("x", "INT") // name free again
    assert(t.read.schema("x").dataType == org.apache.spark.sql.types.IntegerType)
  }

  test("appends after a drop never resurrect the column") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("so_drop_append"))
    t.overwrite(Seq((1L, "a", 10)).toDF("id", "s", "x"))
    t.dropColumn("x")
    t.append(Seq((2L, "b")).toDF("id", "s"))
    assert(t.read.columns.toSeq == Seq("id", "s"))
    assert(t.read.count() == 2)
  }

  test("rename-then-drop tombstones the PHYSICAL name; add-then-rename renames inside the overlay") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("so_rename"))
    t.overwrite(Seq((1L, 10)).toDF("id", "x"))
    t.renameColumn("x", "y")
    t.dropColumn("y")
    assert(t.read.columns.toSeq == Seq("id"), "neither name visible post-drop")
    assert(t.meta.drops == Seq("x"),
      "the tombstone must carry the name the FILES use")
    assert(t.meta.colMap.isEmpty, "map entry retired with the drop")

    t.addColumn("c", "STRING")
    t.renameColumn("c", "d")
    assert(t.read.columns.contains("d") && !t.read.columns.contains("c"))
    assert(t.meta.colMap.isEmpty,
      "renaming an unmaterialized ADD must not mint a phantom map pair")
    t.append(Seq((2L, "v")).toDF("id", "d"))
    assert(t.read.filter($"d" === "v").count() == 1)
  }

  test("dropping an unmaterialized ADD retracts cleanly; the name is immediately reusable") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("so_retract"))
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    t.addColumn("tmp", "BIGINT")
    t.dropColumn("tmp")
    assert(!t.read.columns.contains("tmp"))
    assert(t.meta.drops.isEmpty, "no tombstone for a retraction")
    t.addColumn("tmp", "STRING") // reusable at once — no bytes to resurrect
    assert(t.read.schema("tmp").dataType == org.apache.spark.sql.types.StringType)
  }

  test("refusals: partition column, CHECK-referenced column, existing name, tombstoned slot") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("so_refuse"), partitionColumns = Seq("p"))
    t.overwrite(Seq((1L, 0, 5.0)).toDF("id", "p", "v"))
    intercept[IllegalArgumentException] { t.dropColumn("p") }
    t.addCheckConstraint("v_pos", "v >= 0")
    intercept[IllegalArgumentException] { t.dropColumn("v") }
    intercept[IllegalArgumentException] { t.addColumn("id", "BIGINT") }
    intercept[IllegalArgumentException] { t.dropColumn("nope") }
  }

  test("rename onto a tombstoned physical slot is refused (would duplicate-drop the renamed column)") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("so_rename_tomb"))
    t.overwrite(Seq((1L, 10, 20)).toDF("id", "x", "y"))
    t.dropColumn("x")
    intercept[IllegalArgumentException] { t.renameColumn("y", "x") }
    t.compact() // rewrite sheds the tombstoned bytes
    t.renameColumn("y", "x") // slot free again
    assert(t.read.columns.toSeq == Seq("id", "x"))
  }

  test("dropColumn on a shallow clone tombstones columns carried only by pointed-at files") {
    import spark.implicits._
    val srcT = MedallionTable(spark, tmpDir("so_clone_src"))
    srcT.overwrite(Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "s", "x"))
    val clone = MedallionTable(spark, tmpDir("so_clone_dst"))
    clone.cloneFrom(srcT)
    clone.dropColumn("x")
    assert(clone.read.columns.toSeq == Seq("id", "s"),
      "the dropped column lives only in SOURCE files; it must still hide")
    assert(clone.meta.drops == Seq("x"),
      "clone-aware materialization check must write the tombstone")
    intercept[IllegalArgumentException] { clone.addColumn("x", "INT") }
    assert(srcT.read.columns.toSeq == Seq("id", "s", "x"),
      "the source table is untouched")
  }

  test("time travel renders each snapshot with the schema it had") {
    import spark.implicits._
    val t = MedallionTable(spark, tmpDir("so_tt"), retainVersions = 3)
    t.overwrite(Seq((1L, "a", 10)).toDF("id", "s", "x"))
    t.merge(Seq((1L, "A", 11)).toDF("id", "s", "x"), Seq("id")) // archives v1: has x
    t.dropColumn("x")
    t.addColumn("z", "DOUBLE")
    t.compact() // archives v2: post-drop/add state, overlay archived with it
    val vs = t.listVersions()
    assert(t.readVersion(vs.head).columns.toSeq == Seq("id", "s", "x"),
      "pre-drop snapshot keeps the dropped column")
    assert(t.readVersion(vs.last).columns.toSeq == Seq("id", "s", "z"),
      "post-drop snapshot hides it and carries the added column")
    assert(t.read.columns.toSeq == Seq("id", "s", "z"))
  }

  test("SQL surface: ALTER TABLE ADD/DROP COLUMN on a quoted path") {
    import spark.implicits._
    val p = tmpDir("so_sql")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a", 1.5)).toDF("id", "s", "v"))
    spark.sql(s"ALTER TABLE '$p' ADD COLUMN note STRING").collect()
    assert(t.read.columns.toSeq == Seq("id", "s", "v", "note"))
    spark.sql(s"ALTER TABLE '$p' DROP COLUMN v").collect()
    assert(t.read.columns.toSeq == Seq("id", "s", "note"))
    // non-graft targets fall through to Spark's own DDL untouched
    intercept[Exception] {
      spark.sql("ALTER TABLE not_a_graft_table DROP COLUMN v").collect()
    }
  }
}
