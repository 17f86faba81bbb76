package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The table record ([[TableMeta]]): its one codec and file for the
  * declarations and the schema layout, declarations as claimed commits
  * that a staged rewrite cannot discard, a shallow clone carrying the
  * whole record, and rename/drop keeping name-keyed declarations
  * consistent.
  */
class TableMetaSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.types._

  test("codec round-trips all five kinds; tabs survive inside CHECK and " +
      "generation expressions") {
    val m = TableMeta(
      checks = Map("pos" -> "id > 0", "tabbed" -> "s <> '\t'"),
      notNull = Set("id", "s"),
      defaults = Map("s" -> (("STRING", "'D'")),
        "d" -> (("DECIMAL(10,2)", "1.5"))),
      generated = Map("g" -> "id * 2", "h" -> "concat(s, '\t')"),
      identity = Map("rid" -> ((1L, 1L)), "down" -> ((-5L, -2L))))
    assert(TableMeta.decode(m.encode, "test") == m)
    assert(TableMeta.decode(TableMeta.Empty.encode, "test").isEmpty)
  }

  test("codec round-trips every declaration and layout kind; tabs, " +
      "newlines survive") {
    val odd = "a\tb\nc" // a column name holding a tab and a newline
    val m = TableMeta(
      checks = Map("pos" -> "id > 0", "tabbed" -> "s <> '\t'"),
      notNull = Set("id", "s"),
      defaults = Map("s" -> (("STRING", "'D'")),
        "d" -> (("DECIMAL(10,2)", "1.5"))),
      generated = Map("g" -> "id * 2", "h" -> "concat(s, '\t')"),
      identity = Map("rid" -> ((1L, 1L)), "down" -> ((-5L, -2L))),
      schema = Some(StructType(Seq(StructField("id", LongType, false),
        StructField(odd, StringType), StructField("amt", DecimalType(20, 2)),
        StructField("k2", IntegerType)))),
      colMap = Map("k2" -> "k", odd -> "x y+%z"),
      adds = Seq("new" -> StringType, "b" -> DoubleType),
      drops = Seq("gone", "gone\ttoo"),
      widened = Map("amt" -> DecimalType(20, 2)),
      readerSchema = Some(StructType(Seq(StructField("id", LongType),
        StructField("x y+%z", StringType),
        StructField("amt", DecimalType(20, 2)), StructField("k", IntegerType)))))
    assert(m.encode.split('\n').length == 19, "one line per entry")
    assert(TableMeta.decode(m.encode, "test") == m)
    assert(TableMeta.decode(TableMeta.Empty.encode, "test").isEmpty)
  }

  test("a malformed line throws") {
    Seq("check\tonly-a-name", "notnull\ta\tb", "default\ts\tSTRING",
        "generated\tg", "identity\trid\t1", "identity\trid\tx\t1",
        "unknown\tx\ty", "no tab at all", "schema\t{not json",
        "schema\t\"long\"", "colmap\tonly-logical", "add\tc\tnot-a-type",
        "drop", "widened\tx\t\"long\"\textra", "reader\t%ZZ",
        "colmap\t%ZZ\tx").foreach { line =>
      val e = intercept[IllegalStateException](
        TableMeta.decode(s"notnull\tid\n$line", "f"))
      assert(e.getMessage.contains("corrupt"), line)
    }
  }

  test("one file: only TableMeta.scala names it, no registry file is left") {
    val root = new java.io.File("src/main")
    assert(root.isDirectory,
      s"src/main not found under ${new java.io.File(".").getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) files(f) else Seq(f)
      }
    val sources = files(root).filter(_.getName.endsWith(".scala"))
      .map(f => f.getName ->
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    assert(sources.nonEmpty)
    assert(sources.filter(_._2.contains(TableMeta.FileName)).map(_._1) ==
      Seq("TableMeta.scala"))
    val old = Seq("constraints", "notnull", "defaults", "generated",
      "identity", "colmap", "addcols", "dropcols", "widecols").map(_ + ".tsv") ++
      Seq("physschema.ddl", "_graft_meta/schema.ddl", "_graft_colmap.tsv",
        "_graft_addcols.tsv", "_graft_dropcols.tsv", "_graft_widecols.tsv",
        "_graft_physschema.ddl")
    val hits = for ((n, text) <- sources; o <- old if text.contains(o))
      yield s"$n: $o"
    assert(hits.isEmpty, hits.mkString(", "))
  }

  // Each declaration lands while a compaction is staged (its "pre-commit"
  // failpoint). As a claimed commit it advances the ordinal, so the
  // compaction's CAS fails instead of swapping in the record it read
  // before the declaration existed.
  private val races: Seq[(String, String, MedallionTable => Unit,
      MedallionTable => Unit)] = Seq(
    ("ADD CONSTRAINT", "add-constraint",
      _.addCheckConstraint("pos", "id > 0"),
      t => t.append(Seq((-1L, "x", 0L)).toDF("id", "s", "rid"))),
    ("SET NOT NULL", "set-not-null", _.setNotNull("s"),
      t => t.append(Seq((9L, null: String, 0L)).toDF("id", "s", "rid"))),
    ("declare generated", "set-generated",
      _.setGeneratedColumn("rid", "id * 10"),
      t => t.append(Seq((9L, "x", 1L)).toDF("id", "s", "rid"))),
    ("declare identity", "set-identity", _.setIdentityColumn("rid"),
      t => t.append(Seq((9L, "x", 99L)).toDF("id", "s", "rid"))))

  races.foreach { case (what, op, declare, violate) =>
    test(s"$what landing while a rewrite is staged aborts the rewrite; " +
        "the declaration survives and gates the next append") {
      val p = tmpDir("tm_race")
      val t = MedallionTable(spark, p)
      t.overwrite(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "s", "rid"))
      MedallionTable.testFailpoint = {
        case "pre-commit" =>
          MedallionTable.testFailpoint = _ => ()
          declare(MedallionTable(spark, p))
        case _ => ()
      }
      try intercept[java.util.ConcurrentModificationException](t.compact())
      finally MedallionTable.testFailpoint = _ => ()
      assert(t.history().head._2 == op)
      t.compact() // the retry carries the record with the declaration
      intercept[Exception](violate(t))
      assert(t.read.count() == 2, "the violating batch did not land")
    }
  }

  test("shallow clone carries the whole record: an append on the clone " +
      "gets the default and a fresh row id above the source's") {
    val src = MedallionTable(spark, tmpDir("tm_clone_src"))
    src.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    src.setColumnDefault("s", "'D'")
    src.enableRowTracking()
    val srcMax = src.read.agg(max("_row_id")).head.getLong(0)
    val c = MedallionTable(spark, tmpDir("tm_clone"))
    c.cloneFrom(src)
    assert(c.meta == src.meta)
    c.append(Seq(3L).toDF("id"))
    val r = c.read.filter($"id" === 3L).select("s", "_row_id").head
    assert(r.getString(0) == "D", "default applied on the clone")
    assert(!r.isNullAt(1) && r.getLong(1) > srcMax,
      s"row id ${r.get(1)} must be above the source's $srcMax")
  }

  test("NOT NULL follows a rename and retires with a drop") {
    val t = MedallionTable(spark, tmpDir("tm_nn_rename"))
    t.overwrite(Seq((1L, "a", "x")).toDF("id", "s", "u"))
    t.setNotNull("s")
    t.setNotNull("u")
    t.renameColumn("s", "s2")
    assert(t.notNullColumns == Set("s2", "u"))
    t.append(Seq((2L, "b", "y")).toDF("id", "s2", "u"))
    intercept[Exception](
      t.append(Seq((3L, null: String, "z")).toDF("id", "s2", "u")))
    t.dropColumn("u")
    assert(t.notNullColumns == Set("s2"))
    t.append(Seq((4L, "d")).toDF("id", "s2"))
    assert(t.read.count() == 3)
  }

  test("a generated column follows its rename; a column a generation " +
      "expression references refuses rename and drop") {
    val t = MedallionTable(spark, tmpDir("tm_gen_rename"))
    t.setGeneratedColumn("g", "id * 2")
    t.overwrite(Seq(1L).toDF("id"))
    val r = intercept[IllegalArgumentException](t.renameColumn("id", "k"))
    assert(r.getMessage.contains("generated column(s) g"))
    intercept[IllegalArgumentException](t.dropColumn("id"))
    t.renameColumn("g", "g2")
    assert(t.generatedColumns == Map("g2" -> "id * 2"))
    t.append(Seq(5L).toDF("id"))
    assert(t.read.columns.toSeq.sorted == Seq("g2", "id"))
    assert(t.read.filter($"id" === 5L).select("g2").head.getLong(0) == 10L)
  }
}
