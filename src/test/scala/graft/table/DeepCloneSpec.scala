package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** DEEP CLONE ([[MedallionTable.deepCloneFrom]] / `CREATE TABLE t CLONE
  * s`): a materialized copy — zero pointer entries, registries carried
  * (identity high-water included), soft state (DV marks, update batches,
  * column maps, widenings) applied-and-materialized, and both sides
  * decoupled under diverging writes.
  */
class DeepCloneSpec extends SparkSpec {
  import spark.implicits._

  test("registries travel: CHECK, NOT NULL, defaults, generated, and " +
      "the identity HIGH-WATER; zero pointer entries") {
    val src = MedallionTable(spark, tmpDir("dc1s"))
    src.setIdentityColumn("rid")
    src.setGeneratedColumn("v2", "v * 2") // declare BEFORE data exists
    src.overwrite(Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "s", "v"))
    src.addCheckConstraint("v_pos", "v > 0")
    src.setNotNull("s")
    src.setColumnDefault("s", "'D'")
    val hwBefore = src.read.select(max($"rid")).head.getLong(0)
    val t = MedallionTable(spark, tmpDir("dc1t"))
    t.deepCloneFrom(src)
    assert(!ShallowClone.isClone(spark, t.path), "deep clone left pointers")
    assert(t.checkConstraints == src.checkConstraints)
    assert(t.notNullColumns == src.notNullColumns)
    assert(t.columnDefaults == src.columnDefaults)
    assert(t.generatedColumns == src.generatedColumns)
    assert(t.identityColumns == src.identityColumns)
    // identity allocation continues ABOVE the source's high-water
    t.append(Seq((3L, "c", 30)).toDF("id", "s", "v"))
    val newId = t.read.filter($"id" === 3L).select("rid").head.getLong(0)
    assert(newId > hwBefore, s"clone re-allocated id $newId <= $hwBefore")
    // gates armed: CHECK refuses, default fills
    intercept[Exception](t.append(Seq((9L, "x", -5)).toDF("id", "s", "v")))
    t.append(Seq((4L, 40)).toDF("id", "v"))
    assert(t.read.filter($"id" === 4L).select("s").head.getString(0) == "D")
    assert(t.read.filter($"id" === 4L).select("v2").head.getInt(0) == 80)
  }

  test("soft state materializes: DV deletes, update batches, renamed and " +
      "widened columns land physically; diverging writes stay decoupled") {
    val src = MedallionTable(spark, tmpDir("dc2s"))
    src.overwrite((0 until 100).map(i => (i.toLong, i)).toDF("id", "v"))
    src.deleteVectored($"id" < 10)
    src.updateVectored($"id" === 50L, Map("v" -> lit(5000)))
    src.renameColumn("v", "val")
    src.alterColumnType("val", "BIGINT")
    val expect = src.read.orderBy("id").collect().toSeq
    val t = MedallionTable(spark, tmpDir("dc2t"))
    t.deepCloneFrom(src)
    assert(t.read.orderBy("id").collect().toSeq == expect)
    // materialized: no DV soft state, no column map, no widening overlay
    assert(!t.hasDvState, "clone carried DV soft state instead of materializing")
    assert(t.meta.colMap.isEmpty)
    assert(t.widenedColumns.isEmpty)
    // decoupled: rewrite + delete on the source do not move the clone...
    src.compact()
    src.delete(lit(true))
    assert(t.read.count() == 90)
    assert(t.read.orderBy("id").collect().toSeq == expect)
    // ...and clone writes do not reach the (now empty) source
    t.append(Seq((500L, 1L)).toDF("id", "val"))
    assert(t.read.count() == 91 && src.read.count() == 0)
  }

  test("partitioned source keeps its hive layout; SQL CREATE TABLE … " +
      "CLONE routes deep, SHALLOW still routes shallow") {
    val src = MedallionTable(spark, tmpDir("dc3s"), Seq("g"))
    src.overwrite((0 until 40).map(i => (i.toLong, i % 4))
      .toDF("id", "g").repartition(2))
    val tgt = tmpDir("dc3t")
    val rows = spark.sql(
      s"CREATE TABLE '$tgt' CLONE '${src.path}'").collect()
    assert(rows.head.getLong(1) == 40L)
    assert(new java.io.File(s"$tgt/g=1").exists(), "hive layout lost")
    val t = MedallionTable(spark, tgt, Seq("g"))
    assert(t.read.count() == 40)
    assert(!ShallowClone.isClone(spark, tgt))
    // the SHALLOW spelling still takes the pointer path
    val src2 = MedallionTable(spark, tmpDir("dc4s"))
    src2.overwrite(Seq((1L, "a")).toDF("id", "s"))
    val tgt2 = tmpDir("dc4t")
    spark.sql(s"CREATE TABLE '$tgt2' SHALLOW CLONE '${src2.path}'")
    assert(ShallowClone.isClone(spark, tgt2))
  }

  test("source-side fence: a clone cannot start while a source writer " +
      "lock stands (torn-capture guard), and proceeds once it clears") {
    val src = MedallionTable(spark, tmpDir("dc5s"))
    src.overwrite((0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "s"))
    // a claim-first writer mid-data-write on the SOURCE: its job-committer
    // renames are not atomic as a set, so a copy running now could capture
    // a partial batch and persist a torn clone silently
    val lock = new java.io.File(s"${src.path}__graft_commits/write.lock")
    lock.getParentFile.mkdirs()
    assert(lock.createNewFile())
    val tgt = MedallionTable(spark, tmpDir("dc5t"))
    try {
      val e = intercept[java.util.ConcurrentModificationException](
        tgt.deepCloneFrom(src))
      assert(e.getMessage.contains("deep clone"), e.getMessage)
    } finally lock.delete()
    // fence clear: the clone lands complete
    val tgt2 = MedallionTable(spark, tmpDir("dc5t2"))
    tgt2.deepCloneFrom(src)
    assert(tgt2.read.count() == 100)
    assert(tgt2.read.select(sum($"id")).head.getLong(0) ==
      src.read.select(sum($"id")).head.getLong(0))
  }
}
