package graft.table

import graft.SparkSpec
import graft.table.MergeOps._
import org.apache.spark.sql.functions._

/** Row tracking ([[MedallionTable.enableRowTracking]] — Delta row-ID
  * parity): backfill on enable, stability across DV updates/merges and
  * OPTIMIZE, fresh ids for appends/inserts, ALWAYS refusals, rollback on
  * a failed backfill, the SQL TBLPROPERTIES surface, and a property-style
  * sweep over random op interleavings (the IdentityPropertySpec pattern).
  */
class RowTrackingSpec extends SparkSpec {
  import spark.implicits._

  private def binding(t: MedallionTable): Map[Long, Long] =
    t.read.select("k", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("enable backfills 1..n; ids stable across update-dv, compact, " +
      "merge-dv, delete; appends and merge inserts get fresh ids") {
    val t = MedallionTable(spark, tmpDir("rt1"))
    t.overwrite((1L to 20L).map(k => (k, s"v$k")).toDF("k", "s"))
    t.enableRowTracking()
    assert(t.rowTrackingEnabled)
    val b0 = binding(t)
    assert(b0.values.toSeq.sorted == (1L to 20L), "dense backfill 1..n")
    // ALWAYS: writers may not supply or SET _row_id
    intercept[IllegalStateException](
      t.append(Seq((21L, "x", 99L)).toDF("k", "s", "_row_id")))
    intercept[IllegalStateException](
      t.update($"k" === 1L, Map("_row_id" -> lit(1L))))
    // churn
    t.updateVectored($"k" % 5 === 0, Map("s" -> lit("upd")))
    t.compact()
    t.mergeVectored(Seq((3L, "m"), (100L, "new")).toDF("mk", "mv"),
      Seq("k" -> "mk"),
      Seq(WhenMatchedUpdate(None, Map("s" -> ((_, sc: ColRef) => sc("mv"))))),
      Seq(WhenNotMatchedInsert(None, Map(
        "k" -> ((_, sc: ColRef) => sc("mk")),
        "s" -> ((_, sc: ColRef) => sc("mv"))))))
    t.deleteVectored($"k" === 7L)
    t.append(Seq((101L, "app")).toDF("k", "s"))
    val b1 = binding(t)
    b0.foreach { case (k, id) =>
      if (k != 7L) assert(b1(k) == id, s"id of k=$k drifted: $id -> ${b1(k)}")
    }
    assert(!b1.contains(7L), "deleted row gone")
    assert(b1(100L) > 20L && b1(101L) > 20L && b1(100L) != b1(101L),
      "new rows get fresh ids")
    assert(b1.values.toSeq.distinct.size == b1.size, "ids unique")
  }

  test("mergePruned inserts get fresh row ids; a source carrying " +
      "_row_id is refused") {
    val t = MedallionTable(spark, tmpDir("rt_pruned"), Seq("blk"))
    t.overwrite(Seq((1L, 0, "a"), (2L, 1, "b")).toDF("id", "blk", "s"))
    t.enableRowTracking()
    val before = t.read.agg(max("_row_id")).head.getLong(0)
    t.mergePruned(Seq((3L, 1, "c"), (2L, 1, "bb")).toDF("id", "blk", "s"),
      Seq("id", "blk"))
    val ids = t.read.select("id", "_row_id").collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    assert(ids.keySet == Set(1L, 2L, 3L))
    assert(ids.values.forall(_ != null), s"NULL row id after mergePruned: $ids")
    assert(ids(3L).asInstanceOf[Long] > before,
      s"inserted row id ${ids(3L)} must be above the previous max $before")
    assert(ids.values.toSeq.distinct.size == 3, "ids unique")
    intercept[IllegalStateException](t.mergePruned(
      Seq((4L, 0, "d", 99L)).toDF("id", "blk", "s", "_row_id"),
      Seq("id", "blk")))
    assert(t.read.count() == 3, "the refused merge landed nothing")
  }

  test("enable on an empty/unborn table assigns from first write; " +
      "refuses a pre-existing unmanaged _row_id; failed backfill rolls " +
      "the registration back") {
    val t = MedallionTable(spark, tmpDir("rt2"))
    t.enableRowTracking()
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    assert(binding(t).values.toSeq.sorted == Seq(1L, 2L))
    // pre-existing unmanaged column refuses
    val t2 = MedallionTable(spark, tmpDir("rt2b"))
    t2.overwrite(Seq((1L, 5L)).toDF("k", "_row_id"))
    val e = intercept[IllegalArgumentException](t2.enableRowTracking())
    assert(e.getMessage.contains("not managed"))
    // failed backfill (CHECK constraint violated by nothing — use a
    // failpoint on the rewrite commit) rolls the registry back
    val t3 = MedallionTable(spark, tmpDir("rt2c"))
    t3.overwrite(Seq((1L, "a")).toDF("k", "s"))
    MedallionTable.testFailpoint = {
      case "pre-commit" =>
        MedallionTable.testFailpoint = _ => ()
        throw new RuntimeException("boom: backfill dies")
      case _ => ()
    }
    try intercept[RuntimeException](t3.enableRowTracking())
    finally MedallionTable.testFailpoint = _ => ()
    assert(!t3.rowTrackingEnabled, "failed backfill must deregister")
    assert(!t3.read.columns.contains("_row_id"))
    t3.append(Seq((2L, "b")).toDF("k", "s")) // no resurrected column
    assert(t3.read.columns.toSeq.sorted == Seq("k", "s"))
  }

  test("SQL surface: SET TBLPROPERTIES enableRowTracking = true") {
    val p = tmpDir("rt_sql")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a")).toDF("k", "s"))
    spark.sql("DROP TABLE IF EXISTS rt_sql_t")
    spark.sql(s"CREATE TABLE rt_sql_t USING graft LOCATION '$p'")
    spark.sql("ALTER TABLE rt_sql_t SET TBLPROPERTIES " +
      "('delta.enableRowTracking' = 'true')")
    assert(t.rowTrackingEnabled)
    assert(t.read.select("_row_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("property: ids never drift or collide across random op " +
      "interleavings (seeded)") {
    val rnd = new scala.util.Random(20260815L)
    val t = MedallionTable(spark, tmpDir("rt_prop"))
    t.overwrite((1L to 12L).map(k => (k, 0L)).toDF("k", "v"))
    t.enableRowTracking()
    var expected = binding(t) // k -> id, maintained by the model
    var nextKey = 1000L
    (0 until 12).foreach { i =>
      rnd.nextInt(6) match {
        case 0 => // append a new row
          t.append(Seq((nextKey, 0L)).toDF("k", "v")); nextKey += 1
        case 1 => // dv update of a surviving key
          expected.keys.toSeq.sorted.headOption.foreach(k =>
            t.updateVectored($"k" === k, Map("v" -> lit(i.toLong))))
        case 2 => t.compact()
        case 3 => // dv merge: update one key, insert one
          t.mergeVectored(Seq((expected.keys.max, i.toLong),
            (nextKey, i.toLong)).toDF("mk", "mv"), Seq("k" -> "mk"),
            Seq(WhenMatchedUpdate(None,
              Map("v" -> ((_, sc: ColRef) => sc("mv"))))),
            Seq(WhenNotMatchedInsert(None, Map(
              "k" -> ((_, sc: ColRef) => sc("mk")),
              "v" -> ((_, sc: ColRef) => sc("mv"))))))
          nextKey += 1
        case 4 => // rewrite delete of one key
          expected.keys.toSeq.sorted.lastOption.foreach(k =>
            t.delete($"k" === k))
        case 5 => // rewrite update (full merge path)
          t.update($"k" % 3 === 0, Map("v" -> lit(i.toLong)))
      }
      val now = binding(t)
      // every key surviving from the previous state keeps its id
      expected.foreach { case (k, id) =>
        if (now.contains(k)) assert(now(k) == id,
          s"step $i: id of k=$k drifted ${id} -> ${now(k)}")
      }
      assert(now.values.toSeq.distinct.size == now.size,
        s"step $i: duplicate row ids")
      expected = now
    }
  }

  test("concurrent appends on a row-tracked table go through the STAGED " +
      "path and draw disjoint id blocks — no collision, no row loss") {
    // Round 18: identity/row-tracking batches are staged-eligible (block
    // allocation under the short identity lock, data job lock-free).
    // Proven, not inferred: the post-stage-write failpoint must fire for
    // every writer, and all ids must be unique across the interleaved
    // publishes.
    val p = tmpDir("rt_concurrent")
    val t = MedallionTable(spark, p, Seq("blk"))
    t.overwrite((0 until 4).map(b => (-1L - b, b)).toDF("k", "blk"))
    t.enableRowTracking()
    val staged = new java.util.concurrent.atomic.AtomicInteger(0)
    MedallionTable.testFailpoint = {
      case "post-stage-write" => staged.incrementAndGet(); ()
      case _ => ()
    }
    val failures =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ths = (0 until 4).map { b =>
      new Thread(() => try {
        MedallionTable(spark, p, Seq("blk"))
          .append((0 until 500).map(i => (b * 10_000L + i, b)).toDF("k", "blk"))
      } catch { case e: Throwable => failures.add(e) }, s"rtc$b")
    }
    try { ths.foreach(_.start()); ths.foreach(_.join(120_000)) }
    finally MedallionTable.testFailpoint = _ => ()
    assert(failures.isEmpty, s"writer died: ${failures.peek()}")
    assert(staged.get >= 4,
      s"row-tracked appends must stage (got ${staged.get} stagings) — " +
        "a serial fallback here re-serializes ingest")
    val rows = t.read.select("k", "_row_id").collect()
    assert(rows.length == 4 * 500 + 4, s"row loss: ${rows.length}")
    val ids = rows.map(_.getLong(1))
    assert(ids.distinct.length == ids.length,
      "row-id collision across concurrent staged appends")
    assert(!rows.exists(_.isNullAt(1)), "appended rows must carry ids")
  }
}
