package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The table snapshot's multi-session boundary ([[TableSnapshot]]
  * scaladoc), pinned as tests instead of prose:
  *
  *  - SUPPORTED: sequential cross-session evolution. Session B reads the
  *    snapshot registered under the old commit stamp, which session A's
  *    evolving append changes (claim-first), so B's next read rebuilds
  *    and sees the new column.
  *  - SUPPORTED: a reader session racing a schema-evolving append inside
  *    the data-lands-after-claim window. B builds mid-write from the
  *    pre-write files; the writer then publishes the snapshot of what it
  *    wrote under the post-release stamp, so B's next read is correct.
  *  - Across JVMs the same race heals by the stamp: a snapshot built
  *    while a writer's lock stood never matches the post-release listing.
  */
class SchemaMemoCrossSessionSpec extends SparkSpec {
  import spark.implicits._

  test("sequential cross-session schema evolution is re-resolved") {
    val p = tmpDir("memo_seq")
    val t1 = MedallionTable(spark, p)
    t1.overwrite(Seq((1L, "a")).toDF("id", "s"))
    val s2 = spark.newSession()
    val t2 = MedallionTable(s2, p)
    assert(t2.read.schema.fieldNames.toSeq == Seq("id", "s"))
    // session A evolves the schema (mergeSchema append with a new column)
    t1.append(Seq((2L, "b", 9.5)).toDF("id", "s", "score"))
    assert(t2.read.schema.fieldNames.contains("score"),
      "stamp change must force session B to re-resolve")
    assert(t2.read.filter($"score".isNotNull).count() == 1L)
  }

  test("reader racing a schema-evolving append heals at write completion") {
    val p = tmpDir("memo_race")
    val t1 = MedallionTable(spark, p)
    t1.overwrite(Seq((1L, "a")).toDF("id", "s"))
    val s2 = spark.newSession()
    val t2 = MedallionTable(s2, p)
    assert(t2.read.schema.fieldNames.toSeq == Seq("id", "s"))
    // from INSIDE the writer's claim (post-claim, pre-data): session B
    // builds from the pre-write files — the exact data-lands-after-claim
    // window the scaladoc describes
    var racedSchema: Seq[String] = Nil
    MedallionTable.testFailpoint = {
      case "mid-claim-first" =>
        MedallionTable.testFailpoint = _ => ()
        racedSchema = t2.read.schema.fieldNames.toSeq
      case _ => ()
    }
    try t1.append(Seq((2L, "b", 9.5)).toDF("id", "s", "score"))
    finally MedallionTable.testFailpoint = _ => ()
    assert(racedSchema == Seq("id", "s"),
      s"mid-write resolve must still see the pre-write schema: $racedSchema")
    // write completion published the written snapshot: correct at once
    assert(t2.read.schema.fieldNames.contains("score"),
      "racing reader session must re-resolve after the write completes")
    assert(t2.read.count() == 2L)
  }

  test("noAqeSession mirrors the parent's RUNTIME conf (not just initial) " +
      "and keeps adaptive pinned off") {
    // newSession() starts from initial configs — a parent's runtime
    // overrides (case sensitivity, ANSI flags, hadoop credentials set
    // after startup) would silently not apply to internal stats reads,
    // and the catch-into-invalidateStats would disarm file skipping on
    // every commit. The clone must track the parent on EVERY reuse.
    val key = "spark.sql.caseSensitive"
    val orig = spark.conf.get(key)
    try {
      spark.conf.set(key, "true")
      val c1 = SessionCaches.noAqeSession(spark)
      assert(c1.conf.get(key) == "true", "clone must carry runtime overrides")
      assert(c1.conf.get("spark.sql.adaptive.enabled") == "false")
      // parent changes again AFTER the clone exists: reuse re-mirrors
      spark.conf.set(key, "false")
      val c2 = SessionCaches.noAqeSession(spark)
      assert(c2 eq c1, "the clone is cached per parent session")
      assert(c2.conf.get(key) == "false",
        "reuse must re-mirror the parent's current conf")
      assert(c2.conf.get("spark.sql.adaptive.enabled") == "false",
        "adaptive stays pinned off after re-mirroring")
    } finally spark.conf.set(key, orig)
  }

  test("noAqeSession reverts a key the parent unset()s instead of " +
      "serving the stale override forever") {
    val key = "spark.sql.caseSensitive"
    val other = "spark.sql.autoBroadcastJoinThreshold"
    val origOther = spark.conf.get(other)
    try {
      spark.conf.set(key, "true")
      val c1 = SessionCaches.noAqeSession(spark)
      assert(c1.conf.get(key) == "true")
      // parent REVERTS via unset: plain re-mirroring sees no entry for
      // the key and would leave the clone's copy standing forever —
      // internal stats reads stuck under reverted semantics
      spark.conf.unset(key)
      spark.conf.set(other, "12345") // a later key must still mirror
      val c2 = SessionCaches.noAqeSession(spark)
      assert(c2.conf.get(key) == spark.conf.get(key),
        "an unset key must revert on the clone too")
      assert(c2.conf.get(other) == "12345",
        "remaining keys must still mirror after the unset pass")
      assert(c2.conf.get("spark.sql.adaptive.enabled") == "false")
    } finally {
      spark.conf.unset(key)
      spark.conf.set(other, origOther)
    }
  }
}
