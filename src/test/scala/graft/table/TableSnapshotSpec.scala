package graft.table

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[TableSnapshot]]: reads built from the writer-advanced snapshot equal
  * cold reads from disk after every kind of commit, both table handles
  * (API and SQL catalog) share one snapshot, unreadable files fail
  * closed, and the partition fast-DELETE drops rows living in update
  * batches.
  */
class TableSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private val Parts = 4

  private def rows(n0: Long, n1: Long, gen: Int): DataFrame =
    (n0 until n1).map(k => (k, gen * 1000.0 + k, s"g$gen", (k % Parts).toInt))
      .toDF("k", "price", "status", "part")

  private def asSet(df: DataFrame): Set[(Long, Double, String, Int)] =
    df.collect().map(r => (r.getAs[Long]("k"), r.getAs[Double]("price"),
      r.getAs[String]("status"), r.getAs[Int]("part"))).toSet

  /** Read through a session that shares nothing with the writer's, after
    * dropping the registered snapshot: the table rebuilt from disk.
    */
  private def cold(path: String): DataFrame = {
    TableSnapshot.drop(spark, path)
    MedallionTable(spark.newSession(), path).read
  }

  /** Spark jobs `body` launches on this thread (its own job group, so
    * suites running in parallel on the shared context do not count).
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val group = s"snap-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (group == j.properties.getProperty("spark.jobGroup.id")) {
          jobs.incrementAndGet(); ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, group)
    try {
      val out = body
      Thread.sleep(500) // listener bus is async
      (out, jobs.get())
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  test("partition fast-DELETE drops rows that vectored writes moved into " +
      "update batches (retainVersions = 0)") {
    val p = tmpDir("snap_fastdel")
    val t = MedallionTable(spark, p, Seq("part"))
    t.overwrite(rows(0, 200, 0).repartition(col("part")))
    t.append(rows(200, 240, 1))
    val name = "snap_fastdel_orders"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING graft LOCATION '$p'")
    // a handle that does not declare the partition columns (the SQL
    // catalog's) writes its update batches without the partition layout
    val src = rows(150, 260, 2)
    MedallionTable(spark, p).mergeVectored(src, Seq("k" -> "k"),
      Seq(MergeOps.WhenMatchedUpdate(None, Map(
        "price" -> ((_, s) => s("price")), "status" -> ((_, s) => s("status"))))),
      Seq(MergeOps.WhenNotMatchedInsert(None, src.columns.map(c =>
        c -> ((_: MergeOps.ColRef, s: MergeOps.ColRef) => s(c))).toMap)))
    t.updateVectored(col("k").between(100, 180),
      Map("price" -> (col("price") + 1), "status" -> lit("u")))
    val dv = spark.newSession()
    dv.conf.set("spark.graft.dvWrites", "true")
    dv.sql(s"UPDATE $name SET status = 'v' WHERE k >= 230 AND k <= 255")
    t.delete(col("part") === 1)
    val want = (0L until 260L).filter(_ % Parts != 1).map { k =>
      val merged = k >= 150
      val base = if (merged) 2000.0 + k else if (k >= 200) 1000.0 + k else k.toDouble
      val updated = k >= 100 && k <= 180
      (k, if (updated) base + 1 else base,
        if (k >= 230 && k <= 255) "v" else if (updated) "u"
        else if (merged) "g2" else "g0",
        (k % Parts).toInt)
    }.toSet
    assert(asSet(t.read) == want)
    assert(asSet(cold(p)) == want)
  }

  test("snapshot-built reads equal cold reads after every table_dml op, " +
      "across the API and SQL handles and a foreign session's commit") {
    val p = tmpDir("snap_replay")
    val t = MedallionTable(spark, p, Seq("part"), retainVersions = 0)
    t.overwrite(rows(0, 400, 0).repartition(col("part")))
    t.enableChangeDataFeed()
    val name = "snap_replay_orders"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING graft LOCATION '$p'")
    // the catalog hands the location back file:-qualified; both handles
    // must resolve to one snapshot
    val catalogPath = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name))
      .location.toString
    assert(catalogPath.startsWith("file:"), catalogPath)
    assert(TableSnapshot.keyOf(spark, catalogPath) == TableSnapshot.keyOf(spark, p))
    val dv = spark.newSession()
    dv.conf.set("spark.graft.dvWrites", "true")

    def check(op: String, feed: Map[String, Long], from: Long): Unit = {
      val hot = t.read
      val sqlHot = dv.sql(s"SELECT * FROM $name")
      val c = cold(p)
      assert(hot.schema == c.schema, s"$op: schema ${hot.schema} != cold ${c.schema}")
      val got = asSet(hot)
      assert(got == asSet(c), s"$op: snapshot read differs from the cold read")
      assert(asSet(sqlHot) == got, s"$op: SQL handle differs from the API handle")
      assert(hot.count() == got.size, s"$op: duplicate rows")
      if (feed.nonEmpty) {
        val f = t.readChangeFeed(from).groupBy("_change_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(f == feed, s"$op: feed $f != $feed")
      }
    }
    def step(op: String, feed: Map[String, Long] = Map.empty)(body: => Unit): Unit = {
      val from = t.commitVersion + 1
      body
      check(op, feed, from)
    }

    step("append", Map("insert" -> 40L))(t.append(rows(400, 440, 1)))
    step("merge_vectored", Map("update_preimage" -> 30L,
        "update_postimage" -> 30L, "insert" -> 10L)) {
      val src = rows(410, 450, 2)
      t.mergeVectored(src, Seq("k" -> "k"),
        Seq(MergeOps.WhenMatchedUpdate(None, Map(
          "price" -> ((_, s) => s("price")), "status" -> ((_, s) => s("status"))))),
        Seq(MergeOps.WhenNotMatchedInsert(None, src.columns.map(c =>
          c -> ((_: MergeOps.ColRef, s: MergeOps.ColRef) => s(c))).toMap)))
    }
    step("update_vectored", Map("update_preimage" -> 21L,
        "update_postimage" -> 21L)) {
      t.updateVectored(col("k").between(420, 440),
        Map("price" -> (col("price") + 1), "status" -> lit("u")))
    }
    step("sql_merge") {
      val src = rows(445, 460, 3)
      dv.createDataFrame(java.util.List.of(src.collect(): _*), src.schema)
        .createOrReplaceTempView("snap_replay_src")
      dv.sql(s"""MERGE INTO $name t USING snap_replay_src s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET price = s.price
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    // a second session commits between two ops: the next read must see it
    step("foreign_update") {
      MedallionTable(spark.newSession(), p, Seq("part"))
        .updateVectored(col("k") < 5, Map("status" -> lit("x")))
    }
    step("delete_vectored", Map("delete" -> 11L))(
      t.deleteVectored(col("k").between(10, 20)))
    step("sql_update")(dv.sql(
      s"UPDATE $name SET price = price + 2 WHERE k BETWEEN 100 AND 130"))
    step("delete_partition")(t.delete(col("part") === 2))
    step("compact_dv")(t.compactDv())
    assert(asSet(t.read).forall(_._4 != 2))
  }

  test("after a same-JVM commit, read and the SQL inferSchema launch no job") {
    val p = tmpDir("snap_jobs")
    val t = MedallionTable(spark, p, Seq("part"))
    t.overwrite(rows(0, 100, 0).repartition(col("part")))
    t.updateVectored(col("k") < 10, Map("status" -> lit("u")))
    t.deleteVectored(col("k") === 50L)
    val src = rows(95, 110, 1)
    t.mergeVectored(src, Seq("k" -> "k"),
      Seq(MergeOps.WhenMatchedUpdate(None, Map("price" -> ((_, s) => s("price"))))),
      Seq(MergeOps.WhenNotMatchedInsert(None, src.columns.map(c =>
        c -> ((_: MergeOps.ColRef, s: MergeOps.ColRef) => s(c))).toMap)))
    t.append(rows(110, 120, 2))
    val (schema, jobs) = jobsOf {
      val s = t.read.schema
      val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", p))
      assert(new graft.sources.GraftSqlSource().inferSchema(opts) == s)
      s
    }
    assert(jobs == 0, s"building read + inferSchema ran $jobs job(s)")
    assert(schema == cold(p).schema)
    assert(t.read.count() == 119L)
  }

  private def truncate(f: java.io.File): Unit = {
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    java.nio.file.Files.write(f.toPath, bytes.take(bytes.length / 2))
    // the checksum filesystem would report the truncation as a CRC
    // error; drop the sidecar so the parquet reader sees the damage
    new java.io.File(f.getParent, s".${f.getName}.crc").delete()
  }

  private def parquetsUnder(d: java.io.File): Seq[java.io.File] =
    if (d.isDirectory) d.listFiles.toSeq.flatMap(parquetsUnder)
    else if (d.getName.endsWith(".parquet")) Seq(d) else Nil

  test("an unreadable footer fails the commit guard closed") {
    val d = java.nio.file.Files.createTempDirectory("snap_guard").toFile
    Seq((1L, "a")).toDF("k", "s").write.mode("overwrite").parquet(d.toString)
    assert(DvUpdates.anyRows(spark, d.toString))
    parquetsUnder(d).foreach(truncate)
    intercept[Exception](DvUpdates.anyRows(spark, d.toString))
  }

  test("an unreadable mark or batch file aborts the read instead of " +
      "hiding nothing") {
    val p = tmpDir("snap_corrupt")
    val t = MedallionTable(spark, p)
    t.overwrite(rows(0, 50, 0))
    t.deleteVectored(col("k") < 5)
    assert(t.read.count() == 45L)
    parquetsUnder(new java.io.File(p, "_graft_meta/dv")).foreach(truncate)
    TableSnapshot.drop(spark, p)
    intercept[Exception](t.read)

    val p2 = tmpDir("snap_corrupt_batch")
    val t2 = MedallionTable(spark, p2)
    t2.overwrite(rows(0, 50, 0))
    t2.updateVectored(col("k") < 5, Map("status" -> lit("u")))
    assert(t2.read.filter($"status" === "u").count() == 5L)
    parquetsUnder(new java.io.File(p2, "_graft_meta/dv_updates")).foreach(truncate)
    TableSnapshot.drop(spark, p2)
    intercept[Exception](t2.read)
  }
}
