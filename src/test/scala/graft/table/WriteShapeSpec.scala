package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-19 optimization internals, pinned:
  *
  *  - [[MedallionTable]] `clusterSmallWrite`: a driver-built
  *    (local-relation) micro-batch lands as ONE file per partition value
  *    instead of `defaultParallelism` shards; an explicit repartition in
  *    the batch plan is the caller's declared layout and passes through;
  *    `spark.graft.smallWriteClusterBytes=0` disables the clustering.
  *  - [[TableSnapshot]] publishing: a schema-preserving staged append
  *    and the DV commits hand the next snapshot to the next reader, so
  *    building `read` — and the SQL source's `inferSchema` — after a
  *    same-JVM commit runs ZERO Spark jobs (no footer-resolution, batch
  *    schema inference or mark collect) and still equals a cold read
  *    from disk — while a schema-EVOLVING append (global claim) drops the
  *    base schema and re-resolves.
  */
class WriteShapeSpec extends SparkSpec {
  import spark.implicits._

  private def parquets(p: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(p))
  }

  /** The SQL source's catalog-side schema inference over `p`. */
  private def inferSchema(p: String) =
    new graft.sources.GraftSqlSource().inferSchema(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", p)))

  test("local-relation micro-batches land as one file per commit") {
    val p = tmpDir("wshape1")
    val t = MedallionTable(spark, p)
    t.overwrite((0 until 1000).map(i => (i.toLong, s"v$i")).toDF("id", "s"))
    assert(parquets(p).size == 1, "overwrite of a local frame = 1 file")
    t.append((0 until 50).map(i => (i.toLong, s"w$i")).toDF("id", "s"))
    assert(parquets(p).size == 2, "tiny append adds exactly 1 file")
    assert(t.read.count() == 1050L)
  }

  test("partitioned local batch lands one file per partition value") {
    val p = tmpDir("wshape2")
    val t = MedallionTable(spark, p, partitionColumns = Seq("k"))
    t.overwrite((0 until 200).map(i => (i % 4, i.toLong)).toDF("k", "v"))
    assert(parquets(p).size == 4, "4 partition values = 4 files")
    assert(t.read.count() == 200L)
  }

  test("an explicit repartition in the batch is the declared layout") {
    val p = tmpDir("wshape3")
    val t = MedallionTable(spark, p)
    t.overwrite((0 until 400).map(i => (i.toLong, s"v$i")).toDF("id", "s")
      .repartitionByRange(5, $"id"))
    assert(parquets(p).size == 5,
      "repartitionByRange(5) must keep its 5-file fan-out")
  }

  test("smallWriteClusterBytes=0 disables the clustering") {
    val p = tmpDir("wshape4")
    // isolated session: suites share one SparkContext and run in
    // parallel, so flipping the conf on the shared session would turn
    // clustering off under concurrent suites' writes mid-test
    val s = spark.newSession()
    s.conf.set("spark.graft.smallWriteClusterBytes", "0")
    val t = MedallionTable(s, p)
    import s.implicits._
    t.overwrite((0 until 1000).map(i => (i.toLong, s"v$i")).toDF("id", "s"))
    assert(parquets(p).size > 1,
      "disabled: the local frame keeps its parallelize fan-out")
  }

  test("schema-preserving staged append re-seeds the schema memo") {
    val p = tmpDir("wreseed1")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    t.read.schema // cold: pays the footer job, resolves the snapshot
    t.append(Seq((2L, "b")).toDF("id", "s")) // staged, schema-preserving
    // suites share one SparkContext and may run in parallel: count only
    // jobs submitted under THIS test's job group, not bystanders'
    val group = s"wreseed-${java.util.UUID.randomUUID()}"
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
      val schema = t.read.schema // published by the append: no job
      assert(inferSchema(p) == schema)
      Thread.sleep(500) // listener bus is async
      assert(jobs.get() == 0,
        s"post-append read must build from the published snapshot, " +
          s"ran ${jobs.get()} job(s)")
      // and the carried schema is the real one: a cold rebuild in a
      // FRESH session resolves from footers and must agree
      TableSnapshot.drop(spark, p)
      val fresh = MedallionTable(spark.newSession(), p).read.schema
      assert(schema == fresh,
        s"carried schema drifted: snapshot=$schema footer=$fresh")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
    assert(t.read.count() == 2L)
  }

  test("DV commits carry the schema memo: the post-update read pays at " +
      "most the one sidecar-collect job (no footer or inference jobs)") {
    val p = tmpDir("wreseed3")
    val t = MedallionTable(spark, p)
    t.overwrite((0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "s"))
    t.read.schema // resolves the snapshot's base schema
    t.updateVectored($"id" % 10 === 1, Map("s" -> lit("upd"))) // base-preserving
    t.deleteVectored($"id" % 25 === 3) // likewise
    val group = s"wreseed3-${java.util.UUID.randomUUID()}"
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
      // published by both DV commits: no base footer job, no batch
      // schema inference, and the new marks were read on the driver by
      // the writer — no collect job either
      val schema = t.read.schema
      assert(inferSchema(p) == schema)
      Thread.sleep(500)
      assert(jobs.get() == 0,
        s"post-DV-commit read must build from the published snapshot, " +
          s"ran ${jobs.get()} job(s)")
      TableSnapshot.drop(spark, p)
      val fresh = MedallionTable(spark.newSession(), p).read.schema
      assert(schema == fresh,
        s"carried schema drifted: snapshot=$schema footer=$fresh")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
    assert(t.read.filter($"s" === "upd").count() === 10L)
    assert(t.read.count() === 96L)
  }

  test("schema-evolving append still drops the memo and re-resolves") {
    val p = tmpDir("wreseed2")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    t.read.schema
    t.append(Seq((2L, "b", 9.5)).toDF("id", "s", "score")) // record-changing
    assert(t.read.schema.fieldNames.contains("score"),
      "evolution must re-resolve, never serve a carried stale schema")
    assert(t.read.filter($"score".isNotNull).count() == 1L)
  }
}
