package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Type widening ([[MedallionTable.alterColumnType]] / [[WideCols]] —
  * Delta's `ALTER COLUMN … TYPE <wider>` table feature): metadata-only
  * widening over mixed narrow/wide parquet footers, the supported-matrix
  * refusals, canonical wide appends, DV/rewrite/clone/time-travel/CDF
  * interplay, and the SQL DDL surface.
  */
class TypeWideningSpec extends SparkSpec {
  import spark.implicits._

  private def footerType(dir: String, col: String): Set[String] = {
    // per-file footer schemas (no merging): the physical spelling census
    val files = ShallowClone.listParquet(spark, dir)
    files.map(f => spark.read.parquet(f).schema.find(_.name == col)
      .map(_.dataType.simpleString).getOrElse("absent")).toSet
  }

  test("int->long: narrow files stay, wide appends land, values and " +
      "dtype correct; rewrite materializes the overlay away") {
    val p = tmpDir("tw1")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1, "a"), (2, "b")).toDF("x", "s"))
    t.alterColumnType("x", "BIGINT")
    assert(t.widenedColumns == Map("x" -> LongType))
    // read dtype flips immediately; values preserved from narrow pages
    assert(t.read.schema("x").dataType == LongType)
    assert(t.read.select(sum($"x")).head.getLong(0) == 3L)
    // post-widen append with values past Int.MaxValue
    t.append(Seq((30000000000L, "c")).toDF("x", "s"))
    assert(t.read.count() == 3)
    assert(t.read.select(max($"x")).head.getLong(0) == 30000000000L)
    // a post-widen NARROW batch is canonicalized to wide on write
    t.append(Seq((4, "d")).toDF("x", "s"))
    assert(footerType(p, "x") == Set("int", "bigint"))
    // rewrite (OPTIMIZE) materializes: overlay gone, files all wide
    t.compact()
    assert(t.widenedColumns.isEmpty)
    assert(t.meta.readerSchema.isEmpty)
    assert(footerType(p, "x") == Set("bigint"))
    assert(t.read.schema("x").dataType == LongType)
    assert(t.read.select(sum($"x")).head.getLong(0) == 30000000007L)
  }

  test("unsupported changes refuse with the matrix and rewrite hatch " +
      "named; boundary columns refuse") {
    val t = MedallionTable(spark, tmpDir("tw2"), Seq("pcol"))
    t.overwrite(Seq((1L, 1.5, 1, 2)).toDF("big", "dbl", "x", "pcol"))
    // long -> double is lossy, long -> int is narrowing; both refused
    for (bad <- Seq("big" -> "DOUBLE", "big" -> "INT", "dbl" -> "FLOAT")) {
      val e = intercept[IllegalArgumentException](
        t.alterColumnType(bad._1, bad._2))
      assert(e.getMessage.contains("not a supported widening"))
      assert(e.getMessage.contains("rewrite the table"))
    }
    // same-type no-op is refused too (it is not a widening)
    intercept[IllegalArgumentException](t.alterColumnType("x", "INT"))
    // partition column: directory values are physical
    val ep = intercept[IllegalArgumentException](
      t.alterColumnType("pcol", "BIGINT"))
    assert(ep.getMessage.contains("partition column"))
    // missing column
    intercept[IllegalArgumentException](t.alterColumnType("nope", "BIGINT"))
  }

  test("identity / generated / generated-source / unmaterialized-ADD " +
      "columns refuse with their hatches named") {
    val t = MedallionTable(spark, tmpDir("tw3"))
    t.setIdentityColumn("rid")
    t.setGeneratedColumn("x2", "x * 2")
    t.overwrite(Seq((1, 10)).toDF("x", "y"))
    val ei = intercept[IllegalArgumentException](
      t.alterColumnType("rid", "DECIMAL(20,0)"))
    assert(ei.getMessage.contains("IDENTITY"))
    val eg = intercept[IllegalArgumentException](
      t.alterColumnType("x2", "BIGINT"))
    assert(eg.getMessage.contains("generated"))
    val es = intercept[IllegalArgumentException](
      t.alterColumnType("x", "BIGINT"))
    assert(es.getMessage.contains("generated"))
    // y is clean — but first declare-without-materialize refuses
    t.addColumn("z", "INT")
    val ea = intercept[IllegalArgumentException](
      t.alterColumnType("z", "BIGINT"))
    assert(ea.getMessage.contains("not-yet-materialized"))
    t.alterColumnType("y", "BIGINT") // the clean column widens fine
    assert(t.read.schema("y").dataType == LongType)
  }

  test("float->double, int->decimal, decimal->wider decimal, " +
      "date->timestamp_ntz all decode narrow pages correctly") {
    val t = MedallionTable(spark, tmpDir("tw4"))
    t.overwrite(Seq((1.5f, 7, BigDecimal("12345.67"),
      java.sql.Date.valueOf("2024-03-01"))).toDF("f", "i", "d", "dt")
      .withColumn("d", $"d".cast("decimal(10,2)")))
    t.alterColumnType("f", "DOUBLE")
    t.alterColumnType("i", "DECIMAL(12,2)")
    t.alterColumnType("d", "DECIMAL(14,4)")
    t.alterColumnType("dt", "TIMESTAMP_NTZ")
    val r = t.read.head
    assert(r.getDouble(r.fieldIndex("f")) == 1.5d)
    assert(r.getDecimal(r.fieldIndex("i")).toPlainString == "7.00")
    assert(r.getDecimal(r.fieldIndex("d")).toPlainString == "12345.6700")
    assert(r.getAs[java.time.LocalDateTime]("dt") ==
      java.time.LocalDate.of(2024, 3, 1).atStartOfDay)
    // decimal scale growth that shrinks integer digits refuses
    intercept[IllegalArgumentException](t.alterColumnType("d", "DECIMAL(14,9)"))
  }

  test("re-widen chain byte->int->long keeps every intermediate footer " +
      "readable") {
    val p = tmpDir("tw5")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq(7.toByte).toDF("x"))
    t.alterColumnType("x", "INT")
    t.append(Seq(100000).toDF("x"))
    t.alterColumnType("x", "BIGINT")
    t.append(Seq(30000000000L).toDF("x"))
    assert(footerType(p, "x") == Set("tinyint", "int", "bigint"))
    assert(t.read.schema("x").dataType == LongType)
    assert(t.read.select(sum($"x")).head.getLong(0) == 30000100007L)
  }

  test("DV update/merge over a widened table: amended reads correct, " +
      "batch files coerce in the union") {
    import MergeOps._
    val t = MedallionTable(spark, tmpDir("tw6"))
    t.overwrite(Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("k", "v"))
    t.alterColumnType("k", "BIGINT")
    t.updateVectored($"k" === 1L, Map("v" -> lit(11.0)))
    // merge with a NARROW int source key against the widened long column
    val src = Seq((2, 22.0), (4, 44.0)).toDF("mk", "mv")
    t.mergeVectored(src, Seq("k" -> "mk"),
      Seq(WhenMatchedUpdate(None, Map("v" -> ((_, s) => s("mv"))))),
      Seq(WhenNotMatchedInsert(None, Map(
        "k" -> ((_, s) => s("mk")), "v" -> ((_, s) => s("mv"))))))
    val got = t.read.orderBy("k").as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 11.0), (2L, 22.0), (3L, 30.0), (4L, 44.0)))
    assert(t.read.schema("k").dataType == LongType)
  }

  test("time travel: a pre-widen snapshot reads narrow, a post-widen " +
      "snapshot reads wide from its archived reader schema") {
    val t = MedallionTable(spark, tmpDir("tw7"), retainVersions = 4)
    t.overwrite(Seq((1, "a")).toDF("x", "s"))
    t.update($"x" === 1, Map("s" -> lit("a2"))) // snapshot v1: narrow
    t.alterColumnType("x", "BIGINT")
    t.append(Seq((30000000000L, "b")).toDF("x", "s"))
    t.update($"x" === 1L, Map("s" -> lit("a3"))) // snapshot v2: mixed+overlay
    val vs = t.listVersions()
    assert(t.readVersion(vs.head).schema("x").dataType == IntegerType)
    val v2 = t.readVersion(vs.last)
    assert(v2.schema("x").dataType == LongType)
    assert(v2.select(max($"x")).head.getLong(0) == 30000000000L)
    // the live table materialized wide through the update rewrite
    assert(t.widenedColumns.isEmpty)
    assert(t.read.schema("x").dataType == LongType)
  }

  test("CDF feed read spans the widen boundary: one consolidated scan " +
      "over narrow and wide append files") {
    val t = MedallionTable(spark, tmpDir("tw8"))
    t.enableChangeDataFeed()
    t.overwrite(Seq((1, "a")).toDF("x", "s"))
    t.append(Seq((2, "b")).toDF("x", "s"))
    t.alterColumnType("x", "BIGINT")
    t.append(Seq((30000000000L, "c")).toDF("x", "s"))
    val feed = t.readChangeFeed(2L)
    assert(feed.schema("x").dataType == LongType)
    val inserts = feed.filter($"_change_type" === "insert")
      .select("x").as[Long].collect().toSet
    assert(inserts == Set(1L, 2L, 30000000000L))
  }

  test("shallow clone of a widened source copies the overlay; widening " +
      "a clone itself refuses") {
    val src = MedallionTable(spark, tmpDir("tw9src"))
    src.overwrite(Seq((1, "a")).toDF("x", "s"))
    src.alterColumnType("x", "BIGINT")
    src.append(Seq((30000000000L, "b")).toDF("x", "s"))
    val c = MedallionTable(spark, tmpDir("tw9c"))
    c.cloneFrom(src)
    assert(c.read.schema("x").dataType == LongType)
    assert(c.read.select(max($"x")).head.getLong(0) == 30000000000L)
    val e = intercept[IllegalArgumentException](
      c.alterColumnType("s", "BIGINT")) // refused before type validation?
    // (s is string — use a fresh clone column check on x's table instead)
    assert(e.getMessage.contains("not a supported widening") ||
      e.getMessage.contains("shallow clone"))
    val e2 = intercept[IllegalArgumentException] {
      val c2 = MedallionTable(spark, tmpDir("tw9c2"))
      c2.cloneFrom(src)
      // a legal widening on a clone still refuses: files belong to source
      c2.alterColumnType("x", "DECIMAL(20,0)")
    }
    assert(e2.getMessage.contains("shallow clone"))
  }

  test("rename then widen composes: overlay keys the physical slot; " +
      "stats and bloom artifacts are invalidated, readRange stays exact") {
    val p = tmpDir("tw10")
    val t = MedallionTable(spark, p)
    t.overwrite((1 to 100).map(i => (i, s"v$i")).toDF("x", "s"))
    t.renameColumn("x", "y")
    t.alterColumnType("y", "BIGINT")
    assert(t.widenedColumns == Map("y" -> LongType))
    t.append(Seq((30000000000L, "big")).toDF("y", "s"))
    assert(t.read.schema("y").dataType == LongType)
    t.refreshStats()
    val got = t.readRange("y", 90L, Long.MaxValue).select("y")
      .as[Long].collect().toSet
    assert(got == ((90L to 100L).toSet + 30000000000L))
  }

  test("SQL DDL: ALTER TABLE … ALTER COLUMN … TYPE widens; NOT NULL " +
      "DDL still parses") {
    val p = tmpDir("tw11")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1, "a")).toDF("x", "s"))
    spark.sql(s"ALTER TABLE '$p' ALTER COLUMN x TYPE BIGINT")
    assert(t.read.schema("x").dataType == LongType)
    spark.sql(s"ALTER TABLE '$p' ALTER COLUMN s SET NOT NULL")
    intercept[Exception](t.append(Seq((2L, null: String)).toDF("x", "s")))
  }

  test("a crash after an evolving append's record write reads as a " +
      "typed-NULL column") {
    val p = tmpDir("tw14")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1, "a")).toDF("x", "s"))
    t.alterColumnType("x", "BIGINT")
    // an evolving append persists the record (the new column in the
    // schema and the reader schema) before its data lands: write that
    // record through the codec and stop there
    val phantom = StructType(Seq(StructField("phantom", DoubleType)))
    val crashed = t.meta.evolvedBy(Some(phantom), phantom)
    assert(crashed.readerSchema.exists(_.fieldNames.contains("phantom")))
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(TableMeta.file(p), true)
    out.write(crashed.encode.getBytes("UTF-8"))
    out.close()
    // a real crash happens inside a CLAIMED commit, so the snapshot
    // stamp has changed — mimic that (the stamp is the commits-dir
    // listing, which any claim perturbs)
    val cd = new org.apache.hadoop.fs.Path(p + "__graft_commits")
    fs.mkdirs(cd)
    fs.create(new org.apache.hadoop.fs.Path(cd, "crash"), true).close()
    assert(t.read.schema("phantom").dataType == DoubleType)
    assert(t.read.filter($"phantom".isNotNull).count() == 0)
    // the retried evolving append then materializes it
    t.append(Seq((4L, "d", 1.5)).toDF("x", "s", "phantom"))
    assert(t.read.filter($"phantom".isNotNull).count() == 1)
  }

  test("ALTER COLUMN TYPE right after a read runs no Spark job") {
    val t = MedallionTable(spark, tmpDir("tw_jobs"))
    t.overwrite(Seq((1, "a"), (2, "b")).toDF("x", "s"))
    t.read.collect()
    // the reader schema seeds from the snapshot's resolved base schema,
    // not from a footer-merge job inside the claim
    val (_, jobs) = jobsOf(t.alterColumnType("x", "BIGINT"))
    assert(jobs == 0, s"ALTER COLUMN TYPE ran $jobs job(s)")
    assert(t.read.schema("x").dataType == LongType)
    assert(t.read.select(sum($"x")).head.getLong(0) == 3L)
  }

  test("widen races concurrent appends safely: the claim-first writer " +
      "lock serializes the footer merge against in-flight data jobs, so " +
      "no batch lands invisibly narrow and no evolved column is lost") {
    val p = tmpDir("tw15")
    val t = MedallionTable(spark, p)
    t.overwrite(Seq((1, "a")).toDF("x", "s"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appenders = (0 until 3).map { i =>
      new Thread(() => {
        val mine = MedallionTable(spark, p)
        (0 until 4).foreach { j =>
          try {
            // batches alternate: plain, and schema-EVOLVING (extra col)
            if (j % 2 == 0)
              mine.append(Seq((100 * i + j, s"t$i-$j")).toDF("x", "s"))
            else
              mine.append(Seq((100 * i + j, s"t$i-$j", i * 10 + j))
                .toDF("x", "s", s"extra_$i"))
          } catch { case e: Throwable => errs.add(e) }
        }
      })
    }
    appenders.foreach(_.start())
    Thread.sleep(30)
    t.alterColumnType("x", "BIGINT")
    appenders.foreach(_.join())
    assert(errs.isEmpty, s"concurrent failures: ${errs.size} " +
      errs.toArray.take(2).mkString("; "))
    val got = t.read
    assert(got.schema("x").dataType == LongType)
    assert(got.count() == 13)
    // every evolving batch's column survived the widen's schema snapshot
    for (i <- 0 until 3) {
      assert(got.columns.contains(s"extra_$i"), s"lost column extra_$i")
      assert(got.filter(col(s"extra_$i").isNotNull).count() == 2,
        s"lost rows for extra_$i")
    }
    // all x values intact across narrow/wide files
    assert(got.select(sum($"x")).head.getLong(0) ==
      1L + (0 until 3).flatMap(i => (0 until 4).map(100 * i + _)).sum)
  }

  test("delta-log export and widening exclude each other, both ways") {
    val t = MedallionTable(spark, tmpDir("tw12"))
    t.overwrite(Seq((1, "a")).toDF("x", "s"))
    DeltaLogExport.sync(spark, t.path)
    val e = intercept[IllegalArgumentException](
      t.alterColumnType("x", "BIGINT"))
    assert(e.getMessage.contains("Delta-log export"))
    val t2 = MedallionTable(spark, tmpDir("tw13"))
    t2.overwrite(Seq((1, "a")).toDF("x", "s"))
    t2.alterColumnType("x", "BIGINT")
    val e2 = intercept[IllegalArgumentException](
      DeltaLogExport.sync(spark, t2.path))
    assert(e2.getMessage.contains("type widenings"))
  }

  test("widening a legally-emptied table seeds from the stashed DDL " +
      "(no footers exist for the merge fallback to read)") {
    val t = MedallionTable(spark, tmpDir("tw14"))
    t.overwrite(Seq((1, 10)).toDF("k", "v"))
    t.delete(lit(true)) // row-level rewrite legally empties; DDL stashed
    assert(t.read.count() == 0)
    t.alterColumnType("v", "BIGINT") // pre-fix: unable-to-infer inside the claim
    assert(t.read.schema("v").dataType == LongType)
    t.append(Seq((2, 5L)).toDF("k", "v"))
    assert(t.read.as[(Int, Long)].collect().toSet == Set((2, 5L)))
    // narrow pre-widen spelling still upcasts on append
    t.append(Seq((3, 6)).toDF("k", "v"))
    assert(t.read.select(sum($"v")).head.getLong(0) == 11L)
  }
}
