package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.table.MedallionTable
import graft.table.MergeOps._

/** `table_dml`: one client in a closed loop of small keyed changes
  * (0.1-2% of the keys each) against a partitioned orders table with the
  * change feed on. Each timed operation is one cycle of writes, each
  * followed by a read of what it wrote. Compute is negligible, so the loop
  * isolates the per-commit costs: driver time, Spark jobs and filesystem
  * metadata operations. A shadow model applies every write to an in-memory
  * copy of the table; every read, every change-feed count and the final
  * table are checked against it.
  */
final class TableDml(ctx: Ctx) extends Workload {
  import ctx.{spark, trace}
  import spark.implicits._

  private val rows = math.max((15000 * ctx.scale).toLong, 2000)
  private val Table = "perfbench_orders"

  /** One timed operation: this cycle of writes, five of them followed by
    * a read of what they wrote. The order is fixed, so every run times the
    * same mix. The feed is read after a merge (inserts and updates) and a
    * delete, not after the partition delete: that is a rewrite commit, whose
    * feed the engine derives from an archived snapshot that lacks the rows
    * living in deletion-vector update batches (the same defect makes
    * `readVersion` of such a snapshot short, so no retained version is read).
    */
  private val Cycle = Seq("append" -> None, "merge_vectored" -> Some("change_feed"),
    "update_vectored" -> Some("read"), "sql_merge" -> Some("sql_read"),
    "delete_vectored" -> Some("change_feed"), "sql_update" -> None,
    "delete_partition" -> Some("read"), "compact_dv" -> None)

  private var t: MedallionTable = _
  private val shadow = mutable.LongMap.empty[Gen.Order]
  private var nextKey = 0L
  private var cycles = 0
  // expected change-feed rows of the last write, by change type
  private var lastTally = Map.empty[String, Long]
  private var lastWrite = ""
  private var lastKeys: (Long, Long) = (0L, 0L)
  private val failures = ArrayBuffer.empty[String]
  private val subLat = ArrayBuffer.empty[(String, Double)]

  def setupReps: Int = 2

  def setup(dir: String): Seq[String] = {
    val path = s"$dir/orders"
    // Two retained versions, so the partition delete runs as a rewrite: its
    // fast path (no retained versions) let rows that DV writes had moved
    // into update batches reappear.
    t = MedallionTable(spark, path, Seq("part"), retainVersions = 2)
    val seed = ctx.seed
    t.overwrite(spark.range(0, rows, 1, 8).as[Long].map(k => Gen.order(seed, k, 0))
      .toDF().repartition(col("part")))
    t.enableChangeDataFeed()
    spark.sql(s"DROP TABLE IF EXISTS $Table")
    spark.sql(s"CREATE TABLE $Table USING graft LOCATION '$path'")
    // SQL DML takes the deletion-vector paths, as Delta's does once
    // deletion vectors are enabled on a table
    spark.conf.set("spark.graft.dvWrites", "true")
    shadow.clear()
    (0L until rows).foreach(k => shadow(k) = Gen.order(seed, k, 0))
    nextKey = rows
    Nil
  }

  def prepare(): Seq[String] = Nil

  private def rng(i: Int) = Gen.rng(ctx.seed, 400, i)

  /** The key range of write `j` of a cycle. Its length is fixed by the
    * write's place in the cycle, from 0.1% to 2% of the initial keys, so
    * every cycle does the same amount of work; where it starts comes from
    * the seed.
    */
  private def range(r: java.util.SplittableRandom, j: Int): (Long, Long) = {
    val len = math.max(1L, (rows * (0.001 + 0.019 * j / (Cycle.size - 1))).toLong)
    val a = (r.nextDouble() * math.max(nextKey - len, 1)).toLong
    (a, a + len - 1)
  }

  private def inRange(lo: Long, hi: Long): Seq[Long] =
    (lo to hi).filter(shadow.contains)

  private def timed[T](kind: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    val ms = (System.nanoTime() - t0) / 1e6
    Log(f"  $kind of $lastWrite $ms%.1f ms")
    subLat += ((kind, ms))
    out
  }

  def next(i: Int): Op = Op("dml_cycle", Cycle.size + Cycle.count(_._2.nonEmpty), () => {
    Cycle.zipWithIndex.foreach { case ((write, read), j) =>
      val from = t.commitVersion + 1
      timed("write")(this.write(i * Cycle.size + j, j, write))
      read.foreach(r => failures ++= timed("read")(readBack(r, from)))
    }
    cycles += 1
  })

  /** Applies an update to the shadow; the `skip_shadow_op` fault drops the
    * first cycle's vectored update, which the checks must then catch.
    */
  private def updateShadow(keys: Seq[Long], f: Gen.Order => Gen.Order): Unit =
    if (!(ctx.fault.contains("skip_shadow_op") && cycles == 0 && lastWrite == "update_vectored"))
      keys.foreach(k => shadow(k) = f(shadow(k)))

  private def write(i: Int, j: Int, kind: String): Unit = {
    val r = rng(i)
    val (lo, hi) = range(r, j)
    lastWrite = kind
    kind match {
      case "append" =>
        val n = hi - lo + 1
        val keys = nextKey until nextKey + n
        val seed = ctx.seed
        val gen = i + 1L
        trace.span("table", "append")(t.append(
          spark.range(keys.head, keys.last + 1, 1, 4).as[Long].map(k => Gen.order(seed, k, gen))
            .toDF()))
        keys.foreach(k => shadow(k) = Gen.order(seed, k, gen))
        nextKey += n
        lastTally = Map("insert" -> n)
        lastKeys = (keys.head, keys.last)
      case "merge_vectored" | "sql_merge" =>
        val fresh = (hi - lo + 1) / 2
        val keys = inRange(lo, hi) ++ (nextKey until nextKey + fresh)
        val src = keys.map(k => Gen.order(ctx.seed, k, i + 1L))
        val matched = keys.count(shadow.contains)
        val df = src.toDF()
        if (kind == "merge_vectored")
          trace.span("table", "merge_vectored")(t.mergeVectored(df,
            Seq("o_orderkey" -> "o_orderkey"),
            Seq(WhenMatchedUpdate(None, Map(
              "o_totalprice" -> ((_, s) => s("o_totalprice")),
              "o_orderstatus" -> ((_, s) => s("o_orderstatus"))))),
            Seq(WhenNotMatchedInsert(None, df.columns.map(c =>
              c -> ((_: ColRef, s: ColRef) => s(c))).toMap))))
        else {
          df.createOrReplaceTempView("perfbench_src")
          trace.span("plans", "sql_merge")(spark.sql(
            s"""MERGE INTO $Table t USING perfbench_src s ON t.o_orderkey = s.o_orderkey
               |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice,
               |  o_orderstatus = s.o_orderstatus
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
        }
        src.foreach { o =>
          shadow(o.o_orderkey) = shadow.get(o.o_orderkey)
            .map(_.copy(o_totalprice = o.o_totalprice, o_orderstatus = o.o_orderstatus))
            .getOrElse(o)
        }
        nextKey += fresh
        lastTally = Map("update_preimage" -> matched.toLong, "update_postimage" -> matched.toLong,
          "insert" -> (keys.size - matched).toLong)
        lastKeys = (lo, hi)
      case "update_vectored" | "sql_update" =>
        val keys = inRange(lo, hi)
        val (bump, status) = if (kind == "update_vectored") (1.0, "U") else (2.0, "S")
        if (kind == "update_vectored")
          trace.span("table", "update_vectored")(t.updateVectored(
            col("o_orderkey").between(lo, hi),
            Map("o_totalprice" -> (col("o_totalprice") + bump), "o_orderstatus" -> lit(status))))
        else
          trace.span("plans", "sql_update")(spark.sql(
            s"UPDATE $Table SET o_totalprice = o_totalprice + $bump, o_orderstatus = '$status' " +
              s"WHERE ${sqlRange(lo, hi)}"))
        updateShadow(keys, o => o.copy(o_totalprice = o.o_totalprice + bump, o_orderstatus = status))
        lastTally = Map("update_preimage" -> keys.size.toLong, "update_postimage" -> keys.size.toLong)
        lastKeys = (lo, hi)
      case "delete_vectored" =>
        val keys = inRange(lo, hi)
        trace.span("table", "delete_vectored")(t.deleteVectored(col("o_orderkey").between(lo, hi)))
        keys.foreach(shadow.remove)
        lastTally = Map("delete" -> keys.size.toLong)
        lastKeys = (lo, hi)
      case "delete_partition" =>
        val p = r.nextInt(Gen.Partitions)
        trace.span("table", "delete")(t.delete(col("part") === p))
        shadow.keys.filter(_ % Gen.Partitions == p).toSeq.foreach(shadow.remove)
        lastTally = Map.empty
        lastKeys = (lo, hi)
      case "compact_dv" =>
        trace.span("table", "compact_dv")(t.compactDv())
        lastTally = Map.empty
    }
  }

  // Spelled out rather than BETWEEN: a BETWEEN in the WHERE of SQL
  // UPDATE or DELETE on a graft table fails analysis (UnresolvedException).
  private def sqlRange(lo: Long, hi: Long) = s"o_orderkey >= $lo AND o_orderkey <= $hi"

  private def rowsOf(keys: Seq[Long]): Set[Gen.Order] = keys.flatMap(shadow.get).toSet

  private def toOrder(r: Row): Gen.Order = Gen.Order(r.getAs[Long]("o_orderkey"),
    r.getAs[Long]("o_custkey"), r.getAs[String]("o_orderstatus"),
    r.getAs[Double]("o_totalprice"), r.getAs[String]("o_orderpriority"), r.getAs[Int]("part"))

  /** A read of what the last write touched, checked against the shadow. */
  private def readBack(kind: String, from: Long): Option[String] = {
    val (lo, hi0) = lastKeys
    val hi = math.min(hi0, lo + 49)
    kind match {
      case "read" =>
        val got = trace.span("table", "read")(
          t.read.filter(col("o_orderkey").between(lo, hi)).collect())
        compare("read", got.map(toOrder).toSet, rowsOf(lo to hi))
      case "sql_read" =>
        val got = trace.span("plans", "sql_read")(spark.sql(
          s"SELECT * FROM $Table WHERE ${sqlRange(lo, hi)}").collect())
        compare("sql read", got.map(toOrder).toSet, rowsOf(lo to hi))
      case "change_feed" =>
        val got = trace.span("table", "change_feed")(
          t.readChangeFeed(from).groupBy("_change_type").count().collect())
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val want = lastTally.filter(_._2 > 0)
        if (got == want) None else Some(s"change feed after $lastWrite: $got != shadow $want")
    }
  }

  private def compare(what: String, got: Set[Gen.Order], want: Set[Gen.Order]): Option[String] =
    if (got == want) None
    else Some(s"$what after $lastWrite: ${(got -- want).take(3)} unexpected, " +
      s"${(want -- got).take(3)} missing")

  def afterOp(): Seq[String] = {
    val bad = failures.toSeq
    failures.clear()
    bad
  }

  def finish(): Seq[String] = {
    val got = t.read.collect().map(toOrder)
    val want = shadow.values.toSet
    val sqlCount = spark.sql(s"SELECT count(*) FROM $Table").head().getLong(0)
    (if (got.length != got.toSet.size) Seq(s"final table has duplicate rows") else Nil) ++
      compare("final table", got.toSet, want).toSeq ++
      (if (sqlCount == want.size) Nil
       else Seq(s"SQL count $sqlCount != shadow ${want.size}"))
  }

  def report(lat: Seq[(String, Double)]): Seq[(String, String, String)] = {
    def stats(kind: String) = {
      val xs = subLat.filter(_._1 == kind).map(_._2).toSeq
      val tail = Stats.tail(xs)
      Seq((s"${kind}_p50_ms", Stats.fmt(Stats.median(xs)), "ms"),
        (s"${kind}_tail_ms", tail.map(t => Stats.fmt(t._2)).getOrElse("n/a"),
          tail.map(t => f"ms (p${t._1}%.0f of ${xs.size})").getOrElse(s"ms (only ${xs.size} samples)")))
    }
    stats("write") ++ stats("read") ++ Seq(
      ("dml_ops_per_s", Stats.fmt(subLat.size / (lat.map(_._2).sum / 1e3)), "ops/s"),
      ("table_rows", shadow.size.toString, "rows"))
  }

  def layerMetrics(ops: Seq[Span], all: Seq[Span]): Map[String, Double] = {
    val layerSpans = all.filter(s => s.layer == "table" || s.layer == "plans")
    val perCall = layerSpans.groupBy(s => (s.layer, s.name)).map { case ((layer, name), ss) =>
      s"$layer.${name}_ms" -> Stats.median(ss.map(_.durMs))
    }
    // every write span is one commit
    val reads = Cycle.flatMap(_._2).toSet
    val commits = layerSpans.filter(s => !reads.contains(s.name))
    val n = math.max(commits.size, 1).toDouble
    def perCommit(f: Span => Double) = commits.map(f).sum / n
    perCall ++ Map(
      "table.jobs_per_commit" -> perCommit(_.counts.getOrElse("jobs", 0.0)),
      "table.fs_ops_per_commit" -> perCommit(c =>
        FsCounts.Names.map(k => c.counts.getOrElse(s"fs.${k}_ops", 0.0)).sum),
      "table.driver_gap_ms_per_commit" -> perCommit(_.counts.getOrElse("driver.gap_s", 0.0) * 1e3))
  }
}
