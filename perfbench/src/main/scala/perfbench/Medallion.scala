package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.Pipeline
import graft.table.MedallionTable

/** `medallion_refresh`: the reference's own bronze → silver → gold DAG,
  * re-run daily. Set-up lands the raw files and does the cold build; each
  * timed operation is one re-run (bronze append of the day's files, silver
  * and gold MERGE into the existing tables) on a fresh copy of the
  * post-build lake, commit sidecars included, so every re-run starts from
  * the same state. It is bulk-write and shuffle heavy with few commits.
  */
final class Medallion(ctx: Ctx) extends Workload {
  import ctx.{spark, trace}

  private val sizes = {
    val n = math.max((15000 * ctx.scale).toLong, 400)
    Gen.MedallionSizes(n, n / 100)
  }
  private var dir = ""
  private var expected: (Long, BigDecimal) = _
  private var runs = 0
  private def raw0 = s"$dir/raw0"
  private def raw1 = s"$dir/raw1"
  private def lake(i: Int) = s"$dir/run$i"

  def setupReps: Int = 1

  def setup(d: String): Seq[String] = {
    dir = d
    Gen.landMedallion(spark, ctx.seed, sizes, raw0, raw1)
    Pipeline.Bronze.run(spark, raw0, s"$dir/lake")
    Pipeline.Silver.run(spark, s"$dir/lake")
    Pipeline.Gold.run(spark, s"$dir/lake")
    Nil
  }

  def prepare(): Seq[String] = {
    expected = Medallion.checksum(Medallion.reference(spark, raw1))
    Files.copyTree(s"$dir/lake", lake(0))
    Nil
  }

  private def refresh(work: String): Unit = {
    trace.span("pipeline", "bronze")(Pipeline.Bronze.run(spark, raw1, work))
    trace.span("pipeline", "silver")(Pipeline.Silver.run(spark, work))
    trace.span("pipeline", "gold")(Pipeline.Gold.run(spark, work))
    trace.span("pipeline", "gold_read")(
      MedallionTable(spark, s"$work/gold/wide_orders").read.agg(count(lit(1))).collect())
  }

  def next(i: Int): Op = Op("refresh", 4, () => refresh(lake(runs)))

  private def check(work: String, want: (Long, BigDecimal), what: String): Option[String] = {
    val gold = MedallionTable(spark, s"$work/gold/wide_orders").read
    val got = Medallion.checksum(
      if (ctx.fault.contains("drop_gold_row")) gold.orderBy("o_orderkey").offset(1) else gold)
    if (got == want) None
    else Some(s"$what: gold (rows, checksum) $got != reference $want")
  }

  def afterOp(): Seq[String] = {
    val bad = check(lake(runs), expected, s"refresh $runs")
    Files.deleteTree(lake(runs))
    runs += 1
    Files.copyTree(s"$dir/lake", lake(runs))
    bad.toSeq
  }

  def finish(): Seq[String] = Nil

  def report(lat: Seq[(String, Double)]): Seq[(String, String, String)] = Seq(
    ("refresh_s", Stats.fmt(Stats.median(lat.map(_._2)) / 1e3), "s"),
    ("inputs", s"${sizes.orders + sizes.deltaOrders} orders, " +
      s"${sizes.lineitem + sizes.dupLineitem + sizes.deltaLineitem} lineitem", "rows"))

  def layerMetrics(ops: Seq[Span], all: Seq[Span]): Map[String, Double] = {
    val n = math.max(ops.size, 1)
    all.filter(_.layer == "pipeline").groupBy(_.name).map { case (name, ss) =>
      s"pipeline.${name}_s" -> ss.map(_.durMs).sum / 1e3 / n
    }
  }
}

object Medallion {
  private val OrdersSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
  private val LineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** The gold table computed by plain Spark from the raw files, with the
    * semantics of the `pipeline_gold_e2e` oracle: orders with a non-zero
    * price, distinct line items rolled up per (order, block), left-joined.
    */
  def reference(spark: org.apache.spark.sql.SparkSession, raw: String): DataFrame = {
    val o = spark.read.option("header", true).schema(OrdersSchema).csv(s"$raw/orders")
      .filter(col("o_totalprice") =!= 0)
      .withColumn("data_block_id", (col("o_orderkey") % 4).cast("int"))
    val g = spark.read.option("header", true).schema(LineitemSchema).csv(s"$raw/lineitem")
      .distinct()
      .groupBy(col("l_orderkey"), (col("l_orderkey") % 4).cast("int").as("li_block"))
      .agg(sum("l_quantity").as("sum_qty"),
        (sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)) / 100.0)
          .as("revenue"),
        count(lit(1)).as("line_cnt"))
    o.join(g, o("o_orderkey") === g("l_orderkey") && o("data_block_id") === g("li_block"), "left")
      .drop("l_orderkey", "li_block")
  }

  /** Row count and an order-independent content checksum over the gold
    * columns in canonical types (inferred CSV types may differ in width).
    */
  def checksum(df: DataFrame): (Long, BigDecimal) = {
    def cents(c: String) = round(col(c) * 100).cast("long")
    val h = xxhash64(col("o_orderkey").cast("long"), col("o_custkey").cast("long"),
      col("o_orderstatus"), cents("o_totalprice"),
      unix_micros(col("o_orderdate").cast("timestamp")), col("o_orderpriority"),
      col("data_block_id").cast("long"), cents("sum_qty"), cents("revenue"),
      col("line_cnt").cast("long"))
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}
