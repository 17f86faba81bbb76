package perfbench

import org.apache.spark.sql.functions._

/** Lands every workload's inputs for one seed and prints, as one JSON line,
  * a content digest per input (row count and an order-independent hash of
  * all columns). The benchmark's tests run it twice per seed to show the
  * generator is deterministic.
  *
  *     GenDigest <work-dir> <seed> <scale>
  */
object GenDigest {
  def main(args: Array[String]): Unit = {
    val Array(work, seedArg, scaleArg) = args
    val seed = seedArg.toLong
    val scale = scaleArg.toDouble
    val spark = Session.create(new java.io.File(work), traced = false)
    val orders = math.max((15000 * scale).toLong, 400)
    Gen.landMedallion(spark, seed, Gen.MedallionSizes(orders, orders / 100),
      s"$work/raw0", s"$work/raw1")
    Gen.landCuration(spark, seed, math.max((10000 * scale).toLong, 400),
      math.max((2000 * scale).toLong, 400), work)
    val inputs = Seq(
      "orders" -> spark.read.option("header", true).csv(s"$work/raw1/orders"),
      "lineitem" -> spark.read.option("header", true).csv(s"$work/raw1/lineitem"),
      "nation" -> spark.read.json(s"$work/raw1/nation"),
      "documents" -> spark.read.parquet(s"$work/documents"),
      "embeddings" -> spark.read.parquet(s"$work/embeddings")
        .withColumn("embedding", to_json(col("embedding"))),
      "table_dml" -> {
        import spark.implicits._
        spark.range(0, 2000).as[Long].map(k => Gen.order(seed, k, 0)).toDF()
      })
    val digests = inputs.map { case (name, df) =>
      val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))).head()
      s""""$name": "${r.getLong(0)}:${r.getDecimal(1)}""""
    }
    println(digests.mkString("{", ", ", "}"))
    spark.stop()
  }
}
