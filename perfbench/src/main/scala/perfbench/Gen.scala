package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every value is a pure function of the seed and
  * a row index, so the same seed always yields the same inputs, and graft
  * only ever sees the files written here. Schemas follow the repository's
  * test data (`orders`, `lineitem`, `nation`, `documents`, `embeddings`).
  */
object Gen {
  /** Base date of generated timestamps: 1992-01-01T00:00:00Z. */
  private val Epoch0 = 694224000L

  /** Mixes a seed, a stream salt and an index into an independent RNG. */
  def rng(seed: Long, salt: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt * 0xBF58476D1CE4E5B9L ^ i)

  // ---- medallion_refresh: raw CSV/JSON landing files -------------------

  final case class MedallionSizes(orders: Long, deltaOrders: Long) {
    def lineitem: Long = orders * 4
    def deltaLineitem: Long = deltaOrders * 4
    /** Exact duplicate lineitem rows, as a re-delivered file would carry. */
    def dupLineitem: Long = lineitem / 100
  }

  private def u(seed: Long, salt: Int, m: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(m))

  private def pick(seed: Long, salt: Int, values: String*): Column =
    element_at(array(values.map(lit): _*), (u(seed, salt, values.size) + 1).cast("int"))

  /** Orders with keys [from, to). One in 200 has a zero price, which the
    * silver cleaning filter drops.
    */
  def orders(spark: SparkSession, seed: Long, from: Long, to: Long, custs: Long): DataFrame =
    spark.range(from, to, 1, 8).select(
      col("id").as("o_orderkey"),
      (u(seed, 1, custs) + 1).as("o_custkey"),
      pick(seed, 2, "F", "O", "P").as("o_orderstatus"),
      when(u(seed, 3, 200) === 0, lit(0.0))
        .otherwise(round(u(seed, 4, 50000000L) / 100.0 + 900, 2)).as("o_totalprice"),
      timestamp_seconds(lit(Epoch0) + u(seed, 5, 2400) * 86400).as("o_orderdate"),
      pick(seed, 6, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .as("o_orderpriority"))

  /** Line items with ids [from, to), each on an order in [keyFrom, keyTo). */
  def lineitem(spark: SparkSession, seed: Long, from: Long, to: Long,
      keyFrom: Long, keyTo: Long): DataFrame =
    spark.range(from, to, 1, 8).select(
      (lit(keyFrom) + u(seed, 10, keyTo - keyFrom)).as("l_orderkey"),
      (u(seed, 11, 20000) + 1).as("l_partkey"),
      (u(seed, 12, 1000) + 1).as("l_suppkey"),
      (u(seed, 13, 7) + 1).cast("int").as("l_linenumber"),
      (u(seed, 14, 50) + 1).cast("double").as("l_quantity"),
      round(u(seed, 15, 10000000L) / 100.0 + 900, 2).as("l_extendedprice"),
      (u(seed, 16, 11) / 100.0).as("l_discount"),
      (u(seed, 17, 9) / 100.0).as("l_tax"),
      pick(seed, 18, "A", "N", "R").as("l_returnflag"),
      pick(seed, 19, "F", "O").as("l_linestatus"),
      timestamp_seconds(lit(Epoch0) + u(seed, 20, 2500) * 86400 + u(seed, 21, 24) * 3600)
        .as("l_shipdate"))

  def nation(spark: SparkSession): DataFrame =
    spark.range(0, 25, 1, 1).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

  /** Lands the day-0 files in `raw0` and day-0 plus one day of new orders
    * and their line items in `raw1`, as CSV (orders, lineitem) and JSON
    * (nation) — the formats the bronze stage infers schemas from.
    */
  def landMedallion(spark: SparkSession, seed: Long, s: MedallionSizes,
      raw0: String, raw1: String): Unit = {
    def csv(df: DataFrame, path: String, mode: String): Unit =
      df.write.mode(mode).option("header", true).csv(path)
    val custs = math.max(s.orders / 10, 1)
    csv(orders(spark, seed, 0, s.orders, custs), s"$raw0/orders", "overwrite")
    csv(lineitem(spark, seed, 0, s.lineitem, 0, s.orders)
      .unionByName(lineitem(spark, seed, 0, s.dupLineitem, 0, s.orders)),
      s"$raw0/lineitem", "overwrite")
    nation(spark).write.mode("overwrite").json(s"$raw0/nation")
    Files.copyTree(raw0, raw1)
    val newKeys = s.orders + s.deltaOrders
    csv(orders(spark, seed, s.orders, newKeys, custs), s"$raw1/orders", "append")
    csv(lineitem(spark, seed, s.lineitem, s.lineitem + s.deltaLineitem, s.orders, newKeys),
      s"$raw1/lineitem", "append")
  }

  // ---- table_dml: the keyed orders table --------------------------------

  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderpriority: String, part: Int)

  val Partitions = 8

  /** Row `key` of the orders table in generation `gen` (0 for the initial
    * load, then one generation per write that creates or rewrites rows).
    */
  def order(seed: Long, key: Long, gen: Long): Order = {
    val r = rng(seed, 100 + gen, key)
    Order(key, 1 + r.nextInt(15000), Seq("F", "O", "P")(r.nextInt(3)),
      (90000 + r.nextInt(50000000)) / 100.0,
      Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(r.nextInt(5)),
      (key % Partitions).toInt)
  }

  // ---- curation: documents and embeddings -------------------------------

  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is", "it")

  /** A fixed vocabulary of letter-only words, 3 to 9 letters long. */
  lazy val Vocab: Array[String] = {
    val r = new SplittableRandom(7)
    Array.fill(500)(Seq.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString)
  }

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  /** Document layout by index: `i % 20 == 1` is a near duplicate of
    * document `i - 1` (one word replaced); `i % 20 == 5` is too short and
    * `i % 20 == 6` mostly numeric, so both fail the quality filter. The
    * first `docs / 50` documents are delivered twice as identical rows.
    */
  def isVariant(i: Long): Boolean = i % 20 == 1

  private def tokens(seed: Long, i: Long): Array[String] = {
    val r = rng(seed, 200, i)
    val n = 30 + r.nextInt(50)
    Array.fill(n)(if (r.nextInt(10) < 3) Stopwords(r.nextInt(Stopwords.size))
      else Vocab(r.nextInt(Vocab.length)))
  }

  def doc(seed: Long, i: Long): Doc = {
    val r = rng(seed, 201, i)
    val toks =
      if (isVariant(i)) {
        val t = tokens(seed, i - 1)
        val p = r.nextInt(t.length)
        t(p) = Vocab((Vocab.indexOf(t(p)) + 1 + r.nextInt(Vocab.length - 1)) % Vocab.length)
        t
      } else if (i % 20 == 5) tokens(seed, i).take(3)
      else if (i % 20 == 6) tokens(seed, i).map(w => if (r.nextInt(2) == 0) w else r.nextInt(100000).toString)
      else tokens(seed, i)
    val text = toks.mkString(" ")
    Doc(i, text, Seq("en", "de", "fr")(r.nextInt(3)), s"src${i % 7}", text.length.toLong)
  }

  val Dim = 64
  val Clusters = 16

  /** Planted embedding duplicates: `i % 25 == 1` sits next to vector `i - 1`. */
  def isEmbDup(i: Long): Boolean = i % 25 == 1

  private def centers(seed: Long): Array[Array[Double]] = Array.tabulate(Clusters) { c =>
    val r = rng(seed, 300, c)
    val v = Array.fill(Dim)(r.nextDouble() * 2 - 1)
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; deterministic for a given generator state
    val u1 = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Vector `i`: cluster centre plus noise (cosine about 0.6 between two
    * members of a cluster), or a copy of vector `i - 1` plus a little noise
    * (cosine above 0.99) when planted as a duplicate.
    */
  def vector(seed: Long, i: Long): Array[Float] = {
    val r = rng(seed, 301, i)
    if (isEmbDup(i)) vector(seed, i - 1).map(x => (x + 0.005 * gaussian(r)).toFloat)
    else {
      val c = centers(seed)((i % Clusters).toInt)
      c.map(x => (x + 0.1 * gaussian(r)).toFloat)
    }
  }

  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  def emb(seed: Long, i: Long): Emb = Emb(i, vector(seed, i), (i % Clusters).toInt)

  def landCuration(spark: SparkSession, seed: Long, docs: Long, vecs: Long, dir: String): Unit = {
    import spark.implicits._
    spark.range(0, docs, 1, 8).as[Long].map(i => doc(seed, i))
      .union(spark.range(0, docs / 50, 1, 1).as[Long].map(i => doc(seed, i)))
      .write.mode("overwrite").parquet(s"$dir/documents")
    spark.range(0, vecs, 1, 8).as[Long].map(i => emb(seed, i))
      .write.mode("overwrite").parquet(s"$dir/embeddings")
  }
}
