package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.{ConnectedComponents, MinHash}
import graft.operators.DedupOps
import graft.similarity.{Ivf, SemDeDup, Similarity}
import graft.table.MedallionTable
import graft.text.TextOps

/** `curation`: one pass of an LLM-data curation pipeline over a generated
  * corpus with planted duplicates — Gopher-style quality filter, exact
  * dedup, MinHash near-duplicate pairs and their connected components,
  * SemDeDup over embeddings with planted near-copies, an IVF top-k query
  * batch, and one overwrite of the curated set. Each stage is materialized
  * on its own, so its time is its own. It is the one workload where the
  * text, dedup and similarity layers do the work.
  */
final class Curation(ctx: Ctx) extends Workload {
  import ctx.{spark, trace}
  import spark.implicits._

  private val nDocs = math.max((10000 * ctx.scale).toLong, 400)
  private val nVecs = math.max((2000 * ctx.scale).toLong, 400)
  private val Jaccard = 0.7
  private val Tau = 0.95
  private val K = 10
  private val NCentroids = 16
  private val NProbe = 2
  private val queryMod = math.max(nVecs / 64, 1)
  private def queries = col("vec_id") % queryMod === 0

  private var dir = ""
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var expectQuality: (Long, BigDecimal) = _
  private var expectExact: (Long, BigDecimal) = _
  private var truthTopK: Map[Long, Set[Long]] = Map.empty
  private var stages: Map[String, DataFrame] = Map.empty
  private var ivfRecall = Double.NaN
  private var lastPairs = 0L

  def setupReps: Int = 2

  def setup(d: String): Seq[String] = {
    dir = d
    Gen.landCuration(spark, ctx.seed, nDocs, nVecs, dir)
    docs = spark.read.parquet(s"$dir/documents")
    emb = spark.read.parquet(s"$dir/embeddings")
    Nil
  }

  def prepare(): Seq[String] = {
    val pass = udf((t: String) => Curation.gopherPass(t))
    val plain = docs.filter(pass(col("text")))
    expectQuality = Curation.checksum(plain)
    expectExact = Curation.checksum(plain.dropDuplicates())
    truthTopK = Similarity.bruteForceTopK(emb, queries, K).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    Nil
  }

  private def materialize(layer: String, name: String)(df: => DataFrame): DataFrame =
    trace.span(layer, name) {
      val m = df.persist()
      m.count()
      m
    }

  def next(i: Int): Op = Op("curate", 7, () => {
    val quality = materialize("text", "quality")(docs
      .selectExpr(Seq("*") ++ Curation.GopherStats: _*)
      .where(Curation.GopherRules)
      .select(docs.columns.map(col): _*))
    val exact = materialize("dedup", "exact")(DedupOps.dropDuplicatesSorted(quality, "source"))
    val pairs = materialize("dedup", "minhash")(
      MinHash.nearDuplicates(exact, "doc_id", "text", Jaccard, numHashes = 32, bands = 8))
    val comps = materialize("dedup", "components")(
      ConnectedComponents.components(pairs, "id_a", "id_b"))
    val sem = materialize("similarity", "semdedup")(
      SemDeDup.decisions(emb, nCentroids = 32, tau = Tau))
    val topk = materialize("similarity", "ivf_topk")(
      Ivf.topK(emb, queries, K, nCentroids = NCentroids, nProbe = NProbe))
    val curated = exact.join(comps.filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
    trace.span("table", "overwrite")(
      MedallionTable(spark, s"$dir/curated").overwrite(curated))
    stages = Map("quality" -> quality, "exact" -> exact, "pairs" -> pairs,
      "comps" -> comps, "sem" -> sem, "topk" -> topk)
  })

  def afterOp(): Seq[String] = {
    val seed = ctx.seed
    val bad = Seq.newBuilder[String]
    def expect(ok: Boolean, msg: => String): Unit = if (!ok) bad += msg

    val q = Curation.checksum(stages("quality"))
    expect(q == expectQuality, s"quality filter $q != plain filter $expectQuality")
    val exactDf =
      if (ctx.fault.contains("keep_exact_dup")) stages("quality") else stages("exact")
    val e = Curation.checksum(exactDf)
    expect(e == expectExact, s"exact dedup $e != plain dropDuplicates $expectExact")

    val pairs = stages("pairs").as[(Long, Long, Double)].collect()
    lastPairs = pairs.length
    val wrong = pairs.filter { case (a, b, j) =>
      val truth = Curation.jaccard(Gen.doc(seed, a).text, Gen.doc(seed, b).text)
      truth < Jaccard || math.abs(truth - j) > 1e-9
    }
    expect(wrong.isEmpty, s"${wrong.length} near-dup pairs fail Jaccard >= $Jaccard: ${wrong.take(3).toSeq}")
    val comp = stages("comps").as[(Long, Long)].collect().toMap
    val exactIds = stages("exact").select("doc_id").as[Long].collect().toSet
    val planted = exactIds.filter(i => Gen.isVariant(i) && exactIds.contains(i - 1))
    val found = planted.count(i => comp.get(i).exists(c => comp.get(i - 1).contains(c)))
    val recall = found.toDouble / math.max(planted.size, 1)
    expect(recall >= 0.9, f"planted near-dup recall $recall%.3f < 0.9")

    val drops = stages("sem").filter(!col("keep")).select("vec_id", "dup_of").as[(Long, Long)].collect()
    val badDrops = drops.filter { case (v, d) =>
      Curation.cosine(Gen.vector(seed, v), Gen.vector(seed, d)) < Tau - 1e-9
    }
    expect(badDrops.isEmpty, s"${badDrops.length} SemDeDup drops below cosine $Tau")
    val dropped = drops.map(_._1).toSet
    val plantedVecs = (0L until nVecs).filter(Gen.isEmbDup)
    val semRecall = plantedVecs.count(dropped.contains).toDouble / math.max(plantedVecs.size, 1)
    expect(semRecall >= 0.9, f"planted embedding-dup recall $semRecall%.3f < 0.9")

    val topk = stages("topk").select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    ivfRecall = truthTopK.map { case (q, want) =>
      (topk.getOrElse(q, Set.empty) intersect want).size.toDouble / want.size
    }.sum / math.max(truthTopK.size, 1)

    val curated = MedallionTable(spark, s"$dir/curated").read.count()
    val merged = comp.count { case (id, c) => id != c }
    expect(curated == exactIds.size - merged,
      s"curated table has $curated rows, expected ${exactIds.size - merged}")
    stages.values.foreach(_.unpersist())
    stages = Map.empty
    bad.result()
  }

  def finish(): Seq[String] = Nil

  def report(lat: Seq[(String, Double)]): Seq[(String, String, String)] = Seq(
    ("curate_s", Stats.fmt(Stats.median(lat.map(_._2)) / 1e3), "s"),
    ("ivf_recall_at_k", Stats.fmt(ivfRecall), s"ratio (k=$K)"),
    ("inputs", s"${nDocs + nDocs / 50} docs, $nVecs vectors", "rows"))

  def layerMetrics(ops: Seq[Span], all: Seq[Span]): Map[String, Double] = {
    val n = math.max(ops.size, 1)
    val perStage = all.filter(s => Set("text", "dedup", "similarity", "table")(s.layer))
      .groupBy(s => (s.layer, s.name)).map {
        case (("table", name), ss) => s"table.${name}_ms" -> ss.map(_.durMs).sum / n
        case ((layer, name), ss) => s"$layer.${name}_s" -> ss.map(_.durMs).sum / 1e3 / n
      }
    // work spent against what it found, measured once outside the timed
    // operations: LSH candidate pairs and cells probed by the IVF queries
    val candidates = MinHash.candidatePairs(
      DedupOps.dropDuplicatesSorted(docs.selectExpr(Seq("*") ++ Curation.GopherStats: _*)
        .where(Curation.GopherRules).select(docs.columns.map(col): _*), "source"),
      "doc_id", "text", numHashes = 32, bands = 8).count()
    val prepared = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = Ivf.refineCentroids(prepared, NCentroids, 2).as[(Long, Array[Double])].collect()
    val sizes = Ivf.withCells(emb, NCentroids).groupBy("cell_id").count().as[(Long, Long)]
      .collect().toMap
    val qs = emb.filter(queries).select("vec_id").as[Long].collect()
    val probed = qs.map { q =>
      val v = Gen.vector(ctx.seed, q).map(_.toDouble)
      cents.sortBy { case (c, cv) => (-Curation.cosine(v, cv), c) }.take(NProbe)
        .map { case (c, _) => sizes.getOrElse(c, 0L) }.sum - 1
    }
    perStage ++ Map(
      "dedup.lsh_candidates" -> candidates.toDouble,
      "dedup.lsh_precision" -> lastPairs.toDouble / math.max(candidates, 1),
      "similarity.ivf_candidates_per_query" -> probed.sum.toDouble / math.max(qs.length, 1),
      "similarity.ivf_recall_at_k" -> ivfRecall)
  }
}

object Curation {
  private val Stop = Gen.Stopwords.map(w => s"'$w'").mkString(", ")
  private val Tokens = TextOps.tokensExpr("text")

  /** Gopher-style quality statistics over graft's whitespace tokenizer. */
  val GopherStats: Seq[String] = Seq(
    s"SIZE($Tokens) AS n_tokens",
    s"AGGREGATE($Tokens, 0, (a, t) -> a + LENGTH(t)) AS sum_tok_len",
    s"SIZE(FILTER($Tokens, t -> t RLIKE '[A-Za-z]')) AS n_alpha",
    s"SIZE(FILTER($Tokens, t -> t IN ($Stop))) AS n_stop")
  val GopherRules: String = Seq(
    "n_tokens BETWEEN 5 AND 10000",
    "CAST(sum_tok_len AS DOUBLE) / n_tokens BETWEEN 3 AND 10",
    "CAST(n_alpha AS DOUBLE) / n_tokens >= 0.8",
    "n_stop >= 2").mkString(" AND ")

  /** The same four rules in plain Scala: the reference the filter is checked against. */
  def gopherPass(text: String): Boolean = {
    val toks = text.split("\\s+").filter(_.nonEmpty)
    val n = toks.length
    n >= 5 && n <= 10000 && {
      val mean = toks.map(_.length).sum.toDouble / n
      mean >= 3 && mean <= 10 &&
        toks.count(_.exists(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))).toDouble / n >= 0.8 &&
        toks.count(Gen.Stopwords.contains) >= 2
    }
  }

  /** Jaccard similarity of the two texts' distinct word 3-gram sets. */
  def jaccard(a: String, b: String): Double = {
    def grams(t: String) = t.split("\\s+").filter(_.nonEmpty).sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (grams(a), grams(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var k = 0
    while (k < a.length) { d += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k); k += 1 }
    d / math.sqrt(na * nb)
  }
  def cosine(a: Array[Float], b: Array[Float]): Double =
    cosine(a.map(_.toDouble), b.map(_.toDouble))

  def checksum(df: DataFrame): (Long, BigDecimal) = {
    val h = xxhash64(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)))
  }
}
