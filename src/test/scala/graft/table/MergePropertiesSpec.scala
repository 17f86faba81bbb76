package graft.table

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck properties over the 3-clause merge (SURVEY.md §5.3):
  * target≡source-derived rows under the delete clause, idempotence, and
  * upsert row accounting — on arbitrary generated frames. Runs under sbt's
  * native ScalaCheck framework (scalatestplus is not resolvable offline).
  */
object MergePropertiesSpec extends Properties("MergeOps") {

  private lazy val spark: SparkSession = graft.TestSession.get()

  private val rowGen = for {
    id <- Gen.choose(0L, 30L)
    name <- Gen.oneOf("a", "b", "c", "d")
    v <- Gen.choose(0, 1000).map(_ / 10.0)
  } yield (id, name, v)

  // key-unique frames (Delta precondition — duplicate sources are rejected)
  private val frameGen: Gen[List[(Long, String, Double)]] =
    Gen.listOfN(20, rowGen).map(_.groupBy(_._1).map(_._2.head).toList)
      .suchThat(_.nonEmpty)

  property("full-sync merge makes target ≡ source") =
    Prop.forAllNoShrink(frameGen, frameGen) { (t, s) =>
      import spark.implicits._
      val out = MergeOps.merge3Clause(
        t.toDF("id", "name", "v"), s.toDF("id", "name", "v"), Seq("id"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      out == s.toSet
    }

  property("merge is idempotent") =
    Prop.forAllNoShrink(frameGen, frameGen) { (t, s) =>
      import spark.implicits._
      val sDF = s.toDF("id", "name", "v")
      val once = MergeOps.merge3Clause(t.toDF("id", "name", "v"), sDF, Seq("id"),
        deleteNotMatchedBySource = false)
      val twice = MergeOps.merge3Clause(once, sDF, Seq("id"),
        deleteNotMatchedBySource = false)
      once.collect().map(_.toSeq).toSet == twice.collect().map(_.toSeq).toSet
    }

  property("upsert row count = |target keys ∪ source keys|") =
    Prop.forAllNoShrink(frameGen, frameGen) { (t, s) =>
      import spark.implicits._
      val out = MergeOps.merge3Clause(
        t.toDF("id", "name", "v"), s.toDF("id", "name", "v"), Seq("id"),
        deleteNotMatchedBySource = false)
      out.count() == (t.map(_._1).toSet ++ s.map(_._1).toSet).size
    }

  property("general mergeClauses ≡ merge3Clause on the reference 3-clause pattern") =
    Prop.forAllNoShrink(frameGen, frameGen) { (t, s) =>
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val tDF = t.toDF("id", "name", "v")
      val sDF = s.toDF("id", "name", "v")
      val legacy = MergeOps.merge3Clause(tDF, sDF, Seq("id"))
        .collect().map(_.toSeq).toSet
      // same semantics spelled as SQL-style WHEN clauses: update-all
      // matched, insert-all unmatched, delete not-matched-by-source
      val setAll = Seq("id", "name", "v").map(c =>
        c -> ((tc: MergeOps.ColRef, sc: MergeOps.ColRef) => sc(c))).toMap
      val general = MergeOps.mergeClauses(tDF, sDF, Seq(("id", "id")),
        matched = Seq(MergeOps.WhenMatchedUpdate(None, setAll)),
        notMatched = Seq(MergeOps.WhenNotMatchedInsert(None, setAll)),
        notMatchedBySource = Seq(MergeOps.WhenNotMatchedBySourceDelete(None)))
        .collect().map(_.toSeq).toSet
      legacy == general
    }

  // Keep runtime bounded: each Spark round-trip is ~0.2 s.
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(10)
}
