package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck check of [[IncrementalJoin]]'s delta algebra: for random
  * fact/dim states and random post-states (arbitrary mixes of inserts,
  * deletes, value updates and KEY MOVES on both sides, dangling keys
  * included), applying the two CDC feeds in causal order must leave the
  * materialized view row-identical to a from-scratch recompute of the
  * final states.
  */
object IncrementalJoinPropertySpec extends Properties("IncrementalJoin") {

  private lazy val spark: SparkSession = graft.TestSession.get()

  private val on = Seq("fk" -> "dk")
  private val factKeys = Seq("id")

  // fact keys 0..19, join keys 0..9 (some dangle: dim holds only a subset)
  private val factGen: Gen[List[(Long, Long, Long)]] =
    Gen.listOfN(14, Gen.zip(Gen.choose(0L, 19L), Gen.choose(0L, 9L),
      Gen.choose(0L, 99L))).map(_.groupBy(_._1).map(_._2.head).toList)
  private val dimGen: Gen[List[(Long, String)]] =
    Gen.listOfN(7, Gen.zip(Gen.choose(0L, 9L), Gen.oneOf("x", "y", "z")))
      .map(_.groupBy(_._1).map(_._2.head).toList)

  private def cdc(old: DataFrame, nw: DataFrame, key: String): DataFrame =
    MergeOps.merge3ClauseCDC(old, nw, Seq(key),
      Some(MergeOps.anyColumnDiffers(old, nw, Seq(key))))

  private def asSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private var n = 0
  property("ΔF then ΔD ≡ recompute of the final states") =
    Prop.forAllNoShrink(factGen, factGen, dimGen, dimGen) { (f0, f1, d0, d1) =>
      import spark.implicits._
      n += 1
      val fd0 = f0.toDF("id", "fk", "cents")
      val fd1 = f1.toDF("id", "fk", "cents")
      val dd0 = d0.toDF("dk", "name")
      val dd1 = d1.toDF("dk", "name")
      val mv = MedallionTable(spark,
        java.nio.file.Files.createTempDirectory(s"ijp$n").toString + "/t")
      mv.overwrite(IncrementalJoin.fullCompute(fd0, dd0, on))
      IncrementalJoin.applyFactChanges(mv, cdc(fd0, fd1, "id"), dd0, factKeys, on)
      IncrementalJoin.applyDimChanges(mv, fd1, dd1, cdc(dd0, dd1, "dk"),
        factKeys, on)
      asSet(mv.read) == asSet(IncrementalJoin.fullCompute(fd1, dd1, on))
    }
}
