package graft.table

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck model check for type widening × column defaults under
  * random op interleavings — the composition guarantee the scripted
  * TypeWideningSpec / ColumnDefaultsSpec cases can't give: ANY sequence
  * of providing/omitting appends, widen steps (int → long →
  * decimal(20,0)), SET/DROP DEFAULT, DV updates, merge-inserts and
  * compactions leaves the table row-identical to a driver-side model
  * (values decoded exactly across mixed narrow/wide files; omitted
  * columns filled with the default LIVE AT WRITE TIME, never
  * retroactively) and the logical type at the widest declared stage.
  */
object WideningPropertySpec extends Properties("TypeWidening") {

  private lazy val spark: SparkSession = graft.TestSession.get()

  private sealed trait Op
  private case class AppendProv(k: Int) extends Op
  private case class AppendOmit(k: Int) extends Op
  private case class SetDefault(tag: String) extends Op
  private case object DropDefault extends Op
  private case object Widen extends Op
  private case class UpdateDv(m: Int) extends Op
  private case object Compact extends Op
  private case class MergeIns(k: Int) extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    3 -> Gen.choose(1, 4).map(AppendProv(_)),
    3 -> Gen.choose(1, 4).map(AppendOmit(_)),
    2 -> Gen.oneOf("red", "blue", "green").map(SetDefault(_)),
    1 -> Gen.const(DropDefault),
    2 -> Gen.const(Widen),
    2 -> Gen.choose(2, 4).map(UpdateDv(_)),
    1 -> Gen.const(Compact),
    2 -> Gen.choose(1, 3).map(MergeIns(_)))

  private val stageTypes = Seq("INT", "BIGINT", "DECIMAL(20,0)")

  private var n = 0
  property("any op sequence reads back ≡ the model; the logical type " +
      "is the widest declared stage") =
    Prop.forAllNoShrink(Gen.listOfN(6, opGen)) { ops =>
      import spark.implicits._
      n += 1
      val p = java.nio.file.Files
        .createTempDirectory(s"widenprop$n").toString + "/t"
      val t = MedallionTable(spark, p)
      var nextP = 0
      def fresh(k: Int): Seq[Int] = { val s = (nextP until nextP + k); nextP += k; s }
      // model: payload -> d value; the default LIVE at each write
      var model = Map.empty[Int, Option[String]]
      var dflt: Option[String] = None
      var stage = 0
      val boot = fresh(3)
      t.overwrite(boot.map(i => (i, s"v$i")).toDF("p", "d")
        .withColumn("p", col("p").cast("int")))
      model ++= boot.map(i => i -> Some(s"v$i"))
      ops.foreach {
        case AppendProv(k) =>
          val f = fresh(k)
          // frames stay INT on purpose: post-widen they exercise the
          // canonicalize-up path against already-wide files
          t.append(f.map(i => (i, s"v$i")).toDF("p", "d")
            .withColumn("p", col("p").cast("int")))
          model ++= f.map(i => i -> Some(s"v$i"))
        case AppendOmit(k) =>
          val f = fresh(k)
          t.append(f.toDF("p").withColumn("p", col("p").cast("int")))
          model ++= f.map(i => i -> dflt)
        case SetDefault(tag) =>
          t.setColumnDefault("d", s"'$tag'"); dflt = Some(tag)
        case DropDefault =>
          t.dropColumnDefault("d"); dflt = None
        case Widen if stage < 2 =>
          t.alterColumnType("p", stageTypes(stage + 1)); stage += 1
        case Widen => () // already at the widest stage
        case UpdateDv(m) =>
          t.updateVectored(col("p") % m === 0,
            Map("d" -> concat(col("d"), lit("+"))))
          model = model.map { case (k, v) =>
            k -> (if (k % m == 0) v.map(_ + "+") else v)
          }
        case Compact =>
          t.compact(nFiles = 2)
        case MergeIns(k) =>
          import MergeOps._
          val f = fresh(k)
          t.mergeVectored(
            f.toDF("sp").withColumn("sp", col("sp").cast("int")),
            Seq("p" -> "sp"), Nil,
            Seq(WhenNotMatchedInsert(None,
              Map("p" -> ((_, sc) => sc("sp"))))))
          // the insert clause leaves d unassigned -> the LIVE default
          model ++= f.map(i => i -> dflt)
      }
      val got = t.read
        .select(col("p").cast("decimal(20,0)").cast("int"), col("d"))
        .collect()
        .map(r => r.getInt(0) ->
          (if (r.isNullAt(1)) None else Some(r.getString(1)))).toMap
      val okRows = got == model
      val okType = t.read.schema("p").dataType.sql
        .equalsIgnoreCase(stageTypes(stage))
      Prop.collect(s"stage=$stage," +
        ops.map(_.getClass.getSimpleName).mkString(","))(okRows && okType)
    }

  // Keep runtime bounded: each op is a full commit-protocol round.
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(12)
}
