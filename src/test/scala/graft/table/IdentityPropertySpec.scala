package graft.table

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck model check for identity columns under random op
  * interleavings — the composition guarantee IdentityColumnSpec's
  * scripted cases can't give: ANY sequence of appends, DV deletes,
  * compactions, overwrites and DV merge-inserts leaves every row with a
  * NON-NULL, GLOBALLY-UNIQUE engine-assigned id (the NULL⟺merge-insert
  * induction and the high-water monotonicity, model-checked), while the
  * payload set stays row-identical to a driver-side replay.
  */
object IdentityPropertySpec extends Properties("IdentityColumns") {

  private lazy val spark: SparkSession = graft.TestSession.get()

  private sealed trait Op
  private case class Append(k: Int) extends Op
  private case class DelVec(m: Long, r: Long) extends Op
  private case object Compact extends Op
  private case class Over(k: Int) extends Op
  private case class MergeIns(k: Int) extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    4 -> Gen.choose(1, 6).map(Append(_)),
    3 -> Gen.zip(Gen.choose(2L, 5L), Gen.choose(0L, 4L))
      .map { case (m, r) => DelVec(m, r % m) },
    1 -> Gen.const(Compact),
    1 -> Gen.choose(1, 5).map(Over(_)),
    2 -> Gen.choose(1, 4).map(MergeIns(_)))

  private var n = 0
  property("any op sequence keeps ids non-null, unique, monotone; " +
      "payloads ≡ the driver-side model") =
    Prop.forAllNoShrink(Gen.listOfN(5, opGen)) { ops =>
      import spark.implicits._
      n += 1
      val p = java.nio.file.Files
        .createTempDirectory(s"idprop$n").toString + "/t"
      val t = MedallionTable(spark, p)
      t.setIdentityColumn("gid")
      var nextP = 0L
      def fresh(k: Int): Seq[Long] = {
        val s = (nextP until nextP + k); nextP += k; s
      }
      var model = Set.empty[Long]
      // the max id issued before the LAST overwrite: every current row is
      // younger than that wipe, so the monotone allocator must have given
      // them all strictly larger ids (an id re-issue would land at or
      // below it)
      var lastOverMax = 0L
      val boot = fresh(6)
      t.overwrite(boot.toDF("p")); model ++= boot
      ops.foreach {
        case Append(k) =>
          val f = fresh(k)
          t.append(f.toDF("p")); model ++= f
        case DelVec(m, r) =>
          t.deleteVectored(col("p") % m === r)
          model = model.filterNot(v => v % m == r)
        case Compact =>
          t.compact(nFiles = 2)
        case Over(k) =>
          if (model.nonEmpty) {
            val m = t.read.agg(max(col("gid"))).head()
            if (!m.isNullAt(0))
              lastOverMax = math.max(lastOverMax, m.getLong(0))
          }
          val f = fresh(k)
          t.overwrite(f.toDF("p")); model = f.toSet
        case MergeIns(k) =>
          import MergeOps._
          val f = fresh(k)
          t.mergeVectored(f.toDF("sp"), Seq("p" -> "sp"), Nil,
            Seq(WhenNotMatchedInsert(None,
              Map("p" -> ((_, sc) => sc("sp"))))))
          model ++= f
      }
      val rows = t.read.select(col("p"), col("gid")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      val payloads = rows.map(_._1).toSet
      val ids = rows.flatMap(_._2)
      val okPayloads = payloads == model
      val okNonNull = ids.length == rows.length
      val okUnique = ids.distinct.length == ids.length
      // monotone across overwrite epochs: every current row postdates the
      // last overwrite, so its id must exceed everything issued before it
      val okMonotone = ids.forall(_ > lastOverMax)
      Prop.collect(ops.map(_.getClass.getSimpleName).mkString(","))(
        okPayloads && okNonNull && okUnique && okMonotone)
    }

  // Keep runtime bounded: each op is a full commit-protocol round.
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(12)
}
