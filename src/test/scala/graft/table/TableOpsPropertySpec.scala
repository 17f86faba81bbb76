package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck model check over the round-11 metadata features: a random
  * SEQUENCE of table operations — append, vectored delete, rename,
  * OPTIMIZE (materialize), plain delete — must leave the table
  * row-identical to a driver-side model that replays the same ops on a
  * plain list. This is the composition guarantee the per-feature specs
  * can't give: any interleaving of soft deletes, renames and rewrites
  * reads back the same rows.
  */
object TableOpsPropertySpec extends Properties("TableOps") {

  private lazy val spark: SparkSession = graft.TestSession.get()

  // model row: (id, v); the value column's LOGICAL name evolves with
  // renames, the model tracks it alongside
  private sealed trait Op
  private case class Append(rows: List[(Long, Long)]) extends Op
  private case class DeleteVec(mod: Long, rem: Long) extends Op
  private case class DeleteRewrite(mod: Long, rem: Long) extends Op
  private case object Rename extends Op
  private case object Optimize extends Op
  private case object AddCol extends Op
  private case object DropCol extends Op

  private val appendGen = Gen.listOfN(8,
    Gen.zip(Gen.choose(0L, 500L), Gen.choose(0L, 99L))).map(Append(_))
  private val delVecGen = Gen.zip(Gen.choose(2L, 7L), Gen.choose(0L, 6L))
    .map { case (m, r) => DeleteVec(m, r % m) }
  private val delRwGen = Gen.zip(Gen.choose(2L, 7L), Gen.choose(0L, 6L))
    .map { case (m, r) => DeleteRewrite(m, r % m) }
  private val opGen: Gen[Op] = Gen.frequency(
    3 -> appendGen, 3 -> delVecGen, 1 -> delRwGen,
    1 -> Gen.const(Rename), 1 -> Gen.const(Optimize),
    2 -> Gen.const(AddCol), 2 -> Gen.const(DropCol))

  private var n = 0
  property("any op sequence ≡ the driver-side model") =
    Prop.forAllNoShrink(Gen.listOfN(6, opGen)) { ops =>
      import spark.implicits._
      n += 1
      val p = java.nio.file.Files
        .createTempDirectory(s"tops$n").toString + "/t"
      val t = MedallionTable(spark, p)
      t.overwrite((0L until 40L).map(i => (i, i % 10)).toDF("id", "v0"))
      var model: Map[Long, Long] = (0L until 40L).map(i => i -> (i % 10)).toMap
      var vName = "v0"
      var nextRename = 1
      // metadata-only extra column (SchemaOverlay): name + which ids have
      // a materialized value (absent ⇒ NULL). Fresh name per add — the
      // tombstone-slot refusal is pinned by SchemaOverlaySpec; here the
      // model covers the add/append/drop/rewrite interleavings.
      var extra: Option[(String, Map[Long, Long])] = None
      var nextExtra = 1
      ops.foreach {
        case Append(rows) =>
          // appends must be key-fresh (the table has no uniqueness
          // contract, but the MODEL is a map — skip ids already present)
          val fresh = rows.filterNot { case (id, _) => model.contains(id) }
            .groupBy(_._1).map(_._2.head).toList
          if (fresh.nonEmpty) {
            extra match {
              case Some((en, vals)) =>
                // a live extra column materializes in appended batches
                t.append(fresh.map { case (id, v) => (id, v, id * 7L) }
                  .toDF("id", vName, en))
                extra = Some((en, vals ++ fresh.map { case (id, _) => id -> id * 7L }))
              case None =>
                t.append(fresh.toDF("id", vName))
            }
            model ++= fresh
          }
        case DeleteVec(m, r) =>
          t.deleteVectored(col("id") % m === r)
          model = model.filterNot { case (id, _) => id % m == r }
          extra = extra.map { case (en, vals) =>
            (en, vals.filterNot { case (id, _) => id % m == r }) }
        case DeleteRewrite(m, r) =>
          t.delete(col("id") % m === r)
          model = model.filterNot { case (id, _) => id % m == r }
          extra = extra.map { case (en, vals) =>
            (en, vals.filterNot { case (id, _) => id % m == r }) }
        case Rename =>
          val nv = s"v$nextRename"; nextRename += 1
          t.renameColumn(vName, nv); vName = nv
        case Optimize =>
          t.compact(nFiles = 2)
        case AddCol if extra.isEmpty =>
          val en = s"e$nextExtra"; nextExtra += 1
          t.addColumn(en, "BIGINT")
          extra = Some((en, Map.empty))
        case AddCol => () // one live extra at a time
        case DropCol if extra.isDefined =>
          t.dropColumn(extra.get._1)
          extra = None
        case DropCol => ()
      }
      val got = t.read.select(col("id"), col(vName))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotExtra = extra.map { case (en, _) =>
        t.read.select(col("id"), col(en)).collect()
          .flatMap(r => if (r.isNullAt(1)) None else Some(r.getLong(0) -> r.getLong(1)))
          .toMap
      }
      val okExtra = (extra, gotExtra) match {
        case (Some((_, vals)), Some(gv)) => gv == vals
        case (None, None) => true
        case _ => false
      }
      val wantCols = Seq("id", vName) ++ extra.map(_._1)
      val okCols = t.read.columns.toSeq == wantCols
      Prop.collect(ops.map(_.getClass.getSimpleName).mkString(","))(
        got == model && okCols && okExtra)
    }
}
