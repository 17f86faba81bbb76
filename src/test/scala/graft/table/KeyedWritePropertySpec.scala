package graft.table

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** ScalaCheck model check over every keyed write entry point — `merge`,
  * `mergePruned`, `mergeClauses`, `mergeVectored`, `update`,
  * `updateVectored`, `delete`, `deleteVectored` and `deleteVectoredKeys`
  * — in random sequences on a partitioned table with row tracking. After
  * every op the table must equal a driver-side map model (id → v), every
  * `_row_id` must be non-null and unique, a surviving row must keep its
  * id, and an inserted row must get an id above every id issued before.
  */
object KeyedWritePropertySpec extends Properties("KeyedWrites") {

  private lazy val spark: SparkSession = graft.TestSession.get()

  private type Rows = List[(Long, Long)] // (id, v), key-unique
  private sealed trait Op
  private case class Merge(src: Rows, sync: Boolean) extends Op
  private case class MergePruned(src: Rows, sync: Boolean) extends Op
  private case class MergeClauses(src: Rows) extends Op
  private case class MergeVectored(src: Rows) extends Op
  private case class Update(m: Long, r: Long, vectored: Boolean) extends Op
  private case class Delete(m: Long, r: Long, vectored: Boolean) extends Op
  private case class DeleteKeys(ids: List[Long]) extends Op

  private val rowsGen: Gen[Rows] =
    Gen.listOfN(4, Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 99L)))
      .map(_.groupBy(_._1).map(_._2.head).toList)
  private val modGen = Gen.zip(Gen.choose(2L, 6L), Gen.choose(0L, 5L))
  private val opGen: Gen[Op] = Gen.oneOf(
    Gen.zip(rowsGen, Gen.prob(0.2)).map { case (s, y) => Merge(s, y) },
    Gen.zip(rowsGen, Gen.prob(0.3)).map { case (s, y) => MergePruned(s, y) },
    rowsGen.map(MergeClauses(_)),
    rowsGen.map(MergeVectored(_)),
    Gen.zip(modGen, Gen.oneOf(false, true))
      .map { case ((m, r), v) => Update(m, r % m, v) },
    Gen.zip(modGen, Gen.oneOf(false, true))
      .map { case ((m, r), v) => Delete(m, r % m, v) },
    Gen.listOfN(3, Gen.choose(0L, 30L)).map(DeleteKeys(_)))

  private val Parts = 3L
  private var n = 0
  property("any keyed-write sequence ≡ the driver-side model; row ids " +
      "non-null, unique, stable, fresh on insert") =
    Prop.forAllNoShrink(Gen.listOfN(6, opGen)) { ops =>
      import spark.implicits._
      import MergeOps._
      n += 1
      val p = java.nio.file.Files
        .createTempDirectory(s"kwprop$n").toString + "/t"
      val t = MedallionTable(spark, p, Seq("grp"))
      def frame(rows: Rows) =
        rows.map { case (id, v) => (id, id % Parts, v) }.toDF("id", "grp", "v")
      t.overwrite(frame((0L until 20L).map(i => i -> i * 10).toList))
      t.enableRowTracking()
      var model: Map[Long, Long] = (0L until 20L).map(i => i -> i * 10).toMap
      def snapshot(): Seq[(Long, (Long, Option[Long]))] =
        t.read.select("id", "v", MedallionTable.RowIdCol).collect().map { r =>
          r.getLong(0) -> ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        }.toSeq
      var ids = snapshot().map { case (k, (_, id)) => k -> id.get }.toMap
      var issued = ids.values.max
      val setV = Map("v" -> ((_: ColRef, s: ColRef) => s("v")))
      val insertAll = Seq("id", "grp", "v")
        .map(c => c -> ((_: ColRef, s: ColRef) => s(c))).toMap
      var failures = List.empty[String]
      ops.foreach { op =>
        op match {
          case Merge(src, sync) =>
            t.merge(frame(src), Seq("id"), deleteNotMatchedBySource = sync)
            model = if (sync) src.toMap else model ++ src
          case MergePruned(src, sync) =>
            // touched partitions may not carry live update batches
            if (DvUpdates.committedBatches(spark, p).nonEmpty) t.compact()
            t.mergePruned(frame(src), Seq("id", "grp"),
              deleteNotMatchedBySource = sync)
            val touched = src.map(_._1 % Parts).toSet
            model = (if (sync) model.filterNot { case (k, _) =>
              touched.contains(k % Parts) } else model) ++ src
          case MergeClauses(src) =>
            t.mergeClauses(frame(src), Seq("id" -> "id"),
              Seq(WhenMatchedUpdate(None, setV)),
              Seq(WhenNotMatchedInsert(None, insertAll)), Nil)
            model ++= src
          case MergeVectored(src) =>
            t.mergeVectored(frame(src), Seq("id" -> "id"),
              Seq(WhenMatchedUpdate(None, setV)),
              Seq(WhenNotMatchedInsert(None, insertAll)))
            model ++= src
          case Update(m, r, vectored) =>
            val set = Map("v" -> (col("v") + 1000L))
            if (vectored) t.updateVectored(col("id") % m === r, set)
            else t.update(col("id") % m === r, set)
            model = model.map { case (k, v) =>
              k -> (if (k % m == r) v + 1000L else v) }
          case Delete(m, r, vectored) =>
            if (vectored) t.deleteVectored(col("id") % m === r)
            else t.delete(col("id") % m === r)
            model = model.filterNot { case (k, _) => k % m == r }
          case DeleteKeys(keys) =>
            t.deleteVectoredKeys(keys.toDF("id"), Seq("id"))
            model --= keys
        }
        val rows = snapshot()
        val got = rows.toMap
        val rowIds = rows.flatMap(_._2._2)
        if (got.size != rows.size) failures ::= s"$op: duplicate keys"
        if (got.map { case (k, (v, _)) => k -> v } != model)
          failures ::= s"$op: rows differ from the model"
        if (rowIds.size != got.size) failures ::= s"$op: NULL _row_id"
        if (rowIds.distinct.size != rowIds.size) failures ::= s"$op: duplicate _row_id"
        got.foreach { case (k, (_, id)) =>
          (ids.get(k), id) match {
            case (Some(was), Some(now)) if was != now =>
              failures ::= s"$op: _row_id of $k moved $was -> $now"
            case (None, Some(now)) if now <= issued =>
              failures ::= s"$op: inserted $k got _row_id $now <= $issued"
            case _ => ()
          }
        }
        ids = got.collect { case (k, (_, Some(id))) => k -> id }
        issued = (issued +: rowIds).max
      }
      Prop.collect(ops.map(_.getClass.getSimpleName).mkString(","))(
        failures.isEmpty :| failures.reverse.mkString("; "))
    }

  // Keep runtime bounded: each op is a full commit-protocol round.
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(10)
}
