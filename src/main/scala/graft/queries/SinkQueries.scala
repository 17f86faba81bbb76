package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.table.{IncrementalAgg, MedallionTable, MergeOps}

/** SURVEY.md §2.2 sinks / table maintenance (K1-K5) exposed as
  * oracle-checked round-trip queries: write to a /tmp scratch table with the
  * MedallionTable layer, read back, compare against SQL that derives the
  * same final state from the base tables.
  */
object SinkQueries {
  import Q.QueryFn

  val defs: Map[String, QueryFn] = Map(
    // K14 — writer-captured change data feed (graft.table.ChangeFeed):
    // Delta's enableChangeDataFeed/table_changes with O(Δ) capture
    // manifests instead of snapshot diffs. The query scripts create →
    // enable → append → DV-delete → DV-update and reads the whole feed
    // back; the oracle recomputes every commit's change rows (inserts
    // from the appended slice, delete images from the pre-delete state,
    // pre/post update images) with the per-commit attribution. A
    // mis-captured file list, a positional reconstruction off by one
    // row, or a wrong commit stamp all hash-mismatch. Commit ordinals
    // are deterministic because the commits sidecar is wiped first.
    "k14_cdf_feed" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k14_cdf")
      Q.deleteTable(s, p)
      val t = MedallionTable(s, p)
      // 25% key slice: the protocol under test is commit-count-shaped,
      // not data-shaped - the slice keeps the bench row honest while
      // every planted condition still matches inside it (moduli chosen
      // compatible with k % 4 == 1)
      val o = Tables.orders(s, dir).filter($"o_orderkey" % 4 === 1)
        .select($"o_orderkey", $"o_orderstatus",
          $"o_totalprice", $"o_orderpriority")
      t.overwrite(o) // c1
      t.enableChangeDataFeed() // c2
      t.append(o.filter($"o_orderkey" % 97 === 0)
        .withColumn("o_orderkey", $"o_orderkey" + 20000000L)) // c3: inserts
      t.deleteVectored($"o_orderkey" % 10 === 3) // c4: delete images
      t.updateVectored($"o_orderkey" % 100 === 9,
        Map("o_orderpriority" -> lit("X-CDF"))) // c5: pre+post images
      // `_commit_timestamp` attribution (Delta parity): the raw instant
      // is wall-clock (not oracle-able), so the oracled column is the
      // ATTRIBUTION — every row's timestamp must equal the in-commit-
      // timestamp history instant of ITS OWN _commit_version, proving
      // the feed stamps commit time per version (not capture time, not
      // one shared clock read)
      val instants = t.fullHistory().map { case (v, _, ts) => v -> ts }.toMap
      val tsOfVersion = Seq(3L, 4L, 5L).foldLeft(lit(-1L)) { (e, v) =>
        when($"_commit_version" === v, lit(instants(v))).otherwise(e)
      }
      t.readChangeFeed(3L, 5L)
        .withColumn("ts_is_commit_instant",
          unix_millis($"_commit_timestamp") === tsOfVersion)
        .drop("_commit_timestamp")
    }),

    // K14b — REFRESH MATERIALIZED VIEW through the feed: the gold
    // aggregate is maintained by IncrementalAgg.catchUp with ZERO
    // snapshot retention, so the refresh can only have come from the
    // writer-captured feed (the snapshot-diff route would refuse). The
    // oracle recomputes the aggregate from the final state from scratch
    // — the O(Δ) maintenance must be bit-identical (integer cents).
    "k14_cdf_mv_refresh" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k14_mv_fact")
      val g = Q.scratch(dir, "k14_mv_gold")
      Seq(p, g).foreach(Q.deleteTable(s, _))
      val t = MedallionTable(s, p)
      val gold = MedallionTable(s, g)
      val o = Tables.orders(s, dir).filter($"o_orderkey" % 4 === 1)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val groupCols = Seq("o_orderstatus")
      val sums = Seq("cents" ->
        round($"o_totalprice" * 100).cast("long"))
      t.overwrite(o) // c1
      t.enableChangeDataFeed() // c2
      IncrementalAgg.catchUp(t, gold, Seq("o_orderkey"), groupCols, sums)
      t.append(o.filter($"o_orderkey" % 89 === 0)
        .withColumn("o_orderkey", $"o_orderkey" + 30000000L)) // c3
      t.updateVectored($"o_orderkey" % 50 === 11,
        Map("o_orderstatus" -> lit("Z"))) // c4: rows MOVE groups
      t.deleteVectored($"o_orderkey" % 10 === 9) // c5
      IncrementalAgg.catchUp(t, gold, Seq("o_orderkey"), groupCols, sums)
      gold.read.drop(IncrementalAgg.FactCommitCol)
    }),

    // K14c — CDC replication through the feed (ChangeFeed.replicateTo,
    // Delta's documented CDF→MERGE mirroring pattern): bootstrap copy,
    // then ONE incremental window applying the NET effect of append +
    // two overlapping DV-updates (last-wins per key) + a DV-delete that
    // removes some updated keys — O(Δ) upsert marks + key-deletes on the
    // mirror, zero mirror rescans (spec asserts the untouched files).
    // The oracle recomputes the final source state from scratch; any
    // mis-netting (stale update applied over a newer one, a resurrected
    // delete) hash-mismatches.
    "k14_cdf_mirror" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k14_mir_src")
      val mp = Q.scratch(dir, "k14_mir_dst")
      Seq(p, mp).foreach(Q.deleteTable(s, _))
      val t = MedallionTable(s, p)
      val m = MedallionTable(s, mp)
      val o = Tables.orders(s, dir).filter($"o_orderkey" % 4 === 1)
        .select($"o_orderkey", $"o_orderstatus",
          $"o_totalprice", $"o_orderpriority")
      t.overwrite(o) // c1
      t.enableChangeDataFeed() // c2
      graft.table.ChangeFeed.replicateTo(t, m, Seq("o_orderkey")) // bootstrap
      t.append(o.filter($"o_orderkey" % 89 === 0)
        .withColumn("o_orderkey", $"o_orderkey" + 40000000L)) // c3
      t.updateVectored($"o_orderkey" % 30 === 1,
        Map("o_orderpriority" -> lit("M1"))) // c4
      t.updateVectored($"o_orderkey" % 60 === 1,
        Map("o_orderpriority" -> lit("M2"))) // c5: overlaps c4 — last wins
      t.deleteVectored($"o_orderkey" % 50 === 1) // c6: kills updated keys too
      graft.table.ChangeFeed.replicateTo(t, m, Seq("o_orderkey"))
      m.read.select("o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
    }),

    // K15 — generated columns (MedallionTable.setGeneratedColumn, Delta
    // GENERATED ALWAYS AS parity): the partition key o_year is DERIVED —
    // neither write supplies it; the write path computes it in-pass and
    // partitionBy lays the directories out, so the o_year filter below
    // prunes partitions no writer ever had to supply (the reference's
    // derived batch-key partitioning, bronze_table_creation.py:26). The
    // oracle recomputes year(o_orderdate) from scratch: a wrong or stale
    // generated value hash-mismatches.
    "k15_generated_col" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k15_gen")
      Q.deleteTable(s, p)
      val t = MedallionTable(s, p, partitionColumns = Seq("o_year"))
      t.setGeneratedColumn("o_year", "year(o_orderdate)")
      val o = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_totalprice", $"o_orderdate")
      t.overwrite(o.filter($"o_orderkey" % 2 === 0))
      t.append(o.filter($"o_orderkey" % 2 === 1))
      t.read.filter($"o_year" >= 1995)
        .select("o_orderkey", "o_orderdate", "o_year", "o_totalprice")
    }),

    // K15 — GENERATED ALWAYS AS IDENTITY (Delta identity-column parity,
    // the generated-column sibling): create + append + DV merge, each id
    // engine-assigned under the allocation lock. The per-row assignment
    // ORDER is partition-nondeterministic (any dense permutation is
    // legal, as in Delta), so the oracled surface is the exact invariant
    // set — count = distinct = max, min = start — recomputed by the
    // oracle from the same input slices. Per-row behavior (matched rows
    // keep ids, ALWAYS refusals, concurrency) is pinned by
    // IdentityColumnSpec.
    "k15_identity_col" -> ((s, dir) => {
      import s.implicits._
      import graft.table.MergeOps._
      val p = Q.scratch(dir, "k15_idcol")
      Q.deleteTable(s, p)
      val t = MedallionTable(s, p)
      t.setIdentityColumn("row_seq")
      val o = Tables.orders(s, dir).select($"o_orderkey", $"o_totalprice")
      t.overwrite(o.filter($"o_orderkey" % 9 === 0))
      t.append(o.filter($"o_orderkey" % 9 === 1))
      // DV merge: %45==0 keys match (update keeps ids), re-keyed rows
      // insert (ids assigned)
      val src = o.filter($"o_orderkey" % 45 === 0)
        .select($"o_orderkey".as("k"), ($"o_totalprice" + 1).as("tp"))
        .unionByName(o.filter($"o_orderkey" % 45 === 2)
          .select(($"o_orderkey" + 50000000L).as("k"),
            $"o_totalprice".as("tp")))
      t.mergeVectored(src, Seq("o_orderkey" -> "k"),
        Seq(WhenMatchedUpdate(None,
          Map("o_totalprice" -> ((_, sc) => sc("tp"))))),
        Seq(WhenNotMatchedInsert(None, Map(
          "o_orderkey" -> ((_, sc) => sc("k")),
          "o_totalprice" -> ((_, sc) => sc("tp"))))))
      t.read.agg(
        count(lit(1)).as("n"),
        countDistinct($"row_seq").as("n_ids"),
        min($"row_seq").as("min_id"),
        max($"row_seq").as("max_id"))
    }),

    // K16 — row tracking (Delta row IDs, round-14 verdict #7): enable on
    // a table WITH data (backfill rewrite assigns 1..n0), then churn
    // through update-dv → OPTIMIZE → merge-dv; ids must be STABLE — the
    // pre-churn (key, _row_id) binding is re-joined after the churn and
    // any drifted id shows up in n_id_changed (oracle expects 0). Density
    // invariants (count/distinct/min/max, originals ≤ n0, inserts > n0)
    // are DuckDB-recomputable from the op predicates alone.
    "k16_row_tracking" -> ((s, dir) => {
      import s.implicits._
      import graft.table.MergeOps._
      val p = Q.scratch(dir, "k16_rowtrack")
      Q.deleteTable(s, p)
      val t = MedallionTable(s, p)
      val o = Tables.orders(s, dir).select($"o_orderkey", $"o_totalprice")
      t.overwrite(o.filter($"o_orderkey" % 7 === 0)) // tracking not yet on
      t.enableRowTracking()                          // backfill: ids 1..n0
      val before = t.read.select($"o_orderkey", $"_row_id".as("rid0"))
        .localCheckpoint()
      val n0 = before.count()
      // churn: DV update keeps ids; OPTIMIZE carries them; DV merge keeps
      // matched ids and assigns fresh ones to inserts
      t.updateVectored($"o_orderkey" % 21 === 0,
        Map("o_totalprice" -> ($"o_totalprice" * 2)))
      t.compact()
      val src = o.filter($"o_orderkey" % 35 === 0)
        .select($"o_orderkey".as("k"), ($"o_totalprice" + 1).as("tp"))
        .unionByName(o.filter($"o_orderkey" % 35 === 3)
          .select(($"o_orderkey" + 60000000L).as("k"),
            $"o_totalprice".as("tp")))
      t.mergeVectored(src, Seq("o_orderkey" -> "k"),
        Seq(WhenMatchedUpdate(None,
          Map("o_totalprice" -> ((_, sc) => sc("tp"))))),
        Seq(WhenNotMatchedInsert(None, Map(
          "o_orderkey" -> ((_, sc) => sc("k")),
          "o_totalprice" -> ((_, sc) => sc("tp"))))))
      val after = t.read
      // one-row scalar, resolved eagerly (a crossJoin of two single-row
      // aggs would plan as a nested-loop cross and trip PlanLint for no
      // distributed win)
      val idChanged = before.join(after, "o_orderkey")
        .agg(sum(when($"rid0" =!= $"_row_id", 1L).otherwise(0L)))
        .head().getLong(0)
      after.agg(
        count(lit(1)).as("n"),
        countDistinct($"_row_id").as("n_ids"),
        min($"_row_id").as("min_id"),
        max($"_row_id").as("max_id"),
        sum(when($"_row_id" <= n0, 1L).otherwise(0L)).as("n_originals"),
        sum(when($"_row_id" > n0, 1L).otherwise(0L)).as("n_inserted"))
        .withColumn("n_id_changed", lit(idChanged))
    }),

    // K18 — type widening (graft.table.WideCols, Delta's ALTER COLUMN …
    // TYPE feature): the scripted table starts NARROW (int key, float
    // price), widens both columns metadata-only, appends keys past
    // Int.MaxValue, then runs a DV update whose condition spans narrow
    // and wide files — the final per-row dump only matches the oracle if
    // the narrow pages decode exactly under the wide reader schema and
    // the update saw one coherent wide view. Full-row hash compare; no
    // aggregation hides a drifted value. (float->double is exact by
    // IEEE widening, and *2 is exponent arithmetic, so DuckDB
    // reproduces every bit.)
    "k18_type_widening" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k18_widen")
      Q.deleteTable(s, p)
      val t = MedallionTable(s, p)
      val o = Tables.orders(s, dir)
      t.overwrite(o.filter($"o_orderkey" % 5 === 0)
        .select($"o_orderkey".cast("int").as("k"),
          $"o_totalprice".cast("float").as("p")))
      t.alterColumnType("k", "BIGINT")
      t.alterColumnType("p", "DOUBLE")
      t.append(o.filter($"o_orderkey" % 5 === 1)
        .select(($"o_orderkey" + 10000000000L).as("k"),
          $"o_totalprice".cast("float").cast("double").as("p")))
      t.updateVectored($"k" % 10 === 0, Map("p" -> ($"p" * 2)))
      t.read.select($"k", $"p")
    }),

    // K19 — column defaults (Delta allowColumnDefaults): omitted-column
    // batches fill from the registered default, provided batches pass
    // through, DROP DEFAULT re-opens to NULL — the full-row dump pins
    // per-slice behavior (which batch omitted the column is recomputed
    // by the oracle from the same slice predicates).
    "k19_column_defaults" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k19_defaults")
      Q.deleteTable(s, p)
      val t = MedallionTable(s, p)
      val o = Tables.orders(s, dir)
      t.overwrite(o.filter($"o_orderkey" % 7 === 0)
        .select($"o_orderkey", $"o_orderstatus"))
      t.setColumnDefault("o_orderstatus", "'UNKNOWN'")
      t.append(o.filter($"o_orderkey" % 7 === 1).select($"o_orderkey"))
      t.append(o.filter($"o_orderkey" % 7 === 2)
        .select($"o_orderkey", $"o_orderstatus"))
      t.dropColumnDefault("o_orderstatus")
      t.append(o.filter($"o_orderkey" % 7 === 3).select($"o_orderkey"))
      t.read
    }),

    // K1 — create + append with partitioning (bronze_table_creation.py:26)
    "k1_append_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k1_append")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p)
      val o = Tables.orders(s, dir)
      t.overwrite(o.filter($"o_orderkey" % 4 === 0))
      t.append(o.filter($"o_orderkey" % 4 === 1))
      t.read.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    }),

    // K11 — COPY INTO (graft.table.CopyInto): idempotent incremental file
    // loading. Two landings arrive in the source dir over four COPY INTO
    // runs (API twice, SQL twice); each landing loads exactly once. A
    // double load would double rows and hash-mismatch the oracle.
    "k11_copy_into_idempotent" -> ((s, dir) => {
      import s.implicits._
      val src = Q.scratch(dir, "k11_ci_src")
      val p = Q.scratch(dir, "k11_ci_tbl")
      Q.deleteDir(s, src)
      Q.deleteTable(s, p)
      val o = Tables.orders(s, dir)
      o.filter($"o_orderkey" % 3 === 0).coalesce(1).write.parquet(s"$src/land1")
      val t = MedallionTable(s, p)
      graft.table.CopyInto.copyInto(t, src) // loads land1
      graft.table.CopyInto.copyInto(t, src) // no-op: land1 already loaded
      o.filter($"o_orderkey" % 3 === 1).coalesce(1).write.parquet(s"$src/land2")
      s.sql(s"COPY INTO '$p' FROM '$src' FILEFORMAT = PARQUET") // land2 only
      s.sql(s"COPY INTO '$p' FROM '$src' FILEFORMAT = PARQUET") // no-op
      t.read.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    }),

    // K11 — OPTIMIZE ... WHERE: partition-scoped compaction. Three
    // appends leave three files in every partition; the SQL compacts ONE
    // partition; content must be byte-identical to never having
    // compacted (untouched partitions physically untouched —
    // MaintenanceOpsSpec pins the fingerprints).
    "k11_optimize_where_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k11_opt_where")
      Q.deleteTable(s, p)
      val t = MedallionTable(s, p, partitionColumns = Seq("blk"))
      val o = Tables.orders(s, dir)
        .withColumn("blk", ($"o_orderkey" % 4).cast("int"))
      (0 until 3).foreach(i => t.append(o.filter($"o_orderkey" % 3 === i)))
      s.sql(s"OPTIMIZE '$p' WHERE blk = 2")
      t.read.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority", "blk")
    }),

    // K11 — CONVERT TO GRAFT: a PLAIN parquet directory (written without
    // the table layer) is adopted in place, metadata-only, then written
    // THROUGH the table layer — the 100 TB lake-adoption path.
    "k11_convert_in_place" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k11_convert")
      Q.deleteTable(s, p)
      val o = Tables.orders(s, dir)
      o.filter($"o_orderkey" % 2 === 0).write.parquet(p) // no table layer
      s.sql(s"CONVERT TO GRAFT '$p'")
      val t = MedallionTable(s, p)
      t.append(o.filter($"o_orderkey" % 2 === 1))
      t.read.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    }),

    // K12 — metadata-only schema evolution DDL (SchemaOverlay +
    // ColumnMap): ADD COLUMN (typed-null overlay), DROP COLUMN
    // (tombstone), RENAME COLUMN (map), then an append that materializes
    // the added column — all without rewriting one pre-existing data
    // byte (SchemaOverlaySpec pins the file stamps).
    "k12_schema_evolution_ddl" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k12_ddl")
      Q.deleteTable(s, p)
      val t = MedallionTable(s, p)
      val o = Tables.orders(s, dir)
      t.overwrite(o.filter($"o_orderkey" % 2 === 0)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"))
      s.sql(s"ALTER TABLE '$p' ADD COLUMN channel STRING")
      s.sql(s"ALTER TABLE '$p' DROP COLUMN o_orderstatus")
      s.sql(s"ALTER TABLE '$p' RENAME COLUMN o_custkey TO cust")
      t.append(o.filter($"o_orderkey" % 2 === 1)
        .select($"o_orderkey", $"o_custkey".as("cust"), $"o_totalprice",
          lit("web").as("channel")))
      t.read.select("o_orderkey", "cust", "o_totalprice", "channel")
    }),

    // K13 — idempotent appends (Delta txnAppId/txnVersion parity): a
    // retrying scheduler lands every batch TWICE; each (appId, version)
    // applies exactly once. A duplicate application doubles the batch
    // rows and hash-mismatches the oracle.
    "k13_idempotent_append" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k13_txn")
      Q.deleteTable(s, p)
      val t = MedallionTable(s, p)
      val o = Tables.orders(s, dir)
      t.overwrite(o.filter($"o_orderkey" % 4 === 0))
      (1 to 2).foreach(_ =>
        t.appendIdempotent(o.filter($"o_orderkey" % 4 === 1), "etl", 1L))
      (1 to 2).foreach(_ =>
        t.appendIdempotent(o.filter($"o_orderkey" % 4 === 2), "etl", 2L))
      t.read.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    }),

    // K10 (round-10 verdict stretch #7) — Delta _delta_log interop
    // export: the table is written through the MedallionTable layer, the
    // log is synced per commit (v0 create + adds, v1 incremental adds),
    // and the QUERY returns the TABLE-LAYER read while the ORACLE replays
    // the exported log externally in DuckDB (read_json over
    // _delta_log/*.json → adds-minus-removes live set → semi-join against
    // the parquet dir). Hash match ⟺ an external Delta-log reader
    // reproduces the graft table exactly. The oracle embeds the sf0.01
    // scratch path — the driver's correctness gate runs at sf0.01; bench
    // runs at other sf write sibling dirs and cannot clobber it.
    "k10_delta_export_replay" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "delta_export")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p)
      val o = Tables.orders(s, dir)
      t.overwrite(o.filter($"o_orderkey" % 4 === 0))
      graft.table.DeltaLogExport.sync(s, p)
      t.append(o.filter($"o_orderkey" % 4 === 1))
      graft.table.DeltaLogExport.sync(s, p)
      t.read.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    }),

    // The IMPORT half of the K10 interop story: read the table THROUGH
    // its Delta log (graft.table.DeltaLogExport.readViaLog — the
    // external-reader protocol run inside Spark). The third append is
    // deliberately NOT synced: a log reader must see exactly the
    // committed state, not the directory listing — precisely how a real
    // Delta client ignores crash litter and in-flight writes.
    "k10_delta_log_read" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "delta_log_read")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p)
      val o = Tables.orders(s, dir)
      t.overwrite(o.filter($"o_orderkey" % 4 === 0))
      graft.table.DeltaLogExport.sync(s, p)
      t.append(o.filter($"o_orderkey" % 4 === 1))
      graft.table.DeltaLogExport.sync(s, p)
      t.append(o.filter($"o_orderkey" % 4 === 2)) // un-synced: invisible
      graft.table.DeltaLogExport.readViaLog(s, p)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
    }),

    // Materialize-on-export (round-11 verdict #5): the table has used
    // EVERY soft feature an external Delta reader cannot interpret —
    // metadata-only RENAME COLUMN, a deletion-vector delete AND a
    // DV-backed update — and `SYNC DELTA LOG FOR t MATERIALIZED` bakes
    // them into plain files with one OPTIMIZE before exporting a clean
    // version-0 log. The QUERY reads back THROUGH that log
    // (external-reader protocol in Spark); the ORACLE replays the same
    // log in DuckDB — hash match ⟺ an external reader reproduces the
    // renamed+deleted+updated table exactly.
    "k10_delta_export_materialized" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "delta_mat")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p)
      t.overwrite(Tables.orders(s, dir).filter($"o_orderkey" % 3 === 0)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
          $"o_orderpriority"))
      t.renameColumn("o_totalprice", "price_usd")
      t.deleteVectored($"price_usd" > 250000)
      t.updateVectored($"o_orderkey" % 9 === 0,
        Map("o_orderpriority" -> lit("1-URGENT")))
      s.sql(s"SYNC DELTA LOG FOR '$p' MATERIALIZED")
      graft.table.DeltaLogExport.readViaLog(s, p)
        .select("o_orderkey", "o_orderstatus", "price_usd", "o_orderpriority")
    }),

    // The checkpoint half of the K10 interop story: two synced commits,
    // a checkpoint at version 1, then a post-checkpoint commit. The
    // ORACLE follows the external reader protocol — seed the live set
    // from the checkpoint PARQUET, apply only the JSON tail after it —
    // while the query returns the table-layer read.
    "k10_delta_checkpoint_replay" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "delta_ck")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p)
      val o = Tables.orders(s, dir)
      t.overwrite(o.filter($"o_orderkey" % 4 === 0))
      graft.table.DeltaLogExport.sync(s, p)
      t.append(o.filter($"o_orderkey" % 4 === 1))
      graft.table.DeltaLogExport.sync(s, p)
      graft.table.DeltaLogExport.checkpoint(s, p)
      t.append(o.filter($"o_orderkey" % 4 === 2))
      graft.table.DeltaLogExport.sync(s, p)
      t.read.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    }),

    // K6 (round-8 verdict #2) — named-table catalog surface: a
    // MedallionTable registered via CREATE TABLE … USING graft LOCATION
    // (graft.sources.GraftSqlSource), then read back through spark.sql BY
    // NAME — no temp view. The reference's users consume tables by
    // registered name (silver_table_creation.py:353). Aggregate + filters
    // exercise the V2 pruning/pushdown path, not just a full scan.
    "k6_catalog_named_table" -> ((s, dir) => {
      val p = Q.scratch(dir, "k6_catalog")
      Q.deleteDir(s, p)
      val cust = Tables.customer(s, dir)
      // half lands through the API write path, half through SQL
      // `INSERT INTO` (the V1Write bridge → MedallionTable.append — same
      // CAS commit protocol), so the oracle covers BOTH write routes
      MedallionTable(s, p).overwrite(cust.filter("c_custkey % 2 = 0"))
      s.sql("DROP TABLE IF EXISTS graft_cat_customer")
      s.sql(s"CREATE TABLE graft_cat_customer USING graft LOCATION '$p'")
      cust.filter("c_custkey % 2 = 1").createOrReplaceTempView("k6_src_odd")
      s.sql("INSERT INTO graft_cat_customer SELECT * FROM k6_src_odd")
      s.sql("""
        |SELECT c_nationkey, COUNT(*) AS n_cust,
        |       CAST(SUM(ROUND(c_acctbal * 100)) AS BIGINT) AS bal_cents
        |FROM graft_cat_customer
        |WHERE c_acctbal > 0 AND c_mktsegment <> 'MACHINERY'
        |GROUP BY c_nationkey""".stripMargin)
    }),

    // Catalog time travel: the k_time_travel scenario (overwrite → merge,
    // retained snapshots) read back through a cataloged table pinned with
    // OPTIONS (versionAsOf 1) — Delta's `VERSION AS OF` as a named-table
    // surface. Same oracle as k_time_travel: the pre-merge state.
    "k6_catalog_version_as_of" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k6_cat_tt")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p, retainVersions = 2)
      val o = Tables.orders(s, dir)
      t.overwrite(o.filter($"o_orderkey" % 3 =!= 0))
      t.merge(o.filter($"o_orderkey" % 2 === 0), Seq("o_orderkey"))
      s.sql("DROP TABLE IF EXISTS graft_cat_tt")
      s.sql(s"CREATE TABLE graft_cat_tt USING graft LOCATION '$p' " +
        "OPTIONS (versionAsOf 1)")
      s.sql("""
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, o_orderpriority
        |FROM graft_cat_tt""".stripMargin)
    }),

    // K6 — metadata-only aggregates: COUNT(*)/MIN/MAX over a stats-fresh
    // cataloged table complete-push into the manifest (no data scan —
    // ManifestAggPushdownSpec pins the plan shape); the oracle recomputes
    // the same aggregates from the raw rows, proving the manifest path
    // answer-identical to the scan path.
    "k6_catalog_stats_agg" -> ((s, dir) => {
      val p = Q.scratch(dir, "k6_stats_agg")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p)
      t.overwrite(Tables.orders(s, dir))
      t.refreshStats()
      s.sql("DROP TABLE IF EXISTS graft_cat_stats")
      s.sql(s"CREATE TABLE graft_cat_stats USING graft LOCATION '$p'")
      s.sql("""
        |SELECT COUNT(*) AS n_orders, MIN(o_orderkey) AS min_key,
        |       MAX(o_orderkey) AS max_key, MIN(o_orderdate) AS first_dt,
        |       MAX(o_totalprice) AS max_price,
        |       MIN(o_orderpriority) AS min_prio
        |FROM graft_cat_stats""".stripMargin)
    }),

    // K6 — manifest file skipping through the catalog: a range predicate
    // over a range-clustered, stats-fresh table prunes the file list at
    // plan time (CatalogFileSkippingSpec pins the plan; this oracles the
    // answers against the full-scan recompute).
    "k6_catalog_file_skipping" -> ((s, dir) => {
      val p = Q.scratch(dir, "k6_file_skip")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p)
      t.overwrite(Tables.orders(s, dir)
        .repartitionByRange(8, col("o_orderkey")))
      t.refreshStats()
      s.sql("DROP TABLE IF EXISTS graft_cat_skip")
      s.sql(s"CREATE TABLE graft_cat_skip USING graft LOCATION '$p'")
      s.sql("""
        |SELECT o_orderkey, o_orderpriority, o_totalprice
        |FROM graft_cat_skip
        |WHERE o_orderkey BETWEEN 1000 AND 3000""".stripMargin)
    }),

    // Zero-copy SHALLOW CLONE (graft.table.ShallowClone): the clone
    // pins the source's current files by pointer, inherits its deletion
    // vector, diverges with a local append + its own vectored delete —
    // and the SOURCE then takes an append the clone must NOT see. The
    // oracle derives that exact divergence from the base table.
    "k_shallow_clone_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val sp = Q.scratch(dir, "k_clone_src")
      val cp = Q.scratch(dir, "k_clone_tgt")
      Seq(sp, cp).foreach(Q.deleteDir(s, _))
      val o = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val src = MedallionTable(s, sp)
      src.overwrite(o.filter($"o_orderkey" % 2 === 0))
      src.deleteVectored($"o_totalprice" > 200000)
      val c = MedallionTable(s, cp)
      c.cloneFrom(src)
      c.append(o.filter($"o_orderkey" % 2 === 1 && $"o_orderkey" % 3 === 0))
      c.deleteVectored($"o_orderstatus" === "F" && $"o_orderkey" % 5 === 0)
      src.append(o.filter($"o_orderkey" % 100 === 0)) // invisible to the clone
      c.read
    }),

    // DEEP CLONE (MedallionTable.deepCloneFrom / CREATE TABLE … CLONE):
    // materialized copy — the source's DV state is applied-and-baked-in,
    // registries travel, zero pointer entries — then BOTH sides diverge:
    // the clone appends + DV-deletes locally, the source takes an append
    // AND a full rewrite (compact) the clone must not see (a shallow
    // clone would break under that rewrite; the deep copy is decoupled
    // by construction). Oracle derives the clone's exact content.
    "k_deep_clone_diverge" -> ((s, dir) => {
      import s.implicits._
      val sp = Q.scratch(dir, "k_dclone_src")
      val cp = Q.scratch(dir, "k_dclone_tgt")
      Seq(sp, cp).foreach(Q.deleteDir(s, _))
      val o = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val src = MedallionTable(s, sp)
      src.overwrite(o.filter($"o_orderkey" % 2 === 0))
      src.deleteVectored($"o_totalprice" > 200000)
      val c = MedallionTable(s, cp)
      c.deepCloneFrom(src)
      c.append(o.filter($"o_orderkey" % 2 === 1 && $"o_orderkey" % 3 === 0))
      c.deleteVectored($"o_orderstatus" === "F" && $"o_orderkey" % 5 === 0)
      src.append(o.filter($"o_orderkey" % 100 === 0)) // invisible to clone
      src.compact() // a source rewrite breaks pointers; a deep copy never
      c.read
    }),

    // Metadata-only RENAME COLUMN (graft.table.ColumnMap): rename, then
    // keep WORKING with the table under the new name — an append and a
    // filter both speak it — while the files on disk still carry the old
    // one (ColumnMapSpec asserts zero file changes). The rewrite-free
    // rename is the 100 TB schema-evolution story (Delta column mapping).
    "k_rename_column_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k_rename_col")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p)
      val o = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      t.overwrite(o.filter($"o_orderkey" % 2 === 0))
      t.renameColumn("o_totalprice", "price_usd")
      t.append(o.filter($"o_orderkey" % 2 === 1)
        .withColumnRenamed("o_totalprice", "price_usd"))
      t.read.filter($"price_usd" > 50000)
        .select("o_orderkey", "o_orderstatus", "price_usd")
    }),

    // Deletion-vector DELETE (graft.table.DeletionVectors): the same
    // final state as k_delete_where_roundtrip's rewrite path, reached by
    // writing ONLY the deleted rows' positions — zero data files
    // rewritten (DeletionVectorSpec asserts the file set + mtimes),
    // which is the 100 TB GDPR-erasure story. A second vectored delete
    // stacks on the first; the read applies both in one broadcast
    // anti-join.
    "k_delete_dv_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k_delete_dv")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p)
      t.overwrite(Tables.orders(s, dir))
      t.deleteVectored($"o_totalprice" > 150000 && $"o_orderstatus" === "O")
      t.deleteVectored($"o_orderkey" % 10 === 3)
      t.read.select("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority")
    }),

    // Deletion-vector UPDATE (graft.table.DvUpdates): O(matched) instead
    // of the O(table) rewrite — matched rows' positions are marked in
    // the sidecar and their new versions land as a staged batch, both
    // committed by ONE atomic rename (no duplicate/lost window;
    // UpdateVectoredSpec drives the crash path). The second update
    // composes over the first's amendments and the vectored delete
    // composes over both — the chained soft state a 100 TB table
    // accumulates between OPTIMIZE runs. Simultaneous-assignment
    // semantics: the uplifted o_totalprice reads the OLD value.
    "k_update_dv_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k_update_dv")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p)
      t.overwrite(Tables.orders(s, dir))
      t.updateVectored($"o_totalprice" > 200000 && $"o_orderstatus" === "O",
        Map("o_orderpriority" -> lit("1-URGENT"),
            "o_totalprice" -> ($"o_totalprice" * 1.1)))
      t.updateVectored($"o_orderkey" % 100 === 7,
        Map("o_orderstatus" -> lit("X")))
      t.deleteVectored($"o_orderstatus" === "X" && $"o_totalprice" > 250000)
      t.read.select("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority")
    }),

    // Deletion-vector MERGE (graft.table.MergeOps.mergeVectoredPlan via
    // MedallionTable.mergeVectored): the full MERGE clause surface —
    // conditional DELETE, UPDATE, conditional INSERT — as O(matched+
    // inserted) marks + ONE staged batch, zero base files rewritten,
    // committed by one atomic rename. The 100 TB plan shape: one
    // broadcast-hash pass over the table (never a table shuffle), the
    // matched set persisted at O(matched) and reused for marks, new
    // versions, and the insert anti-join. Source keys: every 50th order
    // updates-or-deletes, every 500th is re-keyed +10M as a guaranteed
    // non-matching insert.
    "k_merge_dv_roundtrip" -> ((s, dir) => {
      import s.implicits._
      import graft.table.MergeOps._
      val p = Q.scratch(dir, "k_merge_dv")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p)
      val o = Tables.orders(s, dir)
      t.overwrite(o)
      val src = o.filter($"o_orderkey" % 50 === 0)
        .select($"o_orderkey".as("k"), $"o_custkey".as("ck"),
          $"o_totalprice".as("tp"))
        .unionByName(o.filter($"o_orderkey" % 500 === 0)
          .select(($"o_orderkey" + 10000000L).as("k"), $"o_custkey".as("ck"),
            $"o_totalprice".as("tp")))
      t.mergeVectored(src, Seq("o_orderkey" -> "k"),
        Seq(
          WhenMatchedDelete(Some((tc, _) => tc("o_totalprice") > 200000)),
          WhenMatchedUpdate(None, Map(
            "o_orderpriority" -> ((_, _) => lit("1-URGENT")),
            "o_orderstatus" -> ((_, _) => lit("M"))))),
        Seq(WhenNotMatchedInsert(None, Map(
          "o_orderkey" -> ((_, sc) => sc("k")),
          "o_custkey" -> ((_, sc) => sc("ck")),
          "o_orderstatus" -> ((_, _) => lit("I")),
          "o_totalprice" -> ((_, sc) => sc("tp")),
          "o_orderpriority" -> ((_, _) => lit("5-LOW"))))),
        // round 16: NOT MATCHED BY SOURCE rides the same single pass
        // (left-outer broadcast join) — the reference's full-sync K4
        // shape as O(consumed) marks, first-applying-clause ordering
        // across a by-source UPDATE and a conditional by-source DELETE
        Seq(
          WhenNotMatchedBySourceUpdate(
            Some((tc, _) => tc("o_orderkey") % 7 === 3),
            Map("o_orderstatus" -> ((_, _) => lit("Z")))),
          WhenNotMatchedBySourceDelete(
            Some((tc, _) => tc("o_totalprice") < 2000))))
      t.read.select("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority")
    }),

    // K4 — schema evolution meets the DV merge: evolving assignments on
    // the clause paths REFUSE fail-stop (MergeOps.refuseEvolvedAssignments;
    // silently dropping diverged from the evolving 3-clause rewrite), and
    // this query exercises the named hatch — ADD COLUMN first, then the
    // same DV merge lands with old rows reading the new column as typed
    // NULL (Delta autoMerge's net effect in two explicit steps). The
    // refusal itself is pinned by MergeVectoredSpec.
    "k4_merge_dv_evolution" -> ((s, dir) => {
      import s.implicits._
      import graft.table.MergeOps._
      val p = Q.scratch(dir, "k4_dv_evo")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p)
      val o = Tables.orders(s, dir)
      t.overwrite(o.select($"o_orderkey", $"o_orderstatus", $"o_totalprice"))
      t.addColumn("o_channel", "string")
      val src = o.filter($"o_orderkey" % 40 === 0)
        .select($"o_orderkey".as("k"), lit("web").as("ch"),
          ($"o_totalprice" + 5).as("tp"))
        .unionByName(o.filter($"o_orderkey" % 400 === 0)
          .select(($"o_orderkey" + 20000000L).as("k"), lit("new").as("ch"),
            $"o_totalprice".as("tp")))
      t.mergeVectored(src, Seq("o_orderkey" -> "k"),
        Seq(WhenMatchedUpdate(None, Map(
          "o_channel" -> ((_, sc) => sc("ch")),
          "o_totalprice" -> ((_, sc) => sc("tp"))))),
        Seq(WhenNotMatchedInsert(None, Map(
          "o_orderkey" -> ((_, sc) => sc("k")),
          "o_orderstatus" -> ((_, _) => lit("N")),
          "o_totalprice" -> ((_, sc) => sc("tp")),
          "o_channel" -> ((_, sc) => sc("ch"))))))
      t.read.select($"o_orderkey", $"o_orderstatus",
        round($"o_totalprice" * 100).cast("long").as("cents"),
        $"o_channel")
    }),

    // K4 — MERGE … WITH SCHEMA EVOLUTION (round-14 verdict #1): ONE SQL
    // statement adds the source-only column AND upserts — Spark's
    // analyzer evolves the catalog (armed by the table's
    // AUTOMATIC_SCHEMA_EVOLUTION capability), and the table layer widens
    // the physical table in the same merge (typed-NULL old rows — the K4
    // mergeSchema contract the reference exercises on every save,
    // bronze_table_creation.py:26 et al.). Flag-off refusal stays pinned
    // by MergeVectoredSpec; the DV-path twin by GraftDmlSpec.
    "k4_merge_auto_evolution" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k4_auto_evo")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p)
      val o = Tables.orders(s, dir)
      t.overwrite(o.select($"o_orderkey", $"o_orderstatus", $"o_totalprice"))
      s.sql("DROP TABLE IF EXISTS graft_cat_evo")
      s.sql(s"CREATE TABLE graft_cat_evo USING graft LOCATION '$p'")
      // evolution takes the new column FROM THE SOURCE SCHEMA: the
      // evolved name must be a source column (Spark derives the catalog
      // change from it; Delta's contract too)
      o.filter($"o_orderkey" % 40 === 0)
        .select($"o_orderkey".as("k"), lit("web").as("o_channel"),
          ($"o_totalprice" + 5).as("tp"))
        .unionByName(o.filter($"o_orderkey" % 400 === 0)
          .select(($"o_orderkey" + 30000000L).as("k"),
            lit("new").as("o_channel"), $"o_totalprice".as("tp")))
        .createOrReplaceTempView("k4evo_src")
      s.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO graft_cat_evo t
          |USING k4evo_src s ON t.o_orderkey = s.k
          |WHEN MATCHED THEN
          |  UPDATE SET o_totalprice = s.tp, o_channel = s.o_channel
          |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus,
          |  o_totalprice, o_channel) VALUES (s.k, 'N', s.tp, s.o_channel)
          |""".stripMargin)
      t.read.select($"o_orderkey", $"o_orderstatus",
        round($"o_totalprice" * 100).cast("long").as("cents"),
        $"o_channel")
    }),

    // K6 — bloom-index point-lookup skipping: the table is clustered by
    // DATE (the natural log layout), so every file's o_orderkey [min,max]
    // spans the whole key domain and the stats manifest prunes NOTHING
    // for a key lookup — the per-file bloom index (CREATE BLOOMFILTER
    // INDEX, Delta's own surface for exactly this) is what restores file
    // skipping. Answers oracled against the base-table recompute;
    // the plan-level file-subset proof lives in CatalogBloomSkippingSpec.
    "k6_catalog_bloom_skip" -> ((s, dir) => {
      val p = Q.scratch(dir, "k6_bloom_skip")
      Q.deleteDir(s, p)
      MedallionTable(s, p).overwrite(Tables.orders(s, dir)
        .repartitionByRange(8, col("o_orderdate")))
      s.sql("DROP TABLE IF EXISTS graft_cat_bloom")
      s.sql(s"CREATE TABLE graft_cat_bloom USING graft LOCATION '$p'")
      s.sql("CREATE BLOOMFILTER INDEX ON TABLE graft_cat_bloom " +
        "FOR COLUMNS (o_orderkey)")
      s.sql("""
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM graft_cat_bloom
        |WHERE o_orderkey IN (7, 388, 1234, 4000, 9999)""".stripMargin)
    }),

    // K8 — ANALYZE TABLE through the SQL parser arms the same metadata
    // path (GraftAnalyzeCommand → TableStats.refresh); the follow-up
    // aggregate answers from the manifest, oracled against a raw-row
    // recompute.
    "k8_sql_analyze_stats" -> ((s, dir) => {
      val p = Q.scratch(dir, "k8_analyze")
      Q.deleteDir(s, p)
      MedallionTable(s, p).overwrite(Tables.customer(s, dir)
        .repartitionByRange(6, col("c_custkey")))
      s.sql("DROP TABLE IF EXISTS graft_cat_an")
      s.sql(s"CREATE TABLE graft_cat_an USING graft LOCATION '$p'")
      s.sql("ANALYZE TABLE graft_cat_an COMPUTE STATISTICS")
      s.sql("""
        |SELECT COUNT(*) AS n_cust, MIN(c_custkey) AS min_ck,
        |       MAX(c_custkey) AS max_ck, MAX(c_acctbal) AS max_bal
        |FROM graft_cat_an""".stripMargin)
    }),

    // K2 — overwrite fully replaces (bronze_table_creation.py:36,61)
    "k2_overwrite_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k2_overwrite")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p)
      val o = Tables.orders(s, dir)
      t.overwrite(o.filter($"o_orderkey" % 4 === 3))
      t.overwrite(o.filter($"o_orderkey" % 4 === 2))
      t.read.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    }),

    // K7 — SQL MERGE INTO through the catalog (GraftDmlRule): conditional
    // matched DELETE, matched UPDATE, partial-column INSERT, all through
    // the same commit protocol; the oracle recomputes the final state with
    // join algebra. Exercises the analyzer-rule DML bridge end-to-end.
    "k7_sql_merge_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k7_sql_merge")
      Q.deleteDir(s, p)
      val o = Tables.orders(s, dir)
      MedallionTable(s, p).overwrite(o.filter($"o_orderkey" % 3 =!= 0))
      s.sql("DROP TABLE IF EXISTS graft_dml_orders")
      s.sql(s"CREATE TABLE graft_dml_orders USING graft LOCATION '$p'")
      o.filter($"o_orderkey" % 2 === 0)
        .selectExpr("o_orderkey AS sid", "o_totalprice + 10 AS new_price")
        .createOrReplaceTempView("k7_merge_src")
      s.sql(
        """MERGE INTO graft_dml_orders t USING k7_merge_src s
          |ON t.o_orderkey = s.sid
          |WHEN MATCHED AND s.new_price > 150000 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET o_totalprice = s.new_price
          |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice)
          |  VALUES (s.sid, s.new_price)""".stripMargin)
      s.sql(
        """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          |       o_orderdate, o_orderpriority
          |FROM graft_dml_orders""".stripMargin)
    }),

    // K7 — SQL DELETE then UPDATE through the catalog, composed: the
    // oracle replays both statements as algebra over the base table.
    "k7_sql_update_delete" -> ((s, dir) => {
      val p = Q.scratch(dir, "k7_sql_upd")
      Q.deleteDir(s, p)
      MedallionTable(s, p).overwrite(Tables.customer(s, dir))
      s.sql("DROP TABLE IF EXISTS graft_dml_customer")
      s.sql(s"CREATE TABLE graft_dml_customer USING graft LOCATION '$p'")
      s.sql("DELETE FROM graft_dml_customer WHERE c_acctbal < 0")
      s.sql("UPDATE graft_dml_customer SET c_acctbal = c_acctbal + 100 " +
        "WHERE c_mktsegment = 'BUILDING'")
      s.sql(
        """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
          |FROM graft_dml_customer""".stripMargin)
    }),

    // K4 — 3-clause merge with schema evolution: source drops a column and
    // changes a measure; matched rows keep the target-only column (Delta
    // UPDATE SET semantics), inserted rows get a typed null.
    "k4_merge_schema_evolution" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.orders(s, dir)
      val target = o.filter($"o_orderkey" % 3 =!= 0)
      val source = o.filter($"o_orderkey" % 2 === 0)
        .withColumn("o_totalprice", $"o_totalprice" + 1)
        .drop("o_orderpriority")
      MergeOps.merge3Clause(target, source, Seq("o_orderkey"))
    }),

    // K4 — upsert variant (no not-matched-by-source delete): matched rows
    // take source values, unmatched target rows survive.
    "k4_merge_upsert" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.orders(s, dir)
      val target = o.filter($"o_orderkey" % 3 =!= 0)
        .withColumn("o_totalprice",
          when($"o_orderkey" % 5 === 0, $"o_totalprice" * 2).otherwise($"o_totalprice"))
      val source = o.filter($"o_orderkey" % 2 === 0)
      MergeOps.merge3Clause(target, source, Seq("o_orderkey"),
        updateCondition = Some(MergeOps.anyColumnDiffers(target, source, Seq("o_orderkey"))),
        deleteNotMatchedBySource = false)
    }),

    // K4 CDC — change-data-feed view of the merge: the four change classes
    // instead of the merged table (Delta CDF semantics).
    "k4_merge_cdc" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.orders(s, dir)
      val target = o.filter($"o_orderkey" % 3 =!= 0)
        .withColumn("o_totalprice",
          when($"o_orderkey" % 5 === 0, $"o_totalprice" * 2).otherwise($"o_totalprice"))
      val source = o.filter($"o_orderkey" % 2 === 0)
      MergeOps.merge3ClauseCDC(target, source, Seq("o_orderkey"),
        updateCondition = Some(MergeOps.anyColumnDiffers(target, source, Seq("o_orderkey"))))
    }),

    // Sink-format breadth: write → read-back round trips through CSV
    // (header + inferred schema), JSON (inferred), and ORC. Final state
    // must equal the base selection — proves the full serialize/parse
    // cycle, not just parquet.
    "k_csv_sink_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k_csv_sink")
      Q.deleteDir(s, p)
      Tables.orders(s, dir).filter($"o_orderkey" % 5 === 0)
        .write.option("header", true).csv(p)
      s.read.option("header", true).option("inferSchema", true).csv(p)
        .selectExpr("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate", "o_orderpriority")
    }),
    "k_json_sink_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k_json_sink")
      Q.deleteDir(s, p)
      Tables.orders(s, dir).filter($"o_orderkey" % 7 === 0).write.json(p)
      s.read.json(p)
        .selectExpr("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate", "o_orderpriority")
    }),
    "k_orc_sink_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k_orc_sink")
      Q.deleteDir(s, p)
      Tables.orders(s, dir).filter($"o_orderkey" % 6 === 0).write.orc(p)
      s.read.orc(p).select("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
    }),

    // Time travel — merge archives the pre-merge snapshot; reading it back
    // returns the exact pre-merge state (Delta VERSION AS OF semantics).
    "k_time_travel" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k_tt")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p, retainVersions = 2)
      val o = Tables.orders(s, dir)
      t.overwrite(o.filter($"o_orderkey" % 3 =!= 0))
      t.merge(o.filter($"o_orderkey" % 2 === 0), Seq("o_orderkey"))
      t.readVersion(1).select("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
    }),

    // CDC read — table_changes between a snapshot and the live table: the
    // change rows that turn version 1 into the current state.
    "k_cdc_read" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k_cdc")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p, retainVersions = 2)
      val o = Tables.orders(s, dir)
      t.overwrite(o.filter($"o_orderkey" % 3 =!= 0))
      t.merge(o.filter($"o_orderkey" % 2 === 0)
          .withColumn("o_totalprice",
            when($"o_orderkey" % 5 === 0, $"o_totalprice" * 2)
              .otherwise($"o_totalprice")),
        Seq("o_orderkey"))
      t.changesSince(1, Seq("o_orderkey"))
    }),

    // K9 — incremental gold maintenance (graft.table.IncrementalAgg): the
    // gold aggregate is bootstrapped once with a full compute, then the
    // fact table absorbs a merge (updates + inserts) AND a delete, and the
    // gold is refreshed FROM THE CDC FEED ALONE — no fact rescan. The
    // oracle recomputes the aggregate from the final fact state with plain
    // SQL, proving delta-maintenance ≡ full recompute bit-exactly (cents
    // sums are integer deltas). At 100 TB this is the difference between
    // an O(batch) refresh and the reference's O(fact) nightly rebuild
    // (gold_table_creation.py:103,134).
    "k9_incremental_gold" -> ((s, dir) => {
      import s.implicits._
      import graft.table.IncrementalAgg
      val p = Q.scratch(dir, "k9_inc_fact")
      val gp = Q.scratch(dir, "k9_inc_gold")
      Q.deleteDir(s, p); Q.deleteDir(s, gp)
      val o = Tables.orders(s, dir)
      val t = MedallionTable(s, p, retainVersions = 2)
      t.overwrite(o.filter($"o_orderkey" % 3 =!= 0))
      val grp = Seq("o_orderpriority")
      val sums = Seq(
        "price_cents" -> round($"o_totalprice" * 100).cast("long"))
      val g = MedallionTable(s, gp)
      g.overwrite(IncrementalAgg.fullCompute(t.read, grp, sums))
      // batch 2: upsert that bumps every matched price (update deltas) and
      // inserts the source-only keys; then a predicate delete
      t.merge(o.filter($"o_orderkey" % 2 === 0)
          .withColumn("o_totalprice", $"o_totalprice" + 1),
        Seq("o_orderkey"), deleteNotMatchedBySource = false)
      t.delete($"o_totalprice" > 200000)
      val changes = t.changesSince(1, Seq("o_orderkey"))
      g.overwrite(IncrementalAgg.refresh(g.read, changes, grp, sums))
      g.read
    }),

    // K9 — incremental JOIN maintenance (graft.table.IncrementalJoin):
    // the materialized orders⋈customer view is bootstrapped once, then
    // BOTH sides change — the fact absorbs a merge (price bumps, inserts,
    // a custkey move onto a dangling key) and a delete; the dim absorbs a
    // segment update, key inserts that make previously-dangling fact rows
    // joinable, and a key delete — and the view is repaired from the two
    // CDC feeds alone: O(ΔF ⋈ D) + O(affected slice), never a full
    // fact⋈dim recompute. The oracle rebuilds the post-change join from
    // scratch, proving delta-maintenance ≡ recompute row-exactly.
    "k9_incremental_join" -> ((s, dir) => {
      import s.implicits._
      import graft.table.IncrementalJoin
      val fp = Q.scratch(dir, "k9_ij_fact")
      val dp = Q.scratch(dir, "k9_ij_dim")
      val vp = Q.scratch(dir, "k9_ij_view")
      Seq(fp, dp, vp).foreach(Q.deleteDir(s, _))
      // o_orderkey ≤ 60000 bounds the rewrite volume at bench sf (the
      // protocol is what's under test; rewrite THROUGHPUT evidence lives
      // in the probes) while covering the whole sf0.01 oracle corpus
      val fact0 = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
        .filter($"o_orderkey" % 3 =!= 0 && $"o_orderkey" <= 60000)
      val dim0 = Tables.customer(s, dir)
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .filter($"c_custkey" % 5 =!= 4) // some fact rows start dangling
      val t = MedallionTable(s, fp, retainVersions = 2)
      val d = MedallionTable(s, dp, retainVersions = 2)
      val mv = MedallionTable(s, vp)
      t.overwrite(fact0); d.overwrite(dim0)
      val on = Seq("o_custkey" -> "c_custkey")
      mv.overwrite(IncrementalJoin.fullCompute(t.read, d.read, on))
      // fact batch: price bumps + inserts, one key moved onto a dangling
      // dim key (its view row must disappear), then a predicate delete
      t.merge(Tables.orders(s, dir)
          .select($"o_orderkey",
            when($"o_orderkey" % 7 === 0, lit(-1L)).otherwise($"o_custkey")
              .as("o_custkey"),
            ($"o_totalprice" + 1).as("o_totalprice"), $"o_orderpriority")
          .filter($"o_orderkey" % 2 === 0 && $"o_orderkey" <= 60000),
        Seq("o_orderkey"), deleteNotMatchedBySource = false)
      t.delete($"o_totalprice" > 200000)
      IncrementalJoin.applyFactChanges(mv, t.changesSince(1, Seq("o_orderkey")),
        d.read, Seq("o_orderkey"), on)
      // dim batch: segment rewrite + inserts of the withheld keys (their
      // fact rows must APPEAR in the view) + a key delete (theirs vanish)
      val dimUpd = Tables.customer(s, dir)
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .filter($"c_custkey" % 5 =!= 4 && $"c_custkey" % 3 === 0)
        .withColumn("c_mktsegment", lit("UPDATED"))
      val dimIns = Tables.customer(s, dir)
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .filter($"c_custkey" % 5 === 4 && $"c_custkey" % 2 === 0)
      d.merge(dimUpd.unionByName(dimIns), Seq("c_custkey"),
        deleteNotMatchedBySource = false)
      d.delete($"c_custkey" % 10 === 7)
      IncrementalJoin.applyDimChanges(mv, t.read, d.read,
        d.changesSince(1, Seq("c_custkey")), Seq("o_orderkey"), on)
      mv.read
    }),

    // K9 — the PRUNED repair route through the oracle gate: same
    // two-sided scenario as k9_incremental_join, but the view is
    // hive-partitioned by order year (coarse on purpose: partition
    // count is an operator dial, and at oracle scale per-partition job
    // overhead dominates below ~year granularity), so fact upserts repair via
    // dynamic-partition overwrite and removals (the dangling key move,
    // the delete, the dim-key delete cascade) via deletion vectors —
    // the route IncrementalJoinProbe measures flat at 20× (SCALING.md).
    "k9_incremental_join_pruned" -> ((s, dir) => {
      import s.implicits._
      import graft.table.IncrementalJoin
      val fp = Q.scratch(dir, "k9_ijp_fact")
      val dp = Q.scratch(dir, "k9_ijp_dim")
      val vp = Q.scratch(dir, "k9_ijp_view")
      Seq(fp, dp, vp).foreach(Q.deleteDir(s, _))
      val ordersM = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice",
          date_format($"o_orderdate", "yyyy").as("o_year"))
      val fact0 = ordersM.filter($"o_orderkey" % 3 =!= 0 && $"o_orderkey" <= 60000)
      val dim0 = Tables.customer(s, dir)
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .filter($"c_custkey" % 5 =!= 4)
      val t = MedallionTable(s, fp, retainVersions = 2)
      val d = MedallionTable(s, dp, retainVersions = 2)
      val mv = MedallionTable(s, vp, partitionColumns = Seq("o_year"))
      t.overwrite(fact0); d.overwrite(dim0)
      val on = Seq("o_custkey" -> "c_custkey")
      mv.overwrite(IncrementalJoin.fullCompute(t.read, d.read, on))
      t.merge(ordersM
          .select($"o_orderkey",
            when($"o_orderkey" % 7 === 0, lit(-1L)).otherwise($"o_custkey")
              .as("o_custkey"),
            ($"o_totalprice" + 1).as("o_totalprice"), $"o_year")
          .filter($"o_orderkey" % 2 === 0 && $"o_orderkey" <= 60000),
        Seq("o_orderkey"), deleteNotMatchedBySource = false)
      t.delete($"o_totalprice" > 200000)
      // fact-side phase only: the dim-side algebra is oracled by the
      // unpartitioned twin; THIS query's unique coverage is the pruned
      // ROUTE (partition-overwrite upserts + DV removals from the
      // dangling move and the delete), at half the scenario cost
      IncrementalJoin.applyFactChanges(mv, t.changesSince(1, Seq("o_orderkey")),
        d.read, Seq("o_orderkey"), on)
      // hive partition inference reads the year directory values back as
      // ints; the oracle's strftime yields strings — align the dtype
      mv.read.withColumn("o_year", $"o_year".cast("string"))
    }),

    // K8 — Z-order + skipping end-to-end: OPTIMIZE ZORDER BY via SQL
    // (which now rebuilds the manifest it dropped), then range predicates
    // on BOTH cluster columns — answers oracled; the plan-level pruning
    // proof lives in ManifestAggPushdownSpec/CatalogFileSkippingSpec.
    "k8_sql_zorder_skip" -> ((s, dir) => {
      val p = Q.scratch(dir, "k8_zorder_skip")
      Q.deleteDir(s, p)
      MedallionTable(s, p).overwrite(Tables.lineitem(s, dir)
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"))
      s.sql("DROP TABLE IF EXISTS graft_cat_z")
      s.sql(s"CREATE TABLE graft_cat_z USING graft LOCATION '$p'")
      s.sql("OPTIMIZE graft_cat_z ZORDER BY (l_orderkey, l_partkey)")
      s.sql("""
        |SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
        |FROM graft_cat_z
        |WHERE l_orderkey BETWEEN 500 AND 2500
        |  AND l_partkey BETWEEN 100 AND 900""".stripMargin)
    }),

    // K9 — incremental TOKEN-FREQUENCY gold: the IncrementalAgg delta
    // identity composed with a text fan-out. The CDC feed is exploded
    // into (token, _change_type) rows — each token row inherits its
    // document's change sign — and the SAME refresh then delta-maintains
    // the per-token counts. At 100 TB this keeps a corpus vocabulary
    // current at O(changed docs × tokens), never re-tokenizing the
    // corpus (the Zipf/entropy/KL audits all start from this table).
    "k9_tokenfreq_incremental" -> ((s, dir) => {
      import s.implicits._
      import graft.table.IncrementalAgg
      val p = Q.scratch(dir, "k9_tokfreq")
      Q.deleteDir(s, p)
      val docs = Tables.documents(s, dir).select($"doc_id", $"text")
      val t = MedallionTable(s, p, retainVersions = 2)
      t.overwrite(docs.filter($"doc_id" % 2 === 0))
      def explode(df: org.apache.spark.sql.DataFrame, extra: Seq[String]) =
        df.selectExpr((s"EXPLODE(${Q.TokensExpr}) AS token" +: extra): _*)
      // gold persists BEFORE the fact mutates: a lazy gold plan over the
      // pre-merge files would read directories the rewrite swaps away
      val gp = Q.scratch(dir, "k9_tokfreq_gold")
      Q.deleteDir(s, gp)
      val g = MedallionTable(s, gp)
      g.overwrite(IncrementalAgg.fullCompute(
        explode(t.read, Nil), Seq("token"), Nil))
      t.merge(docs.filter($"doc_id" % 3 === 0)
          .withColumn("text", concat($"text", lit(" graftzz"))),
        Seq("doc_id"), deleteNotMatchedBySource = false)
      t.delete(length($"text") > 900)
      val exploded = explode(t.changesSince(1, Seq("doc_id")),
        Seq("_change_type"))
      IncrementalAgg.refresh(g.read, exploded, Seq("token"), Nil)
    }),

    // CHECK-constraint gate roundtrip: a registered quality gate rejects a
    // violating batch wholesale (job aborts before commit) while clean
    // writes pass — the final state proves the bad batch left no rows.
    "k_constraint_gate_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k_checkgate")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p)
      val o = Tables.orders(s, dir)
      t.overwrite(o.filter($"o_totalprice" > 0))
      t.addCheckConstraint("pos_price", "o_totalprice > 0")
      // The violating append MUST throw — swallowing every Throwable would
      // make this query pass even if enforcement silently stopped firing.
      // Logging is silenced around the EXPECTED abort: its executor/task
      // stack traces land on stderr, and a long enough trace could push
      // the bench's JSON line out of the driver's ~2000-char tail window.
      val gated = {
        val root = org.apache.logging.log4j.LogManager.getRootLogger
          .asInstanceOf[org.apache.logging.log4j.core.Logger]
        val prev = root.getLevel
        s.sparkContext.setLogLevel("OFF")
        try { t.append(o.limit(100).withColumn("o_totalprice", -$"o_totalprice")); false }
        catch { case _: Throwable => true }
        finally s.sparkContext.setLogLevel(prev.toString)
      }
      require(gated, "constraint gate did not reject the violating batch")
      require(t.checkConstraints.contains("pos_price"),
        "constraint registry lost after rejected append")
      t.read.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    }),

    // DESCRIBE HISTORY roundtrip: the commit-marker log records one row
    // per write with its operation name — create, append, then a merge's
    // full rewrite. The commits sibling is cleared along with the table so
    // ordinals restart deterministically per run.
    "k_history" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k_history")
      Q.deleteTable(s, p)
      val t = MedallionTable(s, p)
      t.overwrite(Seq((1L, "a")).toDF("id", "v"))
      t.append(Seq((2L, "b")).toDF("id", "v"))
      t.merge(Seq((1L, "A"), (2L, "b")).toDF("id", "v"), Seq("id"))
      t.history().map { case (version, op, _) => (version, op) }
        .toDF("version", "op")
    }),

    // K8 — the Delta utility-SQL surface end-to-end: many small appends,
    // `OPTIMIZE … ZORDER BY` via the injected parser (same compaction +
    // commit protocol as the API), then the content read back — a
    // compaction that loses or duplicates rows breaks the hash.
    "k8_sql_optimize_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k8_sql_opt")
      Q.deleteTable(s, p)
      val t = MedallionTable(s, p)
      val o = Tables.orders(s, dir).filter($"o_orderkey" % 2 === 0)
      // four NON-EMPTY small appends (o is even-keyed, so split mod 8)
      (0 until 4).foreach(i => t.append(o.filter($"o_orderkey" % 8 === i * 2)))
      s.sql(s"OPTIMIZE '$p' ZORDER BY (o_orderkey)")
      t.read.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    }),

    // Incremental clustering (MedallionTable.clusterIncremental — Delta
    // liquid-clustering's cost shape): unclustered appends absorbed into
    // z-sorted DV batches pass by pass, zero full-table re-sorts; the
    // oracle proves content identity across the whole append+cluster+
    // delete composition.
    "k_cluster_incremental_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k_cluster_inc")
      Q.deleteTable(s, p)
      val t = MedallionTable(s, p)
      val o = Tables.orders(s, dir)
      (0 until 2).foreach { i =>
        t.append(o.filter($"o_orderkey" % 4 === i * 2).repartition(3))
        // refreshManifest=false: the bench run doesn't range-read this
        // table, and the O(table) manifest rebuild per pass would
        // dominate the query (pruning parity is pinned by
        // ClusterIncrementalSpec, which does refresh)
        t.clusterIncremental(Seq("o_orderkey"), nFiles = 2,
          refreshManifest = false)
      }
      t.deleteVectored($"o_orderstatus" === "P") // composes over batches
      t.read.select("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
    }),

    // K8 — history through the SQL TVF (the k_history scenario read back
    // with `graft_table_history` instead of the API), extended PAST the
    // live HistoryDepth window: 13 commits total, so v1..v5 live only in
    // the durable journal — the TVF must render every commit ever made
    // (Delta DESCRIBE HISTORY parity), not just the newest 8 markers.
    "k8_sql_history_tvf" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k8_sql_hist")
      Q.deleteTable(s, p)
      val t = MedallionTable(s, p)
      t.overwrite(Seq((1L, "a")).toDF("id", "v"))
      t.append(Seq((2L, "b")).toDF("id", "v"))
      t.merge(Seq((1L, "A"), (2L, "b")).toDF("id", "v"), Seq("id"))
      (0 until 10).foreach(i => t.append(Seq((10L + i, "x")).toDF("id", "v")))
      s.sql(s"SELECT version, operation FROM graft_table_history('$p')")
    }),

    // K8 — inline time travel (`VERSION AS OF` in the FROM clause, Delta's
    // native syntax; the k6 variant pins via OPTIONS instead): the
    // k_time_travel scenario read back through the parser-resolved
    // snapshot. Same oracle: the pre-merge state.
    "k8_sql_version_as_of" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k8_sql_tt")
      Q.deleteTable(s, p)
      val t = MedallionTable(s, p, retainVersions = 2)
      val o = Tables.orders(s, dir)
      t.overwrite(o.filter($"o_orderkey" % 3 =!= 0))
      t.merge(o.filter($"o_orderkey" % 2 === 0), Seq("o_orderkey"))
      s.sql("DROP TABLE IF EXISTS graft_tt_inline")
      s.sql(s"CREATE TABLE graft_tt_inline USING graft LOCATION '$p'")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          |       o_orderdate, o_orderpriority
          |FROM graft_tt_inline VERSION AS OF 1""".stripMargin)
    }),

    // DELETE WHERE roundtrip: a partition-aligned delete (metadata-only
    // directory drop) followed by a row-level delete (filtered rewrite) —
    // both Delta DELETE semantics the reference's tables support.
    "k_delete_where_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k_delete")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p, partitionColumns = Seq("blk"))
      val o = Tables.orders(s, dir).withColumn("blk", ($"o_orderkey" % 4).cast("int"))
      t.overwrite(o.repartition($"blk"))
      t.delete($"blk" === 3)                  // partition fast path
      t.delete($"o_totalprice" < 50000.0)     // row-level rewrite
      t.read.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority", "blk")
    }),

    // UPDATE SET ... WHERE roundtrip: simultaneous-assignment against the
    // old row, exact-cents arithmetic.
    "k_update_where_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k_update")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p)
      t.overwrite(Tables.orders(s, dir))
      t.update($"o_orderstatus" === "F",
        Map("o_totalprice" -> (round($"o_totalprice" * lit(110)) / 100.0),
            "o_orderpriority" -> lit("9-REPRICED")))
      t.read.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    }),

    // K3+K4 — the reference's createOrMerge control flow end-to-end on a
    // real table directory: create, then full-sync merge
    // (silver_table_creation.py:43-66). Final state ≡ the second source.
    "k_create_or_merge_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k_com")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p)
      val o = Tables.orders(s, dir)
      t.createOrMerge(o.filter($"o_orderkey" % 3 =!= 0), Seq("o_orderkey"))
      t.createOrMerge(o.filter($"o_orderkey" % 2 === 0), Seq("o_orderkey"))
      t.read.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    }),

    // RESTORE roundtrip (Delta RESTORE TABLE ... TO VERSION semantics):
    // a merge mutates the table, restoreVersion(1) rewrites it back to the
    // pre-merge snapshot, and the table stays fully writable afterwards —
    // the closing append proves restore rewrote live state (not a view)
    // with version lineage intact. Final state = original rows ∪ appended
    // rows at ORIGINAL prices; a silently-skipped restore would leave the
    // merge's doubled prices (hash mismatch) and duplicate the
    // even∧multiple-of-3 keys (row-count mismatch).
    "k_restore_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k_restore")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p, retainVersions = 2)
      val o = Tables.orders(s, dir)
      t.overwrite(o.filter($"o_orderkey" % 3 =!= 0))
      t.merge(o.filter($"o_orderkey" % 2 === 0)
          .withColumn("o_totalprice",
            when($"o_orderkey" % 5 === 0, $"o_totalprice" * 2)
              .otherwise($"o_totalprice")),
        Seq("o_orderkey"))
      t.restoreVersion(1)
      t.append(o.filter($"o_orderkey" % 3 === 0))
      t.read.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    }),

    // OPTIMIZE + data-skipping roundtrip: three appends leave small
    // unclustered files; compact range-clusters them on o_orderdate and
    // the stats-manifest read (readRange) answers a date-range query
    // touching only overlapping files — with a result identical to the
    // plain filter (TableStatsSpec proves the file-set actually shrinks;
    // this query pins result parity through the compact+skip path into
    // the oracle gate). Bounds are full canonical timestamp strings so
    // the manifest's lexicographic compare equals chronological order.
    "k_optimize_skipping" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k_optimize")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p)
      val o = Tables.orders(s, dir)
      t.overwrite(o.filter($"o_orderkey" % 5 === 0))
      t.append(o.filter($"o_orderkey" % 5 === 1))
      t.append(o.filter($"o_orderkey" % 5 === 2))
      t.compact(clusterBy = Seq("o_orderdate"), nFiles = 8)
      t.refreshStats(Seq("o_orderdate"))
      t.readRange("o_orderdate", "1995-01-01 00:00:00", "1995-12-31 00:00:00")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
    }),

    // Schema-drift audit between versions — the "what changed in this
    // table since the last snapshot" question an operator asks before a
    // backfill: mergeSchema evolution adds a column in v2; the audit
    // diffs the archived snapshot's schema against the live schema. The
    // diff runs over SCHEMAS (metadata, bounded by column count), never
    // rows — driver-side by construction.
    "k_schema_drift" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k_drift")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p, retainVersions = 2)
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      t.overwrite(o)
      t.merge(o.filter($"o_orderkey" % 10 === 0)
          .withColumn("o_channel", lit("web")),
        Seq("o_orderkey"))
      val before = t.readVersion(1).schema.fieldNames.toSet
      val after = t.read.schema.fieldNames.toSet
      ((after -- before).toSeq.sorted.map((_, "added")) ++
        (before -- after).toSeq.sorted.map((_, "removed")))
        .toDF("column_name", "change")
    }),

    // SCD2 — type-2 slowly-changing dimension merge (MergeOps.scd2Merge):
    // day-0 snapshot loads every row current; the day-1 snapshot doubles
    // balances (differs unless 0) and migrates %7 keys' segment. Changed
    // keys must show a CLOSED day-0 row plus an OPEN day-1 version,
    // brand-new keys (day-1-only) open directly, untouched keys ride
    // through still-current — exactly what the oracle derives set-wise
    // from the base customer table. One current×source shuffle join; the
    // closed/opened/passthrough classes are branches over it.
    "k_scd2_merge" -> ((s, dir) => {
      import s.implicits._
      val p = Q.scratch(dir, "k_scd2")
      Q.deleteDir(s, p)
      val t = MedallionTable(s, p)
      val c = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val day1 = c.filter($"c_custkey" % 2 === 0)
        .withColumn("c_acctbal", $"c_acctbal" * 2)
        .withColumn("c_mktsegment",
          when($"c_custkey" % 7 === 0, lit("MIGRATED")).otherwise($"c_mktsegment"))
      t.overwrite(MergeOps.scd2Init(
        c.filter($"c_custkey" % 3 =!= 0), to_date(lit("1995-01-01"))))
      t.scd2Merge(day1, Seq("c_custkey"), to_date(lit("1995-06-01")))
      t.read.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment",
        "valid_from", "valid_to", "is_current")
    })
  )

  private val OrderCols =
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"

  val oracles: Map[String, String] = Map(
    "k15_generated_col" ->
      ("SELECT o_orderkey, o_orderdate, " +
       "CAST(year(o_orderdate) AS INTEGER) AS o_year, o_totalprice " +
       "FROM orders WHERE year(o_orderdate) >= 1995"),
    "k15_identity_col" ->
      ("""WITH sz AS (SELECT
         |  (SELECT count(*) FROM orders WHERE o_orderkey % 9 = 0)
         |  + (SELECT count(*) FROM orders WHERE o_orderkey % 9 = 1)
         |  + (SELECT count(*) FROM orders WHERE o_orderkey % 45 = 2) AS n)
         |SELECT CAST(n AS BIGINT) AS n, CAST(n AS BIGINT) AS n_ids,
         |  CAST(1 AS BIGINT) AS min_id, CAST(n AS BIGINT) AS max_id
         |FROM sz
         |""".stripMargin),
    "k19_column_defaults" ->
      ("""SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 7 = 0
         |UNION ALL
         |SELECT o_orderkey, 'UNKNOWN' FROM orders WHERE o_orderkey % 7 = 1
         |UNION ALL
         |SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 7 = 2
         |UNION ALL
         |SELECT o_orderkey, NULL FROM orders WHERE o_orderkey % 7 = 3
         |""".stripMargin),
    "k18_type_widening" ->
      ("""WITH narrow AS (
         |  SELECT CAST(o_orderkey AS BIGINT) AS k,
         |         CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS p
         |  FROM orders WHERE o_orderkey % 5 = 0
         |), wide AS (
         |  SELECT o_orderkey + 10000000000 AS k,
         |         CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS p
         |  FROM orders WHERE o_orderkey % 5 = 1
         |), unioned AS (
         |  SELECT k, p FROM narrow UNION ALL SELECT k, p FROM wide
         |)
         |SELECT k, CASE WHEN k % 10 = 0 THEN p * 2 ELSE p END AS p
         |FROM unioned
         |""".stripMargin),
    "k16_row_tracking" ->
      ("""WITH sz AS (SELECT
         |    (SELECT count(*) FROM orders WHERE o_orderkey % 7 = 0) AS n0,
         |    (SELECT count(*) FROM orders WHERE o_orderkey % 35 = 3) AS ins)
         |SELECT CAST(n0 + ins AS BIGINT) AS n,
         |  CAST(n0 + ins AS BIGINT) AS n_ids,
         |  CAST(1 AS BIGINT) AS min_id,
         |  CAST(n0 + ins AS BIGINT) AS max_id,
         |  CAST(n0 AS BIGINT) AS n_originals,
         |  CAST(ins AS BIGINT) AS n_inserted,
         |  CAST(0 AS BIGINT) AS n_id_changed
         |FROM sz
         |""".stripMargin),
    "k14_cdf_feed" ->
      ("""WITH appended AS (
         |  SELECT o_orderkey + 20000000 AS o_orderkey, o_orderstatus,
         |         o_totalprice, o_orderpriority
         |  FROM orders WHERE o_orderkey % 97 = 0 AND o_orderkey % 4 = 1
         |), s1 AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
         |  FROM orders WHERE o_orderkey % 4 = 1
         |  UNION ALL SELECT * FROM appended
         |), deleted AS (
         |  SELECT * FROM s1 WHERE o_orderkey % 10 = 3
         |), live1 AS (
         |  SELECT * FROM s1 WHERE o_orderkey % 10 <> 3
         |), upd AS (
         |  SELECT * FROM live1 WHERE o_orderkey % 100 = 9
         |)
         |SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority,
         |       'insert' AS _change_type, CAST(3 AS BIGINT) AS _commit_version,
         |       TRUE AS ts_is_commit_instant
         |FROM appended
         |UNION ALL
         |SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority,
         |       'delete', CAST(4 AS BIGINT), TRUE FROM deleted
         |UNION ALL
         |SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority,
         |       'update_preimage', CAST(5 AS BIGINT), TRUE FROM upd
         |UNION ALL
         |SELECT o_orderkey, o_orderstatus, o_totalprice, 'X-CDF',
         |       'update_postimage', CAST(5 AS BIGINT), TRUE FROM upd
         |""".stripMargin),
    "k14_cdf_mirror" ->
      ("""WITH appended AS (
         |  SELECT o_orderkey + 40000000 AS o_orderkey, o_orderstatus,
         |         o_totalprice, o_orderpriority
         |  FROM orders WHERE o_orderkey % 89 = 0 AND o_orderkey % 4 = 1
         |), s1 AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
         |  FROM orders WHERE o_orderkey % 4 = 1
         |  UNION ALL SELECT * FROM appended
         |), u1 AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice,
         |         CASE WHEN o_orderkey % 30 = 1 THEN 'M1'
         |              ELSE o_orderpriority END AS o_orderpriority
         |  FROM s1
         |), u2 AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice,
         |         CASE WHEN o_orderkey % 60 = 1 THEN 'M2'
         |              ELSE o_orderpriority END AS o_orderpriority
         |  FROM u1
         |)
         |SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
         |FROM u2 WHERE o_orderkey % 50 <> 1
         |""".stripMargin),
    "k14_cdf_mv_refresh" ->
      ("""WITH appended AS (
         |  SELECT o_orderkey + 30000000 AS o_orderkey, o_orderstatus,
         |         o_totalprice
         |  FROM orders WHERE o_orderkey % 89 = 0 AND o_orderkey % 4 = 1
         |), s1 AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         |  WHERE o_orderkey % 4 = 1
         |  UNION ALL SELECT * FROM appended
         |), u AS (
         |  SELECT o_orderkey,
         |         CASE WHEN o_orderkey % 50 = 11 THEN 'Z'
         |              ELSE o_orderstatus END AS o_orderstatus,
         |         o_totalprice
         |  FROM s1
         |), final AS (
         |  SELECT * FROM u WHERE o_orderkey % 10 <> 9
         |)
         |SELECT o_orderstatus, COUNT(*) AS n_rows,
         |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
         |            AS BIGINT) AS cents
         |FROM final GROUP BY o_orderstatus
         |""".stripMargin),
    "k1_append_roundtrip" ->
      s"SELECT $OrderCols FROM orders WHERE o_orderkey % 4 IN (0, 1)",
    // External replay of the exported Delta log: live set = adds minus
    // removes across version files, then only those parquet files are
    // read. Compared against the Spark TABLE-LAYER read, so a path,
    // diff, or JSON bug in the export breaks the hash.
    "k10_delta_log_read" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
       "o_orderdate, o_orderpriority FROM orders " +
       "WHERE o_orderkey % 4 IN (0, 1)"),
    "k10_delta_export_replay" ->
      (s"""WITH acts AS (
         |  SELECT json FROM read_json_objects(
         |    '/tmp/graft_scratch/_root_testdata_sf0.01/delta_export/_delta_log/*.json',
         |    format='newline_delimited')),
         |adds AS (SELECT json_extract_string(json, '$$.add.path') AS p
         |         FROM acts WHERE json_extract_string(json, '$$.add.path') IS NOT NULL),
         |rems AS (SELECT json_extract_string(json, '$$.remove.path') AS p
         |         FROM acts WHERE json_extract_string(json, '$$.remove.path') IS NOT NULL),
         |live AS (SELECT p FROM adds EXCEPT SELECT p FROM rems)
         |SELECT $OrderCols
         |FROM read_parquet(
         |  '/tmp/graft_scratch/_root_testdata_sf0.01/delta_export/*.parquet',
         |  filename=true) t
         |WHERE regexp_extract(t.filename, '[^/]+$$') IN (SELECT p FROM live)"""
        .stripMargin),
    "k10_delta_export_materialized" ->
      (s"""WITH acts AS (
         |  SELECT json FROM read_json_objects(
         |    '/tmp/graft_scratch/_root_testdata_sf0.01/delta_mat/_delta_log/*.json',
         |    format='newline_delimited')),
         |adds AS (SELECT json_extract_string(json, '$$.add.path') AS p
         |         FROM acts WHERE json_extract_string(json, '$$.add.path') IS NOT NULL),
         |rems AS (SELECT json_extract_string(json, '$$.remove.path') AS p
         |         FROM acts WHERE json_extract_string(json, '$$.remove.path') IS NOT NULL),
         |live AS (SELECT p FROM adds EXCEPT SELECT p FROM rems)
         |SELECT o_orderkey, o_orderstatus, price_usd, o_orderpriority
         |FROM read_parquet(
         |  '/tmp/graft_scratch/_root_testdata_sf0.01/delta_mat/*.parquet',
         |  filename=true) t
         |WHERE regexp_extract(t.filename, '[^/]+$$') IN (SELECT p FROM live)"""
        .stripMargin),
    // External-reader checkpoint protocol: live set = checkpoint parquet
    // adds ∪ the post-checkpoint JSON tail's adds (versions ≤ the
    // checkpoint are deliberately NOT read — reading them anyway would
    // mask a wrong checkpoint).
    "k10_delta_checkpoint_replay" ->
      (s"""WITH ck AS (
         |  SELECT add.path AS p FROM read_parquet(
         |    '/tmp/graft_scratch/_root_testdata_sf0.01/delta_ck/_delta_log/00000000000000000001.checkpoint.parquet')
         |  WHERE add IS NOT NULL),
         |tail AS (
         |  SELECT json_extract_string(json, '$$.add.path') AS p
         |  FROM read_json_objects(
         |    '/tmp/graft_scratch/_root_testdata_sf0.01/delta_ck/_delta_log/00000000000000000002.json',
         |    format='newline_delimited')
         |  WHERE json_extract_string(json, '$$.add.path') IS NOT NULL),
         |live AS (SELECT p FROM ck UNION SELECT p FROM tail)
         |SELECT $OrderCols
         |FROM read_parquet(
         |  '/tmp/graft_scratch/_root_testdata_sf0.01/delta_ck/*.parquet',
         |  filename=true) t
         |WHERE regexp_extract(t.filename, '[^/]+$$') IN (SELECT p FROM live)"""
        .stripMargin),
    "k2_overwrite_roundtrip" ->
      s"SELECT $OrderCols FROM orders WHERE o_orderkey % 4 = 2",
    "k6_catalog_version_as_of" ->
      s"SELECT $OrderCols FROM orders WHERE o_orderkey % 3 <> 0",
    "k6_catalog_named_table" ->
      ("SELECT c_nationkey, COUNT(*) AS n_cust, " +
       "CAST(SUM(ROUND(c_acctbal * 100)) AS BIGINT) AS bal_cents " +
       "FROM customer WHERE c_acctbal > 0 AND c_mktsegment <> 'MACHINERY' " +
       "GROUP BY c_nationkey"),
    "k6_catalog_file_skipping" ->
      ("SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders " +
       "WHERE o_orderkey BETWEEN 1000 AND 3000"),
    "k6_catalog_bloom_skip" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate " +
       "FROM orders WHERE o_orderkey IN (7, 388, 1234, 4000, 9999)"),
    "k_delete_dv_roundtrip" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
       "o_orderpriority FROM orders " +
       "WHERE NOT (o_totalprice > 150000 AND o_orderstatus = 'O') " +
       "AND NOT (o_orderkey % 10 = 3)"),
    "k_update_dv_roundtrip" ->
      ("""WITH u1 AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |         CASE WHEN o_totalprice > 200000 AND o_orderstatus = 'O'
         |              THEN o_totalprice * CAST(1.1 AS DOUBLE)
         |              ELSE o_totalprice
         |         END AS o_totalprice,
         |         CASE WHEN o_totalprice > 200000 AND o_orderstatus = 'O'
         |              THEN '1-URGENT' ELSE o_orderpriority
         |         END AS o_orderpriority
         |  FROM orders
         |), u2 AS (
         |  SELECT o_orderkey, o_custkey,
         |         CASE WHEN o_orderkey % 100 = 7 THEN 'X'
         |              ELSE o_orderstatus END AS o_orderstatus,
         |         o_totalprice, o_orderpriority
         |  FROM u1
         |)
         |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |       o_orderpriority
         |FROM u2
         |WHERE NOT (o_orderstatus = 'X' AND o_totalprice > 250000)
         |""".stripMargin),
    "k_merge_dv_roundtrip" ->
      ("""WITH src AS (
         |  SELECT o_orderkey AS k, o_custkey AS ck, o_totalprice AS tp
         |  FROM orders WHERE o_orderkey % 50 = 0
         |  UNION ALL
         |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice
         |  FROM orders WHERE o_orderkey % 500 = 0
         |)
         |SELECT o.o_orderkey, o.o_custkey,
         |       CASE WHEN s.k IS NOT NULL THEN 'M'
         |            WHEN o.o_orderkey % 7 = 3 THEN 'Z'
         |            ELSE o.o_orderstatus END AS o_orderstatus,
         |       o.o_totalprice,
         |       CASE WHEN s.k IS NOT NULL THEN '1-URGENT'
         |            ELSE o.o_orderpriority END AS o_orderpriority
         |FROM orders o LEFT JOIN src s ON o.o_orderkey = s.k
         |WHERE NOT (s.k IS NOT NULL AND o.o_totalprice > 200000)
         |  AND NOT (s.k IS NULL AND o.o_orderkey % 7 <> 3
         |           AND o.o_totalprice < 2000)
         |UNION ALL
         |SELECT s.k, s.ck, 'I', s.tp, '5-LOW'
         |FROM src s LEFT JOIN orders o ON s.k = o.o_orderkey
         |WHERE o.o_orderkey IS NULL
         |""".stripMargin),
    "k_rename_column_roundtrip" ->
      ("SELECT o_orderkey, o_orderstatus, o_totalprice AS price_usd " +
       "FROM orders WHERE o_totalprice > 50000"),
    "k_shallow_clone_roundtrip" ->
      ("""WITH cloned AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         |  WHERE o_orderkey % 2 = 0 AND NOT o_totalprice > 200000
         |  UNION ALL
         |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         |  WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 0)
         |SELECT * FROM cloned
         |WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 0)""".stripMargin),
    "k_deep_clone_diverge" ->
      ("""WITH cloned AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         |  WHERE o_orderkey % 2 = 0 AND NOT o_totalprice > 200000
         |  UNION ALL
         |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         |  WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 0)
         |SELECT * FROM cloned
         |WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 0)""".stripMargin),
    "k8_sql_analyze_stats" ->
      ("SELECT COUNT(*) AS n_cust, MIN(c_custkey) AS min_ck, " +
       "MAX(c_custkey) AS max_ck, MAX(c_acctbal) AS max_bal FROM customer"),
    "k6_catalog_stats_agg" ->
      ("SELECT COUNT(*) AS n_orders, MIN(o_orderkey) AS min_key, " +
       "MAX(o_orderkey) AS max_key, MIN(o_orderdate) AS first_dt, " +
       "MAX(o_totalprice) AS max_price, MIN(o_orderpriority) AS min_prio " +
       "FROM orders"),
    "k8_sql_zorder_skip" ->
      ("SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice " +
       "FROM lineitem WHERE l_orderkey BETWEEN 500 AND 2500 " +
       "AND l_partkey BETWEEN 100 AND 900"),
    "k9_tokenfreq_incremental" ->
      ("""WITH init AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         |src AS (SELECT doc_id, text || ' graftzz' AS text
         |        FROM documents WHERE doc_id % 3 = 0),
         |merged AS (
         |  SELECT doc_id, text FROM src
         |  UNION ALL
         |  SELECT doc_id, text FROM init
         |  WHERE doc_id NOT IN (SELECT doc_id FROM src)),
         |final AS (SELECT * FROM merged WHERE NOT length(text) > 900)
         |SELECT token, CAST(COUNT(*) AS BIGINT) AS n_rows
         |FROM (SELECT unnest(regexp_extract_all(text, '\S+')) AS token
         |      FROM final)
         |GROUP BY token""".stripMargin),
    "k9_incremental_gold" ->
      ("""WITH init AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
         |src AS (SELECT o_orderkey, o_orderpriority,
         |               o_totalprice + 1 AS price
         |        FROM orders WHERE o_orderkey % 2 = 0),
         |merged AS (
         |  SELECT o_orderkey, o_orderpriority, price FROM src
         |  UNION ALL
         |  SELECT o_orderkey, o_orderpriority, o_totalprice AS price
         |  FROM init
         |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)),
         |final AS (SELECT * FROM merged WHERE NOT price > 200000)
         |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       CAST(SUM(ROUND(price * 100)) AS BIGINT) AS price_cents
         |FROM final GROUP BY o_orderpriority""".stripMargin),
    "k9_incremental_join" ->
      ("""WITH fact0 AS (
         |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
         |  FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderkey <= 60000),
         |dim0 AS (
         |  SELECT c_custkey, c_name, c_mktsegment
         |  FROM customer WHERE c_custkey % 5 <> 4),
         |fsrc AS (
         |  SELECT o_orderkey,
         |         CASE WHEN o_orderkey % 7 = 0 THEN -1 ELSE o_custkey END
         |           AS o_custkey,
         |         o_totalprice + 1 AS o_totalprice, o_orderpriority
         |  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey <= 60000),
         |fmerged AS (
         |  SELECT * FROM fsrc
         |  UNION ALL
         |  SELECT * FROM fact0
         |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM fsrc)),
         |ffinal AS (SELECT * FROM fmerged WHERE NOT o_totalprice > 200000),
         |dsrc AS (
         |  SELECT c_custkey, c_name, 'UPDATED' AS c_mktsegment
         |  FROM customer WHERE c_custkey % 5 <> 4 AND c_custkey % 3 = 0
         |  UNION ALL
         |  SELECT c_custkey, c_name, c_mktsegment
         |  FROM customer WHERE c_custkey % 5 = 4 AND c_custkey % 2 = 0),
         |dmerged AS (
         |  SELECT * FROM dsrc
         |  UNION ALL
         |  SELECT * FROM dim0
         |  WHERE c_custkey NOT IN (SELECT c_custkey FROM dsrc)),
         |dfinal AS (SELECT * FROM dmerged WHERE NOT c_custkey % 10 = 7)
         |SELECT f.o_orderkey, f.o_custkey, f.o_totalprice, f.o_orderpriority,
         |       d.c_custkey, d.c_name, d.c_mktsegment
         |FROM ffinal f JOIN dfinal d ON f.o_custkey = d.c_custkey""".stripMargin),
    "k9_incremental_join_pruned" ->
      ("""WITH fact0 AS (
         |  SELECT o_orderkey, o_custkey, o_totalprice,
         |         strftime(o_orderdate, '%Y') AS o_year
         |  FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderkey <= 60000),
         |dim0 AS (
         |  SELECT c_custkey, c_name, c_mktsegment
         |  FROM customer WHERE c_custkey % 5 <> 4),
         |fsrc AS (
         |  SELECT o_orderkey,
         |         CASE WHEN o_orderkey % 7 = 0 THEN -1 ELSE o_custkey END
         |           AS o_custkey,
         |         o_totalprice + 1 AS o_totalprice,
         |         strftime(o_orderdate, '%Y') AS o_year
         |  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey <= 60000),
         |fmerged AS (
         |  SELECT * FROM fsrc
         |  UNION ALL
         |  SELECT * FROM fact0
         |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM fsrc)),
         |ffinal AS (SELECT * FROM fmerged WHERE NOT o_totalprice > 200000)
         |SELECT f.o_orderkey, f.o_custkey, f.o_totalprice, f.o_year,
         |       d.c_custkey, d.c_name, d.c_mktsegment
         |FROM ffinal f JOIN dim0 d ON f.o_custkey = d.c_custkey""".stripMargin),
    "k7_sql_merge_roundtrip" ->
      ("""WITH t AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
         |s AS (SELECT o_orderkey AS sid, o_totalprice + 10 AS new_price
         |      FROM orders WHERE o_orderkey % 2 = 0)
         |SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus,
         |       CASE WHEN s.sid IS NOT NULL THEN s.new_price
         |            ELSE t.o_totalprice END AS o_totalprice,
         |       t.o_orderdate, t.o_orderpriority
         |FROM t LEFT JOIN s ON t.o_orderkey = s.sid
         |WHERE s.sid IS NULL OR s.new_price <= 150000
         |UNION ALL
         |SELECT s.sid, CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
         |       s.new_price, CAST(NULL AS TIMESTAMP), CAST(NULL AS VARCHAR)
         |FROM s LEFT JOIN t ON t.o_orderkey = s.sid
         |WHERE t.o_orderkey IS NULL""".stripMargin),
    "k7_sql_update_delete" ->
      ("""SELECT c_custkey, c_name, c_nationkey,
         |       CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 100
         |            ELSE c_acctbal END AS c_acctbal,
         |       c_mktsegment
         |FROM customer WHERE c_acctbal >= 0""".stripMargin),
    "k4_merge_schema_evolution" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
       "o_totalprice + 1 AS o_totalprice, o_orderdate, " +
       "CASE WHEN o_orderkey % 3 <> 0 THEN o_orderpriority END AS o_orderpriority " +
       "FROM orders WHERE o_orderkey % 2 = 0"),
    "k4_merge_dv_evolution" ->
      ("""WITH tgt AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         |), src AS (
         |  SELECT o_orderkey AS k, 'web' AS ch, o_totalprice + 5 AS tp
         |  FROM orders WHERE o_orderkey % 40 = 0
         |  UNION ALL
         |  SELECT o_orderkey + 20000000 AS k, 'new' AS ch, o_totalprice AS tp
         |  FROM orders WHERE o_orderkey % 400 = 0
         |)
         |SELECT
         |  COALESCE(t.o_orderkey, s.k) AS o_orderkey,
         |  CASE WHEN t.o_orderkey IS NOT NULL THEN t.o_orderstatus
         |       ELSE 'N' END AS o_orderstatus,
         |  CAST(ROUND((CASE WHEN s.k IS NOT NULL THEN s.tp
         |       ELSE t.o_totalprice END) * 100) AS BIGINT) AS cents,
         |  CASE WHEN s.k IS NOT NULL THEN s.ch END AS o_channel
         |FROM tgt t FULL OUTER JOIN src s ON t.o_orderkey = s.k
         |""".stripMargin),
    "k4_merge_auto_evolution" ->
      ("""WITH tgt AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         |), src AS (
         |  SELECT o_orderkey AS k, 'web' AS ch, o_totalprice + 5 AS tp
         |  FROM orders WHERE o_orderkey % 40 = 0
         |  UNION ALL
         |  SELECT o_orderkey + 30000000 AS k, 'new' AS ch, o_totalprice AS tp
         |  FROM orders WHERE o_orderkey % 400 = 0
         |)
         |SELECT
         |  COALESCE(t.o_orderkey, s.k) AS o_orderkey,
         |  CASE WHEN t.o_orderkey IS NOT NULL THEN t.o_orderstatus
         |       ELSE 'N' END AS o_orderstatus,
         |  CAST(ROUND((CASE WHEN s.k IS NOT NULL THEN s.tp
         |       ELSE t.o_totalprice END) * 100) AS BIGINT) AS cents,
         |  CASE WHEN s.k IS NOT NULL THEN s.ch END AS o_channel
         |FROM tgt t FULL OUTER JOIN src s ON t.o_orderkey = s.k
         |""".stripMargin),
    "k4_merge_upsert" ->
      (s"SELECT $OrderCols FROM orders WHERE o_orderkey % 2 = 0 " +
       "UNION ALL " +
       "SELECT o_orderkey, o_custkey, o_orderstatus, " +
       "CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2 ELSE o_totalprice END " +
       "AS o_totalprice, o_orderdate, o_orderpriority " +
       "FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderkey % 2 <> 0"),
    "k_constraint_gate_roundtrip" ->
      s"SELECT $OrderCols FROM orders WHERE o_totalprice > 0",
    "k_history" ->
      ("SELECT * FROM (VALUES (CAST(3 AS BIGINT), 'merge'), " +
       "(CAST(2 AS BIGINT), 'append'), (CAST(1 AS BIGINT), 'create-overwrite')) " +
       "t(version, op)"),
    "k8_sql_optimize_roundtrip" ->
      s"SELECT $OrderCols FROM orders WHERE o_orderkey % 2 = 0",
    "k11_copy_into_idempotent" ->
      s"SELECT $OrderCols FROM orders WHERE o_orderkey % 3 IN (0, 1)",
    "k11_optimize_where_roundtrip" ->
      (s"SELECT $OrderCols, CAST(o_orderkey % 4 AS INTEGER) AS blk " +
       "FROM orders"),
    "k11_convert_in_place" ->
      s"SELECT $OrderCols FROM orders",
    "k13_idempotent_append" ->
      s"SELECT $OrderCols FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)",
    "k12_schema_evolution_ddl" ->
      ("SELECT o_orderkey, o_custkey AS cust, o_totalprice, " +
       "CAST(NULL AS VARCHAR) AS channel FROM orders WHERE o_orderkey % 2 = 0 " +
       "UNION ALL " +
       "SELECT o_orderkey, o_custkey AS cust, o_totalprice, 'web' AS channel " +
       "FROM orders WHERE o_orderkey % 2 = 1"),
    "k_cluster_incremental_roundtrip" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
       "o_orderdate, o_orderpriority FROM orders " +
       "WHERE o_orderkey % 2 = 0 AND o_orderstatus <> 'P'"),
    "k8_sql_history_tvf" ->
      ("SELECT CAST(range AS BIGINT) AS version, " +
       "CASE WHEN range = 1 THEN 'create-overwrite' " +
       "WHEN range = 3 THEN 'merge' ELSE 'append' END AS operation " +
       "FROM range(1, 14)"),
    "k8_sql_version_as_of" ->
      s"SELECT $OrderCols FROM orders WHERE o_orderkey % 3 <> 0",
    "k_delete_where_roundtrip" ->
      (s"SELECT $OrderCols, CAST(o_orderkey % 4 AS INTEGER) AS blk FROM orders " +
       "WHERE o_orderkey % 4 <> 3 AND o_totalprice >= 50000.0"),
    "k_update_where_roundtrip" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
       "CASE WHEN o_orderstatus = 'F' THEN ROUND(o_totalprice * 110) / 100.0 " +
       "ELSE o_totalprice END AS o_totalprice, o_orderdate, " +
       "CASE WHEN o_orderstatus = 'F' THEN '9-REPRICED' ELSE o_orderpriority END " +
       "AS o_orderpriority FROM orders"),
    "k_create_or_merge_roundtrip" ->
      s"SELECT $OrderCols FROM orders WHERE o_orderkey % 2 = 0",
    "k_time_travel" ->
      s"SELECT $OrderCols FROM orders WHERE o_orderkey % 3 <> 0",
    "k_csv_sink_roundtrip" ->
      s"SELECT $OrderCols FROM orders WHERE o_orderkey % 5 = 0",
    "k_json_sink_roundtrip" ->
      s"SELECT $OrderCols FROM orders WHERE o_orderkey % 7 = 0",
    "k_orc_sink_roundtrip" ->
      s"SELECT $OrderCols FROM orders WHERE o_orderkey % 6 = 0",
    "k_cdc_read" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
       "CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2 ELSE o_totalprice END " +
       "AS o_totalprice, o_orderdate, o_orderpriority, 'insert' AS _change_type " +
       "FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 = 0 " +
       "UNION ALL " +
       "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, " +
       "o_orderpriority, 'update_preimage' FROM orders " +
       "WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0 " +
       "UNION ALL " +
       "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2, o_orderdate, " +
       "o_orderpriority, 'update_postimage' FROM orders " +
       "WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0 " +
       "UNION ALL " +
       "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, " +
       "o_orderpriority, 'delete' FROM orders " +
       "WHERE o_orderkey % 3 <> 0 AND o_orderkey % 2 <> 0"),
    "k4_merge_cdc" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, " +
       "o_orderpriority, 'insert' AS _change_type FROM orders " +
       "WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 = 0 " +
       "UNION ALL " +
       "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2, o_orderdate, " +
       "o_orderpriority, 'update_preimage' FROM orders " +
       "WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0 " +
       "UNION ALL " +
       "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, " +
       "o_orderpriority, 'update_postimage' FROM orders " +
       "WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0 " +
       "UNION ALL " +
       "SELECT o_orderkey, o_custkey, o_orderstatus, " +
       "CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2 ELSE o_totalprice END, " +
       "o_orderdate, o_orderpriority, 'delete' FROM orders " +
       "WHERE o_orderkey % 3 <> 0 AND o_orderkey % 2 <> 0"),
    "k_restore_roundtrip" ->
      s"SELECT $OrderCols FROM orders",
    "k_optimize_skipping" ->
      (s"SELECT $OrderCols FROM orders WHERE o_orderkey % 5 IN (0, 1, 2) " +
       "AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' " +
       "AND TIMESTAMP '1995-12-31 00:00:00'"),
    "k_schema_drift" ->
      "SELECT 'o_channel' AS column_name, 'added' AS change",
    "k_scd2_merge" ->
      ("""WITH t0 AS (
         |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment
         |  FROM customer WHERE c_custkey % 3 <> 0),
         |src AS (
         |  SELECT c_custkey, c_name, c_acctbal * 2 AS c_acctbal,
         |    CASE WHEN c_custkey % 7 = 0 THEN 'MIGRATED' ELSE c_mktsegment END
         |      AS c_mktsegment
         |  FROM customer WHERE c_custkey % 2 = 0),
         |chg AS (
         |  SELECT s.c_custkey FROM src s JOIN t0 t USING (c_custkey)
         |  WHERE s.c_name <> t.c_name OR s.c_acctbal <> t.c_acctbal
         |     OR s.c_mktsegment <> t.c_mktsegment)
         |SELECT t.c_custkey, t.c_name, t.c_acctbal, t.c_mktsegment,
         |       DATE '1995-01-01' AS valid_from,
         |       CASE WHEN c.c_custkey IS NOT NULL THEN DATE '1995-06-01' END
         |         AS valid_to,
         |       c.c_custkey IS NULL AS is_current
         |FROM t0 t LEFT JOIN chg c USING (c_custkey)
         |UNION ALL
         |SELECT s.c_custkey, s.c_name, s.c_acctbal, s.c_mktsegment,
         |       DATE '1995-06-01', CAST(NULL AS DATE), true
         |FROM src s
         |WHERE s.c_custkey NOT IN (SELECT c_custkey FROM t0)
         |   OR s.c_custkey IN (SELECT c_custkey FROM chg)""".stripMargin)
  )
}
