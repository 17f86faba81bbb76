package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Geo
import graft.table.MedallionTable

/** The reference's medallion pipeline re-expressed over testdata-shaped
  * inputs: a linear bronze → silver → gold DAG
  * (`dags/medallion_architecture.py:146`), idempotent under re-run — the
  * entire reason the reference uses MERGE (SURVEY.md §2.8, §3.4).
  *
  * Stage semantics mirrored:
  *   - Bronze: CSV/JSON scans with header+schema inference (S1/S2,
  *     `bronze_table_creation.py:25-60`), append + mergeSchema +
  *     partitionBy(ingest batch key) (K1) — append on every run, so
  *     re-runs duplicate raw rows exactly like the reference.
  *   - Silver: dropDuplicates → dropna → filter cleaning
  *     (`silver_table_creation.py:32-39`), derived availability datetimes
  *     (P2, `:137,323-326`), geodesic NN station assignment (J7,
  *     `:246-287`, Spark-native), then createOrMerge keyed upserts (K4)
  *     into batch-partitioned tables — the partition-pruned merge path.
  *   - Gold: pre-aggregated rollup joined on the batch key to prevent
  *     leakage (`gold_table_creation.py:39-158`), merged into the gold
  *     table on a composite key (`:169`).
  */
object Pipeline {

  /** Batch key analog of the reference's `data_block_id`. */
  private def blockId(c: org.apache.spark.sql.Column) = (c % 4).cast("int")

  /** Run independent per-table branches as CONCURRENT Spark jobs: each
    * branch alone plans far fewer tasks than the cluster has cores, so a
    * serial chain leaves most of the executor idle. SparkSession is
    * thread-safe for concurrent actions; branches touch disjoint paths.
    */
  private def inParallel(branches: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import scala.util.Try
    implicit val ec: ExecutionContext = ExecutionContext.global
    // Settle ALL branches before surfacing the first failure: a fail-fast
    // Await would return while sibling branches are still writing to the
    // shared work/scratch dirs, racing whatever the caller does next
    // (re-run, cleanup, the next stage).
    val settled = Await.result(
      Future.sequence(branches.map(b => Future(Try(b())))), Duration.Inf)
    settled.foreach(_.get) // rethrows the first failure, if any
  }

  def run(spark: SparkSession, sfDir: String, work: String): Unit = {
    val raw = Bronze.land(spark, sfDir)
    Bronze.run(spark, raw, work)
    Silver.run(spark, work)
    Gold.run(spark, work)
  }

  object Bronze {
    /** Stage 1: land raw files (the download analog — testdata stands in
      * for Kaggle). Raw files are pipeline INPUT, not product: they land
      * once per sf-dir in a shared scratch location and are reused across
      * runs (like a downloaded file that is already on disk), so re-runs
      * measure the pipeline, not the test-fixture generation.
      */
    def land(spark: SparkSession, sfDir: String): String = {
      val raw = graft.queries.Q.scratch(sfDir, "pipeline_raw")
      val done = new org.apache.hadoop.fs.Path(s"$raw/_LANDED")
      val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // Fingerprint the source files by size + mtime (pure FS metadata, no
      // data read): a landing cached for a REGENERATED source dataset must
      // not be reused, or every downstream result silently diverges — and
      // a regenerated file with the same ROW COUNT but different content
      // would slip past a count-based fingerprint.
      val fingerprint = Seq("orders", "lineitem", "nation").map { t =>
        val p = new org.apache.hadoop.fs.Path(s"$sfDir/$t.parquet")
        val pfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val st = pfs.getFileStatus(p)
        // A parquet DIRECTORY stats as len=0 with an mtime that does not
        // change when a child part-file is rewritten in place — fold
        // size+mtime over the descendant FILES instead (recursively: a
        // hive-partitioned source keeps its part-files under key=...
        // subdirs, which a top-level listing would miss entirely) so a
        // regenerated source never reuses a stale landing.
        val (len, mtime) =
          if (st.isDirectory) {
            var l = 0L; var m = 0L
            // FsWalk census for uniformity (source dirs are small)
            graft.table.FsWalk.files(pfs, p).foreach { case (f, _) =>
              l += f.getLen; m = math.max(m, f.getModificationTime)
            }
            (l, m)
          } else (st.getLen, st.getModificationTime)
        s"$t=$len:$mtime"
      }.mkString(",")
      if (!graft.table.SideFiles.readLatest(fs, done).contains(fingerprint)) {
        fs.delete(new org.apache.hadoop.fs.Path(raw), true)
        // repartition before the CSV write: the parquet source is a single
        // file, so without it Spark plans 1-2 tasks for the write AND the
        // downstream inference/parse reads see 1-2 files — serializing the
        // two most expensive passes of the cold pipeline run
        inParallel(
          () => Tables.orders(spark, sfDir).repartition(16).write
            .mode("overwrite").option("header", true).csv(s"$raw/orders"),
          () => Tables.lineitem(spark, sfDir).repartition(16).write
            .mode("overwrite").option("header", true).csv(s"$raw/lineitem"),
          () => Tables.nation(spark, sfDir).write.mode("overwrite")
            .json(s"$raw/nation"))
        graft.table.SideFiles.replace(fs, done, fingerprint)
      }
      raw
    }

    /** Inferred-CSV read with a schema cache: inference costs a full extra
      * pass over the file, and the landed files are immutable — infer once,
      * persist the schema DDL next to the landing, reuse on every re-run
      * (delete the landing to re-infer).
      */
    private def csvInferredCached(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
      val schemaFile = new org.apache.hadoop.fs.Path(s"$dir/_graft_schema.ddl")
      val fs = schemaFile.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val schema = graft.table.SideFiles.read(fs, schemaFile) match {
        case Some(ddl) => org.apache.spark.sql.types.StructType.fromDDL(ddl)
        case None =>
          val inferred = spark.read.option("header", true)
            .option("inferSchema", true).csv(dir).schema
          graft.table.SideFiles.write(fs, schemaFile, inferred.toDDL)
          inferred
      }
      spark.read.option("header", true).schema(schema).csv(dir)
    }

    /** Stage 2: inferred-schema scans of the landed files into bronze. */
    def run(spark: SparkSession, raw: String, work: String): Unit = {
      import spark.implicits._
      // S1 — CSV, header + inference; K1 — append + mergeSchema + partitionBy.
      // repartition on the partition key before the partitioned write: one
      // file per partition value instead of tasks × values small files
      // (downstream mergeSchema reads pay per file footer)
      inParallel(
        () => {
          val orders = csvInferredCached(spark, s"$raw/orders")
            .withColumn("data_block_id", blockId($"o_orderkey"))
          MedallionTable(spark, s"$work/bronze/orders", Seq("data_block_id"))
            .append(orders.repartition($"data_block_id"))
        },
        () => {
          val lineitem = csvInferredCached(spark, s"$raw/lineitem")
            .withColumn("data_block_id", blockId($"l_orderkey"))
          MedallionTable(spark, s"$work/bronze/lineitem", Seq("data_block_id"))
            .append(lineitem.repartition($"data_block_id"))
        },
        () => {
          // S2 — JSON inference; K2 — overwrite (static dim, like the county map).
          val nation = spark.read.json(s"$raw/nation")
          MedallionTable(spark, s"$work/bronze/nation").overwrite(nation)
        })
    }
  }

  object Silver {
    def run(spark: SparkSession, work: String): Unit = {
      import spark.implicits._

      // Cleaning chain (silver_table_creation.py:32-39): dedup the
      // re-appended bronze rows, drop nulls, filter. Row-wise filters
      // commute with dropDuplicates — run them first so the dedup
      // shuffle sees the smaller input. (DedupOps.dropDuplicatesSorted
      // would fuse dedup with the block-partitioned write layout, but its
      // parallelism is bounded by block cardinality — only 4 here; use it
      // when |partitions| ≥ cores.)
      def ordersBranch(): Unit = {
      val orders = MedallionTable(spark, s"$work/bronze/orders").read
        .na.drop("any")
        .filter($"o_totalprice" =!= 0.0)
        .dropDuplicates()
      MedallionTable(spark, s"$work/silver/orders", Seq("data_block_id"))
        .createOrMerge(orders.repartition($"data_block_id"),
          Seq("o_orderkey", "data_block_id"))
      }

      // Availability datetime derivation (P2, silver_table_creation.py:137)
      // plus a content-derived row_id merge key — the reference's train
      // table merges on `row_id` (silver_table_creation.py:49) because
      // business columns alone are not unique; same here (lineitem rows can
      // share orderkey/linenumber/partkey/suppkey).
      def lineitemBranch(): Unit = {
      val cleaned = MedallionTable(spark, s"$work/bronze/lineitem").read
        .na.drop("any")
        .dropDuplicates()
      val lineitem = cleaned
        .withColumn("l_row_id", xxhash64(cleaned.columns.sorted.map(col): _*))
        .withColumn("available_ts",
          expr("CASE WHEN HOUR(l_shipdate) < 4 THEN l_shipdate + INTERVAL 1 DAY " +
               "ELSE l_shipdate + INTERVAL 2 DAY END"))
      MedallionTable(spark, s"$work/silver/lineitem", Seq("data_block_id"))
        .createOrMerge(lineitem.repartition($"data_block_id"),
          Seq("l_row_id", "data_block_id"))
      }

      // Station→county NN assignment, Spark-native J7
      // (silver_table_creation.py:246-287 without the collect()s).
      def stationsBranch(): Unit = {
      val st = MedallionTable(spark, s"$work/bronze/nation").read.select(
        $"n_nationkey".cast("int").as("station_id"),
        (lit(-60.0) + $"n_nationkey" * 4.7).as("lat"),
        (lit(-150.0) + $"n_nationkey" * 11.3).as("lon"),
        when($"n_nationkey" % 5 =!= 0, $"n_regionkey".cast("int")).as("county"))
      val labeled = st.filter($"county".isNotNull)
      val lab = labeled.select($"station_id".as("lid"), $"lat".as("llat"),
        $"lon".as("llon"), $"county")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"station_id").orderBy($"dist", $"county", $"lid")
      val assigned = st.filter($"county".isNull).drop("county")
        .crossJoin(broadcast(lab))
        .withColumn("dist", Geo.haversineKm($"lat", $"lon", $"llat", $"llon"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"station_id", $"lat", $"lon", $"county")
      MedallionTable(spark, s"$work/silver/stations")
        .overwrite(labeled.unionByName(assigned)) // U1 + K2
      }

      inParallel(ordersBranch _, lineitemBranch _, stationsBranch _)
    }
  }

  object Gold {
    def run(spark: SparkSession, work: String): Unit = {
      import spark.implicits._
      val orders = MedallionTable(spark, s"$work/silver/orders").read
      val lineitem = MedallionTable(spark, s"$work/silver/lineitem").read

      // Pre-aggregate before the join (gold_table_creation.py:100-119),
      // joined on the batch key too — the reference's leak-prevention shape.
      val rollup = lineitem
        .groupBy($"l_orderkey", $"data_block_id".as("li_block"))
        .agg(
          sum($"l_quantity").as("sum_qty"),
          (sum(round($"l_extendedprice" * (lit(1) - $"l_discount") * 100)) / 100.0)
            .as("revenue"),
          count(lit(1)).as("line_cnt"))

      val wide = orders.join(rollup,
          orders("o_orderkey") === rollup("l_orderkey") &&
          orders("data_block_id") === rollup("li_block"), "left")
        .drop("l_orderkey", "li_block")

      MedallionTable(spark, s"$work/gold/wide_orders", Seq("data_block_id"))
        .createOrMerge(wide.repartition($"data_block_id"),
          Seq("o_orderkey", "data_block_id"))
    }
  }
}
