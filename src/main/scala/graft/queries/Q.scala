package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared plumbing for the oracle-checked query catalog.
  *
  * Every query is a `(SparkSession, sfDir) => DataFrame` paired with ANSI SQL
  * the driver runs in DuckDB over the same parquet tables (SparkEntry
  * contract). Determinism rules that every query here obeys:
  *
  *   - column names identical between the Spark result and the oracle SQL
  *     (the driver sorts columns by name before hashing);
  *   - no order-dependent floating-point aggregation: money columns are
  *     2-decimal doubles, so aggregates go through `ROUND(x*100)` —
  *     integral doubles whose sums are exact in any order — and divide
  *     back by 100.0 once (same numerator/denominator in both engines);
  *   - any LIMIT/row_number orders by a total order over the output
  *     columns, so the result multiset is engine-independent.
  */
object Q {
  type QueryFn = (SparkSession, String) => DataFrame

  /** Per-sf scratch dir for sink round-trip queries (written then read back
    * inside one query). Lives in /tmp — never under the repo or testdata.
    */
  def scratch(sfDir: String, name: String): String =
    s"/tmp/graft_scratch/${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}/$name"

  def deleteDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }

  /** Drop a scratch table: its directory and its commits sibling, where
    * markers, feed state, txn and copy logs live.
    */
  def deleteTable(spark: SparkSession, path: String): Unit = {
    deleteDir(spark, path)
    deleteDir(spark, graft.table.SideFiles.commitsDir(path).toString)
  }

  /** Whitespace tokenization, shared by the text queries. Spark-SQL side of
    * the oracle's `regexp_extract_all(text, '\S+')` — derived from the
    * single-source pattern in [[graft.text.TextOps.tokensExpr]].
    */
  val TokensExpr: String = graft.text.TextOps.tokensExpr("text")
}
