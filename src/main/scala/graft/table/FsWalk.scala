package graft.table

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Shared recursive file census for every table-wide listing.
  *
  * Plain `listStatus` recursion, NOT `fs.listFiles(recursive)`: the
  * located-status iterator resolves block locations PER ENTRY, which on
  * the local (checksum) filesystem measured ~4.3 ms/file
  * (FileCountProbe, round 17) — a 100k-file table would
  * pay ~430 s of driver-side listing before any data work. `listStatus`
  * costs microseconds per entry and block locations are irrelevant to a
  * name/size census. Round 17 fixed one site
  * ([[ShallowClone.listParquet]]); this object is the single primitive
  * the remaining table-wide walks (table snapshots, the file census,
  * insert staging, CDF archived versions, COPY INTO landing scans,
  * OPTIMIZE/DESCRIBE DETAIL metrics, delta-log export) route through so
  * the anti-pattern cannot silently return.
  *
  * `skipDir` prunes subtrees up front (job-committer staging like
  * `_temporary` / `.spark-staging-*` both vanishes mid-walk and is never
  * data); a directory vanishing between list and descent reads as empty
  * — the committer removed it, so its files were never data.
  */
private[graft] object FsWalk {

  /** Standard hidden-segment rule (Spark's own): `_`/`.`-prefixed names
    * are metadata, never data. Judged BELOW the walk root only — the
    * root itself may be a hidden dir (e.g. an archived
    * `_graft_meta/versions/vN` snapshot).
    */
  def hiddenName(n: String): Boolean =
    n.startsWith("_") || n.startsWith(".")

  /** Every FILE under `root` with its root-relative path, `skipDir`'d
    * subtrees pruned; an absent root lists as empty (no separate
    * existence probe). Relative paths use the same qualified-URI
    * relativization as `_metadata.file_path`, so callers' segment
    * filters and glob matchers see identical strings to the old
    * iterator's rendering.
    */
  def files(fs: FileSystem, root: Path,
      skipDir: String => Boolean = _ => false): Seq[(FileStatus, String)] = {
    val rootUri = fs.makeQualified(root).toUri
    val b = Seq.newBuilder[(FileStatus, String)]
    def rec(d: Path): Unit =
      (try fs.listStatus(d)
       catch { case _: java.io.FileNotFoundException =>
         Array.empty[FileStatus]
       }).foreach { st =>
        if (st.isDirectory) {
          if (!skipDir(st.getPath.getName)) rec(st.getPath)
        } else b += ((st,
          rootUri.relativize(fs.makeQualified(st.getPath).toUri).getPath))
      }
    rec(root)
    b.result()
  }

  /** Non-hidden `.parquet` files under `root` (statuses + relative
    * paths) — the data-file census OPTIMIZE metrics, DESCRIBE DETAIL,
    * CDF file indexing and delta-log export all share.
    */
  def dataParquet(fs: FileSystem, root: Path): Seq[(FileStatus, String)] =
    files(fs, root, hiddenName).filter { case (st, _) => isData(st) }

  /** A non-hidden `.parquet` file: a data file of the walked tree. */
  def isData(st: FileStatus): Boolean =
    st.getPath.getName.endsWith(".parquet") && !hiddenName(st.getPath.getName)
}
