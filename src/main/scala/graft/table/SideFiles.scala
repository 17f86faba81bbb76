package graft.table

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{ChecksumException, FileStatus, FileSystem, Path}

/** The one store for graft's small text sidecars: every commit marker,
  * lock body, feed manifest, watermark and record file is read, created
  * and replaced here, and nowhere else. Each file name is one of two
  * kinds, fixed by its writers:
  *
  *  - WRITE-ONCE ([[write]], [[read]], [[createExclusive]]): a name that
  *    holds one value for its whole life — commit markers, feed manifests
  *    `cdf/c<ordinal>`, txn and COPY INTO witnesses, archived version
  *    ordinals, the clone manifest, a stats dir's `_covered.txt`, the
  *    pipeline's CSV schema cache, the Delta export's version JSON, the
  *    feed's `enabled` flag, the leases' bodies. A temp file renamed into
  *    place, so a reader sees the whole file or none; a writer that finds
  *    the name taken keeps what is there (a retry writes the same bytes).
  *  - REPLACED ([[replace]], [[readLatest]], [[status]], [[remove]]): a
  *    name whose value changes — the table record ([[TableMeta]]),
  *    `identity_hw`, `txns/<appId>`, `journal.tsv`, the feed's
  *    `expired_through` and mirror watermark, the MV watermark, the tag
  *    archive watermark, `_last_checkpoint`, the pipeline's landing
  *    fingerprint and the streaming floor slots.
  *
  * Hadoop's `rename` refuses an existing destination on the local
  * filesystem, so a replace must drop `<name>` before the new value can
  * take it. It stages the new value complete at `<name>.new` first:
  *
  *  1. write a uniquely named temp file, rename it to `<name>.new`;
  *  2. delete `<name>`;
  *  3. rename `<name>.new` to `<name>`.
  *
  * A crash after 1 leaves `<name>` (old value) and `<name>.new`; after 2,
  * `<name>.new` alone (new value). [[readLatest]] probes `<name>`, then
  * `<name>.new`, then `<name>` again (a replace running beside the read
  * may finish step 3 between the first two probes), so once a value
  * exists a reader gets the old or the new one, never none and never a
  * partial one. The next replace, finding a leftover `<name>.new` in the
  * way of its staging rename, settles it first: promoted when `<name>` is
  * gone, dropped when `<name>` still holds the value readers see. Writers of one replaced name are
  * serialized by their callers (a claim, a lock or a single owner).
  */
object SideFiles {

  /** The commits sibling: the directory beside a table, named after it,
    * that holds its commit markers, leases, journal and feed state. A
    * rewrite swaps the table directory wholesale, so state that must
    * outlive it lives here.
    */
  def commitsDir(tablePath: String): Path =
    new Path(s"${tablePath}__graft_commits")

  // ---- write-once ---------------------------------------------------------

  /** Land `text` at `p` by temp file and rename. A `p` already present
    * stays as it is: the name holds one value for its whole life.
    */
  def write(fs: FileSystem, p: Path, text: String): Unit = {
    val tmp = stage(fs, p, text)
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      if (!fs.exists(p))
        throw new IOException(s"sidecar write failed: $tmp -> $p")
    }
  }

  /** The whole file, or None when it does not exist. */
  def read(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: FileNotFoundException => None }

  /** Create `p` holding `body` only if no file is there: the CAS under
    * commit markers, writer locks and the Delta export's versions. On the
    * local filesystem Hadoop's `create(overwrite = false)` is
    * check-then-create, so the claim goes through the JDK's atomic
    * create-if-absent on `java.io.File`. False when another writer holds
    * the name; a body write that fails after the create won removes the
    * file (a leftover would claim a name nobody owns) and throws.
    */
  def createExclusive(fs: FileSystem, p: Path, body: String): Boolean = {
    val bytes = body.getBytes(UTF_8)
    if ("file" == fs.getUri.getScheme) {
      val local = new java.io.File(fs.makeQualified(p).toUri.getPath)
      local.createNewFile() && {
        try {
          val out = new java.io.FileOutputStream(local)
          try out.write(bytes) finally out.close()
        } catch { case e: IOException => local.delete(); throw e }
        true
      }
    } else {
      val out =
        try fs.create(p, false)
        catch { case e: IOException => if (fs.exists(p)) return false else throw e }
      try {
        try out.write(bytes) finally out.close()
      } catch { case e: IOException => fs.delete(p, false); throw e }
      true
    }
  }

  // ---- replaced -----------------------------------------------------------

  /** Where a replace stages the new value before it takes `p`'s name. */
  private[table] def staged(p: Path): Path =
    new Path(p.getParent, s"${p.getName}.new")

  /** Replace `p`'s value with `text` by the three steps in the scaladoc
    * above. Fires the test failpoint `sidecar-replace:<name>` between
    * dropping `<name>` and landing `<name>.new` on it.
    */
  def replace(fs: FileSystem, p: Path, text: String): Unit = {
    val s = staged(p)
    val tmp = stage(fs, p, text)
    if (!fs.rename(tmp, s)) {
      settle(fs, p)
      if (!fs.rename(tmp, s)) {
        fs.delete(tmp, false)
        throw new IOException(s"sidecar replace failed: $tmp -> $s")
      }
    }
    fs.delete(p, false)
    MedallionTable.testFailpoint(s"sidecar-replace:${p.getName}")
    if (!fs.rename(s, p))
      throw new IOException(s"sidecar replace failed: $s -> $p")
  }

  /** The latest value of a replaced file, or None when it has none. */
  def readLatest(fs: FileSystem, p: Path): Option[String] = probe(fs, p, 3)

  private def probe(fs: FileSystem, p: Path, retries: Int): Option[String] =
    try read(fs, p)
      .orElse(if (fs.exists(staged(p))) read(fs, staged(p)) else None)
      .orElse(if (fs.exists(p)) read(fs, p) else None)
    catch {
      // on a checksummed filesystem a replace beside the read can pair
      // one value's bytes with the next value's checksum file
      case _: ChecksumException if retries > 0 => probe(fs, p, retries - 1)
    }

  /** The status of whichever copy holds a replaced file's value. A
    * promoting rename keeps length and mtime, so the status identifies
    * the value across step 3.
    */
  def status(fs: FileSystem, p: Path): Option[FileStatus] = {
    def stat(f: Path) =
      try Some(fs.getFileStatus(f))
      catch { case _: FileNotFoundException => None }
    stat(p).orElse(stat(staged(p))).orElse(stat(p))
  }

  /** Drop a replaced file's value: the staged copy first, so a crash
    * between the two deletes leaves the value readers saw before.
    */
  def remove(fs: FileSystem, p: Path): Unit = {
    fs.delete(staged(p), false)
    fs.delete(p, false)
  }

  /** Settle a `<name>.new` a crashed replace left: promote it when
    * `<name>` is gone (it holds the value readers see), drop it when
    * `<name>` still stands (its replace never dropped the old value).
    */
  private def settle(fs: FileSystem, p: Path): Unit = {
    val s = staged(p)
    if (fs.exists(s)) {
      if (fs.exists(p)) fs.delete(s, false)
      else if (!fs.rename(s, p))
        throw new IOException(s"sidecar promote failed: $s -> $p")
    }
  }

  /** The temp files that writes killed mid-write left directly in `dir`.
    * A live write's temp file lives for milliseconds, so a caller reaping
    * these beside live writers age-guards them first.
    */
  def temps(fs: FileSystem, dir: Path): Seq[Path] =
    try fs.listStatus(dir).toSeq.map(_.getPath).filter { f =>
      val n = f.getName
      n.startsWith(".") && n.endsWith(".tmp")
    } catch { case _: FileNotFoundException => Nil }

  /** `text` written whole to a fresh temp file beside `p`; a killed write
    * leaves it for [[temps]] to find.
    */
  private def stage(fs: FileSystem, p: Path, text: String): Path = {
    val tmp = new Path(p.getParent,
      s".${p.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    tmp
  }
}
