package graft.table

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, FilterFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

/** The sidecar store ([[SideFiles]]) on the local Hadoop filesystem, with
  * no SparkSession: write-once files, the crash states of a replace, and
  * a reader running beside a replacing writer. Plus the source scan that
  * keeps every sidecar's I/O inside the store.
  */
class SideFilesSpec extends AnyFunSuite {
  import SideFilesSpec.Crash

  private val local: FileSystem = FileSystem.getLocal(new Configuration())

  private def dir(prefix: String): Path =
    new Path(java.nio.file.Files.createTempDirectory(prefix).toString)

  /** The local filesystem, failing its `crashAt`-th create, rename or
    * delete the way a killed process would: a create leaves a partial
    * file, a rename or delete does not happen.
    */
  private final class CrashingFs(crashAt: Int) extends FilterFileSystem(local) {
    var ops = 0
    private def step(): Boolean = { ops += 1; ops == crashAt }
    override def create(f: Path, permission: FsPermission, overwrite: Boolean,
        bufferSize: Int, replication: Short, blockSize: Long,
        progress: Progressable): FSDataOutputStream = {
      val crash = step()
      val out = super.create(f, permission, overwrite, bufferSize,
        replication, blockSize, progress)
      if (crash) { out.write('x'); out.close(); throw Crash() }
      out
    }
    override def rename(src: Path, dst: Path): Boolean =
      if (step()) throw Crash() else super.rename(src, dst)
    override def delete(f: Path, recursive: Boolean): Boolean =
      if (step()) throw Crash() else super.delete(f, recursive)
  }

  test("write-once: temp-and-rename, an existing name keeps its value, " +
      "absent reads None") {
    val p = new Path(dir("sfw"), "sub/c7")
    assert(SideFiles.read(local, p).isEmpty)
    SideFiles.write(local, p, "first\tvalue\n")
    SideFiles.write(local, p, "second")
    assert(SideFiles.read(local, p).contains("first\tvalue\n"))
    assert(local.listStatus(p.getParent).map(_.getPath.getName)
      .filterNot(_.endsWith(".crc")).toSeq == Seq("c7"), "temp file left")
  }

  test("createExclusive: one winner, the body lands whole") {
    val p = new Path(dir("sfx"), "write.lock")
    assert(SideFiles.createExclusive(local, p, "1\top"))
    assert(!SideFiles.createExclusive(local, p, "2\top"))
    assert(SideFiles.read(local, p).contains("1\top"))
  }

  test("a crash at each step of replace reads the old or the new value, " +
      "never absent or partial; the next replace heals it") {
    for (lone <- Seq(false, true)) {
      var crashAt = 1
      var finished = false
      while (!finished) {
        val p = new Path(dir("sfr"), "expired_through")
        // the old value either stands at the name or sits alone in the
        // staged copy a crashed replace left
        SideFiles.write(local, if (lone) SideFiles.staged(p) else p, "old")
        val fs = new CrashingFs(crashAt)
        finished =
          try { SideFiles.replace(fs, p, "new"); true }
          catch { case Crash() => false }
        val seen = SideFiles.readLatest(local, p)
        assert(seen.contains("old") || seen.contains("new"),
          s"lone=$lone crash at op $crashAt read $seen")
        assert(SideFiles.status(local, p).isDefined)
        SideFiles.replace(local, p, "next")
        assert(SideFiles.readLatest(local, p).contains("next"))
        assert(SideFiles.read(local, p).contains("next"))
        assert(!local.exists(SideFiles.staged(p)),
          s"lone=$lone crash at op $crashAt left the staged copy")
        crashAt += 1
      }
      assert(crashAt > 4, s"replace ran only ${crashAt - 1} mutating ops")
    }
  }

  test("a lone .new is promoted before the next replace stages its value") {
    val p = new Path(dir("sfp"), "table.tsv")
    SideFiles.write(local, SideFiles.staged(p), "crashed value")
    assert(SideFiles.readLatest(local, p).contains("crashed value"))
    // what `<name>` holds when the new value lands at `<name>.new`, and
    // what a reader sees at the store's failpoint (`<name>` dropped)
    var atStage: Option[String] = None
    var atFailpoint: Option[String] = None
    val fs = new FilterFileSystem(local) {
      override def rename(src: Path, dst: Path): Boolean = {
        val ok = super.rename(src, dst)
        if (ok && dst.getName == "table.tsv.new")
          atStage = SideFiles.read(local, p)
        ok
      }
    }
    MedallionTable.testFailpoint = {
      case "sidecar-replace:table.tsv" =>
        atFailpoint = SideFiles.readLatest(local, p)
      case _ => ()
    }
    try SideFiles.replace(fs, p, "next")
    finally MedallionTable.testFailpoint = _ => ()
    assert(atStage.contains("crashed value"))
    assert(atFailpoint.contains("next"))
    assert(SideFiles.read(local, p).contains("next"))
    assert(!local.exists(SideFiles.staged(p)))
    SideFiles.remove(local, p)
    assert(SideFiles.readLatest(local, p).isEmpty &&
      SideFiles.status(local, p).isEmpty)
  }

  test("a reader beside 1,000 replaces never sees absent or partial") {
    val p = new Path(dir("sfc"), "cdf_mirror_reflects")
    def value(i: Int) = s"$i:" + ("x" * (i % 97)) + s":$i"
    SideFiles.replace(local, p, value(0))
    val n = 1000
    @volatile var done = false
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var reads = 0
    val reader = new Thread(() => {
      while (!done) {
        try SideFiles.readLatest(local, p) match {
          case None => bad.add("absent")
          case Some(v) =>
            val parts = v.split(':')
            if (parts.length != 3 || parts(0) != parts(2) ||
                v != value(parts(0).toInt)) bad.add(v)
        } catch { case e: Exception => bad.add(e.toString) }
        reads += 1
      }
    })
    reader.start()
    try (1 to n).foreach(i => SideFiles.replace(local, p, value(i)))
    finally { done = true; reader.join() }
    assert(bad.isEmpty, bad.toArray.take(5).mkString(", "))
    assert(reads > 0)
    assert(SideFiles.readLatest(local, p).contains(value(n)))
  }

  test("every sidecar's I/O goes through the store: no hand-rolled decode, " +
      "text create or exclusive create; one commits-sibling spelling") {
    val main = new java.io.File("src/main/scala/graft")
    assert(main.isDirectory,
      s"src/main not found under ${new java.io.File(".").getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) files(f) else Seq(f)
      }
    def text(f: java.io.File) =
      new String(java.nio.file.Files.readAllBytes(f.toPath), UTF_8)
    val all = files(main).filter(_.getName.endsWith(".scala"))
    val scoped = Seq("table", "streaming", "pipeline")
      .flatMap(d => files(new java.io.File(main, d)))
      .filter(f => f.getName.endsWith(".scala") && f.getName != "SideFiles.scala")
    val banned = """fromInputStream|createNewFile|\b\w*[fF]s\.create\(""".r
    val hits = scoped.flatMap { f =>
      text(f).split('\n').toSeq.filter(l => banned.findFirstIn(l).isDefined)
        .map(l => s"${f.getName}: ${l.trim}")
    }
    assert(hits.isEmpty, hits.mkString("\n"))
    def count(needle: String) =
      all.map(f => text(f).split(java.util.regex.Pattern.quote(needle), -1)
        .length - 1).sum
    assert(count("createNewFile") == 1)
    assert(count("__graft_commits") == 1)
  }
}

object SideFilesSpec {
  private final case class Crash() extends RuntimeException("crash")
}
