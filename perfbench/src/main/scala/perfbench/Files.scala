package perfbench

import java.nio.file.{Files => JFiles, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Local directory helpers for the harness's own bookkeeping (copying a
  * lake snapshot, clearing work directories). They run outside timed
  * operations and outside the traced filesystem counts.
  */
object Files {
  def copyTree(from: String, to: String): Unit = {
    val src = Path.of(from)
    val dst = Path.of(to)
    val walk = JFiles.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (JFiles.isDirectory(p)) JFiles.createDirectories(target)
      else JFiles.copy(p, target, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  def deleteTree(dir: String): Unit = {
    val root = Path.of(dir)
    if (JFiles.exists(root)) {
      val walk = JFiles.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(JFiles.delete)
      finally walk.close()
    }
  }
}
