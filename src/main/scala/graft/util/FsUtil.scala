package graft.util

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Small filesystem helpers shared across the store and streaming stagers. */
object FsUtil {

  /** `Files.list` with a guaranteed stream close (the DirectoryStream must be
    * closed or it leaks a file descriptor per call).
    */
  def listDir[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(dir)
    try f(s.iterator.asScala) finally s.close()
  }

  /** Total regular-file bytes under a path (0 for missing paths) — the
    * disk-shrink assertion primitive for compaction/re-base gates.
    */
  def sizeOf(p: Path): Long =
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      listDir(p)(_.map(sizeOf).sum)
    else if (Files.isRegularFile(p)) Files.size(p)
    else 0L

  /** Recursive copy of a file or directory tree to a path that must not exist. */
  def copyRecursively(src: Path, dst: Path): Unit = {
    Files.copy(src, dst)
    if (Files.isDirectory(src, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      listDir(src)(_.toSeq).foreach(p => copyRecursively(p, dst.resolve(p.getFileName.toString)))
  }

  /** Depth-first recursive delete; missing paths are a no-op. */
  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      listDir(p)(_.toSeq).foreach(deleteRecursively)
    Files.deleteIfExists(p)
    ()
  }
}
