package graft.io

import java.io.{File, IOException}
import java.nio.file.{FileVisitResult, Files, LinkOption, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

/** Recursive delete of a local file or directory tree. */
object LocalFiles {

  /** Delete `f` and everything under it, walking with `java.nio.file.Files`.
    * A symbolic link is removed as a link: the walk never follows one, so
    * the tree a link points at survives. Best effort — an entry that cannot
    * be removed is left in place; a missing path is a no-op. */
  def delete(f: File): Unit = {
    val root = f.toPath
    if (Files.exists(root, LinkOption.NOFOLLOW_LINKS)) {
      val _ = Files.walkFileTree(root, new SimpleFileVisitor[Path] {
        private def remove(p: Path): FileVisitResult = {
          try Files.deleteIfExists(p) catch { case _: IOException => false }
          FileVisitResult.CONTINUE
        }
        override def visitFile(p: Path, a: BasicFileAttributes): FileVisitResult = remove(p)
        override def visitFileFailed(p: Path, e: IOException): FileVisitResult = remove(p)
        override def postVisitDirectory(d: Path, e: IOException): FileVisitResult = remove(d)
      })
    }
  }

  def delete(path: String): Unit = delete(new File(path))
}
