package graft.io

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class LocalFilesSpec extends AnyFunSuite {

  private def write(p: Path): Path = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, "x")
  }

  test("delete removes a tree but never follows a symlink out of it") {
    val outside = Files.createTempDirectory("lf_target")
    val kept = write(outside.resolve("nested/keep.txt"))
    val keptFile = write(Files.createTempDirectory("lf_file").resolve("keep.txt"))
    val tree = Files.createTempDirectory("lf_tree")
    write(tree.resolve("a/b/c.txt"))
    Files.createSymbolicLink(tree.resolve("a/dirlink"), outside)
    Files.createSymbolicLink(tree.resolve("filelink"), keptFile)

    LocalFiles.delete(tree.toFile)

    assert(!Files.exists(tree))
    assert(Files.exists(kept) && Files.exists(keptFile),
      "a symlinked directory's or file's target must survive")
  }

  test("deleting a symlink itself keeps its target; a missing path is a no-op") {
    val outside = Files.createTempDirectory("lf_target2")
    val kept = write(outside.resolve("keep.txt"))
    val link = Files.createTempDirectory("lf_links").resolve("link")
    Files.createSymbolicLink(link, outside)

    LocalFiles.delete(link.toString)
    LocalFiles.delete(link.toString)

    assert(!Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
    assert(Files.exists(kept))
  }
}
