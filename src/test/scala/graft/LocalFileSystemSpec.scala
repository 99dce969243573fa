package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, ChecksumFs, CreateFlag, FSDataInputStream,
  FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem, NioRawLocalFs}

/** The fork-free local filesystem ([[graft.io.NioRawLocalFileSystem]] and its
  * FileSystem / FileContext wrappers) against Hadoop's stock local
  * filesystem: the session resolves `file:` to it, and modes, link status
  * and `.crc` checksums are the stock ones. */
class LocalFileSystemSpec extends SparkSpec {

  private val root = URI.create("file:///")

  private def tmpDir(name: String): java.nio.file.Path =
    Files.createTempDirectory(s"graft_fs_$name")

  private def raw(fs: RawLocalFileSystem, umask: String = "022"): RawLocalFileSystem = {
    val conf = new Configuration()
    conf.set(FsPermission.UMASK_LABEL, umask)
    fs.initialize(root, conf)
    fs
  }

  private def oct(digits: String): Int = Integer.parseInt(digits, 8)
  private def perm(digits: String) = new FsPermission(oct(digits).toShort)

  /** Full mode bits (permissions, setuid/setgid, sticky) of a local path. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def write(out: org.apache.hadoop.fs.FSDataOutputStream, text: String): Unit =
    try out.write(text.getBytes("UTF-8")) finally out.close()

  private def readAll(in: FSDataInputStream): String =
    try new String(in.readAllBytes(), "UTF-8") finally in.close()

  test("the session resolves file: to the fork-free FileSystem and FileContext classes") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path("file:///tmp").getFileSystem(conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
    val afs = FileContext.getFileContext(conf).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
    assert(afs.asInstanceOf[ChecksumFs].getRawFs.isInstanceOf[NioRawLocalFs])
  }

  test("files and dirs get the stock RawLocalFileSystem's POSIX modes under the same umask") {
    val dir = tmpDir("modes")
    for (umask <- Seq("022", "077", "002", "000")) {
      val stock = raw(new RawLocalFileSystem, umask)
      val nio = raw(new NioRawLocalFileSystem, umask)
      for (digits <- Seq("755", "644", "700", "777", "604")) {
        val fp = perm(digits)
        def paths(kind: String) = Seq("stock", "nio").map(s => dir.resolve(s"$kind-$umask-$digits-$s"))
        val Seq(sf, nf) = paths("file")
        write(stock.create(new Path(sf.toString), fp, false, 4096, 1.toShort, 1L << 20, null), "x")
        write(nio.create(new Path(nf.toString), fp, false, 4096, 1.toShort, 1L << 20, null), "x")
        assert(mode(nf) == mode(sf), s"file mode, umask $umask perm $digits")
        val Seq(sd, nd) = paths("dir")
        assert(stock.mkdirs(new Path(sd.toString), fp) && nio.mkdirs(new Path(nd.toString), fp))
        assert(mode(nd) == mode(sd), s"dir mode, umask $umask perm $digits")
        // explicit setPermission is absolute (no umask), sticky bit included
        for (explicit <- Seq(digits, "1" + digits /*sticky*/)) {
          stock.setPermission(new Path(sd.toString), perm(explicit))
          nio.setPermission(new Path(nd.toString), perm(explicit))
          assert(mode(nd) == mode(sd) && mode(nd) == oct(explicit),
            s"setPermission $explicit: ${mode(nd).toOctalString}")
        }
      }
    }
    // a 4-digit chmod keeps a directory's setgid bit: that case stays on
    // Hadoop's own path
    val stock = raw(new RawLocalFileSystem)
    val nio = raw(new NioRawLocalFileSystem)
    for (tag <- Seq("stock", "nio")) {
      Files.createDirectory(dir.resolve(s"setgid-$tag"))
      Files.setAttribute(dir.resolve(s"setgid-$tag"), "unix:mode", oct("2750"))
    }
    stock.setPermission(new Path(dir.resolve("setgid-stock").toString), perm("755"))
    nio.setPermission(new Path(dir.resolve("setgid-nio").toString), perm("755"))
    assert(mode(dir.resolve("setgid-nio")) == mode(dir.resolve("setgid-stock")),
      mode(dir.resolve("setgid-nio")).toOctalString)
    // the FileContext path: ChecksumFs over the raw context filesystem
    val conf = new Configuration()
    val stockFc = FileContext.getFileContext(conf)
    val nioFc = FileContext.getFileContext(new NioLocalFs(root, conf), conf)
    for ((fc, tag) <- Seq(stockFc -> "stock", nioFc -> "nio")) {
      write(fc.create(new Path(dir.resolve(s"fc-$tag").toString),
        java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.perms(perm("744"))), "y")
      fc.mkdir(new Path(dir.resolve(s"fcdir-$tag").toString), perm("750"), true)
    }
    assert(mode(dir.resolve("fc-nio")) == mode(dir.resolve("fc-stock")))
    assert(mode(dir.resolve(".fc-nio.crc")) == mode(dir.resolve(".fc-stock.crc")))
    assert(mode(dir.resolve("fcdir-nio")) == mode(dir.resolve("fcdir-stock")))
    intercept[FileNotFoundException] {
      nio.setPermission(new Path(dir.resolve("missing").toString), perm("644"))
    }
  }

  test("getFileLinkStatus matches the stock one on a file, a dir, a symlink and a missing path") {
    val dir = tmpDir("links")
    val file = Files.write(dir.resolve("f"), "abc".getBytes("UTF-8"))
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dl"), dir.resolve("gone"))
    val stock = raw(new RawLocalFileSystem)
    val nio = raw(new NioRawLocalFileSystem)
    def view(st: FileStatus) = (st.getPath, st.isFile, st.isDirectory, st.isSymlink,
      st.getLen, st.getModificationTime, if (st.isSymlink) st.getSymlink else null)
    // the status, or the exception class (a `file:` URI of a dangling link
    // is a missing path to the stock code: its readlink gets the URI text)
    def outcome(fs: RawLocalFileSystem, p: Path) =
      scala.util.Try(view(fs.getFileLinkStatus(p))).toEither.left.map(_.getClass)
    for (p <- Seq(file, sub, link, dangling); path <- Seq(p.toString, p.toUri.toString)) {
      val hp = new Path(path)
      assert(outcome(nio, hp) == outcome(stock, hp), path)
    }
    assert(nio.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    val missing = new Path(dir.resolve("missing").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
    // the FileContext side, through the checksum wrapper
    val fc = FileContext.getFileContext(new NioLocalFs(root, new Configuration()), new Configuration())
    val stockFc = FileContext.getFileContext(new Configuration())
    for (p <- Seq(file, sub, link)) {
      val hp = new Path(p.toString)
      assert(view(fc.getFileLinkStatus(hp)) == view(stockFc.getFileLinkStatus(hp)), p)
    }
    intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
  }

  test(".crc side files are still written, renamed and checked") {
    val dir = tmpDir("crc")
    val conf = new Configuration()
    // a corrupt read must fail without LocalFileSystem's quarantine move
    // into a `bad_files` dir at the top of the device
    val fs = new NioLocalFileSystem {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
                                         sums: FSDataInputStream, sumsPos: Long): Boolean = false
    }
    fs.initialize(root, conf)
    val text = "checksummed " * 100
    def corrupt(p: java.nio.file.Path): Unit = {
      val bytes = Files.readAllBytes(p); bytes(10) = (bytes(10) ^ 1).toByte
      Files.write(p, bytes): Unit
    }

    val a = new Path(dir.resolve("a").toString)
    write(fs.create(a), text)
    assert(Files.exists(dir.resolve(".a.crc")))
    assert(readAll(fs.open(a)) == text)
    corrupt(dir.resolve("a"))
    intercept[ChecksumException](readAll(fs.open(a)))

    val fc = FileContext.getFileContext(new NioLocalFs(root, conf), conf)
    val b = new Path(dir.resolve("b").toString)
    val c = new Path(dir.resolve("c").toString)
    write(fc.create(b, java.util.EnumSet.of(CreateFlag.CREATE)), text)
    assert(Files.exists(dir.resolve(".b.crc")))
    fc.rename(b, c)
    assert(!Files.exists(dir.resolve(".b.crc")) && Files.exists(dir.resolve(".c.crc")))
    assert(readAll(fc.open(c)) == text)
    // the renamed .crc still guards the data: a corrupt byte fails the
    // checked read (FileContext's own open reads a corrupt file back as
    // Hadoop's stock LocalFs does — the two must agree)
    corrupt(dir.resolve("c"))
    intercept[ChecksumException](readAll(fs.open(c)))
    def outcome(fc: FileContext) = scala.util.Try(readAll(fc.open(c))).toEither.left.map(_.getClass)
    assert(outcome(fc) == outcome(FileContext.getFileContext(conf)))
    // overwrite-rename onto an existing file, as checkpoint commits do
    write(fc.create(b, java.util.EnumSet.of(CreateFlag.CREATE)), "fresh")
    fc.rename(b, c, Options.Rename.OVERWRITE)
    assert(readAll(fc.open(c)) == "fresh")
  }
}
