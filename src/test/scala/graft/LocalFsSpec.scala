package graft

import graft.core.LocalFs
import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]] behaves as Hadoop's stock local filesystem, compared
  * call for call, and is what the engine's sessions resolve `file:` to. */
class LocalFsSpec extends AnyFunSuite {

  private val root = new URI("file:///")

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def init[F <: FileSystem](f: F, c: Configuration): F = {
    f.initialize(root, c); f
  }

  private def mode(f: File): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))

  private def tmp(): File = Files.createTempDirectory("graft_localfs").toFile

  test("mkdirs and create give the stock modes under the same umask, " +
      ".crc side files included") {
    Seq("022", "077", "002").foreach { umask =>
      val c = conf(umask)
      val (stock, graft) = (init(new LocalFileSystem(), c), init(new LocalFs, c))
      val modes = Seq(stock, graft).map { f =>
        val d = new Path(tmp().toURI.toString, "a/b")
        assert(f.mkdirs(d))
        val out = f.create(new Path(d, "part-0"))
        out.write(1); out.close()
        val dir = f.pathToFile(d)
        Seq(dir.getParentFile, dir, new File(dir, "part-0"),
          new File(dir, ".part-0.crc")).map(mode)
      }
      assert(modes(1) === modes(0), s"umask $umask")
    }
  }

  test("setPermission applies 0700, and 01777 through the stock call") {
    val f = init(new LocalFs, conf("022"))
    val d = tmp()
    f.setPermission(new Path(d.toURI), new FsPermission("700"))
    assert(mode(d) === "rwx------")
    f.setPermission(new Path(d.toURI), new FsPermission("1777"))
    assert(Files.getAttribute(d.toPath, "unix:mode").asInstanceOf[Int] % 4096
      === Integer.parseInt("1777", 8))
  }

  test("getFileLinkStatus matches stock for a file, a directory and a " +
      "symlink; a missing path throws FileNotFoundException") {
    val c = conf("022")
    val (stock, graft) =
      (init(new RawLocalFileSystem(), c), init(new LocalFs.Raw, c))
    val d = tmp()
    val file = new File(d, "f")
    Files.writeString(file.toPath, "abc")
    val link = new File(d, "l")
    Files.createSymbolicLink(link.toPath, file.toPath)
    // stock reads the link of the path's string form, so a file: URI
    // never reads as a link and a bare path does; both forms must agree
    for (x <- Seq(file, d, link); p <- Seq(new Path(x.toURI), new Path(x.getPath))) {
      val Seq(s, g) = Seq(stock, graft).map { f =>
        val st = f.getFileLinkStatus(p)
        (st.getPath, st.isFile, st.isDirectory, st.isSymlink, st.getLen,
          st.getModificationTime,
          if (st.isSymlink) Some(st.getSymlink) else None)
      }
      assert(g === s, p)
    }
    assert(graft.getFileLinkStatus(new Path(link.getPath)).isSymlink)
    intercept[FileNotFoundException](
      graft.getFileLinkStatus(new Path(new File(d, "missing").toURI)))
  }

  // the shape of Spark's checkpoint writes: a temp file renamed over
  // the final name, which may already exist
  test("FileContext.rename(OVERWRITE) of a checkpoint temp file") {
    val c = conf("022")
    c.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs.Context].getName)
    val fc = FileContext.getFileContext(root, c)
    assert(fc.getDefaultFileSystem.isInstanceOf[LocalFs.Context])
    val d = new Path(tmp().toURI.toString, "offsets")
    fc.mkdir(d, FsPermission.getDirDefault, true)
    def put(name: String, text: String): Path = {
      val p = new Path(d, name)
      val out = fc.create(p, java.util.EnumSet.of(
        org.apache.hadoop.fs.CreateFlag.CREATE))
      out.write(text.getBytes(UTF_8)); out.close()
      p
    }
    def read(p: Path): String = {
      val in = fc.open(p)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    val dest = new Path(d, "0")
    fc.rename(put(".0.tmp", "v1"), dest, Options.Rename.OVERWRITE)
    fc.rename(put(".0.tmp", "v2"), dest, Options.Rename.OVERWRITE)
    assert(read(dest) === "v2")
    assert(fc.util.listStatus(d).map(_.getPath.getName).toSet === Set("0"))
    assert(new File(new File(d.toUri), ".0.crc").isFile)
  }

  // Hadoop caches one file: FileSystem per JVM, so this shows the
  // session's binding took rather than a stock instance cached earlier
  test("the suite's session resolves file: to LocalFs") {
    val hc = SparkTestSession.spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(root, hc).getClass === classOf[LocalFs])
    assert(FileSystem.getLocal(hc).getRaw.getClass === classOf[LocalFs.Raw])
    assert(FileContext.getFileContext(root, hc).getDefaultFileSystem
      .getClass === classOf[LocalFs.Context])
  }
}
