package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem, FSDataInputStream, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem, LocalFs}

/** The fork-free local file system answers exactly as stock Hadoop
  * does: the same POSIX mode bits after every way a file or directory
  * gets its mode, the same link status, and checksums still verified.
  * Each case runs once on the stock classes and once on graft's, each
  * in its own root, and compares the results path by path.
  */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession
    .builder(master = "local[2]", shufflePartitions = 2)
    .getOrCreate()

  private val Root = URI.create("file:///")

  private def stockConf: Configuration = new Configuration()

  private def graftConf: Configuration = {
    val conf = new Configuration()
    LocalFs.sparkConf.foreach { case (k, v) => conf.set(k.stripPrefix("spark.hadoop."), v) }
    conf
  }

  private def initialized[F <: FileSystem](fs: F): F = { fs.initialize(Root, stockConf); fs }

  private def perm(octal: String): FsPermission = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def withRoots(body: (JPath, JPath) => Unit): Unit = {
    val base = Files.createTempDirectory("graft-localfs-spec")
    try body(Files.createDirectory(base.resolve("stock")), Files.createDirectory(base.resolve("graft")))
    finally Option(base.toFile).foreach(org.apache.commons.io.FileUtils.deleteDirectory)
  }

  /** Every path under each root, relative, with its mode bits. */
  private def modes(root: JPath): Map[String, Int] = {
    val walk = Files.walk(root)
    try walk.toArray.map(_.asInstanceOf[JPath]).map(p => root.relativize(p).toString -> mode(p)).toMap
    finally walk.close()
  }

  /** Runs `op` under a stock root and under a graft root and asserts
    * that both trees hold the same paths with the same mode bits.
    */
  private def sameModes(op: (JPath, Boolean) => Unit): Unit = withRoots { (stock, graft) =>
    op(stock, false)
    op(graft, true)
    val (s, g) = (modes(stock), modes(graft))
    assert(s.size > 1, s"the operation created nothing: $s")
    assert(g == s, f"graft modes ${g.view.mapValues(_.toOctalString).toMap} != stock ${s.view.mapValues(_.toOctalString).toMap}")
  }

  private def fileSystem(graft: Boolean): FileSystem =
    initialized(if (graft) new ForkFreeLocalFileSystem else new LocalFileSystem)

  private def rawFileSystem(graft: Boolean): RawLocalFileSystem =
    initialized(if (graft) new ForkFreeRawLocalFileSystem else new RawLocalFileSystem)

  private def fileContext(graft: Boolean): FileContext =
    FileContext.getLocalFSFileContext(if (graft) graftConf else stockConf)

  private def hpath(p: JPath): Path = new Path(p.toUri)

  private def writeVia(fc: FileContext, p: Path, bytes: Array[Byte]): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
    try out.write(bytes) finally out.close()
  }

  private def writeVia(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val out = fs.create(p)
    try out.write(bytes) finally out.close()
  }

  test("FileSystem create and mkdirs leave the stock modes, .crc sidecars included") {
    sameModes { (root, graft) =>
      val fs = fileSystem(graft)
      writeVia(fs, hpath(root.resolve("a/b/part-0")), Array[Byte](1, 2, 3))
      assert(fs.mkdirs(hpath(root.resolve("c/d"))))
      assert(fs.mkdirs(hpath(root.resolve("e")), perm("700")))
      fs.create(hpath(root.resolve("f")), perm("600"), false, 4096, 1.toShort, 1L << 20, null).close()
    }
  }

  test("FileContext create and mkdir leave the stock modes, .crc sidecars included") {
    sameModes { (root, graft) =>
      val fc = fileContext(graft)
      writeVia(fc, hpath(root.resolve("offsets/0")), Array[Byte](1, 2, 3))
      fc.mkdir(hpath(root.resolve("state/0/1")), FsPermission.getDirDefault, true)
      fc.mkdir(hpath(root.resolve("g")), perm("750"), false)
      fc.rename(hpath(root.resolve("offsets/0")), hpath(root.resolve("offsets/1")))
    }
  }

  test("explicit setPermission(0640) leaves the stock modes") {
    sameModes { (root, graft) =>
      val fs = rawFileSystem(graft)
      Files.createDirectory(root.resolve("d"))
      Files.write(root.resolve("d/f"), Array[Byte](1))
      fs.setPermission(hpath(root.resolve("d/f")), perm("640"))
      fs.setPermission(hpath(root.resolve("d")), perm("751"))
    }
  }

  test("setuid, setgid and sticky bits fall back to the stock chmod with the same result") {
    sameModes { (root, graft) =>
      val fs = rawFileSystem(graft)
      // numeric chmod keeps a directory's setgid but clears a file's setuid
      val setgidDir = Files.createDirectory(root.resolve("setgid"))
      Files.setAttribute(setgidDir, "unix:mode", Integer.parseInt("2775", 8))
      fs.setPermission(hpath(setgidDir), perm("750"))
      val setuidFile = Files.write(root.resolve("setuid"), Array[Byte](1))
      Files.setAttribute(setuidFile, "unix:mode", Integer.parseInt("4755", 8))
      fs.setPermission(hpath(setuidFile), perm("640"))
      val sticky = Files.createDirectory(root.resolve("sticky"))
      fs.setPermission(hpath(sticky), perm("1777"))
      // a directory created inside a setgid directory inherits setgid
      fs.mkdirs(hpath(setgidDir.resolve("child")), perm("755"))
    }
  }

  private def linkAnswer(fs: FileSystem, p: Path): Either[String, (Boolean, Option[Path], Long, Boolean, FsPermission, Long)] =
    try {
      val s: FileStatus = fs.getFileLinkStatus(p)
      Right((s.isSymlink, if (s.isSymlink) Some(s.getSymlink) else None, s.getLen, s.isDirectory,
        s.getPermission, s.getModificationTime))
    } catch { case e: java.io.IOException => Left(e.getClass.getName) }

  test("getFileLinkStatus answers as stock for a file, a symlink and a missing path") {
    withRoots { (root, _) =>
      val file = Files.write(root.resolve("file"), Array.fill[Byte](10)(7))
      val link = Files.createSymbolicLink(root.resolve("link"), file)
      val missing = root.resolve("missing")
      val (stock, graft) = (rawFileSystem(false), rawFileSystem(true))
      for {
        p <- Seq(file, link, missing)
        path <- Seq(new Path(p.toString), hpath(p))
      } assert(linkAnswer(graft, path) == linkAnswer(stock, path), s"link status of $path")
      assert(linkAnswer(graft, new Path(link.toString)).exists(_._1), "a bare symlink path reads as a link")
      assert(linkAnswer(graft, new Path(missing.toString)) == Left(classOf[java.io.FileNotFoundException].getName))
      // FileContext, which qualifies every path, answers as stock too
      val (stockFc, graftFc) = (fileContext(false), fileContext(true))
      Seq(file, link).map(hpath).foreach { p =>
        val (s, g) = (stockFc.getFileLinkStatus(p), graftFc.getFileLinkStatus(p))
        assert((g.isSymlink, g.getLen, g.getPermission) == ((s.isSymlink, s.getLen, s.getPermission)), s"$p")
      }
    }
  }

  test("the session resolves file: to the fork-free classes for both Hadoop APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(Root, conf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    val afs = FileContext.getFileContext(Root, conf).getDefaultFileSystem
    assert(afs.isInstanceOf[ForkFreeLocalFs], afs.getClass.getName)
  }

  /** Writes 2 KiB, flips one byte in the middle of the data file and
    * reads it back through `open`.
    */
  private def readAfterFlip(root: JPath, write: (Path, Array[Byte]) => Unit, open: Path => FSDataInputStream): Unit = {
    val file = root.resolve("data")
    write(hpath(file), Array.tabulate[Byte](2048)(_.toByte))
    assert(Files.exists(root.resolve(".data.crc")), "no checksum sidecar written")
    val bytes = Files.readAllBytes(file)
    bytes(1000) = (bytes(1000) ^ 1).toByte
    Files.write(file, bytes)
    val in = open(hpath(file))
    try in.readFully(new Array[Byte](2048)) finally in.close()
  }

  test("a flipped byte still fails the checksum on read through both APIs") {
    withRoots { (root, _) =>
      // LocalFileSystem moves a corrupt file to a `bad_files` directory
      // at the top of its device; this spec only checks detection
      val fs = new ForkFreeLocalFileSystem {
        override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
            sums: FSDataInputStream, sumsPos: Long): Boolean = false
      }
      fs.initialize(Root, stockConf)
      intercept[ChecksumException](readAfterFlip(root.resolve("fs"), writeVia(fs, _, _), fs.open))
      // with a buffer size: stock `FileContext.open(path)` goes past the
      // checksum layer to the raw file system (`FilterFs` forwards it),
      // which is why Spark checksums its state files itself
      val fc = fileContext(graft = true)
      intercept[ChecksumException](readAfterFlip(root.resolve("fc"), writeVia(fc, _, _), fc.open(_, 4096)))
    }
  }
}
