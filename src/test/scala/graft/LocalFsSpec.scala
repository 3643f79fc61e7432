package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext,
  FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.fs.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** `graft.fs` against stock Hadoop: the same permissions, link statuses
  * and renames, and `file:` bound to it by `core-site.xml` alone. */
class LocalFsSpec extends AnyFunSuite {

  private def init[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val nio = init(new NioRawLocalFileSystem)

  private def mode(p: JPath): String =
    java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(p))

  private def hpath(p: JPath) = new Path(p.toString)

  test("setPermission sets what Hadoop's chmod sets, on files and directories") {
    val dir = Files.createTempDirectory("graft-perm")
    for (octal <- Seq("644", "700", "755")) {
      val perm = new FsPermission(octal)
      val results = Seq("stock" -> stock, "nio" -> nio).map { case (name, fs) =>
        val file = dir.resolve(s"$name-$octal")
        Files.write(file, Array[Byte](1))
        fs.setPermission(hpath(file), perm)
        val sub = dir.resolve(s"$name-$octal-dir")
        assert(fs.mkdirs(hpath(sub), perm))
        (mode(file), mode(sub))
      }
      assert(results.distinct.size == 1, results)
      assert(results.head._1 == perm.toString, octal)
    }
    intercept[FileNotFoundException](nio.setPermission(
      hpath(dir.resolve("missing")), new FsPermission("644")))
  }

  test("a sticky bit falls back to Hadoop's own chmod") {
    val sticky = new FsPermission("1777")
    val dirs = Seq(stock, nio).map { fs =>
      val d = Files.createTempDirectory("graft-sticky")
      fs.setPermission(hpath(d), sticky)
      d
    }
    val perms = dirs.map(d => nio.getFileStatus(hpath(d)).getPermission)
    assert(perms.forall(p => p.getStickyBit && p == sticky), perms)
  }

  /** Every field a caller of `getFileLinkStatus` reads, or the thrown
    * exception's class. */
  private def linkStatus(fs: FileSystem, p: Path): Try[Seq[Any]] =
    Try(fs.getFileLinkStatus(p)).map { s: FileStatus =>
      Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else None, s.getLen,
        s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    }.recover { case e => Seq(e.getClass) }

  test("getFileLinkStatus matches Hadoop's for files, directories and links") {
    val dir = Files.createTempDirectory("graft-link")
    val file = Files.write(dir.resolve("f"), "abc".getBytes(StandardCharsets.UTF_8))
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("x"), dir.resolve("gone"))
    val cases = Seq(file, sub, link, dangling, dir.resolve("missing"))
      .flatMap(p => Seq(hpath(p), new Path(p.toUri.toString)))
    cases.foreach(p => assert(linkStatus(nio, p) == linkStatus(stock, p), p))
    // the cases are not vacuous: both kinds of link read as links...
    assert(nio.getFileLinkStatus(hpath(link)).getSymlink.toUri.getPath ==
      file.toString)
    assert(nio.getFileLinkStatus(hpath(dangling)).isSymlink)
    // ...a qualified path reads as the link's target, as in Hadoop...
    assert(nio.getFileLinkStatus(new Path(link.toUri.toString)).isFile)
    // ...and a missing path throws
    assert(linkStatus(nio, hpath(dir.resolve("missing"))) ==
      Try(Seq(classOf[FileNotFoundException])))
  }

  /** Rename `src` onto an existing `dst` with OVERWRITE through a
    * FileContext on `conf`; the directory's listing afterwards. */
  private def renameOverwrite(conf: Configuration): Set[String] = {
    val dir = Files.createTempDirectory("graft-rename")
    val fc = FileContext.getFileContext(conf)
    def write(name: String, body: String) = {
      val out = fc.create(hpath(dir.resolve(name)), EnumSet.of(CreateFlag.CREATE))
      try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    }
    write("src", "new")
    write("dst", "old")
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](
      fc.rename(hpath(dir.resolve("src")), hpath(dir.resolve("dst"))))
    fc.rename(hpath(dir.resolve("src")), hpath(dir.resolve("dst")),
      Options.Rename.OVERWRITE)
    assert(new String(Files.readAllBytes(dir.resolve("dst")),
      StandardCharsets.UTF_8) == "new")
    val st = Files.list(dir)
    try st.iterator.asScala.map(_.getFileName.toString).toSet finally st.close()
  }

  test("FileContext rename with OVERWRITE matches Hadoop's LocalFs") {
    val stockConf = new Configuration()
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val listing = renameOverwrite(new Configuration())
    assert(listing == renameOverwrite(stockConf))
    // the checksum file moved with its data file
    assert(listing == Set("dst", ".dst.crc"), listing)
  }

  test("a fresh Configuration binds file: to graft.fs, checksums kept") {
    val conf = new Configuration()
    val local = FileSystem.get(URI.create("file:///"), conf)
    assert(local.getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRawFileSystem.getClass ==
      classOf[NioRawLocalFileSystem])
    val afs = AbstractFileSystem.get(URI.create("file:///"), conf)
    assert(afs.getClass == classOf[NioLocalFs])
    val dir = Files.createTempDirectory("graft-crc")
    local.create(hpath(dir.resolve("a"))).close()
    assert(Files.exists(dir.resolve(".a.crc")))
  }
}
