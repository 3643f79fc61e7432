package graft.fs

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver,
  FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with its two per-call child processes
  * done in-process. Without libhadoop, `RawLocalFileSystem` runs `chmod`
  * for every file and directory it creates and `readlink` for every
  * `getFileLinkStatus`, which `FileContext.rename` calls on both ends:
  * about 140 forks per CDC trigger (checkpoint WAL, offset commit, state
  * checkpoint, every parquet write). Here both are java.nio calls on the
  * same file; everything else, and so every result, is Hadoop's. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` as `Files.setPosixFilePermissions`. A sticky bit, which
    * java.nio cannot set, or a store without POSIX permissions goes
    * through Hadoop's own path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      NioRawLocalFileSystem.posix(permission))
    catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
      case e: NoSuchFileException => throw new FileNotFoundException(e.getFile)
    }

  /** Hadoop 3.4.2's `getFileLinkStatus` over its
    * `deprecatedGetFileLinkStatusInternal` (the path it takes unless
    * `useStatIfAvailable` was called), line for line, except that the link
    * is read with `Files.readSymbolicLink` instead of `readlink`. Like
    * Hadoop's, the link is read from `new File(f.toString)`, so a
    * scheme-qualified path reads as no link. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  private def linkStatus(f: Path): FileStatus = {
    val target = NioRawLocalFileSystem.readLink(new File(f.toString))
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
        fs.getGroup, new Path(target), f)
    } catch {
      // a dangling link: File.exists is false for it
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }
}

object NioRawLocalFileSystem {

  /** `PosixFilePermission.values` runs owner r/w/x, group r/w/x, others
    * r/w/x: bits 8 down to 0 of the mode. */
  private def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort
    PosixFilePermission.values.zipWithIndex
      .collect { case (p, i) if (mode & (1 << (8 - i))) != 0 => p }
      .toSet.asJava
  }

  /** `FileUtil.readLink`: the link's target, or "" when `f` is not a link
    * or cannot be read. */
  private def readLink(f: File): String =
    try Files.readSymbolicLink(f.toPath).toString
    catch {
      case _: IOException | _: UnsupportedOperationException |
          _: java.nio.file.InvalidPathException => ""
    }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (what `FileContext` and Spark's
  * checkpoint manager use): Hadoop's `LocalFs`, a `ChecksumFs` over
  * [[NioRawLocalFs]]. The URI argument is ignored, as `LocalFs` does. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]], with its four
  * overrides, and a rename that replaces a file in one step. */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true

  /** A rename of a file over a file with OVERWRITE is one `rename(2)`, as
    * HDFS's is one namenode operation. Hadoop's own deletes the target and
    * then renames, so a reader in between finds no file: a pointer swapped
    * through `CheckpointFileManager.createAtomic` would briefly vanish.
    * Every other case is Hadoop's. */
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    val raw = fsImpl.asInstanceOf[RawLocalFileSystem]
    val (from, to) = (raw.pathToFile(src).toPath, raw.pathToFile(dst).toPath)
    if (overwrite && from != to && Files.isRegularFile(from, LinkOption.NOFOLLOW_LINKS) &&
        Files.isRegularFile(to, LinkOption.NOFOLLOW_LINKS))
      Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
    else super.renameInternal(src, dst, overwrite)
    ()
  }
}
