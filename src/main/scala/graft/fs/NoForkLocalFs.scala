package graft.fs

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without the two process forks it makes
  * per file when libhadoop is absent: `chmod` for every file or
  * directory it creates (`setPermission`), and `readlink` for every
  * path whose link status it reads (`getFileLinkStatus`, which
  * `FileContext.rename` calls on both ends of every checkpoint rename,
  * and `getLinkTarget`, which `FileContext` adds for a symlink). All
  * three are done in-process through `java.nio.file`; everything else
  * is Hadoop's own `RawLocalFileSystem`.
  *
  * `src/main/resources/core-site.xml` serves the `file:` scheme through
  * these classes (`fs.file.impl` → [[NoForkLocalFileSystem]] for the
  * FileSystem API, `fs.AbstractFileSystem.file.impl` → [[NoForkLocalFs]]
  * for the FileContext API that Spark's checkpoint manager uses). Hadoop
  * loads that file into every `Configuration` of a JVM that runs the
  * engine from its build's classes directory (specs, `runMain`, the
  * benchmark), which is what makes it stick: the FileSystem cache is
  * keyed by scheme, so the first conf to create the `file:` FS decides
  * for the whole JVM. The packaged jar leaves the file out (see
  * `build.sbt`); a deployment sets the two keys in its own site file.
  * Both checksum layers stay: the FileSystem and FileContext wrappers
  * still write `.crc` files. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  /** The stock method's `chmod %04o` as one `chmod` syscall through
    * NIO's `unix:mode`: the permission's rwx and sticky bits. A
    * directory keeps its setuid/setgid bits (octal 06000), as a
    * four-digit octal `chmod` keeps them; a file loses them (0170000
    * masks the file type, 0040000 is a directory). */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
    val keep = if ((mode & 0xF000) == 0x4000) mode & 0xC00 else 0
    Files.setAttribute(file, "unix:mode", Integer.valueOf(keep | (permission.toShort & 0x3FF)))
  }

  /** Hadoop's public wrapper over [[linkStatus]]: the link target
    * qualified against this file system. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  /** The unqualified link target, as the stock method returns it; a
    * path that is no link fails there and here (`FileStatus.getSymlink`
    * throws an IOException). */
  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Hadoop's `deprecatedGetFileLinkStatusInternal` (the path taken
    * unless `RawLocalFileSystem.useStatIfAvailable` was called), with
    * the link read through NIO instead of `FileUtil.readLink`'s
    * `readlink` fork. Like the original it reads the link of
    * `new File(f.toString)`, so a scheme-qualified path is never seen as
    * a link. */
  private def linkStatus(f: Path): FileStatus = {
    val target = readLink(new File(f.toString))
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner, fs.getGroup,
        new Path(target), f)
    } catch {
      // A dangling link: the link exists, what it names does not.
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
    }
  }

  /** `FileUtil.readLink` without the fork: the link's target as stored,
    * or "" when `f` is no symbolic link or cannot be read. */
  private def readLink(f: File): String =
    try {
      val p = f.toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString.trim else ""
    } catch {
      case _: IOException | _: InvalidPathException => ""
    }
}

/** `LocalFileSystem` (the checksummed FileSystem API: `.crc` files) over
  * [[NoForkRawLocalFileSystem]]; `FileSystem.getLocal` still returns a
  * `LocalFileSystem`. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** Hadoop's `org.apache.hadoop.fs.local.RawLocalFs` over
  * [[NoForkRawLocalFileSystem]] (its constructors are package-private,
  * so it cannot be subclassed). */
class NoForkRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // Local file systems differ in what names they accept; the OS decides.
  override def isValidName(src: String): Boolean = true
}

/** The FileContext API's `file:` file system, as Hadoop's
  * `org.apache.hadoop.fs.local.LocalFs`: checksums (`ChecksumFs`) over
  * [[NoForkRawLocalFs]]. Hadoop calls the `(URI, Configuration)`
  * constructor; like `LocalFs` it ignores the URI and serves
  * `file:///`. */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
