package graft.ops

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{FileTime, PosixFileAttributes, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver,
  FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with its stat and permission calls
  * made through `java.nio` instead of a forked process.
  *
  * Without the native `libhadoop`, the stock [[RawLocalFileSystem]]
  * runs a shell command per permission call and per link-status call:
  * `chmod` on every file create (data file and `.crc` sidecar alike)
  * and every mkdir, `ls -ld` the first time a status's permission,
  * owner or group is read (each `LocatedFileStatus` of a `listFiles`
  * walk), and `readlink` in every `getFileLinkStatus`, which
  * `FileContext.rename` calls twice — the streaming checkpoint's offset
  * and commit logs publish that way. Each fork costs milliseconds.
  *
  * This class answers those calls with one `stat`, `lstat` or `chmod`
  * syscall and returns plain [[FileStatus]]es with permission, owner
  * and group filled in, the same fields the stock class reports (the
  * full mode, sticky bit included, and a symlink's target's attributes,
  * as `ls -ld` of the canonical path gives them). Create, open, rename
  * and delete stay Hadoop's own code, so atomic publish, the commit
  * protocol and checksums are unchanged. A sticky-bit `setPermission`,
  * which no engine path makes, still takes the stock call: `java.nio`
  * cannot set that bit.
  *
  * Registered by [[graft.Engine.builder]] through two wrappers:
  * [[NioLocalFileSystem]] (`fs.file.impl`) and [[NioLocalFs]]
  * (`fs.AbstractFileSystem.file.impl`). Hadoop caches `FileSystem`s by
  * scheme, authority and user, not by configuration, so a
  * `FileSystem.get` of `file://` made before the engine session exists
  * pins the stock class for the rest of the JVM.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def getFileStatus(f: Path): FileStatus = status(f, attributes(f))

  /** A non-link's own status. A link reports its target's status as a
    * non-directory carrying the link target, and a dangling link a zero
    * status, as the stock call does. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val own = attributes(f, LinkOption.NOFOLLOW_LINKS)
    if (!own.get("isSymbolicLink").asInstanceOf[Boolean])
      return status(f, own, LinkOption.NOFOLLOW_LINKS)
    val target = new Path(Files.readSymbolicLink(pathToFile(f).toPath).toString)
    val st =
      try {
        val t = getFileStatus(f)
        new FileStatus(t.getLen, false, t.getReplication, t.getBlockSize,
          t.getModificationTime, t.getAccessTime, t.getPermission, t.getOwner, t.getGroup,
          target, f)
      } catch {
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, f, target))
    st
  }

  /** A directory lists through the stock call, which stats each child
    * with [[getFileStatus]]; a file lists as its own status. */
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isDirectory) super.listStatus(f)
    else Array(getFileStatus(f))

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL))

  /** One `stat` (`lstat` under NOFOLLOW_LINKS) of `f`. */
  private def attributes(f: Path, opts: LinkOption*): java.util.Map[String, AnyRef] =
    try Files.readAttributes(pathToFile(f).toPath, Attributes, opts: _*)
    catch {
      case _: NoSuchFileException => throw new FileNotFoundException(s"File $f does not exist")
    }

  /** The stock status's fields, path qualified the same way. */
  private def status(f: Path, a: java.util.Map[String, AnyRef], opts: LinkOption*): FileStatus = {
    val file = pathToFile(f)
    // owner and group names come from the uid and gid: the user database
    // is read once per id, not per status (the lookup is most of a stat)
    val owner = Owners.computeIfAbsent(a.get("uid").asInstanceOf[Int],
      _ => Files.getOwner(file.toPath, opts: _*).getName)
    val group = Groups.computeIfAbsent(a.get("gid").asInstanceOf[Int],
      _ => Files.readAttributes(file.toPath, classOf[PosixFileAttributes], opts: _*).group.getName)
    new FileStatus(a.get("size").asInstanceOf[Long], a.get("isDirectory").asInstanceOf[Boolean],
      1, getDefaultBlockSize(f), time(a, "lastModifiedTime"), time(a, "lastAccessTime"),
      permission(a), owner, group,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }
}

private object NioRawLocalFileSystem {
  private val Attributes =
    "unix:size,isDirectory,isSymbolicLink,lastModifiedTime,lastAccessTime,mode,uid,gid"

  private val Owners = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val Groups = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  /** Permission bits and the sticky bit (mode & 01777). */
  private def permission(a: java.util.Map[String, AnyRef]): FsPermission =
    new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort)

  private def time(a: java.util.Map[String, AnyRef], k: String): Long =
    a.get(k).asInstanceOf[FileTime].toMillis
}

/** [[NioRawLocalFileSystem]] as the `FileSystem` for `file://`. It stays
  * a [[LocalFileSystem]], a `ChecksumFileSystem`: `.crc` sidecars are
  * written and verified as before, and `FileSystem.getLocal`'s cast of
  * the local filesystem to `LocalFileSystem` holds. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** [[NioRawLocalFileSystem]] as the `FileContext` filesystem for
  * `file://`: a `ChecksumFs` over it, as Hadoop's own `LocalFs` is one
  * over the stock class. Structured Streaming's checkpoint manager reads
  * and writes through this. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** The `RawLocalFs` of [[NioRawLocalFileSystem]] (Hadoop's `RawLocalFs`
  * cannot be subclassed outside its package; these are its overrides). */
private[ops] class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
