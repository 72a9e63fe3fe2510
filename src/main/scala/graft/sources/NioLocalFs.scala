package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, Files}
import java.nio.file.attribute.{FileTime, PosixFilePermission, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` scheme without child processes. Without libhadoop, stock
  * [[RawLocalFileSystem]] runs `chmod` for every `setPermission`,
  * `ls -ld` for every status whose permission, owner or group is read
  * (every listed file, every checkpoint-log commit) and `readlink` for
  * every link status; `create`, `mkdirs`, `rename(…, OVERWRITE)` and the
  * listings reach those through virtual dispatch, so overriding them
  * here is enough. Statuses carry the stock field values, symlinks
  * included: every field is read through the link, as `java.io.File`
  * and `ls -ld` on the canonical path do. Unlike stock, a link is seen
  * through a `file:`-qualified path too (stock runs `readlink` on
  * `new File(path.toString)`). */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  private def status(f: Path, symlink: Path, path: Path): FileStatus = {
    val a = try Files.readAttributes(pathToFile(f).toPath, "unix:mode,owner," +
      "group,size,isDirectory,lastModifiedTime,lastAccessTime")
    catch { case _: FileSystemException =>
      throw new FileNotFoundException(s"File $f does not exist") }
    def millis(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
    def name(k: String) = a.get(k).asInstanceOf[UserPrincipal].getName
    val mode = a.get("mode").asInstanceOf[Integer].intValue
    new FileStatus(a.get("size").asInstanceOf[java.lang.Long],
      symlink == null && a.get("isDirectory") == java.lang.Boolean.TRUE,
      1, getDefaultBlockSize(f), millis("lastModifiedTime"),
      millis("lastAccessTime"), new FsPermission((mode & 0x3ff).toShort), // 01777
      name("owner"), name("group"), symlink, path)
  }

  override def getFileStatus(f: Path): FileStatus = status(f, null,
    new Path(pathToFile(f).getPath).makeQualified(getUri, getWorkingDirectory))

  /** Stock's link status before the target is qualified: a dangling link
    * gets zero fields and the default permission. */
  private def linkStatus(f: Path): FileStatus = {
    val file = pathToFile(f).toPath
    if (!Files.isSymbolicLink(file)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(file).toString)
      try status(f, target, f)
      catch { case _: FileNotFoundException =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f) }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isDirectory) super.listStatus(f) else Array(getFileStatus(f))

  /** `java.nio` cannot set the sticky bit, so that mode still runs `chmod`. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.toShort // enum order is owner r/w/x, group, others
      val perms = PosixFilePermission.values.filter(b => (bits & (0x100 >> b.ordinal)) != 0)
      Files.setPosixFilePermissions(pathToFile(p).toPath, java.util.Set.of(perms: _*))
    }
}

/** `fs.file.impl`: stock checksummed local FS over [[NioRawLocalFileSystem]],
  * so `.crc` files and `FileSystem.getLocal` casts are unchanged. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` twin (the
  * streaming checkpoint logs): stock `LocalFs`, a [[ChecksumFs]] over a
  * `RawLocalFs`, rebuilt over [[NioRawLocalFileSystem]]. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
