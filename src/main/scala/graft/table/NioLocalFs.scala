package graft.table

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{FileTime, PosixFileAttributes, PosixFilePermission}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` that starts no process. Without `libhadoop`, Hadoop
  * runs `chmod` for every permission change (each created file and
  * directory), `readlink` for every link-status lookup (each `FileContext`
  * rename: the checkpoint and state-store logs) and `ls -ld` when a status's
  * permission is read. These are the same calls through `java.nio`; a
  * missing path is a [[FileNotFoundException]], which `exists` checks and
  * `FileContext.rename`'s no-overwrite check rely on. `setPermission` does not
  * set the sticky bit. Bound to `file:` by `core-site.xml`. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit = {
    val mode = perm.toShort
    // enum order OWNER_READ … OTHERS_EXECUTE is bit 0400 … 0001
    val bits = PosixFilePermission.values.filter(b => (mode & (0x100 >> b.ordinal)) != 0)
    nio(p)(Files.setPosixFilePermissions(pathToFile(p).toPath, bits.toSet.asJava))
  }

  override def getFileStatus(p: Path): FileStatus = status(p)

  override def getFileLinkStatus(p: Path): FileStatus = {
    val st = status(p, LinkOption.NOFOLLOW_LINKS)
    if (st.isSymlink) st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  override def getLinkTarget(p: Path): Path = status(p, LinkOption.NOFOLLOW_LINKS).getSymlink

  private def status(p: Path, opts: LinkOption*): FileStatus = nio(p) {
    val f = pathToFile(p).toPath
    val a = Files.readAttributes(f, "unix:mode,uid,gid,size,lastModifiedTime,lastAccessTime," +
      "isDirectory,isSymbolicLink", opts: _*)
    def attr[T](k: String): T = a.get(k).asInstanceOf[T]
    val link = if (attr[Boolean]("isSymbolicLink")) new Path(Files.readSymbolicLink(f).toString) else null
    // names by id, looked up once: a getpwuid/getgrgid per status costs more than the stat
    val owner = NioRawLocalFileSystem.users.getOrElseUpdate(attr[Int]("uid"),
      Files.getOwner(f, opts: _*).getName)
    val group = NioRawLocalFileSystem.groups.getOrElseUpdate(attr[Int]("gid"),
      Files.readAttributes(f, classOf[PosixFileAttributes], opts: _*).group.getName)
    new FileStatus(attr[Long]("size"), attr[Boolean]("isDirectory"), 1, getDefaultBlockSize(p),
      attr[FileTime]("lastModifiedTime").toMillis, attr[FileTime]("lastAccessTime").toMillis,
      new FsPermission((attr[Int]("mode") & 0x3ff).toShort), owner, group, link,
      new Path(f.toString).makeQualified(getUri, getWorkingDirectory))
  }

  private def nio[T](p: Path)(body: => T): T =
    try body catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist") }
}

object NioRawLocalFileSystem {
  private val users, groups = scala.collection.concurrent.TrieMap.empty[Int, String]
}

/** The `fs.file.impl` binding: Hadoop's checksummed local filesystem over
  * [[NioRawLocalFileSystem]], so files, `.crc` sidecars and permission bits
  * are what `LocalFileSystem` writes. Extends it because
  * `FileSystem.getLocal` casts to it. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `fs.AbstractFileSystem.file.impl` binding (`FileContext`, used by
  * Spark's checkpoint and state-store logs): Hadoop's `LocalFs` over
  * [[NioRawLocalFileSystem]], with the overrides of Hadoop's `RawLocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(uri, conf))

object NioLocalFs {
  final class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    @deprecated("AbstractFileSystem's path-less form", "")
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
