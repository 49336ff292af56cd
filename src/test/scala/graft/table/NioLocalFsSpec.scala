package graft.table

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileSystem,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The `file:` binding of `core-site.xml` ([[NioLocalFileSystem]],
  * [[NioLocalFs]]): the semantics Spark's checkpoint log and the table's
  * writes rely on, and the same bytes, `.crc` sidecars and permission bits
  * on disk as Hadoop's own local filesystem. */
class NioLocalFsSpec extends AnyFunSuite {
  private val conf = new Configuration()
  private def dir(name: String): JPath = Files.createTempDirectory(name)
  private def hp(p: JPath): Path = new Path(p.toUri)
  private def perms(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("file: resolves to the non-forking classes for FileSystem and FileContext") {
    val fs = FileSystem.getLocal(conf)
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(fs.getRawFileSystem.isInstanceOf[NioRawLocalFileSystem])
    assert(FileSystem.get(new java.net.URI("file:///"), conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getLocalFSFileContext().getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("permission bits round-trip for 0644 and 0755") {
    val fs = FileSystem.getLocal(conf)
    val d = dir("niofs_perm")
    val f = d.resolve("f")
    Files.write(f, Array[Byte](1))
    for ((mode, str) <- Seq(0x1a4 -> "rw-r--r--", 0x1ed -> "rwxr-xr-x"); p <- Seq(f, d)) {
      fs.setPermission(hp(p), new FsPermission(mode.toShort))
      assert(perms(p) == str)
      assert(fs.getFileStatus(hp(p)).getPermission.toShort == mode)
    }
    assert(fs.getFileStatus(hp(f)).getOwner == Files.getOwner(f).getName)
  }

  test("a missing path is FileNotFoundException on every status call") {
    val missing = hp(dir("niofs_missing").resolve("nope"))
    val raw = FileSystem.getLocal(conf).getRawFileSystem
    intercept[FileNotFoundException](raw.getFileLinkStatus(missing))
    intercept[FileNotFoundException](raw.getFileStatus(missing))
    intercept[FileNotFoundException](raw.setPermission(missing, FsPermission.getFileDefault))
    intercept[FileNotFoundException](FileContext.getLocalFSFileContext().getFileLinkStatus(missing))
    assert(!raw.exists(missing))
  }

  test("a no-overwrite FileContext rename onto an existing file is refused") {
    val fc = FileContext.getLocalFSFileContext()
    val d = dir("niofs_rename")
    def put(name: String, body: String): Path = {
      val p = hp(d.resolve(name))
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
      p
    }
    val dst = put("0", "first")
    val tmp = put(".0.tmp", "second")
    intercept[FileAlreadyExistsException](fc.rename(tmp, dst, Options.Rename.NONE))
    assert(new String(Files.readAllBytes(d.resolve("0")), StandardCharsets.UTF_8) == "first")
    // onto a free name the rename goes through, sidecar included
    fc.rename(tmp, hp(d.resolve("1")), Options.Rename.NONE)
    assert(Files.exists(d.resolve("1")) && Files.exists(d.resolve(".1.crc")))
    assert(!Files.exists(d.resolve(".0.tmp")) && !Files.exists(d.resolve("..0.tmp.crc")))
  }

  test("a symlink reports isSymlink with its target") {
    val d = dir("niofs_link")
    val target = Files.write(d.resolve("target"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(d.resolve("link"), target)
    val raw = FileSystem.getLocal(conf).getRawFileSystem
    val st = raw.getFileLinkStatus(hp(link))
    assert(st.isSymlink && !st.isDirectory)
    assert(st.getSymlink == hp(target))
    assert(raw.getLinkTarget(hp(link)) == new Path(target.toString))
    assert(FileContext.getLocalFSFileContext().getFileLinkStatus(hp(link)).isSymlink)
    val followed = raw.getFileStatus(hp(link))
    assert(!followed.isSymlink && followed.getLen == 3)
    assert(!raw.getFileLinkStatus(hp(target)).isSymlink)
  }

  test("writes leave the same files, sidecars and permission bits as Hadoop's local filesystem") {
    // the same operations through Hadoop's own classes and through the binding
    def script(fs: FileSystem, fc: FileContext, root: JPath): Unit = {
      fs.mkdirs(hp(root.resolve("a/b")))
      fs.mkdirs(hp(root.resolve("m")), new FsPermission(0x1c0.toShort))
      val out = fs.create(hp(root.resolve("a/b/part-0.parquet")))
      try out.write(Array.fill[Byte](1000)(7)) finally out.close()
      fs.create(hp(root.resolve("a/_SUCCESS"))).close()
      val priv = fs.create(hp(root.resolve("a/priv")), new FsPermission(0x180.toShort),
        true, 4096, 1.toShort, 1L << 25, null)
      priv.close()
      fs.setPermission(hp(root.resolve("a/b/part-0.parquet")), new FsPermission(0x1a0.toShort))
      fs.rename(hp(root.resolve("a/b/part-0.parquet")), hp(root.resolve("a/b/part-1.parquet")))
      val log = fc.create(hp(root.resolve("log/.0.tmp")),
        EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE), Options.CreateOpts.createParent())
      try log.write("v1".getBytes(StandardCharsets.UTF_8)) finally log.close()
      fc.rename(hp(root.resolve("log/.0.tmp")), hp(root.resolve("log/0")), Options.Rename.NONE)
    }
    def tree(root: JPath): Map[String, (String, Seq[Byte])] = {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(_ != root).map { p =>
        root.relativize(p).toString -> (perms(p) ->
          (if (Files.isDirectory(p)) Seq.empty[Byte] else Files.readAllBytes(p).toSeq))
      }.toMap finally walk.close()
    }
    val stockConf = new Configuration()
    stockConf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val stockFs = FileSystem.newInstanceLocal(stockConf)
    assert(stockFs.getRawFileSystem.getClass == classOf[org.apache.hadoop.fs.RawLocalFileSystem])
    val stock = dir("niofs_stock")
    val mine = dir("niofs_nio")
    try script(stockFs, FileContext.getLocalFSFileContext(stockConf), stock)
    finally stockFs.close()
    script(FileSystem.getLocal(conf), FileContext.getLocalFSFileContext(), mine)
    val expected = tree(stock)
    assert(expected.keySet.contains("a/b/.part-1.parquet.crc") && expected.keySet.contains("log/.0.crc"))
    assert(tree(mine) == expected)
  }
}
