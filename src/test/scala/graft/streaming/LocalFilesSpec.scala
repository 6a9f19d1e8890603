package graft.streaming

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  FsConstants, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.ProcessStarts
import org.scalatest.funsuite.AnyFunSuite

/** graft's `file:` file system against Hadoop's `LocalFileSystem` and
  * `LocalFs`: the same operations in two temporary directories leave
  * the same trees (entries, `.crc` siblings, sizes, mode bits) and the
  * same listings, and link statuses agree. No Spark session.
  */
class LocalFilesSpec extends AnyFunSuite {

  /** A configuration with `umask` and a fresh `FileSystem` per `get`,
    * routed to graft's file system if `graft`, else to Hadoop's
    * `LocalFileSystem` (named, as Hive's jar registers its own `file:`
    * subclass). */
  private def conf(umask: String, graft: Boolean): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c.set("fs.file.impl.disable.cache", "true")
    c.set("fs.file.impl", classOf[LocalFileSystem].getName)
    if (graft) LocalFiles.Conf.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def bytes(s: String) = s.getBytes(UTF_8)

  /** What a topic append and a checkpoint log do, under `root`. */
  private def operate(fs: FileSystem, fc: FileContext, root: String): Unit = {
    def p(rel: String) = new Path(root, rel)
    def write(path: Path, s: String): Unit = {
      val out = fs.create(path)
      try out.write(bytes(s)) finally out.close()
    }
    // an append's commit area, part file, rename and marker
    assert(fs.mkdirs(p("topic=a/_temporary/0/_temporary/attempt_0")))
    write(p("topic=a/_temporary/0/_temporary/attempt_0/part-0.parquet"),
      "rows")
    assert(fs.rename(p("topic=a/_temporary/0/_temporary/attempt_0/part-0.parquet"),
      p("topic=a/part-0.parquet")))
    write(p("topic=a/_SUCCESS"), "")
    // explicit modes, on create, mkdirs and afterwards
    val out = fs.create(p("topic=a/explicit"), new FsPermission("640"), true,
      4096, 1.toShort, 1L << 25, null)
    try out.write(bytes("x")) finally out.close()
    assert(fs.mkdirs(p("b/c"), new FsPermission("750")))
    fs.setPermission(p("topic=a/_SUCCESS"), new FsPermission("600"))
    assert(fs.mkdirs(p("sticky")))
    fs.setPermission(p("sticky"), new FsPermission("1777"))
    // a checkpoint log: write a temporary file, rename it over the entry
    fc.mkdir(p("ckpt/offsets"), FsPermission.getDirDefault, true)
    for (body <- Seq("v1", "v2")) {
      val tmp = p("ckpt/offsets/.0.tmp")
      val o = fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.createParent())
      try o.write(bytes(body)) finally o.close()
      fc.rename(tmp, p("ckpt/offsets/0"), Options.Rename.OVERWRITE)
    }
  }

  /** Every entry under `root`: (relative path, is dir, size of a file,
    * mode with the sticky bit). */
  private def tree(root: JPath): Seq[(String, Boolean, Long, Int)] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_ != root).map { e =>
      val dir = Files.isDirectory(e)
      (root.relativize(e).toString, dir, if (dir) 0L else Files.size(e),
        Files.getAttribute(e, "unix:mode").asInstanceOf[Int] & 0x3ff)
    }.toSeq.sorted
    finally walk.close()
  }

  private def listing(fs: FileSystem, root: String) =
    Seq(".", "topic=a", "ckpt/offsets", "b").map { rel =>
      rel -> fs.listStatus(new Path(s"$root/$rel")).map(s =>
        (s.getPath.getName, s.isDirectory, s.getLen)).toSeq.sorted
    }

  for (umask <- Seq("022", "077"))
    test(s"files and dirs match Hadoop's local file systems (umask $umask)") {
      val roots = Seq(false, true).map { graft =>
        val root = Files.createTempDirectory(s"graft-localfiles-$umask")
        val c = conf(umask, graft)
        val fs = FileSystem.get(FsConstants.LOCAL_FS_URI, c)
        val fc = FileContext.getFileContext(FsConstants.LOCAL_FS_URI, c)
        assert(fs.getClass === (if (graft) classOf[LocalFiles.FileSystem]
          else classOf[LocalFileSystem]))
        assert(fc.getDefaultFileSystem.getClass ===
          (if (graft) classOf[LocalFiles.AbstractFs] else classOf[LocalFs]))
        val (_, started) = ProcessStarts(operate(fs, fc, root.toString))
        val under = started.filter(_.contains(root.toString))
        // only the sticky-bit mode goes through Hadoop's chmod
        if (graft) assert(under.forall(_.contains("sticky")), under)
        else assert(under.size > 10, under)
        (root, fs)
      }
      val Seq((hadoopRoot, hadoopFs), (graftRoot, graftFs)) = roots
      val expected = tree(hadoopRoot)
      assert(expected.exists(_._1.endsWith(".part-0.parquet.crc")))
      assert(expected.exists(_._1 == "ckpt/offsets/.0.crc"))
      assert(expected.exists(_._4 == 0x3ff))
      assert(tree(graftRoot) === expected)
      assert(listing(graftFs, graftRoot.toString) ===
        listing(hadoopFs, hadoopRoot.toString))
    }

  /** The fields of a status a caller can see, or the class of what
    * getting it threw. */
  private def fields(status: => FileStatus) = Try(status).map(s =>
    (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) Some(s.getSymlink) else None, s.getLen,
      s.getModificationTime, s.getPermission, s.getOwner, s.getGroup))
    .toEither.left.map(_.getClass)

  test("link statuses agree with Hadoop's; a missing path is not found") {
    val root = Files.createTempDirectory("graft-localfiles-links")
    val file = Files.write(root.resolve("file"), bytes("data"))
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val relative = Files.createSymbolicLink(root.resolve("rel"),
      root.relativize(file))
    val dangling = Files.createSymbolicLink(root.resolve("dangling"),
      root.resolve("gone"))
    val missing = root.resolve("missing")
    val Seq(hadoop, graft) = Seq(false, true).map(g => conf("022", g))
    val Seq(hFs, gFs) = Seq(hadoop, graft).map(FileSystem.get(FsConstants.LOCAL_FS_URI, _))
    val Seq(hFc, gFc) = Seq(hadoop, graft).map(
      FileContext.getFileContext(FsConstants.LOCAL_FS_URI, _))
    val entries = Seq(file, dir, link, relative, dangling)
    // Hadoop sees a link only at a path without a scheme: with one, a
    // dangling link is not found
    for (e <- entries; path <- Seq(new Path(e.toString), new Path(e.toUri))) {
      assert(fields(gFs.getFileLinkStatus(path)) ===
        fields(hFs.getFileLinkStatus(path)), path)
      assert(fields(gFc.getFileLinkStatus(path)) ===
        fields(hFc.getFileLinkStatus(path)), path)
    }
    for (e <- Seq(link, relative, dangling))
      assert(gFs.getFileLinkStatus(new Path(e.toString)).isSymlink, e)
    assert(gFs.getLinkTarget(new Path(relative.toString)) ===
      hFs.getLinkTarget(new Path(relative.toString)))
    val (_, started) = ProcessStarts(Seq(file, dir).foreach(e =>
      gFs.getFileLinkStatus(new Path(e.toUri))))
    assert(!started.exists(_.contains(root.toString)), started)
    intercept[FileNotFoundException](gFs.getFileLinkStatus(new Path(missing.toString)))
    intercept[FileNotFoundException](gFc.getFileLinkStatus(new Path(missing.toString)))
    intercept[FileNotFoundException](hFs.getFileLinkStatus(new Path(missing.toString)))
  }
}
