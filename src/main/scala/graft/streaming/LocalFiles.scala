package graft.streaming

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, FSLinkResolver, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local (`file:`) file system without a process per file.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem` sets the mode of
  * every file and directory it creates by running `chmod`, and reads
  * every link status (each `FileContext` rename asks for several) by
  * running `readlink`. A topic append creates eight such entries, so a
  * micro-batch that appends to 30 topics starts about 240 processes,
  * and the query's offset and commit logs start about 30 more on the
  * stream thread.
  *
  * [[LocalFiles.Raw]] is `RawLocalFileSystem` with those two calls made
  * through `java.nio.file`; checksum files, rename and every other
  * operation stay Hadoop's. [[LocalFiles.FileSystem]] (a
  * `LocalFileSystem`) and [[LocalFiles.AbstractFs]] (the `FileContext`
  * side, as Hadoop's `LocalFs`) both sit on it. [[LocalFiles.Conf]] are
  * the Hadoop keys that route a configuration's `file:` paths here.
  */
object LocalFiles {

  /** `fs.file.impl` and `fs.AbstractFileSystem.file.impl`, with
    * Hadoop's per-JVM `FileSystem` cache off for `file:` (its key is
    * the scheme and user, not the configuration, so a cached
    * `LocalFileSystem` would otherwise be returned whatever the keys
    * say).
    */
  val Conf: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[FileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[AbstractFs].getName)

  /** `PosixFilePermission.values` runs from owner read (0400) down to
    * others execute (0001). */
  private val PosixBits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (p, i) => p -> (0x100 >> i) }

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = EnumSet.noneOf(classOf[PosixFilePermission])
    PosixBits.foreach { case (p, bit) => if ((mode & bit) != 0) set.add(p) }
    set
  }

  /** The raw layer shared by both file systems. */
  class Raw extends RawLocalFileSystem {

    /** Sets exactly `permission` (callers have applied the umask), as
      * Hadoop's `chmod` does; Hadoop's own method where the store has
      * no POSIX view or the mode has the sticky bit.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      if (permission.getStickyBit || Files.getFileAttributeView(
            file, classOf[PosixFileAttributeView]) == null)
        super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(file, posix(permission.toShort))
        catch {
          case e: NoSuchFileException =>
            throw new FileNotFoundException(s"$p: ${e.getMessage}")
        }
    }

    override def getFileLinkStatus(f: Path): FileStatus = {
      val status = linkStatus(f)
      if (status.isSymlink) status.setSymlink(FSLinkResolver
        .qualifySymlinkTarget(getUri, status.getPath, status.getSymlink))
      status
    }

    override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

    /** Hadoop's link status of `f` (the logic it uses without `Stat`),
      * with the link read through `java.nio.file`. As in Hadoop, the
      * link is looked up at `f.toString` taken as a local name, and a
      * link whose target is missing gets a default status.
      */
    private def linkStatus(f: Path): FileStatus = {
      val target =
        try {
          val file = new File(f.toString).toPath
          if (Files.isSymbolicLink(file)) Files.readSymbolicLink(file).toString
          else ""
        } catch { case _: IOException => "" }
      try {
        val s = getFileStatus(f)
        if (target.isEmpty) s
        else new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize,
          s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner,
          s.getGroup, new Path(target), f)
      } catch {
        case _: FileNotFoundException if target.nonEmpty =>
          new FileStatus(0L, false, 0, 0L, 0L, 0L, FsPermission.getDefault,
            "", "", new Path(target), f)
      }
    }
  }

  /** `fs.file.impl`: Hadoop's `LocalFileSystem` over [[Raw]]. */
  class FileSystem extends LocalFileSystem(new Raw)

  /** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` over
    * [[Raw]]. Like `LocalFs`, it serves `file:///` whatever `uri` says.
    */
  class AbstractFs(uri: URI, conf: Configuration)
      extends ChecksumFs(new RawFs(conf))

  /** Hadoop's `RawLocalFs` over [[Raw]]. */
  private class RawFs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new Raw, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    @deprecated("as in Hadoop's FileSystem", "3.0")
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
