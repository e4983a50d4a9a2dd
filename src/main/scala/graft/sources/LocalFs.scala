package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, Files, NoSuchFileException, Path => NioPath}
import java.nio.file.attribute.{BasicFileAttributes, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FileSystem, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Fork-free `file:` filesystem for the whole process.
  *
  * Spark ships no `libhadoop`, so Hadoop's stock `RawLocalFileSystem`
  * runs a shell command for every permission set (`chmod`: each parquet
  * task file, commit-protocol dir, `_SUCCESS`, snapshot commit and
  * checkpoint temp file), every link check (`readlink`: each streaming
  * checkpoint rename) and every permission read (`ls -ld`: each file a
  * `listFiles` walk returns). Measured on a 4-core VM, a fork from an
  * 8 GB-heap JVM costs 2.6–3.8 ms against 0.01 ms for the `java.nio`
  * call that does the same, and one pass of the benchmark's
  * `index_lifecycle` mix paid ~330 of them.
  *
  * [[NioRawLocalFileSystem]] does those three things through `java.nio`
  * and inherits everything else. The wrappers keep the stock layering, so
  * `.crc` sidecars are still written and verified: [[NioLocalFileSystem]]
  * for the `FileSystem` API, [[NioLocalFs]] for `FileContext` (what the
  * streaming checkpoint manager uses).
  */
object LocalFs {
  private val FileUri = URI.create("file:///")

  /** Point `sparkContext.hadoopConfiguration` at the NIO filesystem and
    * replace the `file:///` instance in Hadoop's JVM-wide `FileSystem`
    * cache, whose key ignores the conf (a stock instance cached before
    * this call would otherwise keep serving every `file:` path).
    * Idempotent and cheap, so callers may run it before every query.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val conf = spark.sparkContext.hadoopConfiguration
    if (conf.get("fs.file.impl") != classOf[NioLocalFileSystem].getName) {
      conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
      conf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    }
    FileSystem.get(FileUri, conf) match {
      case _: NioLocalFileSystem =>
      case stock => stock.close(); FileSystem.get(FileUri, conf): Unit
    }
  }

  /** `st_mode`'s permission bits, sticky bit included (the JDK's `unix`
    * attribute view; `PosixFilePermission` has no sticky bit). */
  private[sources] val ModeAttr = "unix:mode"
}

/** `RawLocalFileSystem` whose permission set, link status and permission
  * read go through `java.nio` instead of `chmod`, `readlink` and `ls -ld`.
  * No shell fallback: where the JDK has no `unix` attribute view the NIO
  * call throws.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  private def nio(p: Path): NioPath = pathToFile(p).toPath

  /** `chmod`, as the native `NativeIO.POSIX.chmod` path does it: the full
    * mode including the sticky bit, following symlinks. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(nio(p), LocalFs.ModeAttr, Integer.valueOf(permission.toShort.toInt))

  /** Stat once for size, type and times; owner, group and permission are
    * read on first use ([[NioFileStatus]]). A path the stat cannot reach
    * (missing, a file as a parent, no search permission) does not exist,
    * as with the stock `File.exists` check. */
  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val attrs =
      try Files.readAttributes(file.toPath, classOf[BasicFileAttributes])
      catch { case _: FileSystemException => throw new FileNotFoundException(s"File $f does not exist") }
    new NioFileStatus(file, attrs, getDefaultBlockSize(f),
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  /** The stock listing builds a single file's status without
    * [[getFileStatus]]; a directory's children already go through it. */
  override def listStatus(f: Path): Array[FileStatus] = {
    val st = getFileStatus(f)
    if (st.isDirectory) super.listStatus(f) else Array(st)
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** The stock `deprecatedGetFileLinkStatusInternal`, with
    * `Files.readSymbolicLink` for `readlink`: a link's status is its
    * target's, marked as a link with the raw target; a dangling link gets
    * an empty status. The link is resolved through `pathToFile`, so a
    * qualified `file:/…` path is recognised too (the shell version hands
    * `file:/…` to `readlink`, which fails and reports a plain file).
    */
  private def linkStatus(f: Path): FileStatus = {
    val link = nio(f)
    if (!Files.isSymbolicLink(link)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(link).toString)
      try {
        val st = getFileStatus(f)
        new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
          st.getGroup, target, f)
      } catch {
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }
}

/** A local file's status whose permission, owner and group are read from
  * its attributes on first use, as the stock status does with `ls -ld`.
  * A file gone by then reads as the defaults, as it does there.
  */
private final class NioFileStatus(file: java.io.File, attrs: BasicFileAttributes,
    blockSize: Long, path: Path)
    extends FileStatus(attrs.size, attrs.isDirectory, 1, blockSize,
      attrs.lastModifiedTime.toMillis, attrs.lastAccessTime.toMillis,
      null, null, null, path) {
  @volatile private var loaded = false

  private def load(): Unit = if (!loaded) synchronized {
    if (!loaded) {
      try {
        val a = Files.readAttributes(file.toPath, s"${LocalFs.ModeAttr},owner,group")
        setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
        setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
        setGroup(a.get("group").asInstanceOf[UserPrincipal].getName)
      } catch {
        case _: NoSuchFileException => setPermission(null); setOwner(null); setGroup(null)
      }
      loaded = true
    }
  }

  override def getPermission: FsPermission = { load(); super.getPermission }
  override def getOwner: String = { load(); super.getOwner }
  override def getGroup: String = { load(); super.getGroup }
}

/** `LocalFileSystem` (CRC sidecars) over [[NioRawLocalFileSystem]]; the
  * `fs.file.impl` class. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext` binding for `file:` (`fs.AbstractFileSystem.file.impl`):
  * Hadoop's `LocalFs`, which is `ChecksumFs` over `RawLocalFs`, with
  * [[NioRawLocalFileSystem]] underneath. The stock classes' constructors
  * are package-private and hard-wire the stock raw filesystem. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]: its server
  * defaults (4 KB stream buffer, not the conf's) and its name check. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local names may hold ':' and other chars FileContext rejects by default
  override def isValidName(src: String): Boolean = true
}
