package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's raw local filesystem without its per-call processes. Without
  * the native libhadoop, `RawLocalFileSystem` starts a `chmod` process for
  * every file and directory it creates, and a `readlink` process for every
  * `getFileLinkStatus` (FileContext renames, so streaming checkpoints).
  * Here a plain rwx mode is set through java.nio (the same umask-applied
  * mode, one syscall), and a path that is not a symlink gets its plain
  * status. Sticky bits, a path that already carries setuid/setgid/sticky
  * bits (a directory under a setgid parent: `chmod 0755` keeps the bit, a
  * raw chmod(2) would clear it), a filesystem without POSIX attributes and
  * symlinks all take Hadoop's own path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val mode = permission.toShort.toInt
    if (!LocalFs.posix || (mode & ~0x1ff) != 0 ||
        (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00) != 0)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, LocalFs.rwx(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f) else getFileStatus(f)
}

/** The `file:` FileSystem over [[NioRawLocalFileSystem]]. The checksum
  * layer is Hadoop's, so `.crc` sidecars, read-side checksum checks and
  * the bytes on disk are those of `LocalFileSystem`. `rename` never
  * replaces an existing file: HDFS's rule, and that of the class Spark's
  * jars register for `file:` (Hive's `ProxyLocalFileSystem`, which wins
  * Hadoop's service lookup over `LocalFileSystem`), so a swapped-in
  * instance renames exactly as the one it replaces.
  */
class LocalFs extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = !pathToFile(dst).isFile && super.rename(src, dst)
}

/** The FileContext twin of [[LocalFs]] (`fs.AbstractFileSystem.file.impl`,
  * what streaming checkpoints and state stores write through): Hadoop's
  * `local.LocalFs`/`RawLocalFs` pair over [[NioRawLocalFileSystem]].
  * Hadoop constructs it reflectively with `(URI, Configuration)`.
  */
final class LocalAfs(uri: URI, conf: Configuration) extends ChecksumFs(new RawLocalAfs(conf))

final class RawLocalAfs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

object LocalFs {
  private[graft] val posix: Boolean = {
    val views = FileSystems.getDefault.supportedFileAttributeViews
    views.contains("posix") && views.contains("unix")
  }

  /** The nine permission bits of `mode` (OWNER_READ is bit 8 ... OTHERS_EXECUTE bit 0). */
  private[graft] def rwx(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if ((mode >> (8 - p.ordinal) & 1) != 0) s.add(p))
    s
  }

  private val FileImpl = "fs.file.impl"
  private val AfsImpl = "fs.AbstractFileSystem.file.impl"

  /** Make the session's `file:` writes fork-free; idempotent, cheap to
    * repeat. Points `fs.file.impl` and its FileContext twin at [[LocalFs]]
    * and [[LocalAfs]] unless either was set explicitly, then swaps a cached
    * instance of Hadoop's default `file:` class out of the JVM-wide
    * FileSystem cache: writer tasks take their FileSystem from that cache,
    * not from the conf. The dropped instance holds no resources and no
    * deleteOnExit paths.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val conf = spark.sparkContext.hadoopConfiguration
    claim(conf, FileImpl, classOf[LocalFs])
    claim(conf, AfsImpl, classOf[LocalAfs])
    if (conf.get(FileImpl) == classOf[LocalFs].getName) {
      val cached = FileSystem.get(FsConstants.LOCAL_FS_URI, conf)
      if (cached.getClass == FileSystem.getFileSystemClass("file", null)) {
        cached.close() // drops it from the cache
        FileSystem.get(FsConstants.LOCAL_FS_URI, conf)
      }
    }
  }

  /** Set `key` to `impl` if it holds Hadoop's default (unset, or only
    * core-default.xml's value); an explicit setting is left alone.
    */
  private def claim(conf: Configuration, key: String, impl: Class[_]): Unit =
    if (Option(conf.getPropertySources(key)).forall(_.forall(_ == "core-default.xml")))
      conf.set(key, impl.getName)
}
