package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.{SparkConf, SparkContext, SparkEnv}

/** The `file:` filesystems a graft session binds: Hadoop's local
  * filesystems with `setPermission` done in-process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks
  * `chmod <mode> <path>` (hadoop-client-api 3.4.2), and it runs for
  * every file and directory the local filesystem creates: part files,
  * their `.crc` files, `_SUCCESS`, `_temporary` directories, streaming
  * checkpoint and state-store files. A JFR recording of one reference
  * DAG pass counted 224 forked `chmod`s, from the driver and from
  * executor tasks. `Files.setPosixFilePermissions` is the same chmod(2)
  * without the fork, which is what libhadoop's `NativeIO.POSIX.chmod`
  * does. `FileContext`'s rename forks a `readlink` each time it stats a
  * path, eight times per renamed file with its checksum; [[Raw]] asks
  * the JVM first.
  *
  * It changes nothing else: every other method, a mode with the sticky
  * bit, a filesystem without a POSIX view and a symlink take Hadoop's
  * own path. [[Fs]] is the checksummed `FileSystem` over it; [[Afs]]
  * is the checksummed `AbstractFileSystem` over it for `FileContext`
  * callers ([[IO.atomicWriteSmallFile]], Spark's streaming checkpoint
  * and state-store files).
  */
object LocalFileSystems {

  /** The Hadoop keys [[install]] binds, with graft's class for each. */
  val Bindings: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[Fs].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[Afs].getName)

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The permissions of the 9 low bits of `mode` (owner, group, other). */
  private def posixPermissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // the enum runs OWNER_READ .. OTHERS_EXECUTE, bit 8 down to bit 0
    PosixFilePermission.values.foreach(p => if ((mode >> (8 - p.ordinal) & 1) != 0) s.add(p))
    s
  }

  /** `RawLocalFileSystem` with `setPermission` as chmod(2) in-process,
    * and `getFileLinkStatus` asking the JVM whether a path is a symlink
    * before it asks a forked `readlink`. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      if ((mode & ~0x1ff) != 0 || !posix) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posixPermissions(mode)): Unit
    }

    /** Hadoop forks `readlink` here (`FileUtil.readLink`), then returns
      * `getFileStatus` when the path is not a symlink. `FileContext`'s
      * rename asks this twice of the source, the target and both
      * checksums, so every atomic small-file write and every streaming
      * checkpoint log entry paid eight forks. A symlink, dangling or
      * not, still takes Hadoop's path. */
    override def getFileLinkStatus(p: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
      else getFileStatus(p)
  }

  /** `fs.file.impl`: Hadoop's `LocalFileSystem` over [[Raw]]. */
  class Fs extends LocalFileSystem(new Raw)

  /** Hadoop's `RawLocalFs` over [[Raw]]: the same overrides, a
    * different delegate. */
  private class RawAfs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` over [[Raw]]. */
  class Afs(uri: URI, conf: Configuration) extends ChecksumFs(new RawAfs(uri, conf))

  /** The bindings to set: each of [[Bindings]] unless `sparkConf`
    * sets it (as `spark.hadoop.<key>`), in which case the explicit
    * value wins. */
  def bindingsFor(sparkConf: SparkConf): Seq[(String, String)] =
    Bindings.filterNot { case (k, _) => sparkConf.contains(s"spark.hadoop.$k") }

  /** Binds the `file:` scheme on the running SparkContext's Hadoop
    * configuration, which every session's Hadoop conf copies. A `file:`
    * FileSystem that Hadoop's cache already holds in this JVM stays as
    * it was built. Reads `SparkEnv` first, as [[graft.plans.CodegenCache]]
    * does: while it is set the context is running, so
    * `SparkContext.getOrCreate()` returns it rather than creating one. */
  def install(): Unit =
    Option(SparkEnv.get).foreach { env =>
      val hadoopConf = SparkContext.getOrCreate().hadoopConfiguration
      bindingsFor(env.conf).foreach { case (k, v) => hadoopConf.set(k, v) }
    }
}
