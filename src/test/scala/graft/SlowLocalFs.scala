package graft

import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** A latency-injecting local filesystem for lock-protocol and crash
  * tests: every metadata/data operation the lock path exercises (exists
  * probe, exclusive create, open/read-back, delete) and each directory
  * listing sleeps `graft.test.slowfs.op.ms` first — the
  * high-latency-object-store simulator the r20 ADVICE latency-wrapper
  * probe asked for. Scheme `slowfs` maps onto the local disk, so racing
  * JVThreads exercise the REAL check-then-act windows
  * (RawLocalFileSystem's create is not atomic), just stretched wide
  * enough that an undersized settle window actually loses the race it
  * would lose on a real store, and a `CrashSpec` child's crash window
  * stays open long enough to be killed inside. */
class SlowLocalFs extends RawLocalFileSystem {

  /** Set while a listing runs: RawLocalFileSystem stats each entry of a
    * listing, which an object store returns in the one LIST call. */
  private val listing = new ThreadLocal[Boolean] { override def initialValue = false }

  private def lag(): Unit = {
    val ms = getConf.getLong("graft.test.slowfs.op.ms", 25L)
    if (ms > 0 && !listing.get) Thread.sleep(ms)
  }

  override def getScheme: String = "slowfs"
  override def getUri: URI = URI.create("slowfs:///")

  override def exists(f: Path): Boolean = { lag(); super.exists(f) }
  override def create(f: Path, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    lag(); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    lag(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus = {
    lag(); super.getFileStatus(f)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    lag(); super.delete(f, recursive)
  }
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    lag()
    listing.set(true)
    try super.listStatus(f) finally listing.set(false)
  }
}

/** The `slowfs` scheme for `FileContext` callers (the atomic small-file
  * write, the streaming checkpoint manager), delegating to
  * [[SlowLocalFs]] as Hadoop's `RawLocalFs` delegates to the raw local
  * file system. Configured as `fs.AbstractFileSystem.slowfs.impl`. */
class SlowLocalAfs(uri: URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(uri, new SlowLocalFs, conf, "slowfs", false)
