package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Crash-safe publish of a staged-artifact directory: the model and
  * index artifacts of the train-once/serve-many families (PQ/IVF
  * indexes, SemDeDup cells, BPE/DSIR/NB models, band/bucket/fingerprint
  * tables).
  *
  * Why plain `SaveMode.Overwrite` is not enough for a SHARED artifact:
  * it deletes the live directory before the new job's files commit, so
  * (a) a reader during the rebuild window sees a missing or partial
  * artifact, and (b) a crash mid-rebuild destroys the previous artifact
  * — the "once" in train-once/serve-many is gone and every consumer
  * blocks on a full retrain.
  *
  * One protocol, per artifact ROOT (multi-table artifacts — a PQ
  * index's centroids + codes + stamp — publish as ONE version, so a
  * reader can never pair centroids from one build with codes from
  * another):
  *
  *   <root>/v=000001/...          complete artifact build (immutable once
  *                                published; multi-table trees included)
  *   <root>/v=000001/_PUBLISHED   marker written LAST — a version dir
  *                                without it is a torn/abandoned build
  *   <root>/LATEST                tiny manifest naming the live version
  *
  * [[publish]] builds into a fresh version dir, marks it, flips the
  * manifest and retires versions older than live + 1 predecessor;
  * every reader goes through [[resolveRead]]. Readers resolve a version
  * ONCE and then read immutable files: no reader ever observes a
  * directory renamed out from under it, a reader that resolved just
  * before a publish keeps its complete version on disk until the NEXT
  * publish, and the only mutation per publish is one small-manifest
  * update — O(1) in artifact bytes on any store, HDFS, POSIX or an
  * S3-like object store where directory rename is a copy + delete. The
  * manifest update is a tmp-file + rename(OVERWRITE)
  * ([[IO.atomicWriteSmallFile]]); a reader that catches it torn or
  * missing falls back to the max _PUBLISHED version scan, which is
  * always a complete artifact. Crash anywhere: before _PUBLISHED leaves
  * an inert unpublished dir (the next publish's GC sweeps it); after
  * _PUBLISHED but before the manifest update leaves LATEST on the
  * previous complete version until the next publish (or a
  * fallback-scan reader) advances it. The cost is one predecessor
  * version kept on disk beside the live one.
  *
  * Single writer per artifact root (the registry's `Fixtures.staged`
  * memo / global-lock conventions): the protocol protects READERS, it
  * does not arbitrate concurrent writers. */
object Staging {

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val VersionFmt = "v=%06d"
  private def versionDir(root: String, v: Long): String =
    s"$root/${VersionFmt.format(v)}"

  private def listVersions(f: FileSystem, root: String): Seq[Long] =
    if (!f.exists(new Path(root))) Seq.empty
    else f.globStatus(new Path(s"$root/v=*")).toSeq
      .filter(_.isDirectory)
      .flatMap(s => s.getPath.getName.stripPrefix("v=").toLongOption)
      .sorted

  private def isPublished(f: FileSystem, root: String, v: Long): Boolean =
    f.exists(new Path(s"${versionDir(root, v)}/_PUBLISHED"))

  /** The version LATEST names, when the manifest exists, parses, and
    * points at a _PUBLISHED dir — None on missing/torn/dangling, which
    * sends readers to the fallback scan. */
  private def manifestVersion(f: FileSystem, root: String): Option[Long] = {
    val latest = new Path(s"$root/LATEST")
    if (!f.exists(latest)) None
    else {
      val in = f.open(latest)
      // read to EOF, never a single read(): object-store streams may
      // legally return a short first read, and a truncated prefix of a
      // multi-digit version ("12" -> "1") PARSES as a different valid
      // version and would silently serve a stale artifact (round-15
      // review finding)
      val txt = try {
        val buf = new java.io.ByteArrayOutputStream(64)
        val chunk = new Array[Byte](64)
        var n = in.read(chunk)
        while (n >= 0 && buf.size <= 64) {
          buf.write(chunk, 0, n)
          n = in.read(chunk)
        }
        // oversize = foreign/corrupt content, never a version number
        // (writeManifest emits <= 19 digits) — treat as torn rather
        // than parse a truncated prefix
        if (buf.size > 64) "" else buf.toString("UTF-8").trim
      } finally in.close()
      txt.toLongOption.filter(isPublished(f, root, _))
    }
  }

  /** Live version of a versioned artifact root: the manifest's, or —
    * when the manifest is missing, torn, or names an unpublished dir —
    * the highest _PUBLISHED version on disk. None = nothing published. */
  def liveVersion(spark: SparkSession, root: String): Option[Long] = {
    val f = fs(spark, root)
    manifestVersion(f, root)
      .orElse(listVersions(f, root).filter(isPublished(f, root, _)).lastOption)
  }

  /** Build-then-publish a new version: `build` writes the complete
    * artifact (single- or multi-table) into a fresh `<root>/v=<n>/`
    * (n = max existing + 1, so a crashed build's number is never
    * reused), the `_PUBLISHED` marker commits it, and the LATEST
    * manifest flips readers to it. On any build failure the live
    * artifact is untouched and the partial version dir stays
    * unpublished (invisible to readers; [[gcVersions]] sweeps it).
    * After the flip, [[gcVersions]] keeps live + 1 predecessor: without
    * it every re-publish over the same root would keep a full artifact
    * copy forever, and keeping one predecessor is the reader-grace lag
    * — a reader that resolved just before this publish still has its
    * complete version on disk. Returns the published version. */
  def publish(spark: SparkSession, root: String)(build: String => Unit): Long = {
    val f = fs(spark, root)
    IO.recoverSwap(spark, root) // heal a crashed swap of a rename-layout root before adopting it
    f.mkdirs(new Path(root))
    adoptRenameLayout(f, root)
    val v = listVersions(f, root).lastOption.getOrElse(0L) + 1L
    val dir = versionDir(root, v)
    f.delete(new Path(dir), true)
    build(dir)
    require(f.exists(new Path(dir)),
      s"versioned publish: build left nothing at $dir")
    f.create(new Path(s"$dir/_PUBLISHED"), true).close()
    writeManifest(spark, f, root, v)
    // GC AFTER the manifest points at v, so the sweep can only ever
    // retire versions two publishes stale (live is v, keep=1 retains
    // v-1) — the reader-grace window is structural
    gcVersions(spark, root, keep = 1)
    v
  }

  /** Migrate a rename-layout artifact — a root that older builds
    * published in place with a two-rename directory swap — on the FIRST
    * publish over it: every non-reserved root entry (the old build's
    * tables/files) moves, rename-only, into `v=000000` with a
    * _PUBLISHED marker, so the previous build stays the live fallback
    * until the new version publishes and GC retires it like any
    * predecessor. Without this the old artifact's data files would sit
    * at the root forever, invisible to gcVersions, silently doubling
    * storage. A reader of the old layout racing the migration can see
    * a moved-away file, as it could during the old swap; single writer
    * per root, as everywhere in Staging. */
  private def adoptRenameLayout(f: FileSystem, root: String): Unit = {
    if (listVersions(f, root).isEmpty && !f.exists(new Path(s"$root/LATEST"))) {
      // ".LATEST.tmp" is the shared atomic-write helper's tmp name
      // (the legacy "LATEST.__tmp" stays reserved for roots written by
      // older builds) — a crash-leftover tmp must not be adopted into
      // v0 as if it were artifact data
      val reserved = Set("LATEST", "LATEST.__tmp", ".LATEST.tmp")
      val existing = f.listStatus(new Path(root)).toSeq
        .filter(s => !reserved(s.getPath.getName) && !s.getPath.getName.startsWith("v="))
      if (existing.nonEmpty) {
        val v0 = new Path(versionDir(root, 0L))
        f.mkdirs(v0)
        existing.foreach { s =>
          require(f.rename(s.getPath, new Path(v0, s.getPath.getName)),
            s"rename-layout adoption: move ${s.getPath} -> $v0 failed")
        }
        f.create(new Path(s"$v0/_PUBLISHED"), true).close()
      }
    }
  }

  /** Flip LATEST to `v` — one shared implementation of the atomic
    * small-file publish ([[IO.atomicWriteSmallFile]]; the consumer
    * marks use the same one, so the crash-window reasoning lives in
    * one place — round-18 second review pass). */
  private def writeManifest(spark: SparkSession, f: FileSystem, root: String,
                            v: Long): Unit =
    IO.atomicWriteSmallFile(spark, new Path(s"$root/LATEST"),
      v.toString.getBytes("UTF-8"))

  /** Resolve the directory a reader should scan for the artifact at
    * `root` — the single read-side entry point of the staging family:
    *   - a root with a LATEST manifest or any `v=*` dir: the live
    *     version's directory; loud error if nothing is published yet
    *     (a torn first build must not read as an empty artifact);
    *   - a root with neither, which older builds published in place
    *     with a two-rename swap: `root` itself, after healing a swap
    *     that crashed between its renames ([[IO.recoverSwap]]). The
    *     next [[publish]] over it adopts that build as `v=000000`.
    * Layout detection is from the root's contents: `v=*` directories
    * and `LATEST` are RESERVED names at an artifact root — an artifact
    * whose own content created them (e.g. a table hive-partitioned on
    * a column literally named `v`) would be misdetected; no engine
    * artifact does, and new ones must not. */
  def resolveRead(spark: SparkSession, root: String): String = {
    val f = fs(spark, root)
    IO.recoverSwap(spark, root)
    val versioned = f.exists(new Path(s"$root/LATEST")) ||
      listVersions(f, root).nonEmpty
    if (!versioned) root
    else versionDir(root, liveVersion(spark, root).getOrElse(
      throw new IllegalStateException(
        s"versioned artifact root $root has version dirs but none published — " +
          "the first build either crashed before its _PUBLISHED marker " +
          "(rebuild) or is still in flight (wait for its publish)")))
  }

  /** Drop stale versions: keeps the live version plus its `keep` most
    * recent PUBLISHED predecessors, and deletes every other version
    * below live — including unpublished (torn/abandoned) build dirs.
    * Never touches the live version, anything newer (an in-flight
    * build's dir), or the manifest. In-flight readers of a
    * just-retired version are why `keep` defaults to 1: [[publish]]
    * runs it with keep=1 after each flip, so a version is deleted only
    * once two newer ones have published. Returns the deleted versions. */
  def gcVersions(spark: SparkSession, root: String, keep: Int = 1): Seq[Long] = {
    require(keep >= 0, "keep must be >= 0")
    val f = fs(spark, root)
    liveVersion(spark, root) match {
      case None => Seq.empty
      case Some(live) =>
        val preds = listVersions(f, root)
          .filter(v => v < live && isPublished(f, root, v))
        val retained = preds.takeRight(keep).toSet + live
        val doomed = listVersions(f, root)
          .filter(v => v < live && !retained(v))
        doomed.foreach(v => f.delete(new Path(versionDir(root, v)), true))
        doomed
    }
  }
}
