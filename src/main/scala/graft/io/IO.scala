package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, element_at, lit, min, shiftleft, shiftright, split, sum}

/** Source/sink format matrix (SURVEY §2.1/§2.2).
  *
  * The reference moves every table through ADLS as JSON / JSON-lines /
  * CSV / Parquet files under a dated path layout
  * (dwh/general_lib.py:144-396). Spark equivalents are mostly one-liner
  * reads/writes; what we add is (a) the array-vs-lines JSON fallback
  * (general_lib.py:161-167), (b) the dated-path builder (K5), (c) a
  * JSON-array sink for exact parity with the reference's
  * `json.dumps(records)` single-file format (general_lib.py:341-362).
  *
  * Scale notes: single-file sinks (`coalesce(1)`) exist because the
  * reference emits one file per batch — they are for control tables and
  * micro-batch outputs only; the partitioned variants are the default.
  */
object IO {

  /** K5 — `{zone}/{base}/{entity}/{fmt}/{yyyyMMdd}/{stamp}_{entity}.{fmt}`
    * (dwh/ingest_click_house_full_load.py:33-36). */
  def datedPath(zone: String, base: String, entity: String, fmt: String,
                yyyyMMdd: String, stamp: String): String =
    s"$zone/$base/$entity/$fmt/$yyyyMMdd/${stamp}_$entity.$fmt"

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** S8 — catalog listing: immediate child names under a prefix
    * (dwh/general_lib.py:50-77). */
  def listChildren(spark: SparkSession, prefix: String): Seq[String] = {
    val f = fs(spark, prefix)
    val p = new Path(prefix)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName).sorted
  }

  /** S3 — JSON read with the reference's array-or-lines fallback: peek
    * at the first non-whitespace byte; '[' means one JSON array
    * document (multiLine), anything else is JSON-lines. The peek is a
    * driver-side 64-byte read of one file — no data pass. */
  def readJsonAuto(spark: SparkSession, path: String): DataFrame = {
    val f = fs(spark, path)
    val p = new Path(path)
    val first = {
      val target =
        if (f.getFileStatus(p).isDirectory)
          f.listStatus(p)
            .map(_.getPath)
            .find(q => !q.getName.startsWith("_") && !q.getName.startsWith("."))
        else Some(p)
      target.flatMap { t =>
        val in = f.open(t)
        try {
          val buf = new Array[Byte](64)
          val n = in.read(buf)
          (0 until math.max(n, 0)).map(buf(_).toChar).find(!_.isWhitespace)
        } finally in.close()
      }
    }
    if (first.contains('[')) spark.read.option("multiLine", "true").json(path)
    else spark.read.json(path)
  }

  /** S4 — CSV read, header + inferred types (dwh/general_lib.py:170-172). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** S5 — folder glob + union of all *.json (dwh/general_lib.py:118-142):
    * Spark's file source globs and unions natively. */
  def readJsonGlob(spark: SparkSession, folder: String): DataFrame =
    spark.read.json(s"$folder/*.json")

  /** S9 — empty-file guard (dwh/general_lib.py:152-155). */
  def isEmptyInput(df: DataFrame): Boolean = df.isEmpty

  /** K1 — CSV sink; single-file mode mirrors the reference's one-file
    * upload, partitioned mode is the scale default. */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val d = if (singleFile) df.coalesce(1) else df
    d.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  }

  /** K3 — JSON-lines sink; Spark's partitioned writes replace the
    * reference's manual 25k-row chunked appends (general_lib.py:364-384). */
  def writeJsonLines(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val d = if (singleFile) df.coalesce(1) else df
    d.write.mode(SaveMode.Overwrite).json(path)
  }

  /** K2 — JSON-ARRAY sink, exact parity with `json.dumps(records)`
    * single-file output (general_lib.py:341-362). One file, one array.
    * Executor-side single-partition write — no driver collect — but by
    * construction not parallel: micro-batch/control outputs only.
    */
  def writeJsonArray(df: DataFrame, file: String): Unit = {
    val arr = df.toJSON.coalesce(1).mapPartitions { it =>
      Iterator.single(it.mkString("[", ",", "]"))
    }(org.apache.spark.sql.Encoders.STRING)
    arr.write.mode(SaveMode.Overwrite).text(file)
  }

  /** K4 — Parquet sink (archive zone; dwh/general_lib.py:387-396). */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** S13/K12 — ORC source + sink (columnar twin of parquet; Spark ships
    * the ORC reader/writer natively, so format parity is one line). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** K13 — range-CLUSTERED parquet write: `repartitionByRange` +
    * `sortWithinPartitions` so every output file holds a disjoint,
    * sorted key range. Parquet stores per-file/rowgroup min-max stats,
    * so a point or range predicate on the cluster key then skips every
    * non-overlapping file at scan time — the poor-man's Z-order, and
    * at 100 TB the difference between touching 3 files and 30,000.
    * Returns the file count (the range exchange sizes output files by
    * data volume, not input splits). */
  def writeClustered(df: DataFrame, path: String, nFiles: Int,
                     keys: Column*): Int = {
    require(nFiles >= 1 && keys.nonEmpty, "need nFiles >= 1 and cluster keys")
    df.repartitionByRange(nFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
    val f = fs(df.sparkSession, path)
    f.globStatus(new Path(s"$path/part-*")).length
  }

  /** Morton/Z-order value of two non-negative `bits`-wide integer
    * columns: bit j of `x` lands at z-bit 2j, bit j of `y` at 2j+1, so
    * sorting by z interleaves both dimensions — points close in (x, y)
    * are close in z. Pure Column bit arithmetic (shift/and/sum of
    * disjoint bits), whole-stage codegen, replayable in any engine.
    * Callers quantize to [0, 2^bits) first (e.g. `pmod`, or a
    * percent_rank bucket for skewed dimensions). */
  def zValue(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "need 1 <= bits <= 31 per dimension")
    (0 until bits).flatMap { j =>
      Seq(
        shiftleft(shiftright(x.cast("long"), j).bitwiseAND(lit(1L)), 2 * j),
        shiftleft(shiftright(y.cast("long"), j).bitwiseAND(lit(1L)), 2 * j + 1))
    }.reduce(_ + _) // disjoint bit positions: + is |
  }

  /** K14 — Z-order clustered write: range-partition + sort by the
    * interleaved [[zValue]] of TWO dimensions, so per-file min-max
    * stats prune selective filters on EITHER column (a 1-D
    * [[writeClustered]] sort prunes only its leading key; the second
    * column's values smear across every file). The write itself is one
    * range exchange + in-partition sort — same cost shape as the 1-D
    * cluster at any scale. */
  def writeZOrdered(df: DataFrame, path: String, nFiles: Int,
                    x: Column, y: Column, bits: Int = 16): Int = {
    require(nFiles >= 1, "need nFiles >= 1")
    val z = zValue(x, y, bits)
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
    val f = fs(df.sparkSession, path)
    f.globStatus(new Path(s"$path/part-*")).length
  }

  /** S17/K16 — pack a small-file binary LANDING directory into a
    * parquet payload table `(fname, length, content)`: the measured
    * mitigation for listing-bound landing volumes (PROBES round-15:
    * 100k tiny files re-read at 176k files/s packed vs 18k files/s
    * through binaryFile and 0.4–1.2k files/s streamed — the per-file
    * listing/open cost is paid ONCE here and never again downstream).
    * One binaryFile pass, published through [[Staging.publish]] like
    * every staged artifact: each pack is a new immutable version, and a
    * reader sees the previous complete table until the manifest flips;
    * read it back with [[readPackedBinary]]. Default is SHUFFLE-FREE:
    * each scan task (the source bin-packs ~`maxPartitionBytes` of small
    * files per task) writes one output file, so output files arrive
    * ~`maxPartitionBytes`-sized with zero payload movement — at 100 TB
    * a `repartition` here would push every landing byte through
    * shuffle disk for nothing (round-15 review finding). Pass `nFiles`
    * only when an exact output count is worth one payload shuffle
    * (tiny fixtures, strict file-count contracts). The landing zone is
    * consumed exactly once by this pass and every decoder (m1–m7
    * family) reads the packed table. */
  def packBinaryDir(spark: SparkSession, srcGlob: String, dest: String,
                    nFiles: Option[Int] = None): Unit = {
    require(nFiles.forall(_ >= 1), "nFiles must be >= 1")
    Staging.publish(spark, dest) { tmp =>
      val rows = spark.read.format("binaryFile").load(srcGlob)
        .select(element_at(split(col("path"), "/"), -1).as("fname"),
          col("length"), col("content"))
      nFiles.fold(rows)(rows.repartition(_))
        .write.mode(SaveMode.Overwrite).parquet(tmp)
      // fname keys the packed rows on BASENAME: a glob spanning
      // subdirectories (a date-partitioned landing zone) with repeated
      // basenames would silently pack colliding fname rows and give
      // downstream readers ambiguous content (round-15 ADVICE). Fail
      // loudly INSIDE the publish (the live table stays untouched);
      // ONE single-agg job over the fname column of the just-written
      // parquet — columnar, no payload bytes move (the openManifested
      // check shape).
      val st = spark.read.parquet(tmp)
        .agg(count(lit(1)).as("n"), countDistinct(col("fname")).as("nd")).head()
      val (n, nDistinct) = (st.getLong(0), st.getLong(1))
      require(n == nDistinct,
        s"packBinaryDir: $srcGlob yields ${n - nDistinct} basename collisions " +
          s"($n files, $nDistinct distinct names) — rows would be ambiguous to " +
          "fname-keyed readers; pack each subdirectory separately or rename " +
          "colliding files")
    }
  }

  /** Read back a [[packBinaryDir]] table: the live published version
    * ([[Staging.resolveRead]]), complete whatever pack is in flight. */
  def readPackedBinary(spark: SparkSession, dest: String): DataFrame =
    spark.read.parquet(Staging.resolveRead(spark, dest))

  // ---- S18: manifest-listed binary landing zone (round-15 verdict
  // item 3). The round-15 probe measured the batch binaryFile source
  // LISTING-bound at 100k files (26.3 s driver listing vs 5.6 s scan)
  // and the stream drain capped at ~1.2k files/s: InMemoryFileIndex
  // stats every file on the DRIVER before the first task runs, O(files)
  // serial metadata RPCs that no executor count dilutes. s17/st17 pack
  // AFTER ingest, so the FIRST pass still paid O(files) listing. The
  // manifest source removes it: the WRITER side (the agent that lands
  // files — it already knows every path it wrote) appends each wave's
  // (path, length) rows to an append-only manifest (the watermark-table
  // pattern, one small segment per wave); the READER plans its splits
  // from the manifest — one glob over O(segments) tiny files — and the
  // per-file opens happen in EXECUTORS, hash-packed to
  // ~maxPartitionBytes per task. Driver cost is flat in file count;
  // total open cost is the same O(files) but distributed.
  //
  // Rotation protocol (the bounded-zone contract, S11's watermark
  // pattern applied to media): once a wave is packed/ingested, its
  // segment files are MOVED to an archive prefix in the same commit
  // that advances the ingest watermark — readers glob only live
  // segments, so the manifest dir stays O(un-ingested waves). A file
  // rotated out of the zone while still manifested fails the read
  // LOUDLY (missing path / length drift below) rather than silently
  // shipping partial bytes; rotate manifest and files together.

  /** Spark size confs round-trip with a unit suffix ("128mb",
    * "134217728b"); parse the handful of binary-prefix forms loudly.
    * The multiply is exact-checked: a nonsense size like "99999999p"
    * would otherwise wrap Long negative and feed a garbage split count
    * downstream instead of failing here (round-16 ADVICE; Spark's own
    * conf layer also rejects such values at set-time, so this guard is
    * for strings that reach the parser through any other door). */
  private[graft] def parseByteString(s: String): Long = {
    val t = s.trim.toLowerCase
    val (num, mult): (String, Long) =
      if (t.endsWith("kb")) (t.dropRight(2), 1L << 10)
      else if (t.endsWith("mb")) (t.dropRight(2), 1L << 20)
      else if (t.endsWith("gb")) (t.dropRight(2), 1L << 30)
      else if (t.endsWith("k")) (t.dropRight(1), 1L << 10)
      else if (t.endsWith("m")) (t.dropRight(1), 1L << 20)
      else if (t.endsWith("g")) (t.dropRight(1), 1L << 30)
      else if (t.endsWith("tb")) (t.dropRight(2), 1L << 40)
      else if (t.endsWith("t")) (t.dropRight(1), 1L << 40)
      else if (t.endsWith("pb")) (t.dropRight(2), 1L << 50)
      else if (t.endsWith("p")) (t.dropRight(1), 1L << 50)
      else if (t.endsWith("b")) (t.dropRight(1), 1L)
      else (t, 1L)
    num.trim.toLongOption.map { n =>
      try Math.multiplyExact(n, mult)
      catch {
        case _: ArithmeticException => throw new IllegalArgumentException(
          s"byte size '$s' overflows Long — not a usable size conf")
      }
    }.getOrElse(throw new IllegalArgumentException(
      s"cannot parse byte size '$s'"))
  }

  /** Append one landing WAVE to the manifest: `entries` is (path,
    * length) for the files just landed. Each wave lands as its own
    * immutable segment directory — append-only, no read-modify-write,
    * safe under concurrent waves (segment names are unique). */
  def appendLandingManifest(spark: SparkSession, manifestDir: String,
                            entries: DataFrame): Unit = {
    // snapshot BEFORE the emptiness probe: `entries` may be expensive
    // or nondeterministic, and two separate actions on it (isEmpty,
    // then the write) could manifest rows that differ from what the
    // probe saw (round-16 ADVICE). localCheckpoint materializes the
    // control-sized (path, length) frame once; both actions below read
    // the materialized blocks.
    val snap = entries.select(col("path"), col("length")).localCheckpoint()
    // a wave that landed nothing has nothing to manifest — and an
    // empty JSON segment is schema-less on read-back, which would
    // break the reader's column projection with a confusing error
    if (snap.isEmpty) return
    // UUID suffix: segment names must be unique under CONCURRENT
    // writers — a millis+nanos stamp alone can collide across JVMs,
    // and the Overwrite write below would then silently replace
    // another wave's rows, un-manifesting its landed files
    // (round-16 review finding)
    val seg = s"$manifestDir/seg_${System.currentTimeMillis()}_" +
      s"${java.util.UUID.randomUUID().toString.take(8)}.json"
    writeJsonLines(snap, seg, singleFile = true)
  }

  /** The manifest's one schema, passed EXPLICITLY to every segment
    * read: schema inference would cost an extra pass per read and
    * surface a corrupt segment as `_corrupt_record`/missing-column
    * analysis noise instead of the manifest columns simply reading
    * null (round-16 ADVICE; the ST18 stream reader always passed it). */
  private[graft] val ManifestSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("length",
      org.apache.spark.sql.types.LongType)))

  /** The compacted-manifest checkpoint table under a manifest root.
    * The name is outside the `seg_*.json` glob, so neither the batch
    * segment read nor the ST18 stream source ever sees it as a wave. */
  private[graft] def manifestCheckpointDir(manifestDir: String): String =
    s"$manifestDir/_checkpoint"

  /** On-disk bracket around compaction's one duplicate window (r17
    * verdict #2) AND the fold's exclusive lock (r18 verdict #1): the
    * ONLY state in which a (path, length) row can legitimately exist
    * in both the checkpoint and a live segment is a fold that crashed
    * (or is running) between its checkpoint swap-in and its last
    * segment delete. The fold exclusive-creates this marker at START
    * and removes it after the deletes, so (a) readers dedup exactly
    * while a fold is in flight or its crash window is open — and at no
    * other time, which keeps duplicate semantics UNIFORM across a
    * manifest's lifetime (a double-manifested file loud-fails
    * [[openManifested]]'s collision check identically before and after
    * the first fold) and keeps the steady-state read free of the
    * always-on full-manifest distinct the dedup used to cost; and
    * (b) a SECOND concurrent fold fails loudly at acquisition instead
    * of racing the first's `replaceDir` swap and segment deletes —
    * the single-fold-at-a-time rule enforced, not documented. The
    * marker body names the holder; a fold that fails in-process
    * releases the lock itself (deleting the marker when no duplicate
    * window exists, downgrading it to `released` when one might), so
    * only a kill -9'd holder leaves a held marker behind — recovery
    * is the explicit `takeoverCrashedFold` flag on the compaction
    * entry points. */
  private[graft] def foldingMarker(manifestDir: String): Path =
    new Path(s"$manifestDir/_FOLDING")

  /** Marker body for a crash window whose fold is NOT running: the
    * bracket must outlive the failed fold (readers keep deduplicating
    * the real duplicate window), but the lock must not — the next fold
    * adopts a released marker without `takeoverCrashedFold`. An EMPTY
    * marker (written by pre-lock engine versions) is treated the same
    * way. */
  private val ReleasedHolder = "released"

  /** The `holder` field of a lock marker's JSON body. */
  private def holderOf(txt: String): Option[String] =
    """"holder"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(txt).map(_.group(1))

  private def foldHolderId: String =
    s"${java.net.InetAddress.getLocalHost.getHostName}:" +
      s"pid${java.lang.ProcessHandle.current().pid()}"

  private def readSmallTextFile(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Whether `create(overwrite = false)` is ATOMIC on this store — a
    * verified claim then needs no settle/read-back at all (the create
    * either wins at the namenode or throws). True for HDFS-family
    * schemes by default; local FS and most object stores are
    * check-then-act (the round-19 race spec caught RawLocalFileSystem
    * racing) and stay in verified mode. Override per deployment with
    * the Hadoop conf key `graft.lock.atomic.create`. */
  private def lockCreateIsAtomic(f: FileSystem): Boolean =
    f.getConf.getBoolean("graft.lock.atomic.create",
      Set("hdfs", "viewfs", "webhdfs", "swebhdfs").contains(f.getScheme))

  /** Settle window for VERIFIED lock claims (Hadoop conf
    * `graft.lock.settle.ms`, default 50): the claim is safe as long as
    * no racer's exists-check → create gap exceeds it — microseconds on
    * a local FS, but on a high-latency object store the create +
    * read-back round trips themselves approach tens of ms, so size the
    * window to a few times the store's p99 write latency there (r19
    * verdict #2: the constant is an assumption about the store, not a
    * universal truth — stores whose exclusive create is atomic skip
    * the settle entirely via [[lockCreateIsAtomic]]).
    *
    * ==Per-scheme deployment table (r20 ADVICE #7)==
    * Validated by the `SlowLocalFs` racing-lock spec (25 ms injected
    * per op, 150 ms settle — exclusion and loud-loser classification
    * hold at 6× op latency):
    *
    * | store                  | exclusive create                          | mode                          | settle sizing |
    * |------------------------|-------------------------------------------|-------------------------------|---------------|
    * | hdfs / viewfs / webhdfs| atomic at the namenode                    | atomic fast path (no settle)  | n/a |
    * | file:// (dev, CI)      | check-then-act; .crc sidecars can read torn| verified + settle            | default 50 ms (a torn-crc first read also settles and re-reads — r22) |
    * | s3a://                 | historically HEAD-then-PUT (not atomic); newer connectors expose conditional (If-None-Match) PUT | verified + settle by default | 3–5× p99 PUT+GET (typically 200–500 ms); set `graft.lock.atomic.create=true` ONLY after validating the connector's conditional-create on your Hadoop version |
    * | abfs://                | ETag/If-None-Match create — effectively atomic on current connectors | verified by default; opt in via `graft.lock.atomic.create` after validating | 3–5× p99 write if staying verified |
    * | gs://                  | generation-match precondition — atomic on current connectors | same opt-in rule as abfs      | same |
    *
    * The opt-in default is deliberate: a store wrongly flagged atomic
    * silently skips the settle and re-opens the r20 adopt race, while
    * a store wrongly left in verified mode only pays an extra window
    * per contended claim. */
  private def lockSettleMs(f: FileSystem): Long =
    f.getConf.getLong("graft.lock.settle.ms", 50L)

  /** One verified lock-claim attempt: write `token` into `m`, then
    * prove ownership. `overwrite = false` is the fresh-claim path —
    * returns false when the marker already exists (IOException from
    * the exclusive create); on stores where that create is atomic
    * ([[lockCreateIsAtomic]]) a successful create IS the proof and no
    * settle is paid. `overwrite = true` claims over an existing
    * adoptable/crashed marker IN PLACE — the marker never vanishes, so
    * there is no delete-then-recreate gap in which a racer's fresh
    * create could acquire cleanly and lose the adopted-window flag
    * (r19 ADVICE: that gap could un-bracket a prior crash's still-open
    * duplicate window). An overwrite create always succeeds on every
    * store, so the overwrite path ALWAYS settles and verifies: racing
    * claimers all write, the last write wins the content, and exactly
    * the one that reads its own token back proceeds. */
  private def tryClaimLock(f: FileSystem, m: Path, token: String, what: String,
                           overwrite: Boolean): Boolean =
    try {
      val out = f.create(m, overwrite)
      try out.write(
        (s"""{"holder":"$token",""" +
          s""""acquired_at_ms":${System.currentTimeMillis()}}""").getBytes("UTF-8"))
      finally out.close()
      if (overwrite || !lockCreateIsAtomic(f)) {
        Thread.sleep(lockSettleMs(f))
        val back = holderOf(readClaimBack(f, m))
        if (!back.contains(token)) throw new IllegalStateException(
          s"lost the $what-lock race on $m — a concurrent $what " +
            s"acquired the lock (held by ${back.getOrElse("?")}); retry " +
            "after it completes")
      }
      true
    } catch {
      // a checksum error is never "the marker pre-existed": reporting
      // it so made the claimer classify its OWN marker as a foreign
      // holder, and two racers could both lose
      case e: java.io.IOException
          if !overwrite && !e.isInstanceOf[org.apache.hadoop.fs.ChecksumException] => false
    }

  /** Read back a marker this claimer has just written. On the local
    * checksummed FS a racing claimer's data and `.crc` writes can
    * interleave with ours, and the read then throws
    * `ChecksumException`: the marker is torn, not held by anyone else.
    * Settle one window and re-read, as [[readMarkerSettled]] does — a
    * racer caught between its two writes has finished by then. A tear
    * that persists means the data file and the `.crc` came from
    * different claimers; each wrote its whole body in one write, so
    * the data file still names exactly one holder. Drop the stale
    * `.crc` and read the data as it is: that holder wins and every
    * later reader sees a readable marker. */
  private[graft] def readClaimBack(f: FileSystem, m: Path): String = {
    import org.apache.hadoop.fs.{ChecksumException, ChecksumFileSystem}
    def read(): Either[ChecksumException, String] =
      try Right(readSmallTextFile(f, m))
      catch { case e: ChecksumException => Left(e) }
    read().left.flatMap { _ => Thread.sleep(lockSettleMs(f)); read() } match {
      case Right(txt) => txt
      case Left(e) => f match {
        case c: ChecksumFileSystem =>
          c.getRawFileSystem.delete(c.getChecksumFile(m), false)
          readSmallTextFile(c.getRawFileSystem, m)
        case _ => throw e
      }
    }
  }

  /** Read a lock marker's content for CLASSIFICATION. An EMPTY body is
    * ambiguous: a legacy/released bracket — or a mid-claim holder on an
    * atomic-create store, whose 0-length under-construction file is
    * visible between its create and close (the fresh claim there skips
    * the settle, so nothing else closes this window). Before treating
    * empty as adoptable, wait one settle window and re-read: a live
    * claimer's token becomes visible within it, and the racer then
    * classifies the marker as HELD instead of overwrite-claiming over a
    * legitimate owner (r20 ADVICE, high — adopt-on-empty without the
    * wait broke mutual exclusion on exactly the stores the atomic fast
    * path serves). */
  private def readMarkerSettled(f: FileSystem, m: Path): String = {
    def read(): String =
      try readSmallTextFile(f, m)
      catch { case _: java.io.FileNotFoundException => "" } // holder just finished
    // A ChecksumException on the FIRST read is the checksummed-FS
    // signature of the same create→close window the empty-body settle
    // exists for: the racer read the marker between the holder's data
    // and .crc sidecar writes (observed as a full-suite flake — BOTH
    // racing bootstraps aborted, an availability hole, not an
    // exclusion one). Treat it as unsettled: wait the window, re-read.
    // A checksum error that PERSISTS past the settle is genuine
    // corruption and stays loud (only the first read is guarded).
    val txt =
      try Some(read())
      catch { case _: org.apache.hadoop.fs.ChecksumException => None }
    txt match {
      case Some(t) if t.trim.nonEmpty => t
      case _ => Thread.sleep(lockSettleMs(f)); read()
    }
  }

  private[graft] case class FoldLock(token: String, adoptedWindow: Boolean)

  /** Acquire the fold lock: exclusive-create `_FOLDING` with this
    * acquisition's token. Returns the token, which the release checks
    * ([[releaseFoldLock]]), and whether the marker PRE-EXISTED as a
    * released/legacy crash-window bracket that this fold adopted — the
    * caller must then preserve the bracket on its own failure paths
    * (round-18 ADVICE: a retry whose write fails must not clear a
    * marker over a prior fold's still-open duplicate window).
    *
    * A marker HELD by another process fails loudly naming the holder:
    * either a concurrent fold is running (serialize them — the
    * single-fold-at-a-time contract) or the holder was kill -9'd
    * mid-fold; after verifying the latter, re-run with
    * `takeoverCrashedFold = true`. Both adoption and takeover claim
    * the marker IN PLACE (overwrite + read-back verify) so the bracket
    * over any real duplicate window is continuously present — two
    * racing takeovers still resolve to one winner (exactly the racer
    * that reads its own token back proceeds; the loser fails loudly). */
  private[graft] def acquireFoldLock(f: FileSystem, manifestDir: String,
                                     takeoverCrashedFold: Boolean): FoldLock = {
    val m = foldingMarker(manifestDir)
    // the token is per-ACQUISITION (holder id + nonce): see
    // tryClaimLock for the atomic-create fast path and the verified
    // settle window the non-atomic stores pay
    val token = s"$foldHolderId:${java.util.UUID.randomUUID().toString.take(8)}"
    if (tryClaimLock(f, m, token, "fold", overwrite = false))
      return FoldLock(token, adoptedWindow = false)
    // marker exists: a released crash-window bracket (adoptable), a
    // legacy empty marker (same, after the settle re-read rules out a
    // mid-claim holder), or a holder — live or kill -9'd
    val txt = readMarkerSettled(f, m)
    val holder = holderOf(txt)
    val adoptable = txt.trim.isEmpty || holder.contains(ReleasedHolder)
    if (!adoptable && !takeoverCrashedFold)
      throw new IllegalStateException(
        s"a fold of $manifestDir is already in flight: _FOLDING is held by " +
          s"${holder.getOrElse("an unidentified process")} " +
          s"(${txt.trim}) — one fold at a time per manifest (concurrent folds " +
          "race the checkpoint swap and each other's segment deletes). If " +
          "that holder crashed, re-run with takeoverCrashedFold = true; " +
          "readers keep deduplicating its crash window either way")
    tryClaimLock(f, m, token, "fold", overwrite = true)
    FoldLock(token, adoptedWindow = true)
  }

  /** Generic verified-claim process lock (the `acquireFoldLock`
    * pattern without the crash-window bracket semantics): exclusive
    * `_FOLDING`-style claim on `lockPath`, loud refusal naming the
    * holder when held, explicit `takeoverCrashed` recovery for a
    * kill -9'd holder (claimed IN PLACE — no unlocked gap). Callers
    * release with [[releaseProcessLock]] on EVERY in-process exit path;
    * unlike the fold lock there is no released/downgraded state — the
    * guarded operation must be safe to re-run from scratch (the
    * bootstrap seed is an idempotent overwrite). Returns this
    * acquisition's TOKEN: the release verifies it, so an operator who
    * mistakenly took over a LIVE holder cannot have that holder's exit
    * path delete the usurper's lock out from under it (r20 ADVICE —
    * the release was token-blind). */
  private[graft] def acquireProcessLock(spark: SparkSession, lockPath: String,
                                        what: String,
                                        takeoverCrashed: Boolean = false): String = {
    val f = fs(spark, lockPath)
    f.mkdirs(new Path(lockPath).getParent)
    val m = new Path(lockPath)
    val token = s"$foldHolderId:${java.util.UUID.randomUUID().toString.take(8)}"
    if (tryClaimLock(f, m, token, what, overwrite = false)) return token
    // empty content settles + re-reads before classifying — a fresh
    // atomic-create claimer's create→close window must not read as
    // "finished holder" and get overwrite-claimed (r20 ADVICE, high)
    val txt = readMarkerSettled(f, m)
    val holder = holderOf(txt)
    if (!takeoverCrashed && txt.trim.nonEmpty)
      throw new IllegalStateException(
        s"another $what of this target is already in flight: $m is held by " +
          s"${holder.getOrElse("an unidentified process")} (${txt.trim}) — " +
          s"one $what at a time. If that holder crashed, re-run with the " +
          s"takeover flag; a completed holder deletes the lock itself")
    tryClaimLock(f, m, token, what, overwrite = true)
    token
  }

  /** Delete `lockPath` iff it still holds `token` — the release half of
    * [[acquireProcessLock]]. A lock that was taken over carries the
    * usurper's token, so the original holder's exit path is a no-op
    * instead of unlocking the zone under the new owner. A missing
    * marker (already released, or the takeover itself completed and
    * released) is likewise a no-op. */
  private[graft] def releaseProcessLock(spark: SparkSession, lockPath: String,
                                        token: String): Unit = {
    val f = fs(spark, lockPath)
    val m = new Path(lockPath)
    if (holds(f, m, token)) f.delete(m, false): Unit
  }

  /** Whether the marker `m` still names `token` as its holder — the
    * one holder check both lock releases make. A missing marker holds
    * nothing. */
  private def holds(f: FileSystem, m: Path, token: String): Boolean =
    try holderOf(readSmallTextFile(f, m)).contains(token)
    catch { case _: java.io.FileNotFoundException => false }

  /** Release the fold lock iff `_FOLDING` still names this fold's
    * token: delete the marker, or, when `keepWindow` (the fold failed
    * after the point where duplicates may exist, or adopted a prior
    * crash's window), downgrade it to a lock-free crash-window bracket
    * — readers keep deduplicating, but the next fold needs no
    * takeover. A fold whose lock was taken over (`takeoverCrashedFold`
    * on a holder that was in fact alive) leaves the new holder's
    * marker alone, so the readers' bracket over the new holder's
    * duplicate window stays. */
  private def releaseFoldLock(f: FileSystem, manifestDir: String, token: String,
                              keepWindow: Boolean): Unit = {
    val m = foldingMarker(manifestDir)
    if (holds(f, m, token)) {
      if (keepWindow) {
        val out = f.create(m, true)
        try out.write(s"""{"holder":"$ReleasedHolder"}""".getBytes("UTF-8"))
        finally out.close()
      } else f.delete(m, false): Unit
    }
  }

  /** The accumulated manifest: (path, length), one row per landed file.
    * Reads the parquet CHECKPOINT (if [[compactLandingManifest]] has
    * run) plus the live `seg_*.json` segments appended since — one glob
    * over O(un-compacted waves) small files, never O(landed files)
    * driver work. When both sources exist AND the `_FOLDING` marker is
    * present the union is deduplicated by exact (path, length): the
    * only legitimate overlap is the compaction crash window
    * (checkpoint swapped in, folded segments not yet deleted), the
    * marker brackets exactly that window, and the dedup makes it
    * invisible to readers. Outside the marker the union is exact —
    * duplicate rows (a double-manifested file) surface identically
    * whether or not a fold has ever run (r17 verdict #2), and the
    * steady-state read pays no control-plane shuffle at all. A reader
    * racing a fold's START can check the marker just before it appears
    * and plan an un-deduped union over post-swap state; that read
    * LOUD-fails downstream (the collision check) and a retry passes —
    * transient, never silently wrong (and narrow: the marker now
    * appears at fold ACQUISITION, a whole write phase before the swap
    * that opens the window). */
  def readLandingManifest(spark: SparkSession, manifestDir: String): DataFrame = {
    val f = fs(spark, manifestDir)
    val ckpt = manifestCheckpointDir(manifestDir)
    // heal a compaction that crashed between its two renames, or the
    // checkpoint read below sees a missing dir (replaceDir contract)
    if (f.exists(new Path(manifestDir))) recoverSwap(spark, ckpt)
    val hasCkpt = f.exists(new Path(ckpt))
    val segDirs =
      if (f.exists(new Path(manifestDir)))
        f.globStatus(new Path(s"$manifestDir/seg_*.json")).map(_.getPath.toString).toSeq
      else Seq.empty[String]
    val hasSegments = segDirs.nonEmpty
    // concrete segment DIRS, not a glob string: an explicit-schema read
    // of an unexpanded glob trips the sink-metadata probe's literal
    // getFileStatus (and the dirs are already listed for the existence
    // check anyway — no extra metadata call)
    def segments = spark.read.schema(ManifestSchema).json(segDirs: _*)
    def checkpoint = spark.read.parquet(ckpt)
    (hasCkpt, hasSegments) match {
      case (true, true) =>
        val union = checkpoint.unionByName(segments)
        if (f.exists(foldingMarker(manifestDir))) union.distinct() else union
      case (true, false)  => checkpoint
      case (false, true)  => segments
      // no manifest at all (a consumer polling before the first
      // non-empty wave lands): an empty manifest, not a
      // PATH_NOT_FOUND crash — the batch twin of the stream runners'
      // zero-batches fallback
      case (false, false) =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ManifestSchema)
    }
  }

  /** Fold the accumulated `seg_*.json` segments into ONE parquet
    * checkpoint (round-16 verdict item 1): without this, the manifest
    * re-grows the small-files problem it was built to kill — one tiny
    * JSON segment per wave forever means a year of 5-minute waves puts
    * ~100k files under the very glob whose flatness the s18 probe
    * measured. After compaction a read is one parquet scan plus a glob
    * over only the segments appended SINCE — run it on the ingest
    * cadence (e.g. daily) and the live segment count stays O(waves per
    * cadence) — PROBES.md, "Landing-manifest compaction at 50k
    * segments".
    *
    * Crash-safe and concurrent-append-safe: the segment list is
    * snapshotted FIRST, so waves appended while the fold runs are
    * untouched; the checkpoint swaps in via the two-rename
    * [[replaceDir]] protocol; and a crash between the swap and the
    * segment deletes leaves duplicate rows that [[readLandingManifest]]
    * dedups and the next compaction folds away — every window is
    * either invisible or self-healing, never silent loss. ONE fold at
    * a time per manifest is ENFORCED (r18 verdict #1): the `_FOLDING`
    * marker doubles as an exclusive-create lock held for the whole
    * fold, so a concurrent second fold fails loudly naming the holder
    * instead of racing [[replaceDir]]'s fixed swap tmp names and the
    * winner's segment deletes; a kill -9'd holder is recovered with
    * `takeoverCrashedFold = true` (in-process failures release the
    * lock themselves, preserving the bracket over any real duplicate
    * window).
    *
    * Consumer contract: the BATCH reader ([[readBinaryFromManifest]])
    * sees an identical manifest before and after. A stream drain
    * ([[graft.streaming.Streams.runManifestIngestStream]]) lists the
    * live `seg_*.json` glob per trigger, so folding a segment the
    * drain has ALREADY ingested is invisible (seen-file log) and its
    * per-trigger relist SHRINKS — but folding a segment a LAGGING
    * drain has not yet listed would silently starve it of those waves
    * (the checkpoint parquet is outside its glob): the log-compaction
    * rule. `graceMs` is that rule as code — only segments at least
    * `graceMs` OLDER THAN THE NEWEST OBSERVED SEGMENT are folded, so
    * set it to an upper bound on consumer lag (e.g. a day for a daily
    * fold over 5-minute waves; the default 0 folds everything and is
    * for single-consumer/batch-only manifests).
    *
    * Registered consumer marks are ENFORCED, not advisory (r19 verdict
    * #1): when the zone has `_consumers/` marks, the cutoff also
    * clamps to `min(marks)` — exactly the bound
    * [[compactLandingManifestForConsumers]] uses — so an ESTABLISHED
    * lagging consumer (committed offsets, registered mark) can never
    * be silently starved by an age-heuristic fold; its unseen waves
    * stay live until its own mark advances past them. The age
    * heuristic was a guess about lag; the marks are the measurement,
    * and where both exist the measurement wins. A deliberately
    * mark-ignorant fold (decommission-by-force of a zone whose
    * consumers are known dead) must say so with
    * `ignoreConsumerMarks = true`; the binding mark is logged
    * ([[manifestFoldStatus]]) whenever the clamp holds segments back.
    * The cutoff is relative
    * to the newest segment's mtime, NOT the driver clock (r17 verdict
    * #3): segment mtimes come from the STORE's clock, and a
    * driver-clock cutoff silently erodes the grace window by exactly
    * the driver/store skew — a segment that landed "now" on a store
    * whose clock runs behind looks graceMs old immediately and gets
    * folded out from under the lagging drain the grace exists to
    * protect. Relative-to-newest keeps every comparison in the store's
    * own clock domain, at the price that the newest band of waves
    * never folds while appends are quiescent — bounded (O(waves within
    * grace of the newest) stay live), and the next wave unblocks them.
    * A FRESH stream drain started after compaction sees only live
    * segments, so a new consumer JOINS through
    * [[graft.streaming.Streams.runManifestIngestStream]]'s
    * `bootstrapFromCheckpoint` mode (seed from the checkpoint band +
    * stream live segments), or from the batch read — same rule as any
    * log-compacted source, with the stream-side bootstrap now a
    * capability (r18 verdict #1). Returns (segmentsFolded,
    * checkpointRows). */
  def compactLandingManifest(spark: SparkSession, manifestDir: String,
                             graceMs: Long = 0L,
                             takeoverCrashedFold: Boolean = false,
                             ignoreConsumerMarks: Boolean = false): (Int, Long) =
    // marks are read INSIDE the fold lock (the select closure runs
    // after acquisition): a mark recorded while this fold waited is
    // honored, and a concurrently-advancing mark only makes the clamp
    // conservative (folds less, never more). The clamp's diagnostic is
    // computed from the fold's OWN segment snapshot — one `_consumers/`
    // listing and one segment glob per fold, total (r20 verdict #2:
    // the status helper re-globbed `seg_*.json`, a second paged LIST
    // per fold at the probed 50k-segment object-store shape).
    foldManifestSegments(spark, manifestDir, takeoverCrashedFold) { all =>
      val aged =
        if (graceMs <= 0L) all
        else {
          val newest = all.map(_.getModificationTime).max
          all.filter(_.getModificationTime <= newest - graceMs)
        }
      if (ignoreConsumerMarks) aged
      else clampToMarks(spark, manifestDir, all)
        .fold(aged)(m => aged.filter(_.getModificationTime <= m))
    }

  /** min(marks) for the clamp, with the binding-consumer diagnostic
    * logged whenever the clamp holds live waves back — over the fold's
    * already-listed segment snapshot, so no fold path pays a second
    * segment glob (r20 verdict #2). Runs inside the fold lock. */
  private def clampToMarks(spark: SparkSession, manifestDir: String,
                           segSnapshot: Array[org.apache.hadoop.fs.FileStatus])
      : Option[Long] = {
    val marks = readManifestConsumers(spark, manifestDir)
    val st = manifestFoldStatusFromSnapshot(marks,
      segSnapshot.map(_.getModificationTime).toSeq)
    if (st.lagWaves > 0) logFoldClamp(manifestDir, st)
    st.markMtime
  }

  /** Fold only segments whose mtime is `<= cutoffInclusive` (store
    * clock domain) — the post-drain auto-fold's exact spelling of "the
    * waves this drain provably listed" ([[graft.streaming.Streams
    * .runManifestIngestStream]] passes newest-observed-at-start − 1,
    * strict, so mtime-granularity ties with a wave that landed just
    * after its listing can never fold an unlisted segment).
    *
    * Registered consumer marks clamp THIS cutoff too (round 20): an
    * ANONYMOUS drain's auto-fold on a zone that has marked siblings
    * would otherwise fold waves a lagging marked consumer has not
    * drained — "this drain listed it" proves nothing about its
    * siblings, the same one-level-down hole the graceMs clamp closed.
    * There is no caller that may legitimately out-fold a registered
    * mark, so there is no override here — mark-ignorant folding is the
    * public `ignoreConsumerMarks` spelling on
    * [[compactLandingManifest]] only. Marks are read inside the fold
    * lock, over the fold's own segment snapshot — one `_consumers/`
    * listing and one segment glob per fold. */
  private[graft] def compactLandingManifestOlderThan(
      spark: SparkSession, manifestDir: String,
      cutoffInclusive: Long,
      takeoverCrashedFold: Boolean = false): (Int, Long) =
    foldManifestSegments(spark, manifestDir, takeoverCrashedFold) { all =>
      val cut = math.min(cutoffInclusive,
        clampToMarks(spark, manifestDir, all).getOrElse(Long.MaxValue))
      all.filter(_.getModificationTime <= cut)
    }

  // ---- multi-consumer fold coordination (round 18): the manual rule
  // "set graceMs to an upper bound on the laggiest consumer's lag"
  // replaced by exact bookkeeping. Each drain records, after a
  // SUCCESSFUL run, the store-clock mtime through which it has
  // provably ingested every segment; the consumer-aware fold takes
  // min over all marks — never a guess, never starvation. Marks live
  // under `_consumers/` (outside the seg_*.json glob, like the
  // checkpoint and marker), one tiny file per consumer id,
  // single-writer per id (the same rule as every Staging artifact).

  private def consumersDir(manifestDir: String): String =
    s"$manifestDir/_consumers"

  /** Consumer ids name mark files: alnum/._- only, and NO leading dot
    * — a dot-prefixed id would validate, write a mark the tmp-file
    * filter in [[readManifestConsumers]] then HIDES, and be silently
    * starved by every fold (second review pass). Shared by record and
    * remove so the destructive side can never accept an id the record
    * side refuses. */
  private def requireConsumerId(id: String): Unit =
    require(id.nonEmpty && !id.startsWith(".")
      && id.forall(c => c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"consumer id '$id' must be [A-Za-z0-9_-][A-Za-z0-9._-]* — it names " +
        "a mark file (no path separators, no leading dot)")

  /** Atomic small-file publish: tmp-write + FileContext
    * rename(OVERWRITE) — one implementation of the pattern
    * [[Staging]]'s LATEST manifest also uses (atomic on HDFS/POSIX;
    * on S3-likes the copy window is microseconds over bytes), so the
    * crash-window reasoning lives in one place. */
  private[graft] def atomicWriteSmallFile(spark: SparkSession, target: Path,
                                          bytes: Array[Byte]): Unit = {
    val f = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(target.getParent, s".${target.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      target.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Record that consumer `id` has ingested EVERY segment with
    * mtime <= `upToMtime` (store clock domain — callers pass
    * newest-listed-at-start − 1, the same strict tie-safe bound the
    * single-drain auto-fold uses; a consumer that has ingested
    * nothing yet registers `Long.MinValue`, which holds every fold
    * back until its first real drain advances it — the PRE-REGISTRATION
    * step a consumer joining an ACTIVE zone runs before its first
    * drain, so a sibling's fold can never outrun it). Atomic
    * tmp+rename, so a crash never leaves a torn mark.
    *
    * NEVER moves a mark backward (round-18 ADVICE): the recorded value
    * is max(existing, upToMtime) — a drain cycle that happened to list
    * zero live segments (e.g. a cron-cadence drain right after a full
    * fold) records Long.MinValue, which must not regress the
    * consumer's real coverage and wedge every consumer-aware fold
    * until its next non-empty wave. To deliberately rewind a consumer
    * (re-ingest after data loss), decommission it
    * ([[removeManifestConsumer]]) and re-register. */
  def recordManifestConsumer(spark: SparkSession, manifestDir: String,
                             id: String, upToMtime: Long): Unit = {
    requireConsumerId(id)
    val f = fs(spark, manifestDir)
    f.mkdirs(new Path(consumersDir(manifestDir)))
    val mark = math.max(
      readManifestConsumerMark(spark, manifestDir, id).getOrElse(Long.MinValue),
      upToMtime)
    atomicWriteSmallFile(spark,
      new Path(s"${consumersDir(manifestDir)}/$id.json"),
      s"""{"consumer":"$id","up_to_mtime":$mark}""".getBytes("UTF-8"))
  }

  private def parseConsumerMark(txt: String, at: Path): Long =
    """"up_to_mtime"\s*:\s*(-?\d+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(
        s"consumer mark $at is torn or corrupt — delete it " +
          "(the consumer re-records on its next successful drain) or " +
          "repair the up_to_mtime field"))

  /** Consumer `id`'s recorded mark, if registered — one tiny file
    * read (the record side's never-backward clamp and callers that
    * need a single mark must not pay the O(consumers) listing). */
  def readManifestConsumerMark(spark: SparkSession, manifestDir: String,
                               id: String): Option[Long] = {
    requireConsumerId(id)
    val f = fs(spark, manifestDir)
    val p = new Path(s"${consumersDir(manifestDir)}/$id.json")
    if (!f.exists(p)) None
    else Some(parseConsumerMark(readSmallTextFile(f, p), p))
  }

  /** All registered consumer marks (id -> drained-through mtime).
    * A corrupt/torn mark fails LOUDLY with the repair action — a
    * silent skip would let the fold starve the very consumer the mark
    * protects, a silent Long.MinValue would wedge folding forever. */
  def readManifestConsumers(spark: SparkSession,
                            manifestDir: String): Map[String, Long] = {
    val f = fs(spark, manifestDir)
    val d = new Path(consumersDir(manifestDir))
    if (!f.exists(d)) Map.empty
    else f.listStatus(d).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json")
        && !s.getPath.getName.startsWith("."))
      .map { s =>
        s.getPath.getName.stripSuffix(".json") ->
          parseConsumerMark(readSmallTextFile(f, s.getPath), s.getPath)
      }.toMap
  }

  /** Remove consumer `id`'s mark — the DECOMMISSION step: a retired
    * drain's frozen mark would otherwise hold the fold cutoff back
    * forever (min over marks never advances past it). Idempotent.
    * Same id validation as the record side — a path-hostile id must
    * not reach a delete (second review pass). */
  def removeManifestConsumer(spark: SparkSession, manifestDir: String,
                             id: String): Unit = {
    requireConsumerId(id)
    fs(spark, manifestDir).delete(
      new Path(s"${consumersDir(manifestDir)}/$id.json"), false): Unit
  }

  /** Where a zone's fold cutoff is BOUND right now: the laggiest
    * registered consumer (the one whose mark is `min(marks)`), how far
    * its mark trails the newest live segment, and how many live waves
    * its lag holds back from folding. The decommission-or-wedge
    * contract is deliberate — a crashed consumer that never
    * decommissions freezes compaction for every sibling — but at fleet
    * size (1 k marks, r18 task 8) FINDING the wedger must not be a
    * scavenger hunt (r19 verdict #5): this is the lookup, and every
    * mark-clamped fold logs it. Diagnostics only — no fold behavior
    * changes here. */
  final case class ManifestFoldStatus(
      bindingConsumer: Option[String],
      markMtime: Option[Long],
      newestSegmentMtime: Option[Long],
      markAgeMs: Option[Long],
      lagWaves: Long)

  /** Compute [[ManifestFoldStatus]] for a zone: one `_consumers/`
    * listing plus the live segment glob — O(consumers + live waves)
    * driver metadata, the same cost every consumer-aware fold already
    * pays. Ties on `min(marks)` report the lexicographically-first id
    * (stable across calls). */
  def manifestFoldStatus(spark: SparkSession,
                         manifestDir: String): ManifestFoldStatus =
    manifestFoldStatusFromMarks(spark, manifestDir,
      readManifestConsumers(spark, manifestDir))

  /** [[manifestFoldStatus]] over marks the caller ALREADY read — the
    * standalone entry point's spelling; it pays its own segment glob.
    * Fold paths go through [[clampToMarks]] instead, which reuses the
    * fold's segment snapshot (one listing of each kind per fold — the
    * r18 fleet probe priced 0.29 s per `_consumers/` listing at 1k
    * marks, and a 50k-segment glob is a paged LIST on an object
    * store; doubling either inside every fold would silently regress
    * those prices, r20 verdict #2). */
  private def manifestFoldStatusFromMarks(
      spark: SparkSession, manifestDir: String,
      marks: Map[String, Long]): ManifestFoldStatus = {
    val f = fs(spark, manifestDir)
    val segMtimes =
      if (!f.exists(new Path(manifestDir))) Seq.empty[Long]
      else f.globStatus(new Path(s"$manifestDir/seg_*.json"))
        .map(_.getModificationTime).toSeq
    manifestFoldStatusFromSnapshot(marks, segMtimes)
  }

  /** Pure status computation over an already-listed (marks, segment
    * mtimes) snapshot — zero metadata calls. */
  private def manifestFoldStatusFromSnapshot(
      marks: Map[String, Long], segMtimes: Seq[Long]): ManifestFoldStatus = {
    val binding = marks.toSeq.sortBy { case (id, m) => (m, id) }.headOption
    val newest = segMtimes.maxOption
    ManifestFoldStatus(
      bindingConsumer = binding.map(_._1),
      markMtime = binding.map(_._2),
      newestSegmentMtime = newest,
      markAgeMs = for { n <- newest; b <- binding } yield n - b._2,
      lagWaves = binding.fold(0L)(b => segMtimes.count(_ > b._2).toLong))
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.io.IO")

  private def logFoldClamp(manifestDir: String, st: ManifestFoldStatus): Unit =
    log.info(
      s"fold of $manifestDir clamped by consumer mark: binding consumer " +
        s"${st.bindingConsumer.getOrElse("?")} (mark ${st.markMtime.getOrElse(-1L)}, " +
        s"${st.markAgeMs.getOrElse(-1L)} ms behind the newest segment) holds " +
        s"${st.lagWaves} live wave(s) back — if that consumer is retired, " +
        "decommission it (IO.removeManifestConsumer) to unwedge the cutoff")

  /** Consumer-aware compaction: fold exactly the segments EVERY
    * registered consumer has provably ingested — cutoff =
    * min(marks), inclusive (each mark already carries the strict
    * tie-safe bound). Starvation-free by construction: a lagging
    * drain's stale mark simply holds its un-ingested waves live until
    * its next successful run advances it — and a RETIRED drain must
    * be decommissioned ([[removeManifestConsumer]]) or its frozen
    * mark wedges the cutoff forever (the binding mark is logged via
    * [[manifestFoldStatus]] whenever it holds waves back, so the
    * wedger is named, not hunted). No registered consumers →
    * no-op (a single-consumer or batch-only zone uses
    * [[compactLandingManifest]] with `graceMs` directly — which
    * itself clamps to these marks when they exist). Same
    * single-fold-at-a-time rule as every fold. */
  def compactLandingManifestForConsumers(
      spark: SparkSession, manifestDir: String,
      takeoverCrashedFold: Boolean = false): (Int, Long) = {
    val f = fs(spark, manifestDir)
    // cheap existence pre-check keeps the no-consumer no-op lock-free;
    // the real mark read happens INSIDE the fold lock below, so this
    // path has the same staleness window as every other fold — a mark
    // registered while the fold waited for the lock is honored (r20
    // ADVICE: the pre-lock read gave this one path a wider window than
    // the invariant's comment promised), and the fold still prices ONE
    // `_consumers/` listing and ONE segment glob.
    if (!f.exists(new Path(consumersDir(manifestDir)))) (0, 0L)
    else foldManifestSegments(spark, manifestDir, takeoverCrashedFold) { all =>
      val marks = readManifestConsumers(spark, manifestDir)
      if (marks.isEmpty) Array.empty
      else {
        val st = manifestFoldStatusFromSnapshot(marks,
          all.map(_.getModificationTime).toSeq)
        if (st.lagWaves > 0) logFoldClamp(manifestDir, st)
        all.filter(_.getModificationTime <= marks.values.min)
      }
    }
  }

  /** Delete the fold's snapshotted segments with a bounded driver
    * thread pool (r18 verdict #3): the serial loop is O(segments)
    * round-trips — a 17-42 minute fold tail at 50k segments × the
    * 20-50 ms per-delete latency of an object store, which 32
    * in-flight deletes cut to 0.5-1.3 min (deletes are independent
    * metadata RPCs, so concurrency is pure latency-hiding;
    * `FileSystem` instances are thread-safe by Hadoop contract).
    * LOCAL file:// deletes stay serial: they are CPU-bound syscalls
    * (~300 µs each, PROBES.md "Fold wall by phase at 50k segments"),
    * there is no latency to hide, and the pool measured ~1.5× SLOWER
    * there (lock contention in the checksummed local FS). Every pooled
    * task settles before the first failure propagates (later failures
    * suppressed onto it)
    * — a throw mid-pool must not leave in-flight deletes racing the
    * caller's marker removal. That includes a thread INTERRUPT (r19
    * ADVICE: an uncaught InterruptedException mid-loop returned with
    * deletes still in flight): the wait resumes until every task has
    * settled, and the interrupt is re-asserted on the way out instead
    * of aborting the drain of the pool. */
  private def deleteSegmentsParallel(f: FileSystem, segs: Array[Path]): Unit = {
    if (segs.length <= 4 || f.getScheme == "file") {
      segs.foreach(p => f.delete(p, true)); return
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(32, segs.length))
    try {
      val futures = segs.map(p => pool.submit(
        new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = { f.delete(p, true); () }
        }))
      var first: Throwable = null
      var interrupted = false
      futures.foreach { fut =>
        var settled = false
        while (!settled)
          try { fut.get(); settled = true }
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (first == null) first = e.getCause
              else first.addSuppressed(e.getCause)
              settled = true
            case _: InterruptedException =>
              // keep waiting on THIS future: a delete is not
              // interruptible mid-RPC, and returning early would race
              // the caller's marker release
              interrupted = true
          }
      }
      if (interrupted) Thread.currentThread().interrupt()
      if (first != null) throw first
    } finally { pool.shutdown(); () }
  }

  private def foldManifestSegments(spark: SparkSession, manifestDir: String,
                                   takeoverCrashedFold: Boolean)(
      select: Array[org.apache.hadoop.fs.FileStatus] =>
        Array[org.apache.hadoop.fs.FileStatus]): (Int, Long) = {
    val f = fs(spark, manifestDir)
    val ckpt = manifestCheckpointDir(manifestDir)
    if (!f.exists(new Path(manifestDir))) return (0, 0L)
    recoverSwap(spark, ckpt)
    // the lock is the marker, acquired BEFORE the segment snapshot:
    // two concurrent folds would otherwise snapshot overlapping
    // segment sets and race replaceDir on the checkpoint (one swap
    // wins, the other can resurrect folded rows or delete segments the
    // winner's checkpoint never absorbed). Readers pay a dedup while
    // ANY fold is in flight — a fold is cadence work (daily), so the
    // steady-state read stays shuffle-free, and creating the bracket
    // this early only SHRINKS the documented reader-races-fold-start
    // transient.
    val lock = acquireFoldLock(f, manifestDir, takeoverCrashedFold)
    // windowOpen = "duplicate rows may exist between checkpoint and
    // live segments": true from acquisition if we adopted a prior
    // crash's bracket, true from just before this fold's swap until
    // its last segment delete
    var windowOpen = lock.adoptedWindow
    var done = false
    var out = (0, 0L)
    try {
      val all = f.globStatus(new Path(s"$manifestDir/seg_*.json"))
      if (all.isEmpty) {
        // zero live segments ⇒ no checkpoint/segment overlap is
        // possible, even for an adopted crash bracket — close it
        windowOpen = false
        done = true
      } else {
        val segs = select(all).map(_.getPath)
        if (segs.isEmpty) done = true
        else {
          val hasCkpt = f.exists(new Path(ckpt))
          val segRows = spark.read.schema(ManifestSchema)
            .json(segs.map(_.toString).toSeq: _*)
          // distinct makes a re-run after ANY crash idempotent:
          // re-folding rows the checkpoint already holds (crash before
          // the deletes) cannot duplicate them
          val folded =
            (if (hasCkpt) spark.read.parquet(ckpt).unionByName(segRows)
             else segRows).distinct()
          replaceDir(spark, ckpt) { tmp =>
            // a failure in the WRITE phase (the failure-prone part — a
            // distributed parquet job) provably precedes the swap: the
            // live checkpoint lacks the folded rows, so THIS fold
            // opened no duplicate window — windowOpen stays at the
            // adopted value, and the finally below deletes the marker
            // only when no prior window was adopted either (round-18
            // ADVICE: a retry whose write fails must not clear the
            // bracket over a PRIOR fold's still-open window). It flips
            // true once the write lands: a failure anywhere in the
            // swap phase conservatively keeps the bracket (a post-
            // swap-in throw leaves the new checkpoint live beside the
            // still-live segments — a real window).
            folded.write.mode(SaveMode.Overwrite).parquet(tmp)
            windowOpen = true
          }
          // delete exactly the snapshotted segments — waves appended
          // during the fold keep their segments and fold next time
          deleteSegmentsParallel(f, segs)
          windowOpen = false
          done = true
          out = (segs.length, spark.read.parquet(ckpt).count())
        }
      }
      out
    } catch {
      case e: Throwable =>
        // release on the FAILURE path here (suppressing cleanup errors
        // onto the original), success path releases below — a finally
        // can't distinguish the two without re-throw gymnastics
        try releaseFoldLock(f, manifestDir, lock.token, windowOpen)
        catch { case c: Throwable => e.addSuppressed(c) }
        throw e
    } finally {
      if (done) releaseFoldLock(f, manifestDir, lock.token, windowOpen)
    }
  }

  /** S18 — read a binary landing zone through its manifest: same
    * (fname, length, content) rows as the `binaryFile` source, but
    * split planning comes from the manifest instead of
    * InMemoryFileIndex — no per-file driver metadata calls, so the
    * driver-side cost is flat in file count (PROBES.md, "s18
    * manifest-listed ingest vs binaryFile at 20k-300k files"). Files
    * hash-pack into ~`spark.sql.files.maxPartitionBytes` tasks (balanced in
    * expectation — control-metadata shuffle only, the payload bytes
    * move exactly once, executor-side). Drift fails LOUDLY: a
    * manifested path that is missing, or whose on-disk length differs,
    * raises with the rotation contract named — silently skipping would
    * ship a partial corpus downstream. */
  def readBinaryFromManifest(spark: SparkSession, manifestDir: String): DataFrame =
    openManifested(spark, readLandingManifest(spark, manifestDir))

  /** Byte-aware split assignment (round-16 verdict item 3): hash-
    * packing paths into splits balances only IN EXPECTATION — one
    * near-2 GiB file amid thousands of tiny ones lands wherever its
    * hash falls and skews that task ~15× at the default target. This
    * packs CONTIGUOUSLY by cumulative bytes instead: rows are ordered
    * (length desc, path) — the LPT convention, giants first — a
    * distributed prefix sum ([[graft.ops.Cumsum]], O(partitions)
    * driver work, one control-row exchange) yields each file's
    * exclusive byte offset, and `__split = offset / targetBytes`.
    * Every split's total is then ≤ targetBytes + its own largest file
    * (≤ 2× target whenever files fit the target; an over-target file
    * sits alone in its split, the unavoidable single-row floor).
    * Returns (path, length, __split) with __split ∈ [0, ceil(bytes /
    * targetBytes)). */
  private[graft] def assignByteSplits(manifest: DataFrame,
                                      targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    graft.ops.Cumsum.globalCumsum(
      manifest.select("path", "length"),
      Seq(col("length").desc, col("path")), col("length"), "__cum")
      .withColumn("__split",
        ((col("__cum") - col("length")) / lit(targetBytes)).cast("long"))
      .drop("__cum")
  }

  /** The executor-side open kernel shared by the batch reader above
    * and the ST18 manifest STREAM (each micro-batch of manifest rows
    * passes through here): plan splits from the (path, length) frame,
    * open + read each file in executors, emit (fname, length, content).
    * The basename-collision check runs over whatever frame is passed;
    * `collisionScope` names a column that scopes it — the stream path
    * passes its segment column so a multi-wave micro-batch checks PER
    * WAVE (identical semantics at every trigger batching; cross-wave
    * collisions stay the packed table's post-hoc check and must not
    * poison a resumable drain), the batch path leaves it None and
    * checks the whole manifest. */
  private[graft] def openManifested(spark: SparkSession, manifest: DataFrame,
                                    collisionScope: Option[String] = None): DataFrame = {
    // basename keys the downstream rows (the packBinaryDir contract):
    // collisions (within the scope) are ambiguous — fail on the cheap
    // metadata before any payload byte moves
    val basename = element_at(split(col("path"), "/"), -1)
    val distinctKey = collisionScope
      .map(sc => countDistinct(col(sc), basename))
      .getOrElse(countDistinct(basename))
    val stats = manifest.agg(
      count(lit(1)).as("n"),
      distinctKey.as("nd"),
      sum(col("length")).as("bytes"),
      min(col("length")).as("min_len")).head()
    val (n, nd, bytes) = (stats.getLong(0), stats.getLong(1),
      if (stats.isNullAt(2)) 0L else stats.getLong(2))
    require(n == nd, s"manifest frame has ${n - nd} basename collisions" +
      collisionScope.fold("")(sc => s" within collision scope '$sc'") +
      " — fname-keyed readers would be ambiguous; rename or pack " +
      "colliding waves separately")
    // a negative manifested length is manifest corruption — caught on
    // the cheap metadata with the drift wording, not as a
    // NegativeArraySizeException at the executor alloc (round-16 ADVICE)
    require(stats.isNullAt(3) || stats.getLong(3) >= 0L,
      s"manifest drift: a manifested length is negative (${stats.getLong(3)}) " +
        "— the manifest is corrupt; re-land the wave and re-manifest")
    val maxPB = parseByteString(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    val nSplits = math.max(1L, (bytes + maxPB - 1) / maxPB).toInt
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    // byte-aware contiguous packing, then EXACT placement: a hash
    // repartition on __split could hash two split ids into one task
    // and leave another empty, re-introducing the skew the assignment
    // just removed — the key-as-partition-id partitioner is exact
    val rows = assignByteSplits(manifest, maxPB)
      .select("__split", "path", "length")
      .rdd
      // clamp: a ZERO-length file whose exclusive offset equals the
      // total (bytes divisible by the target) computes split == nSplits
      // — fold it into the last split instead of indexing past the end
      .map(r => (math.min(r.getLong(0), (nSplits - 1).toLong).toInt,
        (r.getString(1), r.getLong(2))))
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = nSplits
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      .mapPartitions { it =>
        it.map { case (_, (path, want)) =>
          val p = new Path(path)
          // strict bound: HotSpot caps array sizes a few elements below
          // Int.MaxValue, so exactly-2GiB would OOM with a VM-limit
          // error instead of this curated message
          require(want < Int.MaxValue.toLong - 8,
            s"$p: files at/over 2 GiB exceed a single binary cell (same bound " +
              "as the binaryFile source); shard or stream such payloads")
          val f = p.getFileSystem(confBc.value.value)
          val st =
            try f.getFileStatus(p)
            catch {
              case _: java.io.FileNotFoundException => throw new IllegalStateException(
                s"manifested file $p is missing — it was rotated out of the " +
                  "landing zone while still manifested; rotate manifest " +
                  "segments and files together (S18 rotation contract)")
            }
          require(st.getLen == want,
            s"manifest drift: $p is ${st.getLen} bytes on disk but manifested " +
              s"as $want — the landing contract is immutable files; re-land " +
              "the file under a new name and re-manifest")
          val buf = new Array[Byte](want.toInt)
          val in = f.open(p)
          try org.apache.hadoop.io.IOUtils.readFully(in, buf, 0, want.toInt)
          finally in.close()
          org.apache.spark.sql.Row(p.getName, want, buf)
        }
      }
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("fname",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType, nullable = false))))
  }

  /** Restore a directory from a half-completed [[replaceDir]] swap: a
    * crash between the two renames leaves the data at `path.__swap_old`
    * and nothing at `path`. Any reader of a swap-managed table calls
    * this first (replaceDir itself does). No-op when `path` exists. A
    * trailing slash on `path` names the same directory.
    *
    * Concurrent heals are safe: a reader whose rename loses the race
    * re-checks that the artifact is live and proceeds. One benign race
    * with an in-flight swap: a reader's heal firing INSIDE the
    * builder's rename window can restore the old artifact before the
    * builder's second rename, which then fails its `require` loudly.
    * The live artifact is the intact previous build, nothing is lost,
    * and retrying the build succeeds. */
  def recoverSwap(spark: SparkSession, dir: String): Unit = {
    val path = dir.stripSuffix("/")
    val f = fs(spark, path)
    val old = new Path(s"$path.__swap_old")
    if (!f.exists(new Path(path)) && f.exists(old)) {
      // two readers healing concurrently both pass the exists check;
      // the loser's rename returns false AFTER the winner healed — a
      // failed rename is only an error if the path is STILL missing
      val renamed = f.rename(old, new Path(path))
      require(renamed || f.exists(new Path(path)),
        s"recovery rename $old -> $path failed")
    }
  }

  /** Crash-safe directory replacement: `write` produces the new
    * contents into a tmp dir BESIDE the target, then the swap is
    * rename-only — new beside, old aside, new in, old gone. A crash at
    * any point leaves a complete copy at `path` or `path.__swap_old`
    * (never a window with neither, which delete-then-rename has), and
    * [[recoverSwap]] restores the latter on the next access. Hadoop
    * rename reports failure by RETURNING false, so every rename is
    * checked — an unflagged failed rename would nest tmp inside the
    * still-existing target. The engine's one directory swap: compact(),
    * the streaming upsert sink and the watermark control table
    * ([[graft.incremental.Watermark.writeTable]]) all replace through
    * it, so the crash-window reasoning lives in one place. A trailing
    * slash on `path` names the same directory; the side directories
    * always sit beside it, never inside it. */
  def replaceDir(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    val path = dir.stripSuffix("/")
    val f = fs(spark, path)
    val tmp = s"$path.__swap_tmp"
    val old = s"$path.__swap_old"
    def mv(src: String, dst: String): Unit =
      require(f.rename(new Path(src), new Path(dst)), s"rename $src -> $dst failed")
    recoverSwap(spark, path)
    f.delete(new Path(tmp), true)
    write(tmp)
    // a stale old copy can only exist here if a prior swap crashed
    // AFTER its swap-in (path is live) — safe to drop before our swap
    f.delete(new Path(old), true)
    if (f.exists(new Path(path))) mv(path, old)
    mv(tmp, path)
    f.delete(new Path(old), true)
  }

  /** K11 — small-file compaction: rewrite a table directory into
    * ~`targetBytes`-sized files. The small-files problem is the classic
    * large-pipeline failure mode — a micro-batch sink drips thousands of
    * KB-scale files per day and every downstream scan pays a task (and a
    * namenode round-trip) per file. One distributed read → repartition to
    * ceil(bytes/target) → rewrite; the swap runs through [[replaceDir]],
    * so a crash at any point leaves a complete directory recoverable.
    * Returns (filesBefore, filesAfter).
    *
    * Contract: `path` must be a FLAT parquet directory (data files only,
    * no partition subdirectories). A hive-partitioned table would have
    * its partition column re-inferred and rewritten as a data column
    * into a flat layout — a silent schema/layout change — so the method
    * rejects directories containing subdirectories instead of guessing.
    */
  def compact(spark: SparkSession, path: String, targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val f = fs(spark, path)
    // a crash between a prior swap's renames leaves the data at
    // __swap_old — restore BEFORE listing, or the size stats and the
    // flat-dir guard run against an empty directory
    recoverSwap(spark, path)
    // Partition dirs are 'col=value' — their names contain '=' even
    // when the column is hidden-prefixed (st12 writes '__bucket=N'),
    // so the partition check keys on '='; hidden system entries
    // WITHOUT '=' (_temporary from a killed write, .crc dirs) are the
    // only directories compaction may ignore
    val subdirs = f.globStatus(new Path(s"$path/*"))
      .filter(s => s.isDirectory && {
        val n = s.getPath.getName
        n.contains("=") || !(n.startsWith("_") || n.startsWith("."))
      })
      .map(_.getPath.getName)
    require(subdirs.isEmpty,
      s"compact() requires a flat parquet directory; $path contains subdirectories " +
        s"(${subdirs.take(3).mkString(", ")}) — compact each partition leaf instead")
    def dataFiles(p: String): Array[org.apache.hadoop.fs.FileStatus] =
      f.globStatus(new Path(s"$p/*")).filter(s =>
        s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    val before = dataFiles(path)
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    replaceDir(spark, path) { tmp =>
      spark.read.parquet(path).repartition(nOut)
        .write.mode(SaveMode.Overwrite).parquet(tmp)
    }
    (before.length, dataFiles(path).length)
  }
}
