package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Crash tests that kill a real JVM: each spec starts ONE child JVM
  * (this suite's class path, a small heap, a `local[1]` session), waits
  * for it to reach the crash window, `destroyForcibly()`s it (SIGKILL:
  * no shutdown hook, no finally block runs) and then checks what the
  * survivors see on disk from this suite's session. Children that need
  * a window held open work on the `slowfs:` scheme ([[SlowLocalFs]]),
  * whose per-operation latency stretches a window that lasts
  * milliseconds on a local disk to hundreds of them. */
class CrashSpec extends SparkSpec {
  import spark.implicits._

  /** The `--add-opens` flags Spark needs on JDK 17, as this JVM got
    * them (reported either joined or as a flag followed by its value). */
  private def addOpens: Seq[String] = {
    val in = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    in.zip(in.drop(1) :+ "").collect {
      case (a, _) if a.startsWith("--add-opens=") => a
      case ("--add-opens", v)                     => s"--add-opens=$v"
    }
  }

  /** Start `main` in a child JVM, poll `inWindow` until it holds, then
    * kill the child and return its pid. Fails naming `window` with the
    * child's output if the child dies, finishes or stalls before the
    * window opens, and fails naming it too if the window had closed by
    * the time the kill landed. */
  private def killInWindow(main: String, base: String, window: String, args: String*)(
      inWindow: => Boolean): Long = {
    val log = new File(s"$base/child.log")
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx768m") ++ addOpens ++
      Seq("-cp", sys.props("java.class.path"), main) ++ args
    val pb = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).redirectOutput(log)
    // keep the child's Spark scratch under `base`, which the spec deletes
    pb.environment().remove("SPARK_LOCAL_DIRS")
    val child = pb.start()
    def output = scala.util.Try(Files.readString(log.toPath)).getOrElse("<none>").takeRight(4000)
    try {
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(180)
      var hit = false
      while (!hit && child.isAlive && System.nanoTime() < deadline) {
        hit = inWindow
        if (!hit) Thread.sleep(1)
      }
      if (hit) {
        child.destroyForcibly()
        child.waitFor(60, TimeUnit.SECONDS)
      }
      assert(hit, s"child never reached window $window (alive=${child.isAlive}); its output:\n$output")
      assert(inWindow, s"child was killed after window $window closed; rerun, or widen the window")
      child.pid()
    } finally {
      child.destroyForcibly()
      child.waitFor(60, TimeUnit.SECONDS)
    }
  }

  private def freshBase(name: String): (String, org.apache.hadoop.fs.FileSystem) = {
    val base = s"${sys.props("java.io.tmpdir")}/$name"
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base), true)
    fs.mkdirs(new Path(base))
    (base, fs)
  }

  private def exists(p: String): Boolean = new File(p).exists()

  /** Whether the lock file at `p` names a holder: a claimer killed
    * between its create and its write leaves an empty file, which the
    * next claim adopts as unheld. */
  private def held(p: String): Boolean =
    scala.util.Try(Files.readString(Paths.get(p))).toOption.exists(_.contains("\"holder\""))

  test("Staging.publish killed -9 mid-build: readers keep v1, the torn v2 never publishes, the next publish is v3 and GC sweeps v1 and v2") {
    val st = graft.io.Staging
    val (base, fs) = freshBase("graft_test_publish_kill9")
    val root = s"$base/artifact"
    val marker = s"$base/v2_written"
    killInWindow("graft.PublishKill9Child", base, "v2 written, unpublished",
      base, root, marker)(exists(marker))

    def readLive(): Seq[Int] =
      spark.read.parquet(st.resolveRead(spark, root)).as[Int].collect().toSeq
    assert(readLive() == Seq(1), "readers must resolve the last published version")
    assert(st.liveVersion(spark, root).contains(1L))
    assert(fs.exists(new Path(s"$root/v=000002")) &&
      !fs.exists(new Path(s"$root/v=000002/_PUBLISHED")),
      "the killed build's dir must exist unpublished")
    val v3 = st.publish(spark, root) { d => Seq(3).toDF("v").write.parquet(d) }
    assert(v3 == 3L, s"the torn version's number must not be reused, got $v3")
    assert(readLive() == Seq(3))
    // the publish's own GC (keep=1) sweeps the torn dir and keeps v1 as
    // the published predecessor; an explicit keep=0 sweep retires v1
    assert(!fs.exists(new Path(s"$root/v=000002")), "the torn dir must be swept")
    assert(st.gcVersions(spark, root, keep = 0) == Seq(1L))
    assert(readLive() == Seq(3))
    fs.delete(new Path(base), true)
  }

  /** The fold kill -9 fixture: `n` one-row segments in the raw on-disk
    * shape `appendLandingManifest` writes, rows (f<i>.bin, 100 + i % 7). */
  private def foldFixture(man: String, n: Int): Seq[(String, Long)] = {
    (0 until n).map { i =>
      val seg = Paths.get(man, f"seg_${1700000000000L + i}%013d_$i%08x.json")
      Files.createDirectories(seg)
      Files.writeString(seg.resolve(s"part-00000-$i.json"),
        s"""{"path":"/data/landing/f$i.bin","length":${100 + i % 7}}""")
      Files.write(seg.resolve("_SUCCESS"), Array.empty[Byte])
      (s"/data/landing/f$i.bin", 100L + i % 7)
    }
  }

  /** What the fold kill -9 leaves must read back as the fixture, refuse
    * a plain re-fold naming the dead holder, and converge under
    * `takeoverCrashedFold` to one checkpoint and no live segments. */
  private def assertFoldRecovers(fs: org.apache.hadoop.fs.FileSystem, man: String,
                                 expected: Seq[(String, Long)], childPid: Long): Unit = {
    def readAll(): Seq[(String, Long)] =
      graft.io.IO.readLandingManifest(spark, man).as[(String, Long)].collect().toSeq.sorted
    assert(readAll() == expected.sorted, "the manifest must read back identical after the kill")
    val refused = intercept[IllegalStateException](graft.io.IO.compactLandingManifest(spark, man))
    assert(refused.getMessage.contains(s":pid$childPid:") &&
      refused.getMessage.contains("takeoverCrashedFold"),
      s"a plain re-fold must refuse the dead holder's lock: ${refused.getMessage}")
    val (_, rows) = graft.io.IO.compactLandingManifest(spark, man, takeoverCrashedFold = true)
    assert(rows == expected.size.toLong)
    assert(readAll() == expected.sorted, "the takeover re-fold must keep every row once")
    assert(fs.globStatus(new Path(s"$man/seg_*.json")).isEmpty, "live segments after the re-fold")
    assert(!fs.exists(new Path(s"$man/_FOLDING")), "the re-fold must release the lock")
  }

  test("manifest fold killed -9 in window A (_checkpoint.__swap_tmp present, _checkpoint absent): reads unchanged, re-fold refuses, takeover converges") {
    val (base, fs) = freshBase("graft_test_fold_kill9_a")
    val man = s"$base/man"
    val expected = foldFixture(man, 8)
    val pid = killInWindow("graft.FoldKill9Child", base,
      "A (_checkpoint.__swap_tmp present, _checkpoint absent)", base, man) {
      exists(s"$man/_checkpoint.__swap_tmp") && !exists(s"$man/_checkpoint")
    }
    assertFoldRecovers(fs, man, expected, pid)
    fs.delete(new Path(base), true)
  }

  test("manifest fold killed -9 in window B (_checkpoint present, segments left): reads dedup the overlap, re-fold refuses, takeover converges") {
    val (base, fs) = freshBase("graft_test_fold_kill9_b")
    val man = s"$base/man"
    val expected = foldFixture(man, 8)
    val pid = killInWindow("graft.FoldKill9Child", base,
      "B (_checkpoint present, segments left)", base, man) {
      exists(s"$man/_checkpoint") &&
        Option(new File(man).list()).exists(_.exists(_.startsWith("seg_")))
    }
    assertFoldRecovers(fs, man, expected, pid)
    fs.delete(new Path(base), true)
  }

  /** The bootstrap kill -9 fixture: a zone whose `_checkpoint` band
    * holds `n` payload files, plus two live waves of two files each.
    * Returns every (fname, length) a complete join ingests. */
  private def bootstrapFixture(base: String, n: Int): Seq[(String, Long)] = {
    val man = s"$base/man"
    def land(name: String, body: String): (String, Long) = {
      val p = Paths.get(base, "zone", name)
      Files.createDirectories(p.getParent)
      Files.writeString(p, body)
      (p.toString, body.length.toLong)
    }
    val folded = (0 until n).map(i => land(f"f$i%03d.bin", s"crash $i"))
    folded.grouped(20).foreach(w =>
      graft.io.IO.appendLandingManifest(spark, man, w.toDF("path", "length")))
    graft.io.IO.compactLandingManifest(spark, man)
    val live = for (w <- 0 until 2) yield {
      val wave = (0 until 2).map(j => land(s"g${w}_$j.bin", s"crash live $w $j"))
      graft.io.IO.appendLandingManifest(spark, man, wave.toDF("path", "length"))
      wave
    }
    (folded ++ live.flatten).map { case (p, len) => (Paths.get(p).getFileName.toString, len) }
  }

  /** What the bootstrap kill -9 leaves: the dead join's lock survives,
    * a plain re-join refuses naming it, `takeoverCrashedBootstrap`
    * converges to the whole corpus and releases the lock, and the
    * consumer then resumes as a steady-state drain. */
  private def assertBootstrapRecovers(base: String, expected: Seq[(String, Long)],
                                      childPid: Long): Unit = {
    val man = s"$base/man"
    val lock = Paths.get(s"$man/_consumers/.bootstrap_k.lock")
    val body = Files.readString(lock)
    assert(body.contains(s":pid$childPid:"), s"the surviving lock must name the killed child: $body")
    def join(takeover: Boolean) =
      graft.streaming.Streams.runManifestIngestStream(spark, man, s"$base/ck_k",
        s"$base/out_k", consumerId = Some("k"), bootstrapFromCheckpoint = true,
        takeoverCrashedBootstrap = takeover)
    val refused = intercept[IllegalStateException](join(takeover = false))
    assert(refused.getMessage.contains(s":pid$childPid:") && refused.getMessage.contains("takeover"),
      s"a plain re-join must refuse naming the dead holder: ${refused.getMessage}")
    assert(Files.readString(lock) == body, "a refused join must not touch the lock")
    val got = join(takeover = true).select("fname", "length").as[(String, Long)]
      .collect().toSeq.sorted
    assert(got == expected.sorted, s"the takeover join must ingest the whole corpus once " +
      s"(${got.size} vs ${expected.size} rows)")
    assert(!Files.exists(lock), "a completed takeover must release the lock")
    val resumed = graft.streaming.Streams.runManifestIngestStream(spark, man,
      s"$base/ck_k", s"$base/out_k", reset = false, consumerId = Some("k"))
    assert(resumed.count() == expected.size.toLong, "the recovered consumer must resume normally")
  }

  test("manifest bootstrap killed -9 in window A (.bootstrap_<id>.lock held, seed _SUCCESS absent): re-join refuses, takeover converges, resume works") {
    val (base, fs) = freshBase("graft_test_bootstrap_kill9_a")
    val expected = bootstrapFixture(base, 60)
    val lock = s"$base/man/_consumers/.bootstrap_k.lock"
    val pid = killInWindow("graft.BootstrapKill9Child", base,
      "A (.bootstrap_k.lock held, seed _SUCCESS absent)", base) {
      held(lock) && !exists(s"$base/out_k/batch_id=-1/_SUCCESS") &&
        !exists(s"$base/ck_k/_graft_bootstrap.json")
    }
    assertBootstrapRecovers(base, expected, pid)
    fs.delete(new Path(base), true)
  }

  test("manifest bootstrap killed -9 in window B (seed committed, _graft_bootstrap.json absent): re-join refuses, takeover converges, resume works") {
    val (base, fs) = freshBase("graft_test_bootstrap_kill9_b")
    val expected = bootstrapFixture(base, 60)
    val lock = s"$base/man/_consumers/.bootstrap_k.lock"
    val pid = killInWindow("graft.BootstrapKill9Child", base,
      "B (seed committed, _graft_bootstrap.json absent)", base) {
      held(lock) && exists(s"$base/out_k/batch_id=-1/_SUCCESS") &&
        !exists(s"$base/ck_k/_graft_bootstrap.json")
    }
    // the join pre-registered its mark before seeding: the dead join's
    // Long.MinValue mark holds every mark-respecting fold back
    val man = s"$base/man"
    assert(graft.io.IO.readManifestConsumerMark(spark, man, "k").contains(Long.MinValue))
    assert(graft.io.IO.compactLandingManifest(spark, man) == ((0, 0L)),
      "a fold must not move live segments past the killed join's mark")
    assertBootstrapRecovers(base, expected, pid)
    fs.delete(new Path(base), true)
  }
}

/** The session every kill -9 child runs: `local[1]`, its scratch under
  * the spec's `base`, and the `slowfs:` scheme at `opMs` per operation. */
object CrashChildSession {
  def apply(base: String, opMs: Long = 0L): SparkSession =
    SparkSession.builder()
      .master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$base/spark-local")
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .config("spark.hadoop.fs.slowfs.impl", classOf[SlowLocalFs].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.slowfs.impl", classOf[SlowLocalAfs].getName)
      .config("spark.hadoop.graft.test.slowfs.op.ms", opMs.toString)
      .getOrCreate()
}

/** Child JVM of the publish kill -9 spec: publishes v1, then starts a
  * second publish whose build writes its version dir, drops the marker
  * file and blocks until the parent kills it. Args: scratch base,
  * artifact root, marker path. */
object PublishKill9Child {
  def main(args: Array[String]): Unit = {
    val Array(base, root, marker) = args
    val spark = CrashChildSession(base)
    import spark.implicits._
    graft.io.Staging.publish(spark, root) { d => Seq(1).toDF("v").write.parquet(d) }
    graft.io.Staging.publish(spark, root) { d =>
      Seq(2).toDF("v").write.parquet(d)
      Files.writeString(Paths.get(marker), "v2 written")
      Thread.sleep(TimeUnit.MINUTES.toMillis(5))
    }
  }
}

/** Child JVM of the fold kill -9 specs: folds the manifest at `man`
  * through `slowfs:`, so each fold window stays open long enough for
  * the parent to kill inside it. Args: scratch base, manifest dir. */
object FoldKill9Child {
  def main(args: Array[String]): Unit = {
    val Array(base, man) = args
    graft.io.IO.compactLandingManifest(CrashChildSession(base, opMs = 150L), s"slowfs:$man")
  }
}

/** Child JVM of the bootstrap kill -9 specs: joins consumer `k` to the
  * compacted zone under `base` through `slowfs:`. Args: scratch base. */
object BootstrapKill9Child {
  def main(args: Array[String]): Unit = {
    val Array(base) = args
    graft.streaming.Streams.runManifestIngestStream(CrashChildSession(base, opMs = 50L),
      s"slowfs:$base/man", s"slowfs:$base/ck_k", s"slowfs:$base/out_k",
      consumerId = Some("k"), bootstrapFromCheckpoint = true)
  }
}
