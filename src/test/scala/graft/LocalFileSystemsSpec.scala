package graft

import java.io.File
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

import graft.io.LocalFileSystems
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

/** graft's `file:` filesystems: no process per written file, and the
  * same permissions as Hadoop's own local filesystems. */
class LocalFileSystemsSpec extends SparkSpec {

  private def fresh(name: String): String = {
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_localfs_$name"
    FileSystem.getLocal(new Configuration()).delete(new Path(base), true)
    Files.createDirectories(Paths.get(base))
    base
  }

  private def mode(p: String): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  private def octal(s: String): FsPermission = new FsPermission(Integer.parseInt(s, 8).toShort)

  test("a graft session writes, swaps, publishes and streams without starting a process") {
    // a child JVM: this suite's JVM may hold a `file:` FileSystem that
    // Hadoop cached before any graft session bound the scheme
    val base = fresh("noprocess")
    val log = new File(s"$base/child.log")
    val child = ChildJvm.start("graft.NoProcessChild", log, base)
    val exited = try child.waitFor(300, TimeUnit.SECONDS) finally child.destroyForcibly()
    val out = Files.readString(log.toPath)
    assert(exited && child.exitValue == 0, s"child failed; its output:\n${out.takeRight(4000)}")
    val report = out.linesIterator.filter(_.startsWith("[noprocess]")).toSeq
    assert(report.contains(s"[noprocess] file: ${classOf[LocalFileSystems.Fs].getName}"),
      report.mkString("\n"))
    assert(report.contains("[noprocess] process starts: 0"), report.mkString("\n"))
  }

  test("permission parity: created files, checksums and directories get stock Hadoop's modes under the same umask") {
    for (umask <- Seq("022", "027", "077")) {
      val base = fresh(s"parity_$umask")
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      def init[F <: FileSystem](f: F): F = { f.initialize(URI.create("file:///"), conf); f }
      val pairs = Seq(
        "raw" -> (init(new RawLocalFileSystem), init(new LocalFileSystems.Raw)),
        "checksummed" -> (init(new LocalFileSystem), init(new LocalFileSystems.Fs)))
      for ((kind, (stock, ours)) <- pairs) {
        def tree(f: FileSystem, side: String): Seq[String] = {
          val root = s"$base/$kind/$side"
          f.mkdirs(new Path(s"$root/a/b"))
          f.create(new Path(s"$root/a/b/part-00000")).close()
          f.create(new Path(s"$root/a/_SUCCESS"), true).close()
          Files.walk(Paths.get(root)).iterator.asScala.toSeq
            .map(p => Paths.get(root).relativize(p).toString).sorted
        }
        val names = tree(stock, "stock")
        assert(names == tree(ours, "ours"))
        assert(kind == "raw" || names.exists(_.endsWith(".crc")), names)
        for (n <- names)
          assert(mode(s"$base/$kind/ours/$n") == mode(s"$base/$kind/stock/$n"), s"$kind $n under umask $umask")
      }
      // FileContext: Hadoop's LocalFs against the bound Afs
      val bound = new Configuration(conf)
      LocalFileSystems.Bindings.foreach { case (k, v) => bound.set(k, v) }
      for ((side, c) <- Seq("stock" -> conf, "ours" -> bound)) {
        val fc = FileContext.getLocalFSFileContext(c)
        assert(fc.getDefaultFileSystem.isInstanceOf[LocalFileSystems.Afs] == (side == "ours"))
        fc.mkdir(new Path(s"$base/fc/$side/d"), FsPermission.getDirDefault, true)
        fc.create(new Path(s"$base/fc/$side/d/f"), java.util.EnumSet.of(CreateFlag.CREATE)).close()
      }
      for (n <- Seq("d", "d/f", "d/.f.crc"))
        assert(mode(s"$base/fc/ours/$n") == mode(s"$base/fc/stock/$n"), s"FileContext $n under umask $umask")
    }
  }

  test("setPermission round-trips through getFileStatus; a sticky mode takes Hadoop's own path") {
    val base = fresh("roundtrip")
    val raw = new LocalFileSystems.Raw
    raw.initialize(URI.create("file:///"), new Configuration())
    val f = new Path(s"$base/f")
    raw.create(f).close()
    for (m <- Seq("644", "640", "755", "700")) {
      raw.setPermission(f, octal(m))
      assert(raw.getFileStatus(f).getPermission == octal(m), m)
    }
    val d = new Path(s"$base/d")
    raw.mkdirs(d)
    raw.setPermission(d, octal("1777"))
    val st = raw.getFileStatus(d).getPermission
    assert(st.getStickyBit && st == octal("1777"), st.toString)
  }

  test("binding rule: graft's classes unless the SparkConf binds the key") {
    val all = LocalFileSystems.bindingsFor(new SparkConf(false))
    assert(all.toMap == Map(
      "fs.file.impl" -> classOf[LocalFileSystems.Fs].getName,
      "fs.AbstractFileSystem.file.impl" -> classOf[LocalFileSystems.Afs].getName))
    assert(LocalFileSystems.bindingsFor(new SparkConf(false)
      .set("spark.hadoop.fs.file.impl", classOf[LocalFileSystem].getName)).map(_._1) ==
      Seq("fs.AbstractFileSystem.file.impl"))
    assert(LocalFileSystems.bindingsFor(new SparkConf(false)
      .set("spark.hadoop.fs.file.impl", "x")
      .set("spark.hadoop.fs.AbstractFileSystem.file.impl", "y")).isEmpty)
  }
}

/** Child JVM of the no-process spec: opens a graft session, then
  * records `jdk.ProcessStart` events over the platform's file-writing
  * operations and prints them. A JFR `Recording` stopped and dumped
  * after the operations holds every event they started. Args: scratch
  * base. */
object NoProcessChild {
  def main(args: Array[String]): Unit = {
    val Array(base) = args
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$base/spark-local")
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .getOrCreate()
    import spark.implicits._
    val fsClass = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
      .getClass.getName
    val df = (1L to 20L).map(i => (i, s"r$i", i % 3)).toDF("id", "payload", "v")

    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    graft.io.IO.writeParquet(df, s"$base/parquet")
    graft.io.IO.writeJsonLines(df, s"$base/json")
    graft.io.IO.writeCsv(df, s"$base/csv")
    for (v <- 1L to 2L)
      graft.streaming.Streams.upsertBucketedBatch(spark, s"$base/bronze", df.withColumn("v", lit(v)),
        keys = Seq("id"), order = Seq("v"), nBuckets = 4)
    for (_ <- 1 to 2)
      graft.io.IO.replaceDir(spark, s"$base/swap")(d => graft.io.IO.writeParquet(df, d))
    graft.io.Staging.publish(spark, s"$base/staged")(d => graft.io.IO.writeParquet(df, d))
    graft.incremental.Watermark.writeTable(spark, s"$base/wm",
      Seq(graft.incremental.Watermark.Entry("t", "1", "v")))
    graft.io.IO.recordManifestConsumer(spark, s"$base/man", "k", 1L)
    graft.streaming.Streams.runFileStreamToParquet(spark, s"$base/json", df.schema,
      s"$base/ck", s"$base/stream_out", identity).count()
    rec.stop()

    val jfr = Paths.get(base, "child.jfr")
    rec.dump(jfr)
    val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
    def frames(e: jdk.jfr.consumer.RecordedEvent): Seq[String] =
      Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
        .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
    // Spark deletes a collected session's artifact directory with a
    // forked `rm -rf` on the JVM's cleaner thread, when GC finds the
    // session (the stream's runner sessions): not a write, and its
    // timing is GC's, so it is reported but not counted
    val (cleanup, counted) = starts.partition(e =>
      frames(e).exists(_.startsWith("org.apache.spark.sql.artifact.ArtifactManager")))
    counted.foreach(e => println(s"[noprocess] started ${e.getString("command")} at " +
      frames(e).take(12).mkString(" < ")))
    println(s"[noprocess] file: $fsClass")
    println(s"[noprocess] process starts: ${counted.size}")
    println(s"[noprocess] session-cleanup process starts, not counted: ${cleanup.size}")
    spark.stop()
  }
}
