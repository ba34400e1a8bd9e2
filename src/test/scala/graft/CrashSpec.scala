package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

/** Crash tests that kill a real JVM: each spec starts ONE child JVM
  * (this suite's class path, a small heap, a `local[1]` session), waits
  * for it to reach the crash window, `destroyForcibly()`s it (SIGKILL:
  * no shutdown hook, no finally block runs) and then checks what the
  * survivors see on disk from this suite's session. */
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

  /** Start `main` in a child JVM, wait until it writes `marker`, then
    * kill it. Fails with the child's output if it dies or stalls before
    * the marker. */
  private def killAtMarker(main: String, base: String, marker: String, args: String*): Unit = {
    val log = new java.io.File(s"$base/child.log")
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx768m") ++ addOpens ++
      Seq("-cp", sys.props("java.class.path"), main) ++ args
    val pb = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).redirectOutput(log)
    // keep the child's Spark scratch under `base`, which the spec deletes
    pb.environment().remove("SPARK_LOCAL_DIRS")
    val child = pb.start()
    try {
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(180)
      while (!Files.exists(Paths.get(marker)) && child.isAlive && System.nanoTime() < deadline)
        Thread.sleep(200)
      assert(Files.exists(Paths.get(marker)),
        s"child never reached the crash window (alive=${child.isAlive}); its output:\n" +
          scala.util.Try(Files.readString(log.toPath)).getOrElse("<none>").takeRight(4000))
    } finally {
      child.destroyForcibly()
      child.waitFor(60, TimeUnit.SECONDS)
    }
  }

  test("Staging.publish killed -9 mid-build: readers keep v1, the torn v2 never publishes, the next publish is v3 and GC sweeps v1 and v2") {
    import org.apache.hadoop.fs.Path
    val st = graft.io.Staging
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_publish_kill9"
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base), true)
    fs.mkdirs(new Path(base))
    val root = s"$base/artifact"
    val marker = s"$base/v2_written"
    killAtMarker("graft.PublishKill9Child", base, marker, base, root, marker)

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
}

/** Child JVM of the publish kill -9 spec: publishes v1, then starts a
  * second publish whose build writes its version dir, drops the marker
  * file and blocks until the parent kills it. Args: scratch base,
  * artifact root, marker path. */
object PublishKill9Child {
  def main(args: Array[String]): Unit = {
    val Array(base, root, marker) = args
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$base/spark-local")
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .getOrCreate()
    import spark.implicits._
    graft.io.Staging.publish(spark, root) { d => Seq(1).toDF("v").write.parquet(d) }
    graft.io.Staging.publish(spark, root) { d =>
      Seq(2).toDF("v").write.parquet(d)
      Files.writeString(Paths.get(marker), "v2 written")
      Thread.sleep(TimeUnit.MINUTES.toMillis(5))
    }
  }
}
