package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness: one JVM, one `local[cpus]` session, one workload.
  *
  * Runs [[WarmupPasses]] untimed passes, then timed passes for
  * `--seconds` (at least one), and writes the raw measurements as one
  * JSON object to `--out` (spans to `--spans` when tracing). Every
  * metric comes from the first timed pass, so each run measures the
  * same stage of JIT and codegen warm-up however long a pass takes;
  * further passes only fill `--seconds`. The end-to-end metrics and
  * the output checks are computed from the JSON by `run.py`.
  *
  *   graftbench.Main --workload W --inputs DIR --work DIR --seconds S
  *                   --trace 0|1 --specs FILE --out FILE [--spans FILE]
  */
object Main {
  /** Untimed passes before the first timed one. The first pass of a JVM
    * holds the cold JIT and codegen cost (2-3x a warm pass). */
  private val WarmupPasses = 1

  def main(args: Array[String]): Unit = {
    val opts = mutable.Map[String, String]()
    args.grouped(2).foreach {
      case Array(k, v) if k.startsWith("--") => opts(k.drop(2)) = v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }
    val cpus = Runtime.getRuntime.availableProcessors
    val work = opts("work")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = new Trace(opts("trace") == "1")
    val inputs = opts("inputs")
    val specs = Workload.loadSpecs(opts("specs"))
    val wl: Workload = opts("workload") match {
      case "medallion_dag" => new MedallionDag(spark, inputs, work, trace, specs)
      case "curation_corpus" => new CurationCorpus(spark, inputs, work, trace, specs)
      case w => sys.error(s"unknown workload $w")
    }
    trace.install(spark, wl.sources)
    wl.prepare()

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    var attempted = 0L
    var failed = 0L
    case class PassRec(p: Int, wall: Double, cpu: Double, files: Long, bytes: Long, inBytes: Long,
                       batch: Option[Double], ok: Boolean)
    def runOne(p: Int, timed: Boolean, last: => Boolean): PassRec = {
      trace.pass = p
      wl.opsDone = 0
      val c0 = os.getProcessCpuTime
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ok = try { wl.runPass(p); true } catch {
        case e: Exception =>
          System.err.println(s"[graftbench] pass $p failed: $e")
          e.printStackTrace()
          false
      }
      val t1 = System.nanoTime()
      val c1 = os.getProcessCpuTime
      trace.passWindows(p) = (w0, System.currentTimeMillis())
      trace.pass = Int.MinValue
      spark.sparkContext.setLocalProperty(trace.PassProp, null)
      spark.sparkContext.setLocalProperty(trace.SpanProp, null)
      if (timed) {
        attempted += wl.opsPerPass
        failed += wl.opsPerPass - wl.opsDone
      }
      val ((files, bytes), inBytes) = wl.passIo(p)
      wl.finishPass(p, last)
      PassRec(p, (t1 - t0) / 1e9, (c1 - c0) / 1e9, files, bytes, inBytes, wl.batchSeconds(p), ok)
    }

    val warm = (1 to WarmupPasses).map(i => runOne(-i, timed = false, last = false))
    val setupEndMs = System.currentTimeMillis()
    val tEnd = System.nanoTime() + (opts("seconds").toDouble * 1e9).toLong
    val timed = mutable.ArrayBuffer[PassRec]()
    var more = true
    while (more) {
      timed += runOne(timed.size, timed = true, last = { more = System.nanoTime() < tEnd; !more })
    }

    val peakRssKb = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    val first = timed.head
    val layers =
      if (!trace.on || !first.ok) Nil
      else trace.layerMetrics(first.p, Workload.DagTasks, (first.files, first.bytes), wl.bronzeBytes)
    def passJson(r: PassRec) =
      f"""{"pass": ${r.p}, "wall_s": ${r.wall}%.6f, "cpu_s": ${r.cpu}%.6f, "files": ${r.files}, """ +
        f""""bytes": ${r.bytes}, "input_bytes": ${r.inBytes}, """ +
        s""""batch_s": ${r.batch.map(b => f"$b%.6f").getOrElse("null")}, "ok": ${r.ok}}"""
    val fields = Seq(
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime.toString,
      "setup_end_ms" -> setupEndMs.toString,
      "warmup" -> warm.map(passJson).mkString("[", ", ", "]"),
      "passes" -> timed.map(passJson).mkString("[", ", ", "]"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "peak_rss_mb" -> f"${peakRssKb / 1024.0}%.3f",
      "per_layer" -> layers.map { case (n, v, u) => f""""$n": {"value": $v%.6f, "unit": "$u"}""" }
        .mkString("{", ", ", "}"),
      "check" -> wl.checkInfo.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}"))
    Files.writeString(Paths.get(opts("out")),
      fields.map { case (k, v) => s""""$k": $v""" }.mkString("{", ",\n", "}\n"))
    if (trace.on) opts.get("spans").foreach(f =>
      Files.writeString(Paths.get(f), trace.spansJson().mkString("", "\n", "\n")))
    spark.stop()
  }
}
