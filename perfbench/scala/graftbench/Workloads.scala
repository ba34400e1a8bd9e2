package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.incremental.Watermark
import graft.io.IO
import graft.llm.{DedupLsh, TextAnalysis}
import graft.ops.Rows
import graft.pipeline.{Browsing, Ingest}
import graft.quality.Quality
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One workload: a pass is a fixed list of operations; `runPass` runs
  * them in order and `finishPass` does the untimed bookkeeping after. */
abstract class Workload(val spark: SparkSession, val inputs: String, val work: String,
                        val trace: Trace, val specs: Map[String, Quality.ReportSpec]) {
  def opsPerPass: Int
  /** Input roots whose scans count as source scans. */
  def sources: Seq[String]
  def runPass(p: Int): Unit
  /** (files, bytes) written by pass `p` under its lake root, and the
    * raw input bytes it consumed. Called right after the pass. */
  def passIo(p: Int): ((Long, Long), Long)
  def finishPass(p: Int, last: Boolean): Unit = ()
  def prepare(): Unit = ()
  /** Facts the output checks need, as JSON fields. */
  def checkInfo: Seq[(String, String)]
  def bronzeBytes: Long = 0L
  /** Seconds of pass `p`'s micro-batch, for workloads that run one. */
  def batchSeconds(p: Int): Option[Double] = None

  var opsDone = 0
  protected def op[T](span: String)(body: => T): T = {
    val r = trace.span(span)(body)
    opsDone += 1
    r
  }
  protected def task[T](name: String)(body: => T): T = op(s"pipeline.$name")(body)
  protected def qc(df: DataFrame, spec: String, path: String): Unit =
    trace.span("quality.qc")(Ingest.qualityCheck(df, specs(spec), path))
  protected def readParquet(path: String): DataFrame =
    trace.span("io.read")(spark.read.parquet(path))
  protected def writeParquet(df: DataFrame, path: String): Unit =
    trace.span("io.write")(IO.writeParquet(df, path))
}

object Workload {
  /** The DAG's tasks in pass order. Every traced run reports a time and
    * a job count for each, zero in the curation workload. */
  val DagTasks = Seq("e3_problemlog", "e3_exercise", "j1_browsing_synthesis",
    "j1_users_synthesis", "e1_users", "e1_browsing", "st_users", "st_browsing", "e2_browsing")

  /** QC report specs from `perfbench/qc_specs.json`, the file the
    * checks read too. Defaults and predicates are SQL text. */
  def loadSpecs(path: String): Map[String, Quality.ReportSpec] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    implicit val formats: Formats = DefaultFormats
    parse(Files.readString(Paths.get(path))) match {
      case JObject(fields) => fields.collect { case (name, spec: JObject) =>
        def strs(k: String) = (spec \ k).extract[List[String]]
        def rows(k: String) = (spec \ k).extract[List[List[String]]]
        name -> Quality.ReportSpec(
          nullCols = strs("nulls"),
          defaults = rows("defaults").map(r => r(0) -> expr(r(1))).toMap,
          dupKeys = strs("dup"),
          cleanRules = rows("clean").map(r => Quality.CleanRule(r(0), r(1), expr(r(2)))))
      }.toMap
      case other => sys.error(s"$path: expected a JSON object, got $other")
    }
  }

  def dirBytes(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }
  }

  def snapshot(root: String): Map[String, (Long, Long)] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
      finally s.close()
    }
  }

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { f =>
      val t = Paths.get(to).resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }
}

/** The reference DAG as one job, one pass after another: E3 full loads,
  * J1 synthesis, one E1 micro-batch with its streaming preprocessing,
  * E2 per-user browsing preprocessing, QC after every step.
  *
  * The micro-batch is a closed loop with one producer: each pass lands
  * the next slice of new and updated browsing and user rows in the raw
  * zone, runs E1 per table (watermark lookup, `> wm` scan, watermark
  * advance, landing plus archive, QC), then upserts what landed into a
  * keep-latest bronze table. Watermarks, landing zone and bronze persist
  * across passes, so bronze grows through the run. */
final class MedallionDag(spark: SparkSession, inputs: String, work: String, trace: Trace,
                         specs: Map[String, Quality.ReportSpec])
    extends Workload(spark, inputs, work, trace, specs) {
  import Workload._
  val opsPerPass = DagTasks.size
  private val raw = s"$work/raw"
  private val lake = s"$work/lake"
  private val stream = s"$lake/stream"
  val sources = Seq(inputs, raw)
  private val BatchFiles = Seq("problemlog.csv", "exercise.csv", "users.parquet", "events.parquet")
  private def batchLake(p: Int) = s"$lake/batch/p$p"
  private val BatchDay = "20250625"
  private val Stamp = "20250625120000"
  private var lastGood = -1
  private var before: Map[String, (Long, Long)] = Map.empty

  // the micro-batch loop's state
  private val Day = "20250701"
  private val tables = Seq("users" -> "user_id", "browsinghistory" -> "entry_id")
  private val short = Map("users" -> "users", "browsinghistory" -> "browsing")
  private val wm = s"$stream/control/watermark"
  private val fileWm = mutable.Map(tables.map(_._1 -> s"${Day}000000"): _*)
  private val Buckets = 8
  private var nextSlice = 0
  private val batchS = mutable.Map[Int, Double]()
  private val batchLog = mutable.ArrayBuffer[String]()
  private val landedBytes = mutable.Map[Int, Long]().withDefaultValue(0L)

  override def prepare(): Unit = {
    copyTree(s"$inputs/raw_base", raw)
    // the first watermark, which every raw_base row lies below
    val t0us = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods.parse
      implicit val formats: Formats = DefaultFormats
      (parse(Files.readString(Paths.get(inputs, "inputs.json"))) \ "t0_us").extract[Long]
    }
    Watermark.writeTable(spark, wm, tables.map { case (t, _) =>
      Watermark.Entry(t, t0us.toString, "updated_us") })
    before = snapshot(lake)
  }

  def runPass(p: Int): Unit = {
    val lk = batchLake(p)
    val land = s"$lk/landzone"
    val arch = s"$lk/archive"
    val rep = s"$lk/reports"
    def archived(t: String) = IO.datedPath(arch, "archives", t, "parquet", BatchDay, Stamp)
    task("e3_problemlog") {
      val landed = Ingest.batchFullLoad(spark, s"$inputs/problemlog.csv", "ProblemLog", land, arch,
        BatchDay, Stamp, sampleKeys = Seq("user_id", "time_done"))
      qc(landed, "problemlog", s"$rep/e3_problemlog.json")
    }
    task("e3_exercise") {
      val landed = Ingest.batchFullLoad(spark, s"$inputs/exercise.csv", "Exercise", land, arch,
        BatchDay, Stamp, sampleFraction = 1.0, sampleKeys = Seq("name"))
      qc(landed, "exercise", s"$rep/e3_exercise.json")
    }
    task("j1_browsing_synthesis") {
      val logs = readParquet(archived("ProblemLog"))
      val dim = readParquet(archived("Exercise"))
      val shaped = Ingest.enrich(logs, dim, "exercise", "name")
        .select(col("user_id"), col("time_done"), col("exercise"), col("problem_number"),
          col("correct"), col("points_earned"), col("topic"), col("area"))
      val out = s"$lk/bronze/browsing_synthesis"
      writeParquet(Rows.stampMetadata(shaped, "batch-sources", 2L, lit(Browsing.RunTime)), out)
      qc(readParquet(out), "browsing_synthesis", s"$rep/j1_browsing_synthesis.json")
    }
    task("j1_users_synthesis") {
      val out = s"$lk/bronze/users"
      writeParquet(Rows.stampMetadata(readParquet(s"$inputs/users.parquet"), "batch-sources", 3L,
        lit(Browsing.RunTime)), out)
      qc(readParquet(out), "users", s"$rep/j1_users_synthesis.json")
    }
    microBatch(p)
    task("e2_browsing") {
      val out = s"$lk/bronze/browsing"
      writeParquet(Browsing.pipeline(spark, inputs, perUser = true), out)
      qc(readParquet(out), "bronze_browsing", s"$rep/e2_browsing.json")
    }
  }

  /** Land the next slice, E1 per table, then the streaming upsert of
    * what E1 landed. Timed from landing to the last bronze commit. */
  private def microBatch(p: Int): Unit = {
    val b = nextSlice
    val stamp = f"$Day${b + 1}%06d"
    val t0 = System.nanoTime()
    trace.span("producer.land") {
      tables.foreach { case (t, _) =>
        val src = Paths.get(s"$inputs/slices/${short(t)}", f"$b%05d.parquet")
        require(Files.exists(src), s"slice pool exhausted at slice $b")
        Files.copy(src, Paths.get(s"$raw/${short(t)}", f"slice_$b%05d.parquet"))
        landedBytes(p) += Files.size(src)
      }
    }
    tables.foreach { case (t, _) =>
      task(s"e1_${short(t)}") {
        val batch = Ingest.incrementalIngest(spark, readParquet(s"$raw/${short(t)}"), t, wm,
          s"$stream/landzone", s"$stream/archive", Day, stamp)
        qc(batch, s"inc_${short(t)}", s"$stream/reports/${short(t)}/$stamp.json")
      }
    }
    tables.foreach { case (t, key) =>
      task(s"st_${short(t)}") {
        val files = trace.span("incremental.discover_files")(
          Watermark.discoverFiles(spark, s"$stream/landzone/stream/$t/json", fileWm(t)))
        require(files.size == 1, s"expected one new landed file for $t, found ${files.size}")
        val landed = trace.span("io.read")(IO.readJsonGlob(spark, files.head))
        val stamped = Rows.stampMetadata(landed, "clickhouse-streaming-data", 1L, lit(Browsing.RunTime))
        trace.span("streaming.upsert")(Streams.upsertBucketedBatch(spark, s"$stream/bronze/${short(t)}",
          stamped, keys = Seq(key), order = Seq("updated_us"), nBuckets = Buckets))
        fileWm(t) = stamp
      }
    }
    val t1 = System.nanoTime()
    batchS(p) = (t1 - t0) / 1e9
    trace.batchOf += ((p, t0, t1))
    nextSlice += 1
    batchLog += s"""{"slice": $b, "stamp": "$stamp", "watermarks": ${watermarkJson()}}"""
  }

  /** The watermark control table as the check sees it: a plain read of
    * the CSV part file, no Spark job. */
  private def watermarkJson(): String = {
    val part = new File(wm).listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    val rows = part.flatMap(f => Files.readAllLines(f.toPath).asScala.drop(1))
      .map(_.split(",")).map(a => s""""${a(0)}": "${a(1)}"""")
    rows.sorted.mkString("{", ", ", "}")
  }

  def passIo(p: Int): ((Long, Long), Long) = {
    val after = snapshot(lake)
    val written = after.filter { case (k, v) => !before.get(k).contains(v) }
    val input = BatchFiles.map(f => Files.size(Paths.get(inputs, f))).sum + landedBytes(p)
    ((written.size.toLong, written.values.map(_._1).sum), input)
  }

  override def finishPass(p: Int, last: Boolean): Unit = {
    if (lastGood >= 0 && lastGood != p) deleteTree(batchLake(lastGood))
    lastGood = p
    before = snapshot(lake)
  }

  override def bronzeBytes: Long = dirBytes(s"$stream/bronze")._2
  override def batchSeconds(p: Int): Option[Double] = batchS.get(p)

  def checkInfo: Seq[(String, String)] = Seq(
    "lake" -> s""""${batchLake(lastGood)}"""",
    "batch_day" -> s""""$BatchDay"""", "batch_stamp" -> s""""$Stamp"""",
    "stream_lake" -> s""""$stream"""",
    "slices_landed" -> nextSlice.toString,
    "batches" -> batchLog.mkString("[", ", ", "]"))
}

/** A curation chain over a seeded corpus: language ID and quality
  * score, exact dedup, MinHash near-dup pairs, connected components,
  * one canonical document per cluster; survivors land in the lake. */
final class CurationCorpus(spark: SparkSession, inputs: String, work: String, trace: Trace,
                           specs: Map[String, Quality.ReportSpec])
    extends Workload(spark, inputs, work, trace, specs) {
  import Workload._
  val opsPerPass = 6
  val sources = Seq(inputs)
  private def lake(p: Int) = s"$work/lake/p$p"
  private var lastGood = -1
  private var cached: Seq[DataFrame] = Nil
  private var checkFrames: Seq[(String, DataFrame)] = Nil

  private def materialize(df: DataFrame, counter: String = ""): DataFrame = {
    val d = df.persist(StorageLevel.MEMORY_AND_DISK)
    val n = d.count()
    if (counter.nonEmpty) trace.add(counter, n.toDouble)
    cached :+= d
    d
  }

  def runPass(p: Int): Unit = {
    val corpus = op("io.read")(spark.read.parquet(s"$inputs/corpus.parquet"))
    val scored = op("llm.score")(materialize(corpus
      .select(col("doc_id"), col("text"),
        TextAnalysis.langId(col("text")).as("lang"),
        TextAnalysis.qualityScore(col("text")).as("score"))
      .filter(col("lang") =!= "und" && col("score") > 0.2)))
    val kept = op("llm.exact_dedup")(materialize(
      DedupLsh.exactDedup(scored, "doc_id", "text").join(scored, Seq("doc_id"))
        .select("doc_id", "text", "lang", "score", "n_copies")))
    val pairs = op("llm.neardup_pairs")(materialize(
      DedupLsh.nearDupPairs(kept, "doc_id", "text"), "llm.pairs"))
    val clusters = op("llm.clusters")(materialize(
      DedupLsh.nearDupClusters(pairs.select("id_a", "id_b"))))
    op("io.write") {
      val survivors = kept.join(clusters, kept("doc_id") === clusters("id"), "left")
        .filter(col("cluster").isNull || col("cluster") === col("doc_id"))
        .select("doc_id", "lang", "score", "n_copies")
      IO.writeParquet(survivors, s"${lake(p)}/survivors")
    }
    checkFrames = Seq("scored" -> scored.select("doc_id", "lang", "score"),
      "kept" -> kept.select("doc_id", "n_copies"), "pairs" -> pairs, "clusters" -> clusters)
  }

  def passIo(p: Int): ((Long, Long), Long) = (dirBytes(lake(p)), dirBytes(s"$inputs/corpus.parquet")._2)

  override def finishPass(p: Int, last: Boolean): Unit = {
    // the last pass's intermediate frames are still cached: the checks
    // read them from here, outside the timed pass
    if (last) checkFrames.foreach { case (n, df) => df.write.mode("overwrite").parquet(s"$work/check/$n") }
    cached.foreach(_.unpersist(blocking = true))
    cached = Nil
    checkFrames = Nil
    if (lastGood >= 0 && lastGood != p) deleteTree(lake(lastGood))
    lastGood = p
  }

  def checkInfo: Seq[(String, String)] = Seq(
    "lake" -> s""""${lake(lastGood)}"""", "check_dir" -> s""""$work/check"""")
}
