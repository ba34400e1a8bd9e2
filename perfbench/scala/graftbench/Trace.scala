package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the harness's calls into each layer's public functions,
  * plus the Spark engine counters a listener sees.
  *
  * With tracing off, [[span]] only evaluates its body. With tracing on,
  * each span records name, start, end, parent and pass, and sets the
  * innermost span id as a Spark local property so that every job is
  * attributed to the span that submitted it, whenever the listener bus
  * delivers its events. Everything stays in memory until the run ends.
  */
final class Trace(val on: Boolean) {
  case class Span(id: Int, name: String, parent: Int, pass: Int, startNs: Long, var endNs: Long)

  val SpanProp = "graftbench.span"
  val PassProp = "graftbench.pass"

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var spark: SparkSession = _
  var pass: Int = -1

  // listener state: written on the listener-bus thread, read after drain
  private case class JobRec(span: Int, pass: Int, stages: Seq[Int])
  private case class StageRec(submitMs: Long, doneMs: Long)
  private case class TaskRec(stage: Int, runMs: Long, cpuNs: Long, shW: Long, shR: Long,
                             spill: Long, gcMs: Long, peakMem: Long)
  private case class QeRec(startMs: Long, planningMs: Long, sourceScans: Int,
                           sourceRows: Long, landedRows: Long)
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  // query executions and jobs outside any query execution that
  // `graft.incremental.Watermark` submitted, told apart by call site
  private val wmOpen = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val wmOps = new ConcurrentLinkedQueue[(Long, Long)]()
  private var sourceRoots: Seq[String] = Nil

  def install(s: SparkSession, sources: Seq[String]): Unit = {
    spark = s
    if (!on) return
    sourceRoots = sources.map(p => new java.io.File(p).getCanonicalPath)
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.add(JobRec(prop(SpanProp).map(_.toInt).getOrElse(-1),
          prop(PassProp).map(_.toInt).getOrElse(Int.MinValue), e.stageIds))
        if (prop(SQLExecution.EXECUTION_ID_KEY).isEmpty &&
            e.stageInfos.exists(_.details.contains(WatermarkCaller)))
          wmOpen.put(-1L - e.jobId, e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(wmOpen.remove(-1L - e.jobId)).foreach(t => wmOps.add((t, e.time)))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart if x.details.contains(WatermarkCaller) =>
          wmOpen.put(x.executionId, x.time)
        case x: SparkListenerSQLExecutionEnd =>
          Option(wmOpen.remove(x.executionId)).foreach(t => wmOps.add((t, x.time)))
        case _ =>
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        stages.put(i.stageId, StageRec(i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          tasks.add(TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime,
            m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
            m.diskBytesSpilled, m.jvmGCTime, m.peakExecutionMemory))
        }
    })
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases
        val planning = Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(p => p.endTimeMs - p.startTimeMs).sum
        val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
        val nodes = flatten(qe.executedPlan)
        val scans = nodes.collect {
          case f: FileSourceScanExec if f.relation.location.rootPaths.exists(p => isSource(p.toUri.getPath)) => f
        }
        val landed = nodes.collect {
          case d: DataWritingCommandExec => d.cmd match {
            case c: InsertIntoHadoopFsRelationCommand if c.outputPath.toUri.getPath.contains("/landzone/") =>
              d.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
            case _ => 0L
          }
        }.sum
        qes.add(QeRec(start, planning, scans.size,
          scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum, landed))
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Call-site frame of the watermark control table's functions. */
  private val WatermarkCaller = "graft.incremental.Watermark$"

  private def isSource(p: String): Boolean = sourceRoots.exists(r => p.startsWith(r))

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case o => o.children ++ o.subqueries
    }
    p +: inner.flatMap(flatten)
  }

  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val sc = spark.sparkContext
    val id = spans.size
    val s = Span(id, name, stack.headOption.getOrElse(-1), pass, System.nanoTime(), 0L)
    spans += s
    stack = id :: stack
    sc.setLocalProperty(SpanProp, id.toString)
    sc.setLocalProperty(PassProp, pass.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
    }
  }

  /** Wall-clock ms of each timed pass, to map query executions and
    * stages (which carry epoch-ms stamps) onto passes. */
  val passWindows = mutable.Map[Int, (Long, Long)]()
  /** (pass, start ns, end ns) of each micro-batch, for the streaming metrics. */
  val batchOf = mutable.ArrayBuffer[(Int, Long, Long)]()

  /** Counts the harness reads off a layer's outputs, per pass. */
  private val counters = mutable.Map[(Int, String), Double]().withDefaultValue(0.0)
  def add(name: String, v: Double): Unit = if (on) counters((pass, name)) += v

  def drain(): Unit = if (on) org.apache.spark.BenchBus.drain(spark.sparkContext)

  private def sec(ns: Long) = ns / 1e9

  /** Per-layer metrics of pass `p`. `taskNames` lists the pipeline
    * tasks every workload reports, zero where a workload has none. */
  def layerMetrics(p: Int, taskNames: Seq[String], ioWritten: (Long, Long),
                   bronzeBytes: Long): Seq[(String, Double, String)] = {
    drain()
    val js = jobs.asScala.toSeq.filter(_.pass == p)
    val byId = spans.map(s => s.id -> s).toMap
    def ancestors(id: Int): List[Int] =
      if (id < 0) Nil else id :: ancestors(byId(id).parent)
    val passSpans = spans.filter(_.pass == p).toSeq
    def spansWith(pred: String => Boolean) = passSpans.filter(s => pred(s.name))
    def total(pred: String => Boolean) = spansWith(pred).map(s => sec(s.endNs - s.startNs)).sum
    // jobs submitted inside a span subtree
    def jobsUnder(pred: String => Boolean): Double = {
      val roots = spansWith(pred).map(_.id).toSet
      js.count(j => ancestors(j.span).exists(roots)).toDouble
    }
    val (w0, w1) = passWindows(p)
    val stageIds = js.flatMap(_.stages).toSet
    val ts = tasks.asScala.toSeq.filter(t => stageIds(t.stage))
    val ss = stageIds.toSeq.flatMap(id => Option(stages.get(id)))
    val qs = qes.asScala.toSeq.filter(q => q.startMs >= w0 && q.startMs <= w1)
    val wm = wmOps.asScala.toSeq.filter { case (a, _) => a >= w0 && a <= w1 }
    val driverGap = ((w1 - w0) - covered(ss.filter(_.submitMs > 0)
      .map(s => (math.max(s.submitMs, w0), math.min(s.doneMs, w1))))) / 1e3
    val batch = batchOf.find(_._1 == p)
    val streamSpans = batch.toSeq.flatMap { case (_, a, b) =>
      spans.filter(s => s.name.startsWith("streaming.") && s.startNs >= a && s.endNs <= b) }
    Seq(
      ("spark.planning_s", qs.map(_.planningMs).sum / 1e3, "s"),
      ("spark.jobs", js.size.toDouble, "count"),
      ("spark.stages", ss.size.toDouble, "count"),
      ("spark.tasks", ts.size.toDouble, "count"),
      ("spark.driver_gap_s", driverGap, "s"),
      ("spark.task_run_s", ts.map(_.runMs).sum / 1e3, "s"),
      ("spark.task_cpu_s", ts.map(_.cpuNs).sum / 1e9, "s"),
      ("spark.shuffle_write_bytes", ts.map(_.shW).sum.toDouble, "B"),
      ("spark.shuffle_read_bytes", ts.map(_.shR).sum.toDouble, "B"),
      ("spark.spill_bytes", ts.map(_.spill).sum.toDouble, "B"),
      ("spark.gc_s", ts.map(_.gcMs).sum / 1e3, "s"),
      ("spark.peak_execution_memory_bytes", ts.map(_.peakMem).maxOption.getOrElse(0L).toDouble, "B"),
      ("io.read_s", total(_ == "io.read"), "s"),
      ("io.write_s", total(_ == "io.write"), "s"),
      ("io.files_written", ioWritten._1.toDouble, "count"),
      ("io.bytes_written", ioWritten._2.toDouble, "B"),
      // the harness's own discoverFiles spans, plus the control-table
      // round trips that Watermark.lookup/update run inside E1
      ("incremental.watermark_s", total(_.startsWith("incremental.")) + covered(wm) / 1e3, "s"),
      ("incremental.watermark_ops", spansWith(_.startsWith("incremental.")).size.toDouble + wm.size, "count"),
    ) ++ taskNames.flatMap { t =>
      Seq((s"pipeline.${t}_s", total(_ == s"pipeline.$t"), "s"),
        (s"pipeline.${t}_jobs", jobsUnder(_ == s"pipeline.$t"), "count"))
    } ++ Seq(
      ("pipeline.source_scans", qs.map(_.sourceScans).sum.toDouble, "count"),
      ("pipeline.rows_read_per_row_landed", {
        val landed = qs.map(_.landedRows).sum
        if (landed == 0) 0.0 else qs.map(_.sourceRows).sum.toDouble / landed
      }, "ratio"),
      ("quality.qc_s", total(_ == "quality.qc"), "s"),
      ("quality.qc_jobs", jobsUnder(_ == "quality.qc"), "count"),
      ("streaming.batch_s", streamSpans.map(s => sec(s.endNs - s.startNs)).sum, "s"),
      ("streaming.jobs_per_batch", {
        val ids = streamSpans.map(_.id).toSet
        js.count(j => ancestors(j.span).exists(ids)).toDouble
      }, "count"),
      ("streaming.bronze_bytes", bronzeBytes.toDouble, "B"),
      ("llm.score_s", total(_ == "llm.score"), "s"),
      ("llm.exact_dedup_s", total(_ == "llm.exact_dedup"), "s"),
      ("llm.neardup_pairs_s", total(_ == "llm.neardup_pairs"), "s"),
      ("llm.clusters_s", total(_ == "llm.clusters"), "s"),
      ("llm.clusters_jobs", jobsUnder(_ == "llm.clusters"), "count"),
      ("llm.pairs", counters((p, "llm.pairs")), "count"),
    )
  }

  /** Milliseconds covered by the union of `(start, end)` intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = -1L; var curE = -1L
    iv.filter { case (x, y) => y > x }.sortBy(_._1).foreach { case (x, y) =>
      if (x > curE) { if (curE > curS) total += curE - curS; curS = x; curE = y }
      else curE = math.max(curE, y)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Spans as JSON lines with self time (span minus the union of its
    * children's intervals). */
  def spansJson(): Seq[String] = {
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      kids.foreach { case (a, b) =>
        val a2 = math.max(a, end)
        if (b > a2) covered += b - a2
        end = math.max(end, b)
      }
      f"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "pass": ${s.pass}, """ +
        f""""start_s": ${sec(s.startNs)}%.6f, "end_s": ${sec(s.endNs)}%.6f, """ +
        f""""self_s": ${sec(s.endNs - s.startNs - covered)}%.6f}"""
    }
  }
}
