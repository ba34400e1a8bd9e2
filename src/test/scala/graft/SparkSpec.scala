package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Scoped session-conf override, restored even on assertion failure
    * (the session is shared across suites). */
  def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  /** Materialize `df` via collect() (driving THIS queryExecution — a
    * count() would build a separate one and leave the adaptive plan
    * unfinalized), assert the adaptive plan is final if AQE produced
    * one, and return (rows, finalized plan string). The shared idiom
    * behind every AQE-ON plan pin. */
  def finalizedPlan(df: org.apache.spark.sql.DataFrame): (Array[org.apache.spark.sql.Row], String) = {
    val rows = df.collect()
    val fp = df.queryExecution.executedPlan.toString
    assert(!fp.contains("AdaptiveSparkPlan") || fp.contains("isFinalPlan=true"), fp)
    (rows, fp)
  }

  /** Every physical node reachable from `p`, descending through the
    * wrappers a plain collect() stops at: AQE's finalized plan, LEAF
    * QueryStageExec nodes, and SUBQUERY plans hanging off expressions
    * (e.g. a bloom-filter build aggregate inside might_contain). */
  def allPhysicalNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val below = p match {
      case a: AdaptiveSparkPlanExec => allPhysicalNodes(a.executedPlan)
      case q: QueryStageExec        => allPhysicalNodes(q.plan)
      case other                    => other.children.flatMap(allPhysicalNodes)
    }
    (p +: below) ++ p.subqueries.flatMap(allPhysicalNodes)
  }

  /** Run `f` and return its value with the number of Spark jobs it
    * started (the listener bus is drained before and after). */
  def withJobCount[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val out = f
      org.apache.spark.TestBus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.warehouse.dir", s"${sys.props("java.io.tmpdir")}/graft_warehouse_test")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
