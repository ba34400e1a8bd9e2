package graft

import graft.incremental.Watermark
import graft.io.IO
import graft.pipeline.Ingest
import org.apache.hadoop.fs.Path

/** The watermark control table's text round trip and E1's order:
  * land, archive, then advance. */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private val tmp = sys.props("java.io.tmpdir")
  private def fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def fresh(name: String): String = {
    val p = s"$tmp/graft_test_inc_$name"
    fs.delete(new Path(p), true)
    p
  }
  private def wmOf(csv: String, t: String): String =
    Watermark.lookup(spark, csv, t).get.watermarkValue

  test("K6: a timestamp watermark round-trips as written whatever the JVM zone") {
    val csv = fresh("tz")
    val saved = java.util.TimeZone.getDefault
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("Asia/Tokyo"))
    try {
      Watermark.writeTable(spark, csv, Seq(
        Watermark.Entry("users", "2024-06-30 01:36:55", "updated_at"),
        Watermark.Entry("browsinghistory", "2024-06-30 00:00:00", "updated_at")))
      Watermark.update(spark, csv, "browsinghistory", Some("2024-06-30 02:00:00"))
      assert(wmOf(csv, "users") == "2024-06-30 01:36:55",
        "updating one table must not re-render another table's watermark")
      assert(wmOf(csv, "browsinghistory") == "2024-06-30 02:00:00")
    } finally java.util.TimeZone.setDefault(saved)
  }

  test("K6: the control table is one header-led part file; Spark-written tables still read") {
    val csv = fresh("layout")
    Watermark.writeTable(spark, csv, Seq(Watermark.Entry("t", "100", "v")))
    val parts = new java.io.File(csv).listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".csv"))
    assert(parts.length == 1, parts.mkString(","))
    assert(java.nio.file.Files.readAllLines(java.nio.file.Paths.get(csv, parts.head)).toArray.toSeq ==
      Seq("table_name,watermark_value,update_column", "t,100,v"))
    // a table written by Spark's CSV sink (the earlier writer) reads as is
    val legacy = fresh("legacy")
    IO.writeCsv(Seq(("users", "1719711415000000", "updated_us"), ("b", "7", "x"))
      .toDF("table_name", "watermark_value", "update_column"), legacy, singleFile = true)
    assert(Watermark.readTable(spark, legacy) == Seq(
      Watermark.Entry("users", "1719711415000000", "updated_us"), Watermark.Entry("b", "7", "x")))
  }

  test("K6: malformed control tables and unquotable fields fail loudly") {
    val csv = fresh("bad")
    def part(name: String, body: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(csv, name), body)
    def readFails(why: String): Unit = {
      val e = intercept[IllegalArgumentException](Watermark.readTable(spark, csv))
      assert(e.getMessage.contains(why), e.getMessage)
    }
    readFails("no watermark table")
    new java.io.File(csv).mkdirs()
    readFails("found []")
    part("part-00000.csv", "table_name,watermark_value,update_column\nt,1,v\n")
    part("part-00001.csv", "table_name,watermark_value,update_column\nt,2,v\n")
    readFails("exactly one part-*.csv")
    fs.delete(new Path(csv, "part-00001.csv"), false)
    part("part-00000.csv", "table,wm,col\nt,1,v\n")
    readFails("header")
    part("part-00000.csv", "table_name,watermark_value,update_column\nt,\"1,5\",v\n")
    readFails("unparseable row")
    for (v <- Seq("1,5", "say \"x\"", "a\nb"))
      intercept[IllegalArgumentException](
        Watermark.writeTable(spark, fresh("badw"), Seq(Watermark.Entry("t", v, "v"))))
  }

  test("K6/S10: control-table reads and writes run no Spark job") {
    val csv = fresh("jobs")
    val (_, w) = withJobCount(Watermark.writeTable(spark, csv, Seq(Watermark.Entry("t", "1", "v"))))
    val (e, l) = withJobCount(Watermark.lookup(spark, csv, "t"))
    val (_, u) = withJobCount(Watermark.update(spark, csv, "t", Some("2")))
    assert(e.map(_.watermarkValue).contains("1"))
    assert((w, l, u) == ((0, 0, 0)), s"jobs: writeTable $w, lookup $l, update $u")
    assert(wmOf(csv, "t") == "2")
  }

  /** A parquet source of `v` in `vs` and a control table at `wm0`. */
  private def e1Fixture(name: String, vs: Seq[Long], wm0: String) = {
    val base = fresh(name)
    val src = s"$base/src"
    vs.map(v => (v, s"r$v")).toDF("v", "payload").write.parquet(src)
    Watermark.writeTable(spark, s"$base/wm", Seq(Watermark.Entry("t", wm0, "v")))
    (base, spark.read.parquet(src))
  }

  private def landed(base: String, stamp: String): Seq[Long] =
    spark.read.json(IO.datedPath(s"$base/land", "stream", "t", "json", "20240102", stamp))
      .select("v").as[Long].collect().toSeq.sorted

  test("E1: the watermark advances only after landing and archive commit; a retry re-delivers") {
    val (base, source) = e1Fixture("order", Seq(50L, 150L, 200L), "100")
    // the archive zone is a regular file, so the archive write fails
    // after the landing write committed
    val badArchive = s"$base/archive_is_a_file"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(badArchive), "x")
    intercept[Exception](Ingest.incrementalIngest(spark, source, "t", s"$base/wm",
      s"$base/land", badArchive, "20240102", "20240102060000"))
    assert(wmOf(s"$base/wm", "t") == "100", "a failed archive write must not move the watermark")
    val retry = Ingest.incrementalIngest(spark, source, "t", s"$base/wm",
      s"$base/land", s"$base/arch", "20240102", "20240102070000")
    assert(retry.select("v").as[Long].collect().toSeq.sorted == Seq(150L, 200L))
    assert(landed(base, "20240102070000") == Seq(150L, 200L),
      "the retry must land the rows the failed run did not archive")
    assert(spark.read.parquet(IO.datedPath(s"$base/arch", "archives", "t", "parquet",
      "20240102", "20240102070000")).count() == 2L)
    assert(wmOf(s"$base/wm", "t") == "200")
  }

  test("E1: an empty batch lands nothing and keeps the watermark") {
    val (base, source) = e1Fixture("empty", Seq(50L, 80L), "100")
    val out = Ingest.incrementalIngest(spark, source, "t", s"$base/wm",
      s"$base/land", s"$base/arch", "20240102", "20240102060000")
    assert(out.isEmpty)
    assert(!fs.exists(new Path(IO.datedPath(s"$base/land", "stream", "t", "json",
      "20240102", "20240102060000"))), "an empty batch must leave no landing directory")
    assert(!fs.exists(new Path(IO.datedPath(s"$base/arch", "archives", "t", "parquet",
      "20240102", "20240102060000"))), "an empty batch must leave no archive directory")
    assert(wmOf(s"$base/wm", "t") == "100")
  }

  test("E1: a non-empty micro-batch costs at most two Spark jobs before the caller's QC") {
    val (base, source) = e1Fixture("budget", (1L to 40L), "10")
    val (_, jobs) = withJobCount(Ingest.incrementalIngest(spark, source, "t", s"$base/wm",
      s"$base/land", s"$base/arch", "20240102", "20240102060000"))
    assert(jobs <= 2, s"E1 ran $jobs jobs")
    assert(landed(base, "20240102060000") == (11L to 40L))
    assert(wmOf(s"$base/wm", "t") == "40")
  }
}
