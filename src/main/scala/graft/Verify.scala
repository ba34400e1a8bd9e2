package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registered query's result →
  * parquet, plus its oracle SQL in oracle_sql.json, for the driver's
  * DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // dump timestamps as TIMESTAMP_MICROS so the DuckDB-side compare
      // sees the exact same µs values (INT96 would round-trip via ns)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"${sys.props("java.io.tmpdir")}/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-loop filter (same contract as SPARK_GRAFT_BENCH_ONLY): regex
    // over query names; unset = full sweep (what the driver runs)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(_.r)
    def wanted(name: String) = only.forall(_.findFirstIn(name).isDefined)
    val picked = SparkEntry.registry.filter(query => wanted(query.name))
    picked.foreach { query =>
      try query.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${query.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${query.name} failed: ${e.getMessage}")
      }
      // operators that persist at internal fan-out points cannot
      // unpersist before returning; clear between queries so blocks
      // don't accumulate across the 100+ query sweep
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = picked.map(query => s"${q(query.name)}: ${q(query.oracleSql)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
