package graft.incremental

import graft.io.IO
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Watermark control table + incremental discovery (SURVEY §2.1
  * S10/S11, §2.2 K6, §2.10 ST2/ST3).
  *
  * The reference tracks batch-incremental progress in a single CSV
  * `(table_name, watermark_value, update_column)` that every ingest
  * task reads, filters, and rewrites
  * (dwh/ingest_click_house_incremental_load_users.py:28-46). The table
  * is O(#tables) rows, so it is read and written on the driver as
  * plain text through the Hadoop `FileSystem` — no Spark job, no
  * schema inference — and the DATA path never touches it beyond one
  * pushed-down predicate. Values round-trip as the exact text written:
  * an inferred schema would re-render a timestamp watermark in the
  * JVM's default zone on every rewrite and drift it.
  *
  * On-disk layout (unchanged from the Spark-written table, which still
  * reads): one directory holding one `part-*.csv` whose header is
  * `table_name,watermark_value,update_column`. Fields are unquoted, so
  * a value containing `,`, `"` or a line break is refused on write and
  * on read, as are a missing part file, a second part file and a bad
  * header — never a guessed parse.
  *
  * Semantics kept faithful: the watermark only advances on a non-empty
  * batch (ST2), and files/folders at-or-below the watermark are never
  * re-read, i.e. late data is dropped (ST3). E1 advances it only after
  * the batch's landing and archive writes commit
  * ([[graft.pipeline.Ingest.incrementalIngest]]): at-least-once.
  *
  * Durability contract (the reference's raw overwrite has none:
  * a crash mid-rewrite loses every table's watermark): [[writeTable]]
  * writes the new CSV beside the live table and swaps it in through
  * [[graft.io.IO.replaceDir]], the engine's one directory swap, and
  * [[readTable]] heals a swap that crashed between its renames with
  * [[graft.io.IO.recoverSwap]]. A crash at ANY point leaves either the
  * previous or the new watermark readable, never a torn/absent table;
  * the previous value merely re-reads one batch (at-least-once, the
  * safe direction). SINGLE WRITER assumed — concurrent [[update]]s
  * read-modify-write and can lose each other's rows, same as the
  * reference's design; one control table belongs to one scheduler.
  * Readers participate in recovery, so a reader racing a LIVE writer
  * could roll back its in-flight swap — serialize reads with writes
  * under that same scheduler; recovery is for crash remains, not
  * concurrency.
  */
object Watermark {

  case class Entry(tableName: String, watermarkValue: String, updateColumn: String)

  private val Header = "table_name,watermark_value,update_column"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Read the control CSV into memory (it is tiny by construction),
    * healing an interrupted swap first. Driver-side text read. */
  def readTable(spark: SparkSession, path: String): Seq[Entry] = {
    IO.recoverSwap(spark, path)
    val f = fsOf(spark, path)
    require(f.exists(new Path(path)), s"no watermark table at $path")
    val parts = f.listStatus(new Path(path)).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".csv"))
    require(parts.length == 1,
      s"watermark table $path must hold exactly one part-*.csv, found " +
        parts.map(_.getName).sorted.mkString("[", ", ", "]"))
    val in = f.open(parts.head)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    require(lines.headOption.contains(Header),
      s"watermark table ${parts.head} has header ${lines.headOption.getOrElse("<none>")}, " +
        s"expected $Header")
    lines.tail.filter(_.nonEmpty).map { line =>
      val fields = line.split(",", -1)
      require(fields.length == 3 && !line.contains('"'),
        s"watermark table ${parts.head}: unparseable row '$line' " +
          "(want three unquoted fields)")
      Entry(fields(0), fields(1), fields(2))
    }
  }

  /** S10 — scalar lookup for one table. */
  def lookup(spark: SparkSession, path: String, table: String): Option[Entry] =
    readTable(spark, path).find(_.tableName == table)

  /** K6 — advance one row and overwrite the control file. No-op when
    * `newValue` is None (empty batch; ST2). */
  def update(spark: SparkSession, path: String, table: String, newValue: Option[String]): Unit =
    newValue.foreach { v =>
      val updated = readTable(spark, path).map {
        case e if e.tableName == table => e.copy(watermarkValue = v)
        case e                         => e
      }
      writeTable(spark, path, updated)
    }

  /** Crash-safe overwrite: write the new CSV beside the live table,
    * then swap it in with [[graft.io.IO.replaceDir]] (see the
    * durability contract above). A plain `SaveMode.Overwrite` deletes
    * the live table before the new files commit — a crash in that
    * window loses every watermark. Driver-side text write of one part
    * file; no Spark job. */
  def writeTable(spark: SparkSession, path: String, entries: Seq[Entry]): Unit = {
    for (e <- entries; v <- Seq(e.tableName, e.watermarkValue, e.updateColumn))
      require(v != null && !v.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'),
        s"watermark field ${Option(v).map("'" + _ + "'").getOrElse("null")} of " +
          s"${e.tableName} cannot be stored unquoted (no comma, double quote or line break)")
    IO.replaceDir(spark, path) { tmp =>
      val out = fsOf(spark, tmp).create(new Path(tmp, "part-00000.csv"), true)
      try out.write(
        (Header +: entries.map(e => s"${e.tableName},${e.watermarkValue},${e.updateColumn}"))
          .mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** S2/P2 — incremental scan: rows strictly past the watermark. With a
    * parquet/JDBC source Catalyst pushes this predicate into the scan,
    * which is exactly the reference's `WHERE {col} > '{wm}'` pushdown. */
  def incrementalScan(df: DataFrame, updateColumn: String, watermark: String): DataFrame =
    df.filter(col(updateColumn) > lit(watermark).cast(df.schema(updateColumn).dataType))

  /** A2 — next watermark value = max(updateColumn) of the batch; None
    * when the batch is empty. */
  def nextWatermark(batch: DataFrame, updateColumn: String): Option[String] = {
    val r = batch.agg(max(col(updateColumn)).cast("string")).head()
    if (r.isNullAt(0)) None else Some(r.getString(0))
  }

  /** S11 — file-time incremental discovery
    * (dwh/preprocessing_streaming_incremental_load.py:50-77): dated
    * folders named yyyyMMdd compared as strings against the watermark
    * date, then per-file `yyyyMMddHHmmss` name prefixes against the
    * full watermark; surviving files sorted ascending. Listing is
    * driver-side metadata (same as any file-source discovery); the
    * data read stays distributed.
    */
  def discoverFiles(
      spark: SparkSession,
      base: String,
      watermark: String // yyyyMMddHHmmss
  ): Seq[String] = {
    val wmDate = watermark.take(8)
    IO.listChildren(spark, base)
      .filter(_ >= wmDate)
      .flatMap { day =>
        IO.listChildren(spark, s"$base/$day")
          .filter { f =>
            val stamp = f.takeWhile(_.isDigit)
            stamp.length == 14 && stamp > watermark
          }
          .map(f => s"$base/$day/$f")
      }
      .sorted
  }
}
