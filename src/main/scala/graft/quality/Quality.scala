package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The data-quality operator family (dwh/quality_report.py:6-160) —
  * the reference's entire testing story, run after every DAG task.
  *
  * Design: every *data* metric (null counts A3, default violations A4,
  * duplicate rows D2/A11, clean-success rates A6, volume A7) is folded
  * into ONE aggregate over the frame, which scans it once, instead of
  * the reference's one full-frame scan per check. It is not a single
  * job: the duplicate count's `count_distinct` plans an expand
  * aggregate with two exchanges (see [[metrics]]). Schema checks (A5
  * array-ness, A8 dtype expectations, A9 schema diff, P8 rename
  * mapping) are metadata-only: they read `df.schema`, never the data.
  */
object Quality {

  case class CleanRule(name: String, column: String, predicate: Column)

  case class ReportSpec(
      nullCols: Seq[String] = Seq.empty,
      defaults: Map[String, Column] = Map.empty,
      dupKeys: Seq[String] = Seq.empty,
      cleanRules: Seq[CleanRule] = Seq.empty
  )

  /** Build the single-pass metric frame: one row, one column per
    * metric, all BIGINT/DOUBLE. With `dupKeys` set, `count_distinct`
    * plans two exchanges (an expand aggregate), so under AQE the frame
    * runs 3 Spark jobs: one per exchange stage and the final one. */
  def metrics(df: DataFrame, spec: ReportSpec): DataFrame = {
    val nulls = spec.nullCols.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"))
    val defaults = spec.defaults.toSeq.map { case (c, expected) =>
      sum(when(col(c).isNotNull && col(c) =!= expected, 1L).otherwise(0L))
        .as(s"viol_$c")
    }
    val cleans = spec.cleanRules.flatMap { r =>
      Seq(
        sum(when(col(r.column).isNotNull && r.predicate, 1L).otherwise(0L))
          .as(s"valid_${r.name}"),
        sum(when(col(r.column).isNotNull, 1L).otherwise(0L)).as(s"total_${r.name}"))
    }
    val dup =
      if (spec.dupKeys.isEmpty) Seq.empty
      else {
        // duplicates-in-one-pass: count distinct keys vs total rows.
        // count_distinct over the key struct = all-but-first per key,
        // identical to pandas duplicated().sum() (quality_report.py:83).
        val key = struct(spec.dupKeys.map(col): _*)
        Seq((count(lit(1)) - count_distinct(key)).as("dup_rows"))
      }
    val volume = Seq(count(lit(1)).as("n_rows"), max(lit(df.columns.length.toLong)).as("n_cols"))
    val aggs = nulls ++ defaults ++ cleans ++ dup ++ volume
    val out = df.agg(aggs.head, aggs.tail: _*)
    spec.cleanRules.foldLeft(out) { (d, r) =>
      d.withColumn(
        s"rate_${r.name}",
        when(col(s"total_${r.name}") > 0L,
          lit(100.0) * col(s"valid_${r.name}") / col(s"total_${r.name}")))
    }
  }

  /** A7 full form — volume summary including the reference's "deep
    * memory" figure (quality_report.py:109-114). Rows/cols are exact;
    * bytes is Catalyst's optimized-plan size ESTIMATE (documented as
    * such in SURVEY §2.6 — an engine-specific stat, so it stays out of
    * the cross-engine oracle, which checks rows/cols via `a7_volume`). */
  def volumeEstimate(df: DataFrame): (Long, Int, BigInt) = {
    val rows = df.count()
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    (rows, df.columns.length, bytes)
  }

  /** A8 — dtype-expectation check (quality_report.py:55-64): compare
    * `DataType.simpleString` per column; "missing" when absent. */
  def dtypeCheck(df: DataFrame, expected: Map[String, String]): Seq[(String, String, String, Boolean)] = {
    val actual = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    expected.toSeq.sortBy(_._1).map { case (c, exp) =>
      val act = actual.getOrElse(c, "missing")
      (c, exp, act, act == exp)
    }
  }

  /** A9 — schema diff vs source (quality_report.py:116-131): source
    * columns missing from the transformed frame. */
  def schemaDiff(source: DataFrame, transformed: DataFrame): Seq[String] =
    (source.columns.toSet -- transformed.columns.toSet).toSeq.sorted

  /** A5 — array-field check: static under a typed schema. */
  def arrayCheck(df: DataFrame, cols: Seq[String]): Seq[(String, Boolean)] = {
    import org.apache.spark.sql.types.ArrayType
    cols.map(c =>
      c -> df.schema.find(_.name == c).exists(_.dataType.isInstanceOf[ArrayType]))
  }

  /** P8 — rename + mapping existence check (quality_report.py:105-107). */
  def renameChecked(df: DataFrame, mapping: Map[String, String]): DataFrame = {
    val missing = mapping.keys.filterNot(df.columns.contains)
    require(missing.isEmpty, s"rename sources absent: ${missing.mkString(",")}")
    mapping.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }
  }

  /** K7 — quality-report JSON sink: the one-row metric frame plus
    * schema-check results flattened to dotted keys, one JSON file —
    * exact shape of the reference's golden reports
    * (dwh/reports/...). Driver-side plain I/O: the report is one row. */
  def writeReport(
      metricsRow: DataFrame,
      schemaChecks: Seq[(String, String, String, Boolean)],
      path: String
  ): Unit = {
    val row = metricsRow.head()
    val dataKv = metricsRow.columns.zipWithIndex.map { case (c, i) =>
      val v = row.get(i)
      val j = v match {
        case null                                   => "null"
        case s: String                              => "\"" + Alerts.esc(s) + "\""
        // JSON has no NaN/Infinity literals
        case d: java.lang.Double if d.isNaN || d.isInfinite  => "null"
        case f: java.lang.Float if f.isNaN || f.isInfinite   => "null"
        case n @ (_: java.lang.Number | _: java.lang.Boolean) => n.toString
        // timestamps, dates, and anything else stringifies QUOTED —
        // bare `toString` here produced unparseable reports
        case other                                  => "\"" + Alerts.esc(other.toString) + "\""
      }
      s""""${Alerts.esc(c)}": $j"""
    }
    val schemaKv = schemaChecks.map { case (c, exp, act, ok) =>
      s""""format_check.${Alerts.esc(c)}": {"expected": "${Alerts.esc(exp)}", "actual": "${Alerts.esc(act)}", "ok": $ok}"""
    }
    val json = (dataKv ++ schemaKv).mkString("{", ", ", "}")
    val p = new java.io.File(path)
    Option(p.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.writeString(p.toPath, json)
  }
}
