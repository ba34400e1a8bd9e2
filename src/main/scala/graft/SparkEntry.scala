package graft

import graft.ops.{Dedup, Rows}
import graft.pipeline.Browsing
import graft.registry.{CorpusAnalysisQueries, CoverageQueries, DedupSimQueries, IoQueries,
  MultimodalQueries, PipelineQueries, Query, StreamQueries, TextQueries}
import graft.session.Sessionize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract (SURVEY.md §7): `queries` and `oracleSql`, both
  * derived from [[SparkEntry.registry]], where each name is one
  * [[graft.registry.Query]] record holding its Spark run and its DuckDB
  * oracle SQL side by side.
  *
  * Every registered query has a deterministic total ordering and
  * BIGINT/DOUBLE/STRING/BOOLEAN/TIMESTAMP/DATE-only output columns so
  * the DuckDB oracle hash-compare cannot flap on dtype width or row
  * order. The shared `events`→browsing mapping lives in
  * [[graft.Tables.browsing]]; its SQL twin is [[SparkEntry.BH]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Browsing.pipeline(spark, "/root/testdata/sf0.001", perUser = true)

  // ---- shared DuckDB SQL fragments -----------------------------------

  /** browsing-history view over `events` — twin of Tables.browsing. */
  private val BH =
    """SELECT event_id AS entry_id,
      |       ts,
      |       CAST(epoch_us(ts) // 1000000 AS BIGINT) AS ts_sec,
      |       user_id,
      |       event_type,
      |       'http://site/' || event_type AS url,
      |       event_type AS title,
      |       CAST(floor(value) AS BIGINT) AS pageview_count,
      |       props AS visible_content,
      |       regexp_extract(props, '([0-9]+)', 1) AS search_keyword
      |FROM events""".stripMargin

  /** dedup (D1 keep-first) on the browsing view. */
  private val DEDUP =
    s"""SELECT * EXCLUDE (rn) FROM (
       |  SELECT *, row_number() OVER (
       |      PARTITION BY user_id, event_type, visible_content
       |      ORDER BY ts, entry_id) AS rn
       |  FROM ($BH)
       |) WHERE rn = 1""".stripMargin

  /** W1 hour bucketing over the deduped view. */
  private val W1 =
    s"""SELECT *,
       |  hour(ts) AS window_time_details,
       |  CAST(hour(ts) AS VARCHAR) || 'h' ||
       |    CASE WHEN hour(ts) < 12 THEN 'am' ELSE 'pm' END
       |    AS window_time_details_meaning,
       |  CAST(floor(hour(ts) / 6) * 6 AS BIGINT) AS window_time_overall,
       |  '(' || CAST(CAST(floor(hour(ts) / 6) * 6 AS BIGINT) AS VARCHAR) || 'h - ' ||
       |    CAST(CAST(floor(hour(ts) / 6) * 6 AS BIGINT) + 6 AS VARCHAR) || 'h) ' ||
       |    CASE WHEN hour(ts) < 12 THEN 'am' ELSE 'pm' END
       |    AS window_time_overall_meaning
       |FROM ($DEDUP)""".stripMargin

  /** W2 per-user sessionization over W1. */
  private val W2U =
    s"""SELECT * EXCLUDE (prev_ts),
       |  CAST(SUM(CASE WHEN prev_ts IS NULL OR ts_sec - prev_ts > 1800
       |                THEN 1 ELSE 0 END)
       |       OVER (PARTITION BY user_id ORDER BY ts, entry_id
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1
       |       AS BIGINT) AS session_id
       |FROM (SELECT *, lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts, entry_id)
       |        AS prev_ts FROM ($W1))""".stripMargin

  /** A1 merge: first-row fields + Σ pageviews per (user, session). */
  private val MERGED =
    s"""SELECT user_id, session_id,
       |       CAST(pageview_count_sum AS BIGINT) AS pageview_count_sum,
       |       session_start, entry_id, event_type, url, title, visible_content,
       |       window_time_details, window_time_overall, ts_sec
       |FROM (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY user_id, session_id
       |                       ORDER BY ts, entry_id) AS grn,
       |    SUM(pageview_count) OVER (PARTITION BY user_id, session_id)
       |      AS pageview_count_sum,
       |    MIN(ts) OVER (PARTITION BY user_id, session_id) AS session_start
       |  FROM ($W2U)
       |) WHERE grn = 1""".stripMargin

  /** E2 tail: dwell time + cap + metadata stamp over MERGED. */
  private val E2U =
    s"""SELECT *,
       |  LEAST(raw_time_on_page, 3600.0) AS capped_time_on_page,
       |  'clickhouse-streaming-data' AS source_name,
       |  CAST(1 AS BIGINT) AS source_id,
       |  FALSE AS is_update,
       |  FALSE AS is_delete,
       |  TIMESTAMP '2025-06-25 12:00:00' AS created_time,
       |  '2025-06-25' AS created_date
       |FROM (
       |  SELECT *,
       |    COALESCE(CAST(lead(ts_sec) OVER (PARTITION BY user_id
       |        ORDER BY session_start, entry_id) - ts_sec AS DOUBLE), 1800.0)
       |      AS raw_time_on_page
       |  FROM ($MERGED))
       |ORDER BY user_id, session_id""".stripMargin

  /** Global-window (faithful) twins of W2U/MERGED/E2U for the
    * `e2_browsing_global` oracle. */
  private val W2G =
    s"""SELECT * EXCLUDE (prev_ts),
       |  CAST(SUM(CASE WHEN prev_ts IS NULL OR ts_sec - prev_ts > 1800
       |                THEN 1 ELSE 0 END)
       |       OVER (ORDER BY ts, entry_id
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1
       |       AS BIGINT) AS session_id
       |FROM (SELECT *, lag(ts_sec) OVER (ORDER BY ts, entry_id)
       |        AS prev_ts FROM ($W1))""".stripMargin

  private val MERGEDG =
    s"""SELECT user_id, session_id,
       |       CAST(pageview_count_sum AS BIGINT) AS pageview_count_sum,
       |       session_start, entry_id, event_type, url, title, visible_content,
       |       window_time_details, window_time_overall, ts_sec
       |FROM (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY user_id, session_id
       |                       ORDER BY ts, entry_id) AS grn,
       |    SUM(pageview_count) OVER (PARTITION BY user_id, session_id)
       |      AS pageview_count_sum,
       |    MIN(ts) OVER (PARTITION BY user_id, session_id) AS session_start
       |  FROM ($W2G)
       |) WHERE grn = 1""".stripMargin

  private val E2G =
    s"""SELECT *,
       |  LEAST(raw_time_on_page, 3600.0) AS capped_time_on_page,
       |  'clickhouse-streaming-data' AS source_name,
       |  CAST(1 AS BIGINT) AS source_id,
       |  FALSE AS is_update,
       |  FALSE AS is_delete,
       |  TIMESTAMP '2025-06-25 12:00:00' AS created_time,
       |  '2025-06-25' AS created_date
       |FROM (
       |  SELECT *,
       |    COALESCE(CAST(lead(ts_sec) OVER (
       |        ORDER BY session_start, entry_id) - ts_sec AS DOUBLE), 1800.0)
       |      AS raw_time_on_page
       |  FROM ($MERGEDG))
       |ORDER BY user_id, session_id""".stripMargin

  // ---- query registry -------------------------------------------------

  /** Every registered query: the core list below, then each family in
    * [[graft.registry]]. Built on first read; a name declared twice
    * fails here, and the error names it. */
  lazy val registry: Seq[Query] = Query.unique(
    core ++ IoQueries.queries ++ TextQueries.queries ++ DedupSimQueries.queries ++
      CorpusAnalysisQueries.queries ++ MultimodalQueries.queries ++ PipelineQueries.queries ++
      StreamQueries.queries ++ CoverageQueries.queries)

  /** Driver contract: the Spark run of each registered query, by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** Driver contract: per name, ANSI SQL that DuckDB runs over the same
    * parquet tables to recompute the query's answer. */
  def oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracleSql).toMap

  private val core: Seq[Query] = Seq(
    Query("e2_browsing_user", E2U)((s, dir) => Browsing.pipeline(s, dir, perUser = true)),
    // E2, faithful global-window flavor (reference parity; micro-batch
    // scale only — the per-user variant is the 100TB path)
    Query("e2_browsing_global", E2G) { (s, dir) =>
      Browsing.pipeline(s, dir, perUser = false)
        .orderBy("user_id", "session_id")
    },
    Query("d1_dedup_keepfirst",
      s"SELECT entry_id, user_id, event_type, visible_content FROM ($DEDUP) ORDER BY entry_id") { (s, dir) =>
      Dedup
        .keepFirst(Tables.browsing(s, dir), Seq("user_id", "event_type", "visible_content"),
          Seq(col("ts"), col("entry_id")))
        .select("entry_id", "user_id", "event_type", "visible_content")
        .orderBy("entry_id")
    },
    // reference-EXACT key set: remove_duplicates_browsing_history keys
    // on positions [2,5,6,8,9,10] = (pageview_count, timestamp, title,
    // url, user_id, visible_content) — the d1 flagship uses a looser
    // 3-column key because the synthetic events have no exact-ts dups;
    // this twin keeps the reference semantics executable (see COVERAGE.md)
    Query("d1b_dedup_reference_key",
      s"""SELECT entry_id, user_id, event_type, visible_content FROM (
         |  SELECT *, row_number() OVER (
         |      PARTITION BY pageview_count, ts, title, url, user_id, visible_content
         |      ORDER BY entry_id) AS rn
         |  FROM ($BH)
         |) WHERE rn = 1 ORDER BY entry_id""".stripMargin) { (s, dir) =>
      Dedup
        .keepFirst(Tables.browsing(s, dir),
          Seq("pageview_count", "ts", "title", "url", "user_id", "visible_content"),
          Seq(col("entry_id")))
        .select("entry_id", "user_id", "event_type", "visible_content")
        .orderBy("entry_id")
    },
    Query("d2_dupcount",
      """SELECT CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) AS dup_rows
        |FROM (SELECT COUNT(*) AS n FROM events GROUP BY user_id, event_type)""".stripMargin) { (s, dir) =>
      Dedup.duplicateCount(Tables.events(s, dir), Seq("user_id", "event_type"))
    },
    Query("w1_window_time",
      s"""SELECT entry_id, window_time_details, window_time_details_meaning,
         |       window_time_overall, window_time_overall_meaning
         |FROM (${W1.replace(DEDUP, BH)}) ORDER BY entry_id""".stripMargin) { (s, dir) =>
      Sessionize
        .windowTime(Tables.browsing(s, dir), "ts")
        .select("entry_id", "window_time_details", "window_time_details_meaning",
          "window_time_overall", "window_time_overall_meaning")
        .orderBy("entry_id")
    },
    Query("w2_sessionize_global",
      s"""SELECT entry_id, user_id, ts_sec,
         |  CAST(SUM(CASE WHEN prev_ts IS NULL OR ts_sec - prev_ts > 1800
         |                THEN 1 ELSE 0 END)
         |       OVER (ORDER BY ts, entry_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1
         |       AS BIGINT) AS session_id
         |FROM (SELECT *, lag(ts_sec) OVER (ORDER BY ts, entry_id) AS prev_ts
         |      FROM ($BH))
         |ORDER BY entry_id""".stripMargin) { (s, dir) =>
      Sessionize
        .sessionIds(Tables.browsing(s, dir), col("ts_sec"), Seq.empty,
          Seq(col("ts"), col("entry_id")))
        .select("entry_id", "user_id", "ts_sec", "session_id")
        .orderBy("entry_id")
    },
    Query("w2_sessionize_user",
      s"""SELECT entry_id, user_id, ts_sec,
         |  CAST(SUM(CASE WHEN prev_ts IS NULL OR ts_sec - prev_ts > 1800
         |                THEN 1 ELSE 0 END)
         |       OVER (PARTITION BY user_id ORDER BY ts, entry_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1
         |       AS BIGINT) AS session_id
         |FROM (SELECT *, lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts, entry_id)
         |        AS prev_ts FROM ($BH))
         |ORDER BY entry_id""".stripMargin) { (s, dir) =>
      Sessionize
        .sessionIds(Tables.browsing(s, dir), col("ts_sec"), Seq(col("user_id")),
          Seq(col("ts"), col("entry_id")))
        .select("entry_id", "user_id", "ts_sec", "session_id")
        .orderBy("entry_id")
    },
    Query("w3_time_on_page",
      s"""SELECT entry_id, raw_time_on_page,
         |       LEAST(raw_time_on_page, 3600.0) AS capped_time_on_page
         |FROM (
         |  SELECT entry_id,
         |    COALESCE(CAST(lead(ts_sec) OVER (PARTITION BY user_id
         |        ORDER BY ts, entry_id) - ts_sec AS DOUBLE), 1800.0)
         |      AS raw_time_on_page
         |  FROM ($BH))
         |ORDER BY entry_id""".stripMargin) { (s, dir) =>
      val dwell = Sessionize.timeOnPage(Tables.browsing(s, dir), col("ts_sec"),
        Seq(col("user_id")), Seq(col("ts"), col("entry_id")))
      Sessionize
        .cappedTimeOnPage(dwell)
        .select("entry_id", "raw_time_on_page", "capped_time_on_page")
        .orderBy("entry_id")
    },
    // SQL1 — the sessionizer through the pure `spark.sql` surface
    // (temp view + SQL text): proves a reference user can drive the
    // engine from SQL alone; same answer as w2_sessionize_user
    Query("sql1_sessionize_sql",
      s"""SELECT entry_id, user_id, ts_sec,
         |  CAST(SUM(CASE WHEN prev_ts IS NULL OR ts_sec - prev_ts > 1800
         |                THEN 1 ELSE 0 END)
         |       OVER (PARTITION BY user_id ORDER BY ts, entry_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1
         |       AS BIGINT) AS session_id
         |FROM (SELECT *, lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts, entry_id)
         |        AS prev_ts FROM ($BH))
         |ORDER BY entry_id""".stripMargin) { (s, dir) =>
      Tables.browsing(s, dir).createOrReplaceTempView("browsing")
      s.sql(
        """SELECT entry_id, user_id, ts_sec,
          |  CAST(SUM(CASE WHEN prev_ts IS NULL OR ts_sec - prev_ts > 1800
          |                THEN 1 ELSE 0 END)
          |       OVER (PARTITION BY user_id ORDER BY ts, entry_id
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1
          |       AS BIGINT) AS session_id
          |FROM (SELECT *, lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts, entry_id)
          |        AS prev_ts FROM browsing)
          |ORDER BY entry_id""".stripMargin)
    },
    // W6 — ROWS-frame rolling aggregate (moving sum over the last 4
    // events per user): the per-key frame window no other registered
    // query exercises; distributed across users, no global sort
    Query("w6_rolling_sum",
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(floor(value) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_sum
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-3, 0)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          floor(col("value")).cast("long").as("v"), col("ts"))
        .withColumn("roll_sum", sum(col("v")).over(w))
        .select("event_id", "user_id", "roll_sum")
        .orderBy("event_id")
    },
    // W7 — cumulative distinct users by day (growth analytics): EXACT,
    // via first-seen-day — per-user min(day) is one hash agg, the
    // per-day new-user counts are spine-sized, and the running total is
    // a window over #days rows (documented: spine-sized by
    // construction, never corpus-sized). A count(DISTINCT) OVER a
    // growing frame would re-scan the corpus per day.
    Query("w7_cumulative_uniques",
      """WITH fs AS (
        |  SELECT user_id, min(strftime(ts, '%Y-%m-%d')) AS day
        |  FROM events GROUP BY user_id),
        |pd AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users FROM fs GROUP BY day)
        |SELECT day, new_users,
        |  CAST(SUM(new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM pd ORDER BY day""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("day")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      Tables.events(s, dir)
        .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .groupBy("user_id").agg(min(col("day")).as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_users"))
        .withColumn("cum_users", sum(col("new_users")).over(w))
        .orderBy("day")
    },
    Query("a1_session_merge", s"SELECT * FROM ($MERGED) ORDER BY user_id, session_id") { (s, dir) =>
      // single hash exchange: user_id partitioning satisfies the 3-col
      // dedup window, session window and merge agg (see Browsing.pipeline)
      val sess = Sessionize.sessionIds(
        Sessionize.windowTime(
          Dedup.keepFirst(Tables.browsing(s, dir).repartition(col("user_id")),
            Seq("user_id", "event_type", "visible_content"),
            Seq(col("ts"), col("entry_id"))),
          "ts"),
        col("ts_sec"), Seq(col("user_id")), Seq(col("ts"), col("entry_id")))
      Sessionize
        .mergeSessions(sess, Seq(col("user_id"), col("session_id")), col("ts"),
          col("entry_id"), "pageview_count",
          Seq("entry_id", "event_type", "url", "title", "visible_content",
            "window_time_details", "window_time_overall", "ts_sec"))
        .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
        .orderBy("user_id", "session_id")
    },
    Query("o1_global_sort",
      s"SELECT entry_id, ts, user_id FROM ($BH) ORDER BY ts, entry_id") { (s, dir) =>
      Tables
        .browsing(s, dir)
        .select(col("entry_id"), col("ts").cast("timestamp_ntz").as("ts"), col("user_id"))
        .orderBy(col("ts"), col("entry_id"))
    },
    Query("p3_metadata_stamp",
      """SELECT c_custkey,
        |  'clickhouse-streaming-data' AS source_name,
        |  CAST(1 AS BIGINT) AS source_id,
        |  FALSE AS is_update, FALSE AS is_delete,
        |  TIMESTAMP '2025-06-25 12:00:00' AS created_time,
        |  '2025-06-25' AS created_date
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      Rows
        .stampMetadata(Tables.customer(s, dir).select("c_custkey"),
          "clickhouse-streaming-data", 1L, lit(Browsing.RunTime))
        .orderBy("c_custkey")
    },
    Query("a2_watermark_max", "SELECT MAX(epoch_us(ts)) AS watermark_us FROM events") { (s, dir) =>
      Tables.events(s, dir).agg(max(unix_micros(col("ts"))).as("watermark_us"))
    },
    Query("s2_incremental_scan",
      s"""SELECT entry_id, ts_sec, user_id FROM ($BH)
         |WHERE ts > TIMESTAMP '2024-01-02 06:00:00' ORDER BY entry_id""".stripMargin) { (s, dir) =>
      Tables
        .browsing(s, dir)
        .filter(col("ts") > lit("2024-01-02 06:00:00").cast("timestamp"))
        .select("entry_id", "ts_sec", "user_id")
        .orderBy("entry_id")
    },
    Query("a3_null_counts",
      """SELECT CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_c_custkey,
        |       CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_c_name,
        |       CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_c_nationkey,
        |       CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_c_acctbal,
        |       CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_c_mktsegment
        |FROM customer""".stripMargin) { (s, dir) =>
      val c = Tables.customer(s, dir)
      val aggs = c.columns.toSeq.map(n =>
        sum(when(col(n).isNull, 1L).otherwise(0L)).as(s"null_$n"))
      c.agg(aggs.head, aggs.tail: _*)
    },
    Query("a4_default_violations",
      """SELECT CAST(SUM(CASE WHEN event_type != 'view' THEN 1 ELSE 0 END) AS BIGINT) AS viol_event_type,
        |       CAST(SUM(CASE WHEN value <= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS viol_value
        |FROM events""".stripMargin) { (s, dir) =>
      Tables.events(s, dir).agg(
        sum(when(col("event_type") =!= "view", 1L).otherwise(0L)).as("viol_event_type"),
        sum(when(col("value") <= 0.0, 1L).otherwise(0L)).as("viol_value")
      )
    },
    Query("a6_clean_rate",
      s"""SELECT *,
         |  100.0 * valid_url / total_url AS rate_url,
         |  100.0 * valid_content / total_content AS rate_content,
         |  100.0 * valid_pv / total_pv AS rate_pv
         |FROM (
         |  SELECT
         |    CAST(SUM(CASE WHEN url IS NOT NULL AND starts_with(url, 'http') THEN 1 ELSE 0 END) AS BIGINT) AS valid_url,
         |    CAST(SUM(CASE WHEN url IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS total_url,
         |    CAST(SUM(CASE WHEN visible_content IS NOT NULL AND length(trim(visible_content)) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS valid_content,
         |    CAST(SUM(CASE WHEN visible_content IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS total_content,
         |    CAST(SUM(CASE WHEN pageview_count IS NOT NULL AND pageview_count >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS valid_pv,
         |    CAST(SUM(CASE WHEN pageview_count IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS total_pv
         |  FROM ($BH))""".stripMargin) { (s, dir) =>
      val bh = Tables.browsing(s, dir)
      def rate(pred: org.apache.spark.sql.Column, c: String, name: String) = Seq(
        sum(when(col(c).isNotNull && pred, 1L).otherwise(0L)).as(s"valid_$name"),
        sum(when(col(c).isNotNull, 1L).otherwise(0L)).as(s"total_$name")
      )
      val aggs = rate(col("url").startsWith("http"), "url", "url") ++
        rate(length(trim(col("visible_content"))) > 0, "visible_content", "content") ++
        rate(col("pageview_count") >= 0L, "pageview_count", "pv")
      val r = bh.agg(aggs.head, aggs.tail: _*)
      r.withColumn("rate_url", lit(100.0) * col("valid_url") / col("total_url"))
        .withColumn("rate_content", lit(100.0) * col("valid_content") / col("total_content"))
        .withColumn("rate_pv", lit(100.0) * col("valid_pv") / col("total_pv"))
    },
    Query("a7_volume",
      "SELECT COUNT(*) AS n_rows, CAST(6 AS BIGINT) AS n_cols FROM events") { (s, dir) =>
      Tables.events(s, dir).agg(count(lit(1)).as("n_rows"), max(lit(6L)).as("n_cols"))
    }
  )
}
