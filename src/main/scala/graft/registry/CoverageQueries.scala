package graft.registry

import graft.Tables
import graft.io.IO
import graft.ops.Rows
import graft.pipeline.{Browsing, Ingest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures.scratch

/** Small registered queries that pin down the remaining SURVEY §2
  * operators not already exercised as part of a larger pipeline:
  * S1 full scan, S6 chunked read, S7 re-emit chain, S8 catalog
  * listing, S9 empty-file guard, P1 equality filter, A5 array-field
  * check, and the faithful global-window E2 variant. */
object CoverageQueries {

  /** session → sfdir whose `graft_li_b`/`graft_ord_b` bucketed fact
    * tables are already in the catalog; the session object itself is
    * the key, held weakly and compared by identity, as in
    * [[Fixtures.staged]]. A map, not a set: the table NAMES are fixed,
    * so if the same session later targets a different sfdir the stale
    * tables must be rebuilt, which a set-style memo keyed on
    * (session, dir) would silently skip. */
  private val builtBucketedFacts = new java.util.WeakHashMap[SparkSession, String]()

  /** Write both j3 fact tables bucketed+sorted on the join key, once
    * per (session, sfdir); recorded only after the build returns so a
    * failed build stays rebuildable (the [[Fixtures.staged]] rule).
    * The whole check-then-build runs under one global lock: the table
    * NAMES are shared across sessions, so even two builds under
    * different memo keys would race the same DROP + overwrite — and
    * without the lock two concurrent j3 runs could both see a stale
    * entry and double-build (one paying the cost the memo hides). */
  private val bucketedFactsLock = new Object
  private def stageBucketedFacts(s: SparkSession, dir: String): Unit = bucketedFactsLock.synchronized {
    if (builtBucketedFacts.get(s) != dir) {
      s.sql("DROP TABLE IF EXISTS graft_li_b")
      s.sql("DROP TABLE IF EXISTS graft_ord_b")
      // catalog is per-JVM but table dirs persist across runs; derive
      // the location from the session's warehouse conf, never a
      // hardcoded path (a different entry point would otherwise clean
      // the wrong dir and hit LOCATION_ALREADY_EXISTS on run 2)
      val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      Seq("graft_li_b", "graft_ord_b").foreach(t =>
        graft.streaming.Streams.deleteDir(s, s"$wh/$t"))
      Tables.lineitem(s, dir).select("l_orderkey", "l_quantity")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("graft_li_b")
      Tables.orders(s, dir).select("o_orderkey", "o_custkey")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("graft_ord_b")
      builtBucketedFacts.put(s, dir): Unit
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1 — "SELECT * FROM t" full scan (ClickHouse sim → parquet scan)
    "s1_full_scan" -> { (s, dir) =>
      Tables.nation(s, dir).orderBy("n_nationkey")
    },
    // S6 — bounded-memory chunked read: Spark's partitioned scan with a
    // small split size replaces the reference's 100k-row generator;
    // the result is identical regardless of split count
    "s6_chunked_read" -> { (s, dir) =>
      s.read
        .option("maxPartitionBytes", 64 * 1024)
        .parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },
    // S7 — CSV → JSON-lines + Parquet re-emit, pipelined (no 4-chunk
    // cap workaround): land CSV, re-emit both formats, read back
    "s7_reemit" -> { (s, dir) =>
      val csv = scratch(dir, "cov/s7csv")
      val json = scratch(dir, "cov/s7json")
      val pq = scratch(dir, "cov/s7parquet")
      IO.writeCsv(Tables.region(s, dir), csv)
      val landed = IO.readCsv(s, csv)
        .select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name"))
      IO.writeJsonLines(landed, json)
      IO.writeParquet(landed, pq)
      s.read.parquet(pq)
        .unionByName(IO.readJsonAuto(s, json).select("r_regionkey", "r_name"))
        .groupBy("r_regionkey", "r_name").agg(count(lit(1)).as("n_copies"))
        .orderBy("r_regionkey")
    },
    // S8 — catalog listing of dated folders under a prefix
    "s8_catalog_list" -> { (s, dir) =>
      import s.implicits._
      val base = scratch(dir, "cov/s8dated")
      graft.streaming.Streams.deleteDir(s, base)
      val days = Tables.events(s, dir)
        .select(date_format(col("ts"), "yyyyMMdd").as("day")).distinct()
        .as[String].collect().sorted
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      days.foreach(d => fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/$d")))
      IO.listChildren(s, base).toDF("day").orderBy("day")
    },
    // S9 — whitespace-only file yields an empty frame, guarded
    "s9_empty_guard" -> { (s, dir) =>
      import s.implicits._
      val p = scratch(dir, "cov/s9empty")
      val f = new java.io.File(s"$p/blank.json")
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, "   \n  \n")
      val df = IO.readJsonAuto(s, f.getPath)
      Seq((IO.isEmptyInput(df), df.columns.length)).toDF("is_empty", "n_cols")
    },
    // P1 — equality filter (watermark control-table shape)
    "p1_eq_filter" -> { (s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id")
        .orderBy("event_id")
    },
    // A5 — array-field check: static under a typed schema
    "a5_array_check" -> { (s, dir) =>
      import s.implicits._
      graft.quality.Quality
        .arrayCheck(Tables.embeddings(s, dir), Seq("embedding", "label"))
        .toDF("column_name", "is_array")
        .orderBy("column_name")
    },
    // K5 idiomatic form — dated layout as parquet partitionBy + pruned
    // scan: the reader of one day touches one directory, not the table
    "k5_partition_prune" -> { (s, dir) =>
      val p = scratch(dir, "cov/k5part")
      Tables.events(s, dir)
        .withColumn("day", date_format(col("ts"), "yyyyMMdd"))
        .select("event_id", "user_id", "event_type", "day")
        .write.mode("overwrite").partitionBy("day").parquet(p)
      s.read.parquet(p)
        .filter(col("day") === "20240102")
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    },
    // K9 — dynamic partition pruning: the fact is partitioned by day
    // and the day filter lives on the DIM side, so only a runtime
    // subquery (not a static predicate) can prune the fact scan — at
    // 100 TB this is what keeps a dim-filtered fact join from reading
    // the whole table. Spec asserts the dynamicpruning subquery.
    "k9_dpp_prune" -> { (s, dir) =>
      val p = scratch(dir, "cov/k9part")
      Tables.events(s, dir)
        .withColumn("day", date_format(col("ts"), "yyyyMMdd"))
        .select("event_id", "user_id", "day")
        .write.mode("overwrite").partitionBy("day").parquet(p)
      // partition values are type-inferred (all-digit days → int32);
      // disable inference for the read — a cast on the join key would
      // also defeat the partition-attribute match DPP needs
      val infKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
      val prevInf = s.conf.get(infKey)
      s.conf.set(infKey, "false")
      val fact =
        try s.read.parquet(p)
        finally s.conf.set(infKey, prevInf)
      val dim = Tables.events(s, dir)
        .select(date_format(col("ts"), "yyyyMMdd").as("day")).distinct()
        .withColumn("is_target", col("day") === "20240102")
      fact.join(broadcast(dim.filter(col("is_target"))), Seq("day"))
        .groupBy("day").agg(count(lit(1)).as("n"))
        .orderBy("day")
    },
    // J6 — skewed fact ⋈ dim shuffled join: 90 % of fact rows share
    // one key. Salting (skew_salted_agg) is the static fix for
    // AGGREGATES; for joins the engine-native fix is AQE's runtime
    // skew split, demonstrated in the spec (thresholds lowered, final
    // adaptive plan shows the skewed AQEShuffleRead). The registered
    // query keeps default confs — at real scale the default thresholds
    // trigger on genuinely oversized partitions.
    "j6_skew_join" -> { (s, dir) =>
      val fact = Tables.lineitem(s, dir).select(
        when(pmod(col("l_orderkey"), lit(100)) < 90, 0L)
          .otherwise(col("l_orderkey")).as("skew_key"),
        floor(col("l_quantity")).cast("long").as("qty"))
      val dim = fact.select(col("skew_key")).distinct()
        .withColumn("w", pmod(col("skew_key"), lit(7L)))
      fact.join(dim.hint("shuffle_hash"), Seq("skew_key"))
        .groupBy("w").agg(count(lit(1)).as("n"), sum("qty").as("qty_sum"))
        .orderBy("w")
    },
    // A13 — ROLLUP hierarchy totals: (day, type) cells + per-day
    // subtotals + grand total in ONE pass (partial-aggregable; the
    // engine expands grouping sets map-side instead of 3 scans)
    "a13_rollup" -> { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("day", date_format(col("ts"), "yyyyMMdd"))
        .rollup(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
        .orderBy(col("gid"), col("day"), col("event_type"))
    },
    // A14 — CUBE: all 4 grouping sets over (day, event_type) in one
    // pass (rollup's superset; same single-shuffle plan, the extra
    // sets come from Expand before the hash agg)
    "a14_cube" -> { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("day", date_format(col("ts"), "yyyyMMdd"))
        .cube(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value")).cast("long")).as("pv"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("day"), col("event_type"))
    },
    // O8 — global top-k WITHOUT a global sort: orderBy+limit plans as
    // TakeOrderedAndProject (per-partition partial top-k, single small
    // merge) — the scalable form of "100 biggest events"
    "o8_global_topk" -> { (s, dir) =>
      Tables.events(s, dir)
        .select("event_id", "user_id", "value")
        .orderBy(col("value").desc, col("event_id").asc)
        .limit(100)
    },
    // J8 — full-outer reconciliation: per-customer order rollup vs the
    // customer dimension; either-side-missing rows survive with flags
    // (the audit every warehouse load runs after ingest). Spend floors
    // each price to BIGINT before summing — double sums are
    // order-sensitive and would not reconcile bit-for-bit cross-engine
    "j8_full_outer_reconcile" -> { (s, dir) =>
      val agg = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice")).cast("long")).as("spend"))
      val cust = Tables.customer(s, dir).select(col("c_custkey"))
      cust.join(agg, cust("c_custkey") === agg("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_custkey").isNotNull.as("in_dim"),
          col("o_custkey").isNotNull.as("has_orders"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("spend"), lit(0L)).as("spend"))
        .orderBy("custkey")
    },
    // K15 — incremental aggregate-view maintenance: three batch folds
    // of per-user (count, Σfloor(value)) state; associative long sums
    // make the folded state equal the full recompute EXACTLY, which is
    // what the oracle checks (it aggregates everything in one pass)
    "k15_incremental_agg" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("user_id"), floor(col("value")).cast("long").as("v"))
      val st0 = graft.ops.Merge.aggState(
        ev.filter(col("user_id") % 3 === 0), Seq("user_id"), Seq("v"))
      val st1 = graft.ops.Merge.mergeAggState(st0,
        ev.filter(col("user_id") % 3 === 1), Seq("user_id"), Seq("v"))
      graft.ops.Merge.mergeAggState(st1,
        ev.filter(col("user_id") % 3 === 2), Seq("user_id"), Seq("v"))
        .orderBy("user_id")
    },
    // J9 — snapshot diff (CDC between table versions): deterministic
    // mutations of the customer dimension (deletes %13, balance
    // updates %7, re-keyed inserts %17) classified insert/delete/
    // update via one full-outer join; unchanged keys omitted — the
    // diff is the small output, the snapshots the big inputs
    "j9_snapshot_diff" -> { (s, dir) =>
      val old = Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal"))
      val mutated = old.filter(col("c_custkey") % 13 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")))
      val inserted = old.filter(col("c_custkey") % 17 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"), col("c_acctbal"))
      graft.ops.Merge.snapshotDiff(old, mutated.unionByName(inserted),
        Seq("c_custkey"), Seq("c_acctbal"))
        .orderBy("c_custkey")
    },
    // K12 — MERGE/upsert: an updates batch (changed balances + brand-new
    // keys) merged into the customer dimension; updates win on the key.
    // The within-source tie-break orders by (c_acctbal, c_name) — NOT the
    // key itself (constant per key): at sf>=7 a %17-branch re-key
    // (c_custkey+1000000) can collide with a %10-branch update key, and
    // the two update rows carry different names, so c_name stays a
    // deterministic discriminator
    "k12_merge_upsert" -> { (s, dir) =>
      val base = Tables.customer(s, dir).select("c_custkey", "c_name", "c_acctbal")
      val upd = base.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), col("c_name"),
          (col("c_acctbal") + 100.0).as("c_acctbal"))
        .unionByName(base.filter(col("c_custkey") % 17 === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            col("c_name"), col("c_acctbal")))
      graft.ops.Merge.upsert(base, upd, Seq("c_custkey"),
        Seq(col("c_acctbal"), col("c_name")))
        .orderBy("c_custkey")
    },
    // O6 — distributed global cumulative sum (two-pass prefix sum): the
    // scalable twin of SUM() OVER (ORDER BY ...), which runs in ONE task
    "o6_global_cumsum" -> { (s, dir) =>
      graft.ops.Cumsum.globalCumsum(
        Tables.events(s, dir)
          .select(col("event_id"), col("ts"), floor(col("value")).cast("long").as("v")),
        Seq(col("ts"), col("event_id")), col("v"), "cum_v")
        .select("event_id", "cum_v")
        .orderBy("event_id")
    },
    // O7 — time-series densification: one row per user per calendar day
    // in the user's active span; gap days zero-filled, last event type
    // carried forward (LOCF)
    "o7_gap_fill" -> { (s, dir) =>
      graft.ops.GapFill.dailySpine(
        Tables.events(s, dir), "user_id", to_date(col("ts")),
        agg = Seq(
          "n_events" -> count(lit(1)),
          "pv" -> sum(floor(col("value")).cast("long"))),
        ffill = Seq("last_type" -> max(col("event_type"))))
        .select(col("user_id"), date_format(col("day"), "yyyyMMdd").as("day"),
          col("n_events"), col("pv"), col("last_type"))
        .orderBy("user_id", "day")
    },
    // K10 — SCD2 dimension intervals from the event stream: one row per
    // state run per user with [valid_from, valid_to) validity
    "k10_scd2_intervals" -> { (s, dir) =>
      graft.ops.Scd.intervals(
        Tables.events(s, dir), "user_id",
        unix_micros(col("ts")), col("event_type"), col("event_id"))
        .orderBy("user_id", "valid_from_us", "state")
    },
    // A12 — pivot/crosstab: daily activity matrix, one column per event
    // type (explicit value list keeps the schema static — no extra
    // distinct-scan job and deterministic column order)
    "a12_pivot_daily" -> { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("day", date_format(col("ts"), "yyyyMMdd"))
        .groupBy("day")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("day")
    },
    // P8 — rename with mapping existence check
    "p8_rename_checked" -> { (s, dir) =>
      graft.quality.Quality
        .renameChecked(Tables.customer(s, dir),
          Map("c_name" -> "customer_name", "c_acctbal" -> "balance"))
        .select("c_custkey", "customer_name", "balance")
        .orderBy("c_custkey")
    },
    // E2, faithful global-window flavor (reference parity; micro-batch
    // scale only — the per-user variant is the 100TB path)
    "e2_browsing_global" -> { (s, dir) =>
      Browsing.pipeline(s, dir, perUser = false)
        .orderBy("user_id", "session_id")
    },
    // E3→J1 composed: the reference's missing batch-preprocessing step
    // (SURVEY §0/§2.5) — fact rows enriched with the broadcast dim and
    // reshaped into a browsing-history-style bronze frame, stamped
    "e3_browsing_synthesis" -> { (s, dir) =>
      val enriched = Ingest.enrich(Tables.lineitem(s, dir), Tables.part(s, dir),
        "l_partkey", "p_partkey")
      val shaped = enriched.select(
        col("l_orderkey").as("log_id"),
        col("l_linenumber").cast("long").as("line_no"),
        col("p_name").as("exercise_name"),
        col("p_brand").as("topic"),
        floor(col("l_quantity")).cast("long").as("attempts"),
        (floor(col("l_extendedprice")) > 30000.0).as("advanced"))
      Rows
        .stampMetadata(shaped, "batch-sources", 2L, lit(Browsing.RunTime))
        .orderBy("log_id", "line_no")
    },
    // Bucketed co-located join: both fact tables land bucketed+sorted
    // on the join key, so the join needs NO exchange on either side —
    // at 100 TB this is the difference between a full fact-fact
    // shuffle and a metadata-only co-located merge (the one shuffle
    // left is the final groupBy on the much smaller aggregate)
    "j3_bucketed_join" -> { (s, dir) =>
      // stage the bucketed fact tables ONCE per (session, sfdir) —
      // production writes bucketed facts once in the ingest job and
      // every downstream join rides them for free, so the bench must
      // time the JOIN, not a per-call table rebuild (round-11 verdict)
      stageBucketedFacts(s, dir)
      s.table("graft_li_b")
        .join(s.table("graft_ord_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"), sum(floor(col("l_quantity")).cast("long")).as("qty"))
        .orderBy("o_custkey")
    },
    // J4 — as-of join: every event picks the dimension version active
    // at its timestamp. The version table is sparse (every 3rd day) so
    // the match genuinely reaches back across days, and events before
    // the first version keep a null (ASOF LEFT JOIN semantics)
    "j4_asof_join" -> { (s, dir) =>
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      val d = e.select(col("user_id"), expr("ts_us div 86400000000").as("version"))
        .distinct()
        .filter(col("version") % 3 === 0)
        .withColumn("vf_us", col("version") * lit(86400000000L))
      graft.ops.AsOf
        .joinAsOf(e, d, "user_id", "ts_us", "vf_us", Seq("version"))
        .select("event_id", "user_id", "version")
        .orderBy("event_id")
    },
    // J5 — range join: events into 2-hour intervals anchored every 3rd
    // hour. The 1-hour bucket width makes each interval span 2 buckets,
    // so the equi-join genuinely exercises multi-bucket coverage (an
    // hour-1 event reaches the interval anchored at hour 0)
    "j5_range_join" -> { (s, dir) =>
      val e = Tables.events(s, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
      val iv = e.select(expr("ts_us div 3600000000").as("interval_id")).distinct()
        .filter(col("interval_id") % 3 === 0)
        .withColumn("s_us", col("interval_id") * 3600000000L)
        .withColumn("e_us", (col("interval_id") + 2) * 3600000000L)
      graft.ops.RangeJoin
        .joinByRange(e, "ts_us", iv, "s_us", "e_us", bucketWidth = 3600000000L)
        .select("event_id", "interval_id")
        .orderBy("event_id", "interval_id")
    },
    // Skew-salted aggregation on a heavy-hitter key (80% "view"):
    // two balanced shuffles instead of one hot reduce task
    "skew_salted_agg" -> { (s, dir) =>
      // pre-floored long column: integer partials are exact in any
      // merge order, so the salted two-stage sum hash-matches DuckDB
      val ev = Tables.events(s, dir)
        .withColumn("value_l", floor(col("value")).cast("long"))
      graft.ops.Skew
        .saltedAgg(ev, Seq("event_type"), col("event_id"), Seq("value_l"), salts = 16)
        .select(col("event_type"), col("n"), col("value_l_sum"))
        .orderBy("event_type")
    },
    // W2 distributed — global sessionization as a two-pass parallel
    // prefix scan (no single-partition window); same oracle as the
    // windowed global variant proves id-for-id equivalence
    "w2_sessionize_distributed" -> { (s, dir) =>
      graft.session.Sessionize
        .sessionIdsDistributed(
          Tables.browsing(s, dir).select("entry_id", "user_id", "ts_sec"),
          "ts_sec", "entry_id")
        .select("entry_id", "user_id", "ts_sec", "session_id")
        .orderBy("entry_id")
    },
    // A15 — mergeable distinct-count sketch: KMV(k=64) distinct users
    // per event type over the portable md5 hash, BIGINT arithmetic
    // end-to-end so the ESTIMATE itself replays exactly cross-engine
    // (HLL never would — different hash families). n_exact rides
    // along so the estimate's quality is visible in the output.
    "a15_kmv_distinct" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val est = graft.llm.Sketches.kmvDistinct(ev, "event_type", "user_id",
        k = 64, salts = 16)
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      est.join(exact, Seq("event_type")).orderBy("event_type")
    },
    // O9 — weighted PageRank (3 rounds, integer micros) over the
    // page-transition graph: the host-ranking quality prior of a
    // crawl curation stack. Edges from per-user lead() transitions
    // (one vocabulary-sized groupBy), then node-sized iterations.
    "o9_pagerank" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_sec"), col("entry_id"))
      val edges = Tables.browsing(s, dir)
        .select(col("entry_id"), col("user_id"), col("ts_sec"), col("event_type"))
        .withColumn("dst", lead(col("event_type"), 1).over(w))
        .filter(col("dst").isNotNull)
        .groupBy(col("event_type").as("src"), col("dst"))
        .agg(count(lit(1)).as("w"))
      val nodes = Tables.events(s, dir)
        .select(col("event_type").as("node")).distinct()
      graft.ops.PageRank.pageRank(edges, nodes, iters = 3)
        .orderBy(col("rank_micro").desc, col("node").asc)
    }
  )

  // 52-bit md5 prefix as BIGINT, digit-by-digit (DuckDB has no hex
  // cast; same idiom as the simhash oracles)
  private val kmvHv = (1 to 13)
    .map(i => s"(strpos('0123456789abcdef', h[$i]) - 1) * ${BigInt(16).pow(13 - i)}")
    .mkString(" + ")

  /** One unrolled PageRank round: src-keyed contribution join, dst
    * agg, teleport + damping in exact integer micro arithmetic
    * (relative-to-uniform encoding: 1e6 = uniform share, so the
    * teleport term is the constant 150e6 div 1000). */
  private def prIterSql(j: Int): String =
    s"""c$j AS (
       |  SELECT e.dst, SUM(r.rank_micro * e.w // o.w_out) AS s
       |  FROM pr_edges e JOIN pr_outdeg o USING (src)
       |  JOIN r${j - 1} r ON r.node = e.src
       |  GROUP BY e.dst),
       |r$j AS (
       |  SELECT n.node, (150000000 + 850 * COALESCE(c.s, 0)) // 1000 AS rank_micro
       |  FROM pr_nodes n LEFT JOIN c$j c ON c.dst = n.node)""".stripMargin

  val oracles: Map[String, String] = Map(
    "o9_pagerank" ->
      s"""WITH b AS (
         |  SELECT event_id AS entry_id, user_id, event_type,
         |    CAST(epoch_us(ts) // 1000000 AS BIGINT) AS ts_sec
         |  FROM events),
         |e0 AS (
         |  SELECT event_type AS src,
         |    lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts_sec, entry_id) AS dst
         |  FROM b),
         |pr_edges AS (SELECT src, dst, COUNT(*) AS w FROM e0
         |             WHERE dst IS NOT NULL GROUP BY src, dst),
         |pr_outdeg AS (SELECT src, SUM(w) AS w_out FROM pr_edges GROUP BY src),
         |pr_nodes AS (SELECT DISTINCT event_type AS node FROM events),
         |r0 AS (SELECT node, 1000000 AS rank_micro FROM pr_nodes),
         |${(1 to 3).map(prIterSql).mkString(",\n")}
         |SELECT node, CAST(rank_micro AS BIGINT) AS rank_micro
         |FROM r3 ORDER BY rank_micro DESC, node""".stripMargin,
    "a15_kmv_distinct" ->
      s"""WITH dh AS (
         |  SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events),
         |rk AS (SELECT event_type, h,
         |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM dh),
         |ex AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_exact
         |       FROM dh GROUP BY event_type)
         |SELECT r.event_type, h AS kth_hash,
         |  CAST(${63L * (1L << 52)} // ($kmvHv) AS BIGINT) AS est_distinct, ex.n_exact
         |FROM rk r JOIN ex USING (event_type) WHERE rn = 64
         |ORDER BY event_type""".stripMargin,
    "a13_rollup" ->
      """SELECT strftime(ts, '%Y%m%d') AS day, event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(GROUPING(strftime(ts, '%Y%m%d')) * 2
        |            + GROUPING(event_type) AS BIGINT) AS gid
        |FROM events
        |GROUP BY ROLLUP (strftime(ts, '%Y%m%d'), event_type)
        |ORDER BY gid, day, event_type""".stripMargin,
    "a14_cube" ->
      """SELECT strftime(ts, '%Y%m%d') AS day, event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS pv,
        |       CAST(GROUPING(strftime(ts, '%Y%m%d')) * 2
        |            + GROUPING(event_type) AS BIGINT) AS gid
        |FROM events
        |GROUP BY CUBE (strftime(ts, '%Y%m%d'), event_type)
        |ORDER BY gid, day, event_type""".stripMargin,
    "o8_global_topk" ->
      """SELECT event_id, user_id, value FROM events
        |ORDER BY value DESC, event_id ASC LIMIT 100""".stripMargin,
    "k15_incremental_agg" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS v
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "j9_snapshot_diff" ->
      """WITH oldt AS (SELECT c_custkey, c_acctbal FROM customer),
        |newt AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
        |  FROM customer WHERE c_custkey % 13 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_acctbal FROM customer WHERE c_custkey % 17 = 0)
        |SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
        |  CASE WHEN o.c_custkey IS NULL THEN 'insert'
        |       WHEN n.c_custkey IS NULL THEN 'delete'
        |       ELSE 'update' END AS change,
        |  o.c_acctbal AS c_acctbal_old, n.c_acctbal AS c_acctbal_new
        |FROM oldt o FULL OUTER JOIN newt n ON o.c_custkey = n.c_custkey
        |WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
        |   OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
        |ORDER BY c_custkey""".stripMargin,
    "j8_full_outer_reconcile" ->
      """WITH agg AS (
        |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |         CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS spend
        |  FROM orders GROUP BY o_custkey)
        |SELECT COALESCE(c.c_custkey, a.o_custkey) AS custkey,
        |       c.c_custkey IS NOT NULL AS in_dim,
        |       a.o_custkey IS NOT NULL AS has_orders,
        |       COALESCE(a.n_orders, 0) AS n_orders,
        |       COALESCE(a.spend, 0) AS spend
        |FROM customer c FULL OUTER JOIN agg a ON c.c_custkey = a.o_custkey
        |ORDER BY custkey""".stripMargin,
    "k12_merge_upsert" ->
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |upd AS (
        |  SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal
        |  FROM base WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name, c_acctbal
        |  FROM base WHERE c_custkey % 17 = 0),
        |tagged AS (
        |  SELECT *, 0 AS src FROM base
        |  UNION ALL SELECT *, 1 AS src FROM upd),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY c_custkey
        |    ORDER BY src DESC, c_acctbal DESC, c_name DESC) AS rn
        |  FROM tagged)
        |SELECT c_custkey, c_name, c_acctbal FROM r WHERE rn = 1
        |ORDER BY c_custkey""".stripMargin,
    "o7_gap_fill" ->
      """WITH obs AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         CAST(COUNT(*) AS BIGINT) AS n_events,
        |         CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS pv,
        |         MAX(event_type) AS last_type
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT user_id, CAST(UNNEST(generate_series(MIN(day), MAX(day),
        |                       INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM obs GROUP BY user_id)
        |SELECT s.user_id, strftime(s.day, '%Y%m%d') AS day,
        |       COALESCE(o.n_events, 0) AS n_events,
        |       COALESCE(o.pv, 0) AS pv,
        |       last_value(o.last_type IGNORE NULLS) OVER (
        |         PARTITION BY s.user_id ORDER BY s.day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_type
        |FROM spine s LEFT JOIN obs o USING (user_id, day)
        |ORDER BY user_id, day""".stripMargin,
    "o6_global_cumsum" ->
      """SELECT event_id,
        |  CAST(SUM(CAST(floor(value) AS BIGINT)) OVER (
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_v
        |FROM events ORDER BY event_id""".stripMargin,
    "k10_scd2_intervals" ->
      """WITH ord AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type AS state, event_id,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_us(ts), event_id) AS rn,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |chg AS (
        |  SELECT user_id, ts_us, state, event_id FROM ord
        |  WHERE rn = 1 OR prev IS DISTINCT FROM state)
        |SELECT user_id, state, ts_us AS valid_from_us,
        |       lead(ts_us) OVER (PARTITION BY user_id
        |                         ORDER BY ts_us, event_id) AS valid_to_us
        |FROM chg ORDER BY user_id, valid_from_us, state""".stripMargin,
    "a12_pivot_daily" ->
      """SELECT strftime(ts, '%Y%m%d') AS day,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "j6_skew_join" ->
      """WITH f AS (
        |  SELECT CASE WHEN l_orderkey % 100 < 90 THEN 0 ELSE l_orderkey END AS skew_key,
        |         CAST(floor(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem),
        |d AS (SELECT DISTINCT skew_key, skew_key % 7 AS w FROM f)
        |SELECT w, COUNT(*) AS n, CAST(SUM(qty) AS BIGINT) AS qty_sum
        |FROM f JOIN d USING (skew_key)
        |GROUP BY w ORDER BY w""".stripMargin,
    "s1_full_scan" -> "SELECT * FROM nation ORDER BY n_nationkey",
    "s6_chunked_read" ->
      "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1",
    "s7_reemit" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name,
        |       CAST(2 AS BIGINT) AS n_copies
        |FROM region ORDER BY r_regionkey""".stripMargin,
    "s8_catalog_list" ->
      "SELECT DISTINCT strftime(ts, '%Y%m%d') AS day FROM events ORDER BY day",
    "s9_empty_guard" -> "SELECT TRUE AS is_empty, 0 AS n_cols",
    "p1_eq_filter" ->
      """SELECT event_id, user_id FROM events
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "p8_rename_checked" ->
      """SELECT c_custkey, c_name AS customer_name, c_acctbal AS balance
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "k5_partition_prune" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE strftime(ts, '%Y%m%d') = '20240102' ORDER BY event_id""".stripMargin,
    "e3_browsing_synthesis" ->
      """SELECT l_orderkey AS log_id, CAST(l_linenumber AS BIGINT) AS line_no,
        |  p_name AS exercise_name, p_brand AS topic,
        |  CAST(floor(l_quantity) AS BIGINT) AS attempts,
        |  (floor(l_extendedprice) > 30000.0) AS advanced,
        |  'batch-sources' AS source_name, CAST(2 AS BIGINT) AS source_id,
        |  FALSE AS is_update, FALSE AS is_delete,
        |  TIMESTAMP '2025-06-25 12:00:00' AS created_time,
        |  '2025-06-25' AS created_date
        |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        |ORDER BY log_id, line_no""".stripMargin,
    "k9_dpp_prune" ->
      """SELECT strftime(ts, '%Y%m%d') AS day, COUNT(*) AS n
        |FROM events WHERE strftime(ts, '%Y%m%d') = '20240102'
        |GROUP BY day ORDER BY day""".stripMargin,
    "j3_bucketed_join" ->
      """SELECT o_custkey, COUNT(*) AS n,
        |       CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "j4_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
        |d AS (SELECT DISTINCT user_id,
        |             (ts_us // 86400000000) * 86400000000 AS vf_us,
        |             ts_us // 86400000000 AS version
        |      FROM e WHERE (ts_us // 86400000000) % 3 = 0)
        |SELECT e.event_id, e.user_id, d.version
        |FROM e ASOF LEFT JOIN d ON e.user_id = d.user_id AND e.ts_us >= d.vf_us
        |ORDER BY event_id""".stripMargin,
    "j5_range_join" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events),
        |i AS (SELECT interval_id, interval_id * 3600000000 AS s_us,
        |             (interval_id + 2) * 3600000000 AS e_us
        |      FROM (SELECT DISTINCT (ts_us // 3600000000) AS interval_id
        |            FROM e WHERE (ts_us // 3600000000) % 3 = 0))
        |SELECT e.event_id, i.interval_id
        |FROM e JOIN i ON e.ts_us >= i.s_us AND e.ts_us < i.e_us
        |ORDER BY event_id, interval_id""".stripMargin,
    "skew_salted_agg" ->
      """SELECT event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS value_l_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "w2_sessionize_distributed" ->
      """SELECT entry_id, user_id, ts_sec,
        |  CAST(SUM(CASE WHEN prev IS NULL OR ts_sec - prev > 1800
        |                THEN 1 ELSE 0 END)
        |       OVER (ORDER BY ts_sec, entry_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1
        |       AS BIGINT) AS session_id
        |FROM (
        |  SELECT event_id AS entry_id, user_id,
        |         CAST(epoch_us(ts) // 1000000 AS BIGINT) AS ts_sec,
        |         lag(CAST(epoch_us(ts) // 1000000 AS BIGINT))
        |           OVER (ORDER BY CAST(epoch_us(ts) // 1000000 AS BIGINT), event_id) AS prev
        |  FROM events)
        |ORDER BY entry_id""".stripMargin,
    "a5_array_check" ->
      """SELECT * FROM (VALUES ('embedding', TRUE), ('label', FALSE))
        |AS t(column_name, is_array) ORDER BY column_name""".stripMargin
  )
}
