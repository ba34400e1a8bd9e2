package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.StructType

/** Structured Streaming twins of the incremental pipelines
  * (SURVEY §2.10).
  *
  * The reference's "stream" is a directory of timestamped JSON
  * micro-batch files polled by Airflow; Structured Streaming's file
  * source + `Trigger.AvailableNow` is the exact equivalent — the
  * checkpoint's seen-files log replaces the hand-rolled watermark CSV
  * (ST2) and gives the same late-file drop semantics (ST3).
  *
  * `session_window` replaces the hand-rolled gap scan (ST4) — note the
  * boundary: session_window opens a NEW session when the gap is ≥ the
  * timeout (half-open windows), where the batch W2 operator uses
  * strictly >. Both are faithful to a 30-minute timeout; the µs-exact
  * boundary event is astronomically rare, but the oracles encode each
  * variant's exact rule.
  *
  * ST5 (cross-batch dwell stitch) is the one genuinely stateful op:
  * flatMapGroupsWithState keeps the last event per user so the first
  * event of batch N+1 closes the dwell of the last event of batch N —
  * the reference defined this (py:380-387) but never wired it; we do.
  */
object Streams {

  case class Ev(user_id: Long, entry_id: Long, ts_us: Long)
  case class LastEv(entry_id: Long, ts_us: Long)
  case class Dwell(user_id: Long, entry_id: Long, dwell_us: Long)

  def deleteDir(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  private val TrackRowsKey =
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"

  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Engine-wide state store: ROCKSDB with changelog checkpointing,
    * for every stateful streaming query (round-15 verdict item 1).
    * Spark's default HDFSBackedStateStoreProvider keeps every state
    * row in executor HEAP (the loaded-version map) — correct at test
    * scale, but session windows, stream-stream joins, dedup state and
    * top-k counts all grow with stream history or key cardinality, so
    * at 100× stream state the heap provider is the first OOM while
    * RocksDB pages state to native memory + local disk and its JVM
    * footprint stays flat (PROBES.md, "State-scale probe: heap grows
    * with state, RocksDB stays flat"). transformWithState additionally
    * REQUIRES RocksDB.
    *
    * The cost side, measured honestly (PROBES.md, "Streaming
    * wall-clock A/B at 10x state"): the RocksDB tax is PER STATE ROW, not a per-trigger
    * constant — at 1× join state the A/B is parity (8.9 vs 8.7 s),
    * at 10× the stream-stream join reads 39-57 s vs heap's 15-19 s
    * (~2.5-3.5×), insensitive to trigger count, changelog mode, block
    * cache, and write buffer (all probed); the dedup shape pays only
    * ~1.2×. The r19 grid (PROBES.md, "RocksDB knob grid at 10x
    * state") closed the
    * remaining Spark-exposed knobs — memtable count/size, maxOpenFiles,
    * compactOnCommit, formatVersion (Spark exposes no direct
    * bloom-policy knob) — all inside box noise across two sweeps:
    * the per-row tax is the provider's FLOOR, knobs exhausted. The
    * engine therefore trades wall while state still FITS heap for
    * survival when it no longer does; RocksDB is the one provider.
    *
    * The provider is a session-level SQL conf captured into the
    * query's checkpoint at START — Spark has no per-query spelling —
    * so every engine stream runs on its OWN internal
    * `spark.newSession()` clone ([[newRunnerSession]]): own SQLConf
    * (the provider is set on the clone and never touches the caller's
    * conf), shared SparkContext/warehouse. CONCURRENT engine streams
    * on one user session are therefore a supported pattern (r17
    * verdict #1 — the reference DAG schedules the users and
    * browsinghistory drains as sibling tasks, dags/dwh_dag.py:212-221);
    * the former session-wide set/restore swap and its one-stream-per-
    * session lock are gone. Resuming an EXISTING checkpoint under a
    * different provider is rejected by Spark itself (offsets pin the
    * provider), so a checkpoint written before RocksDB became the
    * engine's provider needs a fresh checkpoint — the standard Spark
    * migration contract. */
  private[graft] def newRunnerSession(
      spark: SparkSession,
      shufflePartitions: Option[Int]): SparkSession = {
    val runner = spark.newSession()
    // carry the caller's RUNTIME conf onto the clone: newSession()
    // starts from the builder-time conf, so session-level user settings
    // (timezone, AQE toggles) would otherwise silently reset. ONLY
    // static/context-wide entries may fail the set (AnalysisException:
    // CANNOT_MODIFY_CONFIG) — they are shared through the context
    // anyway, so exactly that rejection is skipped; any other failure
    // on a dynamic conf would be a silently-dropped load-bearing
    // setting and must surface (round-18 ADVICE: the old NonFatal
    // catch swallowed everything).
    spark.conf.getAll.foreach { case (k, v) =>
      try runner.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    // stateful operators keep one state store PER shuffle partition per
    // store type — a stream-stream join holds 4-5 stores/partition, so
    // a micro-batch replay pays (partitions × stores) store commits per
    // trigger. Queries with heavy state machinery pass a smaller count
    // (captured into the checkpoint at query start; results unaffected);
    // size it from the probed U-curve via [[suggestedStatePartitions]].
    shufflePartitions.foreach(n =>
      runner.conf.set("spark.sql.shuffle.partitions", n))
    // changelog checkpointing: commit uploads the delta, not a full
    // snapshot — the per-trigger RocksDB commit cost that dominates
    // small-state benches (st8: 7.6 s without it vs 3.5 s on the heap
    // provider) and the recommended production config at large state.
    // trackTotalNumberOfRows off by default (round-16 verdict item 4):
    // maintaining the numTotalStateRows METRIC costs the write path a
    // point-get per put/remove — a bookkeeping knob, zero effect on
    // answers or stored state (the metric just reads 0). The
    // interleaved sf0.1 A/B (PROBES.md, "st8 RocksDB per-trigger
    // constant: priced and trimmed 30%") attributes part of the
    // stream-join trim to it; an explicit caller-session setting wins
    // over the default (it was copied onto the clone above).
    runner.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
    runner.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    if (runner.conf.getOption(TrackRowsKey).isEmpty)
      runner.conf.set(TrackRowsKey, "false")
    runner
  }

  /** Suggested shuffle/state partition count for a STATEFUL stream,
    * from an estimate of peak state rows — the probed U-curve as code
    * (r19 verdict #7: the provision-with-state rule lived in a registry
    * comment; a deployment reading the engine got only the 1×-state
    * pin). Stateful operators pay a per-trigger store-commit constant
    * PER PARTITION (a stream-stream join holds 4-5 stores/partition),
    * so too many partitions multiply the constant while too few
    * serialize it AND concentrate per-row state work — the wall is
    * U-shaped in partition count and its minimum MOVES RIGHT with
    * state volume. Probed pins under the RocksDB default, stream-
    * stream self-join shape: ~1e5 state rows → p8
    * (PROBES.md, "st8 RocksDB per-trigger constant: priced and trimmed
    * 30%": p1 27.2 / p4 7.9 / p8 5.5 / p16 6.6 /
    * p32 ~16 s), ~1e6 → p16 (PROBES.md, "st8 state-partition U-curve
    * RE-TESTED at 10x state": p16 36-43 s
    * beats p8 45-47 s in both sweeps, p1 ~330 s). The rule: partitions
    * DOUBLE PER DECADE of state above the 1e5 anchor (log-spaced
    * growth matches the minimum drifting right slower than linearly),
    * rounded to a power of two in log space (the U is flat near its
    * minimum; pow2 keeps partition math friendly), floored at the p8
    * anchor (below it the commit constant dominates regardless of
    * state) and clamped at 512. Spark captures the count into the
    * checkpoint at FIRST query start — provision for the state volume
    * the deployment will GROW INTO, not its day-one volume, or plan a
    * checkpoint migration. Results are partition-independent; this
    * tunes wall only. */
  def suggestedStatePartitions(estimatedStateRows: Long): Int = {
    require(estimatedStateRows >= 0L,
      s"estimatedStateRows must be non-negative, got $estimatedStateRows")
    val decades = math.max(0.0,
      math.log10(math.max(1.0, estimatedStateRows.toDouble / 1e5)))
    val exp = math.round(3.0 + decades).toInt // log2(8) = 3 at the anchor
    math.min(512, 1 << math.min(9, exp))
  }

  /** ST1 — micro-batch file source. Runs the stream to completion
    * (AvailableNow) into a memory sink and returns the static result.
    * The query runs on an internal [[newRunnerSession]] clone, so any
    * number of engine streams may run CONCURRENTLY on one user session
    * — provider and shuffle-partition settings live on the clone and
    * never race (r17 verdict #1).
    *
    * CONTRACT — the result must be DRIVER-SIZED (r18 verdict): the
    * memory sink holds every result row on the driver and the
    * returned frame is a driver-held parallelized copy, so this
    * runner is for aggregates, verdicts, and bounded replays — a
    * table-sized stream result (a full-corpus scan, an unaggregated
    * join) is a driver OOM at scale; run those through
    * [[runFileStreamToParquet]], which streams results to files and
    * never materializes them on the driver.
    *
    * CONTRACT — `transform` must be self-contained (clone contract):
    * it executes against the runner clone, which shares the
    * SparkContext but starts from a FRESH session state — column
    * expressions, engine operators, and literally-registered
    * functions work; references to the CALLER session's temp views or
    * by-name-registered UDFs (`spark.sql` over a view, `callUDF`)
    * resolve against the clone's empty catalog and fail. Register
    * such state on the frame itself (join the view's DataFrame,
    * pass the function as a Column expression) instead. */
  def runFileStream(
      spark: SparkSession,
      path: String,
      schema: StructType,
      checkpoint: String,
      transform: DataFrame => DataFrame,
      outputMode: OutputMode = OutputMode.Append(),
      maxFilesPerTrigger: Option[Int] = None,
      shufflePartitions: Option[Int] = None,
      format: String = "json"
  ): DataFrame = {
    deleteDir(spark, checkpoint)
    val runner = newRunnerSession(spark, shufflePartitions)
    val reader = runner.readStream.schema(schema)
    val src = maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n))
      .getOrElse(reader)
      .format(format).load(path)
    val name = s"mem_${System.nanoTime()}"
    try {
      val q = transform(src).writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // copy the sink out as a driver-held, PARALLELIZED frame on the
      // CALLER's session: the memory sink already holds every result
      // row on the driver, so the copy is one driver-side pass; the
      // rows live in the RDD definition itself, so the frame survives
      // executor loss (a localCheckpoint's blocks would not, in a
      // cluster deployment — round-17 ADVICE) and the clone's catalog
      // entry can be released immediately. parallelize, NOT a
      // LocalRelation: createDataFrame(list) starts every downstream
      // plan single-partition, wrong for table-sized sinks like st1's
      // full-scan result (round-18 review finding).
      val sink = runner.table(name)
      // unsafeWrapArray: zero-copy view of the collected array (never
      // mutated) — a toSeq would retain a second full copy of a
      // table-sized sink on the driver (round-18 review finding)
      val rows = scala.collection.immutable.ArraySeq.unsafeWrapArray(sink.collect())
      val slices = math.max(1,
        math.min(spark.sparkContext.defaultParallelism, rows.size / 10000 + 1))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), sink.schema)
    } finally
      // drop on EVERY path: a failed query has still registered the
      // view at start(), and leaking it driver-holds the partial sink
      // forever (round-17 ADVICE — the success-only drop leaked on
      // the failure path)
      runner.catalog.dropTempView(name): Unit
  }

  /** TABLE-SIZED twin of [[runFileStream]] (r18 verdict): identical
    * source/clone/trigger shape, but results stream to a parquet FILE
    * sink — no row ever lives on the driver, so the result may be any
    * size the cluster can hold. The file sink is Append-only by Spark
    * contract (each closed result row written exactly once, tracked in
    * the sink's `_spark_metadata` commit log — which also makes a
    * crashed run resume exactly-once under `reset = false`), so
    * Complete/Update transforms stay on the memory runner. Returns the
    * accumulated table read back on the CALLER's session (a lazy scan,
    * not a copy); the same self-contained `transform` clone contract
    * as [[runFileStream]] applies.
    *
    * LIFETIME CONTRACT — the sink's `_spark_metadata` commit log grows
    * with every file EVER written (r19 verdict #3, measured in
    * PROBES.md, "Round-20: file-sink `_spark_metadata` growth,
    * measured to the 10k-batch shape"): Spark rewrites a `.compact` file
    * holding one entry per historical file every
    * `spark.sql.streaming.fileSink.log.compactInterval` (10) batches,
    * and Spark 4.1 exposes NO entry expiry (deletion/cleanupDelay
    * remove only superseded per-batch log files, never compact
    * entries). Measured: the READ side stays shallow — planning a
    * read-back parses the compact log at ~14 µs/entry (0.14 s at 10 k
    * entries, synthetic compact templated from the real format) — but
    * the DRAIN side pays the O(entries) rewrite every 10 batches, a
    * cumulatively QUADRATIC tax: the per-200-batch drain wall grew
    * 62 → 78 s (+26 %) within the first 1 200 single-file batches, and
    * extrapolates to the log tax EXCEEDING the useful per-batch work
    * within ~10 k batches. Deployment story: this runner is for
    * BOUNDED replays and cadence jobs (the registry shape — one
    * AvailableNow drain per run); a forever-running ingest should land
    * via the manifest zone ([[runBinaryPackStream]] /
    * [[runManifestIngestStream]] + `compactLandingManifest`), whose
    * checkpoint FOLDS instead of accumulating, or rotate `outPath` on
    * a cadence (each rotation starts a fresh log; readers union the
    * rotated tables). Raising `compactInterval` trades fewer O(entries)
    * rewrites for more delta files unioned per read — it moves the
    * constant, not the growth law. */
  def runFileStreamToParquet(
      spark: SparkSession,
      path: String,
      schema: StructType,
      checkpoint: String,
      outPath: String,
      transform: DataFrame => DataFrame,
      maxFilesPerTrigger: Option[Int] = None,
      shufflePartitions: Option[Int] = None,
      format: String = "json",
      reset: Boolean = true
  ): DataFrame = {
    if (reset) {
      deleteDir(spark, checkpoint)
      deleteDir(spark, outPath)
    }
    val runner = newRunnerSession(spark, shufflePartitions)
    val reader = runner.readStream.schema(schema)
    val src = maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n))
      .getOrElse(reader)
      .format(format).load(path)
    // bound ONCE: transform may carry caller side effects and re-runs
    // analysis — the memory runner invokes it once, so must this (r19
    // ADVICE)
    val sinkFrame = transform(src)
    val sinkSchema = sinkFrame.schema
    val q = sinkFrame.writeStream
      .format("parquet")
      .option("path", outPath)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // zero matched files ⇒ zero batches ⇒ a sink directory holding at
    // most the _spark_metadata log and no data files (unreadable by
    // schema inference): an empty frame with the transform's schema,
    // not an analysis error (the same epilogue every batch_id-keyed
    // drain uses)
    val outP = new Path(outPath)
    val f = outP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = f.exists(outP) && f.listStatus(outP).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (hasData) spark.read.parquet(outPath)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sinkSchema)
  }

  /** ST4 — per-user 30-minute session windows as a streaming aggregate.
    *
    * Complete output mode is used here so an AvailableNow replay emits
    * every session (matching the batch oracle). A long-running
    * production stream should instead use Append mode with
    * `withWatermark` so closed sessions emit incrementally and state is
    * evicted — Complete retains all sessions in the state store, which
    * is bounded only by total session count. */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), sum(col("pageview_count")).as("pv_sum"))
      .select(col("user_id"), unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"), col("n_events"), col("pv_sum"))

  /** ST4 production twin — Append-mode session windows with
    * watermark-driven state eviction. This is the variant a forever-
    * running stream needs (the reference's streaming DAG runs
    * unbounded under Airflow, dags/dwh_dag.py:245-248): a session is
    * emitted exactly once, when the event-time watermark passes its
    * end, and its state is evicted — state size is bounded by the
    * OPEN-session count, not by history. The Complete-mode twin
    * [[sessionWindowAgg]] stays for full-replay parity checks.
    *
    * Emission rule (empirically pinned, encoded in the oracle): Spark
    * tracks the event-time watermark in MILLISECONDS, so at 0s delay
    * the final watermark of an AvailableNow run is floor_ms(max event
    * time) and exactly the sessions with `end <= floor_ms(max ts)` are
    * emitted — a session ending inside the sub-ms band
    * (floor_ms(max), max] stays in state, as does each user's open
    * last session. */
  def sessionWindowAppend(events: DataFrame, delay: String = "0 seconds"): DataFrame =
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", delay)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), sum(col("pageview_count")).as("pv_sum"))
      .select(col("user_id"), unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"), col("n_events"), col("pv_sum"))

  /** ST6 — tumbling event-time windows (beyond the reference, which
    * only has gap sessions; shipped to complete the streaming matrix).
    * Epoch-aligned 1-hour buckets, Append mode: a window emits exactly
    * once when the watermark passes its end, state bounded by open
    * windows. */
  def tumblingAgg(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), width).as("w"))
      .agg(count(lit(1)).as("n_events"), sum(col("pageview_count")).as("pv_sum"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        unix_micros(col("w.end")).as("window_end_us"), col("n_events"), col("pv_sum"))

  /** ST14 — windowed per-type counts, the streaming half of a
    * windowed top-k: the STREAM maintains (window, event_type)
    * aggregates — bounded state, Append emission when the watermark
    * passes each window — and the top-k rank runs as a batch epilogue
    * over the emitted table. Ranking inside the stream would need a
    * window function over a streaming frame (unsupported, and rightly:
    * a rank is only final once the window closes, which is exactly
    * what Append emission already guarantees). */
  def windowTypeCounts(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        unix_micros(col("w.end")).as("window_end_us"),
        col("event_type"), col("n_events"))

  /** ST6b — sliding event-time windows (1 h wide, 30 min slide): every
    * event lands in exactly width/slide windows; Append emission when
    * the watermark passes each window's end, state bounded by open
    * windows. */
  def slidingAgg(events: DataFrame, width: String = "1 hour",
                 slide: String = "30 minutes"): DataFrame =
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), width, slide).as("w"))
      .agg(count(lit(1)).as("n_events"), sum(col("pageview_count")).as("pv_sum"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        unix_micros(col("w.end")).as("window_end_us"), col("n_events"), col("pv_sum"))

  /** ST8 — stream-stream windowed SELF-JOIN: every (earlier, later)
    * event pair of the same user within `windowSec` — click-to-action
    * attribution. Both sides carry an event-time watermark and the join
    * condition time-bounds both event times, so the state store evicts
    * rows once the watermark passes `a_ts + windowSec` (without the
    * bound, stream-stream join state grows forever). Inner-join output
    * is independent of micro-batch boundaries — every match emits
    * exactly once — so the result equals the batch self-join and is
    * oracle-checkable. The generous delay keeps the bench fixture's
    * mildly out-of-order files from dropping matches; production tunes
    * it to the real disorder bound. */
  def streamSelfJoinPairs(events: DataFrame, windowSec: Long = 600L,
                          delay: String = "24 hours"): DataFrame = {
    val a = events.select(col("user_id"), col("entry_id").as("a_id"),
      timestamp_micros(col("ts_us")).as("a_ts")).withWatermark("a_ts", delay)
    val b = events.select(col("user_id").as("user_id_b"), col("entry_id").as("b_id"),
      timestamp_micros(col("ts_us")).as("b_ts")).withWatermark("b_ts", delay)
    a.join(b, expr(
        s"""user_id = user_id_b AND b_ts > a_ts
           |AND b_ts <= a_ts + INTERVAL $windowSec seconds""".stripMargin))
      .select(col("user_id"), col("a_id"), col("b_id"),
        (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("gap_us"))
  }

  /** ST9 — streaming exact dedup: `dropDuplicates` over the key columns
    * keeps cross-batch state of every key seen and emits each key's
    * first arrival once — the reference's keyed dedup in streaming
    * mode. Projecting the output to the key columns makes the result
    * independent of WHICH physical row survives (any survivor projects
    * to the same tuple), so the memory-sink content equals the batch
    * DISTINCT. State = one entry per distinct key; bound it in
    * production with dropDuplicatesWithinWatermark when keys don't
    * recur beyond the disorder bound. */
  def streamDedupKeys(events: DataFrame, keys: Seq[String]): DataFrame =
    events.select(keys.map(col): _*).dropDuplicates(keys)

  /** ST13 — BOUNDED-STATE streaming dedup:
    * `dropDuplicatesWithinWatermark` evicts a key's state once the
    * event-time watermark passes its arrival time, so state holds
    * O(keys per disorder window) instead of st9's O(every key ever) —
    * at 100 TB/day the unbounded version eventually evicts to disk and
    * dies; this one is the production shape. Contract: duplicates of a
    * key arrive within `delay` of the first occurrence (the disorder
    * bound); a key recurring LATER re-emits (spec-asserted), which is
    * the price of bounded state. With `delay` covering the fixture's
    * whole span the sink equals batch DISTINCT, which is what the
    * oracle checks. `tsCol` names the microsecond event-time column
    * (defaults to the fixtures' `ts_us`). */
  def streamDedupKeysWithinWatermark(events: DataFrame, keys: Seq[String],
                                     delay: String = "40 days",
                                     tsCol: String = "ts_us"): DataFrame =
    events
      .select(keys.map(col) :+ timestamp_micros(col(tsCol)).as("__ts"): _*)
      .withWatermark("__ts", delay)
      .dropDuplicatesWithinWatermark(keys)
      .select(keys.map(col): _*)

  /** ST5 — cross-batch dwell stitch. Emits, for every event that has a
    * successor in its user's stream (possibly in a later micro-batch),
    * the dwell time to that successor. The user's final event stays in
    * state (its dwell is unknowable until more data arrives). */
  def stitchDwell(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), col("entry_id").cast("long"), col("ts_us").cast("long"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEv, Dwell](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[Ev], state: GroupState[LastEv]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts_us, e.entry_id))
          val withPrev = state.getOption.map(p => Ev(user, p.entry_id, p.ts_us)).toSeq ++ sorted
          if (withPrev.nonEmpty) state.update(LastEv(withPrev.last.entry_id, withPrev.last.ts_us))
          withPrev.iterator
            .sliding(2)
            .withPartial(false)
            .map { case Seq(a, b) => Dwell(user, a.entry_id, b.ts_us - a.ts_us) }
      }
      .toDF()
  }

  /** ST5 on the modern `transformWithState` API (Spark 4 arbitrary
    * state, RocksDB-backed): identical stitch semantics to
    * [[stitchDwell]], state held in a typed `ValueState` handle — the
    * API a long-lived production stream should target (typed state
    * handles, TTL support, state eviction independent of output). */
  class DwellProcessor extends StatefulProcessor[Long, Ev, Dwell] {
    @transient private var last: ValueState[LastEv] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[LastEv]("last",
        Encoders.product[LastEv], TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[Dwell] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.entry_id))
      val carried =
        if (last.exists()) Seq(Ev(user, last.get().entry_id, last.get().ts_us)) else Seq.empty
      val withPrev = carried ++ sorted
      if (withPrev.nonEmpty) last.update(LastEv(withPrev.last.entry_id, withPrev.last.ts_us))
      withPrev.iterator
        .sliding(2)
        .withPartial(false)
        .map { case Seq(a, b) => Dwell(user, a.entry_id, b.ts_us - a.ts_us) }
    }
  }

  def stitchDwellTws(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), col("entry_id").cast("long"), col("ts_us").cast("long"))
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new DwellProcessor, TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** One micro-batch of the BUCKETED streaming upsert (st12): merge
    * `batch` into the table rewriting ONLY the hash buckets the batch
    * touches. The table is hive-partitioned by `__bucket =
    * pmod(key, nBuckets)`; the base read prunes to touched buckets and
    * the write uses dynamic partition overwrite, so per-trigger cost is
    * O(touched buckets), not O(table) — the property that lets a
    * streaming MERGE survive a table 1000× its batch size. The
    * touched-bucket list is an O(nBuckets)-bounded driver collect
    * (control metadata, like the watermark reads).
    *
    * Crash recovery is replay-idempotence, not swap atomicity: dynamic
    * overwrite is per-partition, so a crash can leave a bucket mix of
    * old and new — but keepLatest re-merging the same batch is a
    * no-op, so the checkpoint's replay of the interrupted batch
    * converges the table. (Exposed as a method so the spec can drive
    * exactly that replay.) */
  def upsertBucketedBatch(spark: SparkSession, tablePath: String, batch: DataFrame,
                          keys: Seq[String], order: Seq[String], nBuckets: Int): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keyed = batch.withColumn("__bucket", pmod(col(keys.head), lit(nBuckets.toLong)))
    // touched buckets: distinct per partition, then one collect — one
    // job, no exchange (a global distinct() plans a shuffle and a
    // second job for at most nBuckets values)
    val touched = {
      import spark.implicits._
      keyed.select("__bucket").as[Option[Long]]
        .mapPartitions(_.toSet.iterator)
        .collect().distinct.map { b =>
          // a permissive JSON source emits NULL (not a parse error) for a
          // missing key field; pmod(null) is a null bucket — fail with
          // the column name instead of an opaque NPE mid-stream
          require(b.isDefined,
            s"upsertBucketedBatch: merge key '${keys.head}' contains NULL — " +
              "filter or repair null-key records before the merge")
          b.get
        }.toSeq
    }
    // an empty micro-batch (e.g. an empty JSON file) touches no bucket:
    // writing would be pure metadata churn (dynamic overwrite of zero
    // partitions still creates a job + _SUCCESS churn) — a merge of
    // nothing is a no-op, return before touching the base
    if (touched.isEmpty) return
    val base =
      if (fs.exists(new Path(tablePath)))
        spark.read.parquet(tablePath)
          .filter(col("__bucket").isin(touched: _*))
          // hive partition values infer as INT on read-back; realign
          // with the batch's long before the union inside keepLatest
          .withColumn("__bucket", col("__bucket").cast("long"))
      else keyed.limit(0)
    graft.ops.Merge.keepLatest(base, keyed, keys :+ "__bucket", order.map(col))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bucket")
      .parquet(tablePath)
  }

  /** ST12 — bucketed streaming upsert: the O(touched-buckets) twin of
    * [[runFileStreamUpsert]] (which rewrites the whole table per
    * trigger — fine for dimension-sized tables, wrong at 1000× batch
    * size). Same keep-latest semantics, same oracle. */
  def runFileStreamUpsertBucketed(
      spark: SparkSession,
      path: String,
      schema: StructType,
      checkpoint: String,
      tablePath: String,
      keys: Seq[String],
      order: Seq[String],
      nBuckets: Int,
      maxFilesPerTrigger: Option[Int] = Some(2)
  ): DataFrame = {
    deleteDir(spark, checkpoint)
    deleteDir(spark, tablePath)
    // Some(2) default: ≥2 batches keeps the replay genuinely
    // incremental (merge-into-existing, not a single bulk load) at
    // half the per-trigger fixed cost of one-file batches; keep-latest
    // is associative, so the end state is batching-independent (oracle
    // + replay specs pin it). None = no per-trigger limit, the same
    // spelling as runFileStream's knob.
    val reader = spark.readStream.schema(schema)
    val src = maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n))
      .getOrElse(reader)
      .json(path)
    val q = src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        upsertBucketedBatch(spark, tablePath, batch.toDF(), keys, order, nBuckets)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(tablePath).drop("__bucket")
  }

  /** ST10 — streaming UPSERT sink via foreachBatch: each micro-batch
    * merges into a parquet table with keep-latest-per-key semantics
    * (the foreachBatch + MERGE idiom every lakehouse streaming writer
    * uses; the merge itself is [[graft.ops.Merge.keepLatest]] — NOT
    * `upsert`, whose last-writer-wins source precedence would make the
    * end state depend on batch order).
    *
    * The rewrite runs through [[graft.io.IO.replaceDir]] — the base
    * MUST stay intact while the new table writes, since Spark reads it
    * lazily DURING the write (an in-place overwrite would consume its
    * own half-deleted input) — and each batch first calls
    * [[graft.io.IO.recoverSwap]] so a crash between the swap renames
    * (or a checkpoint replay after one) resumes from the preserved old
    * copy instead of silently rebuilding from empty.
    *
    * Keep-latest by a (version, tiebreak) order is associative, so the
    * final table is independent of how rows fell into micro-batches —
    * which is what makes the result oracle-checkable.
    */
  def runFileStreamUpsert(
      spark: SparkSession,
      path: String,
      schema: StructType,
      checkpoint: String,
      tablePath: String,
      keys: Seq[String],
      order: Seq[String],
      maxFilesPerTrigger: Option[Int] = Some(2)
  ): DataFrame = {
    deleteDir(spark, checkpoint)
    deleteDir(spark, tablePath)
    deleteDir(spark, s"$tablePath.__swap_old")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val reader = spark.readStream.schema(schema)
    val src = maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n))
      .getOrElse(reader)
      .json(path)
    val q = src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
        graft.io.IO.recoverSwap(spark, tablePath)
        val merged =
          if (fs.exists(new Path(tablePath)))
            graft.ops.Merge.keepLatest(
              spark.read.parquet(tablePath), b, keys, order.map(col))
          else
            graft.ops.Merge.keepLatest(b.limit(0), b, keys, order.map(col))
        graft.io.IO.replaceDir(spark, tablePath) { tmp =>
          merged.write.mode("overwrite").parquet(tmp)
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(tablePath)
  }

  /** ST15 — streaming ingest NEAR-DUP GATE: each micro-batch of
    * incoming documents is swept against the PRE-MATERIALIZED corpus
    * LSH band artifact ([[graft.llm.DedupLsh.corpusBandSignatures]])
    * inside foreachBatch, and every doc's verdict — how many corpus
    * members it near-duplicates, the best jaccard, the keep/drop bit —
    * is emitted to the sink. This is the production shape of a
    * streaming ingest filter: the corpus side never recomputes (scan +
    * map-side band explode per trigger, zero corpus shuffle), each
    * trigger pays one bounded sweep of its own batch, and because the
    * gate is per-doc against a static corpus the result is
    * micro-batch-boundary independent — which is what makes it
    * oracle-checkable against a single batch replay.
    *
    * Exactly-once without an upsert: each batch writes to its own
    * `batch_id=N` directory with overwrite, so a checkpoint replay of
    * an uncommitted batch REWRITES that directory instead of appending
    * duplicate verdicts (the append-sink crash trap the st10 swap
    * machinery solves for merges, solved here by idempotent
    * batch-keyed placement). */
  /** ST17 — streaming landing-zone PACK: the stream twin of
    * [[graft.io.IO.packBinaryDir]] (s17), and the steady-state consumer
    * of a media landing volume. Each micro-batch of newly landed files
    * appends its (fname, length, content) rows to the packed parquet
    * payload table: the source's checkpointed seen-file log means a
    * restart never re-packs a file, the payload bytes land in parquet
    * row groups once, and every downstream decoder (m1–m7) reads the
    * packed table at parquet speed instead of re-listing the zone
    * (PROBES round-15: 176k vs 0.4–1.2k files/s). Append-only by
    * design — the landing contract is immutable files with unique
    * names; rotation of ingested files out of the zone (the watermark
    * S11 pattern) is what keeps the per-trigger relist bounded.
    *
    * Exactly-once without an upsert: each batch lands in its own
    * `batch_id=N` directory with overwrite (the st15 pattern) — a
    * driver crash between the parquet job commit and the checkpoint's
    * offset commit replays the batch into the SAME directory instead
    * of appending duplicate rows, which a plain append sink would
    * (round-15 ADVICE). Readers see the accumulated table through the
    * directory read below; the inferred batch_id partition column is
    * dropped — placement metadata, not payload. */
  /** Shared scaffolding of the batch_id-keyed landing drains (st17
    * pack / st18 manifest): reset handling, the PRE-START flat-layout
    * refusal (a mixed layout written beside old flat part files is the
    * failure the guard exists to prevent — it must run before any
    * batch_id dir lands), the AvailableNow drain of the caller-built
    * query, and the read-back-or-empty epilogue. One implementation so
    * the two runners' contract cannot drift (round-16 review finding:
    * the guard existed in one and not the other). `transform` maps each
    * micro-batch of source rows to the (fname, length, content) rows of
    * its batch_id directory. */
  private def drainToBatchDirs(
      spark: SparkSession,
      checkpoint: String,
      outPath: String,
      reset: Boolean,
      source: DataFrame,
      transform: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    // reset=true is the replayable-registry convention (every run packs
    // from scratch); production passes reset=false and KEEPS the
    // checkpoint — the seen-file log is then what guarantees a resumed
    // or re-triggered drain appends only files that landed since
    // (spec-pinned: no re-pack, no duplicates)
    if (reset) {
      deleteDir(spark, checkpoint)
      deleteDir(spark, outPath)
    }
    val outP = new Path(outPath)
    val outFs = outP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def outEntries(): Seq[String] =
      if (outFs.exists(outP)) outFs.listStatus(outP).toSeq.map(_.getPath.getName)
      else Seq.empty
    require(!outEntries().exists(n => n.startsWith("part-")),
      s"$outPath holds a flat (pre-batch-layout) packed table; this drain " +
        "writes idempotent batch_id=N directories — drain into a fresh " +
        "outPath (and checkpoint), or migrate the old table first")
    val q = source.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        transform(batch.toDF())
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // zero matched files → zero batches → no table; hand back an empty
    // frame with the packed schema instead of a path-not-found
    if (outEntries().exists(_.startsWith("batch_id=")))
      spark.read.parquet(outPath).drop("batch_id")
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("fname", StringType), StructField("length", LongType),
        StructField("content", BinaryType))))
  }

  def runBinaryPackStream(
      spark: SparkSession,
      path: String,
      checkpoint: String,
      outPath: String,
      maxFilesPerTrigger: Option[Int] = Some(7),
      reset: Boolean = true
  ): DataFrame = {
    import org.apache.spark.sql.types._
    val binSchema = StructType(Seq(
      StructField("path", StringType), StructField("modificationTime", TimestampType),
      StructField("length", LongType), StructField("content", BinaryType)))
    val reader = spark.readStream.schema(binSchema)
    val src = maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n))
      .getOrElse(reader)
      .format("binaryFile").load(path)
      .select(element_at(split(col("path"), "/"), -1).as("fname"),
        col("length"), col("content"))
    drainToBatchDirs(spark, checkpoint, outPath, reset, src, identity)
  }

  /** ST18 — streaming MANIFEST-driven landing ingest: the stream twin
    * of [[graft.io.IO.readBinaryFromManifest]] (s18), and the fix for
    * the OTHER half of the round-15 listing knee: the binaryFile
    * STREAM source re-lists the whole landing directory EVERY trigger
    * and diffs it against its seen-files log — O(N/m) listings of O(N)
    * entries to drain N files, the quadratic cap measured at 0.4–1.2k
    * files/s. Here the stream's file source watches only the MANIFEST
    * segments (one tiny file per landed wave, so each per-trigger
    * relist is O(waves)), and each micro-batch opens its wave's files
    * in EXECUTORS via the shared [[graft.io.IO.openManifested]] kernel
    * — per-trigger cost scales with the wave's payload, never with the
    * zone's history. Output lands in idempotent `batch_id=N`
    * directories (the st15/st17 pattern: a crash between the parquet
    * commit and the offset commit replays into the same directory, no
    * duplicates). `reset = false` + a kept checkpoint is the
    * production steady state: only segments that arrived since the
    * last drain are processed. Cross-wave basename collisions are the
    * packed table's post-hoc check (each wave is checked on ingest;
    * fname-keyed consumers re-assert distinctness on read).
    *
    * Compaction contract: this source lists only the LIVE `seg_*.json`
    * glob, so [[graft.io.IO.compactLandingManifest]] must only fold
    * segments every drain has already ingested. For MARKED consumers
    * that rule is ENFORCED (round 20): every fold path clamps its
    * cutoff to `min(consumer marks)`, so a registered lagging drain
    * cannot be starved by any fold short of the explicit
    * `ignoreConsumerMarks` override. For zones without marks, run the
    * fold with `graceMs` set to an upper bound on drain lag, measured
    * RELATIVE TO THE NEWEST SEGMENT's mtime (one clock domain — store
    * mtimes never compare against the driver's wall clock, so
    * driver/store skew cannot erode the window; folding a segment a
    * lagging drain has not yet listed silently starves it of those
    * waves; the full rule and its kill -9 probe live on the
    * compaction's own scaladoc).
    *
    * `compactAfterDrain = true` runs that fold automatically after a
    * SUCCESSFUL drain (r17 verdict #4 — compaction an operator must
    * remember to schedule re-grows the small-files curve the probe
    * killed): the newest segment mtime is captured BEFORE the source
    * lists, and the post-drain fold takes exactly the segments
    * STRICTLY OLDER than it — every one of them was listed (hence
    * ingested) by this very drain, so the fold can never starve the
    * drain that ran it, with no clock assumption beyond store-mtime
    * monotonicity (a wave landing mid-drain is newer and survives;
    * ties at the captured mtime survive too, against coarse-mtime
    * stores, and fold next cycle). Live segments therefore stay
    * O(waves per drain cadence).
    *
    * Multi-CONSUMER zones (several independent drains on one
    * manifest): pass each drain a stable `consumerId` — after a
    * successful drain it records the mtime through which it has
    * provably ingested every segment
    * ([[graft.io.IO.recordManifestConsumer]]), and the auto-fold (or a
    * central [[graft.io.IO.compactLandingManifestForConsumers]] on any
    * cadence) folds only what EVERY registered consumer has covered —
    * exact bookkeeping instead of a guessed `graceMs` lag bound, so a
    * lagging sibling's waves stay live until its own mark advances.
    * A consumer JOINING an active zone PRE-REGISTERS before its first
    * drain ([[graft.io.IO.recordManifestConsumer]] with its bootstrap
    * coverage, or `Long.MinValue` for "hold everything") — an
    * unregistered consumer is invisible to sibling folds exactly
    * while it is laggiest, and a fold racing its first drain could
    * otherwise outrun it. A consumer joining a zone that has ALREADY
    * compacted passes `bootstrapFromCheckpoint = true` (r18 verdict
    * #1): its output is seeded from the `_checkpoint` band through the
    * same open kernel, its mark pre-registers automatically, and the
    * live segments stream from there — its accumulated output is
    * byte-equal to a never-folded consumer's (st21 pins this under the
    * shared content oracle). A join that found NO live segments leaves
    * an offset-less stream checkpoint; the fingerprint sentinel the
    * bootstrap drops there is what lets its steady-state resumes
    * proceed (valid while the seeded `_checkpoint` is unchanged; a
    * fold since then refuses into a re-bootstrap). A bootstrap killed
    * mid-seed is recovered by RE-RUNNING the bootstrap — its reset
    * deletes the partial state and the seed overwrite is idempotent.
    * One bootstrap at a time PER CONSUMER ID, enforced (r19 verdict
    * #6): the join holds an exclusive `.bootstrap_<id>.lock` under
    * `_consumers/` (the fold lock's verified-claim pattern), so two
    * operators racing the same join fail loudly instead of
    * interleaving reset/seed/sentinel; the lock releases on every
    * in-process exit, and a kill -9'd join is recovered with
    * `takeoverCrashedBootstrap = true` before the re-run. The seed's
    * basename-collision check is scoped PER PATH (r19 ADVICE): the
    * `_checkpoint` band has no wave column, so the per-wave scope
    * every live drain uses cannot be reconstructed — a zone with
    * legitimate cross-wave basename collisions still joins, and
    * fname-keyed ambiguity stays the packed table's post-hoc check
    * exactly as on the drain path (a path manifested at two lengths —
    * real corruption — still fails loudly).
    * The fold itself is single-writer per manifest, ENFORCED by the
    * `_FOLDING` lock: with several sibling drains auto-folding, a
    * second concurrent fold fails loudly naming the holder — let one
    * owner run the folds, exactly as
    * [[graft.io.IO.compactLandingManifest]] documents. */
  def runManifestIngestStream(
      spark: SparkSession,
      manifestDir: String,
      checkpoint: String,
      outPath: String,
      maxFilesPerTrigger: Option[Int] = Some(1),
      reset: Boolean = true,
      compactAfterDrain: Boolean = false,
      consumerId: Option[String] = None,
      bootstrapFromCheckpoint: Boolean = false,
      takeoverCrashedBootstrap: Boolean = false
  ): DataFrame = {
    import org.apache.spark.sql.types._
    val manSchema = StructType(Seq(
      StructField("path", StringType), StructField("length", LongType)))
    val ckptTablePath = graft.io.IO.manifestCheckpointDir(manifestDir)
    val ckptTable = new Path(ckptTablePath)
    val mf = ckptTable.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heal a fold that crashed between its two renames FIRST: the
    // checkpoint parked at _checkpoint.__swap_old would otherwise
    // defeat every exists check below and let a fresh drain silently
    // ingest the partial corpus the guard exists to refuse
    // (round-18 review finding — every other checkpoint toucher
    // recovers before acting)
    graft.io.IO.recoverSwap(spark, ckptTablePath)
    val hasFolded = mf.exists(ckptTable)
    // a drain whose STREAM checkpoint has no committed offsets lists
    // only LIVE segments from scratch, so starting one against a
    // manifest whose history has been folded into the _checkpoint
    // would silently drain a PARTIAL corpus — the folded waves are
    // outside the seg_*.json glob (the log-compacted-source bootstrap
    // rule, enforced instead of documented). Keyed on the CHECKPOINT's
    // freshness, not the reset flag (round-18 ADVICE): a first-ever
    // drain called with reset = false against an empty checkpoint dir
    // is exactly as fresh as a reset one. reset = true empties the
    // checkpoint anyway, so it can never carry offsets past the guard.
    val checkpointIsFresh = reset || {
      val off = new Path(s"$checkpoint/offsets")
      val cf = off.getFileSystem(spark.sparkContext.hadoopConfiguration)
      !cf.exists(off) ||
        !cf.listStatus(off).exists(s =>
          s.isFile && s.getPath.getName.forall(_.isDigit))
    }
    // fingerprint = hash of the checkpoint's DATA-FILE listing (name +
    // length, order-insensitive): every fold rewrites the directory
    // with fresh part-file names on every store. A dir MTIME would be
    // simpler but object stores synthesize directory entries (often
    // mtime 0), which would silently disarm the fold-race checks there.
    def ckptFingerprint(): Long =
      if (!mf.exists(ckptTable)) -1L
      else {
        val listing = mf.listStatus(ckptTable).filter(_.isFile)
          .map(s => s"${s.getPath.getName}:${s.getLen}").toSeq
        // two independently-seeded 32-bit hashes packed into one Long,
        // masked non-negative so a hash can never collide with the -1
        // "no checkpoint" sentinel — the mask costs ONE bit, not 33
        // (r19 ADVICE: a 31-bit fingerprint makes a 2^-31 collision
        // silently accept a changed checkpoint, the exact partial-
        // corpus class the fingerprint exists to catch)
        val h1 = scala.util.hashing.MurmurHash3.unorderedHash(listing, 0x9747b28c)
        val h2 = scala.util.hashing.MurmurHash3.unorderedHash(listing, 0x5bd1e995)
        ((h1.toLong << 32) | (h2.toLong & 0xffffffffL)) & Long.MaxValue
      }
    // a bootstrap that drained ZERO batches (it joined a fully-folded
    // zone with no live segments yet) leaves an offset-less stream
    // checkpoint — indistinguishable from never-bootstrapped by the
    // offsets test alone, and the consumer's steady-state resumes
    // would be refused into wasteful re-bootstraps forever. The
    // bootstrap therefore drops a sentinel into ITS OWN checkpoint
    // dir carrying the _checkpoint fingerprint its seed covered: a
    // fresh-checkpoint resume whose sentinel matches the CURRENT
    // fingerprint is provably safe (the seed covers the whole folded
    // band and no fold has moved segments since); a mismatch — a fold
    // ran after the bootstrap — refuses into a loud re-bootstrap,
    // exactly like the in-flight fingerprint check below.
    val sentinel = new Path(s"$checkpoint/_graft_bootstrap.json")
    val sentinelCovers: Boolean = !reset && {
      val cf = sentinel.getFileSystem(spark.sparkContext.hadoopConfiguration)
      cf.exists(sentinel) && {
        val in = cf.open(sentinel)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        """"ckpt_fingerprint"\s*:\s*(-?\d+)""".r.findFirstMatchIn(txt)
          .exists(_.group(1).toLong == ckptFingerprint())
      }
    }
    require(!hasFolded || !checkpointIsFresh || bootstrapFromCheckpoint
        || sentinelCovers,
      s"$manifestDir has a compacted _checkpoint and this drain's stream " +
        s"checkpoint ($checkpoint) has no committed offsets (and no " +
        "current bootstrap sentinel): a fresh drain sees only live " +
        "segments and would silently miss every folded wave — JOIN the " +
        "zone with bootstrapFromCheckpoint = true (seeds the output from " +
        "the checkpoint band, then streams live segments), bootstrap " +
        "from the batch read (IO.readBinaryFromManifest), or resume the " +
        "consumer's existing stream checkpoint")
    // bootstrap a NEW consumer into a zone that has already compacted
    // (r18 verdict #1 — joining must be a capability, not a refusal):
    // seed the consumer's output from the _checkpoint band through the
    // same executor-side open kernel every drain uses, then stream the
    // live segments. Ordering is what makes it safe against a
    // concurrent fold advancing the checkpoint between the seed read
    // and the stream's listing (those segments would vanish from the
    // glob while absent from our seed — silent loss):
    //   1. take the per-consumer-id bootstrap lock, then PRE-REGISTER
    //      the consumer's mark — on a consumer-coordinated zone (the
    //      only kind that should host multiple consumers) every
    //      consumer-aware fold is now held back by this consumer's
    //      Long.MinValue mark, and racing same-id joins are serialized
    //      before they can interleave reset/seed/sentinel;
    //   2. refuse while a fold is in flight or its crash window is
    //      open (`_FOLDING` present): checkpoint and live segments may
    //      overlap inside the window, and seed + drain would ingest
    //      the overlap twice;
    //   3. fingerprint the checkpoint dir and RE-CHECK it after the
    //      drain — since round 20 every fold path clamps to marks, so
    //      only an explicitly mark-ignorant fold
    //      (ignoreConsumerMarks = true) can advance the checkpoint
    //      past this consumer's pre-registered mark; the re-check
    //      converts even that from silent loss into a loud
    //      re-bootstrap instruction.
    // this acquisition's lock token: the finally-release verifies it,
    // so a takeover's new owner is never unlocked by the old holder
    var bootstrapLockToken: Option[String] = None
    if (bootstrapFromCheckpoint) {
      require(reset,
        "bootstrapFromCheckpoint joins a NEW consumer (reset = true); an " +
          "existing consumer resumes its own stream checkpoint with " +
          "reset = false and no bootstrap")
      require(consumerId.isDefined,
        "bootstrapFromCheckpoint requires a consumerId: the joining " +
          "consumer's pre-registered mark is what holds sibling " +
          "consumer-aware folds back while it seeds (an anonymous " +
          "bootstrap would race them)")
      // exclusive PER-CONSUMER-ID bootstrap lock (r19 verdict #6): two
      // operators concurrently joining the same consumerId would race
      // the reset (one's deleteDir landing mid-way through the other's
      // drain), the seed overwrite, the mark, and the sentinel — each
      // step is individually idempotent/atomic, but the interleavings
      // are not worth certifying one by one. Same verified-claim
      // pattern as the fold lock; released on every in-process exit
      // path below. The mark pre-registration happens INSIDE the lock
      // (still before the fingerprint capture and seed, which is what
      // holds sibling consumer-aware folds back through the drain) so
      // racing joins never write one mark file concurrently.
      bootstrapLockToken = Some(graft.io.IO.acquireProcessLock(spark,
        s"$manifestDir/_consumers/.bootstrap_${consumerId.get}.lock",
        "bootstrap", takeoverCrashedBootstrap))
    }
    try {
    if (bootstrapFromCheckpoint) {
      graft.io.IO.recordManifestConsumer(spark, manifestDir,
        consumerId.get, Long.MinValue)
      require(!mf.exists(graft.io.IO.foldingMarker(manifestDir)),
        s"$manifestDir has an open _FOLDING window (a fold is running or " +
          "crashed): the checkpoint band and live segments may overlap " +
          "inside it — let the fold finish (or re-run it with " +
          "takeoverCrashedFold = true) and retry the bootstrap")
    }
    val bootstrapFp: Long = if (bootstrapFromCheckpoint) ckptFingerprint() else -1L
    if (bootstrapFromCheckpoint) {
      deleteDir(spark, checkpoint)
      deleteDir(spark, outPath)
      // keyed on the FINGERPRINT capture (-1 = no checkpoint at that
      // instant), not the earlier hasFolded read — a fold completing
      // between the two would otherwise skip the seed while the
      // post-drain fingerprint check still matched
      if (bootstrapFp != -1L) {
        // the seed lands as its own idempotent band beside the stream's
        // batch_id=N dirs (hive values may be negative; the read-back
        // drops the column) — a crash before the stream's first commit
        // re-runs the whole bootstrap, which overwrites it. The
        // collision check scopes per PATH (the band has no wave
        // column): cross-wave basename collisions join exactly as they
        // drain, while a path manifested at two lengths still fails
        // (r19 ADVICE — the unscoped check made colliding zones
        // unjoinable post-fold).
        graft.io.IO.openManifested(spark,
          spark.read.parquet(ckptTablePath).withColumn("__path_scope", col("path")),
          collisionScope = Some("__path_scope"))
          .write.mode("overwrite").parquet(s"$outPath/batch_id=-1")
      }
    }
    val reader = spark.readStream.schema(manSchema)
    // __seg = the manifest segment each row came from: the basename-
    // collision check scopes PER WAVE, so a multi-segment micro-batch
    // (maxFilesPerTrigger > 1, or segments coalescing under
    // AvailableNow) behaves exactly like one-segment triggers — a
    // cross-wave collision must NOT become a drain-poisoning abort
    // that a resume can never get past (round-16 review finding);
    // cross-wave ambiguity stays the packed table's post-hoc check.
    val src = maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n))
      .getOrElse(reader)
      .json(s"$manifestDir/seg_*.json/*.json")
      .withColumn("__seg", input_file_name())
    // capture BEFORE the stream source lists: every segment with mtime
    // <= this value existed before the listing and is in the drain's
    // seen-file log once the AvailableNow run completes
    val newestAtStart: Option[Long] =
      if (!compactAfterDrain && consumerId.isEmpty) None
      else {
        val p = new Path(manifestDir)
        val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!f.exists(p)) None
        else f.globStatus(new Path(s"$manifestDir/seg_*.json"))
          .map(_.getModificationTime).maxOption
      }
    // bootstrap already emptied checkpoint + outPath and seeded the
    // band — drainToBatchDirs resetting again would delete the seed
    val out = drainToBatchDirs(spark, checkpoint, outPath,
      reset && !bootstrapFromCheckpoint, src,
      batch => graft.io.IO.openManifested(spark, batch, collisionScope = Some("__seg")))
    // a fold that advanced the checkpoint between the bootstrap's seed
    // read and the stream's listing moved live segments into a band
    // this consumer never read — loud re-bootstrap, never silent loss
    // (only an ignoreConsumerMarks = true fold can get here: every
    // mark-respecting fold is held back by the mark pre-registered
    // above, enforced on all fold paths since round 20)
    if (bootstrapFromCheckpoint) {
      require(ckptFingerprint() == bootstrapFp,
        s"a fold advanced $manifestDir/_checkpoint while this consumer was " +
          "bootstrapping — its seed misses the newly folded waves; " +
          "re-run the bootstrap (and coordinate folds through consumer " +
          "marks, which hold back for a joining consumer)")
      // sentinel: lets a bootstrap that drained ZERO batches (no live
      // segments yet, so no committed offsets) resume as a normal
      // consumer instead of re-seeding forever — valid exactly while
      // the _checkpoint fingerprint it covered is unchanged (see the
      // guard above). Written through the atomic tmp+rename publish so
      // a crash never leaves a torn sentinel.
      graft.io.IO.atomicWriteSmallFile(spark, sentinel,
        s"""{"ckpt_fingerprint":$bootstrapFp}""".getBytes("UTF-8"))
    }
    // only reached on drain SUCCESS (a failed query throws above) —
    // a mark/fold must never advance for a drain that did not ingest
    // its waves. The mark records BEFORE the fold so this drain's own
    // fresh progress counts toward the consumer-aware cutoff. A drain
    // that found NO segments still registers (at Long.MinValue —
    // "covered nothing yet"): an unregistered consumer would be
    // invisible to every sibling fold exactly while it is newest and
    // laggiest (second review pass). recordManifestConsumer clamps
    // never-backward (round-18 ADVICE), so the MinValue of an
    // empty-wave cycle cannot regress an advanced mark and wedge
    // sibling folds.
    for (id <- consumerId)
      graft.io.IO.recordManifestConsumer(spark, manifestDir, id,
        newestAtStart.map(_ - 1).getOrElse(Long.MinValue))
    if (compactAfterDrain) {
      if (consumerId.isDefined)
        // consumer-aware: min over EVERY registered mark — a lagging
        // sibling drain's waves stay live
        graft.io.IO.compactLandingManifestForConsumers(spark, manifestDir): Unit
      else newestAtStart.foreach(n =>
        // "this drain listed everything <= n-1" proves nothing about
        // marked SIBLINGS — the OlderThan cutoff additionally clamps
        // to min(marks), so an anonymous drain's auto-fold can never
        // starve a registered lagging consumer (round 20)
        graft.io.IO.compactLandingManifestOlderThan(spark, manifestDir, n - 1): Unit)
    }
    out
    } finally {
      // release on EVERY in-process exit (a failed bootstrap re-runs
      // from scratch — no crash-window bracket to preserve, unlike the
      // fold lock); only a kill -9 leaves the lock for takeover. The
      // release is token-verified: if this acquisition was itself taken
      // over by an operator, the lock now belongs to them and stays.
      for (tok <- bootstrapLockToken)
        graft.io.IO.releaseProcessLock(spark,
          s"$manifestDir/_consumers/.bootstrap_${consumerId.get}.lock", tok)
    }
  }

  def runFileStreamNearDupGate(
      spark: SparkSession,
      path: String,
      schema: StructType,
      checkpoint: String,
      outPath: String,
      corpusBands: DataFrame,
      maxFilesPerTrigger: Option[Int] = Some(1)
  ): DataFrame = {
    deleteDir(spark, checkpoint)
    deleteDir(spark, outPath)
    val reader = spark.readStream.schema(schema)
    val src = maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n))
      .getOrElse(reader)
      .json(path)
    val q = src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val b = batch.toDF()
        val pairs = graft.llm.DedupLsh.crossNearDupPairsStaged(
          b, corpusBands, "doc_id", "text")
        val verdicts = b.select("doc_id")
          .join(
            pairs.groupBy(col("id_new").as("doc_id"))
              .agg(count(lit(1)).as("n_matches"), max(col("jaccard")).as("jac_max")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_matches"), lit(0L)).as("n_matches"),
            col("jac_max"),
            (coalesce(col("n_matches"), lit(0L)) > 0).as("is_neardup"))
        verdicts.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // If the source glob matched zero files, AvailableNow ran zero batches
    // and no batch directory exists — return an empty verdict frame with
    // the same schema instead of letting the read throw path-not-found.
    val outExists = {
      val p = new org.apache.hadoop.fs.Path(outPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("batch_id="))
    }
    if (outExists) spark.read.parquet(outPath).drop("batch_id")
    else {
      import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StructField}
      val verdictSchema = StructType(Seq(
        StructField("doc_id", schema("doc_id").dataType, nullable = true),
        StructField("n_matches", LongType, nullable = false),
        StructField("jac_max", DoubleType, nullable = true),
        StructField("is_neardup", BooleanType, nullable = false)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], verdictSchema)
    }
  }
}
