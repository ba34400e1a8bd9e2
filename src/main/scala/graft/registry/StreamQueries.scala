package graft.registry

import graft.Tables
import graft.io.IO
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures.{scratch, staged}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

/** Streaming twins ST1/ST4/ST5 as registered queries: each runs a real
  * Structured Streaming query (file source, AvailableNow trigger,
  * fresh checkpoint) to completion and returns the materialized sink,
  * which the driver then hash-compares against a batch-SQL oracle. */
object StreamQueries {

  private val streamSchema = StructType(Seq(
    StructField("entry_id", LongType), StructField("user_id", LongType),
    StructField("ts_us", LongType), StructField("pageview_count", LongType),
    StructField("event_type", StringType)))

  /** Write the events table as 4 time-ordered micro-batch files. The
    * files depend only on the sf dir and are IDENTICAL for every
    * streaming query, so each session materializes them once through
    * [[Fixtures.staged]] (the quantile sketch + 4 JSON writes were
    * ~half of every streaming query's fixed overhead); checkpoints stay
    * strictly per-query. */
  private def writeMicroBatches(s: SparkSession, dir: String): String = {
    val src = scratch(dir, "stream/shared_src/files")
    staged(s, src) {
      Streams.deleteDir(s, src)
      val ev = Tables.events(s, dir).select(
        col("event_id").as("entry_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        floor(col("value")).cast("long").as("pageview_count"), col("event_type"))
      // 0.01 relative error: the cut points only shape batch sizes,
      // never results — an exact sketch here would be wasted work
      val Array(lo, m1, m2) = Array(0.25, 0.5, 0.75).map(q =>
        ev.stat.approxQuantile("ts_us", Array(q), 0.01).head.toLong)
      Seq(
        ("b0", col("ts_us") <= lo),
        ("b1", col("ts_us") > lo && col("ts_us") <= m1),
        ("b2", col("ts_us") > m1 && col("ts_us") <= m2),
        ("b3", col("ts_us") > m2)
      ).foreach { case (n, pred) =>
        IO.writeJsonLines(ev.filter(pred), s"$src/$n.json", singleFile = true)
      }
    }
    s"$src/*.json/*.json"
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // st1's result is the registry's largest (a full unaggregated
    // scan, 100k rows at sf0.1) — exactly the table-sized shape the
    // memory runner's driver-sized contract excludes at 100×, so it
    // runs through the parquet file-sink twin (r18 verdict #4): rows
    // stream to files, the driver never holds them, and the read-back
    // is a lazy scan on the caller's session. Memory-runner coverage
    // stays on every aggregate-sized st query (st4-st14).
    "st1_stream_file_source" -> { (s, dir) =>
      val glob = writeMicroBatches(s, dir)
      Streams
        .runFileStreamToParquet(s, glob, streamSchema, scratch(dir, "stream/st1_ckpt"),
          scratch(dir, "stream/st1_out"),
          df => df.select("entry_id", "user_id", "event_type", "ts_us"))
        .orderBy("entry_id")
    },
    // st4-Complete stays on the memory runner BY NECESSITY: the file
    // sink is Append-only (Spark contract), and this query exists as
    // the Complete-mode full-replay parity twin of st4_append — its
    // ~full-session-table sink is the one registered exception to the
    // "table-sized results go through the file sink" rule, bounded by
    // the fixture's session count
    "st4_session_window" -> { (s, dir) =>
      val glob = writeMicroBatches(s, dir)
      Streams
        .runFileStream(s, glob, streamSchema, scratch(dir, "stream/st4_ckpt"),
          Streams.sessionWindowAgg, OutputMode.Complete())
        .orderBy("user_id", "session_start_us")
    },
    "st4_session_window_append" -> { (s, dir) =>
      // production-mode twin: Append output + watermark eviction; two
      // files per trigger still forces real cross-batch state +
      // watermark progression (sessions spanning the trigger boundary
      // merge in state before emission) at half the per-trigger fixed
      // cost — state-store commits, offset/commit log writes, and
      // micro-batch planning dominate these replays, not data
      // (round-9 verdict #3; results are batch-boundary independent,
      // which the unchanged oracle pins)
      val glob = writeMicroBatches(s, dir)
      // table-sized Append result (one row per closed session) ⇒ the
      // parquet file-sink runner, like every production-mode st query
      Streams
        .runFileStreamToParquet(s, glob, streamSchema, scratch(dir, "stream/st4a_ckpt"),
          scratch(dir, "stream/st4a_out"),
          df => Streams.sessionWindowAppend(df),
          maxFilesPerTrigger = Some(2), shufflePartitions = Some(4))
        .orderBy("user_id", "session_start_us")
    },
    "st6_tumbling_window" -> { (s, dir) =>
      val glob = writeMicroBatches(s, dir)
      Streams
        .runFileStream(s, glob, streamSchema, scratch(dir, "stream/st6_ckpt"),
          df => Streams.tumblingAgg(df), OutputMode.Append(),
          maxFilesPerTrigger = Some(2), shufflePartitions = Some(4))
        .orderBy("window_start_us")
    },
    // st14 — windowed top-k: the stream keeps bounded (window, type)
    // counts (Append emission at watermark), the rank is a batch
    // epilogue over the emitted table — the only place a rank is
    // final anyway
    "st14_stream_topk" -> { (s, dir) =>
      val glob = writeMicroBatches(s, dir)
      val counts = Streams
        .runFileStream(s, glob, streamSchema, scratch(dir, "stream/st14_ckpt"),
          df => Streams.windowTypeCounts(df), OutputMode.Append(),
          maxFilesPerTrigger = Some(2), shufflePartitions = Some(4))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("window_start_us")
        .orderBy(col("n_events").desc, col("event_type"))
      counts.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 2)
        .select(col("window_start_us"), col("window_end_us"),
          col("event_type"), col("n_events"), col("rnk").cast("int").as("rnk"))
        .orderBy("window_start_us", "rnk")
    },
    "st7_sliding_window" -> { (s, dir) =>
      val glob = writeMicroBatches(s, dir)
      Streams
        .runFileStream(s, glob, streamSchema, scratch(dir, "stream/st7_ckpt"),
          df => Streams.slidingAgg(df), OutputMode.Append(),
          maxFilesPerTrigger = Some(2), shufflePartitions = Some(4))
        .orderBy("window_start_us")
    },
    "st8_stream_join" -> { (s, dir) =>
      val glob = writeMicroBatches(s, dir)
      // State partitions come from the probed U-curve as code
      // (Streams.suggestedStatePartitions, r19 verdict #7): the
      // sf0.1 fixture's join state peaks at ~1e5 rows (the events
      // table, all within the 24 h watermark band), which the helper
      // maps to the probed p8 pin (probe_st8_rocksdb_trim.sc); the 10×
      // pin p16 (probe_st8_partitions_10x.sc) is the helper's next
      // decade — the spec pins both. Results are partition-independent
      // (oracle-pinned).
      // 2 files/trigger: 3 replay triggers instead of 5, same
      // cross-batch join matches (inner join emits each match once
      // whatever the batching)
      Streams
        .runFileStream(s, glob, streamSchema, scratch(dir, "stream/st8_ckpt"),
          df => Streams.streamSelfJoinPairs(df), OutputMode.Append(),
          maxFilesPerTrigger = Some(2),
          shufflePartitions = Some(Streams.suggestedStatePartitions(100000L)))
        .orderBy("a_id", "b_id")
    },
    "st9_stream_dedup" -> { (s, dir) =>
      val glob = writeMicroBatches(s, dir)
      Streams
        .runFileStream(s, glob, streamSchema, scratch(dir, "stream/st9_ckpt"),
          df => Streams.streamDedupKeys(df, Seq("user_id", "event_type")),
          OutputMode.Append(), maxFilesPerTrigger = Some(2), shufflePartitions = Some(4))
        .orderBy("user_id", "event_type")
    },
    // st13 — bounded-state dedup twin of st9: state evicts at the
    // watermark (the production mode at corpus scale). The 40-day
    // delay covers the fixture's 30-day span, so every duplicate is
    // within the bound and the sink equals batch DISTINCT; the
    // re-emission-after-eviction behavior is spec-asserted.
    "st13_stream_dedup_bounded" -> { (s, dir) =>
      val glob = writeMicroBatches(s, dir)
      Streams
        .runFileStream(s, glob, streamSchema, scratch(dir, "stream/st13_ckpt"),
          df => Streams.streamDedupKeysWithinWatermark(df, Seq("user_id", "event_type")),
          OutputMode.Append(), maxFilesPerTrigger = Some(2), shufflePartitions = Some(4))
        .orderBy("user_id", "event_type")
    },
    // st5's dwell result is one row per non-final event (~st1-sized,
    // the other table-sized stream result in the registry) — through
    // the parquet file-sink twin like st1, reclaiming the driver copy
    "st5_stream_stitch" -> { (s, dir) =>
      val glob = writeMicroBatches(s, dir)
      Streams
        .runFileStreamToParquet(s, glob, streamSchema, scratch(dir, "stream/st5_ckpt"),
          scratch(dir, "stream/st5_out"),
          df => Streams.stitchDwell(s, df),
          maxFilesPerTrigger = Some(2), shufflePartitions = Some(4))
        .orderBy("entry_id")
    },
    // st11 — stream-STATIC join: per-row broadcast enrichment of the
    // stream against a batch dimension (the third streaming join shape
    // beside stream-stream st8 and the foreachBatch merge st10).
    // Stateless inner equi-join → emission is batch-boundary
    // independent, so the sink equals the batch join exactly
    "st11_stream_static_join" -> { (s, dir) =>
      val glob = writeMicroBatches(s, dir)
      val dim = broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("nk"), col("n_name")))
      // per-event enriched rows = table-sized ⇒ file-sink runner (the
      // broadcast dim is caller-session state, but broadcast() wraps
      // the FRAME itself — self-contained under the clone contract)
      Streams
        .runFileStreamToParquet(s, glob, streamSchema, scratch(dir, "stream/st11_ckpt"),
          scratch(dir, "stream/st11_out"),
          df => df
            .select(col("entry_id"), col("user_id"), (col("user_id") % 25).as("nk"))
            .join(dim, "nk")
            .select("entry_id", "user_id", "n_name"))
        .orderBy("entry_id")
    },
    // st12 — BUCKETED streaming upsert: same keep-latest semantics as
    // st10 but per-trigger cost O(touched buckets) via hash-bucket
    // partitioning + dynamic partition overwrite, not O(table)
    "st12_stream_upsert_bucketed" -> { (s, dir) =>
      val glob = writeMicroBatches(s, dir)
      Streams
        .runFileStreamUpsertBucketed(s, glob, streamSchema, scratch(dir, "stream/st12_ckpt"),
          scratch(dir, "stream/st12_table"),
          keys = Seq("user_id"), order = Seq("ts_us", "entry_id"), nBuckets = 16)
        .select("user_id", "entry_id", "ts_us", "event_type")
        .orderBy("user_id")
    },
    // st10 — foreachBatch streaming upsert into a parquet table:
    // keep-latest per user. Keep-latest is associative, so the final
    // table is micro-batch-boundary independent and oracle-checkable.
    "st10_stream_upsert" -> { (s, dir) =>
      val glob = writeMicroBatches(s, dir)
      Streams
        .runFileStreamUpsert(s, glob, streamSchema, scratch(dir, "stream/st10_ckpt"),
          scratch(dir, "stream/st10_table"),
          keys = Seq("user_id"), order = Seq("ts_us", "entry_id"))
        .select("user_id", "entry_id", "ts_us", "event_type")
        .orderBy("user_id")
    },
    "st5_stream_stitch_tws" -> { (s, dir) =>
      // modern arbitrary-state API; requires the RocksDB provider —
      // the engine default (round-15 verdict item 1), PINNED here so
      // the heap A/B knob can't put this query on a provider that
      // cannot run it. Table-sized result ⇒ parquet file-sink twin
      val glob = writeMicroBatches(s, dir)
      Streams
        .runFileStreamToParquet(s, glob, streamSchema, scratch(dir, "stream/st5tws_ckpt"),
          scratch(dir, "stream/st5tws_out"),
          df => Streams.stitchDwellTws(s, df),
          maxFilesPerTrigger = Some(2), shufflePartitions = Some(4),
          stateStoreMode = Some("rocksdb"))
        .orderBy("entry_id")
    },
    // st15 — streaming near-dup ingest gate: micro-batches of incoming
    // docs swept against the STAGED corpus LSH band artifact (the x14b
    // materialize-once table) inside foreachBatch; per-doc verdicts
    // land in idempotent batch_id=N directories. Per-doc vs a static
    // corpus ⇒ batch-boundary independent ⇒ one batch-replay oracle.
    "st15_stream_neardup_gate" -> { (s, dir) =>
      val src = scratch(dir, "stream/st15_src")
      Streams.deleteDir(s, src)
      val batch = LlmFixtures.syntheticIngestBatch(s, dir)
      (0 until 3).foreach { i =>
        IO.writeJsonLines(batch.filter(col("doc_id") % 3 === i),
          s"$src/b$i.json", singleFile = true)
      }
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("text", StringType)))
      Streams.runFileStreamNearDupGate(s, s"$src/*.json/*.json", docSchema,
        scratch(dir, "stream/st15_ckpt"), scratch(dir, "stream/st15_out"),
        LlmFixtures.stagedCorpusBands(s, dir))
        .orderBy("doc_id")
    },
    // st16 — streaming binary-file ingest: the s16 landing volume as a
    // micro-batch STREAM (binaryFile source, 5 files/trigger → 4 real
    // triggers over the 20-file fixture), the stream half of the
    // multimodal entry point — a watcher that picks up media files as
    // they land and emits (name, length, payload) rows for the m1–m7
    // decoders. Per-file rows with no cross-batch state ⇒ batch-
    // boundary independent ⇒ the s16 oracle replays it as one batch.
    "st16_stream_binary_ingest" -> { (s, dir) =>
      val p = IoQueries.binFilesFixture(s, dir)
      val binSchema = StructType(Seq(
        StructField("path", StringType), StructField("modificationTime", TimestampType),
        StructField("length", LongType), StructField("content", BinaryType)))
      Streams.runFileStream(s, s"$p/*.bin", binSchema, scratch(dir, "stream/st16_ckpt"),
        df => df.select(element_at(split(col("path"), "/"), -1).as("fname"),
          col("length"), base64(col("content")).as("content_b64")),
        maxFilesPerTrigger = Some(5), format = "binaryFile")
        .orderBy("fname")
    },
    // st17 — streaming landing-zone PACK (s17's stream twin, the
    // production steady state): 7 files/trigger → 3 real micro-batches
    // over the 20-file fixture, each appending its payload rows to the
    // packed parquet table; the read-back proves the accumulated table
    // carries exactly the landing bytes (same content-level oracle as
    // s16/s17 — per-file rows, no cross-batch state, so batch
    // boundaries are value-invisible).
    "st17_stream_binary_pack" -> { (s, dir) =>
      val p = IoQueries.binFilesFixture(s, dir)
      Streams.runBinaryPackStream(s, s"$p/*.bin", scratch(dir, "stream/st17_ckpt"),
        scratch(dir, "stream/st17_packed"), maxFilesPerTrigger = Some(7))
        .select(col("fname"), col("length"),
          base64(col("content")).as("content_b64"))
        .orderBy("fname")
    },
    // st18 — streaming MANIFEST-driven landing ingest (s18's stream
    // twin): the stream's file source watches only the tiny manifest
    // segments (per-trigger relist O(waves), never O(landed files) —
    // the r15 binaryFile-stream knee removed at the source), each
    // micro-batch opens its wave's files executor-side and lands
    // idempotent batch_id=N output. Two waves → two real triggers at
    // one segment per trigger; per-file rows with no cross-batch
    // state ⇒ batch-boundary independent ⇒ the shared s16 content
    // oracle replays it as one batch.
    "st18_stream_manifest_ingest" -> { (s, dir) =>
      val man = IoQueries.binManifestFixture(s, dir)
      Streams.runManifestIngestStream(s, man, scratch(dir, "stream/st18_ckpt"),
        scratch(dir, "stream/st18_out"), maxFilesPerTrigger = Some(1))
        .select(col("fname"), col("length"),
          base64(col("content")).as("content_b64"))
        .orderBy("fname")
    },
    // st19 — the st18 drain in its PRODUCTION lifecycle (r17 verdict
    // #4): two kept-checkpoint drain cycles with compactAfterDrain=true,
    // so each successful drain folds exactly the segments it provably
    // listed (strictly older than the newest-at-start mtime — one
    // clock domain, no starvation possible) and live segments stay
    // O(waves per cadence) instead of re-growing the small-files
    // curve. Built on its OWN manifest dir — the auto-fold deletes
    // segments, which must never perturb the shared s18/st18 fixture.
    // Fold boundaries must be byte-invisible: same shared content
    // oracle as the whole landing family.
    "st19_manifest_autofold" -> { (s, dir) =>
      import s.implicits._
      val p = IoQueries.binFilesFixture(s, dir)
      val man = scratch(dir, "stream/st19_man")
      val ckpt = scratch(dir, "stream/st19_ckpt")
      val out = scratch(dir, "stream/st19_out")
      Streams.deleteDir(s, man)
      val waves = new java.io.File(p).listFiles().toSeq
        .filter(_.getName.endsWith(".bin")).sortBy(_.getName)
        .map(f => (f.getAbsolutePath, f.length()))
        .grouped(10).toSeq
      IO.appendLandingManifest(s, man, waves.head.toDF("path", "length"))
      Streams.runManifestIngestStream(s, man, ckpt, out,
        compactAfterDrain = true): Unit
      waves.tail.foreach(w =>
        IO.appendLandingManifest(s, man, w.toDF("path", "length")))
      Streams.runManifestIngestStream(s, man, ckpt, out, reset = false,
        compactAfterDrain = true)
        .select(col("fname"), col("length"),
          base64(col("content")).as("content_b64"))
        .orderBy("fname")
    },
    // st20 — MULTI-CONSUMER manifest lifecycle (round 18): two sibling
    // drains on one manifest with consumer MARKS replacing the guessed
    // graceMs lag bound. Consumer b pre-registers ("covered nothing
    // yet"), so a's post-drain consumer-aware fold is held back — its
    // waves stay live for b; once b drains, the central fold proceeds
    // exactly up to what both covered. The oracle is the shared
    // byte-content SQL over a's accumulated output: the coordination
    // machinery must be byte-invisible to either consumer.
    "st20_manifest_multiconsumer" -> { (s, dir) =>
      import s.implicits._
      val p = IoQueries.binFilesFixture(s, dir)
      val man = scratch(dir, "stream/st20_man")
      Streams.deleteDir(s, man)
      val waves = new java.io.File(p).listFiles().toSeq
        .filter(_.getName.endsWith(".bin")).sortBy(_.getName)
        .map(f => (f.getAbsolutePath, f.length()))
        .grouped(10).toSeq
      IO.appendLandingManifest(s, man, waves.head.toDF("path", "length"))
      // b joins the active zone: pre-register before its first drain
      IO.recordManifestConsumer(s, man, "b", Long.MinValue)
      Streams.runManifestIngestStream(s, man, scratch(dir, "stream/st20_ckpt_a"),
        scratch(dir, "stream/st20_out_a"), compactAfterDrain = true,
        consumerId = Some("a")): Unit
      waves.tail.foreach(w =>
        IO.appendLandingManifest(s, man, w.toDF("path", "length")))
      val outA = Streams.runManifestIngestStream(s, man,
        scratch(dir, "stream/st20_ckpt_a"), scratch(dir, "stream/st20_out_a"),
        reset = false, compactAfterDrain = true, consumerId = Some("a"))
      // b catches up on its own checkpoint; the central fold then
      // folds exactly the band both consumers covered
      Streams.runManifestIngestStream(s, man, scratch(dir, "stream/st20_ckpt_b"),
        scratch(dir, "stream/st20_out_b"), consumerId = Some("b")): Unit
      IO.compactLandingManifestForConsumers(s, man): Unit
      outA
        .select(col("fname"), col("length"),
          base64(col("content")).as("content_b64"))
        .orderBy("fname")
    },
    // st21 — POST-FOLD consumer bootstrap (round 19, r18 verdict #1):
    // a brand-new consumer joins a zone whose history has already been
    // folded into the _checkpoint. Consumer a drains wave 0, wave 1
    // lands, a's second auto-fold moves wave 0's segment into the
    // checkpoint band; consumer b then JOINS with
    // bootstrapFromCheckpoint = true — seeded from the checkpoint band
    // (wave 0) through the same open kernel, mark pre-registered, live
    // segments (wave 1) streamed from there. b's accumulated output
    // must be byte-equal to a never-folded consumer's: the shared
    // content oracle over the whole fixture pins exactly that.
    "st21_manifest_bootstrap" -> { (s, dir) =>
      import s.implicits._
      val p = IoQueries.binFilesFixture(s, dir)
      val man = scratch(dir, "stream/st21_man")
      Streams.deleteDir(s, man)
      val waves = new java.io.File(p).listFiles().toSeq
        .filter(_.getName.endsWith(".bin")).sortBy(_.getName)
        .map(f => (f.getAbsolutePath, f.length()))
        .grouped(10).toSeq
      IO.appendLandingManifest(s, man, waves.head.toDF("path", "length"))
      Streams.runManifestIngestStream(s, man, scratch(dir, "stream/st21_ckpt_a"),
        scratch(dir, "stream/st21_out_a"), compactAfterDrain = true,
        consumerId = Some("a")): Unit
      waves.tail.foreach(w =>
        IO.appendLandingManifest(s, man, w.toDF("path", "length")))
      Streams.runManifestIngestStream(s, man, scratch(dir, "stream/st21_ckpt_a"),
        scratch(dir, "stream/st21_out_a"), reset = false, compactAfterDrain = true,
        consumerId = Some("a")): Unit
      Streams.runManifestIngestStream(s, man, scratch(dir, "stream/st21_ckpt_b"),
        scratch(dir, "stream/st21_out_b"), consumerId = Some("b"),
        bootstrapFromCheckpoint = true)
        .select(col("fname"), col("length"),
          base64(col("content")).as("content_b64"))
        .orderBy("fname")
    },
    // st22 — MARK-CLAMPED graceMs fold (round 20, r19 verdict #1): an
    // ESTABLISHED consumer a drains wave 0, then lags while the rest
    // of the fixture lands. An age-only graceMs=1 fold would take
    // every unseen wave out of a's glob (they would live only in the
    // _checkpoint parquet its file source never reads — silent
    // starvation); the enforced mark clamp folds nothing past a's
    // coverage, so a's resume accumulates the WHOLE fixture — the
    // shared content oracle pins losslessness byte-for-byte. After a
    // catches up the same fold folds the covered band, and a final
    // (empty) drain confirms fold invisibility on the accumulated
    // output.
    "st22_manifest_markclamp" -> { (s, dir) =>
      import s.implicits._
      val p = IoQueries.binFilesFixture(s, dir)
      val man = scratch(dir, "stream/st22_man")
      val ckpt = scratch(dir, "stream/st22_ckpt")
      val out = scratch(dir, "stream/st22_out")
      Streams.deleteDir(s, man)
      val waves = new java.io.File(p).listFiles().toSeq
        .filter(_.getName.endsWith(".bin")).sortBy(_.getName)
        .map(f => (f.getAbsolutePath, f.length()))
        .grouped(10).toSeq
      IO.appendLandingManifest(s, man, waves.head.toDF("path", "length"))
      Streams.runManifestIngestStream(s, man, ckpt, out,
        consumerId = Some("a")): Unit
      waves.tail.foreach(w =>
        IO.appendLandingManifest(s, man, w.toDF("path", "length")))
      IO.compactLandingManifest(s, man, graceMs = 1L): Unit
      Streams.runManifestIngestStream(s, man, ckpt, out, reset = false,
        consumerId = Some("a")): Unit
      IO.compactLandingManifest(s, man, graceMs = 1L): Unit
      Streams.runManifestIngestStream(s, man, ckpt, out, reset = false,
        consumerId = Some("a"))
        .select(col("fname"), col("length"),
          base64(col("content")).as("content_b64"))
        .orderBy("fname")
    }
  )

  val oracles: Map[String, String] = Map(
    // the gate replays as ONE batch sweep: x14's band-join chain over
    // the whole ingest batch + a per-doc left-join verdict (fresh docs
    // keep a row with n_matches = 0, jac_max NULL)
    "st15_stream_neardup_gate" ->
      s"""WITH batch AS (${LlmFixtures.IngestBatchSql}),
         |nsh AS (
         |  SELECT doc_id AS id, ${LlmFixtures.shSql} AS sh
         |  FROM (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS tk FROM batch)
         |  WHERE len(${LlmFixtures.shSql}) > 0),
         |bsh AS (
         |  SELECT doc_id AS id, ${LlmFixtures.shSql} AS sh
         |  FROM (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS tk FROM documents)
         |  WHERE len(${LlmFixtures.shSql}) > 0),
         |nbands AS (
         |  SELECT id, sh, unnest(${LlmFixtures.bands4}) AS band
         |  FROM (SELECT id, sh, ${LlmFixtures.minhash12} AS sig FROM nsh)),
         |bbands AS (
         |  SELECT id, sh, unnest(${LlmFixtures.bands4}) AS band
         |  FROM (SELECT id, sh, ${LlmFixtures.minhash12} AS sig FROM bsh)),
         |pairs AS (
         |  SELECT DISTINCT n.id AS id_new, b.id AS id_base,
         |    CAST(len(list_intersect(n.sh, b.sh)) AS DOUBLE) /
         |    CAST(len(list_distinct(list_concat(n.sh, b.sh))) AS DOUBLE) AS jaccard
         |  FROM nbands n JOIN bbands b USING (band)),
         |agg AS (
         |  SELECT id_new AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
         |    MAX(jaccard) AS jac_max
         |  FROM pairs WHERE jaccard >= 0.5 GROUP BY id_new)
         |SELECT b.doc_id, COALESCE(a.n_matches, 0) AS n_matches, a.jac_max,
         |  COALESCE(a.n_matches, 0) > 0 AS is_neardup
         |FROM batch b LEFT JOIN agg a USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin,
    // st16: per-file rows, no cross-batch state — the s16 content-level
    // oracle replays the whole stream as one batch
    "st16_stream_binary_ingest" -> IoQueries.BinFilesSql,
    // st17 packs the same fixture the st16 stream reads — accumulation
    // across micro-batches must be byte-invisible, same shared oracle
    "st17_stream_binary_pack" -> IoQueries.BinFilesSql,
    // st18 drains the same fixture through the manifest stream — wave
    // boundaries must be byte-invisible, same shared content oracle
    "st18_stream_manifest_ingest" -> IoQueries.BinFilesSql,
    // st19 adds the post-drain auto-fold to the same drain — fold
    // boundaries must be byte-invisible too, same shared oracle
    "st19_manifest_autofold" -> IoQueries.BinFilesSql,
    // st20 runs two marked sibling consumers through the held-back /
    // catch-up / central-fold cycle — the coordination must be
    // byte-invisible to consumer a's accumulated output
    "st20_manifest_multiconsumer" -> IoQueries.BinFilesSql,
    // st21 joins a NEW consumer into an already-folded zone via the
    // checkpoint-band bootstrap — its accumulated output must be
    // byte-equal to a never-folded consumer's, same shared oracle
    "st21_manifest_bootstrap" -> IoQueries.BinFilesSql,
    // st22: the mark-clamped fold must be lossless for the lagging
    // consumer — its accumulated output equals the whole fixture
    "st22_manifest_markclamp" -> IoQueries.BinFilesSql,
    // inner stream-stream join emits every match exactly once, so the
    // memory sink equals the batch self-join
    "st8_stream_join" ->
      """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |       epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND epoch_us(b.ts) > epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 600000000
        |ORDER BY a_id, b_id""".stripMargin,
    "st9_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // bounded-state dedup: delay covers the fixture span ⇒ DISTINCT
    "st13_stream_dedup_bounded" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "st11_stream_static_join" ->
      """SELECT e.event_id AS entry_id, e.user_id, n.n_name
        |FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
        |ORDER BY entry_id""".stripMargin,
    // upsert keep-latest end state = each user's (ts, id)-max event
    "st10_stream_upsert" ->
      """SELECT user_id, entry_id, ts_us, event_type FROM (
        |  SELECT user_id, event_id AS entry_id, epoch_us(ts) AS ts_us, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // bucketing must not change the merge's answer
    "st12_stream_upsert_bucketed" ->
      """SELECT user_id, entry_id, ts_us, event_type FROM (
        |  SELECT user_id, event_id AS entry_id, epoch_us(ts) AS ts_us, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "st1_stream_file_source" ->
      """SELECT event_id AS entry_id, user_id, event_type, epoch_us(ts) AS ts_us
        |FROM events ORDER BY entry_id""".stripMargin,
    // session_window boundary: a gap of exactly 30min closes the
    // session (half-open window), hence >= in the break condition
    "st4_session_window" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |         CAST(floor(value) AS BIGINT) AS pageview_count
        |  FROM events
        |), sess AS (
        |  SELECT *, SUM(CASE WHEN prev IS NULL OR ts_us - prev >= 1800000000
        |                     THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts_us
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM (SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev
        |        FROM e))
        |SELECT user_id, MIN(ts_us) AS session_start_us,
        |       MAX(ts_us) + 1800000000 AS session_end_us,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(pageview_count) AS BIGINT) AS pv_sum
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,
    // Append-mode twin: only sessions CLOSED by the final watermark
    // are emitted. Empirically pinned semantics (see Streams scaladoc):
    // Spark tracks the event-time watermark in MILLISECONDS, so at 0s
    // delay the final watermark is floor_ms(max event time) and the
    // emission predicate is end <= floor_ms(max) — a session ending in
    // the sub-ms band (floor_ms(max), max) stays in state
    "st4_session_window_append" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |         CAST(floor(value) AS BIGINT) AS pageview_count
        |  FROM events
        |), sess AS (
        |  SELECT *, SUM(CASE WHEN prev IS NULL OR ts_us - prev >= 1800000000
        |                     THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts_us
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM (SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev
        |        FROM e)
        |), agg AS (
        |  SELECT user_id, MIN(ts_us) AS session_start_us,
        |         MAX(ts_us) + 1800000000 AS session_end_us,
        |         COUNT(*) AS n_events,
        |         CAST(SUM(pageview_count) AS BIGINT) AS pv_sum
        |  FROM sess GROUP BY user_id, sid)
        |SELECT agg.* FROM agg, (SELECT MAX(ts_us) AS w FROM e) wm
        |WHERE session_end_us <= (wm.w // 1000) * 1000
        |ORDER BY user_id, session_start_us""".stripMargin,
    // epoch-aligned hour buckets; emission rule as st4a: watermark is
    // ms-truncated and the predicate is end <= floor_ms(max)
    // st14 — st6's emission rule (window_end <= ms-truncated final
    // watermark) + per-type counts + the batch top-2 rank
    "st14_stream_topk" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS ts_us, event_type FROM events
        |), agg AS (
        |  SELECT (ts_us // 3600000000) * 3600000000 AS window_start_us,
        |         (ts_us // 3600000000) * 3600000000 + 3600000000 AS window_end_us,
        |         event_type, COUNT(*) AS n_events
        |  FROM e GROUP BY 1, 2, 3),
        |closed AS (
        |  SELECT agg.* FROM agg, (SELECT MAX(ts_us) AS w FROM e) wm
        |  WHERE window_end_us <= (wm.w // 1000) * 1000),
        |ranked AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY window_start_us
        |    ORDER BY n_events DESC, event_type) AS INTEGER) AS rnk
        |  FROM closed)
        |SELECT window_start_us, window_end_us, event_type, n_events, rnk
        |FROM ranked WHERE rnk <= 2
        |ORDER BY window_start_us, rnk""".stripMargin,
    "st6_tumbling_window" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS ts_us,
        |         CAST(floor(value) AS BIGINT) AS pageview_count
        |  FROM events
        |), agg AS (
        |  SELECT (ts_us // 3600000000) * 3600000000 AS window_start_us,
        |         (ts_us // 3600000000) * 3600000000 + 3600000000 AS window_end_us,
        |         COUNT(*) AS n_events,
        |         CAST(SUM(pageview_count) AS BIGINT) AS pv_sum
        |  FROM e GROUP BY 1, 2)
        |SELECT agg.* FROM agg, (SELECT MAX(ts_us) AS w FROM e) wm
        |WHERE window_end_us <= (wm.w // 1000) * 1000
        |ORDER BY window_start_us""".stripMargin,
    // each event contributes to width/slide = 2 windows whose starts
    // are the two slide-aligned offsets covering it; emission rule as
    // st6 (window_end <= ms-truncated final watermark). No start >= 0
    // guard: Spark's window() DOES emit pre-epoch windows for events
    // within width-slide of the epoch, and the oracle must mirror that
    // (round-3 advice; the 2024 fixture never reaches the branch)
    "st7_sliding_window" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS ts_us,
        |         CAST(floor(value) AS BIGINT) AS pageview_count
        |  FROM events
        |), contrib AS (
        |  SELECT ((ts_us // 1800000000) - g.k) * 1800000000 AS window_start_us,
        |         ts_us, pageview_count
        |  FROM e CROSS JOIN generate_series(0, 1) AS g(k)
        |  WHERE ts_us < ((ts_us // 1800000000) - g.k) * 1800000000 + 3600000000
        |), agg AS (
        |  SELECT window_start_us, window_start_us + 3600000000 AS window_end_us,
        |         COUNT(*) AS n_events,
        |         CAST(SUM(pageview_count) AS BIGINT) AS pv_sum
        |  FROM contrib GROUP BY window_start_us)
        |SELECT agg.* FROM agg, (SELECT MAX(ts_us) AS w FROM e) wm
        |WHERE window_end_us <= (wm.w // 1000) * 1000
        |ORDER BY window_start_us""".stripMargin,
    // every event except each user's last gets the dwell to its
    // successor — batch twin of the stateful stitch
    "st5_stream_stitch" ->
      """SELECT user_id, event_id AS entry_id, dwell_us FROM (
        |  SELECT user_id, event_id,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      - epoch_us(ts) AS dwell_us
        |  FROM events)
        |WHERE dwell_us IS NOT NULL ORDER BY entry_id""".stripMargin,
    // same stitch semantics as st5 — the API differs, the answer must not
    "st5_stream_stitch_tws" ->
      """SELECT user_id, event_id AS entry_id, dwell_us FROM (
        |  SELECT user_id, event_id,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      - epoch_us(ts) AS dwell_us
        |  FROM events)
        |WHERE dwell_us IS NOT NULL ORDER BY entry_id""".stripMargin
  )
}
