package graft.registry

import graft.Tables
import graft.incremental.Watermark
import graft.io.IO
import graft.ops.Rows
import graft.pipeline.Ingest
import graft.quality.Quality
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures.{scratch, staged}

/** Registered queries for the IO format matrix, coercions, the
  * watermark/incremental machinery, J1 enrichment and the quality
  * report (SURVEY §2.1-§2.3, §2.5). Round-trip queries write to a
  * per-sf scratch dir and read back through the engine's own sources,
  * so the oracle compare also proves sink+source fidelity.
  */
object IoQueries {

  /** The s18/st18 landing MANIFEST over [[binFilesFixture]]'s 20 files:
    * the writer side replayed as two waves (each landing wave logs
    * exactly the files it landed — in production the uploader knows
    * its paths; no directory listing feeds the manifest). Written once
    * per session; the batch reader and the manifest stream share it. */
  private[registry] def binManifestFixture(s: SparkSession, dir: String): String = {
    val p = binFilesFixture(s, dir)
    val man = scratch(dir, "io/bin_manifest")
    staged(s, man) {
      graft.streaming.Streams.deleteDir(s, man)
      val waves = new java.io.File(p).listFiles().toSeq
        .filter(_.getName.endsWith(".bin")).sortBy(_.getName)
        .map(f => (f.getAbsolutePath, f.length()))
        .grouped(10).toSeq
      import s.implicits._
      waves.foreach(w =>
        IO.appendLandingManifest(s, man, w.toDF("path", "length")))
    }
  }

  /** The s16/st16 landing-volume fixture: 20 deterministic .bin files
    * (UTF-8 prefixes of the documents table), written once per session
    * through [[Fixtures.staged]] — bounded test scaffolding (in
    * production the media files pre-exist). A persistent done-marker
    * would go stale if testdata regenerated under the same sf path;
    * 20 tiny files rewrite in milliseconds. */
  private[registry] def binFilesFixture(s: SparkSession, dir: String): String = {
    val p = scratch(dir, "io/binfiles")
    staged(s, p) {
      val root = new java.io.File(p)
      root.mkdirs()
      // clear stale *.bin first: a leftover doc_*.bin from an earlier
      // fixture variant or an aborted run under the same sf name would
      // be swept up by the '*.bin' glob and fail the content oracle
      // with a confusing mismatch (round-14 ADVICE)
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".bin")).foreach(_.delete())
      Tables.documents(s, dir).filter(col("doc_id") < 20)
        .select(col("doc_id"), substring(col("text"), 1, 40).as("t"))
        .collect().foreach { r =>
          java.nio.file.Files.write(
            new java.io.File(root, s"doc_${r.getLong(0)}.bin").toPath,
            r.getString(1).getBytes("UTF-8"))
        }
    }
  }

  /** s16/st16 shared oracle: name, BYTE length and base64 payload
    * recomputed from the documents table the fixture derives from — a
    * content-level compare of what binaryFile actually read. */
  private[registry] val BinFilesSql: String =
    """SELECT 'doc_' || doc_id || '.bin' AS fname,
      |  CAST(octet_length(encode(substr(text, 1, 40))) AS BIGINT) AS length,
      |  to_base64(encode(substr(text, 1, 40))) AS content_b64
      |FROM documents WHERE doc_id < 20
      |ORDER BY fname""".stripMargin

  private def eventsSlim(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select("event_id", "user_id", "event_type")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // real JDBC source path (S1/S2 against embedded Derby): seed the
    // orders table into the database once, then an incremental load —
    // post-watermark, price-capped rows only — through a key-range
    // partitioned JDBC read; both predicates push into the remote SQL
    // (spec asserts PushedFilters + partition count). o_orderdate is
    // emitted as epoch micros so the oracle compare is tz-proof.
    "s12_jdbc_incremental" -> { (s, dir) =>
      val ord = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      val url = graft.io.Jdbc.seedOnce(ord, s"db_${Fixtures.corpusTag(dir)}", "orders",
        "o_orderstatus VARCHAR(8)")
      val maxKey = ord.agg(max("o_orderkey")).head().getLong(0)
      graft.io.Jdbc.readPartitioned(s, url, "orders", "o_orderkey", 1L, maxKey + 1, 4)
        .filter(col("o_orderkey") > 100L && col("o_totalprice") < 150000.0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), unix_micros(col("o_orderdate")).as("od_us"))
        .orderBy("o_orderkey")
    },
    // S15 — compressed-text roundtrip: gzip JSON-lines (the wire format
    // scraped-data deliveries actually arrive in; Spark's text sources
    // decompress transparently, but gzip is NOT splittable — one task
    // per .gz file, so real pipelines keep delivery files shard-sized)
    "s15_gzip_json_roundtrip" -> { (s, dir) =>
      val p = scratch(dir, "io/gzip")
      Tables.events(s, dir).select("event_id", "user_id", "event_type")
        .write.mode("overwrite").option("compression", "gzip").json(p)
      s.read.json(p)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy("event_id")
    },
    // S14 — schema evolution across batch generations: an old batch
    // without `value` and a new batch with it, read as one table via
    // mergeSchema (the footer-union read an append-only lake needs when
    // columns arrive over time); old rows surface NULL for the new column
    "s14_schema_evolution" -> { (s, dir) =>
      val p = scratch(dir, "io/evolve")
      val ev = Tables.events(s, dir)
      ev.filter(col("event_id") % 2 === 0)
        .select("event_id", "user_id", "event_type")
        .write.mode("overwrite").parquet(s"$p/gen=old")
      ev.filter(col("event_id") % 2 === 1)
        .select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite").parquet(s"$p/gen=new")
      s.read.option("mergeSchema", "true").parquet(s"$p/gen=old", s"$p/gen=new")
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    },
    "s13_orc_roundtrip" -> { (s, dir) =>
      val p = scratch(dir, "io/orc")
      IO.writeOrc(Tables.events(s, dir).select("event_id", "user_id", "event_type", "value"), p)
      IO.readOrc(s, p).orderBy("event_id")
    },
    // K11 — compaction: 40 deliberately-tiny files rewritten to
    // ~256 KB-target files; the oracle proves content survives the
    // rewrite bit-for-bit, the spec asserts the file-count collapse
    "k11_compaction" -> { (s, dir) =>
      val p = scratch(dir, "io/compact")
      Tables.events(s, dir).select("event_id", "user_id", "event_type", "value")
        .repartition(40)
        .write.mode("overwrite").parquet(p)
      IO.compact(s, p, targetBytes = 256 * 1024L)
      s.read.parquet(p).orderBy("event_id")
    },
    "j1_enrich_broadcast" -> { (s, dir) =>
      val joined = Ingest.enrich(Tables.lineitem(s, dir), Tables.part(s, dir),
        "l_partkey", "p_partkey")
      joined
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("l_quantity")).cast("long")).as("qty"))
        .orderBy("p_brand")
    },
    "p4_hash_sample" -> { (s, dir) =>
      // engine-portable 10 % sample: md5-gated membership replays
      // bit-for-bit in DuckDB (the seeded-RNG twin Rows.seededSample is
      // engine-specific; its replay-determinism is spec-asserted)
      Rows.hashSample(Tables.lineitem(s, dir), Seq("l_orderkey", "l_linenumber"), 0.1)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    "p10_stratified_sample" -> { (s, dir) =>
      // per-language keep fractions (en 20%, de 5%, rest 50%) — the
      // corpus-balancing step of a curation pipeline, membership
      // replayable by key hash
      Rows.stratifiedHashSample(Tables.documents(s, dir), "lang", Seq("doc_id"),
        Map("en" -> 0.2, "de" -> 0.05), default = 0.5)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
    "p11_split_assign" -> { (s, dir) =>
      // deterministic, backfill-stable train/val/test assignment:
      // membership is a pure key-hash property, so re-running over a
      // grown corpus never moves an old row between splits
      Rows.splitAssign(Tables.documents(s, dir), Seq("doc_id"),
        valFrac = 0.05, testFrac = 0.05)
        .select("doc_id", "lang", "split")
        .orderBy("doc_id")
    },
    "p13_group_sample" -> { (s, dir) =>
      // EXACTLY 20 docs per language (p10's fraction gate is
      // binomially noisy on skewed strata): the k smallest md5(key)
      // per group via the salted two-stage rank — a hot language
      // never sorts through one reducer, and growing a group only
      // ever displaces the k-th member (backfill-stable)
      Rows.groupSample(Tables.documents(s, dir), "lang", Seq("doc_id"), k = 20)
        .select("doc_id", "lang", "sample_rank")
        .orderBy("lang", "sample_rank")
    },
    "p12_variant_extract" -> { (s, dir) =>
      // the events table's free-form JSON property bag through Spark
      // 4's VARIANT type: one binary parse, typed path extraction,
      // filter on the extracted value — all codegen, all narrow
      Rows.variantExtract(Tables.events(s, dir), "props", "$.k", "bigint", "k")
        .filter(col("k") % 7L === 0L)
        .select("event_id", "k")
        .orderBy("event_id")
    },
    "p5_bool_coercion" -> { (s, dir) =>
      val withStr = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          when(col("value") > 50.0, "true").otherwise("false").as("is_big"))
      Rows.coerceStringBools(withStr)
        .select("event_id", "is_big")
        .orderBy("event_id")
    },
    "p6_uuid_string" -> { (s, dir) =>
      Rows.stringifyColumns(eventsSlim(s, dir), Seq("user_id"))
        .orderBy("event_id")
    },
    "p7_ts_parse" -> { (s, dir) =>
      val strs = Tables.events(s, dir)
        .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
      strs
        .withColumn("parsed",
          Rows.parseTimestampLenient(col("ts_str"),
            Seq("MM/dd/yyyy HH:mm:ss", "yyyy-MM-dd HH:mm:ss")))
        .select(col("event_id"), col("parsed").cast("long").as("parsed_sec"))
        .orderBy("event_id")
    },
    "p9_flatten_nested" -> { (s, dir) =>
      // recursive struct flattener over a real nested-JSON source: write
      // two-level structs, read back (spark.read.json infers the nested
      // StructType — the typed twin of per-cell json.loads), flatten to
      // dotted leaf columns (quality_report.py:33-48 flatten_if_json)
      val p = scratch(dir, "io/p9nested")
      val nested = Tables.events(s, dir).select(col("event_id"),
        struct(col("user_id"),
          struct(col("event_type"), col("value")).as("detail")).as("meta"))
      IO.writeJsonLines(nested, p)
      graft.ops.Flatten.flatten(IO.readJsonAuto(s, p)).orderBy("event_id")
    },
    "s3_json_roundtrip" -> { (s, dir) =>
      val p = scratch(dir, "io/jsonlines")
      IO.writeJsonLines(eventsSlim(s, dir), p)
      IO.readJsonAuto(s, p).select("event_id", "user_id", "event_type").orderBy("event_id")
    },
    "k2_json_array_roundtrip" -> { (s, dir) =>
      val p = scratch(dir, "io/jsonarray")
      IO.writeJsonArray(eventsSlim(s, dir).orderBy("event_id"), p)
      IO.readJsonAuto(s, p).select("event_id", "user_id", "event_type").orderBy("event_id")
    },
    "s4_csv_roundtrip" -> { (s, dir) =>
      val p = scratch(dir, "io/csv")
      IO.writeCsv(Tables.events(s, dir).select("event_id", "user_id", "event_type", "value"), p)
      // inferSchema narrows small ints to int32; restore 64-bit ids
      IO.readCsv(s, p)
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"), col("event_type"), col("value"))
        .orderBy("event_id")
    },
    "s5_glob_union" -> { (s, dir) =>
      val p = scratch(dir, "io/glob")
      val ev = eventsSlim(s, dir)
      IO.writeJsonLines(ev.filter(col("event_id") % 2 === 0), s"$p/even.json")
      IO.writeJsonLines(ev.filter(col("event_id") % 2 === 1), s"$p/odd.json")
      // each .json above is a directory of part files; glob both
      s.read.json(s"$p/*.json/*.json")
        .select("event_id", "user_id", "event_type").orderBy("event_id")
    },
    "k4_parquet_roundtrip" -> { (s, dir) =>
      val p = scratch(dir, "io/parquet")
      IO.writeParquet(Tables.events(s, dir).select("event_id", "user_id", "event_type", "value"), p)
      s.read.parquet(p).orderBy("event_id")
    },
    // s16 — raw binary-file directory ingest (Spark's binaryFile
    // source): the entry point of a real multimodal pipeline, where
    // media arrives as FILES on a landing volume, not as parquet
    // columns — (path, length, content) per file, ready for the
    // m1–m7 decoders. At 100 TB this source is listing-bound, not
    // data-bound: each task reads whole files, no splitting, so the
    // scale knobs are file count and maxPartitionBytes, both
    // partition-level. The fixture writes 20 deterministic .bin files
    // (UTF-8 prefixes of the documents table) ONCE driver-side —
    // bounded test scaffolding, not an operator: in production the
    // files pre-exist. The oracle re-derives (name, byte length,
    // base64 payload) from the documents table, so content is
    // hash-compared end to end, not just counted.
    "s16_binaryfile_ingest" -> { (s, dir) =>
      val p = binFilesFixture(s, dir)
      s.read.format("binaryFile").load(s"$p/*.bin")
        .select(element_at(split(col("path"), "/"), -1).as("fname"),
          col("length"), base64(col("content")).as("content_b64"))
        .orderBy("fname")
    },
    // s17 — packed landing table: the round-15 probe's mitigation as a
    // first-class operator. One binaryFile pass packs the small-file
    // landing zone into a bounded parquet payload table (crash-safe
    // publish, either protocol); every downstream read then runs at
    // parquet speed instead of re-paying per-file listing/open costs
    // (measured 176k vs 18k files/s at 100k files — PROBES round-15).
    // Same content-level oracle as s16: packing must be byte-invisible.
    // s18 — manifest-listed landing ingest (round-15 verdict item 3):
    // the reader plans its splits from the landing MANIFEST (the
    // append-only (path, length) log the uploader writes per wave)
    // instead of InMemoryFileIndex — at 100k files the binaryFile
    // source pays 26.3 s of serial DRIVER listing before the first
    // task; this path's driver cost is one tiny-segment glob, flat in
    // file count (probe_s18_manifest_listing.sc), and the per-file
    // opens run in executors packed to ~maxPartitionBytes tasks. Two
    // manifest segments here exercise the append-only accumulation;
    // same content-level oracle as s16 — the planner must be
    // byte-invisible.
    "s18_manifest_ingest" -> { (s, dir) =>
      IO.readBinaryFromManifest(s, binManifestFixture(s, dir))
        .select(col("fname"), col("length"),
          base64(col("content")).as("content_b64"))
        .orderBy("fname")
    },
    // s19 — manifest COMPACTION (round-16 verdict item 1): the
    // append-only manifest grows one tiny segment per wave forever, so
    // at ~100k waves the segment glob itself re-grows the listing
    // bottleneck s18 exists to kill; compactLandingManifest folds the
    // accumulated segments into ONE parquet checkpoint (crash-safe
    // two-rename swap, idempotent re-runs, concurrent appends
    // untouched) and reads resolve checkpoint + post-compaction
    // segments. Built fresh per query run (its own manifest dir —
    // compaction deletes segments, which must not perturb the shared
    // s18/st18 fixture); the oracle is the shared byte-content SQL:
    // compaction must be byte-invisible to readers.
    "s19_manifest_compact" -> { (s, dir) =>
      import s.implicits._
      val p = binFilesFixture(s, dir)
      val man = scratch(dir, "io/bin_manifest_compact")
      graft.streaming.Streams.deleteDir(s, man)
      val waves = new java.io.File(p).listFiles().toSeq
        .filter(_.getName.endsWith(".bin")).sortBy(_.getName)
        .map(f => (f.getAbsolutePath, f.length()))
        .grouped(7).toSeq
      // first two waves land, fold into the checkpoint; the remaining
      // waves stay live segments — the read unions both sides
      waves.take(2).foreach(w =>
        IO.appendLandingManifest(s, man, w.toDF("path", "length")))
      IO.compactLandingManifest(s, man)
      waves.drop(2).foreach(w =>
        IO.appendLandingManifest(s, man, w.toDF("path", "length")))
      IO.readBinaryFromManifest(s, man)
        .select(col("fname"), col("length"),
          base64(col("content")).as("content_b64"))
        .orderBy("fname")
    },
    "s17_binary_pack" -> { (s, dir) =>
      val p = binFilesFixture(s, dir)
      val dest = scratch(dir, "io/binpacked")
      IO.packBinaryDir(s, s"$p/*.bin", dest)
      IO.readPackedBinary(s, dest)
        .select(col("fname"), col("length"),
          base64(col("content")).as("content_b64"))
        .orderBy("fname")
    },
    "s10_watermark_lookup" -> { (s, dir) =>
      val csv = scratch(dir, "io/wm_lookup")
      Watermark.writeTable(s, csv,
        Seq(Watermark.Entry("events", "1704175200000000", "ts_us")))
      val wm = Watermark.lookup(s, csv, "events").get
      val src = Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
      Watermark.incrementalScan(src, wm.updateColumn, wm.watermarkValue)
        .select("event_id", "ts_us").orderBy("event_id")
    },
    "k6_watermark_update" -> { (s, dir) =>
      import s.implicits._
      val csv = scratch(dir, "io/wm_update")
      Watermark.writeTable(s, csv,
        Seq(Watermark.Entry("events", "1704175200000000", "ts_us"),
          Watermark.Entry("other", "0", "x")))
      val src = Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
      Watermark.update(s, csv, "events", Watermark.nextWatermark(src, "ts_us"))
      Watermark.readTable(s, csv)
        .map(e => (e.tableName, e.watermarkValue, e.updateColumn))
        .toDF("table_name", "watermark_value", "update_column")
        .orderBy("table_name")
    },
    "s11_file_discovery" -> { (s, dir) =>
      // one partitioned write job (not one job per dated slice), then
      // driver-side metadata renames into the reference's
      // {base}/{yyyyMMdd}/{yyyyMMddHHmmss}_{entity}.json layout
      val base = scratch(dir, "io/dated")
      val staging = scratch(dir, "io/dated_staging")
      graft.streaming.Streams.deleteDir(s, base)
      graft.streaming.Streams.deleteDir(s, staging)
      Tables.events(s, dir)
        .withColumn("day", date_format(col("ts"), "yyyyMMdd"))
        .withColumn("half", when(hour(col("ts")) < 12, "000000").otherwise("120000"))
        .select("event_id", "user_id", "event_type", "day", "half")
        .write.partitionBy("day", "half").json(staging)
      val fs = new org.apache.hadoop.fs.Path(staging)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(staging))
        .filter(_.isDirectory).foreach { dayDir =>
          val day = dayDir.getPath.getName.stripPrefix("day=")
          fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/$day"))
          fs.listStatus(dayDir.getPath).filter(_.isDirectory).foreach { halfDir =>
            val half = halfDir.getPath.getName.stripPrefix("half=")
            fs.rename(halfDir.getPath,
              new org.apache.hadoop.fs.Path(s"$base/$day/$day${half}_events.json"))
          }
        }
      // watermark = 20240101 23:59:59 → first day's files are skipped
      val files = Watermark.discoverFiles(s, base, "20240101235959")
      s.read.json(files: _*)
        .select("event_id", "user_id", "event_type").orderBy("event_id")
    },
    "e1_incremental_ingest" -> { (s, dir) =>
      val csv = scratch(dir, "io/wm_e1")
      Watermark.writeTable(s, csv,
        Seq(Watermark.Entry("events", "1704175200000000", "ts_us")))
      val src = Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
      Ingest
        .incrementalIngest(s, src, "events", csv,
          scratch(dir, "io/land"), scratch(dir, "io/arch"), "20240102", "20240102060000")
        .select("event_id", "user_id", "event_type", "ts_us")
        .orderBy("event_id")
    },
    "e3_batch_ingest" -> { (s, dir) =>
      // CSV source materialized from lineitem, then the full E3 chain
      // with the hash-gated sample so membership (not just row count)
      // is oracle-checkable; CSV inference narrows ints → restore 64-bit
      val srcCsv = scratch(dir, "io/e3src")
      IO.writeCsv(Tables.lineitem(s, dir).select("l_orderkey", "l_linenumber", "l_quantity"), srcCsv)
      Ingest.batchFullLoad(s, srcCsv, "lineitem",
        scratch(dir, "io/e3land"), scratch(dir, "io/e3arch"), "20240101", "20240101000000",
        sampleKeys = Seq("l_orderkey", "l_linenumber"))
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    "k7_quality_report" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val spec = Quality.ReportSpec(
        nullCols = Seq("event_id", "event_type"),
        defaults = Map("event_type" -> lit("view")),
        dupKeys = Seq("user_id", "event_type"),
        cleanRules = Seq(
          Quality.CleanRule("value_pos", "value", col("value") > 0.0),
          Quality.CleanRule("props_json", "props", col("props").startsWith("{")))
      )
      Ingest.qualityCheck(ev, spec, scratch(dir, "io/report") + "/report.json",
        Map("event_id" -> "bigint", "event_type" -> "string"))
    },
    "a8_dtype_check" -> { (s, dir) =>
      import s.implicits._
      Quality
        .dtypeCheck(Tables.events(s, dir),
          Map("event_id" -> "bigint", "event_type" -> "string",
            "value" -> "double", "missing_col" -> "string"))
        .toDF("column_name", "expected", "actual", "ok")
        .orderBy("column_name")
    },
    "a9_schema_diff" -> { (s, dir) =>
      import s.implicits._
      val src = Tables.customer(s, dir)
      val transformed = src.drop("c_mktsegment", "c_acctbal")
      Quality.schemaDiff(src, transformed).toDF("missing_col").orderBy("missing_col")
    },
    // K13 — range-clustered write: disjoint sorted user_id ranges per
    // file, then a selective read back — parquet min-max stats prune
    // the non-matching files (spec asserts the disjointness; the
    // oracle proves the roundtrip + filter fidelity)
    "k13_clustered_write" -> { (s, dir) =>
      val p = scratch(dir, "io/clustered")
      IO.writeClustered(
        Tables.events(s, dir).select("event_id", "user_id", "event_type"),
        p, nFiles = 8, col("user_id"), col("event_id"))
      s.read.parquet(p)
        .filter(col("user_id") < 50L)
        .orderBy("event_id")
    },
    // K14 — Z-ORDER clustered write: files sorted by the interleaved
    // (user_id, value-bucket) Morton code, so min-max stats prune
    // selective filters on EITHER dimension (k13's 1-D sort prunes
    // only its leading key). The oracle proves roundtrip + filter
    // fidelity on the SECOND dimension; the spec proves the per-file
    // bounding boxes actually shrink.
    "k14_zorder_write" -> { (s, dir) =>
      val p = scratch(dir, "io/zorder")
      IO.writeZOrdered(
        Tables.events(s, dir).select("event_id", "user_id", "value"),
        p, nFiles = 8,
        pmod(col("user_id"), lit(65536L)),
        pmod(floor(col("value") * 100).cast("long"), lit(65536L)))
      s.read.parquet(p)
        .filter(col("value") >= 99.0)
        .orderBy("event_id")
    }
  )

  private val EV_SLIM = "SELECT event_id, user_id, event_type FROM events"

  val oracles: Map[String, String] = Map(
    "k13_clustered_write" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE user_id < 50 ORDER BY event_id""".stripMargin,
    "k14_zorder_write" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE value >= 99.0 ORDER BY event_id""".stripMargin,
    "s15_gzip_json_roundtrip" ->
      "SELECT event_id, user_id, event_type FROM events ORDER BY event_id",
    "s14_schema_evolution" ->
      """SELECT event_id, user_id, event_type,
        |       CASE WHEN event_id % 2 = 1 THEN value END AS value
        |FROM events ORDER BY event_id""".stripMargin,
    "s13_orc_roundtrip" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    "k11_compaction" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    "s12_jdbc_incremental" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       epoch_us(o_orderdate) AS od_us
        |FROM orders
        |WHERE o_orderkey > 100 AND o_totalprice < 150000.0
        |ORDER BY o_orderkey""".stripMargin,
    "j1_enrich_broadcast" ->
      """SELECT p_brand, COUNT(*) AS n,
        |       CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "p4_hash_sample" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber
        |FROM lineitem
        |WHERE md5(CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR)) < '1a'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "e3_batch_ingest" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity
        |FROM lineitem
        |WHERE md5(CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR)) < '1a'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "p10_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE md5(CAST(doc_id AS VARCHAR)) <
        |  (CASE WHEN lang = 'en' THEN '33' WHEN lang = 'de' THEN '0d' ELSE '80' END)
        |ORDER BY doc_id""".stripMargin,
    // the salted two-stage rank is value-invisible: the oracle is the
    // naive single window it replaces
    "p13_group_sample" ->
      """SELECT doc_id, lang, CAST(sample_rank AS INTEGER) AS sample_rank FROM (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 20 ORDER BY lang, sample_rank""".stripMargin,
    // the oracle replays the JSON-path extraction on the raw string —
    // a wrong variant parse, path walk, or cast diverges
    "p12_variant_extract" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |FROM events
        |WHERE CAST(json_extract(props, '$.k') AS BIGINT) % 7 = 0
        |ORDER BY event_id""".stripMargin,
    "p11_split_assign" ->
      """SELECT doc_id, lang,
        |  CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '0ccc' THEN 'val'
        |       WHEN md5(CAST(doc_id AS VARCHAR)) < '1999' THEN 'test'
        |       ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "p5_bool_coercion" ->
      "SELECT event_id, (value > 50.0) AS is_big FROM events ORDER BY event_id",
    "p6_uuid_string" ->
      """SELECT event_id, CAST(user_id AS VARCHAR) AS user_id, event_type
        |FROM events ORDER BY event_id""".stripMargin,
    "p7_ts_parse" ->
      """SELECT event_id,
        |  CAST(epoch_us(strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'),
        |       '%Y-%m-%d %H:%M:%S')) // 1000000 AS BIGINT) AS parsed_sec
        |FROM events ORDER BY event_id""".stripMargin,
    "p9_flatten_nested" ->
      """SELECT event_id,
        |  event_type AS "meta.detail.event_type",
        |  value AS "meta.detail.value",
        |  user_id AS "meta.user_id"
        |FROM events ORDER BY event_id""".stripMargin,
    "s3_json_roundtrip" -> s"$EV_SLIM ORDER BY event_id",
    "k2_json_array_roundtrip" -> s"$EV_SLIM ORDER BY event_id",
    "s4_csv_roundtrip" ->
      "SELECT event_id, user_id, event_type, value FROM events ORDER BY event_id",
    "s5_glob_union" -> s"$EV_SLIM ORDER BY event_id",
    "k4_parquet_roundtrip" ->
      "SELECT event_id, user_id, event_type, value FROM events ORDER BY event_id",
    // s16 replays the fixture derivation, not the files: name, BYTE
    // length and base64 payload recomputed from the documents table —
    // a content-level compare of what binaryFile actually read
    "s16_binaryfile_ingest" -> BinFilesSql,
    // s18 plans from the manifest instead of the file index — the
    // planner must be byte-invisible, same shared content oracle
    "s18_manifest_ingest" -> BinFilesSql,
    // s19 folds manifest segments into the parquet checkpoint —
    // compaction must be byte-invisible too, same shared oracle
    "s19_manifest_compact" -> BinFilesSql,
    // s17 packs the same fixture the s16 source reads — byte-invisible
    // by contract, so the oracle is shared verbatim
    "s17_binary_pack" -> BinFilesSql,
    "s10_watermark_lookup" ->
      """SELECT event_id, epoch_us(ts) AS ts_us FROM events
        |WHERE epoch_us(ts) > 1704175200000000 ORDER BY event_id""".stripMargin,
    "k6_watermark_update" ->
      """SELECT * FROM (
        |  SELECT 'events' AS table_name,
        |         CAST(MAX(epoch_us(ts)) AS VARCHAR) AS watermark_value,
        |         'ts_us' AS update_column
        |  FROM events
        |  UNION ALL SELECT 'other', '0', 'x'
        |) ORDER BY table_name""".stripMargin,
    "s11_file_discovery" ->
      s"""SELECT event_id, user_id, event_type FROM events
         |WHERE strftime(ts, '%Y%m%d') > '20240101' ORDER BY event_id""".stripMargin,
    "e1_incremental_ingest" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events
        |WHERE epoch_us(ts) > 1704175200000000 ORDER BY event_id""".stripMargin,
    "k7_quality_report" ->
      """SELECT *,
        |  CASE WHEN total_value_pos > 0
        |       THEN 100.0 * valid_value_pos / total_value_pos END AS rate_value_pos,
        |  CASE WHEN total_props_json > 0
        |       THEN 100.0 * valid_props_json / total_props_json END AS rate_props_json
        |FROM (
        |  SELECT
        |    CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_id,
        |    CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type,
        |    CAST(SUM(CASE WHEN event_type IS NOT NULL AND event_type != 'view' THEN 1 ELSE 0 END) AS BIGINT) AS viol_event_type,
        |    CAST(SUM(CASE WHEN value IS NOT NULL AND value > 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS valid_value_pos,
        |    CAST(SUM(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS total_value_pos,
        |    CAST(SUM(CASE WHEN props IS NOT NULL AND starts_with(props, '{') THEN 1 ELSE 0 END) AS BIGINT) AS valid_props_json,
        |    CAST(SUM(CASE WHEN props IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS total_props_json,
        |    CAST(COUNT(*) - COUNT(DISTINCT (user_id, event_type)) AS BIGINT) AS dup_rows,
        |    COUNT(*) AS n_rows,
        |    CAST(6 AS BIGINT) AS n_cols
        |  FROM events)""".stripMargin,
    "a8_dtype_check" ->
      """SELECT * FROM (VALUES
        |  ('event_id', 'bigint', 'bigint', TRUE),
        |  ('event_type', 'string', 'string', TRUE),
        |  ('missing_col', 'string', 'missing', FALSE),
        |  ('value', 'double', 'double', TRUE))
        |AS t(column_name, expected, actual, ok) ORDER BY column_name""".stripMargin,
    "a9_schema_diff" ->
      """SELECT * FROM (VALUES ('c_acctbal'), ('c_mktsegment'))
        |AS t(missing_col) ORDER BY missing_col""".stripMargin
  )
}
