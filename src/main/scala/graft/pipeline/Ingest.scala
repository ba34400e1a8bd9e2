package graft.pipeline

import graft.incremental.Watermark
import graft.io.IO
import graft.ops.Rows
import graft.quality.Quality
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** E1/E3 ingest pipelines + the J1 enrichment join (SURVEY §3).
  *
  * E1 (value-watermark incremental ingest,
  * dwh/ingest_click_house_incremental_load_users.py:25-78): watermark
  * lookup → pushed-down `> wm` scan → JSON landzone (observing count
  * and max) + Parquet archive → watermark advance (non-empty only) →
  * QC report. The reference advances before it lands (at-most-once);
  * advancing after the writes commit makes E1 at-least-once.
  *
  * E3 (batch full load,
  * dwh/ingest_batch_sources_full_load_ProblemLog_original.py:52-102):
  * CSV read → seeded 10 % sample → JSON-lines + Parquet archive → QC.
  *
  * J1 (inferred missing preprocessing step, SURVEY §2.5): fact ⋈ small
  * dim. The dim side is broadcast explicitly — at 100 TB the fact never
  * shuffles for this join.
  */
object Ingest {

  /** J1 — enrichment join; dim is broadcast (84-row table in the
    * reference; always small by contract). */
  def enrich(fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
             joinType: String = "left"): DataFrame =
    fact.join(broadcast(dim), fact(factKey) === dim(dimKey), joinType)

  /** E1 — one incremental micro-batch. Returns the landed batch.
    *
    * Order: land, archive, then advance. The JSON landing write carries
    * an `observe` of the batch's row count and `max(update_col)`, so the
    * next watermark comes out of the scan that lands the rows, not out
    * of a separate aggregate. The watermark moves only after both
    * writes have committed, which makes delivery at-least-once: a crash
    * before the advance re-delivers the batch, and the keep-latest
    * bronze upsert absorbs the repeat. An empty batch leaves no landing
    * or archive directory and keeps the watermark (ST2). The control
    * table is driver-side text, so a non-empty batch costs two Spark
    * jobs (the two writes) before the caller's QC. The batch is cached
    * by the landing write, so the source is scanned once: the archive
    * write and the caller's first action read the cache, which that
    * action releases ([[graft.Caching.releaseAfterFirstUse]]).
    */
  def incrementalIngest(
      spark: SparkSession,
      source: DataFrame,
      table: String,
      watermarkCsv: String,
      landzone: String,
      archive: String,
      yyyyMMdd: String,
      stamp: String
  ): DataFrame = {
    val wm = Watermark
      .lookup(spark, watermarkCsv, table)
      .getOrElse(sys.error(s"no watermark row for $table"))
    // persist at the fan-out: the landing write builds the cache, and
    // the archive write and the caller's QC read it instead of the source
    val batch = Watermark.incrementalScan(source, wm.updateColumn, wm.watermarkValue)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seen = Observation()
    val landing = IO.datedPath(landzone, "stream", table, "json", yyyyMMdd, stamp)
    try {
      IO.writeJsonLines(
        batch.observe(seen, count(lit(1)).as("rows"),
          max(col(wm.updateColumn)).cast("string").as("next_wm")),
        landing)
      val m = seen.get
      // the count is only known once the landing write has run, so an
      // empty batch drops the empty directory that write left behind
      if (m("rows").asInstanceOf[Long] == 0L)
        graft.streaming.Streams.deleteDir(spark, landing)
      else {
        IO.writeParquet(
          Rows.stringifyColumns(batch, Seq.empty),
          IO.datedPath(archive, "archives", table, "parquet", yyyyMMdd, stamp))
        Watermark.update(spark, watermarkCsv, table, Option(m("next_wm").asInstanceOf[String]))
      }
    } catch {
      case e: Throwable => batch.unpersist(false); throw e
    }
    // released on the caller's first action; the fresh projection keeps
    // the two writes' listener events from releasing it early (see
    // batchFullLoad)
    graft.Caching.releaseAfterFirstUse(batch.select(col("*")), batch)
  }

  /** E3 — batch full load with a 10 % sample. `sampleKeys` selects the
    * engine-portable hash-gated sample (replayable membership — see
    * [[graft.ops.Rows.hashSample]]); empty keeps the reference-faithful
    * seeded RNG sample. Returns the landed frame. */
  def batchFullLoad(
      spark: SparkSession,
      csvPath: String,
      table: String,
      landzone: String,
      archive: String,
      yyyyMMdd: String,
      stamp: String,
      sampleFraction: Double = 0.1,
      seed: Long = 42L,
      sampleKeys: Seq[String] = Seq.empty
  ): DataFrame = {
    val raw = IO.readCsv(spark, csvPath)
    // persist at the fan-out: the sample feeds TWO sinks and the
    // returned frame — without the cache each consumer re-parses the
    // CSV and recomputes the md5 gate (3 full passes)
    val sampled =
      (if (sampleKeys.nonEmpty) Rows.hashSample(raw, sampleKeys, sampleFraction)
       else Rows.seededSample(raw, sampleFraction, seed))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    IO.writeJsonLines(sampled, IO.datedPath(landzone, "batch", table, "json", yyyyMMdd, stamp))
    IO.writeParquet(sampled, IO.datedPath(archive, "archives", table, "parquet", yyyyMMdd, stamp))
    // blocks (built by the sink writes above) release once the caller
    // materializes the returned frame (graft.Caching contract). The
    // fresh projection wrapper is LOAD-BEARING: the release hook
    // matches consumer executions by plan identity, and the two sink
    // writes' (possibly still-in-flight) listener events reference
    // sampled's own plan — returning sampled directly would let a late
    // write event release the cache before the caller's first action.
    // If the cache is ever gone when the caller acts, the recompute is
    // value-identical: hashSample's membership is a pure md5 gate, and
    // seededSample's rand(seed) draw re-splits the CSV scan
    // identically in local and file-source plans.
    graft.Caching.releaseAfterFirstUse(sampled.select(col("*")), sampled)
  }

  /** QC step shared by E1/E3: single-pass metrics + report file. */
  def qualityCheck(df: DataFrame, spec: Quality.ReportSpec, reportPath: String,
                   expectedTypes: Map[String, String] = Map.empty): DataFrame = {
    val m = Quality.metrics(df, spec)
    Quality.writeReport(m, Quality.dtypeCheck(df, expectedTypes), reportPath)
    m
  }
}
