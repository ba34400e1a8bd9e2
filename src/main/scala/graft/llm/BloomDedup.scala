package graft.llm

import java.io.ByteArrayOutputStream

import graft.functions.Kernels
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.functions._

/** Incremental exact dedup of an ingest BATCH against a corpus-sized
  * HISTORY with ZERO history shuffle — the semi-join-reduction pattern
  * a 100 TB pipeline needs (a plain `left_anti` shuffles the history
  * on the key; at corpus scale that shuffle IS the job).
  *
  * Shape:
  *  1. build a Bloom filter over the BATCH keys (the small side —
  *     one distributed aggregate, sketch returned to the driver);
  *  2. scan the history ONCE with a map-side
  *     `might_contain(bloom, xxhash64(key))` filter (Spark's own
  *     codegen [[BloomFilterMightContain]] — the expression behind
  *     AQE runtime bloom joins) — no exchange touches the history;
  *  3. the surviving keys (⊆ true dupes + fpp·|history| false
  *     positives) deduplicate and broadcast back against the batch as
  *     an exact `left_anti`.
  *
  * False positives only add history keys that match no batch row, so
  * the result is EXACTLY "batch rows whose key is absent from
  * history" at any fpp — fpp trades history-scan output volume, not
  * correctness. Size fpp so fpp·|history| stays broadcast-small
  * (1e-4 on 10^11 rows ⇒ ~10^7 survivors); if the survivor set still
  * outgrows broadcast, pass `broadcastHint = false` and the planner
  * picks a shuffled join over survivors — still never the full
  * history.
  */
object BloomDedup {

  private val builder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, "bloom_might_contain(bloom, xxhash64value) takes 2 arguments")
    BloomFilterMightContain(args.head, args(1))
  }

  /** Expose Spark's codegen bloom-membership predicate to `call_function`.
    * The bloom side must be a foldable binary (the serialized sketch);
    * the value side must be the xxhash64 of the key — the same longs
    * [[antiJoinBloom]] feeds `stat.bloomFilter` (both ends hash the
    * key to a long first; the sketch's putLong/mightContainLong agree). */
  def register(spark: SparkSession): Unit = Kernels.registerMissing(spark, descriptor)

  private val descriptor: Kernels.Descriptor = (
    FunctionIdentifier("bloom_might_contain"),
    new ExpressionInfo(classOf[BloomFilterMightContain].getName, "bloom_might_contain"),
    builder)

  /** Batch rows whose `keyCol` does not occur in `history` — exact at
    * any `fpp`. `expectedItems` sizes the sketch to the BATCH key
    * count (overestimating costs bits, underestimating costs false
    * positives, never correctness).
    *
    * `broadcastHint` controls the final survivors ⨝ batch anti-join:
    * `true` (default) pins a broadcast of the survivor set — right
    * whenever fpp·|history| is sized broadcast-small; `false` drops
    * the hint so the planner/AQE picks a shuffled join when the
    * survivor set outgrows driver memory — the documented overflow
    * fallback, which still never shuffles the full history (only the
    * survivors and the batch). */
  def antiJoinBloom(
      batch: DataFrame,
      history: DataFrame,
      keyCol: String,
      expectedItems: Long,
      fpp: Double = 0.001,
      broadcastHint: Boolean = true): DataFrame = {
    require(expectedItems >= 1, "expectedItems must be positive")
    register(batch.sparkSession)
    val bf = batch
      .select(xxhash64(col(keyCol)).as("__h"))
      .stat.bloomFilter("__h", expectedItems, fpp)
    val bloomBytes = {
      val bos = new ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    // map-side prefilter: the only thing that leaves the history scan
    // is the suspected-duplicate keys
    val hits = history
      .select(col(keyCol))
      .filter(call_function("bloom_might_contain",
        lit(bloomBytes), xxhash64(col(keyCol))))
      .distinct()
    batch.join(if (broadcastHint) broadcast(hits) else hits, Seq(keyCol), "left_anti")
  }
}
