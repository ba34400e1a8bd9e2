package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level training-data preparation operators: TF-IDF term
  * weighting, fixed-window token chunking (the sample-boundary pass a
  * training pipeline runs before packing sequences), and CCNet-style
  * boilerplate detection by corpus-frequent segment counting.
  *
  * All three share one scale shape: explode to (doc, unit) rows →
  * map-side-combinable hash aggregates → equi-joins on the unit key.
  * No windows over corpus-sized partitions, no driver-side loops — the
  * only windows are per-document (bounded by document vocabulary).
  *
  * ==Caching contract==
  * [[tfidfTopK]], [[unigramLogProb]], [[bigramLogProb]] and
  * [[boilerplate]] persist their (doc, unit) pre-aggregate at
  * `MEMORY_AND_DISK` because it feeds two plan branches (the per-unit
  * corpus aggregate and the scoring join) — without it the explode+agg
  * re-runs per branch. The blocks are released automatically by
  * [[graft.Caching.releaseAfterFirstUse]]: the first action the caller
  * runs on the returned frame unpersists the intermediate (a spec pins
  * this). Re-materializing the same returned frame later recomputes
  * instead of reading cache — hold your own `.persist()` on the result
  * if you need repeated reads.
  */
object Corpus {

  /** TF-IDF top-k terms per document over the `[a-z0-9]+` regex
    * tokenization (the same tokenizer the vocabulary builder uses).
    *
    * score = tf · ln(N / df), rounded to 6 decimals: `ln` is not
    * guaranteed correctly-rounded (unlike IEEE + − × ÷), so unrounded
    * scores can differ from another engine's in the last ulp and break
    * bit-compare; 1e-6 granularity is far above both engines' ln error.
    *
    * Plan: tokens explode → (doc, term) hash agg (tf) → (term) hash agg
    * (df, from the already-distinct doc-term pairs) → shuffle equi-join
    * on term → per-doc top-k window. N arrives via a broadcast 1-row
    * cross join, never a corpus-wide window.
    */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    // tf feeds BOTH join sides (as itself and aggregated to df) — keep
    // the explode+agg result instead of re-scanning the corpus twice;
    // released on the caller's first materialization (Caching hook)
    val tf = docs
      .select(col(idCol), explode(TextAnalysis.regexTokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    val topk = scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"))
    graft.Caching.releaseAfterFirstUse(topk, tf)
  }

  /** Sequence packing — assign documents to fixed-token-budget training
    * bins (the packing step between chunking and batch assembly).
    * Contiguous deterministic fill: within each `partCol` group (e.g.
    * language — the parallelism unit), documents in `orderCol` order
    * fill bins of `budget` tokens; a document belongs to the bin its
    * FIRST token lands in, bin = floor((cumsum − n_tokens) / budget).
    *
    * One per-group window (running sum) — distributed across groups,
    * no global sort; the pure-arithmetic bin rule replays in any
    * engine, unlike true first-fit bin packing, which is inherently
    * sequential.
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    partCol: String, budget: Int): DataFrame = {
    require(budget >= 1, "budget must be positive")
    val w = Window.partitionBy(col(partCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col(idCol), col(partCol),
        TextAnalysis.tokenCountWhitespace(col(textCol)).as("n_tokens"))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .select(col(idCol), col(partCol), col("n_tokens"),
        floor((col("__cum") - col("n_tokens")) / lit(budget.toDouble))
          .cast("long").as("pack_id"))
  }

  /** Token-balanced corpus sharding — assign each document to one of
    * `nShards` output shards of near-equal total TOKEN mass (the file
    * layout a data-parallel training job reads: each worker streams
    * one shard, and the straggler is the worker with the most tokens,
    * not the most documents — count-balanced sharding skews token
    * mass badly on heavy-tailed length distributions).
    *
    * Deterministic and engine-replayable: documents are laid out in
    * `md5(id)` order (a fixed pseudo-random permutation, so shard
    * contents are length-representative, not ingest-order runs) and
    * cut into contiguous runs of `budget = ceil(total/nShards)`
    * tokens: `shard = min(exclusive_prefix DIV budget, nShards-1)`.
    * All arithmetic is integral (`DIV`, ceil via `(total+n-1)/n`) so
    * any SQL engine reproduces the exact assignment. Every shard's
    * token mass lands within one max-document of the budget — the
    * tight bound for any contiguous cut of an indivisible sequence.
    *
    * Scale: the prefix sum is [[graft.ops.Cumsum.globalCumsum]] — ONE
    * range exchange of (id, n_tokens, hash), never the single-task
    * global window; the total is a driver scalar from a map-side
    * partial aggregate. The text column never shuffles — callers join
    * the assignment back by id (thin) or feed it straight to a
    * `partitionBy(shard)` sink.
    */
  def tokenBalancedShards(docs: DataFrame, idCol: String, textCol: String,
                          nShards: Int): DataFrame =
    // the NARROW projection is what massBalancedShards caches:
    // tokenizing the text column is the expensive part, and both the
    // budget agg and the prefix sum need the counts — one text scan
    massBalancedShards(
      docs.select(col(idCol),
        TextAnalysis.tokenCountWhitespace(col(textCol)).as("n_tokens")),
      idCol, "n_tokens", nShards)

  /** [[tokenBalancedShards]] over PRECOMPUTED per-row masses — the
    * shared cut machinery for any additive mass column (whitespace
    * token counts there, y28 BPE token counts in the e7 export).
    * Output column is always `n_tokens`. */
  def massBalancedShards(rows: DataFrame, idCol: String, massCol: String,
                         nShards: Int): DataFrame = {
    require(nShards >= 1, "nShards must be positive")
    // A NULL or negative mass would flow through the prefix-sum bucket
    // arithmetic and yield NULL/negative shard ids — clamp to 0 so a
    // degenerate row costs nothing but still lands in a valid shard.
    val base = rows.select(
        col(idCol),
        greatest(coalesce(col(massCol).cast("long"), lit(0L)), lit(0L))
          .as("n_tokens"))
      .withColumn("__h", md5(col(idCol).cast("string")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totalRow = base.agg(sum(col("n_tokens"))).first()
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    val budget = math.max(1L, (total + nShards - 1) / nShards)
    val cum = graft.ops.Cumsum.globalCumsum(
      base, Seq(col("__h"), col(idCol)), col("n_tokens"), "__cum")
    // DIV, not `/`: long `/` is DOUBLE division (exact only below
    // 2^53 — fine even at 100 TB, but DIV keeps the contract integral
    // at ANY scale and replays bit-exactly in the SQL oracle)
    val out = cum.select(col(idCol), col("n_tokens"),
      least(
        expr(s"CAST((__cum - n_tokens) DIV ${budget}L AS BIGINT)"),
        lit(nShards - 1L)).as("shard_id"))
    graft.Caching.releaseAfterFirstUse(out, base)
  }

  /** Fixed-size overlapping token windows — the chunking pass that
    * turns documents into training samples. Chunk i covers tokens
    * [i·stride, i·stride + size); a document with n ≤ size tokens is
    * one chunk, otherwise 1 + ceil((n − size) / stride) chunks so the
    * tail is always covered. Pure per-row explode: embarrassingly
    * parallel, no shuffle before the caller's sink.
    */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
            size: Int, stride: Int): DataFrame = {
    require(size >= 1 && stride >= 1 && stride <= size,
      "need 1 <= stride <= size")
    val staged = docs
      .select(col(idCol), split(col(textCol), "\\s+").as("__tk"))
      .withColumn("__n", org.apache.spark.sql.functions.size(col("__tk")).cast("long"))
      // floor((max(0, n-size) + stride - 1) / stride) via double
      // division — exact while counts < 2^52
      .withColumn("__n_chunks",
        lit(1L) + floor((greatest(lit(0L), col("__n") - size) + (stride - 1))
          / lit(stride.toDouble)).cast("long"))
    staged
      .withColumn("chunk_idx", explode(sequence(lit(0L), col("__n_chunks") - 1)))
      .withColumn("__ctk",
        slice(col("__tk"), (col("chunk_idx") * stride + 1).cast("int"), lit(size)))
      .select(col(idCol), col("chunk_idx"),
        org.apache.spark.sql.functions.size(col("__ctk")).cast("long").as("n_tokens"),
        concat_ws(" ", col("__ctk")).as("chunk_text"))
  }

  /** Unigram language-model scoring — the cheap perplexity proxy a
    * curation pipeline uses to rank documents (KenLM-lite): each token
    * scores ln(count(token) / total_tokens) under the corpus's own
    * unigram distribution, summed per document.
    *
    * Scores are summed in FIXED-POINT micro-nats
    * (floor(ln(p) · 1e6) as BIGINT): a double sum is
    * non-associative, so two engines summing a document's tokens in
    * different orders disagree in the last ulp — integer sums are
    * order-independent and compare exactly.
    *
    * Residual boundary cliff, accepted: `ln` is not correctly-rounded,
    * so if two engines' ln(p) differ by one ulp exactly where
    * ln(p)·1e6 sits on an integer, the floors differ by 1 micro-nat.
    * Any double→int quantization has such a cliff somewhere (half-even
    * rounding just moves it to the .5 boundaries); it needs BOTH a
    * last-ulp ln divergence AND a p within ~2^-33 relative distance of
    * a boundary, and the measured 31-term/500k-doc vocabularies hit
    * none. If a larger vocabulary ever trips one, compare at coarser
    * granularity (1e5) rather than switching rounding modes.
    *
    * Plan: one staged explode (persisted — it feeds the count agg and
    * the scoring join), token-keyed hash agg for counts, shuffle
    * equi-join tokens→counts, per-doc hash agg. Total arrives as a
    * broadcast 1-row aggregate of the count table, never a rescan.
    */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // aggregate to (doc, term, tf) BEFORE the vocabulary join: every
    // instance of a term in a doc scores the same micro-nat value, so
    // sum-over-instances = tf · floor(ln p · 1e6) exactly — and the
    // join then moves |doc-term pairs| rows instead of |token
    // instances| (measured 24.5 s → instance-joining 500k docs shuffles
    // 20M rows through the Zipf-skewed term key)
    val tf = docs
      .select(col(idCol), explode(TextAnalysis.regexTokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = tf.groupBy("term").agg(sum(col("tf")).as("cnt"))
    val total = counts.select(sum(col("cnt")).as("total"))
    val scored = tf.join(counts, "term")
      .crossJoin(broadcast(total))
      .withColumn("lp_micro",
        col("tf") * floor(log(col("cnt").cast("double") / col("total")) * 1e6).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"), sum(col("lp_micro")).as("logprob_micro"))
    // zero-token docs carry no evidence: 0 tokens, 0 micro-nats
    val out = docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("logprob_micro"), lit(0L)).as("logprob_micro"))
    graft.Caching.releaseAfterFirstUse(out, tf)
  }

  /** The corpus unigram LM in its MATERIALIZE-ONCE form: the (term,
    * cnt) vocabulary plus its one-row total, written as ONE swap unit —
    * the y21b/y20b train-once/score-many split applied to the
    * perplexity-proxy LM. Production CCNet trains its LM once per
    * reference snapshot (a KenLM binary in the paper; this engine's
    * micro-nat unigram here) and scores every candidate batch against
    * it; re-deriving the counts per scoring call re-pays a corpus-wide
    * vocabulary aggregate. Totals are derived from the WRITTEN vocab
    * (the stageDsirModel convention) so the pair can neither drift nor
    * read torn. */
  def stageUnigramLm(docs: DataFrame, idCol: String, textCol: String,
                     path: String): Unit = {
    val counts = docs
      .select(explode(TextAnalysis.regexTokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    graft.io.Staging.publish(docs.sparkSession, path) { tmp =>
      counts.write.mode("overwrite").parquet(s"$tmp/counts")
      docs.sparkSession.read.parquet(s"$tmp/counts")
        .agg(sum(col("cnt")).as("total"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/totals")
    }
  }

  /** Score docs against a staged unigram LM (the [[stageUnigramLm]]
    * tables re-read from parquet): identical per-term arithmetic to
    * [[unigramLogProb]] — same micro-nat floor, same per-doc sums — so
    * scoring the LM's own training corpus is value-identical to the
    * direct path (the e6 serving contract). Terms the model never saw
    * are EXCLUDED from both `n_tokens` and `logprob_micro` (strict MLE
    * — ln 0 is undefined; vacuous on the training corpus, and for
    * foreign batches an add-1 smoothed scorer is
    * [[importanceWeightsStaged]]'s job). Per-call plan: one tokenize +
    * doc-term tf agg + one vocabulary equi-join — the corpus-wide
    * count aggregate and its broadcast total are gone from the
    * scoring path. */
  def unigramLogProbStaged(docs: DataFrame, idCol: String, textCol: String,
                           counts: DataFrame, totals: DataFrame): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(TextAnalysis.regexTokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val scored = tf.join(counts, "term")
      .crossJoin(broadcast(totals))
      .withColumn("lp_micro",
        col("tf") * floor(log(col("cnt").cast("double") / col("total")) * 1e6).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"), sum(col("lp_micro")).as("logprob_micro"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("logprob_micro"), lit(0L)).as("logprob_micro"))
  }

  /** Bigram language-model scoring — the next perplexity-proxy rung
    * above [[unigramLogProb]]: each bigram (w1 w2) scores
    * ln(count(w1 w2) / count(w1 ·)) — the MLE conditional P(w2|w1) with
    * the denominator summed over bigrams starting with w1 — in the
    * same fixed-point micro-nat BIGINT encoding (see unigram scaladoc
    * for why integer sums are the cross-engine-exact choice).
    *
    * Plan: one staged-token bigram explode → (doc, bigram) tf agg
    * (persisted — feeds the count agg and the scoring join) → bigram
    * vocabulary counts → first-token totals aggregated FROM the
    * vocabulary (vocab-sized, never corpus-sized) → two equi-joins on
    * vocabulary keys → per-doc hash agg. The Zipf-head first-token key
    * only ever joins vocabulary rows, so the skew a corpus-sized
    * w1-join would hit never materializes. */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // spread the tokenize + bigram-explode pass: a small corpus scan is
    // 1-2 splits and this CPU-dense narrow stage otherwise runs on
    // those tasks alone (measured a 0.9 s single-task exchange-feed
    // stage at sf0.1); the plan-stats guard skips the shuffle whenever
    // the scan already has >= parallelism splits (the shingleTable rule)
    val tf = graft.ops.Partitions.spreadForCpu(
      docs.select(col(idCol), col(textCol)))
      .withColumn("__tk", TextAnalysis.regexTokens(col(textCol)))
      .select(col(idCol), explode(graft.ops.Text.ngrams(col("__tk"), 2)).as("bg"))
      .groupBy(col(idCol), col("bg"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = tf.groupBy("bg").agg(sum(col("tf")).as("cnt"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val w1tot = counts.groupBy("w1").agg(sum(col("cnt")).as("cnt1"))
    // join the two VOCABULARY tables on w1 first, then hit the
    // corpus-sized tf exactly once on the full bigram key — joining tf
    // on w1 directly would shuffle every corpus bigram through the
    // Zipf-head first-token key (the skew the scaladoc promises away)
    val vocab = counts.join(w1tot, "w1")
      .withColumn("lp1",
        floor(log(col("cnt").cast("double") / col("cnt1")) * 1e6).cast("long"))
      .select("bg", "lp1")
    val scored = tf
      .join(vocab, "bg")
      .withColumn("lp_micro", col("tf") * col("lp1"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_bigrams"), sum(col("lp_micro")).as("logprob_micro"))
    val out = docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("logprob_micro"), lit(0L)).as("logprob_micro"))
    graft.Caching.releaseAfterFirstUse(out, tf)
  }

  /** Boilerplate detection by corpus-frequent segments (the CCNet /
    * RefinedWeb dedup-at-line-granularity signal, on segment
    * granularity since this corpus has no line structure): cut each
    * document into non-overlapping `segLen`-token segments (trailing
    * partial segment dropped), count each distinct segment's document
    * frequency across the corpus, and score each document by the
    * fraction of its segment INSTANCES whose segment occurs in ≥
    * `minDf` documents. `kept` = boiler_frac ≤ maxFrac.
    *
    * Segment df counts docs, not instances (a doc repeating its own
    * segment isn't corpus boilerplate) — the (doc, seg) pre-aggregate
    * gives one row per pair, so the df aggregate counts docs directly.
    */
  def boilerplate(docs: DataFrame, idCol: String, textCol: String,
                  segLen: Int, minDf: Long, maxFrac: Double): DataFrame = {
    require(segLen >= 1, "segLen must be positive")
    // segs feeds BOTH the df aggregate and the instance-scoring join —
    // persist so the split+slice+explode doesn't re-run per consumer
    // (same shape as tfidfTopK/unigramLogProb)
    val segs = docs
      .select(col(idCol), split(col(textCol), "\\s+").as("__tk"))
      .withColumn("__n_segs",
        floor(org.apache.spark.sql.functions.size(col("__tk"))
          / lit(segLen.toDouble)).cast("long"))
      // sequence(1, 0) is DESCENDING [1, 0] in Spark, not empty — docs
      // shorter than one segment must not reach the explode (they are
      // re-attached by the left join below)
      .filter(col("__n_segs") >= 1L)
      .withColumn("seg_idx", explode(sequence(lit(1L), col("__n_segs"))))
      .select(col(idCol),
        concat_ws(" ",
          slice(col("__tk"), ((col("seg_idx") - 1) * segLen + 1).cast("int"), lit(segLen)))
          .as("seg"))
      .groupBy(col(idCol), col("seg"))
      .agg(count(lit(1)).as("n_inst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // segs is pre-aggregated to (doc, seg, instance-count): the df
    // aggregate needs one row per (doc, seg) — already distinct — and
    // the scoring join moves |doc-seg pairs| instead of instances
    // (measured 16.1 s → 500k docs shuffle 10M raw segments otherwise)
    val segDf = segs.groupBy("seg").agg(count(lit(1)).as("seg_df"))
    val perDoc = segs.join(segDf, "seg")
      .groupBy(col(idCol))
      .agg(sum(col("n_inst")).as("n_segs"),
        sum(when(col("seg_df") >= minDf, col("n_inst")).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        round(col("n_boiler").cast("double") / col("n_segs"), 6))
    // docs shorter than one segment have no evidence: frac 0, kept
    val out = docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        coalesce(col("boiler_frac"), lit(0.0)).as("boiler_frac"))
      .withColumn("kept", col("boiler_frac") <= maxFrac)
    graft.Caching.releaseAfterFirstUse(out, segs)
  }

  /** DSIR-style importance weighting (Xie et al. 2023, *Data Selection
    * for Language Models via Importance Resampling*): score every raw
    * document by how much more likely a TARGET-domain unigram LM finds
    * it than the raw-corpus LM — weight = log p_target(doc) −
    * log p_raw(doc) — then keep the top-weighted slice. Both LMs are
    * add-1 smoothed over the shared RAW vocabulary (target-unseen
    * terms draw only smoothing mass; raw covers every scored term by
    * construction), and both log-probs use the repo's fixed-point
    * micro-nat BIGINT encoding (see [[unigramLogProb]]) so the weight
    * — a difference of integer sums — replays cross-engine exactly.
    * The paper resamples ∝ exp(weight); exp() in floating point is
    * not replayable, so selection here is the deterministic top-N by
    * (weight, id) — the hard-threshold variant of the same estimator.
    *
    * Plan: one staged (doc, term, tf) aggregate feeds BOTH count
    * tables and the scoring join (persisted fan-out); vocabularies
    * and totals are vocab-sized aggregates, the totals broadcast as
    * 1-row frames; the scoring join is term-keyed over (doc, term)
    * pairs, never raw token instances. Output: (id, n_tokens,
    * weight_micro) for every input doc. */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
                        isTarget: Column): DataFrame = {
    val tf = docs
      .select(col(idCol), isTarget.as("__tgt"),
        explode(TextAnalysis.regexTokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("__tgt"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val raw = tf.groupBy("term").agg(sum(col("tf")).as("c_raw"))
    val tgt = tf.filter(col("__tgt")).groupBy("term").agg(sum(col("tf")).as("c_tgt"))
    val vocab = raw.join(tgt, Seq("term"), "left_outer")
      .select(col("term"), col("c_raw"), coalesce(col("c_tgt"), lit(0L)).as("c_tgt"))
    val totals = vocab.agg(
      sum(col("c_raw")).as("t_raw"), sum(col("c_tgt")).as("t_tgt"),
      count(lit(1)).as("v"))
    val scored = tf.join(vocab, "term")
      .crossJoin(broadcast(totals))
      .withColumn("w_micro",
        col("tf") * (
          floor(log((col("c_tgt") + 1).cast("double") / (col("t_tgt") + col("v"))) * 1e6).cast("long") -
          floor(log((col("c_raw") + 1).cast("double") / (col("t_raw") + col("v"))) * 1e6).cast("long")))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"), sum(col("w_micro")).as("weight_micro"))
    // token-free docs carry no evidence either way: weight 0
    val out = docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("weight_micro"), lit(0L)).as("weight_micro"))
    graft.Caching.releaseAfterFirstUse(out, tf)
  }

  /** The trained DSIR model in its MATERIALIZE-ONCE form: the add-1
    * smoothed target/raw unigram count table (`vocab`: term, c_raw,
    * c_tgt) plus the one-row totals (t_raw, t_tgt, v), written to
    * parquet under `path`. Production DSIR (Xie et al. 2023) trains
    * the target and raw feature distributions ONCE — target = the
    * quality reference, raw = the big crawl — and scores every
    * candidate batch against them; re-deriving both per scoring call
    * re-pays the full corpus token aggregate. The totals are derived
    * from the WRITTEN vocab artifact (one re-read), so the two tables
    * cannot drift even across a partially concurrent rebuild. */
  def stageDsirModel(docs: DataFrame, idCol: String, textCol: String,
                     isTarget: Column, path: String): Unit = {
    val tf = docs
      .select(isTarget.as("__tgt"),
        explode(TextAnalysis.regexTokens(col(textCol))).as("term"))
      .groupBy(col("__tgt"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val raw = tf.groupBy("term").agg(sum(col("tf")).as("c_raw"))
    val tgt = tf.filter(col("__tgt")).groupBy("term").agg(sum(col("tf")).as("c_tgt"))
    // vocab + totals swap live as ONE unit (graft.io.Staging), and the
    // totals are derived from the WRITTEN staged vocab — the pair can
    // neither drift nor be read torn
    graft.io.Staging.publish(docs.sparkSession, path) { tmp =>
      raw.join(tgt, Seq("term"), "left_outer")
        .select(col("term"), col("c_raw"), coalesce(col("c_tgt"), lit(0L)).as("c_tgt"))
        .write.mode("overwrite").parquet(s"$tmp/vocab")
      docs.sparkSession.read.parquet(s"$tmp/vocab")
        .agg(sum(col("c_raw")).as("t_raw"), sum(col("c_tgt")).as("t_tgt"),
          count(lit(1)).as("v"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/totals")
    }
    tf.unpersist(false)
  }

  /** Score a batch against a staged DSIR model (the output of
    * [[stageDsirModel]], re-read from parquet): identical per-term
    * arithmetic to [[importanceWeights]] — same add-1 smoothing, same
    * fixed-point micro-nats — so scoring the training corpus itself is
    * value-identical to the direct path. Terms the model never saw
    * score with count 0 under the same smoothing (the natural OOV
    * extension for unseen ingest batches; vacuous on the training
    * corpus, where every term is in vocab). Scale shape: the batch
    * pays one tokenize + one term-keyed join against the vocab
    * artifact (AQE broadcasts the smaller side) — the corpus-sized
    * double aggregate is gone from the per-batch path. */
  def importanceWeightsStaged(batch: DataFrame, idCol: String, textCol: String,
                              vocab: DataFrame, totals: DataFrame): DataFrame = {
    val tf = batch
      .select(col(idCol), explode(TextAnalysis.regexTokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val scored = tf.join(vocab, Seq("term"), "left_outer")
      .select(col(idCol), col("tf"),
        coalesce(col("c_raw"), lit(0L)).as("c_raw"),
        coalesce(col("c_tgt"), lit(0L)).as("c_tgt"))
      .crossJoin(broadcast(totals))
      .withColumn("w_micro",
        col("tf") * (
          floor(log((col("c_tgt") + 1).cast("double") / (col("t_tgt") + col("v"))) * 1e6).cast("long") -
          floor(log((col("c_raw") + 1).cast("double") / (col("t_raw") + col("v"))) * 1e6).cast("long")))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"), sum(col("w_micro")).as("weight_micro"))
    batch.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("weight_micro"), lit(0L)).as("weight_micro"))
  }

  /** Per-language unigram distribution drift between two corpus
    * snapshots — the monitor an ingest pipeline runs per batch: a
    * spike in KL(new ‖ base) on one language flags a source gone
    * rogue (spam flood, encoding break, crawler loop) before the data
    * trains anything. KL is estimated in the repo's fixed-point
    * micro-nat encoding: both LMs are add-1 smoothed over the shared
    * per-language vocabulary (union of both snapshots), each term
    * contributes c_new·(lp_new − lp_base) as integer micro-nats, and
    * the per-token figure is one integer division — so the metric
    * replays cross-engine bit-for-bit (same trick as [[importanceWeights]];
    * exact KL needs p·ln p in full precision, which no two engines
    * agree on).
    *
    * Scale shape: two token explodes → (lang, term) hash aggregates →
    * one full-outer join on the vocabulary key → a lang-sized agg.
    * Nothing corpus-sized crosses a window; the Zipf-head term keys
    * carry one row per (lang, term), not per instance. */
  def unigramDrift(base: DataFrame, newer: DataFrame,
                   textCol: String, langCol: String): DataFrame = {
    def tf(df: DataFrame, out: String) = df
      .select(col(langCol).as("lang"),
        explode(TextAnalysis.regexTokens(col(textCol))).as("term"))
      .groupBy("lang", "term").agg(count(lit(1)).as(out))
    val vocab = tf(base, "c_b").join(tf(newer, "c_n"), Seq("lang", "term"), "full_outer")
      .select(col("lang"), col("term"),
        coalesce(col("c_b"), lit(0L)).as("c_b"),
        coalesce(col("c_n"), lit(0L)).as("c_n"))
    val tot = vocab.groupBy("lang").agg(
      sum(col("c_b")).as("n_b"), sum(col("c_n")).as("n_n"),
      count(lit(1)).as("v"))
    vocab.join(tot, "lang")
      .withColumn("t_micro",
        col("c_n") * (
          floor(log((col("c_n") + 1).cast("double") / (col("n_n") + col("v"))) * 1e6).cast("long") -
          floor(log((col("c_b") + 1).cast("double") / (col("n_b") + col("v"))) * 1e6).cast("long")))
      .groupBy("lang")
      .agg(max(col("n_n")).as("n_tokens_new"), max(col("v")).as("vocab"),
        sum(col("t_micro")).as("kl_sum_micro"))
    // the per-token ratio is kl_sum_micro / n_tokens_new downstream —
    // deliberately NOT emitted as an integer division: the sum can be
    // negative (floored lps) and Spark's `div` truncates toward zero
    // while DuckDB's `//` floors, so the ratio would not replay
  }

  /** Distributed BPE merge training (Sennrich et al. 2016) — the
    * tokenizer-construction pass of a training-data pipeline. Classic
    * BPE iterates: count adjacent symbol pairs over the word-frequency
    * table, merge the most frequent pair everywhere, repeat. The Spark
    * shape: the CORPUS is touched exactly once (token explode → word
    * frequency aggregate); every iteration after that runs on the
    * vocabulary-sized word table — pair counting is one map-side
    * explode + hash agg, the argmax is a 1-row TakeOrdered collect
    * (O(numMerges) driver rows total), and the merge apply is a pure
    * per-row `replace`. Ties break on the pair string so the merge
    * sequence is deterministic and the oracle replays it with
    * unrolled CTEs (the kmeansIterSql pattern).
    *
    * Symbol encoding: each word becomes `_c1 _c2 …` — marker-prefixed
    * symbols joined by single spaces. The merge is
    * `rtrim(replace(sym ⧺ " ", "_l _r ", "_lr "))` — EXACTLY the
    * greedy left-to-right non-overlapping BPE merge: the marker pins
    * a match's start to a symbol boundary, the trailing space pins
    * its END (`_c _b` must not match inside `_c _ba`), and sequential
    * replace semantics (identical in Spark and DuckDB) resolve
    * overlaps like `a a a` → `aa a`.
    * Returns (rank, pair, cnt) — the learned merge table. */
  def bpeMerges(docs: DataFrame, idCol: String, textCol: String,
                numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Lineage truncation cadence: each round's vocab plan nests one
    // more `replace` over a CACHED parent — the data cost per round is
    // O(vocab), but Catalyst re-analyzes the whole chain each round,
    // so planning cost grows with depth and at tokenizer-scale merge
    // counts (30–50k) the O(m²) planning would dominate the O(m·vocab)
    // work. A checkpoint every 16 rounds caps plan depth at 16;
    // durability follows the default of DedupLsh.labelPropagation's
    // `reliableCheckpoints` (reliable when sc.setCheckpointDir is set —
    // the multi-hour cluster run — else executor-local, right for
    // local[*]).
    val checkpointEvery = 16
    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    val words = docs
      .select(explode(TextAnalysis.regexTokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        rtrim(regexp_replace(col("word"), "(.)", "_$1 ")).as("sym"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    // persist rotation: each round's pair-count collect materializes
    // the CURRENT vocab's cache (reading its parent's), after which
    // the grandparent releases — every round is one O(vocab) pass
    // instead of replaying all prior replaces from the base table
    // (O(numMerges²) at tokenizer-training merge counts)
    var vocab = words
    var parent: DataFrame = null
    for (i <- 1 to numMerges) {
      val arr = split(col("sym"), " ")
      val best = vocab
        .select(col("freq"), explode(zip_with(
          slice(arr, lit(1), size(arr) - 1), slice(arr, lit(2), size(arr) - 1),
          (a, b) => concat(a, lit(" "), b))).as("pair"))
        .groupBy("pair").agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1).collect()
      if (parent != null) parent.unpersist()
      parent = vocab
      require(best.nonEmpty, s"vocabulary exhausted after ${i - 1} merges")
      val pair = best(0).getString(0)
      merges += ((i, pair, best(0).getLong(1)))
      val merged = "_" + pair.replace("_", "").replace(" ", "")
      // trailing-delimited replace: the marker pins a match's START to
      // a symbol boundary, the appended space pins its END — without
      // it, pair "_c _b" falsely matches inside "_c _ba" (the right
      // symbol as a proper prefix of a longer merged symbol)
      vocab = vocab.withColumn("sym",
        rtrim(replace(concat(col("sym"), lit(" ")),
          lit(pair + " "), lit(merged + " "))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (i % checkpointEvery == 0) {
        // materializes eagerly and replaces the plan with a leaf; the
        // persist that fed the checkpoint is released HERE (the normal
        // parent rotation only sees the checkpointed frame, so the
        // pre-checkpoint cache would otherwise linger until GC)
        val persisted = vocab
        vocab = if (reliable) vocab.checkpoint() else vocab.localCheckpoint()
        persisted.unpersist()
      }
    }
    val out = merges.toSeq.toDF("rank", "pair", "cnt")
    if (parent != null) parent.unpersist()
    vocab.unpersist()
    out
  }

  /** BPE tokenizer APPLY — the encode half of [[bpeMerges]]' training
    * pass: rewrite every document as its BPE symbol sequence under a
    * learned merge list (ranked pair strings, driver-side —
    * O(numMerges), the same bounded collect as training's argmax).
    *
    * Scale shape: a word's encoding is a pure function of the word, so
    * the merge replaces run over the DISTINCT-WORD table only — the
    * tokenizer cache every production encoder keeps, vocabulary-sized,
    * not corpus-sized. The corpus pays one word-keyed join (AQE
    * broadcasts the vocab side when it fits, sort-merge otherwise) and
    * a doc-local re-assembly (collect_list + array_sort inside one
    * doc-keyed aggregate — bounded by document length, never a global
    * window). Encoding the corpus in place would replay m replaces
    * over every occurrence of every word: O(corpus·m) vs
    * O(vocab·m + corpus).
    *
    * The merge apply is the exact training rewrite (marker-prefixed
    * symbols, trailing-delimited `replace` = greedy left-to-right
    * non-overlapping), so train→encode round-trips: a word seen in
    * training encodes to the symbols training left it with. Documents
    * with no tokens keep a row (n_words = 0, bpe_text = '').
    *
    * Returns (id, n_words, n_bpe_tokens, bpe_text) where bpe_text is
    * the space-joined marker-symbol sequence. */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                merges: Seq[String]): DataFrame = {
    val toks = docs.select(col(idCol),
      posexplode(TextAnalysis.regexTokens(col(textCol))).as(Seq("pos", "word")))
    // SPREAD the distinct-word table before the merge replaces run:
    // the distinct aggregate's output is AQE-coalesced by BYTES, and a
    // vocabulary is small in bytes but O(vocab · numMerges) in CPU —
    // profiled at sf0.1 as ONE 1.7 s task computing every word's sym
    // chain while 31 cores idled (r21 verdict item 1). The repartition
    // moves vocabulary-sized rows only (never the corpus), so it is
    // scale-independent by construction: at tokenizer scale
    // (30-50k merges × vocab) the encode work grows while the
    // exchanged bytes stay vocabulary-bounded. defaultParallelism
    // adapts to the core count (the spreadForCpu convention).
    val spreadWords = toks.select("word").distinct()
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    val enc = applyMergesChunked(spreadWords, merges)
    val agg = toks.join(enc, "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(size(split(col("sym"), " ")).cast("long")).as("n_bpe_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("sym")))),
          s => s.getField("sym"))).as("bpe_text"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
        coalesce(col("bpe_text"), lit("")).as("bpe_text"))
  }

  /** How many merge `replace`s one projection carries before the plan
    * is cut by an eager barrier (see [[applyMergesChunked]]). 64 keeps
    * every generated method far under JIT limits while bounding the
    * barrier count at tokenizer scale (50k merges → ~780 vocab-sized
    * checkpoint passes, each O(vocab)). */
  private[graft] val MergeChunkSize = 64

  /** Rewrite the distinct-word table `words` (one `word` column) into
    * (word, sym) under the ordered merge list — the exact
    * marker-prefixed trailing-delimited replace of [[bpeMerges]],
    * applied in CHUNKS of [[MergeChunkSize]]: one projection per chunk
    * with an eager `localCheckpoint` between chunks. A single nested
    * expression over tokenizer-scale merge lists (30-50k) would (a)
    * blow the analyzer/optimizer cost quadratic in depth, (b) risk
    * stack overflow in recursive tree traversals, and (c) exceed
    * codegen method budgets — while ≤ [[MergeChunkSize]] merges (every
    * registered query: numMerges = 6) take the single-projection path,
    * producing the IDENTICAL expression tree as before chunking.
    * Superseded interior checkpoints are dropped as soon as the next
    * one materializes (the [[bpeMerges]] rotation); the last one backs
    * the returned frame and is released by the ContextCleaner when the
    * frame goes unreachable — vocabulary-sized blocks, never corpus. */
  private[graft] def applyMergesChunked(words: DataFrame, merges: Seq[String],
                                      chunkSize: Int = MergeChunkSize): DataFrame = {
    require(chunkSize >= 1, "chunkSize must be positive")
    def applyChunk(start: Column, chunk: Seq[String]): Column =
      chunk.foldLeft(start) { (prev, pair) =>
        val merged = "_" + pair.replace("_", "").replace(" ", "")
        rtrim(replace(concat(prev, lit(" ")), lit(pair + " "), lit(merged + " ")))
      }
    val sym0 = rtrim(regexp_replace(col("word"), "(.)", "_$1 "))
    if (merges.size <= chunkSize)
      words.select(col("word"), applyChunk(sym0, merges).as("sym"))
    else {
      val chunks = merges.grouped(chunkSize).toSeq
      var cur = words
        .select(col("word"), applyChunk(sym0, chunks.head).as("sym"))
        .localCheckpoint()
      for (chunk <- chunks.tail) {
        val prev = cur
        cur = cur
          .select(col("word"), applyChunk(col("sym"), chunk).as("sym"))
          .localCheckpoint()
        graft.Caching.dropSupersededCheckpoint(prev)
      }
      cur
    }
  }

  /** The trained BPE tokenizer in its MATERIALIZE-ONCE form: the
    * [[bpeMerges]] table (rank, pair, cnt) written to parquet — the
    * y20b/x17b/x11b train-once/serve-many split applied to the
    * tokenizer. A production pipeline trains the merge list once per
    * tokenizer version and encodes EVERY shard and EVERY ingest batch
    * with it; re-deriving the merges per encode call re-pays the full
    * corpus word-frequency aggregate plus numMerges argmax rounds.
    * The model is rank-ordered and tiny (numMerges rows — real
    * tokenizers are 30–50k, still model-sized), so serving reads it
    * back with one driver-side collect, exactly the bounded collect
    * [[bpeEncode]] already requires. */
  def stageBpeModel(docs: DataFrame, idCol: String, textCol: String,
                    path: String, numMerges: Int = 6): Unit =
    graft.io.Staging.publish(docs.sparkSession, path) { tmp =>
      bpeMerges(docs, idCol, textCol, numMerges)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }

  /** Read back a staged BPE model as the ordered merge-pair sequence
    * [[bpeEncode]] consumes. Rank order IS the model — applying merges
    * out of order encodes differently — so the read sorts explicitly
    * rather than trusting file order. Resolves the live artifact first
    * — crashed-swap heal or versioned-manifest resolve, whichever
    * protocol published it (the crash-window-availability convention
    * every staged reader follows — round-14 ADVICE). */
  def loadBpeModel(spark: org.apache.spark.sql.SparkSession, path: String): Seq[String] =
    spark.read.parquet(graft.io.Staging.resolveRead(spark, path))
      .orderBy("rank")
      .select("pair").collect().map(_.getString(0)).toSeq

  /** CCNet-style per-language perplexity bucketing (Wenzek et al.
    * 2020): split each language's documents into head / middle / tail
    * thirds by LM score. CCNet assigns buckets by comparing each doc
    * to per-language CUTOFF values, not by ranking — and that is also
    * the scalable form: a per-language `ntile(3)` window would sort a
    * whole language inside one task (the w2_sessionize_global trap),
    * while cutoffs need only (a) a (lang, ppl)-keyed HISTOGRAM
    * aggregate — map-side combinable, histogram-sized output — (b)
    * windows OVER THE HISTOGRAM to find the exact tertile boundary
    * values, and (c) one broadcast join back. The corpus-sized data
    * crosses one shuffle (the histogram agg) and never a window.
    *
    * Boundary semantics: c1 = smallest ppl with cumulative count ≥
    * ⌈n/3⌉ (3·cum ≥ n in exact integer form), c2 likewise for 2n/3;
    * bucket = ppl ≤ c1 → head, ≤ c2 → middle, else tail. Value ties
    * land in one bucket together (cutoff semantics — faithful to
    * CCNet, and partitioning-independent, unlike ntile's tie split).
    * Null ppl (no LM evidence) → tail.
    *
    * `pplCol` must be an integer column (the micro-nat convention) so
    * the cuts replay cross-engine exactly. */
  def perplexityBuckets(scored: DataFrame, langCol: String,
                        pplCol: String): DataFrame = {
    val pp = col(pplCol)
    val hist = scored.filter(pp.isNotNull)
      .groupBy(col(langCol).as("__lang"), pp.as("__ppl"))
      .agg(count(lit(1)).as("__cnt"))
    val ordered = Window.partitionBy(col("__lang")).orderBy(col("__ppl"))
    val whole = Window.partitionBy(col("__lang"))
    val cuts = hist
      .withColumn("__cum", sum(col("__cnt")).over(ordered))
      .withColumn("__n", sum(col("__cnt")).over(whole))
      .groupBy(col("__lang"))
      .agg(
        min(when(col("__cum") * 3 >= col("__n"), col("__ppl"))).as("__c1"),
        min(when(col("__cum") * 3 >= col("__n") * 2, col("__ppl"))).as("__c2"))
    scored.join(broadcast(cuts), scored(langCol) === cuts("__lang"), "left")
      .withColumn("bucket",
        when(pp.isNull, lit("tail"))
          .when(pp <= col("__c1"), lit("head"))
          .when(pp <= col("__c2"), lit("middle"))
          .otherwise(lit("tail")))
      .drop("__lang", "__c1", "__c2")
  }
}
