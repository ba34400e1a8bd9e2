package graft.llm

import graft.ops.Text
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Large-scale deduplication for a training-data pipeline.
  *
  * Exact dedup is a hash-groupBy (one shuffle on the digest).
  * Near-dup detection is MinHash + banded LSH: shingle → per-seed
  * min-hash → band keys → bucket self-join → Jaccard verify. The only
  * joins are equi-joins on band keys, so no stage is O(n²) — candidate
  * generation scales with bucket occupancy, not with |corpus|², which
  * is the property that survives 100 TB.
  *
  * Portability trick: a "hash" here is the md5 hex string and MinHash
  * takes the lexicographic minimum — md5 is identical everywhere, so
  * the DuckDB oracle can replay signatures bit-for-bit (a numeric
  * xxhash/murmur would be Spark-only).
  */
object DedupLsh {

  /** Exact dedup: keep the lowest id per content digest. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__digest", md5(col(textCol)))
      .groupBy(col("__digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("__digest")

  /** Word n-gram shingle set (distinct, SORTED) from a STAGED token
    * attribute (see Text.contentTokens scaladoc for why staging
    * matters). Sorting costs one pass at build time and is
    * value-neutral for every consumer (minhash = min, jaccard =
    * set-valued) but lets the pair-verify step run the allocation-free
    * sorted-merge [[graft.functions.SortedArrayJaccard]]. */
  def shinglesFromTokens(tk: Column, n: Int = 3): Column =
    array_sort(array_distinct(Text.ngrams(tk, n)))

  /** Convenience for tests/small inputs — hot paths stage the split. */
  def shingles(textCol: Column, n: Int = 3): Column =
    shinglesFromTokens(split(textCol, "\\s+"), n)

  /** Band keys: `numBands` groups of `rowsPerBand` MinHash minima, each
    * one bucket key `b#m1#m2…` prefixed with the band index so buckets
    * from different bands never collide; the minimum for seed s is the
    * least md5("s|" + shingle) hex digest over the shingles. The native
    * [[graft.functions.MinHashBands]] kernel (`minhashbandsq`) computes
    * them in one pass, bit-identical to the composable form
    * `concat_ws('#', 'b', array_min(transform(sh, x -> md5(concat('s|',
    * x)))), …)` that the DuckDB oracles replay. Registers the kernel in
    * the active session, so probes and sessions without
    * [[graft.plans.GraftExtensions]] resolve it too. */
  def bandKeys(sh: Column, numBands: Int, rowsPerBand: Int): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.MinHashBands.register)
    call_function("minhashbandsq", sh, lit(numBands), lit(rowsPerBand))
  }

  /** Distinct Jaccard similarity of two shingle arrays (composable
    * form — allocates two intermediate arrays per pair). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** Jaccard over SORTED distinct arrays via the native fused
    * sorted-merge expression — same values, no per-pair allocation.
    * Callers must register [[graft.functions.SortedArrayJaccard]]
    * first; [[nearDupPairs]] does. */
  def jaccardSorted(a: Column, b: Column): Column =
    call_function("jaccardq", a, b)

  /** Near-dup pairs via banded LSH + Jaccard verification.
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    *
    * PIPELINE CONTRACT — run [[exactDedup]] FIRST. Byte-identical
    * documents share identical minhash signatures, so a clone set of
    * size m lands whole in one bucket of EVERY band and the self-join
    * emits ~m²·numBands/2 candidate rows before any dedup: at web-crawl
    * clone counts (hundreds of thousands of byte-identical boilerplate
    * pages) that is 10¹⁰-row territory from a single bucket. Exact
    * dedup collapses clone sets to one representative in one
    * digest-keyed shuffle, which is both cheaper and lossless.
    *
    * `maxBucketDf` is the belt-and-braces occupancy cap for corpora
    * where that contract can't be guaranteed: band keys held by more
    * than `maxBucketDf` documents are dropped before the self-join
    * (the x18-winnow / x12-contamination df-cap rule). A bucket only
    * exceeds a generous cap when (numHashes/numBands) consecutive
    * min-hashes agree across that many documents — i.e. exact clones
    * (which [[exactDedup]] catches losslessly) or near-identical
    * boilerplate (which still collides in OTHER, un-capped bands
    * unless it is ubiquitous). The cap bounds the self-join at
    * O(buckets × maxBucketDf²) regardless of input pathology; recall
    * is traded only on what exact dedup already owns. `None` (default)
    * preserves exact parity with the uncapped oracle. */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 12,
      numBands: Int = 4,
      threshold: Double = 0.5,
      maxBucketDf: Option[Long] = None
  ): DataFrame = {
    val rowsPerBand = numHashes / numBands
    graft.functions.SortedArrayJaccard.register(df.sparkSession)
    // THIN bands end-to-end (round-7 probe, PROBES.md): the shingle
    // arrays used to ride through BOTH the band self-join exchange
    // (corpus × numBands rows) and the pair-dedup exchange; at 1M docs
    // / 9.5M pairs that plan measured 47.5 s vs 9.2 s for this one
    // (5.2×). Here the persisted (id, sh) frame stays off the wire —
    // bands explode to (id, band) only, the self-join and pair-dedup
    // move ids, and the arrays cross exactly once per side at the
    // verify join. Both frames persist MEMORY_AND_DISK (spill, not
    // OOM, at 100 TB): bands would otherwise recompute the minhash
    // signatures per join side, withSh the tokenize+shingle pass per
    // verify side. Blocks release on the caller's first
    // materialization (graft.Caching contract).
    val withSh = shingleTable(df, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandsAll = withSh
      .withColumn("band", explode(bandKeys(col("sh"), numBands, rowsPerBand)))
      .select(col("id"), col("band"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // occupancy cap (see scaladoc): the cap join hashes on the SAME
    // band key as the pair self-join below, so AQE/ShuffleExchange
    // reuse means the filter costs one aggregate, not an extra
    // corpus exchange — the winnowNearDupPairs maxDf shape.
    val bands = capBucketOccupancy(bandsAll, "band", maxBucketDf)
    val a = bands.select(col("band"), col("id").as("id_a"))
    val b = bands.select(col("band"), col("id").as("id_b"))
    // join strategy: the BAND self-join stays hinted shuffle_hash —
    // the planner underestimates the exploded banded corpus (file-size
    // × selectivity heuristics) and would BROADCAST a corpus-sized
    // side (OOM at 50k docs, fatal at real scale); the hint's build
    // side is thin (band, id) rows, small at any corpus size. The two
    // VERIFY joins carry NO hint (round-11 A/B, PROBES.md): un-hinted,
    // the static planner picks sort-merge (both sides' estimates exceed
    // the broadcast threshold: the pairs side is a join output, whose
    // estimate can only OVERshoot, and the shingle side is
    // scan-derived, which scales with the files) and AQE then converts
    // to broadcast-hash at runtime exactly when the measured shingle
    // table is genuinely small — 1.7 s vs the pinned-merge 3.1 s at
    // sf0.1, bit-identical.
    // Under pressure the conversion simply never fires and the
    // sort-merge spills and finishes: 1M docs at 3 GB/8-core AND
    // 2 GB/4-core heap complete with the identical pair checksum and
    // ~270-306 MB disk spill, matching the round-10 merge-pin numbers
    // (a pinned shuffle_hash build is quota-tracked but NOT spillable
    // and aborts there — why the pin was merge, never hash). The
    // round-10 merge pin traded 1.4 s at bench scale for that safety;
    // hint-free keeps the safety and returns the 1.4 s. One carve-out:
    // when the shingle estimate sits in the STATIC-BROADCAST danger
    // band (under the threshold on paper, far over it for real —
    // [[verifyJoinStaticRisk]]), merge is pinned back.
    // dedup (id_a, id_b) BEFORE the jaccard verify: a pair colliding in
    // k bands would otherwise pay k verifies (the verify is the hot
    // loop at scale — round-3 verdict).
    val staticRisk = verifyJoinStaticRisk(
      withSh.queryExecution.optimizedPlan.stats.sizeInBytes,
      df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold)
    def hinted(frame: DataFrame): DataFrame = if (staticRisk) frame.hint("merge") else frame
    val verified = a.join(b.hint("shuffle_hash"), Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(hinted(withSh.select(col("id").as("id_a"), col("sh").as("sh_a"))),
        Seq("id_a"))
      .join(hinted(withSh.select(col("id").as("id_b"), col("sh").as("sh_b"))),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    graft.Caching.releaseAfterFirstUse(verified, withSh, bandsAll)
  }

  /** Measured expansion of the shingle relation over its scan-derived
    * optimizer estimate: 27.4× at sf0.1 (13.9 MB cached vs 0.51 MB
    * estimated — compressed file bytes vs exploded string-array rows),
    * rounded up. */
  private[graft] val ShingleExpansion = 32L

  /** Largest shingle relation worth building as a broadcast: beyond
    * this, the driver copy + per-executor hash relation (2-3× more
    * transient during the build) threaten lean executors, and a
    * spillable sort-merge is the right plan anyway. */
  private[graft] val MaxSafeVerifyBroadcast: Long = 128L << 20

  /** The STATIC-BROADCAST danger band for the un-hinted verify joins
    * (round-11 review finding): the planner broadcasts a side whose
    * ESTIMATE is under `spark.sql.autoBroadcastJoinThreshold`, but the
    * shingle table's estimate derives from compressed file bytes while
    * the relation materializes ~[[ShingleExpansion]]× larger — an
    * estimate just under the 10 MB default can be a ~300 MB broadcast
    * build. When the estimate is under the threshold AND its projected
    * real size exceeds [[MaxSafeVerifyBroadcast]], pin merge; below
    * that band a static broadcast is genuinely small (the sf0.1 win —
    * 14 MB real), and above the threshold the static plan is already
    * sort-merge with AQE converting only on MEASURED shuffle bytes. */
  private[graft] def verifyJoinStaticRisk(estimate: BigInt, staticThreshold: Long): Boolean =
    staticThreshold > 0 && estimate <= staticThreshold &&
      estimate * ShingleExpansion > MaxSafeVerifyBroadcast

  /** Keep only rows whose `keyCols`-bucket holds ≤ cap rows — the
    * shared occupancy guard behind every banded/blocked self-join in
    * the dedup family (minhash bands, simhash blocks, embedding
    * sign-buckets; same rule as winnow's `maxDf` and x12's df cap).
    * The keep-list is bucket-vocab-sized; the shuffle_hash hint stops
    * the planner's exploded-subtree underestimate from broadcasting a
    * corpus-sized probe side, and the join hashes on the same key as
    * the downstream self-join so the exchange is reused. `None` = no
    * cap (exact parity with the uncapped oracle). */
  private[llm] def capBucketOccupancy(rows: DataFrame, keyCol: String,
                                      cap: Option[Long], moreKeys: String*): DataFrame =
    cap match {
      case None => rows
      case Some(c) =>
        require(c >= 2, s"maxBucketDf must admit at least a pair, got $c")
        val keys = (keyCol +: moreKeys).map(col)
        val ok = rows.groupBy(keys: _*).agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= c)
          .select(keys: _*)
        rows.join(ok.hint("shuffle_hash"), keyCol +: moreKeys)
    }

  /** Shared shingle staging for [[nearDupPairs]] (which explodes thin
    * bands from it) and [[bandedTable]]: the ≥shingleN-token guard runs
    * BEFORE the repartition — a post-shingle `size(sh) > 0` filter
    * would be pushed below the exchange by PushDownPredicates and drag
    * the whole shingle+hash computation onto the (few) input splits
    * (measured 20 s vs 2 s at sf0.1). The repartition spreads the
    * CPU-bound shingle/minhash maps, and is skipped when the input
    * already has ≥ parallelism splits (any real-scale corpus) —
    * split-count estimate from plan stats or a materialized cache's
    * partition count, not `df.rdd`
    * ([[graft.ops.Partitions.spreadForCpu]], round-7 verdict). */
  private def shingleTable(df: DataFrame, idCol: String, textCol: String,
                           shingleN: Int): DataFrame = {
    val guarded = df
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .filter(size(split(col("text"), "\\s+")) >= shingleN)
    graft.ops.Partitions.spreadForCpu(guarded)
      .withColumn("tk", split(col("text"), "\\s+"))
      .withColumn("sh", shinglesFromTokens(col("tk"), shingleN))
      .select(col("id"), col("sh"))
  }

  /** sh-carrying banded form, used by [[crossNearDupPairs]] only: in
    * its normal broadcast mode the corpus side never shuffles, so
    * carrying the arrays is free there (a re-join would ADD corpus
    * exchanges); the self-join path uses thin bands instead. */
  private def bandedTable(df: DataFrame, idCol: String, textCol: String,
                          shingleN: Int, numBands: Int, rowsPerBand: Int): DataFrame =
    shingleTable(df, idCol, textCol, shingleN)
      .withColumn("band", explode(bandKeys(col("sh"), numBands, rowsPerBand)))
      .select(col("id"), col("sh"), col("band"))

  /** Incremental (cross-snapshot) near-dup: candidate pairs between a
    * NEW batch and the EXISTING corpus — the production dedup mode,
    * where each ingest batch is checked against the accumulated corpus
    * instead of re-deduping everything. Same banded-LSH candidate rule
    * as [[nearDupPairs]], but the band join is two-sided, so there is
    * no self-join and no `id_a < id_b` canonicalization.
    *
    * With `broadcastNew` (the normal case — a batch is orders of
    * magnitude smaller than the corpus) the corpus bands NEVER
    * shuffle: the batch's band table broadcasts and the corpus streams
    * map-side through the join. At deployment the corpus band table is
    * the thing to materialize once and reuse per batch (it's a pure
    * function of the corpus text), rather than recompute per call.
    */
  def crossNearDupPairs(
      newDf: DataFrame,
      baseDf: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 12,
      numBands: Int = 4,
      threshold: Double = 0.5,
      broadcastNew: Boolean = true
  ): DataFrame = {
    val rowsPerBand = numHashes / numBands
    graft.functions.SortedArrayJaccard.register(newDf.sparkSession)
    val nb = bandedTable(newDf, idCol, textCol, shingleN, numBands, rowsPerBand)
      .select(col("band"), col("id").as("id_new"), col("sh").as("sh_new"))
    val bb = bandedTable(baseDf, idCol, textCol, shingleN, numBands, rowsPerBand)
      .select(col("band"), col("id").as("id_base"), col("sh").as("sh_base"))
    // merge, not shuffle_hash, on the non-broadcast fallback: this
    // path exists precisely when the batch is too large to broadcast,
    // which is also when a ShuffledHashJoin build of the sh-carrying
    // batch bands can exceed its non-spillable memory quota and abort
    // (the round-10 pressure probe's failure mode on the self-join
    // verify, PROBES.md). Sort-merge spills; both sides already
    // exchange on band here, so the sorts are the only addition.
    val joined =
      if (broadcastNew) bb.join(broadcast(nb), Seq("band"))
      else bb.join(nb.hint("merge"), Seq("band"))
    crossVerify(joined, threshold)
  }

  /** Shared verify tail of the two-sided (batch × corpus) band join:
    * verify per band-hit, dedup AFTER the jaccard filter. A
    * dedup-before-verify would hash-exchange every candidate WITH its
    * shingle arrays (dropDuplicates keeps all columns — the fat
    * exchange the self-join path eliminated with thin bands, hidden
    * at test scale by Range fixtures whose RangePartitioning elides
    * the exchange entirely). Each duplicate band hit recomputes the
    * same jaccard (≤ numBands map-side evaluations per pair, no
    * shuffle), and the dedup then exchanges only the post-threshold
    * survivors as (id_new, id_base, jaccard) — arrays never ride an
    * exchange in ANY join mode. */
  private def crossVerify(joined: DataFrame, threshold: Double): DataFrame =
    joined
      .select(col("id_new"), col("id_base"),
        jaccardSorted(col("sh_new"), col("sh_base")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .dropDuplicates("id_new", "id_base")

  /** The corpus's LSH state in its MATERIALIZE-ONCE form: one row per
    * doc carrying (id, sh, bands) — the shingle set plus the
    * `numBands` band keys, both pure functions of the corpus text.
    * This is the table a production pipeline writes to storage once
    * per corpus snapshot and reuses for every ingest batch: the 10M-doc
    * e5 composition probe (PROBES.md) measured the per-batch corpus
    * re-shingle + re-minhash as the ONLY corpus-linear per-batch term
    * in the flagship chain, and this artifact is exactly what removes
    * it. Stored unexploded (bands as one array per doc, sh stored
    * once) so the artifact is O(|corpus|) rows; the read path explodes
    * bands map-side — a narrow transform, no shuffle. The artifact
    * bakes in (shingleN, numHashes, numBands): a consumer must sweep
    * batches with the SAME parameters or band keys cannot collide, so
    * the parameters are STAMPED into the artifact as constant columns
    * (RLE-compressed to nothing in parquet) and
    * [[crossNearDupPairsStaged]] refuses a mismatch instead of
    * silently matching zero pairs. */
  def corpusBandSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 12, numBands: Int = 4): DataFrame = {
    val rowsPerBand = numHashes / numBands
    shingleTable(df, idCol, textCol, shingleN)
      .select(col("id"), col("sh"),
        bandKeys(col("sh"), numBands, rowsPerBand).as("bands"),
        lit(shingleN).as("shingle_n"), lit(numHashes).as("num_hashes"),
        lit(numBands).as("num_bands"))
  }

  /** Incremental near-dup against a PRE-MATERIALIZED corpus band table
    * (the output of [[corpusBandSignatures]], typically re-read from
    * parquet): identical semantics to [[crossNearDupPairs]], but the
    * corpus side is a scan + map-side explode instead of a full
    * re-shingle/re-minhash per batch. `shingleN`/`numHashes`/`numBands`
    * must match the values the artifact was built with (they determine
    * the batch side's band keys) — a mismatch would yield zero
    * collisions and a silent dedup no-op, so the artifact's stamped
    * parameter columns are checked here and a drift fails loudly
    * (one single-row driver read, vacuous on an empty artifact).
    * Join shape is unchanged: batch bands broadcast, corpus rows
    * stream map-side through the join with zero corpus shuffle; the
    * non-broadcast fallback is sort-merge for the same spill-safety
    * reason as [[crossNearDupPairs]]. */
  def crossNearDupPairsStaged(
      newDf: DataFrame,
      corpusSigs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 12,
      numBands: Int = 4,
      threshold: Double = 0.5,
      broadcastNew: Boolean = true
  ): DataFrame = {
    val rowsPerBand = numHashes / numBands
    corpusSigs.select("shingle_n", "num_hashes", "num_bands").limit(1)
      .collect().foreach { p =>
        require(
          p.getInt(0) == shingleN && p.getInt(1) == numHashes && p.getInt(2) == numBands,
          s"staged band artifact was built with (shingleN=${p.getInt(0)}, " +
            s"numHashes=${p.getInt(1)}, numBands=${p.getInt(2)}) but the sweep " +
            s"requested ($shingleN, $numHashes, $numBands) — band keys cannot " +
            "collide across mismatched parameters; rebuild the artifact or " +
            "match the sweep parameters")
      }
    graft.functions.SortedArrayJaccard.register(newDf.sparkSession)
    val nb = bandedTable(newDf, idCol, textCol, shingleN, numBands, rowsPerBand)
      .select(col("band"), col("id").as("id_new"), col("sh").as("sh_new"))
    val bb = corpusSigs.select(explode(col("bands")).as("band"),
      col("id").as("id_base"), col("sh").as("sh_base"))
    val joined =
      if (broadcastNew) bb.join(broadcast(nb), Seq("band"))
      else bb.join(nb.hint("merge"), Seq("band"))
    crossVerify(joined, threshold)
  }

  /** Winnow-fingerprint near-dup pairs: candidate generation by shared
    * [[graft.functions.WinnowFingerprint]] rolling-hash fingerprints —
    * the byte-level complement of token-shingle MinHash. Winnowing
    * yields ≥ ⌈(L−k−w+2)/w⌉ distinct fingerprints for a shared
    * substring of L bytes, so a pair is DETERMINISTICALLY emitted when
    * L ≥ k + w·minShared − 1 (35 bytes at the defaults; minShared=1
    * recovers the bare w+k−1 guarantee) — PROVIDED the shared
    * fingerprints stay under `maxDf`: the cap drops fingerprints of
    * phrases occurring in more than maxDf documents (they would join
    * everything to everything — the contamination sweep's occupancy
    * rule), trading recall on ubiquitous text for bounded buckets,
    * exactly the boilerplate a dedup pass should not key on anyway.
    * Banding's recall is probabilistic at every length; this is exact
    * above the threshold and zero below it.
    *
    * Scale shape: explode → fp-keyed df cap → fp-keyed self-join — the
    * cap join and the pair join hash on the SAME key, so the exchange
    * is reused; per-fp occupancy is bounded by maxDf, so no bucket
    * goes quadratic. The cap table is fingerprint-vocab-sized: the
    * shuffle_hash hint keeps the planner's exploded-subtree size
    * underestimate from broadcasting it (same trap as nearDupPairs). */
  def winnowNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 12, w: Int = 8,
                         minShared: Int = 3, maxDf: Long = 20L): DataFrame = {
    graft.functions.WinnowFingerprint.register(df.sparkSession)
    // NOT spread (r21, measured): unlike the text-HOF passes, the
    // native winnowq fingerprint build gained only ~0.1 s from a
    // spreadForCpu repartition in isolated min-of-5 runs and then
    // REGRESSED x18 1.94 -> 3.18 s in full-sweep context (every sample,
    // all 5 rotated predecessors) — the extra text exchange + its
    // sort-before-repartition pass costs more than the parallelism
    // buys on a pass this cheap per row. Reverted; the exploded fp
    // table below is what carries the real cost, and it is parallel.
    val fps = df
      .select(col(idCol).as("id"),
        explode(call_function("winnowq", col(textCol), lit(k), lit(w))).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("fp"))
    val f = fps.join(rare.hint("shuffle_hash"), Seq("fp"))
    val a = f.select(col("fp"), col("id").as("id_a"))
    val b = f.select(col("fp"), col("id").as("id_b"))
    val pairs = a.join(b.hint("shuffle_hash"), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
    // the fp table's blocks release once the caller materializes —
    // no caller-side clearCache() needed (graft.Caching contract)
    graft.Caching.releaseAfterFirstUse(pairs, fps)
  }

  /** Near-dup CLUSTER assignment from the pair list `(id_a, id_b)`:
    * one `(id, cluster)` row per id that appears in any pair, where
    * `cluster` is the least id of its connected component in the order
    * Spark's `min` uses on the id type — the canonical representative
    * a dedup pipeline keeps before dropping the other members. A NULL
    * id links no two components (no equi-join matches NULL); it takes
    * the least cluster among its non-NULL partners, or NULL without one.
    *
    * A pair list of at most [[Similarity.MaxDriverRows]] rows whose ids
    * are integral or UTF8_BINARY strings is solved on the driver: one
    * bounded collect of `MaxDriverRows + 1` rows, then a union-find
    * whose root is always the least id of its component, returned as a
    * local DataFrame. That path runs no checkpoint and no iteration, so
    * it cannot hit `maxIter`. Any other pair list runs
    * [[labelPropagation]] with `maxIter` and `reliableCheckpoints`, so
    * that durability contract applies only above the bound (where the
    * bounded collect is computed and thrown away); the loop takes
    * integral ids only and rejects any other type. */
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 10,
                      reliableCheckpoints: Option[Boolean] = None): DataFrame = {
    // the id type the loop's union of both columns resolves to
    val id = pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id"))).schema.head
    val order: Option[Ordering[Any]] = id.dataType match {
      case t if integral(t) => Some(Ordering.by((v: Any) => v.asInstanceOf[Number].longValue))
      case s: StringType if s.collationId == StringType.collationId =>
        Some(Ordering.by((v: Any) => UTF8String.fromString(v.asInstanceOf[String]))(
          (a: UTF8String, b: UTF8String) => a.binaryCompare(b)))
      case _ => None
    }
    val fits = order.flatMap { ord =>
      val rows = pairs.select(col("id_a").cast(id.dataType), col("id_b").cast(id.dataType))
        .limit(Similarity.MaxDriverRows.toInt + 1).collect()
      if (rows.length > Similarity.MaxDriverRows) None
      else Some(pairs.sparkSession.createDataFrame(
        java.util.Arrays.asList(driverComponents(rows.map(r => (r.get(0), r.get(1))), ord): _*),
        StructType(Seq(id, StructField("cluster", id.dataType, nullable = true)))))
    }
    fits.getOrElse(labelPropagation(pairs, maxIter, reliableCheckpoints))
  }

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The `(id, cluster)` rows of [[nearDupClusters]] for `edges` held
    * on the driver: union-find with path compression over vertex
    * indexes assigned in `order`, linking the larger root under the
    * smaller, so every root is its component's least id. */
  private def driverComponents(edges: Array[(Any, Any)], order: Ordering[Any]): Seq[Row] = {
    val ids = edges.flatMap { case (a, b) => Seq(a, b) }.filter(_ != null).distinct.sorted(order)
    val index = ids.zipWithIndex.toMap
    val parent = Array.range(0, ids.length)
    def find(v: Int): Int = {
      var root = v
      while (parent(root) != root) root = parent(root)
      var c = v
      while (parent(c) != root) { val next = parent(c); parent(c) = root; c = next }
      root
    }
    edges.foreach { case (a, b) =>
      if (a != null && b != null) {
        val (ra, rb) = (find(index(a)), find(index(b)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val labelled = ids.indices.map(i => Row(ids(i), ids(find(i))))
    val nullPartners = edges.collect {
      case (null, b) if b != null => find(index(b))
      case (a, null) if a != null => find(index(a))
    }
    if (!edges.exists { case (a, b) => a == null || b == null }) labelled
    else labelled :+ Row(null, if (nullPartners.isEmpty) null else ids(nullPartners.min))
  }

  /** Connected components by iterative min-label propagation
    * (Pregel-lite), repeated until Σlabel stops falling: the
    * distributed path of [[nearDupClusters]], with the same output.
    * One iteration:
    *  1. union-min: `labels ∪ (edges ⋈ labels)` grouped by id, so each
    *     id takes the least of its own label and its neighbours' in one
    *     aggregate (no separate neighbour-min and left join);
    *  2. pointer jumping, label(v) ← label(label(v)): one equi-join
    *     that halves the remaining component diameter, so convergence
    *     takes O(log d) iterations instead of O(d) — 6 instead of 1000
    *     shuffle rounds on a chained near-dup component at web scale;
    *  3. an eager checkpoint whose `Observation` yields Σlabel, so the
    *     convergence test runs no job of its own.
    * A run that reaches `maxIter` without two equal Σlabel values runs
    * one edge-consistency check and throws if any edge still joins two
    * labels — never a quietly split component.
    *
    * @param reliableCheckpoints checkpoint durability for the
    *   iterative loop. `None` = reliable `df.checkpoint()`
    *   exactly when the SparkContext has a checkpoint dir configured,
    *   else executor-local checkpoints. Local checkpoints live in
    *   executor block managers: fastest, right for `local[*]` and
    *   short jobs, but a LOST EXECUTOR on a real cluster kills the
    *   job mid-iteration (lineage is truncated, so no recompute is
    *   possible). A multi-hour 100 TB cluster run sets
    *   `sc.setCheckpointDir` (HDFS/S3) and gets durable iteration
    *   state with zero code change here; `Some(true)`/`Some(false)`
    *   force either mode. Both modes converge to identical labels
    *   (spec-asserted). */
  private[graft] def labelPropagation(pairs: DataFrame, maxIter: Int,
                                      reliableCheckpoints: Option[Boolean]): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // the Σlabel convergence test below is exact and monotone only on
    // integral labels; a string id would fail its decimal cast (or,
    // outside ANSI mode, cast to NULL and "converge" after 2 rounds)
    require(Seq("id_a", "id_b").forall(c => integral(pairs.schema(c).dataType)),
      s"labelPropagation needs integral ids, got ${pairs.select("id_a", "id_b").schema.simpleString}")
    val reliable = reliableCheckpoints.getOrElse(
      pairs.sparkSession.sparkContext.getCheckpointDir.isDefined)
    def ck(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    // checkpoint the PAIR list before mirroring it: edges is a
    // union of two selects over `pairs`, and a merely-persisted pairs
    // plan would still execute the band self-join + verify once per
    // union branch on first materialization (only the banded staging
    // below it is cached — measured 2× the whole candidate+verify
    // phase on x8/x10). Checkpointing materializes the pair list once
    // and both branches read the cached RDD. It also cuts the lineage:
    // even a pair list the caller cached and materialized carries its
    // whole candidate+verify plan, which every iteration would analyze
    // and match against the cache again (measured 0.9 s per iteration
    // on the curation benchmark's cached pairs against 0.4 s with the
    // checkpoint). EXCEPT when pairs is already a bare file scan (the
    // staged-artifact path, x8b/x15b): the parquet IS the
    // materialization — both union branches read a columnar, pruned
    // scan, and re-copying it into block storage would cost an extra
    // job at any scale for nothing.
    val alreadyMaterialized = pairs.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => true
      case _ => false
    }
    val pairsCk = if (alreadyMaterialized) pairs else ck(pairs)
    val edges = pairsCk
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairsCk.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // checkpoint, not persist: a persisted plan still NESTS the
    // previous iteration's join, so analysis/codegen time grows with
    // component diameter even though the data is cached. Checkpointing
    // cuts lineage to a LogicalRDD — every iteration's plan is O(1)
    // deep and per-iteration time stays flat (spec: 21-node chain).
    // Durability is the `reliableCheckpoints` contract above.
    // Superseded checkpoint RDDs are released by the ContextCleaner
    // once unreferenced (reliable checkpoint FILES additionally honor
    // spark.cleaner.referenceTracking.cleanCheckpoints).
    var labels = ck(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    // convergence via Σlabel: labels are component-wise non-increasing
    // (every update takes a min), so an iteration changed something iff
    // the sum strictly dropped. The sum is an Observation on the
    // iteration's eager checkpoint: it completes with the checkpoint's
    // own job, so the test costs no action. decimal(38,0) keeps the sum
    // exact where a long sum could overflow on web-scale id spaces
    // (2^40 ids × 2^30 docs > 2^63); a sum over zero rows is NULL, read
    // as 0, so an empty pair list just converges.
    //
    // no initial sum: iteration 1 strictly decreases Σlabel whenever
    // the edge list is non-empty (every labeled vertex has a neighbor,
    // and each component's non-min members take a smaller label), so
    // the first convergence compare can only fire from iteration 2 on —
    // null stands for "no previous sum yet" (empty input pays one
    // harmless extra no-op iteration)
    var prevSum: java.math.BigDecimal = null
    var lastDrop: java.math.BigDecimal = null
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val viaNbr = labels
        .unionByName(edges.join(labels, edges("dst") === labels("id"))
          .select(col("src").as("id"), col("label")))
        .groupBy(col("id"))
        .agg(min(col("label")).as("label"))
      val lbl = viaNbr.select(col("id").as("pj_id"), col("label").as("pj_label"))
      val labelSum = Observation()
      val updated = ck(viaNbr
        .join(lbl, viaNbr("label") === lbl("pj_id"), "left")
        .select(viaNbr("id"),
          least(viaNbr("label"), coalesce(col("pj_label"), viaNbr("label"))).as("label"))
        .observe(labelSum, sum(col("label").cast("decimal(38,0)")).as("s")))
      val newSum = Option(labelSum.get("s").asInstanceOf[java.math.BigDecimal])
        .getOrElse(java.math.BigDecimal.ZERO)
      // `updated`'s checkpoint is eager, so the previous labels are
      // unreferenced now — release their blocks instead of waiting on
      // the ContextCleaner (Dataset.unpersist would be a no-op on a
      // checkpointed frame; see Caching.dropSupersededCheckpoint)
      graft.Caching.dropSupersededCheckpoint(labels)
      labels = updated
      converged = prevSum != null && newSum.compareTo(prevSum) == 0
      if (prevSum != null) lastDrop = prevSum.subtract(newSum)
      prevSum = newSum
      i += 1
    }
    // the cap was hit before two equal sums: the labels may still be
    // final (the last iteration can land exactly on the fixpoint), so
    // check once that no edge joins two different labels — otherwise
    // fail rather than return split components as distinct clusters
    val split = !converged && {
      val l = labels.select(col("id").as("l_id"), col("label").as("l_label"))
      val r = labels.select(col("id").as("r_id"), col("label").as("r_label"))
      !edges
        .join(l, edges("src") === l("l_id"))
        .join(r, edges("dst") === r("r_id"))
        .filter(col("l_label") =!= col("r_label"))
        .isEmpty
    }
    edges.unpersist()
    if (split) throw new IllegalStateException(
      s"nearDupClusters did not converge: $i iterations (maxIter = $maxIter) " +
        "left edges joining different labels; the last iteration lowered " +
        s"Σlabel by ${Option(lastDrop).getOrElse("an unknown amount")}. " +
        "Raise maxIter for components of this diameter")
    labels.withColumnRenamed("label", "cluster")
  }

  /** Shared ±1 vote aggregate behind both fingerprint forms: vote j of
    * token t = high bit of hex digit j of md5(t); one row per id with
    * columns b0..b{bits-1}. Factored so the bit-string and BIGINT
    * fingerprints can never silently disagree on the vote rule. */
  private def simhashVotes(df: DataFrame, idCol: String, textCol: String, bits: Int): DataFrame = {
    require(bits <= 32, "md5 supplies 32 hex digits = 32 vote lanes")
    // spread the per-token md5 + 32-lane vote pass across cores: a
    // small corpus arrives as 1-2 scan splits and this CPU-dense
    // narrow stage otherwise runs on those tasks alone (the
    // shingleTable rule); plan-stats guard skips the shuffle whenever
    // the scan is already >= parallelism splits
    val toks = graft.ops.Partitions.spreadForCpu(
      df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), explode(split(col("__text"), "\\s+")).as("tok"))
      .withColumn("h", md5(col("tok")))
    // Stage the hex digest as PACKED INTEGER CHUNKS once per token row
    // (8 hex digits = 32 bits per chunk, parsed with conv — exact in a
    // long), so each vote lane is two integer ops on its chunk. The
    // previous shape evaluated `substring(h, j+1, 1) >= '8'` per lane —
    // 32 single-char UTF8String allocations + string compares per token
    // on the map-side hot loop of every simhash build (r21 guide §1.2
    // step 2: per-task work). Vote values are bit-identical: digit
    // d >= '8' for lowercase hex ⟺ the nibble's high bit is set, and
    // chunk c holds digits [8c, 8c+7] with digit 8c most significant,
    // so lane j reads bit 4*(7 - j%8) + 3 of chunk j/8.
    val nChunks = (bits + 7) / 8
    val chunked = toks.select(col("id") +: (0 until nChunks).map(c =>
      conv(substring(col("h"), c * 8 + 1, 8), 16, 10).cast("long").as(s"c$c")): _*)
    val votes = (0 until bits).map { j =>
      val bit = shiftright(col(s"c${j / 8}"), 4 * (7 - j % 8) + 3).bitwiseAND(lit(1L))
      sum(bit * 2 - 1).as(s"b$j")
    }
    chunked.groupBy(col("id")).agg(votes.head, votes.tail: _*)
  }

  /** SimHash fingerprint as a BIGINT (bit j set when the vote sum is
    * positive). Integer form feeds the block-partitioned hamming
    * search below. */
  def simhashLong(df: DataFrame, idCol: String, textCol: String, bits: Int = 32): DataFrame =
    simhashVotes(df, idCol, textCol, bits)
      .select(col("id"),
        (0 until bits).map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("sim"))

  /** SimHash near-dup pairs — Manku-style block-partitioned hamming
    * search: split the fingerprint into `maxHamming + 1` equal blocks;
    * by pigeonhole, any pair within the hamming radius shares at least
    * one identical block, so candidate generation is an equi-join on
    * (block_idx, block_value) with EXACT recall (no probabilistic miss,
    * unlike minhash banding). Cost ∝ block-bucket occupancy — at real
    * scale use 64-bit fingerprints with 16-bit blocks so each block
    * key space is 65k-wide.
    *
    * PIPELINE CONTRACT — run [[exactDedup]] first: byte-identical
    * clones share the whole fingerprint, hence every block, and an
    * m-clone set makes one bucket emit ~m²·blocks/2 candidates.
    * `maxBucketDf` drops (block, value) buckets held by more than that
    * many documents before the self-join (see [[nearDupPairs]]).
    * Caveat specific to simhash: recall here is pigeonhole-EXACT, so a
    * capped bucket can lose a genuine within-radius pair when its
    * other shared blocks are also over cap; `None` (default) keeps the
    * exact guarantee, a cap restores it being "exact above the
    * occupancy floor". */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          bits: Int = 32, maxHamming: Int = 3,
                          maxBucketDf: Option[Long] = None): DataFrame =
    simhashBlockJoin(simhashLong(df, idCol, textCol, bits), bits, maxHamming, maxBucketDf)

  /** The corpus SimHash state in its MATERIALIZE-ONCE form: one row
    * per doc carrying (id, sim) — the `bits`-wide fingerprint, a pure
    * function of the corpus text, 2 longs/row (the cheapest staged
    * artifact of any near-dup family). The Manku block keys are NOT
    * stored: they are a pure bit-slice of `sim`, re-derived map-side
    * at serve time, so ONE artifact serves ANY hamming radius —
    * `maxHamming` stays a sweep-time knob exactly like SemDeDup's
    * staged threshold. What staging removes per call is the
    * corpus-linear fingerprint derivation (tokenize + per-token md5 +
    * `bits` vote sums + the vote aggregation's shuffle). `bits` is
    * stamped as a constant column (RLE-compressed to nothing in
    * parquet) because it fixes the block-slice geometry;
    * [[simhashNearDupPairsStaged]] reads it back rather than trusting
    * a caller-passed value that could silently mis-slice. */
  def corpusSimhashFingerprints(df: DataFrame, idCol: String, textCol: String,
                                bits: Int = 32): DataFrame =
    simhashLong(df, idCol, textCol, bits)
      .select(col("id"), col("sim"), lit(bits).as("bits"))

  /** SimHash near-dup pairs served from a PRE-MATERIALIZED fingerprint
    * table (the output of [[corpusSimhashFingerprints]], typically
    * re-read from parquet): identical semantics to
    * [[simhashNearDupPairs]] — same Manku block join, same pigeonhole
    * recall guarantee — but the corpus side is a 2-long-per-row scan
    * plus map-side shifts instead of a full re-tokenize/re-vote per
    * call. The fingerprint width comes from the artifact's stamped
    * `bits` column (one single-row driver read, vacuous on an empty
    * artifact), so a sweep cannot mis-slice a foreign artifact.
    *
    * Pass a MATERIALIZED artifact (the parquet re-read): the stamp
    * read executes the input's plan for one row, so piping a FRESH
    * [[corpusSimhashFingerprints]] frame straight in would run the
    * corpus-linear fingerprint derivation once for the stamp and again
    * for the block join — paying twice the cost this split exists to
    * remove. For a one-shot sweep use [[simhashNearDupPairs]]. */
  def simhashNearDupPairsStaged(corpusFps: DataFrame, maxHamming: Int = 3,
                                maxBucketDf: Option[Long] = None): DataFrame = {
    // the stamp is load-bearing (it fixes the block-slice geometry), so
    // an artifact that exists but lacks it is a foreign/unstamped table
    // — raise the named mis-slice guard instead of an unresolved-column
    // AnalysisException deep in the select (round-14 ADVICE)
    require(corpusFps.columns.contains("bits"),
      "staged SimHash artifact has no 'bits' stamp column — a foreign or " +
        "unstamped fingerprint table cannot be block-sliced safely; rebuild " +
        "it with corpusSimhashFingerprints")
    val stamped = corpusFps.select("bits").limit(1).collect()
    // empty artifact: no rows to slice either way — any width is vacuous
    val bits = if (stamped.isEmpty) 32 else stamped(0).getInt(0)
    simhashBlockJoin(corpusFps.select(col("id"), col("sim")), bits, maxHamming, maxBucketDf)
  }

  /** Shared Manku block-join tail over an (id, sim) fingerprint frame
    * (fresh from [[simhashLong]] or scanned from the staged artifact). */
  private def simhashBlockJoin(fps: DataFrame, bits: Int, maxHamming: Int,
                               maxBucketDf: Option[Long]): DataFrame = {
    val blocks = maxHamming + 1
    // blocks > bits would make some block zero-width (every row keys to
    // block value 0 → a full cross product) — refuse loudly instead
    require(blocks <= bits,
      s"maxHamming + 1 = $blocks blocks need at least 1 bit each, got bits = $bits")
    // distribute the remainder so every fingerprint bit lands in exactly
    // one block (bits % blocks leading blocks are one bit wider); a
    // truncating bits/blocks width would leave the top bits out of every
    // block key and loosen the buckets
    val base = bits / blocks
    val widths = (0 until blocks).map(i => base + (if (i < bits % blocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val blk = fps
      .select(col("id"), col("sim"),
        explode(array((0 until blocks).map(i =>
          struct(lit(i).as("bi"),
            shiftright(col("sim"), offsets(i))
              .bitwiseAND(lit((1L << widths(i)) - 1)).as("bv"))): _*)).as("b"))
      .select(col("id"), col("sim"), col("b.bi").as("bi"), col("b.bv").as("bv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val capped = capBucketOccupancy(blk, "bi", maxBucketDf, "bv")
    val a = capped.select(col("bi"), col("bv"), col("id").as("id_a"), col("sim").as("sim_a"))
    val b2 = capped.select(col("bi"), col("bv"), col("id").as("id_b"), col("sim").as("sim_b"))
    // pair-dedup before the hamming verify (same shape as nearDupPairs)
    a.join(b2.hint("shuffle_hash"), Seq("bi", "bv"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash fingerprint, `bits` wide: bit j of token t is the high
    * bit of hex digit j of md5(t); the fingerprint bit is the sign of
    * the ±1 vote sum over tokens. Near-dups then cluster by fingerprint
    * (optionally with banded sub-keys for hamming tolerance). */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame =
    simhashVotes(df, idCol, textCol, bits)
      .select(col("id"),
        concat((0 until bits).map(j => when(col(s"b$j") > 0, "1").otherwise("0")): _*)
          .as("simhash"))
}
