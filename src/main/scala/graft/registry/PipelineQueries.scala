package graft.registry

import graft.Tables
import graft.llm.{BloomDedup, DedupLsh, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures.{scratch, staged}
import LlmFixtures._
import TextQueries.StopSql

/** e-family: the composed end-to-end pipelines (e4 curation manifest,
  * e5 incremental flagship); shared fixtures in [[LlmFixtures]]. */
object PipelineQueries {

  /** e6's exact-dedup stage, shared by the query and the staged-LM
    * fixture build so the LM can never be trained on a different
    * survivor set than the one it scores (the nbSeedLabel convention
    * applied to e6). */
  private def e6Kept(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("digest"))
      .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id")).as("m"),
        count(lit(1)).as("n_copies"))
      .select(col("m.doc_id").as("doc_id"), col("m.text").as("text"),
        col("n_copies"))

  /** e6's unigram LM (counts + total over the DEDUPED corpus) as a
    * staged artifact (see [[graft.llm.Corpus.stageUnigramLm]]) — the
    * CCNet LM's train-once/score-many split. */
  private def stagedE6Lm(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val path = scratch(dir, "llm/e6_unigram_lm")
    staged(s, path) {
      graft.llm.Corpus.stageUnigramLm(e6Kept(s, dir), "doc_id", "text", path)
    }
    (readStaged(s, path, "counts"), readStaged(s, path, "totals"))
  }

  val queries: Seq[Query] = Seq(
    // e4 — the multimodal curation MANIFEST, the whole engine in one
    // plan: score (lang-ID, quality, tokens) → threshold filter →
    // exact content dedup keeping the min-id canonical (one digest
    // exchange) → REAL image + audio decode branches over the
    // survivors (narrow mapPartitions each) → thin id-keyed feature
    // joins. The survivor table persists across its three consumers
    // and releases on the caller's first action (Caching contract).
    // full-replay of the e4 composition: same scoring CTEs as y5,
    // dedup keyed on md5(text) (all copies share text, so arg_min
    // carries the canonical row's scores), media features in the
    // m4/m5 closed forms keyed by the surviving ids
    Query("e4_curation_manifest",
      s"""WITH t AS (
         |  SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS ts FROM documents),
         |h AS (
         |  SELECT doc_id, text, ts, ${langHits(de)} AS hd, ${langHits(en)} AS he,
         |    ${langHits(fr)} AS hf
         |  FROM t),
         |scored AS (
         |  SELECT doc_id, text,
         |    CASE WHEN hd >= he AND hd >= hf AND hd > 0 THEN 'de'
         |         WHEN he >= hf AND he > 0 THEN 'en'
         |         WHEN hf > 0 THEN 'fr'
         |         ELSE 'und' END AS lang_pred,
         |    least(CAST(len(ts) AS DOUBLE) / 50.0, 1.0) *
         |    (1.0 - CAST(len(list_filter(ts, t -> list_contains($StopSql, t))) AS DOUBLE)
         |           / CAST(len(ts) AS DOUBLE)) AS score,
         |    CAST(len(ts) AS BIGINT) AS n_tokens
         |  FROM h),
         |filtered AS (
         |  SELECT * FROM scored
         |  WHERE lang_pred != 'und' AND score > 0.2 AND n_tokens >= 5),
         |survivors AS (
         |  SELECT min(doc_id) AS doc_id, arg_min(lang_pred, doc_id) AS lang_pred,
         |    arg_min(score, doc_id) AS score, arg_min(n_tokens, doc_id) AS n_tokens,
         |    CAST(COUNT(*) AS BIGINT) AS n_copies
         |  FROM filtered GROUP BY md5(text)),
         |media AS (
         |  SELECT doc_id,
         |    CAST(16 + doc_id % 17 AS BIGINT) AS w,
         |    CAST(16 + (3 * doc_id + 5) % 13 AS BIGINT) AS h,
         |    CAST(doc_id % 256 AS BIGINT) AS a,
         |    CAST((7 * doc_id + 13) % 256 AS BIGINT) AS b,
         |    CAST(256 + (5 * doc_id + 7) % 128 AS BIGINT) AS nf,
         |    CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sr
         |  FROM survivors)
         |SELECT s.doc_id, s.lang_pred, s.score, s.n_tokens, s.n_copies,
         |  CAST((m.h * ((m.w // 2) * m.a + (m.w - m.w // 2) * m.b) * 1000)
         |    // (m.w * m.h) AS BIGINT) AS img_mean_milli,
         |  CAST((m.nf * 1000) // m.sr AS BIGINT) AS audio_ms,
         |  '${graft.llm.Multimodal.PayloadImpl}' AS encoder_impl
         |FROM survivors s JOIN media m USING (doc_id) ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          TextAnalysis.langId(col("text")).as("lang_pred"),
          TextAnalysis.qualityScore(col("text")).as("score"),
          TextAnalysis.tokenCountWhitespace(col("text")).as("n_tokens"))
        .filter(col("lang_pred") =!= "und" && col("score") > 0.2 && col("n_tokens") >= 5L)
      val survivors = scored
        .groupBy(md5(col("text")).as("digest"))
        .agg(
          min_by(struct(col("doc_id"), col("lang_pred"), col("score"), col("n_tokens")),
            col("doc_id")).as("m"),
          count(lit(1)).as("n_copies"))
        .select(col("m.doc_id").as("doc_id"), col("m.lang_pred").as("lang_pred"),
          col("m.score").as("score"), col("m.n_tokens").as("n_tokens"), col("n_copies"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val img = Multimodal
        .decodeImageBatched(Multimodal.synthesizePngPayload(survivors, "doc_id"))
        .select(col("media_id").as("doc_id"),
          expr("px_sum * 1000 DIV (width * height)").as("img_mean_milli"))
      val aud = Multimodal
        .decodeAudioBatched(Multimodal.synthesizeWavPayload(survivors, "doc_id"))
        .select(col("media_id").as("doc_id"), col("duration_ms").as("audio_ms"))
      // encoder_impl marks the sandbox stub boundary in the manifest
      // itself (the x13 convention): the image/audio DECODERS are real
      // (javax.imageio / javax.sound), what's synthetic here is the
      // payload source — a deployment reading real crawl media swaps
      // synthesizePng/WavPayload out and this stamp with it.
      val manifest = survivors.join(img, Seq("doc_id")).join(aud, Seq("doc_id"))
        .withColumn("encoder_impl", lit(Multimodal.PayloadImpl))
        .orderBy("doc_id")
      graft.Caching.releaseAfterFirstUse(manifest, survivors)
    },
    // e5 — the INCREMENTAL flagship: the per-ingest production loop as
    // one oracle-checked query, the incremental twin of e4. A new
    // batch (1/5 of the corpus re-keyed +20000, arriving WITH its
    // embedding column from the upstream inference stage; 1/3 exact
    // dupes, 1/3 near-clones, 1/3 genuinely new) flows through:
    //  (1) bloom-prefiltered exact dedup vs the corpus digests (x16 —
    //      the history scan filters map-side, ZERO history shuffle);
    //  (2) banded near-dup sweep vs the corpus's STAGED band artifact
    //      (x14b — the batch broadcasts; the corpus side is the
    //      (id, sh, bands) parquet built once per session/snapshot, like
    //      the IVF codebook — not a per-batch re-shingle, which the
    //      10M probe measured as the chain's only corpus-linear
    //      per-batch term);
    //  (3) IVF cell routing + index APPEND for the survivors (x7b —
    //      codebook built once per session, append is O(batch), existing
    //      members untouched; e5 owns its index dir so x7b's stays
    //      pristine);
    //  (4) per-language aggregate-state fold (k15 — corpus state
    //      bootstrapped once, batch folded in associatively);
    //  (5) bucketed keep-latest upsert into the accumulated doc table
    //      (st12's batch path — corpus seeded once per session, the batch
    //      write touches O(batch buckets)), whose READ-BACK feeds the
    //      output manifest — a silently-failed stage visibly breaks it.
    // Repeated invocations (bench sweeps) are idempotent: the index
    // rebuild-on-first-call wipes stale appends, re-appending the same
    // vectors re-asserts the same cells (read distinct), and re-merging
    // the same batch is a keep-latest no-op (the st12 replay property).
    // e5 — every stage of the incremental pipeline replayed: batch
    // synthesis, digest anti-join (bloom is exact), banded near-dup
    // sweep (x14's CTEs), k-means cell routing (x7's CTEs), and the
    // per-language state fold; the upserted-table read-back equals
    // the survivor set by keep-latest idempotence.
    Query("e5_incremental_pipeline",
      s"""WITH v AS (
         |  SELECT vec_id, ${qvSql("embedding")} AS nv FROM embeddings),
         |c0 AS (SELECT vec_id AS cell_id, nv AS cv FROM v WHERE vec_id < 16),
         |${kmeansIterSql("c0", "a1", "c1")},
         |${kmeansIterSql("c1", "a2", "c2")},
         |batch0 AS (
         |  SELECT d.doc_id,
         |    CASE (d.doc_id // 5) % 3 WHEN 0 THEN d.text WHEN 1 THEN d.text || ' v2'
         |      ELSE 'fresh entry ' || CAST(d.doc_id AS VARCHAR) || ' carries wholly novel content alpha' || CAST(d.doc_id AS VARCHAR) || ' beta gamma delta' END AS text,
         |    d.lang
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
         |  WHERE d.doc_id % 5 = 0),
         |batch AS (
         |  SELECT doc_id + 20000 AS doc_id, text, lang, md5(text) AS digest FROM batch0),
         |exact_new AS (
         |  SELECT * FROM batch b
         |  WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE md5(d.text) = b.digest)),
         |nsh AS (
         |  SELECT doc_id AS id, $shSql AS sh
         |  FROM (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS tk FROM exact_new)
         |  WHERE len($shSql) > 0),
         |bsh AS (
         |  SELECT doc_id AS id, $shSql AS sh
         |  FROM (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS tk FROM documents)
         |  WHERE len($shSql) > 0),
         |nbands AS (
         |  SELECT id, sh, unnest($bands4) AS band
         |  FROM (SELECT id, sh, $minhash12 AS sig FROM nsh)),
         |bbands AS (
         |  SELECT id, sh, unnest($bands4) AS band
         |  FROM (SELECT id, sh, $minhash12 AS sig FROM bsh)),
         |ndhits AS (
         |  SELECT DISTINCT n.id FROM nbands n JOIN bbands b USING (band)
         |  WHERE CAST(len(list_intersect(n.sh, b.sh)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(n.sh, b.sh))) AS DOUBLE) >= 0.5),
         |survivors AS (
         |  SELECT doc_id, lang, digest,
         |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens
         |  FROM exact_new WHERE doc_id NOT IN (SELECT id FROM ndhits)),
         |cells AS (
         |  SELECT doc_id, cell_id FROM (
         |    SELECT sq.doc_id, c.cell_id,
         |      row_number() OVER (PARTITION BY sq.doc_id
         |        ORDER BY ${cosineSql("sq.nv", "c.cv")} DESC, c.cell_id) AS rnk
         |    FROM (SELECT s.doc_id, vv.nv FROM survivors s
         |          JOIN v vv ON vv.vec_id = s.doc_id - 20000) sq
         |    CROSS JOIN c2 c)
         |  WHERE rnk = 1),
         |state AS (
         |  SELECT lang, CAST(SUM(cnt) AS BIGINT) AS lang_docs,
         |         CAST(SUM(tok) AS BIGINT) AS lang_tokens FROM (
         |    SELECT lang, COUNT(*) AS cnt,
         |      SUM(CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT)) AS tok
         |    FROM documents GROUP BY lang
         |    UNION ALL
         |    SELECT lang, COUNT(*), SUM(n_tokens) FROM survivors GROUP BY lang)
         |  GROUP BY lang)
         |SELECT s.doc_id, s.lang, s.n_tokens, s.digest, c.cell_id,
         |       st.lang_docs, st.lang_tokens
         |FROM survivors s JOIN cells c USING (doc_id) JOIN state st USING (lang)
         |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
      val idxDir = scratch(dir, "llm/e5_ivf_index")
      val tableDir = scratch(dir, "llm/e5_doc_table")
      val docs = Tables.documents(s, dir).select("doc_id", "text", "lang")
      val emb = Tables.embeddings(s, dir)
      // batch synthesis: mutate text FIRST, re-key second (the corpusEmb
      // lateral-alias lesson); the embeddings join defines which docs
      // are "embeddable" — the batch arrives embedding-attached
      val batch0 = docs.join(emb.select("vec_id", "embedding"), col("doc_id") === col("vec_id"))
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          expr("CASE (doc_id DIV 5) % 3 WHEN 0 THEN text WHEN 1 THEN text || ' v2' " +
            "ELSE 'fresh entry ' || CAST(doc_id AS STRING) || ' carries wholly novel content alpha' " +
            "|| CAST(doc_id AS STRING) || ' beta gamma delta' END").as("text"),
          col("lang"), col("embedding"))
      val batch = batch0
        .select((col("doc_id") + 20000L).as("doc_id"), col("text"), col("lang"), col("embedding"))
        .withColumn("digest", md5(col("text")))
      // (1) exact dedup vs history — bloom prefilter, zero history shuffle
      val history = docs.select(md5(col("text")).as("digest"))
      val exactNew = BloomDedup.antiJoinBloom(batch, history, "digest",
        expectedItems = 8192L, fpp = 0.001)
      // (2) near-dup sweep vs the staged corpus band artifact —
      // broadcast batch bands, corpus side is a scan + map-side explode
      val hits = DedupLsh.crossNearDupPairsStaged(exactNew,
        stagedCorpusBands(s, dir), "doc_id", "text")
      val survivors = exactNew
        .join(hits.select(col("id_new").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
        .withColumn("n_tokens", TextAnalysis.tokenCountWhitespace(col("text")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // (3) IVF index: build-once codebook over the embedding corpus,
      // then O(batch) append of the survivors; cells read back pruned
      staged(s, idxDir)(Similarity.buildIvfIndex(emb, idxDir, numCells = 16, iters = 2))
      Similarity.appendToIvfIndex(
        survivors.select(col("doc_id").as("vec_id"), col("embedding")), idxDir)
      val cells = s.read.parquet(s"${graft.io.Staging.resolveRead(s, idxDir)}/members")
        .filter(col("vec_id") >= 20000L)
        .select(col("vec_id").as("doc_id"), col("cell_id").cast("long").as("cell_id"))
        .distinct()
      // (4) per-language aggregate state: bootstrap + associative fold
      val corpusState = graft.ops.Merge.aggState(
        docs.select(col("lang"), TextAnalysis.tokenCountWhitespace(col("text")).as("tok")),
        Seq("lang"), Seq("tok"))
      val state = graft.ops.Merge.mergeAggState(corpusState,
        survivors.select(col("lang"), col("n_tokens").as("tok")), Seq("lang"), Seq("tok"))
        .select(col("lang"), col("cnt").as("lang_docs"), col("tok").as("lang_tokens"))
      // (5) bucketed upsert into the accumulated doc table; read-back
      // (filtered to the batch id space) feeds the manifest
      staged(s, tableDir) {
        // fresh rebuild per session: keepLatest has no source precedence,
        // so table remains from an older fixture version must not
        // outrank this run's rows (within-session sweeps stay incremental)
        graft.streaming.Streams.deleteDir(s, tableDir)
        graft.streaming.Streams.upsertBucketedBatch(s, tableDir,
          docs.select(col("doc_id"), md5(col("text")).as("digest"), col("lang"),
            TextAnalysis.tokenCountWhitespace(col("text")).as("n_tokens")),
          keys = Seq("doc_id"), order = Seq("n_tokens"), nBuckets = 16)
      }
      graft.streaming.Streams.upsertBucketedBatch(s, tableDir,
        survivors.select("doc_id", "digest", "lang", "n_tokens"),
        keys = Seq("doc_id"), order = Seq("n_tokens"), nBuckets = 16)
      val tbl = s.read.parquet(tableDir)
        .filter(col("doc_id") >= 20000L)
        .select("doc_id", "digest", "lang", "n_tokens")
      val manifest = tbl
        .join(cells, Seq("doc_id"))
        .join(broadcast(state), Seq("lang"))
        .select("doc_id", "lang", "n_tokens", "digest", "cell_id", "lang_docs", "lang_tokens")
        .orderBy("doc_id")
      graft.Caching.releaseAfterFirstUse(manifest, survivors)
    },
    // e6 — CCNet-style curation (Wenzek et al. 2020): exact dedup →
    // language ID → corpus-LM perplexity (integer micro-nats/token) →
    // per-language head/middle/tail tertiles via HISTOGRAM cutoffs
    // (never a per-language ntile window — see perplexityBuckets) →
    // per-(lang, bucket) corpus summary. The canonical keep is one
    // digest exchange; the LM is one term-keyed join; the bucket
    // assign is a broadcast join. Deployment swaps the unigram proxy
    // for a KenLM scorer; every stage around it is the real pipeline.
    // e6 — full replay: dedup (arg_min canonical), the y1 langid
    // CASE, the y13 unigram micro-nat CTEs, histogram tertile cuts
    // (3·cum >= n is the exact-integer ceil(n/3) test), CASE bucket
    Query("e6_ccnet_curation",
      s"""WITH kept AS (
         |  SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text,
         |    CAST(COUNT(*) AS BIGINT) AS n_copies
         |  FROM documents GROUP BY md5(text)),
         |t AS (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS ts
         |      FROM kept),
         |lang AS (
         |  SELECT doc_id,
         |    CASE WHEN hd >= he AND hd >= hf AND hd > 0 THEN 'de'
         |         WHEN he >= hf AND he > 0 THEN 'en'
         |         WHEN hf > 0 THEN 'fr'
         |         ELSE 'und' END AS lang_pred
         |  FROM (SELECT doc_id, ${langHits(de)} AS hd, ${langHits(en)} AS he,
         |          ${langHits(fr)} AS hf FROM t)),
         |tf AS (
         |  SELECT doc_id, term, COUNT(*) AS tf FROM (
         |    SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
         |    FROM kept)
         |  GROUP BY doc_id, term),
         |cnt AS (SELECT term, SUM(tf) AS cnt FROM tf GROUP BY term),
         |tot AS (SELECT SUM(cnt) AS total FROM cnt),
         |lm AS (
         |  SELECT tf.doc_id, SUM(tf.tf) AS n_tokens,
         |    SUM(tf.tf * CAST(floor(ln(CAST(cnt.cnt AS DOUBLE) / tot.total) * 1e6)
         |      AS BIGINT)) AS lp
         |  FROM tf JOIN cnt USING (term) CROSS JOIN tot GROUP BY tf.doc_id),
         |sc AS (
         |  SELECT k.doc_id, k.n_copies, l.lang_pred,
         |    COALESCE(lm.n_tokens, 0) AS n_tokens,
         |    CASE WHEN COALESCE(lm.n_tokens, 0) > 0
         |         THEN (-lm.lp) // lm.n_tokens END AS ppl_micro
         |  FROM kept k JOIN lang l USING (doc_id) LEFT JOIN lm USING (doc_id)),
         |hist AS (SELECT lang_pred, ppl_micro, COUNT(*) AS c FROM sc
         |         WHERE ppl_micro IS NOT NULL GROUP BY lang_pred, ppl_micro),
         |cum AS (
         |  SELECT lang_pred, ppl_micro,
         |    SUM(c) OVER (PARTITION BY lang_pred ORDER BY ppl_micro) AS cum,
         |    SUM(c) OVER (PARTITION BY lang_pred) AS n
         |  FROM hist),
         |cuts AS (
         |  SELECT lang_pred,
         |    MIN(CASE WHEN cum * 3 >= n THEN ppl_micro END) AS c1,
         |    MIN(CASE WHEN cum * 3 >= 2 * n THEN ppl_micro END) AS c2
         |  FROM cum GROUP BY lang_pred),
         |b AS (
         |  SELECT sc.*,
         |    CASE WHEN ppl_micro IS NULL THEN 'tail'
         |         WHEN ppl_micro <= c1 THEN 'head'
         |         WHEN ppl_micro <= c2 THEN 'middle'
         |         ELSE 'tail' END AS bucket
         |  FROM sc LEFT JOIN cuts USING (lang_pred))
         |SELECT lang_pred, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(SUM(n_copies) AS BIGINT) AS n_copies,
         |  CAST(MIN(ppl_micro) AS BIGINT) AS min_ppl,
         |  CAST(MAX(ppl_micro) AS BIGINT) AS max_ppl
         |FROM b GROUP BY lang_pred, bucket ORDER BY lang_pred, bucket""".stripMargin) { (s, dir) =>
      val kept = e6Kept(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the LM stage serves from the STAGED model (trained once per
      // snapshot on the same survivor set — round-14 verdict item 4):
      // per call the corpus pays tokenize + one vocab join, not the
      // corpus-wide count aggregate; value-identical to the inline
      // unigramLogProb because the scored docs ARE the training set
      val (cnts, tot) = stagedE6Lm(s, dir)
      val lm = graft.llm.Corpus.unigramLogProbStaged(kept, "doc_id", "text",
        cnts, tot)
      val scored = kept
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
        .join(lm, Seq("doc_id"))
        .withColumn("ppl_micro",
          when(col("n_tokens") > 0L, expr("(-logprob_micro) div n_tokens")))
      val bucketed = graft.llm.Corpus.perplexityBuckets(
        scored, "lang_pred", "ppl_micro")
      val out = bucketed.groupBy("lang_pred", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_copies")).as("n_copies"),
          min(col("ppl_micro")).as("min_ppl"),
          max(col("ppl_micro")).as("max_ppl"))
        .orderBy("lang_pred", "bucket")
      graft.Caching.releaseAfterFirstUse(out, kept)
    }
  )
}
