package graft.registry

import graft.Tables
import graft.llm.{BloomDedup, Contamination, DedupLsh, Inference, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures.{scratch, staged}
import LlmFixtures._

/** x-family: dedup (exact, MinHash-LSH, SimHash, winnow, bloom,
  * incremental) and vector similarity (brute-force / LSH / IVF ANN,
  * SemDeDup), plus the SQL-surface dotq query; shared fixtures in
  * [[LlmFixtures]]. */
object DedupSimQueries {

  /** The persisted IVF-flat index of x7b/x7c. */
  private def ivfIndex(s: SparkSession, dir: String): String = {
    val idx = scratch(dir, "llm/ivf_index")
    staged(s, idx)(Similarity.buildIvfIndex(Tables.embeddings(s, dir), idx, numCells = 16, iters = 2))
  }

  /** The persisted plain-ADC code index of x22b/x22c. */
  private def adcIndex(s: SparkSession, dir: String): String = {
    val idx = scratch(dir, "llm/adc_index")
    staged(s, idx)(graft.llm.Pq.buildAdcIndex(Tables.embeddings(s, dir), idx))
  }

  /** The persisted IVFADC code index of x23b/x23c and the x24 gates. */
  private def pqIndex(s: SparkSession, dir: String): String = {
    val idx = scratch(dir, "llm/pq_index")
    staged(s, idx)(graft.llm.Pq.buildPqIndex(Tables.embeddings(s, dir), idx))
  }

  /** The x24 gates' recall tail: per query, how many of the exact
    * cosine top-`k` neighbours `approx` also returned, and that count
    * as an integer milli-fraction of `k` (so the metric replays
    * exactly). [[recallSql]] is its oracle. */
  private def recallAtK(emb: DataFrame, queries: DataFrame, approx: DataFrame,
                        k: Int): DataFrame = {
    val exact = Similarity.bruteForceTopK(emb, queries, k = k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    queries.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        expr(s"coalesce(hits, 0L) * 1000 div $k").as("recall_milli"))
      .orderBy("query_id")
  }

  // oracle for BOTH x12 (direct) and x12b (staged gram index): the
  // staging round-trip must be value-invisible, so one SQL serves both
  private val x12ContaminationSql: String =
    """WITH tk AS (
      |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents),
      |g AS (
      |  SELECT doc_id, UNNEST(list_distinct(
      |    CASE WHEN len(t) >= 3
      |         THEN list_transform(generate_series(1, len(t) - 2),
      |                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |         ELSE []::VARCHAR[] END)) AS g
      |  FROM tk),
      |cg AS (SELECT doc_id, g FROM g WHERE doc_id % 97 <> 0),
      |eg AS (SELECT doc_id AS eval_id, g FROM g WHERE doc_id % 97 = 0),
      |rare AS (SELECT g FROM cg GROUP BY g HAVING COUNT(*) <= 50)
      |SELECT cg.doc_id, eg.eval_id, CAST(COUNT(*) AS BIGINT) AS shared_grams
      |FROM cg JOIN rare USING (g) JOIN eg USING (g)
      |GROUP BY cg.doc_id, eg.eval_id
      |HAVING COUNT(*) >= 2
      |ORDER BY doc_id, eval_id""".stripMargin

  // shared CTE prefix for x19/x20/x21: corpus → raw tokens → k=8
  // token-window md5 hashes with 1-based start positions
  private val spanWinsCte =
    s"""corpus AS ($CorpusNearSql),
       |tok AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS tk FROM corpus),
       |wins AS (
       |  SELECT doc_id, i AS pos, md5(array_to_string(tk[i:i+7], ' ')) AS h
       |  FROM tok, unnest(generate_series(1, greatest(len(tk) - 7, 0))) AS t(i))""".stripMargin

  // gaps-and-islands over a (doc_id, pos) hit CTE: starts ≤ 8 apart
  // coalesce; emits `grp` (doc_id, pos, island id g)
  private def islandsCte(hitsCte: String) =
    s"""isl AS (SELECT doc_id, pos,
       |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
       |       THEN 0 ELSE 1 END AS brk
       |  FROM $hitsCte),
       |grp AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
       |        FROM isl)""".stripMargin

  // x19/x20 hit set: every occurrence of a duplicated window
  private val spanGrpCte =
    s"""$spanWinsCte,
       |dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2),
       |hits AS (SELECT doc_id, pos FROM wins JOIN dup USING (h)),
       |${islandsCte("hits")}""".stripMargin

  // x21 hit set: only NON-CANONICAL occurrences (keep-one-copy policy)
  private val spanRemovalGrpCte =
    s"""$spanWinsCte,
       |canon AS (
       |  SELECT h, MIN(struct_pack(d := doc_id, p := pos)) AS c
       |  FROM wins GROUP BY h HAVING COUNT(*) >= 2),
       |hits AS (SELECT w.doc_id, w.pos FROM wins w JOIN canon c USING (h)
       |         WHERE NOT (w.doc_id = c.c['d'] AND w.pos = c.c['p'])),
       |${islandsCte("hits")}""".stripMargin

  /** Oracle of [[recallAtK]]: x5's exact cosine top-`k` CTEs, joined
    * with `approxSql` (the served chain's own oracle, so a gate can
    * never measure a different pipeline than the one it names). */
  private def recallSql(approxSql: String, k: Int): String =
    s"""WITH c AS (SELECT vec_id AS neighbor_id, ${qvSql("embedding")} AS nv FROM embeddings),
       |q AS (SELECT vec_id AS query_id, ${qvSql("embedding")} AS qv FROM embeddings WHERE vec_id < 5),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${cosineSql("qv", "nv")} AS cosine
       |  FROM c, q WHERE neighbor_id != query_id),
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM scored)
       |  WHERE rank <= $k),
       |hits AS (
       |  SELECT e.query_id, COUNT(*) AS hits
       |  FROM exact e JOIN ($approxSql) a
       |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |  GROUP BY e.query_id)
       |SELECT q.query_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       |  CAST(COALESCE(h.hits, 0) * 1000 // $k AS BIGINT) AS recall_milli
       |FROM q LEFT JOIN hits h USING (query_id)
       |ORDER BY q.query_id""".stripMargin

  // shared by x10/x10b: the staged-pair apply twin must be
  // value-invisible, so both replay one oracle text.
  private lazy val x10ApplySql =
    s"""WITH RECURSIVE np AS ($x2Core),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM np
       |  UNION SELECT id_b, id_a FROM np),
       |reach AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
       |clusters AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
       |allc AS ($CorpusNearSql)
       |SELECT doc_id, md5(text) AS digest FROM allc
       |WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id != cluster)
       |ORDER BY doc_id""".stripMargin

  // shared by x11/x11b: the staged fingerprint twin must be
  // value-invisible, so both replay one oracle text. lazy for the same
  // map-literal initialization-order reason as x14IncrementalSql.
  private lazy val x11SimhashSql =
    s"""WITH corpus AS ($CorpusNearSql),
       |fp AS (
       |  SELECT id, CAST($sim32 AS BIGINT) AS sim FROM (
       |    SELECT id, $simhash32Bits
       |    FROM (SELECT doc_id AS id, unnest(regexp_split_to_array(text, '\\s+')) AS tok
       |          FROM corpus) t
       |    GROUP BY id)),
       |blk AS (
       |  SELECT id, sim, g.bi, (sim >> (g.bi * 16)) & 65535 AS bv
       |  FROM fp CROSS JOIN generate_series(0, 1) AS g(bi)),
       |pairs AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |    CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
       |  FROM blk a JOIN blk b ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id)
       |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 1
       |ORDER BY id_a, id_b""".stripMargin

  // shared by x27/x27b: the staged sign-bucket twin must be
  // value-invisible, so both replay one oracle text. lazy for the same
  // map-literal initialization-order reason as x14IncrementalSql.
  private lazy val x27IncrementalSql =
        s"""WITH batch AS ($EmbBatchSql),
           |bq AS (SELECT vec_id, ${qvSql("embedding")} AS nv FROM batch),
           |cq AS (SELECT vec_id, ${qvSql("embedding")} AS nv FROM embeddings),
           |bb AS (
           |  SELECT vec_id, nv, unnest([
           |    '0#' || ${bucketSql("nv", "plane0~")},
           |    '1#' || ${bucketSql("nv", "plane1~")}]) AS bucket
           |  FROM bq),
           |cb AS (
           |  SELECT vec_id, nv, unnest([
           |    '0#' || ${bucketSql("nv", "plane0~")},
           |    '1#' || ${bucketSql("nv", "plane1~")}]) AS bucket
           |  FROM cq),
           |pairs AS (
           |  SELECT DISTINCT b.vec_id AS id_new, c.vec_id AS id_base,
           |    ${cosineSql("b.nv", "c.nv")} AS cosine
           |  FROM bb b JOIN cb c USING (bucket))
           |SELECT id_new, id_base, cosine FROM pairs WHERE cosine >= 0.99
           |ORDER BY id_new, id_base""".stripMargin

  // shared by x14/x14b: the staged-band twin must be value-invisible,
  // so both replay one oracle text. lazy: referenced from the map
  // literal above, which the object initializer builds first.
  private lazy val x14IncrementalSql =
        s"""WITH newsrc AS (
           |  SELECT doc_id + 20000 AS doc_id,
           |    array_to_string((regexp_split_to_array(text, ' '))[1:len(regexp_split_to_array(text, ' ')) - 1], ' ') AS text
           |  FROM documents WHERE doc_id % 10 = 0),
           |nsh AS (
           |  SELECT doc_id AS id, $shSql AS sh
           |  FROM (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS tk FROM newsrc)
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
           |pairs AS (
           |  SELECT DISTINCT n.id AS id_new, b.id AS id_base,
           |    CAST(len(list_intersect(n.sh, b.sh)) AS DOUBLE) /
           |    CAST(len(list_distinct(list_concat(n.sh, b.sh))) AS DOUBLE) AS jaccard
           |  FROM nbands n JOIN bbands b USING (band))
           |SELECT id_new, id_base, jaccard FROM pairs WHERE jaccard >= 0.5
           |ORDER BY id_new, id_base""".stripMargin

  // last in the object: the oracles interpolate the SQL fragments above
  val queries: Seq[Query] = Seq(
    Query("x1_exact_dedup",
      s"""SELECT min(doc_id) AS doc_id, COUNT(*) AS n_copies
         |FROM ($CorpusExactSql) GROUP BY md5(text) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      DedupLsh.exactDedup(corpusExact(s, dir), "doc_id", "text").orderBy("doc_id")
    },
    Query("x2_minhash_neardup", s"$x2Core\nORDER BY id_a, id_b") { (s, dir) =>
      DedupLsh.nearDupPairs(corpusNear(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 12, numBands = 4, threshold = 0.5)
        .orderBy("id_a", "id_b")
    },
    // x2b — the occupancy-capped twin of x2, so the cap's SEMANTICS
    // (drop bands whose bucket exceeds maxBucketDf BEFORE the
    // self-join) are oracle-pinned, not just spec-asserted. cap=3
    // genuinely binds on this corpus (sf0.01: 79 buckets at df 4-6;
    // sf0.1: 781 at df 4-8 — a measured band-bucket census, recorded
    // only here), so a
    // cap implementation that silently stopped filtering would
    // hash-mismatch. The oracle replays it as HAVING count(*) <= 3 on
    // the band CTE.
    Query("x2b_minhash_capped", s"${x2CoreSql(Some(3L))}\nORDER BY id_a, id_b") { (s, dir) =>
      DedupLsh.nearDupPairs(corpusNear(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 12, numBands = 4, threshold = 0.5,
        maxBucketDf = Some(3L))
        .orderBy("id_a", "id_b")
    },
    Query("x8_dedup_clusters", x8ClustersSql) { (s, dir) =>
      DedupLsh
        .nearDupClusters(
          DedupLsh.nearDupPairs(corpusNear(s, dir), "doc_id", "text",
            shingleN = 3, numHashes = 12, numBands = 4, threshold = 0.5))
        .orderBy("id")
    },
    // x8b — x8 against the STAGED pair artifact (see
    // stagedNearDupPairs): the cluster step reads the materialized
    // pair list, never the raw text. Same oracle as x8 — the staging
    // round-trip must be value-invisible.
    Query("x8b_clusters_staged", x8ClustersSql) { (s, dir) =>
      DedupLsh.nearDupClusters(stagedNearDupPairs(s, dir)).orderBy("id")
    },
    Query("x10_dedup_apply", x10ApplySql) { (s, dir) =>
      // end-to-end dedup application: pairs → connected components →
      // drop non-canonical members (label ≠ id) via left_anti — the
      // corpus a training pipeline actually keeps. Anti-join shuffles
      // on doc_id only (drop-list is cluster members, not the corpus).
      val corpus = corpusNear(s, dir)
      val clusters = DedupLsh.nearDupClusters(
        DedupLsh.nearDupPairs(corpus, "doc_id", "text",
          shingleN = 3, numHashes = 12, numBands = 4, threshold = 0.5))
      val drop = clusters.filter(col("id") =!= col("cluster"))
        .select(col("id").as("doc_id"))
      // digest BEFORE the anti-join: the join only filters rows, so
      // hashing the few dropped members too is free while the join
      // exchange then carries (doc_id, 32-char digest) instead of the
      // full text — shuffle metadata, not payloads (r22; at 100 TB the
      // text column IS the corpus)
      corpus.select(col("doc_id"), md5(col("text")).as("digest"))
        .join(drop, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    },
    // x10b -- x10 against the STAGED pair artifact (the x8b split
    // applied to the apply half): connected components + the anti-join
    // run over the verified-pair table read from parquet instead of
    // re-shingling + re-minhashing + re-verifying the corpus per apply
    // call. Same oracle as x10: staging must be value-invisible.
    Query("x10b_dedup_apply_staged", x10ApplySql) { (s, dir) =>
      val corpus = corpusNear(s, dir)
      val clusters = DedupLsh.nearDupClusters(stagedNearDupPairs(s, dir))
      val drop = clusters.filter(col("id") =!= col("cluster"))
        .select(col("id").as("doc_id"))
      // digest before the anti-join — see x10
      corpus.select(col("doc_id"), md5(col("text")).as("digest"))
        .join(drop, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    },
    Query("x3_simhash",
      s"""SELECT id AS doc_id, $simhashConcat AS simhash
         |FROM (
         |  SELECT id, $simhashBits
         |  FROM (
         |    SELECT doc_id AS id, unnest(regexp_split_to_array(text, '\\s+')) AS tok
         |    FROM documents) t
         |  GROUP BY id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      DedupLsh.simhash(Tables.documents(s, dir), "doc_id", "text", bits = 16)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    // maxHamming=1 → two 16-bit blocks: the documented at-scale config.
    // At radius 3 (8-bit blocks, 256 bucket values) this fixture's
    // template-heavy text collapses to 6.4k distinct 32-bit
    // fingerprints and the TRUE hamming<=3 pair set is 1.6M rows at
    // sf0.1 (163 pairs/doc) — the radius, not the search, is what
    // stops discriminating; specs keep radius-3 coverage on small
    // fixtures where it is meaningful.
    Query("x11_simhash_neardup", x11SimhashSql) { (s, dir) =>
      DedupLsh.simhashNearDupPairs(corpusNear(s, dir), "doc_id", "text",
        bits = 32, maxHamming = 1)
        .orderBy("id_a", "id_b")
    },
    // x11b — x11 against the STAGED fingerprint table: the sweep scans
    // the (id, sim) parquet artifact and re-derives the Manku block
    // keys map-side (a pure bit-slice of sim) instead of re-tokenizing
    // + re-md5-voting the corpus per call — the per-call corpus-linear
    // term. One artifact serves ANY radius (maxHamming stays a
    // sweep-time knob, like x17b's threshold). Same oracle as x11:
    // staging must be value-invisible.
    Query("x11b_simhash_staged", x11SimhashSql) { (s, dir) =>
      DedupLsh.simhashNearDupPairsStaged(stagedSimhashFps(s, dir), maxHamming = 1)
        .orderBy("id_a", "id_b")
    },
    Query("x4_ngram_jaccard",
      s"""WITH sh AS (
         |  SELECT doc_id AS id, $shSql AS sh
         |  FROM (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS tk FROM documents)
         |  WHERE len($shSql) > 0
         |), sig AS (
         |  SELECT id, sh, $minhash8 AS sig FROM sh
         |), bands AS (
         |  SELECT id, sh, unnest($bands4x2) AS band FROM sig
         |), pairs AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.id < b.id)
         |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.05
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      // n-gram Jaccard with banded-LSH candidate generation: 4 bands ×
      // 2 rows, exact Jaccard verify at a low 0.05 threshold. Bucket
      // occupancy is bounded by minhash-agreement, not by corpus share —
      // the earlier (lang, len_bucket) bucket self-join held a constant
      // fraction of the corpus in one bucket and went O(bucket²) at
      // scale. Recall bound (documented tradeoff): a pair with true
      // Jaccard s is a candidate with P = 1-(1-s²)⁴.
      DedupLsh.nearDupPairs(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 8, numBands = 4, threshold = 0.05)
        .orderBy("id_a", "id_b")
    },
    Query("x5_cosine_topk",
      s"""WITH c AS (SELECT vec_id AS neighbor_id, ${qvSql("embedding")} AS nv FROM embeddings),
         |q AS (SELECT vec_id AS query_id, ${qvSql("embedding")} AS qv FROM embeddings WHERE vec_id < 5),
         |scored AS (
         |  SELECT query_id, neighbor_id, ${cosineSql("qv", "nv")} AS cosine
         |  FROM c, q WHERE neighbor_id != query_id)
         |SELECT query_id, rank, neighbor_id, cosine FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
        .orderBy("query_id", "rank")
    },
    Query("x6_ann_lsh",
      s"""WITH c AS (
         |  SELECT vec_id AS neighbor_id, nv,
         |         ${bucketSql("nv", "plane0~")} AS bucket0,
         |         ${bucketSql("nv", "plane1~")} AS bucket1
         |  FROM (SELECT vec_id, ${qvSql("embedding")} AS nv FROM embeddings)),
         |q AS (
         |  SELECT vec_id AS query_id, qv,
         |         ${bucketSql("qv", "plane0~")} AS bucket0,
         |         ${bucketSql("qv", "plane1~")} AS bucket1
         |  FROM (SELECT vec_id, ${qvSql("embedding")} AS qv FROM embeddings WHERE vec_id < 5)),
         |cand AS (
         |  SELECT query_id, neighbor_id, qv, nv
         |  FROM c JOIN q ON c.bucket0 = q.bucket0 WHERE neighbor_id != query_id
         |  UNION
         |  SELECT query_id, neighbor_id, qv, nv
         |  FROM c JOIN q ON c.bucket1 = q.bucket1 WHERE neighbor_id != query_id),
         |scored AS (
         |  SELECT query_id, neighbor_id, ${cosineSql("qv", "nv")} AS cosine FROM cand)
         |SELECT query_id, rank, neighbor_id, cosine FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      // 4 planes ⇒ 16 buckets: coarse enough for real recall on a
      // 500-vector corpus (8 planes left most buckets near-empty)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), k = 3, numPlanes = 4)
        .orderBy("query_id", "rank")
    },
    Query("x7_ann_ivf", X7IvfSql) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      // real IVF: 2-iteration deterministic k-means codebook (fixed
      // init = ids < 16), then the probe path against trained cells
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 3,
        numCells = 16, nProbe = 2,
        centroids = Some(Similarity.kmeansCodebook(emb, numCells = 16, iters = 2)))
        .orderBy("query_id", "rank")
    },
    // x7b — the same ANN search against a PERSISTED index: build
    // writes codebook + cell-partitioned member tables to parquet,
    // query reads them back with partition pruning on the probed
    // cells. Same oracle as x7 — the index round-trip must be
    // value-invisible.
    // identical semantics through the persisted-index round-trip
    Query("x7b_ann_ivf_prebuilt", X7IvfSql) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      // Build-once-query-many is the operator's whole point: repeated
      // invocations (bench sweeps, interactive reuse) time the
      // partition-pruned QUERY path, not a fresh training run — a
      // production deployment builds the index in an ingest job and
      // queries it for weeks.
      val idx = ivfIndex(s, dir)
      Similarity.ivfTopKPrebuilt(s, idx, emb.filter(col("vec_id") < 5), k = 3, nProbe = 2)
        .orderBy("query_id", "rank")
    },
    // x7c — the occupancy-ADAPTIVE probe policy on the flat-member IVF
    // index (the x24c rule applied to x7b): each query keeps probing
    // next-nearest cells until the kept cells hold >= 64 members, so
    // probe depth follows actual occupancy instead of a fixed nProbe.
    // Occupancy derives from the member table itself (stays correct
    // under appendToIvfIndex). Same build-once index as x7b.
    // the adaptive probe rule replayed over the same trained members
    Query("x7c_ann_ivf_adaptive", X7cAdaptiveSql) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val idx = ivfIndex(s, dir)
      Similarity.ivfTopKPrebuilt(s, idx, emb.filter(col("vec_id") < 5), k = 3,
          minCandidates = Some(64L))
        .orderBy("query_id", "rank")
    },
    Query("x9_embed_neardup",
      s"""WITH corpus AS ($CorpusEmbSql),
         |v AS (SELECT vec_id, ${qvSql("embedding")} AS nv FROM corpus),
         |b AS (
         |  SELECT vec_id, nv, unnest([
         |    '0#' || ${bucketSql("nv", "plane0~")},
         |    '1#' || ${bucketSql("nv", "plane1~")}]) AS bucket
         |  FROM v),
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b,
         |    ${cosineSql("a.nv", "b2.nv")} AS cosine
         |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
         |SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.99
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      // vector-space dedup: LSH-bucketed candidates (4 planes × 2
      // tables here for test-corpus recall; production raises numPlanes
      // so 2^p buckets keep per-bucket quadratic cost bounded), exact
      // cosine verify at 0.99 over the perturbed-clone corpus
      Similarity.embeddingNearDupPairs(corpusEmb(s, dir), threshold = 0.99)
        .orderBy("id_a", "id_b")
    },
    // x17 — SemDeDup semantic dedup: k-means cells (the trained x7
    // codebook machinery) bound the pairwise comparison, cosine ≥ 0.99
    // drops the higher id of each similar cell-mate pair — keeps one
    // representative per semantic group without any LSH recall gamble
    Query("x17_semantic_dedup", X17SemanticSql) { (s, dir) =>
      Similarity.semanticDedup(corpusEmb(s, dir), numCells = Some(16), iters = 2,
        threshold = 0.99)
        .orderBy("vec_id")
    },
    // x17b — the same SemDeDup against a STAGED cell-assignment
    // artifact: k-means training + assignment run once per corpus
    // snapshot (build-once memo, the x7b contract), the per-call work
    // is only the cell self-join + cosine verify. Same oracle as x17 —
    // the stage/serve round-trip must be value-invisible. threshold
    // stays a serve-time knob (SemDeDup's paper sweeps it), which is
    // exactly why the split pays: many thresholds, one training run.
    Query("x17b_semantic_dedup_staged", X17SemanticSql) { (s, dir) =>
      val path = scratch(dir, "llm/semantic_cells")
      staged(s, path) {
        Similarity.stageSemanticCells(corpusEmb(s, dir), path,
          numCells = Some(16), iters = 2)
      }
      Similarity.semanticDedupStaged(s, path, threshold = 0.99).orderBy("vec_id")
    },
    // x12 — benchmark-contamination sweep: docs with doc_id % 97 == 0
    // stand in for the eval/benchmark set; every other doc sharing >= 2
    // rare (corpus-df <= 50) trigrams with an eval doc is flagged. The
    // clone families in the fixture guarantee real hits.
    Query("x12_contamination", x12ContaminationSql) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Contamination.overlapPairs(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("eval_id"), col("text")),
        "doc_id", "text", "eval_id",
        n = 3, minShared = 2, maxDf = 50L)
        .orderBy("doc_id", "eval_id")
    },
    // x12b — x12 against the STAGED corpus gram index: the sweep scans
    // the (g, df, doc_id) postings — bucket-pruned by the eval grams'
    // hashes, df cap pushed to the parquet scan — instead of the corpus
    // text. 1M probe measured per-screen wall PARITY with direct (the
    // corpus term here is cheap: no hashing); what staging buys is
    // screening without retaining raw text and once-per-snapshot df
    // (see Contamination scaladoc). Same oracle as x12: staging must
    // be value-invisible.
    // the staged gram-index round-trip must be value-invisible
    Query("x12b_contamination_staged", x12ContaminationSql) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Contamination.overlapPairsStaged(s, stagedCorpusGrams(s, dir),
        docs.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("eval_id"), col("text")),
        "eval_id", "text", n = 3, minShared = 2, maxDf = 50L)
        .orderBy("doc_id", "eval_id")
    },
    // x13 — batched embedding inference: the REAL feature-hashing
    // n-gram projection (uni+bigrams → 64 signed buckets → fixed-point
    // L2 normalize) through the typed mapPartitions batch plumbing;
    // the oracle recomputes the whole projection from the text
    // full replay of the feature-hashing projection: tokenize →
    // uni+bigrams → md5 bucket/sign → signed bucket sums →
    // fixed-point L2 normalize — the encoder is real enough that an
    // independent engine can recompute every component from text
    Query("x13_embed_inference",
      ("""WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS tk FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_concat(tk,
        |    list_transform(generate_series(1, greatest(len(tk) - 1, 0)),
        |      i -> tk[i] || ' ' || tk[i + 1]))) AS gram
        |  FROM t),
        |hb AS (
        |  SELECT doc_id,
        |    ((strpos('0123456789abcdef', md5(gram)[1]) - 1) * 16
        |      + strpos('0123456789abcdef', md5(gram)[2]) - 1) % 64 AS bucket,
        |    CASE WHEN strpos('0123456789abcdef', md5(gram)[3]) - 1 >= 8
        |         THEN 1 ELSE -1 END AS sgn
        |  FROM g),
        |bs AS (
        |  SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS val
        |  FROM hb GROUP BY doc_id, bucket),
        |filled AS (
        |  SELECT t.doc_id, j.j, coalesce(bs.val, 0) AS val
        |  FROM t CROSS JOIN generate_series(0, 63) AS j(j)
        |  LEFT JOIN bs ON bs.doc_id = t.doc_id AND bs.bucket = j.j),
        |ss AS (SELECT doc_id, SUM(val * val) AS ss FROM filled GROUP BY doc_id),
        |vec AS (
        |  SELECT f.doc_id,
        |    list(CASE WHEN s.ss = 0 THEN CAST(0 AS BIGINT)
        |         ELSE CAST(floor(f.val * 1000000 / sqrt(CAST(s.ss AS DOUBLE))) AS BIGINT)
        |         END ORDER BY f.j) AS embedding
        |  FROM filled f JOIN ss s USING (doc_id) GROUP BY f.doc_id)
        |SELECT doc_id, CAST(64 AS BIGINT) AS n_dim,
        |  embedding[1] AS comp0,
        |  CAST(list_aggregate(list_transform(embedding, x -> abs(x)), 'sum') AS BIGINT)
        |    AS l1_norm,
        |  '""".stripMargin + Inference.EncoderImpl + """' AS encoder_impl
        |FROM vec ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      // encoder_impl stamps the STUB BOUNDARY into the data itself: the
      // sandbox has no ML runtime, so the "model" is deterministic md5
      // feature hashing (Inference.featureHashVector). A deployment that
      // swaps in a real encoder changes this value, making the swap
      // observable in every downstream consumer — not just in scaladoc.
      Inference.encodeBatched(Tables.documents(s, dir), "doc_id", "text",
        dim = 64, batchSize = 64)
        .select(col("doc_id"),
          size(col("embedding")).cast("long").as("n_dim"),
          element_at(col("embedding"), 1).as("comp0"),
          aggregate(col("embedding"), lit(0L), (a, x) => a + abs(x)).as("l1_norm"),
          lit(Inference.EncoderImpl).as("encoder_impl"))
        .orderBy("doc_id")
    },
    // x14 — incremental dedup: each ingest batch (every 10th doc,
    // last-word-dropped, re-keyed) checked against the EXISTING corpus
    // via a two-sided band join — the batch side broadcasts, so the
    // corpus bands never shuffle
    Query("x14_incremental_neardup", x14IncrementalSql) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val toks = split(col("text"), " ")
      val newBatch = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 20000L).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1), size(toks) - 1)).as("text"))
      DedupLsh.crossNearDupPairs(newBatch, docs, "doc_id", "text")
        .orderBy("id_new", "id_base")
    },
    // x14b — x14 against the STAGED corpus band table: the batch sweep
    // reads the (id, sh, bands) parquet artifact and explodes bands
    // map-side instead of re-shingling + re-minhashing the corpus per
    // batch — the corpus-linear per-batch term the 10M e5 probe
    // measured, removed. Same oracle as x14: staging must be
    // value-invisible.
    Query("x14b_incremental_staged_bands", x14IncrementalSql) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val toks = split(col("text"), " ")
      val newBatch = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 20000L).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1), size(toks) - 1)).as("text"))
      DedupLsh.crossNearDupPairsStaged(newBatch, stagedCorpusBands(s, dir),
        "doc_id", "text")
        .orderBy("id_new", "id_base")
    },
    // x27 — incremental SEMANTIC near-dup: each embedding ingest batch
    // (every 10th vector, deterministically perturbed, re-keyed
    // +20000) checked against the existing corpus via the two-sided
    // sign-bucket join — the embedding-family member of the
    // incremental-dedup row (x14 MinHash / x16 bloom / x25 span). The
    // batch's buckets broadcast; the corpus never shuffles.
    Query("x27_semantic_incremental", x27IncrementalSql) { (s, dir) =>
      Similarity.crossEmbeddingNearDupPairs(
        syntheticEmbBatch(s, dir), Tables.embeddings(s, dir), threshold = 0.99)
        .orderBy("id_new", "id_base")
    },
    // x27b — x27 against the STAGED corpus sign-bucket table: the
    // batch sweep reads the (vec_id, nv, buckets) parquet artifact and
    // explodes buckets map-side instead of re-quantizing +
    // re-projecting the corpus per batch — x14b's artifact split
    // applied to the embedding family. Same oracle as x27: staging
    // must be value-invisible.
    Query("x27b_semantic_incremental_staged", x27IncrementalSql) { (s, dir) =>
      Similarity.crossEmbeddingNearDupPairsStaged(
        syntheticEmbBatch(s, dir), stagedCorpusEmbBuckets(s, dir), threshold = 0.99)
        .orderBy("id_new", "id_base")
    },
    // x28 — NFC-before-hash, proven end-to-end on the exact-dedup
    // consumer (the motivation in NfcNormalize's scaladoc): each doc
    // contributes TWO byte-distinct variants of the same logical text
    // — one prefixed with pre-composed é (U+00E9), one with decomposed
    // e + U+0301 — and they collapse to ONE digest group (n_copies=2)
    // only because nfcq runs before md5. A Spark side that skipped the
    // normalize would emit twice the rows with n_copies=1 and
    // hash-mismatch the oracle, which replays the normalize via
    // DuckDB's utf8proc nfc_normalize.
    // chr(233) = pre-composed é, 'e' || chr(769) = decomposed e +
    // combining acute — byte-distinct variants of the same logical
    // text that collapse to one digest only after nfc_normalize.
    Query("x28_nfc_exact_dedup",
      """WITH base AS (SELECT doc_id, substr(text, 1, 60) AS t FROM documents),
        |dirty AS (
        |  SELECT doc_id * 2 AS doc_id, chr(233) || t AS text FROM base
        |  UNION ALL
        |  SELECT doc_id * 2 + 1 AS doc_id, 'e' || chr(769) || t AS text FROM base),
        |norm AS (SELECT doc_id, nfc_normalize(text) AS text FROM dirty)
        |SELECT min(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM norm GROUP BY md5(text) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.functions.NfcNormalize.register(s)
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 60).as("t"))
      val composed = base.select((col("doc_id") * 2).as("doc_id"),
        concat(lit("\u00e9"), col("t")).as("text"))
      val decomposed = base.select((col("doc_id") * 2 + 1).as("doc_id"),
        concat(lit("e\u0301"), col("t")).as("text"))
      val corpus = composed.unionByName(decomposed)
        .select(col("doc_id"), call_function("nfcq", col("text")).as("text"))
      DedupLsh.exactDedup(corpus, "doc_id", "text").orderBy("doc_id")
    },
    // x15 — canonical-representative selection by QUALITY: real
    // curation keeps each near-dup cluster's best-quality member, not
    // its min-id. Composition: pairs → connected components → join the
    // quality score → per-cluster (score desc, id asc) pick. The only
    // window is per-cluster (bounded by cluster size).
    Query("x15_canonical_quality", x15CanonicalSql) { (s, dir) =>
      val docs = corpusNear(s, dir)
      canonicalByQuality(docs, DedupLsh.nearDupClusters(
        DedupLsh.nearDupPairs(docs, "doc_id", "text")))
    },
    // x15b — x15 against the STAGED pair artifact: clusters + canonical
    // pick read `neardup_pairs` parquet instead of re-deriving pairs
    // from raw text. Same oracle as x15 — staging must be
    // value-invisible.
    Query("x15b_canonical_staged", x15CanonicalSql) { (s, dir) =>
      canonicalByQuality(corpusNear(s, dir),
        DedupLsh.nearDupClusters(stagedNearDupPairs(s, dir)))
    },
    // x18 — winnow-fingerprint near-dup pairs: byte-level complement
    // of minhash banding with a deterministic guarantee (any shared
    // substring >= w+k-1 bytes shares a fingerprint); df-capped so
    // ubiquitous phrases never go quadratic
    Query("x18_winnow_neardup",
      s"""WITH corpus AS ($CorpusNearSql),
         |${winnowSql(12, 8, "corpus")},
         |fps AS (SELECT doc_id, unnest(list_distinct(m)) AS fp FROM mins),
         |rare AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 20),
         |f AS (SELECT doc_id, fp FROM fps JOIN rare USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(COUNT(*) AS BIGINT) AS shared_fps
         |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 3
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      DedupLsh.winnowNearDupPairs(corpusNear(s, dir), "doc_id", "text",
        k = 12, w = 8, minShared = 3, maxDf = 20L)
        .orderBy("id_a", "id_b")
    },
    // x16 — bloom-prefilter incremental exact dedup: new-batch rows
    // whose digest is absent from the accumulated corpus, with ZERO
    // corpus shuffle — the corpus scan carries a map-side codegen
    // might_contain(bloom-of-batch) filter and only suspected dupes
    // reach the exact verify join. Exact at any fpp (false positives
    // add history keys that match no batch row). Every 5th doc forms
    // the batch; every 10th keeps its text (a true dupe), the rest
    // are perturbed (genuinely new).
    Query("x16_bloom_dedup",
      """WITH batch AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 10 = 0 THEN text ELSE text || ' v2' END) AS digest
        |  FROM documents WHERE doc_id % 5 = 0)
        |SELECT digest, doc_id FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE md5(d.text) = b.digest)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val batch = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 10 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" v2")))).as("digest"))
      val history = docs.select(md5(col("text")).as("digest"))
      BloomDedup.antiJoinBloom(batch, history, "digest",
        expectedItems = 8192L, fpp = 0.001)
        .orderBy("doc_id")
    },
    // x19 — exact substring-SPAN dedup (Lee et al. 2022): maximal
    // repeated 8-token spans per document — the span-level complement
    // of the doc-level near-dup family (a production pipeline REMOVES
    // these spans rather than whole documents). Inverted index on the
    // window hash, never all-pairs; islands merge per doc. On this
    // corpus every original ends one window short of full coverage
    // (the clone lost its last word), so a coverage-boundary bug
    // hash-mismatches immediately.
    Query("x19_span_dedup",
      s"""WITH $spanGrpCte
         |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
         |  CAST(MAX(pos) + 7 AS BIGINT) AS span_end
         |FROM grp GROUP BY doc_id, g ORDER BY doc_id, span_start""".stripMargin) { (s, dir) =>
      graft.llm.SpanDedup.duplicatedSpans(corpusNear(s, dir), "doc_id", "text", k = 8)
        .orderBy("doc_id", "span_start")
    },
    // x20 — per-doc duplication accounting over x19's spans: token
    // coverage as integer ppm (cross-engine exact), span count
    Query("x20_span_coverage",
      s"""WITH $spanGrpCte,
         |spans AS (SELECT doc_id, g, MIN(pos) AS s, MAX(pos) + 7 AS e
         |          FROM grp GROUP BY doc_id, g),
         |agg AS (SELECT doc_id, SUM(e - s + 1) AS dup_tokens, COUNT(*) AS n_spans
         |        FROM spans GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         |  CAST(floor(COALESCE(a.dup_tokens, 0) * 1000000 / len(tk)) AS BIGINT)
         |    AS dup_frac_micro,
         |  CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans
         |FROM tok t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.llm.SpanDedup.spanCoverage(corpusNear(s, dir), "doc_id", "text", k = 8)
        .orderBy("doc_id")
    },
    // x21 — the APPLY step of span dedup (keep-one-copy): the first
    // occurrence of each duplicated window is canonical and survives;
    // later occurrences island-merge into cut spans and the text is
    // reconstructed from the surviving tokens. Originals (lower
    // doc_id) keep their text; clones come back mostly empty.
    Query("x21_span_removal",
      s"""WITH $spanRemovalGrpCte,
         |spans AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
         |          FROM grp GROUP BY doc_id, g),
         |spl AS (SELECT doc_id, list(struct_pack(s := s, e := e)) AS sp
         |        FROM spans GROUP BY doc_id),
         |kept AS (
         |  SELECT t.doc_id,
         |    CASE WHEN sp IS NULL THEN tk
         |         ELSE list_transform(list_filter(generate_series(1, len(tk)),
         |                i -> len(list_filter(sp, p -> i >= p['s'] AND i <= p['e'])) = 0),
         |              i -> tk[i]) END AS kp
         |  FROM tok t LEFT JOIN spl USING (doc_id))
         |SELECT doc_id,
         |  COALESCE(array_to_string(kp, ' '), '') AS cleaned_text,
         |  CAST(len(kp) AS BIGINT) AS n_kept
         |FROM kept ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.llm.SpanDedup.removeDuplicatedSpans(corpusNear(s, dir), "doc_id", "text", k = 8)
        .orderBy("doc_id")
    },
    // x25 — INCREMENTAL span dedup: which parts of an ingest batch
    // already exist in the corpus. The corpus side is its distinct
    // window-hash set, staged once per snapshot (the x14b artifact
    // pattern); the batch probes it with one semi join. Batch texture:
    // 1/3 exact dupes (full-doc span), 1/3 suffix-extended (span stops
    // exactly at the original's last token — boundary-sensitive), 1/3
    // fresh (no span).
    // x25 — batch window hashes semi-joined against the corpus's
    // DISTINCT window-hash set (the staged artifact is value-
    // invisible: the oracle derives the same set inline)
    Query("x25_span_incremental",
      s"""WITH batch AS ($IngestBatchSql),
         |cw AS (
         |  SELECT DISTINCT md5(array_to_string(tk[i:i+7], ' ')) AS h
         |  FROM (SELECT regexp_split_to_array(text, '\\s+') AS tk FROM documents),
         |       unnest(generate_series(1, greatest(len(tk) - 7, 0))) AS t(i)),
         |bw AS (
         |  SELECT doc_id, i AS pos, md5(array_to_string(tk[i:i+7], ' ')) AS h
         |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS tk
         |        FROM batch),
         |       unnest(generate_series(1, greatest(len(tk) - 7, 0))) AS t(i)),
         |hits AS (SELECT doc_id, pos FROM bw JOIN cw USING (h)),
         |${islandsCte("hits")}
         |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
         |  CAST(MAX(pos) + 7 AS BIGINT) AS span_end
         |FROM grp GROUP BY doc_id, g ORDER BY doc_id, span_start""".stripMargin) { (s, dir) =>
      graft.llm.SpanDedup.crossDuplicatedSpans(
        syntheticIngestBatch(s, dir).drop("lang"),
        stagedCorpusSpanHashes(s, dir), "doc_id", "text", k = 8)
        .orderBy("doc_id", "span_start")
    },
    // x26 — incremental span dedup APPLY: the ingest batch with every
    // corpus-known span (x25) cut out — don't re-ingest what the
    // corpus already has, at substring granularity. Exact dupes come
    // back empty, suffix-extended docs keep only the novel suffix,
    // fresh docs pass through intact. No keep-one-copy pick: the
    // surviving copy is the corpus's, by construction.
    // x26 — x25's corpus-hit span chain + x21's cut replay, over the
    // batch tokens (fresh docs keep their text via the left join;
    // DuckDB's array_to_string([]) is NULL where Spark's concat_ws
    // is '', hence the COALESCE)
    Query("x26_span_incremental_apply",
      s"""WITH batch AS ($IngestBatchSql),
         |cw AS (
         |  SELECT DISTINCT md5(array_to_string(tk[i:i+7], ' ')) AS h
         |  FROM (SELECT regexp_split_to_array(text, '\\s+') AS tk FROM documents),
         |       unnest(generate_series(1, greatest(len(tk) - 7, 0))) AS t(i)),
         |bw AS (
         |  SELECT doc_id, i AS pos, md5(array_to_string(tk[i:i+7], ' ')) AS h
         |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS tk
         |        FROM batch),
         |       unnest(generate_series(1, greatest(len(tk) - 7, 0))) AS t(i)),
         |hits AS (SELECT doc_id, pos FROM bw JOIN cw USING (h)),
         |${islandsCte("hits")},
         |spans AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
         |          FROM grp GROUP BY doc_id, g),
         |spl AS (SELECT doc_id, list(struct_pack(s := s, e := e)) AS sp
         |        FROM spans GROUP BY doc_id),
         |tok AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS tk
         |        FROM batch),
         |kept AS (
         |  SELECT t.doc_id,
         |    CASE WHEN sp IS NULL THEN tk
         |         ELSE list_transform(list_filter(generate_series(1, len(tk)),
         |                i -> len(list_filter(sp, p -> i >= p['s'] AND i <= p['e'])) = 0),
         |              i -> tk[i]) END AS kp
         |  FROM tok t LEFT JOIN spl USING (doc_id))
         |SELECT doc_id,
         |  COALESCE(array_to_string(kp, ' '), '') AS cleaned_text,
         |  CAST(len(kp) AS BIGINT) AS n_kept
         |FROM kept ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.llm.SpanDedup.removeCrossDuplicatedSpans(
        syntheticIngestBatch(s, dir).drop("lang"),
        stagedCorpusSpanHashes(s, dir), "doc_id", "text", k = 8)
        .orderBy("doc_id")
    },
    // x22 — product-quantization ADC top-k (Jégou et al. 2011): the
    // memory side of ANN — vectors stored as 8 sub-codebook ids (32×
    // compression), queries scored against the CODES via a broadcast
    // per-query distance LUT, never the raw corpus vectors. Same query
    // protocol as x7 (queries = vec_id < 5, k = 3).
    Query("x22_pq_topk", X22PqSql) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      graft.llm.Pq.adcTopK(emb, emb.filter(col("vec_id") < 5), k = 3)
        .orderBy("query_id", "rank")
    },
    // x22b — the same ADC search against a PERSISTED code index
    // (sub-codebooks + codes on parquet; the x23b build-once contract
    // minus the coarse level — plain ADC scans every code by design).
    // Production trains/encodes once in the ingest job; a query is a
    // centroid read + one broadcast-LUT join over the 8-byte codes,
    // never a per-call k-means retrain. Same oracle as x22: the index
    // round-trip must be value-invisible.
    Query("x22b_pq_prebuilt", X22PqSql) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val idx = adcIndex(s, dir)
      graft.llm.Pq.adcTopKPrebuilt(s, idx, emb.filter(col("vec_id") < 5), k = 3)
        .orderBy("query_id", "rank")
    },
    // x22c — ADC shortlist + EXACT re-rank (Jégou et al. 2011 §V):
    // the deployment tail of a PQ index — the codes produce a cheap
    // 12-deep shortlist, the true cosine re-ranks only those
    // candidates (broadcast shortlist, corpus never shuffles), so the
    // final top-3 is quantization-error-free whenever the exact
    // winners survive the shortlist. Widen the shortlist to buy
    // recall with re-rank compute, never with index size.
    Query("x22c_pq_rerank", X22cRerankSql) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val idx = adcIndex(s, dir)
      graft.llm.Pq.adcTopKReranked(s, idx, emb, emb.filter(col("vec_id") < 5),
        k = 3, shortlist = 12)
        .orderBy("query_id", "rank")
    },
    // x23 — IVFADC (Jégou et al. 2011 §IV): the x7 coarse quantizer
    // composed with residual-PQ codes — IVF prunes WHICH members a
    // query scores, the 8-byte codes decide HOW CHEAPLY. Same query
    // protocol as x7/x22 (queries = vec_id < 5, k = 3, nProbe = 2).
    Query("x23_ivfpq_topk", X23IvfPqSql) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      graft.llm.Pq.ivfAdcTopK(emb, emb.filter(col("vec_id") < 5), k = 3)
        .orderBy("query_id", "rank")
    },
    // x23b — the same IVFADC search against a PERSISTED code index
    // (coarse centroids + residual sub-codebooks + cell-partitioned
    // code table on parquet; the x7b build-once contract). Production
    // encodes the corpus once in the ingest job; a query is a
    // centroid read + partition-pruned scan of the probed cells'
    // CODES — ~8 bytes per corpus vector instead of 256+. Same oracle
    // as x23: the index round-trip must be value-invisible.
    Query("x23b_ivfpq_prebuilt", X23IvfPqSql) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val idx = pqIndex(s, dir)
      graft.llm.Pq.ivfAdcTopKPrebuilt(s, idx, emb.filter(col("vec_id") < 5), k = 3)
        .orderBy("query_id", "rank")
    },
    // x23c — IVFADC shortlist + EXACT re-rank: the complete
    // billion-scale serving chain (coarse cells prune WHICH vectors,
    // codes rank them CHEAPLY, exact cosine decides the final k).
    // Recall is capped by BOTH knobs: nProbe bounds which neighbors
    // can appear at all, shortlist bounds which misrankings the exact
    // pass can repair. 1M probe (x22c twin): recall@10 0.600 -> 0.994
    // at no added cost over the code scan.
    Query("x23c_ivfpq_rerank", X23cRerankSql) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val idx = pqIndex(s, dir)
      graft.llm.Pq.ivfAdcTopKReranked(s, idx, emb, emb.filter(col("vec_id") < 5),
        k = 3, nProbe = 2, shortlist = 12)
        .orderBy("query_id", "rank")
    },
    // x24 — ANN recall evaluation: IVFADC's top-3 measured against the
    // exact cosine top-3 per query — the index quality gate a
    // production ANN deployment runs before trusting an index. Both
    // sides are the registered operators themselves; recall is an
    // integer milli-fraction so the metric replays exactly.
    // x24 — recall of the IVFADC result (x23's full CTE set as a
    // derived table) against the exact cosine top-3 (x5's CTEs)
    Query("x24_pq_recall", recallSql(X23IvfPqSql, 3)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
      // the approx side reads the PERSISTED code index (x23b's
      // build-once artifact) — production evaluates the index it
      // actually serves, not a fresh retrain
      recallAtK(emb, queries,
        graft.llm.Pq.ivfAdcTopKPrebuilt(s, pqIndex(s, dir), queries, k = 3), k = 3)
    },
    // x24b — the recall gate over the COMPLETE serving chain (x23c's
    // coarse-prune + codes + exact re-rank): the check a production
    // deployment runs to size nProbe/shortlist — recall here isolates
    // what the two pruning knobs lose, since the re-rank removed all
    // quantization error (1M probe: 0.600 -> 0.994 at k=10).
    // x24b — identical recall frame with the approx side swapped for
    // the complete x23c rerank chain (shared CTE discipline: the
    // subquery IS the x23c oracle, so the gate can never measure a
    // different pipeline than the one x23c serves)
    Query("x24b_rerank_recall", recallSql(X23cRerankSql, 3)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
      recallAtK(emb, queries, graft.llm.Pq.ivfAdcTopKReranked(s, pqIndex(s, dir), emb, queries,
        k = 3, nProbe = 2, shortlist = 12), k = 3)
    },
    // x24c — the recall gate over the ADAPTIVE serving chain (round-15
    // verdict item 2): x24b isolated coarse-prune casualties as the
    // chain's only remaining recall loss — a fixed nProbe under-probes
    // queries landing in small cells. Here the coarse prune is
    // occupancy-adaptive (keep next-nearest cells until the kept cells
    // hold >= 64 candidates — Pq.probeResiduals), shortlist 32, exact
    // re-rank to top-10: recall@10 measured against brute force, the
    // production knob-sizing check. 1M probe
    // (PROBES.md, "x24c adaptive multi-probe recall at 1M") extends
    // the x22c table.
    // x24c — the x24b recall frame at k=10 with the approx side
    // swapped for the ADAPTIVE chain (occupancy-driven probe depth,
    // shortlist 32, exact re-rank; the subquery IS the chain's own
    // oracle SQL, same shared-CTE discipline as x24b)
    Query("x24c_adaptive_recall", recallSql(X24cAdaptiveChainSql, 10)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
      recallAtK(emb, queries, graft.llm.Pq.ivfAdcTopKReranked(s, pqIndex(s, dir), emb, queries,
        k = 10, shortlist = 32, minCandidates = Some(64L)), k = 10)
    },
    // sql2 — the extension-injected native `dotq` function driven from
    // the pure SQL surface: quantized-vector dot products over a temp
    // view, proving SparkSessionExtensions functions reach SQL users
    Query("sql2_dotq_sql",
      s"""WITH q AS (SELECT vec_id, ${qvSql("embedding")} AS qv FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  CAST(list_sum(list_transform(generate_series(1, 64),
         |       i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot
         |FROM q a JOIN q b ON b.vec_id = a.vec_id + 100
         |WHERE a.vec_id < 100
         |ORDER BY id_a""".stripMargin) { (s, dir) =>
      graft.functions.LongArrayDot.register(s)
      Tables.embeddings(s, dir)
        .select(col("vec_id"), Similarity.quantize(col("embedding")).as("q"))
        .createOrReplaceTempView("emb_q")
      s.sql(
        """SELECT a.vec_id AS id_a, b.vec_id AS id_b, dotq(a.q, b.q) AS dot
          |FROM emb_q a JOIN emb_q b ON b.vec_id = a.vec_id + 100
          |WHERE a.vec_id < 100
          |ORDER BY id_a""".stripMargin)
    }
  )
}
