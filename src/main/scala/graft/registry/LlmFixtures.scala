package graft.registry

import graft.Tables
import graft.llm.{Classifier, DedupLsh, Similarity, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures.{scratch, staged}
import TextQueries.{StopSql, tokSql, ngramSql}

/** Shared fixtures behind the LLM-pipeline query families: the
  * synthetic near-dup corpora, the staged artifacts (built once per
  * session through [[Fixtures.staged]]), and the DuckDB SQL
  * snippet builders every family's oracle composes. Extracted from
  * LlmQueries in the round-11 mechanical split. */
private[registry] object LlmFixtures {

  /** Read a staged artifact with crash-window availability on either
    * publish protocol: [[graft.io.Staging.resolveRead]] heals a
    * crashed rename-swap or resolves the live published version, the
    * same convention the prebuilt PQ/IVF readers and
    * semanticDedupStaged follow (round-14 ADVICE — the BPE/DSIR
    * fixture reads skipped it). `root` is the PUBLISH UNIT (the
    * Staging.publish path); multi-table artifacts pass the subpath to
    * read via `sub`. */
  def readStaged(s: SparkSession, root: String, sub: String = ""): DataFrame = {
    val live = graft.io.Staging.resolveRead(s, root)
    s.read.parquet(if (sub.isEmpty) live else s"$live/$sub")
  }

  /** The trained DSIR model (vocab + totals) as a staged artifact (see
    * [[graft.llm.Corpus.stageDsirModel]]): trained once per
    * (reference, crawl) snapshot pair, re-read per scoring sweep by
    * y21b. The target rule is y21's (`lang = 'en'`), shared so the
    * model can never drift from the oracle's. */
  def stagedDsirModel(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val path = scratch(dir, "llm/dsir_model")
    staged(s, path) {
      graft.llm.Corpus.stageDsirModel(
        graft.Tables.documents(s, dir), "doc_id", "text",
        org.apache.spark.sql.functions.col("lang") === "en", path)
    }
    (readStaged(s, path, "vocab"), readStaged(s, path, "totals"))
  }

  /** The trained BPE model as a staged artifact (see
    * [[graft.llm.Corpus.stageBpeModel]]): trained once per tokenizer
    * version, re-read per encode sweep by y28b. */
  def stagedBpeModelPath(s: SparkSession, dir: String): String = {
    val path = scratch(dir, "llm/bpe_model")
    staged(s, path) {
      graft.llm.Corpus.stageBpeModel(
        graft.Tables.documents(s, dir), "doc_id", "text", path, numMerges = 6)
    }
  }

  /** The corpus SimHash fingerprint table as a staged artifact (see
    * [[graft.llm.DedupLsh.corpusSimhashFingerprints]]): fingerprinted
    * once per snapshot, re-read per radius sweep by x11b. */
  def stagedSimhashFps(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "llm/simhash_fps")
    staged(s, path) {
      graft.io.Staging.publish(s, path) { tmp =>
        graft.llm.DedupLsh.corpusSimhashFingerprints(
          corpusNear(s, dir), "doc_id", "text", bits = 32)
          .write.mode("overwrite").parquet(tmp)
      }
    }
    readStaged(s, path)
  }

  /** The y20 seed rule, shared by the combined classifier (y20/y29)
    * and the staged trainer (y20b) so the model can never drift from
    * the oracle's: an md5-gated 50% of docs keep their lang label. */
  def nbSeedLabel: Column =
    when(md5(col("doc_id").cast("string")) < "8", col("lang"))

  /** The trained NB model (terms + classes) as a staged artifact (see
    * [[graft.llm.Classifier.trainNaiveBayesModel]]): trained once per
    * (corpus, seed-rule) version, re-read per scoring sweep by y20b. */
  def stagedNbModel(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val path = scratch(dir, "llm/nb_model")
    staged(s, path) {
      val (terms, classes) = Classifier.trainNaiveBayesModel(
        Tables.documents(s, dir), "doc_id", "text", nbSeedLabel)
      // terms + classes swap live as ONE unit (graft.io.Staging): the
      // artifact-sync check can then only ever see one build's pair
      graft.io.Staging.publish(s, path) { tmp =>
        terms.write.mode("overwrite").parquet(s"$tmp/terms")
        classes.write.mode("overwrite").parquet(s"$tmp/classes")
      }
    }
    (readStaged(s, path, "terms"), readStaged(s, path, "classes"))
  }

  /** The corpus sign-bucket table as a staged artifact (see
    * [[graft.llm.Similarity.corpusSignBuckets]]): written once per
    * snapshot, re-read per ingest batch by x27b's map-side sweep. */
  def stagedCorpusEmbBuckets(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "llm/emb_sign_buckets")
    staged(s, path) {
      graft.io.Staging.publish(s, path) { tmp =>
        Similarity.corpusSignBuckets(Tables.embeddings(s, dir))
          .write.mode("overwrite").parquet(tmp)
      }
    }
    readStaged(s, path)
  }

  /** The corpus k=8 window-hash SET as a staged artifact (see
    * [[graft.llm.SpanDedup.corpusWindowHashSet]]): written once per
    * snapshot, re-read per ingest batch by x25's semi join. */
  def stagedCorpusSpanHashes(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "llm/span_hash_set")
    staged(s, path) {
      graft.io.Staging.publish(s, path) { tmp =>
        graft.llm.SpanDedup.corpusWindowHashSet(
          Tables.documents(s, dir).select("doc_id", "text"), "doc_id", "text", k = 8)
          .write.mode("overwrite").parquet(tmp)
      }
    }
    readStaged(s, path)
  }

  /** x15's canonical-representative pick, shared with its staged twin
    * x15b: join each cluster member's quality score, then ONE window
    * pass computes both the representative rank and the member count —
    * evaluating the scored frame twice (rep + groupBy) would re-run
    * the cluster join and quality scoring and add a join. */
  def canonicalByQuality(docs: DataFrame, clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = clusters
      .join(docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("score")),
        clusters("id") === col("doc_id"))
      .select(col("cluster"), col("id"), col("score"))
    val w = Window.partitionBy("cluster").orderBy(col("score").desc, col("id").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("cluster")))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("n_members"), col("id").as("rep_id"))
      .orderBy("cluster")
  }

  /** The near-dup pair list as a STAGED ARTIFACT: production dedup
    * materializes shingle→band→verify ONCE per corpus snapshot and
    * every downstream consumer — clustering (x8b), canonical selection
    * (x15b), audits — reads the parquet instead of re-deriving pairs
    * from raw text. The artifact is thin
    * (id_a, id_b, jaccard) rows — at 100 TB corpus scale it is the
    * verified-pair set only (corpus-fraction sized, not corpus sized),
    * and each consumer's first shuffle keys on an id column, so
    * re-reading it is strictly cheaper than re-verifying. */
  def stagedNearDupPairs(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "llm/neardup_pairs")
    staged(s, path) {
      graft.io.Staging.publish(s, path) { tmp =>
        DedupLsh.nearDupPairs(corpusNear(s, dir), "doc_id", "text",
          shingleN = 3, numHashes = 12, numBands = 4, threshold = 0.5)
          .write.mode("overwrite").parquet(tmp)
      }
    }
    readStaged(s, path)
  }

  /** The corpus LSH band table as a STAGED ARTIFACT: the incremental
    * sweep's corpus side — (id, sh, bands), one row per doc — written
    * once per corpus snapshot and re-read per ingest batch, instead of
    * re-shingling and re-minhashing the corpus on every call. This is
    * the deployment shape the 10M e5 composition probe pointed at: the
    * band sweep's per-batch corpus scan was the only corpus-linear
    * per-batch term, and it was linear in corpus TEXT; against this
    * artifact the per-batch cost is a scan of signature-sized rows
    * (12 md5 hex strings + 4 band keys + the shingle set) with a
    * map-side explode, no text tokenization, no md5 sweeps. */
  def stagedCorpusBands(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "llm/corpus_bands")
    staged(s, path) {
      graft.io.Staging.publish(s, path) { tmp =>
        DedupLsh.corpusBandSignatures(
          Tables.documents(s, dir).select("doc_id", "text"), "doc_id", "text",
          shingleN = 3, numHashes = 12, numBands = 4)
          .write.mode("overwrite").parquet(tmp)
      }
    }
    readStaged(s, path)
  }

  /** The x12b staged contamination index over the x12 corpus side
    * (docs with doc_id % 97 != 0): built once per session through the
    * publish protocol; serving screens the eval set against the
    * postings. Returns the artifact root. */
  def stagedCorpusGrams(s: SparkSession, dir: String): String = {
    val path = scratch(dir, "llm/corpus_grams")
    staged(s, path) {
      graft.llm.Contamination.stageCorpusGrams(
        Tables.documents(s, dir).filter(col("doc_id") % 97 =!= 0),
        path, "doc_id", "text", n = 3)
    }
  }

  /** The CASE arm of the synthetic ingest batch, shared by the Spark
    * side ([[syntheticIngestBatch]]) and the oracles ([[IngestBatchSql]])
    * so the four call sites can never drift: docs ≡ 0 mod 5, thirds =
    * exact dup / suffix-extended (' v2') / wholly fresh. */
  private val ingestBatchCaseSpark: String =
    """CASE (doc_id div 5) % 3
      |WHEN 0 THEN text
      |WHEN 1 THEN concat(text, ' v2')
      |ELSE concat('fresh entry ', cast(doc_id as string),
      |     ' carries wholly novel content alpha',
      |     cast(doc_id as string), ' beta gamma delta')
      |END""".stripMargin

  /** (doc_id+20000, lang, text): the ingest-batch texture x25 and y26
    * run against the corpus snapshot. */
  def syntheticIngestBatch(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 20000L).as("doc_id"), col("lang"),
        expr(ingestBatchCaseSpark).as("text"))

  /** The DuckDB twin of [[syntheticIngestBatch]] — interpolate as the
    * body of a `batch AS (…)` CTE. */
  val IngestBatchSql: String =
    """SELECT doc_id + 20000 AS doc_id, lang,
      |    CASE (doc_id // 5) % 3 WHEN 0 THEN text WHEN 1 THEN text || ' v2'
      |    ELSE 'fresh entry ' || CAST(doc_id AS VARCHAR) ||
      |         ' carries wholly novel content alpha' ||
      |         CAST(doc_id AS VARCHAR) || ' beta gamma delta' END AS text
      |  FROM documents WHERE doc_id % 5 = 0""".stripMargin

  /** documents ∪ exact clone at doc_id+10000. */
  def corpusExact(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    d.unionByName(d.select((col("doc_id") + 10000L).as("doc_id"), col("text")))
  }

  /** documents ∪ last-word-dropped clone at doc_id+10000. */
  def corpusNear(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    val toks = split(col("text"), " ")
    d.unionByName(d.select((col("doc_id") + 10000L).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1), size(toks) - 1)).as("text")))
  }

  /** embeddings ∪ deterministically-perturbed clone at vec_id+10000:
    * component j gets +0.01·(((vec_id+j) mod 3) − 1) — replayable
    * noise, cosine to the original ≈ 0.999. */
  def corpusEmb(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("embedding"))
    // perturb FIRST, re-key second: with both in one select list the
    // lambda's col("vec_id") resolves to the lateral alias (+10000),
    // silently shifting the noise pattern (caught by the oracle diff)
    e.unionByName(
      e.select(col("vec_id"),
        transform(col("embedding"), (x, j) =>
          x + lit(0.01) * (((col("vec_id") + j) % 3) - 1)).as("embedding"))
        .select((col("vec_id") + 10000L).as("vec_id"), col("embedding")))
  }

  /** (vec_id+20000, embedding): the embedding ingest batch x27 sweeps
    * against the corpus snapshot — every 10th vector with corpusEmb's
    * replayable +0.01·(((vec_id+j) mod 3) − 1) perturbation (cosine to
    * its base ≈ 0.999, so every batch item has a guaranteed hit).
    * Perturb FIRST, re-key second — the [[corpusEmb]] lateral-alias
    * trap applies identically here. */
  def syntheticEmbBatch(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("embedding"))
    e.select(col("vec_id"),
        transform(col("embedding"), (x, j) =>
          x + lit(0.01) * (((col("vec_id") + j) % 3) - 1)).as("embedding"))
      .select((col("vec_id") + 20000L).as("vec_id"), col("embedding"))
  }

  /** The DuckDB twin of [[syntheticEmbBatch]] — interpolate as the
    * body of a `batch AS (…)` CTE. */
  val EmbBatchSql: String =
    """SELECT vec_id + 20000 AS vec_id,
      |  list_transform(generate_series(1, 64),
      |    i -> CAST(embedding[i] AS DOUBLE) + 0.01 * (((vec_id + i - 1) % 3) - 1))
      |    AS embedding
      |FROM embeddings WHERE vec_id % 10 = 0""".stripMargin

  val CorpusEmbSql =
    """SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
      |FROM embeddings
      |UNION ALL
      |SELECT vec_id + 10000,
      |  list_transform(generate_series(1, 64),
      |    i -> CAST(embedding[i] AS DOUBLE) + 0.01 * (((vec_id + i - 1) % 3) - 1))
      |FROM embeddings""".stripMargin

  val CorpusExactSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 10000, text FROM documents""".stripMargin

  val CorpusNearSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 10000,
      |  array_to_string((regexp_split_to_array(text, ' '))[1:len(regexp_split_to_array(text, ' ')) - 1], ' ')
      |FROM documents""".stripMargin

  /** DuckDB replay of the native winnowq rolling-hash fingerprints:
    * each k-gram hash computed as the direct polynomial (precomputed
    * base powers — identical values to the rolling recurrence), then
    * the per-window least() and distinct. Emits two CTE bodies over a
    * relation exposing (doc_id, text). */
  def winnowSql(k: Int, w: Int, from: String): String = {
    val M = 1000000007L
    val pows = Seq.iterate(1L, k)(p => p * 131L % M).reverse
    val terms = (0 until k)
      .map(j => s"ascii(text[i+$j])::BIGINT * ${pows(j)}")
      .mkString(" + ")
    val winTerms = (0 until w).map(j => s"h[i+$j]").mkString(", ")
    s"""hs AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, greatest(len(text) - ${k - 1}, 0)), i ->
       |      ($terms) % $M) AS h
       |  FROM $from),
       |mins AS (
       |  SELECT doc_id,
       |    CASE WHEN len(h) = 0 THEN []::BIGINT[]
       |         WHEN len(h) < $w THEN [list_min(h)]
       |         ELSE list_transform(generate_series(1, len(h) - ${w - 1}), i ->
       |           least($winTerms))
       |    END AS m
       |  FROM hs)""".stripMargin
  }

  /** DuckDB twin of Similarity.quantize + integer dot. */
  def qvSql(c: String): String =
    s"list_transform($c, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
  def dotSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(generate_series(1, 64), i -> $a[i] * $b[i])) AS DOUBLE)"
  def cosineSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** One k-means iteration (assign → integer-mean update), the DuckDB
    * twin of a Similarity.kmeansCodebook loop body. `prev` is the
    * incoming centroid CTE; emits CTEs `assignName` and `centsName`. */
  def kmeansIterSql(prev: String, assignName: String, centsName: String): String =
    s"""$assignName AS (
       |  SELECT cell_id, nv FROM (
       |    SELECT v.vec_id, v.nv, c.cell_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosineSql("v.nv", "c.cv")} DESC, c.cell_id) AS rnk
       |    FROM v CROSS JOIN $prev c)
       |  WHERE rnk = 1),
       |$centsName AS (
       |  SELECT cell_id, list(comp ORDER BY pos) AS cv FROM (
       |    SELECT cell_id, g.pos,
       |      CAST(floor(CAST(SUM(nv[g.pos]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS comp
       |    FROM $assignName CROSS JOIN generate_series(1, 64) AS g(pos)
       |    GROUP BY cell_id, g.pos)
       |  GROUP BY cell_id)""".stripMargin

  /** IVF-flat oracle body over any probe policy: trained coarse
    * k-means, member assignment, probe selection (`probesCte`, filtered
    * off the shared `ranked_probes` ranking), cosine scoring of probed
    * cells' members, top-3 — shared by x7/x7b (fixed nProbe) and x7c
    * (occupancy-adaptive), so the policies can never drift from one
    * training replay. */
  private def x7IvfSqlWith(probesCte: String): String =
    s"""WITH v AS (
       |  SELECT vec_id, ${qvSql("embedding")} AS nv FROM embeddings),
       |c0 AS (
       |  SELECT vec_id AS cell_id, nv AS cv FROM v WHERE vec_id < 16),
       |${kmeansIterSql("c0", "a1", "c1")},
       |${kmeansIterSql("c1", "a2", "c2")},
       |members AS (
       |  SELECT neighbor_id, nv, cell_id FROM (
       |    SELECT v.vec_id AS neighbor_id, v.nv, c.cell_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosineSql("v.nv", "c.cv")} DESC, c.cell_id) AS cell_rank
       |    FROM v CROSS JOIN c2 c)
       |  WHERE cell_rank = 1),
       |ranked_probes AS (
       |  SELECT q.vec_id AS query_id, q.nv AS qv, c.cell_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${cosineSql("q.nv", "c.cv")} DESC, c.cell_id) AS cell_rank
       |  FROM (SELECT * FROM v WHERE vec_id < 5) q CROSS JOIN c2 c),
       |$probesCte,
       |scored AS (
       |  SELECT query_id, neighbor_id, ${cosineSql("qv", "nv")} AS cosine
       |  FROM members JOIN probes USING (cell_id)
       |  WHERE neighbor_id != query_id)
       |SELECT query_id, rank, neighbor_id, cosine FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Oracle for BOTH x7 (train+query in one pass) and x7b (query
    * against the persisted index): the index round-trip must be
    * value-invisible, so one SQL body serves both. */
  lazy val X7IvfSql: String = x7IvfSqlWith(
    s"""probes AS (
       |  SELECT query_id, qv, cell_id FROM ranked_probes
       |  WHERE cell_rank <= 2)""".stripMargin)

  /** Oracle for x7c: the same IVF-flat body with the occupancy-
    * adaptive probe rule (keep cells while members-before < 64) —
    * the x24c policy on the flat-member index. The member counts come
    * from the SAME `members` CTE the scoring uses. */
  lazy val X7cAdaptiveSql: String = x7IvfSqlWith(
    s"""occ AS (SELECT cell_id, COUNT(*) AS n FROM members GROUP BY cell_id),
       |probes AS (
       |  SELECT query_id, qv, cell_id FROM (
       |    SELECT r.query_id, r.qv, r.cell_id,
       |      SUM(COALESCE(o.n, 0)) OVER (PARTITION BY r.query_id
       |        ORDER BY r.cell_rank
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |        - COALESCE(o.n, 0) AS cum_before
       |    FROM ranked_probes r LEFT JOIN occ o USING (cell_id))
       |  WHERE cum_before < 64)""".stripMargin)

  /** Oracle for BOTH x17 (train+assign+dedup in one pass) and x17b
    * (dedup against the staged cell-assignment artifact): the
    * stage/serve split must be value-invisible, so one SQL body
    * serves both — the X7IvfSql contract applied to SemDeDup. */
  lazy val X17SemanticSql: String =
    s"""WITH corpus AS ($CorpusEmbSql),
       |v AS (SELECT vec_id, ${qvSql("embedding")} AS nv FROM corpus),
       |c0 AS (SELECT vec_id AS cell_id, nv AS cv FROM v WHERE vec_id < 16),
       |${kmeansIterSql("c0", "a1", "c1")},
       |${kmeansIterSql("c1", "a2", "c2")},
       |members AS (
       |  SELECT vec_id, nv, cell_id FROM (
       |    SELECT v.vec_id, v.nv, c.cell_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosineSql("v.nv", "c.cv")} DESC, c.cell_id) AS cell_rank
       |    FROM v CROSS JOIN c2 c)
       |  WHERE cell_rank = 1),
       |drops AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM members a JOIN members b
       |    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
       |  WHERE ${cosineSql("a.nv", "b.nv")} >= 0.99)
       |SELECT vec_id, cell_id FROM members
       |WHERE vec_id NOT IN (SELECT vec_id FROM drops)
       |ORDER BY vec_id""".stripMargin


  /** DuckDB twin of Pq: integer squared-L2 over 8-dim subvectors. */
  private def l2Sql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(generate_series(1, 8), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"

  /** One per-subspace k-means iteration (argmin assign → floor-mean
    * update), all 8 subspaces at once — the PQ analog of
    * [[kmeansIterSql]]. `prev` is the incoming (s, cell_id, cv) CTE;
    * `sub` names the (vec_id, s, sv) subvector CTE (raw subvectors for
    * x22, coarse-cell residuals for x23). */
  private def pqIterSql(prev: String, assignName: String, centsName: String,
                        sub: String = "sub"): String =
    s"""$assignName AS (
       |  SELECT s, cell_id, sv FROM (
       |    SELECT $sub.vec_id, $sub.s, $sub.sv, c.cell_id,
       |      row_number() OVER (PARTITION BY $sub.vec_id, $sub.s
       |        ORDER BY ${l2Sql(s"$sub.sv", "c.cv")}, c.cell_id) AS rnk
       |    FROM $sub JOIN $prev c ON $sub.s = c.s)
       |  WHERE rnk = 1),
       |$centsName AS (
       |  SELECT s, cell_id, list(comp ORDER BY pos) AS cv FROM (
       |    SELECT s, cell_id, g.pos,
       |      CAST(floor(CAST(SUM(sv[g.pos]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS comp
       |    FROM $assignName CROSS JOIN generate_series(1, 8) AS g(pos)
       |    GROUP BY s, cell_id, g.pos)
       |  GROUP BY s, cell_id)""".stripMargin

  /** Shared CTE prefix of the plain-ADC family (x22/x22b/x22c): train
    * the sub-codebooks, encode, build the per-query LUT, sum ADC
    * distances — everything up to the final ranking, so the re-rank
    * twin composes the identical approximate stage. */
  private lazy val x22AdcCtes: String =
    s"""WITH v AS (
       |  SELECT vec_id, ${qvSql("embedding")} AS nv FROM embeddings),
       |sub AS (
       |  SELECT vec_id, s, nv[s*8+1 : s*8+8] AS sv
       |  FROM v, unnest(generate_series(0, 7)) AS t(s)),
       |c0 AS (SELECT s, vec_id AS cell_id, sv AS cv FROM sub WHERE vec_id < 16),
       |${pqIterSql("c0", "pa1", "pc1")},
       |${pqIterSql("pc1", "pa2", "pc2")},
       |codes AS (
       |  SELECT vec_id, s, cell_id AS code FROM (
       |    SELECT sub.vec_id, sub.s, c.cell_id,
       |      row_number() OVER (PARTITION BY sub.vec_id, sub.s
       |        ORDER BY ${l2Sql("sub.sv", "c.cv")}, c.cell_id) AS rnk
       |    FROM sub JOIN pc2 c ON sub.s = c.s)
       |  WHERE rnk = 1),
       |lut AS (
       |  SELECT q.vec_id AS query_id, c.s, c.cell_id, ${l2Sql("q.sv", "c.cv")} AS d
       |  FROM (SELECT * FROM sub WHERE vec_id < 5) q JOIN pc2 c ON q.s = c.s),
       |adc AS (
       |  SELECT l.query_id, co.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc_dist
       |  FROM codes co JOIN lut l ON co.s = l.s AND co.code = l.cell_id
       |  GROUP BY l.query_id, co.vec_id)""".stripMargin

  /** Oracle for x22/x22b: product-quantization ADC top-3 — per-subspace
    * codebooks (2 k-means iterations, the Pq.trainCodebooks replay),
    * PQ codes, per-query LUT, summed ADC distances. */
  lazy val X22PqSql: String =
    s"""$x22AdcCtes
       |SELECT query_id, rank, neighbor_id, adc_dist FROM (
       |  SELECT query_id, vec_id AS neighbor_id, adc_dist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist, vec_id) AS INTEGER) AS rank
       |  FROM adc WHERE vec_id != query_id)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Oracle for x22c: the SAME ADC stage ranked to a 12-deep
    * shortlist, then exact integer-cosine re-rank of the shortlist —
    * the BIGINT twin of [[graft.llm.Pq.adcTopKReranked]]. */
  lazy val X22cRerankSql: String =
    s"""$x22AdcCtes,
       |short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc_dist, vec_id) AS rnk
       |    FROM adc WHERE vec_id != query_id)
       |  WHERE rnk <= 12),
       |rer AS (
       |  SELECT sh.query_id, sh.vec_id AS neighbor_id,
       |    ${cosineSql("q.nv", "n.nv")} AS cosine
       |  FROM short sh
       |  JOIN v n ON n.vec_id = sh.vec_id
       |  JOIN v q ON q.vec_id = sh.query_id)
       |SELECT query_id, rank, neighbor_id, cosine FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM rer)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Fixed-nProbe probe policy: the top `nProbe` cells per query (the
    * classic IVFADC knob; x23/x23b/x23c/x24/x24b). */
  private def probesFixedCte(nProbe: Int): String =
    s"""probes AS (
       |  SELECT query_id, cell_id, qv FROM ranked_probes
       |  WHERE cell_rank <= $nProbe)""".stripMargin

  /** Occupancy-ADAPTIVE probe policy (x24c; the Pq.probeResiduals
    * twin): keep cells while the members of the cells ranked before
    * them total < `minCandidates` — each query probes exactly as deep
    * as the actual cell occupancy requires. */
  private def probesAdaptiveCte(minCandidates: Int): String =
    s"""occ AS (SELECT cell_id, COUNT(*) AS n FROM members GROUP BY cell_id),
       |probes AS (
       |  SELECT query_id, cell_id, qv FROM (
       |    SELECT r.query_id, r.cell_id, r.qv,
       |      SUM(COALESCE(o.n, 0)) OVER (PARTITION BY r.query_id
       |        ORDER BY r.cell_rank
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |        - COALESCE(o.n, 0) AS cum_before
       |    FROM ranked_probes r LEFT JOIN occ o USING (cell_id))
       |  WHERE cum_before < $minCandidates)""".stripMargin

  /** Shared CTE prefix of the IVFADC family (x23/x23b/x23c/x24c):
    * coarse k-means, residual sub-codebooks, encode, per-probed-cell
    * LUT, ADC sums — everything up to the final ranking, shared so the
    * re-rank twins compose the identical approximate stage.
    * `probesCte` is the probe POLICY (fixed nProbe or occupancy-
    * adaptive), filtered off the shared `ranked_probes` cell ranking. */
  private def x23AdcCtesWith(probesCte: String): String =
    s"""WITH v AS (
       |  SELECT vec_id, ${qvSql("embedding")} AS nv FROM embeddings),
       |c0 AS (
       |  SELECT vec_id AS cell_id, nv AS cv FROM v WHERE vec_id < 16),
       |${kmeansIterSql("c0", "a1", "c1")},
       |${kmeansIterSql("c1", "a2", "c2")},
       |members AS (
       |  SELECT vec_id, cell_id, nv FROM (
       |    SELECT v.vec_id, v.nv, c.cell_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosineSql("v.nv", "c.cv")} DESC, c.cell_id) AS rnk
       |    FROM v CROSS JOIN c2 c)
       |  WHERE rnk = 1),
       |rsub AS (
       |  SELECT m.vec_id, m.cell_id AS coarse_cell, t.s,
       |    list_transform(generate_series(1, 8),
       |      i -> m.nv[t.s*8+i] - c.cv[t.s*8+i]) AS sv
       |  FROM members m JOIN c2 c USING (cell_id),
       |    unnest(generate_series(0, 7)) AS t(s)),
       |p0 AS (SELECT s, vec_id AS cell_id, sv AS cv FROM rsub WHERE vec_id < 16),
       |${pqIterSql("p0", "ra1", "rc1", sub = "rsub")},
       |${pqIterSql("rc1", "ra2", "rc2", sub = "rsub")},
       |codes AS (
       |  SELECT vec_id, coarse_cell, s, code FROM (
       |    SELECT rsub.vec_id, rsub.coarse_cell, rsub.s, c.cell_id AS code,
       |      row_number() OVER (PARTITION BY rsub.vec_id, rsub.s
       |        ORDER BY ${l2Sql("rsub.sv", "c.cv")}, c.cell_id) AS rnk
       |    FROM rsub JOIN rc2 c ON rsub.s = c.s)
       |  WHERE rnk = 1),
       |ranked_probes AS (
       |  SELECT q.vec_id AS query_id, q.nv AS qv, c.cell_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${cosineSql("q.nv", "c.cv")} DESC, c.cell_id) AS cell_rank
       |  FROM (SELECT * FROM v WHERE vec_id < 5) q CROSS JOIN c2 c),
       |$probesCte,
       |qrsub AS (
       |  SELECT p.query_id, p.cell_id AS coarse_cell, t.s,
       |    list_transform(generate_series(1, 8),
       |      i -> p.qv[t.s*8+i] - c.cv[t.s*8+i]) AS sv
       |  FROM probes p JOIN c2 c USING (cell_id),
       |    unnest(generate_series(0, 7)) AS t(s)),
       |lut AS (
       |  SELECT q.query_id, q.coarse_cell, q.s, pc.cell_id AS code,
       |    ${l2Sql("q.sv", "pc.cv")} AS d
       |  FROM qrsub q JOIN rc2 pc ON q.s = pc.s),
       |adc AS (
       |  SELECT l.query_id, co.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc_dist
       |  FROM codes co JOIN lut l ON co.coarse_cell = l.coarse_cell
       |    AND co.s = l.s AND co.code = l.code
       |  GROUP BY l.query_id, co.vec_id)""".stripMargin

  /** Oracle for x23/x23b: IVFADC — the X7 coarse quantizer (trained
    * cosine k-means, identical CTEs) composed with residual-PQ
    * codebooks and per-probed-cell ADC. Every arithmetic step is the
    * BIGINT twin of [[graft.llm.Pq.ivfAdcTopK]]. */
  lazy val X23IvfPqSql: String =
    s"""${x23AdcCtesWith(probesFixedCte(2))}
       |SELECT query_id, rank, neighbor_id, adc_dist FROM (
       |  SELECT query_id, vec_id AS neighbor_id, adc_dist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist, vec_id) AS INTEGER) AS rank
       |  FROM adc WHERE vec_id != query_id)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** IVFADC shortlist + exact integer-cosine re-rank over any probe
    * policy — the BIGINT twin of [[graft.llm.Pq.ivfAdcTopKReranked]];
    * shared by the fixed-probe x23c and the adaptive x24c chain. */
  private def x23RerankSqlWith(probesCte: String, shortlist: Int, k: Int): String =
    s"""${x23AdcCtesWith(probesCte)},
       |short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc_dist, vec_id) AS rnk
       |    FROM adc WHERE vec_id != query_id)
       |  WHERE rnk <= $shortlist),
       |rer AS (
       |  SELECT sh.query_id, sh.vec_id AS neighbor_id,
       |    ${cosineSql("q.nv", "n.nv")} AS cosine
       |  FROM short sh
       |  JOIN v n ON n.vec_id = sh.vec_id
       |  JOIN v q ON q.vec_id = sh.query_id)
       |SELECT query_id, rank, neighbor_id, cosine FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM rer)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Oracle for x23c: the x23 IVFADC stage (fixed nProbe=2) ranked to
    * a 12-deep shortlist, then exact re-rank to top-3. */
  lazy val X23cRerankSql: String =
    x23RerankSqlWith(probesFixedCte(2), shortlist = 12, k = 3)

  /** The x24c serving chain: occupancy-ADAPTIVE coarse probe
    * (minCandidates = 64), 32-deep shortlist, exact re-rank to top-10
    * — the BIGINT twin of `ivfAdcTopKReranked(minCandidates=Some(64))`. */
  lazy val X24cAdaptiveChainSql: String =
    x23RerankSqlWith(probesAdaptiveCte(64), shortlist = 32, k = 10)

    def bucketSql(v: String, prefix: String): String =
      Similarity.planes(4, 64, prefix).map { plane =>
        val terms = plane.zipWithIndex.map { case (sign, j) =>
          if (sign > 0) s"+$v[${j + 1}]" else s"-$v[${j + 1}]"
        }.mkString
        s"CASE WHEN ($terms) > 0 THEN '1' ELSE '0' END"
      }.mkString(" || ")

    val shSql = {
      val tk = "regexp_split_to_array(text, '\\s+')"
      s"list_distinct(${ngramSql("tk", 3)})"
    }
    val simhash32Bits = (0 until 32).map { j =>
      s"SUM(CASE WHEN substring(md5(tok), ${j + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b$j"
    }.mkString(", ")
    val sim32 = (0 until 32).map(j => s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")

    val simhashBits = (0 until 16).map { j =>
      s"SUM(CASE WHEN substring(md5(tok), ${j + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b$j"
    }.mkString(", ")
    val simhashConcat = (0 until 16).map(j => s"CASE WHEN b$j > 0 THEN '1' ELSE '0' END").mkString(" || ")

    val minhash12 = (0 until 12).map { s =>
      s"list_aggregate(list_transform(sh, x -> md5('$s|' || x)), 'min')"
    }.mkString("[", ", ", "]")
    val bands4 = (0 until 4).map { b =>
      s"'$b#' || sig[${b * 3 + 1}] || '#' || sig[${b * 3 + 2}] || '#' || sig[${b * 3 + 3}]"
    }.mkString("[", ", ", "]")
    val minhash8 = (0 until 8).map { s =>
      s"list_aggregate(list_transform(sh, x -> md5('$s|' || x)), 'min')"
    }.mkString("[", ", ", "]")
    val bands4x2 = (0 until 4).map { b =>
      s"'$b#' || sig[${b * 2 + 1}] || '#' || sig[${b * 2 + 2}]"
    }.mkString("[", ", ", "]")

    def langHits(ws: Seq[String]): String = {
      val arr = ws.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter($arr, w -> list_contains(ts, w)))"
    }
    val Seq(de, en, fr) = TextAnalysis.LangWords.map(_._2)

    // `cap` replays nearDupPairs' maxBucketDf: band buckets holding
    // more than `cap` ids are dropped before the pair join.
    def x2CoreSql(cap: Option[Long]): String = {
      val bucketFilter = cap match {
        case None => "bands"
        case Some(c) =>
          s"""(SELECT b.* FROM bands b JOIN (
             |    SELECT band FROM bands GROUP BY band HAVING count(*) <= $c
             |  ) ok USING (band))""".stripMargin
      }
      s"""WITH corpus AS ($CorpusNearSql),
         |sh AS (
         |  SELECT doc_id AS id, $shSql AS sh
         |  FROM (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS tk FROM corpus)
         |  WHERE len($shSql) > 0
         |), sig AS (
         |  SELECT id, sh, $minhash12 AS sig FROM sh
         |), bands AS (
         |  SELECT id, sh, unnest($bands4) AS band FROM sig
         |), pairs AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
         |  FROM $bucketFilter a JOIN $bucketFilter b ON a.band = b.band AND a.id < b.id)
         |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5""".stripMargin
    }
    val x2Core = x2CoreSql(None)

    // shared by x8/x8b and x15/x15b: the staged-artifact twins must be
    // value-invisible, so each pair replays ONE oracle text
    val x8ClustersSql =
      s"""WITH RECURSIVE np AS ($x2Core),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM np
         |  UNION SELECT id_b, id_a FROM np),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src)
         |SELECT id, MIN(r) AS cluster FROM reach GROUP BY id ORDER BY id""".stripMargin
    val x15CanonicalSql =
      s"""WITH RECURSIVE np AS ($x2Core),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM np
         |  UNION SELECT id_b, id_a FROM np),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
         |clusters AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
         |corpus AS ($CorpusNearSql),
         |scored AS (
         |  SELECT c.cluster, c.id,
         |    least(CAST(len(ts) AS DOUBLE) / 50.0, 1.0) *
         |    (1.0 - CAST(len(list_filter(ts, t -> list_contains($StopSql, t))) AS DOUBLE)
         |           / CAST(len(ts) AS DOUBLE)) AS score
         |  FROM clusters c JOIN (
         |    SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM corpus) d
         |    ON c.id = d.doc_id),
         |rep AS (
         |  SELECT cluster, id, row_number() OVER (PARTITION BY cluster
         |    ORDER BY score DESC, id ASC) AS rn
         |  FROM scored)
         |SELECT m.cluster, m.n_members, r.rep_id
         |FROM (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members
         |      FROM scored GROUP BY cluster) m
         |JOIN (SELECT cluster, id AS rep_id FROM rep WHERE rn = 1) r USING (cluster)
         |ORDER BY m.cluster""".stripMargin

}
