package graft.registry

import graft.Tables
import graft.llm.{Contamination, Corpus, DedupLsh, Inference, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import LlmFixtures._
import TextQueries.{StopSql, ngramSql}

/** y-family: text analysis, corpus statistics, TF-IDF / LM scoring,
  * chunking / packing / sharding, sampling; shared fixtures in
  * [[LlmFixtures]]. */
object CorpusAnalysisQueries {

  /** One unrolled BPE round (the kmeansIterSql pattern): count pairs
    * over v{j-1}, take the (cnt desc, pair asc) argmax, apply the
    * greedy marker-pinned replace. */
  private def bpeIterSql(j: Int): String = {
    val prev = s"v${j - 1}"
    s"""p$j AS (
       |  SELECT pair, SUM(freq) AS cnt FROM (
       |    SELECT freq, unnest(list_transform(generate_series(1, len(syms) - 1),
       |      i -> syms[i] || ' ' || syms[i + 1])) AS pair
       |    FROM (SELECT freq, string_split(sym, ' ') AS syms FROM $prev))
       |  GROUP BY pair),
       |b$j AS (SELECT pair, cnt FROM p$j ORDER BY cnt DESC, pair LIMIT 1),
       |v$j AS (
       |  SELECT freq, rtrim(replace(sym || ' ', COALESCE((SELECT pair FROM b$j), chr(1)) || ' ',
       |    '_' || replace(replace(COALESCE((SELECT pair FROM b$j), chr(1)), '_', ''), ' ', '') || ' ')) AS sym
       |  FROM $prev)""".stripMargin
  }
  // COALESCE to chr(1): when a merge round has no candidate pair (a
  // degenerate corpus with < 6 trainable merges), the scalar subquery
  // is NULL and a bare replace() would cascade sym to NULL and every
  // downstream bpe_text to '' — a SILENT divergence, because the Spark
  // side fails LOUDLY there (bpeMerges requires a surviving pair each
  // round). The chr(1) sentinel never occurs in a symbol string, so a
  // pairless round becomes a visible no-op instead of corrupt output;
  // the engines still differ on degenerate input (loud vs pass-through)
  // but no longer silently.

  /** Shared BPE training CTE chain (y24 merge table, y28 encode): the
    * word-frequency base + 6 unrolled merge rounds, ending with merge
    * tables b1..b6 and vocab states v0..v6. */
  private[registry] lazy val bpeTrainCte: String =
    s"""w AS (
       |  SELECT word, COUNT(*) AS freq FROM (
       |    SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS word
       |    FROM documents)
       |  GROUP BY word),
       |v0 AS (
       |  SELECT freq, '_' || list_aggregate(
       |    list_transform(generate_series(1, length(word)), i -> word[i]),
       |    'string_agg', ' _') AS sym
       |  FROM w),
       |${(1 to 6).map(bpeIterSql).mkString(",\n")}""".stripMargin

  /** Nested apply of the learned merges to a marker-form symbol string
    * — the encode twin of [[bpeIterSql]]'s rewrite, referencing the
    * same b1..bN merge CTEs as scalar subqueries. */
  private[registry] def bpeApplySql(inner: String, rounds: Int): String =
    (1 to rounds).foldLeft(inner) { (prev, j) =>
      s"rtrim(replace($prev || ' ', (SELECT pair FROM b$j) || ' ', " +
        s"'_' || replace(replace((SELECT pair FROM b$j), '_', ''), ' ', '') || ' '))"
    }

  /** Shared by y20 and its staged-model twin y20b: serving from the
    * persisted model must be value-invisible, so both replay one
    * oracle text. */
  // shared by y28/y28b: the staged-model twin must be value-invisible,
  // so both replay one oracle text (the DuckDB side always trains —
  // staging is a Spark-side cost split, not a semantic change).
  private lazy val y28EncodeSql: String =
    s"""WITH $bpeTrainCte,
       |tok AS (
       |  SELECT doc_id, u.pos AS pos, u.word AS word
       |  FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)),
       |          i -> struct_pack(pos := i, word := ws[i]))) AS u
       |        FROM (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS ws
       |              FROM documents))),
       |enc AS (
       |  SELECT word,
       |    ${bpeApplySql(
              "('_' || list_aggregate(list_transform(generate_series(1, " +
                "length(word)), i -> word[i]), 'string_agg', ' _'))", 6)} AS sym
       |  FROM (SELECT DISTINCT word FROM tok)),
       |agg AS (
       |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(len(string_split(e.sym, ' '))) AS BIGINT) AS n_bpe_tokens,
       |    string_agg(e.sym, ' ' ORDER BY t.pos) AS bpe_text
       |  FROM tok t JOIN enc e USING (word) GROUP BY t.doc_id)
       |SELECT d.doc_id, COALESCE(a.n_words, 0) AS n_words,
       |  COALESCE(a.n_bpe_tokens, 0) AS n_bpe_tokens,
       |  COALESCE(a.bpe_text, '') AS bpe_text
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // shared by y21/y21b: the staged-model twin must be value-invisible,
  // so both replay one oracle text (the DuckDB side always trains --
  // staging is a Spark-side cost split, not a semantic change).
  private lazy val y21DsirSql: String =
    """WITH tf AS (
          |  SELECT doc_id, term, COUNT(*) AS tf FROM (
          |    SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
          |    FROM documents)
          |  GROUP BY doc_id, term),
          |tgtids AS (SELECT doc_id FROM documents WHERE lang = 'en'),
          |raw AS (SELECT term, SUM(tf) AS c_raw FROM tf GROUP BY term),
          |tgt AS (SELECT term, SUM(tf) AS c_tgt FROM tf JOIN tgtids USING (doc_id)
          |        GROUP BY term),
          |vocab AS (SELECT r.term, c_raw, COALESCE(c_tgt, 0) AS c_tgt
          |          FROM raw r LEFT JOIN tgt USING (term)),
          |tot AS (SELECT SUM(c_raw) AS t_raw, SUM(c_tgt) AS t_tgt, COUNT(*) AS v
          |        FROM vocab),
          |sc AS (
          |  SELECT tf.doc_id, SUM(tf.tf) AS n_tokens,
          |    SUM(tf.tf *
          |      (CAST(floor(ln(CAST(c_tgt + 1 AS DOUBLE) / (t_tgt + v)) * 1e6) AS BIGINT)
          |     - CAST(floor(ln(CAST(c_raw + 1 AS DOUBLE) / (t_raw + v)) * 1e6) AS BIGINT)))
          |      AS weight_micro
          |  FROM tf JOIN vocab USING (term) CROSS JOIN tot
          |  GROUP BY tf.doc_id),
          |f AS (
          |  SELECT d.doc_id, d.lang, COALESCE(sc.n_tokens, 0) AS n_tokens,
          |    COALESCE(sc.weight_micro, 0) AS weight_micro
          |  FROM documents d LEFT JOIN sc USING (doc_id))
          |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
          |  CAST(weight_micro AS BIGINT) AS weight_micro
          |FROM f ORDER BY weight_micro DESC, doc_id LIMIT 200""".stripMargin

  private lazy val y20NbSql: String =
    s"""WITH $nbCte
       |SELECT b.doc_id, d.lang, b.pred,
       |  CAST(b.score_micro AS BIGINT) AS score_micro,
       |  CAST(b.n_scored AS BIGINT) AS n_scored
       |FROM best b JOIN documents d USING (doc_id)
       |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Shared Naive-Bayes CTE chain (y20 per-doc argmax, y29 eval
    * cells): seed-trained multinomial NB in integer micro-nats,
    * ending at `best` = one row per (doc, class) with the rn = 1
    * argmax marker. */
  private lazy val nbCte: String =
    """tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
      |    FROM documents)
      |  GROUP BY doc_id, term),
      |seed AS (SELECT doc_id, lang AS cls FROM documents
      |         WHERE md5(CAST(doc_id AS VARCHAR)) < '8'),
      |ct AS (SELECT cls, term, SUM(tf.tf) AS c
      |       FROM tf JOIN seed USING (doc_id) GROUP BY cls, term),
      |v AS (SELECT COUNT(DISTINCT term) AS v FROM ct),
      |pri AS (SELECT cls,
      |    CAST(floor(ln(CAST(d AS DOUBLE) / d_tot) * 1e6) AS BIGINT) AS prior_micro
      |  FROM (SELECT cls, COUNT(*) AS d FROM seed GROUP BY cls)
      |  CROSS JOIN (SELECT COUNT(*) AS d_tot FROM seed)),
      |ctot AS (
      |  SELECT p.cls, COALESCE(s.n_cls, 0) AS n_cls
      |  FROM pri p LEFT JOIN (SELECT cls, SUM(c) AS n_cls FROM ct
      |                        GROUP BY cls) s USING (cls)),
      |grid AS (
      |  SELECT t.term, ctot.cls,
      |    CAST(floor(ln(CAST(COALESCE(ct.c, 0) + 1 AS DOUBLE)
      |      / (ctot.n_cls + v.v)) * 1e6) AS BIGINT) AS lp_micro
      |  FROM (SELECT DISTINCT term FROM ct) t
      |  CROSS JOIN ctot
      |  LEFT JOIN ct ON ct.term = t.term AND ct.cls = ctot.cls
      |  CROSS JOIN v),
      |sc AS (
      |  SELECT tf.doc_id, grid.cls, SUM(tf.tf * grid.lp_micro) AS ll_micro,
      |         SUM(tf.tf) AS n_scored
      |  FROM tf JOIN grid USING (term) GROUP BY tf.doc_id, grid.cls),
      |fl AS (
      |  SELECT d.doc_id, p.cls,
      |    p.prior_micro + COALESCE(sc.ll_micro, 0) AS score_micro,
      |    COALESCE(sc.n_scored, 0) AS n_scored
      |  FROM documents d CROSS JOIN pri p
      |  LEFT JOIN sc ON sc.doc_id = d.doc_id AND sc.cls = p.cls),
      |best AS (
      |  SELECT doc_id, cls AS pred, score_micro, n_scored,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |                       ORDER BY score_micro DESC, cls) AS rn
      |  FROM fl)""".stripMargin

  /** Shared Gopher-rule CTE chain (y23 row-level, y25 source-level):
    * ends at `rk` = one row per doc with the milli-ratios + keep bit. */
  private lazy val gopherCte: String =
    s"""t AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(ts) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(ts, w -> length(w))) AS BIGINT) AS cs,
       |    CAST(len(list_filter(ts, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS ah,
       |    CAST(len(list_filter(ts, w -> w = '#' OR contains(w, '...'))) AS BIGINT) AS sh,
       |    CAST(len(list_filter(ts, w -> list_contains($StopSql, w))) AS BIGINT) AS stop_hits
       |  FROM t),
       |r AS (
       |  SELECT doc_id, n_words,
       |    CASE WHEN n_words > 0 THEN cs * 1000 // n_words END AS mean_len_milli,
       |    CASE WHEN n_words > 0 THEN ah * 1000 // n_words END AS alpha_milli,
       |    CASE WHEN n_words > 0 THEN sh * 1000 // n_words END AS symbol_milli,
       |    stop_hits
       |  FROM m),
       |rk AS (
       |  SELECT *,
       |    (n_words >= 5 AND n_words <= 100000
       |     AND mean_len_milli >= 3000 AND mean_len_milli <= 10000
       |     AND alpha_milli >= 800 AND stop_hits >= 2
       |     AND symbol_milli < 100) AS kept
       |  FROM r)""".stripMargin

  // last in the object: the oracles interpolate the SQL fragments above
  val queries: Seq[Query] = Seq(
    Query("y1_langid",
      s"""SELECT doc_id,
         |  CASE WHEN hd >= he AND hd >= hf AND hd > 0 THEN 'de'
         |       WHEN he >= hf AND he > 0 THEN 'en'
         |       WHEN hf > 0 THEN 'fr'
         |       ELSE 'und' END AS lang_pred
         |FROM (
         |  SELECT doc_id, ${langHits(de)} AS hd, ${langHits(en)} AS he, ${langHits(fr)} AS hf
         |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM documents))
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },
    Query("y2_quality_score",
      s"""SELECT doc_id,
         |  least(CAST(len(ts) AS DOUBLE) / 50.0, 1.0) *
         |  (1.0 - CAST(len(list_filter(ts, t -> list_contains($StopSql, t))) AS DOUBLE)
         |         / CAST(len(ts) AS DOUBLE)) AS score
         |FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM documents)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("score"))
        .orderBy("doc_id")
    },
    Query("y3_token_count",
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_re
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.tokenCountWhitespace(col("text")).as("n_ws"),
          TextAnalysis.tokenCountRegex(col("text")).as("n_re"))
        .orderBy("doc_id")
    },
    Query("y4_fingerprint",
      s"""SELECT doc_id, md5(text) AS fp_exact,
         |  CASE WHEN len($shSql) > 0
         |       THEN list_aggregate(list_transform($shSql, x -> md5(x)), 'min')
         |       ELSE md5(text) END AS fp_shingle
         |FROM (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS tk FROM documents)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("tk", split(col("text"), "\\s+"))
        .withColumn("sh", DedupLsh.shinglesFromTokens(col("tk"), 3))
        .select(col("doc_id"),
          TextAnalysis.md5Fingerprint(col("text")).as("fp_exact"),
          TextAnalysis.minShingleFromShingles(col("sh"), col("text")).as("fp_shingle"))
        .orderBy("doc_id")
    },
    // y9 — intra-document repetition filter (Gopher/C4-style signal)
    Query("y9_repetition_filter",
      """WITH g AS (
        |  SELECT doc_id,
        |         CASE WHEN len(t) >= 3
        |              THEN list_transform(generate_series(1, len(t) - 2),
        |                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |              ELSE []::VARCHAR[] END AS gs
        |  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents)),
        |r AS (
        |  SELECT doc_id,
        |         CASE WHEN len(gs) > 0
        |              THEN CAST(1 AS DOUBLE) - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs)
        |              ELSE CAST(0 AS DOUBLE) END AS rep_ratio
        |  FROM g)
        |SELECT doc_id, rep_ratio, rep_ratio <= 0.2 AS kept
        |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // spread before the per-row gram HOFs: the documents scan is 1-2
      // splits at bench scale and the repetition pass otherwise runs
      // on those tasks alone (measured two 1-task stages, 1.0 + 0.6 s
      // at sf0.1); guard skips the shuffle on already-wide scans (r21)
      graft.ops.Partitions.spreadForCpu(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), split(col("text"), "\\s+").as("tk"))
        .select(col("doc_id"),
          Contamination.repetitionRatio(col("tk"), 3).as("rep_ratio"))
        .withColumn("kept", col("rep_ratio") <= 0.2)
        .orderBy("doc_id")
    },
    Query("y5_curation_funnel",
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    CASE WHEN hd >= he AND hd >= hf AND hd > 0 THEN 'de'
         |         WHEN he >= hf AND he > 0 THEN 'en'
         |         WHEN hf > 0 THEN 'fr'
         |         ELSE 'und' END AS lang_pred,
         |    least(CAST(len(ts) AS DOUBLE) / 50.0, 1.0) *
         |    (1.0 - CAST(len(list_filter(ts, t -> list_contains($StopSql, t))) AS DOUBLE)
         |           / CAST(len(ts) AS DOUBLE)) AS score,
         |    CAST(len(ts) AS BIGINT) AS n_tokens
         |  FROM (
         |    SELECT doc_id, ${langHits(de)} AS hd, ${langHits(en)} AS he,
         |           ${langHits(fr)} AS hf, ts
         |    FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM documents)))
         |SELECT doc_id, lang_pred, score FROM scored
         |WHERE lang_pred != 'und' AND score > 0.2 AND n_tokens >= 5
         |  AND md5(CAST(doc_id AS VARCHAR)) <
         |      (CASE WHEN lang_pred = 'en' THEN '80' ELSE 'g' END)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // the full curation path a training pipeline runs end-to-end:
      // score (lang-ID, quality, token count) → threshold filter →
      // per-language stratified downsample (en 50%, rest kept). All
      // narrow per-row work until the final sample filter — one scan,
      // zero shuffles before the output sort.
      // spread the three per-row scoring passes across cores: the
      // documents scan is 1-2 splits at bench scale and the whole
      // scoring pass otherwise runs single-task (measured a 1-task
      // 2.0 s stage at sf0.1); guard skips the shuffle on wide scans
      val scored = graft.ops.Partitions.spreadForCpu(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang_pred"),
          TextAnalysis.qualityScore(col("text")).as("score"),
          TextAnalysis.tokenCountWhitespace(col("text")).as("n_tokens"))
      val filtered = scored.filter(
        col("lang_pred") =!= "und" && col("score") > 0.2 && col("n_tokens") >= 5L)
      graft.ops.Rows
        .stratifiedHashSample(filtered, "lang_pred", Seq("doc_id"),
          Map("en" -> 0.5), default = 1.0)
        .select("doc_id", "lang_pred", "score")
        .orderBy("doc_id")
    },
    Query("y6_vocab_topk",
      """SELECT token, COUNT(*) AS cnt
        |FROM (SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS token FROM documents)
        |GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 200""".stripMargin) { (s, dir) =>
      // vocabulary building: global token frequencies, top 200 —
      // explode → hash agg (map-side partial combine carries the
      // corpus-scale load) → one small top-k sort. The op that seeds a
      // tokenizer/BPE vocab over the whole corpus.
      Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(TextAnalysis.regexTokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc)
        .limit(200)
    },
    Query("y7_corpus_stats",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |       CAST(SUM(n_tok) AS DOUBLE) / COUNT(*) AS avg_tokens
        |FROM (SELECT lang, n_chars,
        |             len(regexp_split_to_array(text, '\s+')) AS n_tok
        |      FROM documents)""".stripMargin) { (s, dir) =>
      // one-pass corpus summary: doc/token/char volumes and per-lang
      // spread — the report row a curation run logs per snapshot
      Tables.documents(s, dir)
        .select(col("lang"), col("n_chars"),
          TextAnalysis.tokenCountWhitespace(col("text")).as("n_tok"))
        .agg(
          count(lit(1)).as("n_docs"),
          count_distinct(col("lang")).as("n_langs"),
          sum(col("n_tok")).as("total_tokens"),
          sum(col("n_chars").cast("long")).as("total_chars"),
          (sum(col("n_tok")).cast("double") / count(lit(1))).as("avg_tokens"))
    },
    // y8 — per-language length distribution (p50/p95/p99): the report a
    // curation run uses to pick truncation cutoffs. DISCRETE percentiles
    // (value at rank ceil(p·n) under (n_chars, doc_id) order): integer-
    // exact and engine-portable — continuous-interpolation percentiles
    // differ between engines in the last ulp and break hash compare.
    // Scale: one window keyed by lang (distributed across languages),
    // then a hash agg; never a driver-side sort.
    Query("y8_length_percentiles",
      """WITH r AS (
        |  SELECT lang, n_chars,
        |         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY lang) AS cnt
        |  FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       MIN(CASE WHEN rn = ceil(cnt * 0.5) THEN n_chars END) AS p50,
        |       MIN(CASE WHEN rn = ceil(cnt * 0.95) THEN n_chars END) AS p95,
        |       MIN(CASE WHEN rn = ceil(cnt * 0.99) THEN n_chars END) AS p99
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
      val cw = Window.partitionBy(col("lang"))
      val ranked = Tables.documents(s, dir)
        .select(col("lang"), col("n_chars"), col("doc_id"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("cnt", count(lit(1)).over(cw))
      def pct(p: Double, name: String) =
        min(when(col("rn") === ceil(col("cnt") * p), col("n_chars"))).as(name)
      ranked.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), pct(0.5, "p50"), pct(0.95, "p95"), pct(0.99, "p99"))
        .orderBy("lang")
    },
    // y10 — fixed-window token chunking: the pass that cuts documents
    // into training samples (32-token windows, stride 24 → 8-token
    // overlap). Pure per-row explode, no shuffle before the sink.
    Query("y10_doc_chunks",
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS tk FROM documents),
        |n AS (
        |  SELECT doc_id, tk,
        |    CAST(1 + floor((greatest(len(tk) - 32, 0) + 23) / 24.0) AS BIGINT) AS n_chunks
        |  FROM t),
        |c AS (
        |  SELECT doc_id, tk, unnest(generate_series(0, n_chunks - 1)) AS chunk_idx FROM n)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(len(tk[(chunk_idx*24 + 1):(chunk_idx*24 + 32)]) AS BIGINT) AS n_tokens,
        |  array_to_string(tk[(chunk_idx*24 + 1):(chunk_idx*24 + 32)], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      Corpus.chunk(Tables.documents(s, dir), "doc_id", "text", size = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx")
    },
    // y11 — corpus-frequent-segment boilerplate scoring (CCNet-style
    // at 2-token segment granularity; fixture docs are short random
    // draws over a small vocabulary, so real segment collisions exist)
    Query("y11_boilerplate",
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS tk FROM documents),
        |s AS (
        |  SELECT doc_id, array_to_string(tk[((i-1)*2+1):((i-1)*2+2)], ' ') AS seg
        |  FROM (SELECT doc_id, tk,
        |          unnest(generate_series(1, CAST(floor(len(tk)/2.0) AS BIGINT))) AS i
        |        FROM t)),
        |df AS (
        |  SELECT seg, COUNT(*) AS seg_df
        |  FROM (SELECT DISTINCT doc_id, seg FROM s) GROUP BY seg),
        |pd AS (
        |  SELECT s.doc_id, COUNT(*) AS n_segs,
        |         SUM(CASE WHEN df.seg_df >= 8 THEN 1 ELSE 0 END) AS n_boiler
        |  FROM s JOIN df USING (seg) GROUP BY s.doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(pd.n_segs, 0) AS BIGINT) AS n_segs,
        |  CAST(COALESCE(pd.n_boiler, 0) AS BIGINT) AS n_boiler,
        |  COALESCE(round(CAST(pd.n_boiler AS DOUBLE) / pd.n_segs, 6), 0.0) AS boiler_frac,
        |  COALESCE(round(CAST(pd.n_boiler AS DOUBLE) / pd.n_segs, 6), 0.0) <= 0.5 AS kept
        |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      Corpus.boilerplate(Tables.documents(s, dir), "doc_id", "text",
        segLen = 2, minDf = 8L, maxFrac = 0.5)
        .orderBy("doc_id")
    },
    // y12 — TF-IDF top-5 terms per document over the regex tokenizer
    Query("y12_tfidf_topk",
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term ASC) AS rn
        |  FROM scored)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
        |FROM ranked WHERE rn <= 5
        |ORDER BY doc_id, score DESC, term""".stripMargin) { (s, dir) =>
      Corpus.tfidfTopK(Tables.documents(s, dir), "doc_id", "text", k = 5)
        .orderBy(col("doc_id"), col("score").desc, col("term"))
    },
    // y13 — unigram-LM document scoring in fixed-point micro-nats
    // (double sums are order-sensitive; integer sums compare exactly)
    Query("y13_unigram_logprob",
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
        |  FROM documents),
        |counts AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
        |tot AS (SELECT SUM(cnt) AS total FROM counts),
        |scored AS (
        |  SELECT tok.doc_id,
        |         CAST(floor(ln(CAST(counts.cnt AS DOUBLE) / tot.total) * 1e6)
        |              AS BIGINT) AS lp_micro
        |  FROM tok JOIN counts USING (term) CROSS JOIN tot),
        |pd AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens, SUM(lp_micro) AS lp
        |  FROM scored GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(pd.lp, 0) AS BIGINT) AS logprob_micro
        |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      Corpus.unigramLogProb(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },
    // y16 — bigram-LM scoring: MLE conditional P(w2|w1) in fixed-point
    // micro-nats; the denominator joins are vocabulary-sized, so the
    // Zipf-head first token never skews a corpus-sized shuffle
    Query("y16_bigram_logprob",
      s"""WITH tok AS (
         |  SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS tk
         |  FROM documents),
         |bgs AS (SELECT doc_id, unnest(${ngramSql("tk", 2)}) AS bg FROM tok),
         |tf AS (SELECT doc_id, bg, COUNT(*) AS tf FROM bgs GROUP BY doc_id, bg),
         |counts AS (
         |  SELECT bg, split_part(bg, ' ', 1) AS w1, SUM(tf) AS cnt
         |  FROM tf GROUP BY bg),
         |w1tot AS (SELECT w1, SUM(cnt) AS cnt1 FROM counts GROUP BY w1),
         |pd AS (
         |  SELECT tf.doc_id, SUM(tf.tf) AS n_bigrams,
         |    SUM(tf.tf * CAST(floor(ln(CAST(c.cnt AS DOUBLE) / w.cnt1) * 1e6)
         |        AS BIGINT)) AS lp
         |  FROM tf JOIN counts c USING (bg) JOIN w1tot w ON c.w1 = w.w1
         |  GROUP BY tf.doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  CAST(COALESCE(pd.lp, 0) AS BIGINT) AS logprob_micro
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      Corpus.bigramLogProb(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },
    // y17 — length-aware inference batching: equal-token-count batches
    // pad zero tokens; assignment is a pure (n_tokens, id-order)
    // function, replayable cross-engine
    Query("y17_inference_batches",
      """SELECT doc_id, n_tokens,
        |  CAST(floor((row_number() OVER (PARTITION BY n_tokens ORDER BY doc_id) - 1)
        |       / 8.0) AS BIGINT) AS batch_seq
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Inference.inferenceBatches(Tables.documents(s, dir), "doc_id", "text",
        batchSize = 8)
        .orderBy("doc_id")
    },
    // y18 — winnowing fingerprints (rolling-hash local dedup signal):
    // the native O(n) codegen expression vs the oracle's direct
    // per-gram polynomial replay; exploded to rows so the compare is
    // scalar. k=5-byte grams, w=4 windows
    Query("y18_winnow_fingerprint",
      s"""WITH ${winnowSql(5, 4, "documents")}
         |SELECT doc_id, unnest(list_sort(list_distinct(m))) AS fp
         |FROM mins ORDER BY doc_id, fp""".stripMargin) { (s, dir) =>
      graft.functions.WinnowFingerprint.register(s)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(call_function("winnowq", col("text"), lit(5), lit(4))).as("fp"))
        .orderBy("doc_id", "fp")
    },
    // y21 — DSIR-style data selection (Xie et al. 2023): importance
    // weight = log p_target(doc) − log p_raw(doc) under add-1-smoothed
    // unigram LMs (target = lang:'en'), fixed-point micro-nats, then
    // the deterministic top-200 slice via TakeOrdered (exp()-resampling
    // is not replayable cross-engine; the hard threshold is)
    Query("y21_dsir_select", y21DsirSql) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Corpus.importanceWeights(docs, "doc_id", "text", col("lang") === "en")
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .orderBy(col("weight_micro").desc, col("doc_id").asc)
        .limit(200)
        .select("doc_id", "lang", "n_tokens", "weight_micro")
    },
    // y21b — y21 against the STAGED DSIR model: the scoring sweep
    // reads the trained (term, c_raw, c_tgt) vocab + totals from
    // parquet instead of re-paying the corpus-sized double aggregate
    // per call — production DSIR trains its target/raw distributions
    // once and scores every candidate batch against them (Xie et al.
    // 2023 §3; the y20b/y28b split applied to data selection). Same
    // oracle as y21: staging must be value-invisible.
    Query("y21b_dsir_select_staged", y21DsirSql) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val (vocab, totals) = stagedDsirModel(s, dir)
      Corpus.importanceWeightsStaged(docs, "doc_id", "text", vocab, totals)
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .orderBy(col("weight_micro").desc, col("doc_id").asc)
        .limit(200)
        .select("doc_id", "lang", "n_tokens", "weight_micro")
    },
    // y20 — multinomial Naive Bayes lang classifier (the fastText-
    // classifier slot of a CCNet/GPT-3 curation stack): train on an
    // md5-gated 50% labeled seed, score every doc, argmax in integer
    // micro-nats so the predictions replay cross-engine exactly
    Query("y20_nb_classifier", y20NbSql) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.llm.Classifier.naiveBayes(docs, "doc_id", "text", nbSeedLabel)
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .select("doc_id", "lang", "pred", "score_micro", "n_scored")
        .orderBy("doc_id")
    },
    // y20b — y20 against the STAGED model artifact (terms + classes
    // parquet, trained once per snapshot): the scoring sweep pays
    // tokenize + one vocabulary join, no seed re-scan, no training
    // aggregates, no pivot — the train-once/serve-many split a
    // production curation stack runs (x22b/x14b's artifact pattern
    // applied to the classifier). Same oracle as y20: serving from
    // the persisted model must be value-invisible.
    // identical semantics through the persisted-model round-trip
    Query("y20b_nb_staged_model", y20NbSql) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val (terms, classes) = stagedNbModel(s, dir)
      graft.llm.Classifier.naiveBayesFromModel(docs, "doc_id", "text",
          terms, classes)
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .select("doc_id", "lang", "pred", "score_micro", "n_scored")
        .orderBy("doc_id")
    },
    // y29 — classifier EVAL gate (x24's recall-gate pattern applied to
    // y20): confusion cells of the NB argmax vs the true labels on the
    // HELD-OUT half (docs outside the md5 < '8' seed), with exact
    // per-truth-class milli-rates. Pure groupBys over y20's output —
    // the diagonal rows are per-class recall, the off-diagonals name
    // the confusion direction. The check a production curation stack
    // runs before trusting a classifier's keep/drop decisions.
    // Predictions come from the STAGED model (y20b's artifact) rather
    // than an inline retrain: eval gates run per candidate-batch
    // against the same persisted model the scorer serves — retraining
    // inside the gate both re-pays the training aggregates and risks
    // evaluating a different model than the one deployed (round-14
    // verdict item 4). Same oracle as before: same model, same preds.
    // y29 — classifier EVAL gate (the x24 recall-gate pattern for
    // y20): confusion cells of the NB argmax vs true labels on the
    // held-out half, with per-truth-class milli-rates — the check a
    // production curation stack runs before trusting a classifier
    Query("y29_nb_eval",
      s"""WITH $nbCte,
         |hold AS (
         |  SELECT d.lang AS truth, b.pred
         |  FROM best b JOIN documents d USING (doc_id)
         |  WHERE b.rn = 1 AND md5(CAST(d.doc_id AS VARCHAR)) >= '8'),
         |cells AS (
         |  SELECT truth, pred, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM hold GROUP BY truth, pred),
         |tot AS (SELECT truth, SUM(n) AS n_truth FROM cells GROUP BY truth)
         |SELECT c.truth, c.pred, c.n, CAST(t.n_truth AS BIGINT) AS n_truth,
         |  CAST(c.n * 1000 // t.n_truth AS BIGINT) AS cell_milli
         |FROM cells c JOIN tot t USING (truth)
         |ORDER BY c.truth, c.pred""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val (terms, classes) = stagedNbModel(s, dir)
      val preds = graft.llm.Classifier.naiveBayesFromModel(docs, "doc_id",
        "text", terms, classes)
      val cells = preds
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .filter(md5(col("doc_id").cast("string")) >= "8")
        .groupBy(col("lang").as("truth"), col("pred"))
        .agg(count(lit(1)).as("n"))
      cells
        .join(cells.groupBy("truth").agg(sum(col("n")).as("n_truth")), "truth")
        .withColumn("cell_milli", expr("n * 1000 div n_truth"))
        .orderBy("truth", "pred")
    },
    // y22 — exact heavy hitters (tokens above 1/200 of all instances)
    // via two scans with Misra–Gries candidate pruning: the shuffle
    // carries <= partitions·k candidate rows instead of the whole
    // vocabulary, and the pruning is value-invisible (exact counts,
    // partitioning-independent) so the oracle is a plain HAVING
    Query("y22_heavy_hitters",
      """WITH tok AS (
        |  SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
        |  FROM documents),
        |tot AS (SELECT COUNT(*) AS n_total FROM tok)
        |SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(n_total AS BIGINT) AS n_total
        |FROM tok CROSS JOIN tot
        |GROUP BY term, n_total
        |HAVING COUNT(*) * 200 > n_total
        |ORDER BY cnt DESC, term""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(explode(TextAnalysis.regexTokens(col("text"))).as("term"))
      graft.llm.Sketches.exactHeavyHitters(toks, "term", phiDen = 200L, k = 256)
        .orderBy(col("cnt").desc, col("term").asc)
    },
    // y23 — Gopher quality-rule bundle (Rae et al. 2021): word count,
    // mean word length, alphabetic/symbol/stop-word ratios as exact
    // integer milli-fractions + the composite keep bit. Pure per-row
    // codegen'd exprs: zero shuffles, scan-bound at any corpus size.
    Query("y23_gopher_rules",
      s"""WITH $gopherCte
         |SELECT doc_id, n_words, mean_len_milli, alpha_milli, symbol_milli,
         |  stop_hits, kept
         |FROM rk ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.gopherRules(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },
    // y24 — BPE tokenizer training (6 merges): corpus touched once
    // (word-frequency agg), then vocabulary-sized pair-count rounds
    // with a 1-row argmax each; tie-break on the pair string makes
    // the merge sequence deterministic enough to replay in SQL
    Query("y24_bpe_merges",
      s"""WITH $bpeTrainCte
         |SELECT * FROM (
         |  ${(1 to 6).map(j =>
              s"SELECT CAST($j AS INTEGER) AS rank, pair, CAST(cnt AS BIGINT) AS cnt FROM b$j")
              .mkString("\n  UNION ALL ")}
         |) ORDER BY rank""".stripMargin) { (s, dir) =>
      Corpus.bpeMerges(Tables.documents(s, dir), "doc_id", "text",
        numMerges = 6)
        .orderBy("rank")
    },
    // y28 — BPE ENCODE (the apply half of y24): every document
    // rewritten as its symbol sequence under the 6 learned merges.
    // The merge replaces run over the distinct-word table only (the
    // production tokenizer cache); the corpus pays one word-keyed
    // join + a doc-local re-assembly, never m rewrites of the corpus.
    Query("y28_bpe_encode", y28EncodeSql) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val merges = Corpus.bpeMerges(docs, "doc_id", "text", numMerges = 6)
        .orderBy("rank").collect().map(_.getString(1)).toSeq
      Corpus.bpeEncode(docs, "doc_id", "text", merges).orderBy("doc_id")
    },
    // y28b — y28 against the STAGED merge table: the encode sweep
    // reads the trained (rank, pair) model from parquet instead of
    // re-paying the full corpus word-frequency aggregate plus 6 argmax
    // rounds per call — the y20b train-once/serve-many split applied
    // to the tokenizer (every production encoder loads its merges, it
    // never retrains them per shard). Same oracle as y28: staging must
    // be value-invisible.
    Query("y28b_bpe_encode_staged", y28EncodeSql) { (s, dir) =>
      val merges = Corpus.loadBpeModel(s, stagedBpeModelPath(s, dir))
      Corpus.bpeEncode(Tables.documents(s, dir), "doc_id", "text", merges)
        .orderBy("doc_id")
    },
    // y25 — source-level quality funnel (the data-derived analog of a
    // UT1-style source blocklist): per-source Gopher keep rates as
    // exact milli-integers; sources below 30% keep get flagged. One
    // scan + one source-keyed agg on top of y23's per-row exprs.
    Query("y25_source_quality",
      s"""WITH $gopherCte
         |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(n_words) AS BIGINT) AS n_words,
         |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) * 1000 // COUNT(*)
         |    AS BIGINT) AS keep_milli,
         |  (SUM(CASE WHEN kept THEN 1 ELSE 0 END) * 1000 // COUNT(*)) < 300 AS flagged
         |FROM rk JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      TextAnalysis.gopherRules(docs, "doc_id", "text")
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(col("n_words")).as("n_words"))
        .withColumn("keep_milli", expr("n_kept * 1000 div n_docs"))
        .withColumn("flagged", col("keep_milli") < 300L)
        .orderBy("source")
    },
    // y26 — per-language distribution drift between snapshots: KL(new
    // ‖ base) over add-1-smoothed unigram LMs in integer micro-nats —
    // the per-ingest monitor that flags a source gone rogue before the
    // data trains anything. Newer snapshot = corpus ∪ the x25 batch
    // texture (its "fresh" third visibly skews the vocabulary).
    Query("y26_corpus_drift",
      s"""WITH batch AS ($IngestBatchSql),
         |newer AS (
         |  SELECT doc_id, lang, text FROM documents
         |  UNION ALL SELECT doc_id, lang, text FROM batch),
         |tb AS (
         |  SELECT lang, term, COUNT(*) AS c_b FROM (
         |    SELECT lang, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
         |    FROM documents)
         |  GROUP BY lang, term),
         |tn AS (
         |  SELECT lang, term, COUNT(*) AS c_n FROM (
         |    SELECT lang, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
         |    FROM newer)
         |  GROUP BY lang, term),
         |vocab AS (
         |  SELECT COALESCE(tb.lang, tn.lang) AS lang,
         |    COALESCE(tb.term, tn.term) AS term,
         |    COALESCE(c_b, 0) AS c_b, COALESCE(c_n, 0) AS c_n
         |  FROM tb FULL OUTER JOIN tn
         |    ON tb.lang = tn.lang AND tb.term = tn.term),
         |tot AS (SELECT lang, SUM(c_b) AS n_b, SUM(c_n) AS n_n,
         |               COUNT(*) AS v
         |        FROM vocab GROUP BY lang)
         |SELECT w.lang, CAST(MAX(t.n_n) AS BIGINT) AS n_tokens_new,
         |  CAST(MAX(t.v) AS BIGINT) AS vocab,
         |  CAST(SUM(w.c_n * (
         |    CAST(floor(ln(CAST(w.c_n + 1 AS DOUBLE) / (t.n_n + t.v)) * 1e6) AS BIGINT)
         |  - CAST(floor(ln(CAST(w.c_b + 1 AS DOUBLE) / (t.n_b + t.v)) * 1e6) AS BIGINT)))
         |    AS BIGINT) AS kl_sum_micro
         |FROM vocab w JOIN tot t USING (lang)
         |GROUP BY w.lang ORDER BY w.lang""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val newer = docs.select("doc_id", "lang", "text")
        .unionByName(syntheticIngestBatch(s, dir))
      Corpus.unigramDrift(docs, newer, "text", "lang")
        .orderBy("lang")
    },
    // y15 — mixture sampling: per-language keep rates DERIVED from
    // target mixture weights (en .5 / de .3 / fr .2 of a 400-doc
    // output) and the realized counts; md5-gated membership, so the
    // mix replays in any engine. One O(#langs) count agg, then a pure
    // row filter — the data itself never shuffles.
    Query("y15_mixture_sample",
      """WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |cuts AS (
        |  SELECT lang, CASE WHEN r >= 65536 THEN 'g' ELSE printf('%04x', r) END AS cut
        |  FROM (
        |    SELECT lang, CAST(floor(LEAST(1.0,
        |      ((CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.3 WHEN 'fr' THEN 0.2
        |        ELSE 0.0 END) * 400) / n) * 65536) AS BIGINT) AS r
        |    FROM counts))
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN cuts c ON d.lang = c.lang
        |WHERE md5(CAST(d.doc_id AS VARCHAR)) < c.cut
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      graft.ops.Rows.mixtureSample(Tables.documents(s, dir), "lang", Seq("doc_id"),
        Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2), totalOut = 400L)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
    // y27 — temperature-scaled mixture (τ=2, keep mass ∝ √n): the
    // mT5/XLM-R multilingual rebalance without hand-picked weights —
    // √ because IEEE sqrt is the one fractional power that replays
    // bit-exactly cross-engine. Same zero-shuffle shape as y15.
    Query("y27_temperature_mix",
      """WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |ws AS (SELECT lang, n,
        |         CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w
        |       FROM counts),
        |tot AS (SELECT SUM(w) AS wsum FROM ws),
        |cuts AS (
        |  SELECT lang,
        |    CASE WHEN r >= 65536 THEN 'g' ELSE printf('%04x', r) END AS cut
        |  FROM (
        |    SELECT lang, CAST(floor(LEAST(1.0,
        |      CAST((w * 400) // wsum AS DOUBLE) / n) * 65536) AS BIGINT) AS r
        |    FROM ws CROSS JOIN tot))
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN cuts c ON d.lang = c.lang
        |WHERE md5(CAST(d.doc_id AS VARCHAR)) < c.cut
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      graft.ops.Rows.temperatureSample(Tables.documents(s, dir), "lang",
        Seq("doc_id"), totalOut = 400L)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
    // y14 — sequence packing into 512-token training bins, parallel by
    // language (true first-fit is sequential; the contiguous-fill rule
    // is arithmetic, so it distributes AND replays cross-engine)
    Query("y14_sequence_packing",
      """SELECT doc_id, lang, n_tokens,
        |  CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id
        |FROM (
        |  SELECT doc_id, lang, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM (
        |    SELECT doc_id, lang,
        |      CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens
        |    FROM documents))
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Corpus.packSequences(Tables.documents(s, dir), "doc_id", "text",
        "lang", budget = 512)
        .orderBy("doc_id")
    },
    // y19 — token-balanced sharding: 8 training shards of near-equal
    // token MASS (y14's complement: global layout across workers, not
    // per-group bin fill). md5 layout + contiguous budget cuts via the
    // distributed two-pass prefix sum — never a single-task window
    // y19 — the whole assignment is integral arithmetic over an
    // exclusive prefix sum in md5 layout, so the window replays the
    // two-pass distributed cumsum bit-exactly
    Query("y19_token_shards",
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |b AS (
        |  SELECT GREATEST(1, CAST((SUM(n_tokens) + 7) // 8 AS BIGINT)) AS budget
        |  FROM t),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS excl
        |  FROM t)
        |SELECT c.doc_id, c.n_tokens,
        |  CAST(LEAST(excl // budget, 7) AS BIGINT) AS shard_id
        |FROM c, b
        |ORDER BY c.doc_id""".stripMargin) { (s, dir) =>
      Corpus.tokenBalancedShards(Tables.documents(s, dir), "doc_id", "text",
        nShards = 8)
        .orderBy("doc_id")
    }
  )
}
