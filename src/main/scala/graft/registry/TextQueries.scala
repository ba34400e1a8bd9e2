package graft.registry

import graft.Tables
import graft.ops.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** NLP scalar-function family T1-T9 (SURVEY §2.9) over `documents` /
  * `events`, each with a DuckDB oracle replaying the identical string
  * pipeline. */
object TextQueries {

  /** Stop-word list as a DuckDB array literal (shared with oracles). */
  val StopSql: String = Text.StopWords.map(w => s"'$w'").mkString("[", ",", "]")

  /** DuckDB tokenize twin of Text.tokenize. */
  def tokSql(c: String): String =
    s"list_filter(regexp_split_to_array($c, '\\s+'), t -> length(t) > 1 AND NOT list_contains($StopSql, t))"

  /** DuckDB n-gram twin of Text.ngrams. */
  def ngramSql(ts: String, n: Int): String = {
    val parts = (0 until n).map(k => s"$ts[i + $k]").mkString(" || ' ' || ")
    s"list_transform(generate_series(1, greatest(len($ts) - ${n - 1}, 0)), i -> $parts)"
  }

  // last in the object: the oracles interpolate the SQL fragments above
  val queries: Seq[Query] = Seq(
    Query("t1_clean_text",
      """SELECT event_id, lower(regexp_replace(props, '[^\w\s_-]', '', 'g')) AS cleaned
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), Text.cleanText(col("props")).as("cleaned"))
        .orderBy("event_id")
    },
    Query("t2_normalize_keyword",
      """SELECT doc_id,
        |  trim(regexp_replace(translate(lower(source || '_' || lang || '-X'), '_-', '  '),
        |       '\s+', ' ', 'g')) AS normalized
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          Text.normalizeKeyword(concat(col("source"), lit("_"), col("lang"), lit("-X")))
            .as("normalized"))
        .orderBy("doc_id")
    },
    Query("t3_tokenize_stopfilter",
      s"""SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |       array_to_string(ts[1:5], ' ') AS first_tokens
         |FROM (SELECT doc_id, ${tokSql("text")} AS ts FROM documents)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), Text.tokenize(col("text")).as("ts"))
        .select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"),
          array_join(slice(col("ts"), 1, 5), " ").as("first_tokens"))
        .orderBy("doc_id")
    },
    Query("t4_keywords_top10",
      s"""WITH toks AS (
         |  SELECT doc_id, ${tokSql("lower(substr(text, 1, 10000))")} AS ts FROM documents
         |), grams AS (
         |  SELECT doc_id, unnest(list_concat(list_concat(ts, ${ngramSql("ts", 2)}),
         |                                    ${ngramSql("ts", 3)})) AS g
         |  FROM toks
         |), counts AS (
         |  SELECT doc_id, g, COUNT(*) AS cnt FROM grams GROUP BY doc_id, g
         |), ranked AS (
         |  SELECT doc_id, g, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY cnt DESC, length(g) DESC, g ASC) AS rn
         |  FROM counts)
         |SELECT doc_id, string_agg(g, '|' ORDER BY rn) AS keywords
         |FROM ranked WHERE rn <= 10 GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // repartition: the CPU-heavy narrow stage must not ride a single
      // file split. 2× parallelism, not 1×: with exactly one task per
      // core the slowest core sets the stage time (the r9/r11
      // driver-bench spikes tracked box contention), at 2× the
      // scheduler can pack around a busy core; measured ≤ +0.1 s warm
      // vs 1×, tighter spread (r12 A/B: 32-part 1.16–1.55 s, 64-part
      // 1.23–1.37 s).
      // Tokenize + gram generation is the native fused `gramsq` loop
      // (round 22): the composable filter/transform/concat chain ran
      // FOUR interpreted HOFs per row — 57.5 s of task time for this
      // one stage at sf0.1 — while gramsq scans the cleaned string
      // once inside whole-stage codegen, value-identically (spec-pinned
      // against the composable form; same DuckDB oracle).
      graft.functions.ContentGrams.register(s)
      val grams = Tables.documents(s, dir)
        .repartition(2 * s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          Text.cleanText(substring(col("text"), 1, 10000)).as("__c"))
        .select(col("doc_id"), explode(call_function("gramsq", col("__c"))).as("g"))
      val counts = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("cnt").desc, length(col("g")).desc, col("g").asc)
      counts
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .groupBy("doc_id")
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("rn"), col("g")))), _.getField("g")),
          "|").as("keywords"))
        .orderBy("doc_id")
    },
    // t5: the spreadForCpu experiment measured +6% (r22 A/B, min-of-5
    // back-to-back) — the tokenize+normalize pass is too light for the
    // extra exchange, the r21 negative-result #4 rule. Not applied.
    Query("t5_exact_keywords",
      s"""SELECT doc_id, array_to_string(list_sort(list_distinct(list_concat(list_concat(
         |  list_filter([trim(regexp_replace(translate(lower(source || '_' || lang), '_-', '  '),
         |               '\\s+', ' ', 'g'))], k -> length(k) > 0),
         |  list_transform([lang, 'the'],
         |    x -> trim(regexp_replace(translate(lower(x), '_-', '  '), '\\s+', ' ', 'g')))),
         |  (${tokSql("text")})[1:3]))), '|') AS keywords
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("lang"),
          slice(Text.tokenize(col("text")), 1, 3).as("ck"))
        .select(col("doc_id"),
          array_join(
            Text.exactKeywords(
              concat(col("source"), lit("_"), col("lang")),
              array(col("lang"), lit("the")),
              col("ck")),
            "|").as("keywords"))
        .orderBy("doc_id")
    },
    Query("t6_email_check",
      """SELECT c_custkey,
        |  regexp_matches(lower(regexp_replace(c_name, '[^A-Za-z0-9]', '', 'g')) || '@example.com',
        |                 '^[^@]+@[^@]+\.[^@]+') AS ok_email,
        |  regexp_matches(c_name, '^[^@]+@[^@]+\.[^@]+') AS ok_raw
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val email = concat(lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]", "")),
        lit("@example.com"))
      Tables.customer(s, dir)
        .select(col("c_custkey"), Text.isEmail(email).as("ok_email"),
          Text.isEmail(col("c_name")).as("ok_raw"))
        .orderBy("c_custkey")
    },
    Query("t7_url_check",
      """SELECT event_id AS entry_id,
        |  starts_with('http://site/' || event_type, 'http') AS ok_url,
        |  starts_with(event_type, 'http') AS ok_title
        |FROM events ORDER BY entry_id""".stripMargin) { (s, dir) =>
      Tables.browsing(s, dir)
        .select(col("entry_id"), Text.isUrl(col("url")).as("ok_url"),
          Text.isUrl(col("title")).as("ok_title"))
        .orderBy("entry_id")
    },
    Query("t8_canonicalize",
      """SELECT doc_id,
        |  array_to_string((regexp_split_to_array(text, ' '))[1:4], ',') AS key4
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          Text.canonicalizeList(slice(split(col("text"), " "), 1, 4)).as("key4"))
        .orderBy("doc_id")
    },
    Query("t9_date_format",
      """SELECT event_id,
        |  strftime(ts, '%Y%m%d') AS d8,
        |  strftime(ts, '%Y%m%d%H%M%S') AS d14,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS iso
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          date_format(col("ts"), "yyyyMMdd").as("d8"),
          date_format(col("ts"), "yyyyMMddHHmmss").as("d14"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("iso"))
        .orderBy("event_id")
    },
    // T11 (beyond reference) — PII redaction. The fixture text carries
    // no PII, so a deterministic doc_id-derived email + reference
    // number is appended FIRST (replayable in any engine) and the
    // redaction then has real matches to rewrite.
    Query("t11_pii_redact", {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val num = "[0-9]{4,}"
      s"""WITH pii AS (
         |  SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         |    '@mail.example.com ref ' || CAST(doc_id * 7919 + 12345 AS VARCHAR) AS t
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(t, '$email', '<EMAIL>', 'g'),
         |                 '$num', '<NUM>', 'g') AS redacted,
         |  CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(
         |    regexp_replace(t, '$email', '<EMAIL>', 'g'), '$num')) AS BIGINT) AS n_nums
         |FROM pii ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      // spread before the 4-regex pass (2 full-text replaces + 2
      // extract_alls, re-executed by the orderBy sampling pass): the
      // documents scan is 1-2 splits at bench scale (r22 A/B below;
      // the same plan-stats guard as t12 makes it a no-op at scale)
      val pii = graft.ops.Partitions.spreadForCpu(
        Tables.documents(s, dir).select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com ref "),
            (col("doc_id") * 7919 + 12345).cast("string")).as("t")))
      pii.select(col("doc_id"),
        Text.redactPii(col("t")).as("redacted"),
        size(regexp_extract_all(col("t"), lit(Text.EmailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(
          regexp_replace(col("t"), Text.EmailRe, "<EMAIL>"),
          lit(Text.NumRe), lit(0))).cast("long").as("n_nums"))
        .orderBy("doc_id")
    },
    // T12 (beyond reference) — URL canonicalization + domain
    // extraction. The fixture has no URL column, so deterministic
    // MESSY urls (mixed case, default and non-default ports, tracking
    // params, fragments, trailing slashes, a single-label host) are
    // synthesized from event columns first — replayable in any engine.
    Query("t12_url_canonicalize", {
      val urlCase =
        """CASE WHEN event_id % 4 = 0 THEN
          |    'HTTPS://WWW.Example.COM:443/Shop/Items/?utm_source=mail&id=' ||
          |    CAST(event_id % 7 AS VARCHAR) || '#top'
          |  WHEN event_id % 4 = 1 THEN
          |    'http://Blog.example.com:80/post/' || CAST(event_id % 50 AS VARCHAR) ||
          |    '/?ref=home&utm_campaign=x'
          |  WHEN event_id % 4 = 2 THEN
          |    'https://news.portal.org:8080/a/b.html?x=' ||
          |    CAST(event_id % 3 AS VARCHAR) || '&fbclid=abc'
          |  ELSE 'http://site/' || event_type END""".stripMargin
      s"""WITH raw AS (SELECT event_id, $urlCase AS u FROM events),
         |parts AS (
         |  SELECT event_id, u,
         |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
         |    regexp_replace(
         |      lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
         |      '^.*@', '') AS hp,
         |    regexp_replace(regexp_extract(u,
         |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$$', '') AS pth,
         |    array_to_string(list_filter(str_split(regexp_extract(u, '^[^#?]*\\?([^#]*)', 1), '&'),
         |      p -> NOT regexp_matches(p, '(?i)^(utm_[^=]*|ref|fbclid|gclid)(=|$$)') AND p != ''),
         |      '&') AS q
         |  FROM raw),
         |canon AS (
         |  SELECT event_id,
         |    sch || '://' ||
         |    (CASE WHEN sch = 'http' THEN regexp_replace(hp, ':80$$', '')
         |          WHEN sch = 'https' THEN regexp_replace(hp, ':443$$', '')
         |          ELSE hp END) || pth ||
         |    (CASE WHEN len(q) > 0 THEN '?' || q ELSE '' END) AS url_canon,
         |    regexp_replace(hp, ':[0-9]+$$', '') AS domain
         |  FROM parts)
         |SELECT event_id, url_canon, domain,
         |  CASE WHEN len(str_split(domain, '.')) >= 2
         |       THEN str_split(domain, '.')[-2] || '.' || str_split(domain, '.')[-1]
         |       ELSE domain END AS reg_domain
         |FROM canon ORDER BY event_id""".stripMargin
    }) { (s, dir) =>
      import graft.ops.Urls
      val u = when(col("event_id") % 4 === 0,
          concat(lit("HTTPS://WWW.Example.COM:443/Shop/Items/?utm_source=mail&id="),
            (col("event_id") % 7).cast("string"), lit("#top")))
        .when(col("event_id") % 4 === 1,
          concat(lit("http://Blog.example.com:80/post/"),
            (col("event_id") % 50).cast("string"), lit("/?ref=home&utm_campaign=x")))
        .when(col("event_id") % 4 === 2,
          concat(lit("https://news.portal.org:8080/a/b.html?x="),
            (col("event_id") % 3).cast("string"), lit("&fbclid=abc")))
        .otherwise(concat(lit("http://site/"), col("event_type")))
      // STAGE the synthesized url as its own projection before the
      // regex family reads it: inlined, the CASE subtree duplicates
      // into every regexp_extract/replace (~12 copies) and the
      // generated code blows past JIT-friendly method sizes — cold
      // first-run cost measured 3.9 s inline vs 1.4 s staged at sf0.1
      // (warm 1.2 vs 1.1). CollapseProject keeps the barrier because
      // it refuses to duplicate non-cheap expressions.
      // ...and SPREAD the staged frame across cores before the regex
      // family runs: the events scan is 1-2 splits at bench scale, so
      // the ~12-regex canonicalization pass (and the orderBy sampling
      // pass that re-executes it) otherwise runs single-task — measured
      // 2.7 s + 1.3 s in two 1-task stages at sf0.1. Plan-stats guard
      // skips the shuffle when the scan is already wide (r21).
      graft.ops.Partitions.spreadForCpu(
        Tables.events(s, dir).select(col("event_id"), u.as("__u")))
        .select(col("event_id"),
          Urls.canonicalize(col("__u")).as("url_canon"),
          Urls.host(col("__u")).as("domain"),
          Urls.registeredDomain(col("__u")).as("reg_domain"))
        .orderBy("event_id")
    },
    // T13 (beyond reference) — per-domain cap: keep each domain's top-5
    // events by (value desc, event_id) — the no-domain-dominates rule
    // of crawl curation. Hot domains don't funnel into one task: the
    // optimizer's rank-limit pushdown ships only map-local top-5s per
    // domain through the exchange (spec pins the Partial
    // WindowGroupLimit node).
    Query("t13_domain_cap",
      """WITH d AS (
        |  SELECT event_id, value,
        |    lower('Shard' || CAST(user_id % 20 AS VARCHAR) || '.Example.com') AS domain
        |  FROM events),
        |r AS (
        |  SELECT domain, event_id, value,
        |    row_number() OVER (PARTITION BY domain ORDER BY value DESC, event_id) AS rn
        |  FROM d)
        |SELECT domain, event_id, value FROM r WHERE rn <= 5
        |ORDER BY domain, event_id""".stripMargin) { (s, dir) =>
      import graft.ops.Urls
      val u = concat(lit("https://Shard"), (col("user_id") % 20).cast("string"),
        lit(".Example.com/p/"), col("event_id").cast("string"))
      // spreadForCpu here measured +2% (r22 A/B) — one host() regex is
      // too light for the exchange (r21 negative-result #4). Not applied.
      val withDom = Tables.events(s, dir)
        .select(col("event_id"), col("value"), Urls.host(u).as("domain"))
      graft.ops.Dedup.capPerKey(withDom, Seq("domain"),
        Seq(col("value").desc, col("event_id").asc), n = 5)
        .select("domain", "event_id", "value")
        .orderBy("domain", "event_id")
    },
    // T14 (beyond reference) — Unicode NFC normalization, the
    // canonicalize-before-hash step every crawl pipeline needs (the
    // same logical text arrives composed AND decomposed; without NFC,
    // exact dedup / span dedup / fingerprints all see two documents).
    // Native codegen Expression (`nfcq`) with an ASCII bytes-only fast
    // path — see functions/NfcNormalize.scala. The fixture text is
    // ASCII, so decomposed sequences (e+U+0301, i+U+0308) and a
    // pre-composed é (idempotence) are synthesized FIRST, replayably
    // in any engine; DuckDB replays the normalize itself via
    // utf8proc's nfc_normalize — both implement UAX #15, so the
    // values hash-match.
    // t14 — DuckDB replays the normalization itself via utf8proc's
    // nfc_normalize (same UAX #15 algorithm as the JDK normalizer
    // behind nfcq). The dirty prefix is rebuilt codepoint-for-
    // codepoint: chr(769)=U+0301 combining acute after 'Cafe',
    // chr(776)=U+0308 combining diaeresis after 'nai', chr(233)=
    // pre-composed é (the idempotence case). Both engines' length()
    // counts codepoints, so len_raw > len_nfc pins that composition
    // actually happened (106 vs 104 on the fixture).
    Query("t14_nfc_normalize",
      """WITH d AS (
        |  SELECT doc_id,
        |    'Cafe' || chr(769) || ' nai' || chr(776) || 've ' || chr(233) || 'clair doc'
        |      || CAST(doc_id AS VARCHAR) || ': ' || substr(text, 1, 80) AS dirty
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(dirty) AS nfc_text,
        |  CAST(length(dirty) AS BIGINT) AS len_raw,
        |  CAST(length(nfc_normalize(dirty)) AS BIGINT) AS len_nfc
        |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.functions.NfcNormalize.register(s)
      val dirty = concat(
        lit("Café naïve éclair doc"),
        col("doc_id").cast("string"), lit(": "),
        substring(col("text"), 1, 80))
      Tables.documents(s, dir)
        .select(col("doc_id"), dirty.as("__d"))
        .select(col("doc_id"), col("__d"),
          call_function("nfcq", col("__d")).as("nfc_text"))
        .select(col("doc_id"), col("nfc_text"),
          length(col("__d")).cast("long").as("len_raw"),
          length(col("nfc_text")).cast("long").as("len_nfc"))
        .orderBy("doc_id")
    }
  )
}
