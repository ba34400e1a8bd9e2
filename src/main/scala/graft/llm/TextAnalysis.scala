package graft.llm

import graft.ops.Text
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: language ID,
  * quality scoring, token counting, document fingerprinting. Column
  * expressions without UDFs: composable built-ins, plus native Catalyst
  * kernels for language ID and quality score (whole-stage codegen, one
  * pass per text). All with exact cross-engine determinism, so every
  * one is oracle-checkable.
  */
object TextAnalysis {

  /** Tiny per-language function-word lists for the n-gram-free
    * heuristic language ID. Deliberately small + fixed: the DuckDB
    * oracle inlines the identical lists. */
  val LangWords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "von"),
    "en" -> Seq("the", "a", "and", "is", "not", "of", "to", "in", "it", "with"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "un", "avec", "sur", "de")
  )

  private def tokens(c: Column): Column = split(c, "\\s+")

  /** Registers the native text kernels in the active session, so
    * sessions built without [[graft.plans.GraftExtensions]] resolve
    * them too. */
  private def native(name: String, text: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.TextScores.register)
    call_function(name, text)
  }

  /** Language ID: distinct-token overlap with each language's function
    * words; winner = max hits, ties broken by [[LangWords]] order, zero
    * hits (or a NULL text) → "und" (undetermined). One native pass
    * ([[graft.functions.TextScores]]), value-identical to the
    * composable `size(array_intersect(split(text, '\s+'), words))`
    * fold the DuckDB oracle replays. */
  def langId(text: Column): Column = native("langidq", text)

  /** Quality score ∈ [0,1]: length component × (1 − stop-word ratio),
    * `least(n / 50, 1) * (1 - stopHits / n)` over the n whitespace
    * tokens. Same double arithmetic on both engines ⇒ exact compare;
    * one native pass ([[graft.functions.TextScores]]). */
  def qualityScore(text: Column): Column = native("qscoreq", text)

  /** Token counts: naive whitespace split vs a BPE-ish [a-z0-9]+ regex
    * tokenization. */
  def tokenCountWhitespace(text: Column): Column = size(tokens(text)).cast("long")
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-z0-9]+"), lit(0))
  def tokenCountRegex(text: Column): Column = size(regexTokens(text)).cast("long")

  /** Content fingerprint: md5 of the full text (exact identity) plus
    * the lexicographic-min md5 over word-3-gram shingles (a 1-hash
    * MinHash — stable under small edits, the winnowing-lite variant). */
  def md5Fingerprint(text: Column): Column = md5(text)

  /** Staged variant: `sh` must be a materialized shingle attribute
    * (see Text.contentTokens scaladoc on HOF staging). */
  def minShingleFromShingles(sh: Column, textFallback: Column): Column =
    when(size(sh) > 0, array_min(transform(sh, md5(_)))).otherwise(md5(textFallback))

  def minShingleFingerprint(text: Column): Column =
    minShingleFromShingles(Text.ngrams(tokens(text), 3), text)

  /** Gopher-style quality-rule bundle (Rae et al. 2021 §A1.1 /
    * C4-style heuristics): the per-document rule battery a curation
    * pipeline runs BEFORE any model-based scoring. All ratios are
    * exact integer milli-fractions (numerator·1000 div denominator) so
    * every rule value — not just the keep bit — replays cross-engine.
    * Pure per-row Column expressions: zero shuffles, whole-stage
    * codegen, scan-bound at any corpus size.
    *
    * Rules (thresholds from the paper, adapted to milli-integers):
    * word count in [minWords, maxWords]; mean word length in [3, 10]
    * chars; ≥ 80% of words contain an alphabetic char; ≥ 2 stop-word
    * hits; < 10% symbol-words (`#` or containing `...`). */
  def gopherRules(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, minWords: Long = 5L,
                  maxWords: Long = 100000L): org.apache.spark.sql.DataFrame = {
    val ts = tokens(col(textCol))
    val nWords = size(ts).cast("long")
    val charSum = aggregate(ts, lit(0L), (acc, w) => acc + length(w))
    val alphaHits = size(filter(ts, w => w.rlike("[a-z]"))).cast("long")
    val stopHits = size(filter(ts,
      w => array_contains(array(Text.StopWords.map(lit): _*), w))).cast("long")
    val symbolHits = size(filter(ts,
      w => w === "#" || w.contains("..."))).cast("long")
    // spread the per-doc token HOFs (five filter/aggregate passes over
    // every token) across cores: a small corpus scan is 1-2 splits and
    // the rule pass otherwise runs on those tasks alone (measured two
    // 1-task ~0.5 s stages at sf0.1); the plan-stats guard skips the
    // shuffle whenever the scan is already wide (the shingleTable rule)
    graft.ops.Partitions.spreadForCpu(df.select(col(idCol), col(textCol)))
      .select(col(idCol), nWords.as("n_words"), charSum.as("__cs"),
        alphaHits.as("__ah"), symbolHits.as("__sh"), stopHits.as("stop_hits"))
      .withColumn("mean_len_milli",
        when(col("n_words") > 0L, expr("__cs * 1000 div n_words")))
      .withColumn("alpha_milli", when(col("n_words") > 0L,
        expr("__ah * 1000 div n_words")))
      .withColumn("symbol_milli", when(col("n_words") > 0L,
        expr("__sh * 1000 div n_words")))
      .drop("__cs", "__ah", "__sh")
      .withColumn("kept",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_len_milli") >= 3000L && col("mean_len_milli") <= 10000L &&
          col("alpha_milli") >= 800L && col("stop_hits") >= 2L &&
          col("symbol_milli") < 100L)
  }
}
