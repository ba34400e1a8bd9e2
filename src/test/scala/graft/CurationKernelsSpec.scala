package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

/** The native kernels of the curation chain against the composable
  * forms they replaced, which stay here as the reference: MinHash band
  * keys (`minhashbandsq`), language ID (`langidq`) and quality score
  * (`qscoreq`). Each comparison runs three ways — a local relation
  * (folded by the optimizer through interpreted eval), a shuffled
  * frame (whole-stage codegen) and with codegen switched off — and
  * compares the printed values, so -0.0 and 0.0 differ. Also the
  * cached-input rule of `Partitions.spreadForCpu`. */
class CurationKernelsSpec extends SparkSpec {

  /** The pre-kernel band keys: one interpreted lambda per seed s,
    * `array_min(transform(sh, x -> md5(concat('s|', x))))`, joined per
    * band by `concat_ws` — the formula the DuckDB oracles replay. */
  private def refBandKeys(sh: Column, numBands: Int, rowsPerBand: Int): Column = {
    val sigs = (0 until numBands * rowsPerBand).map { seed =>
      array_min(transform(sh, x => md5(concat(lit(s"$seed|"), x))))
    }
    array((0 until numBands).map { b =>
      concat_ws("#", lit(b.toString) +: sigs.slice(b * rowsPerBand, (b + 1) * rowsPerBand): _*)
    }: _*)
  }

  private val Words = Seq("the", "a", "and", "is", "der", "die", "und", "le", "la", "de",
    "et", "cat", "chat", "katze", "sleeps", "café", "日本語", "𝄞", "of", "to", "in")

  /** `f` over `in` (a local relation keyed by `k`) as printed rows,
    * evaluated three ways; asserts they agree and returns them. */
  private def threeWays(in: DataFrame, f: DataFrame => DataFrame): Seq[String] = {
    def run(df: DataFrame) = f(df).collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    val local = run(in)
    val codegen = run(in.repartition(3))
    var interpreted: Seq[String] = Nil
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      interpreted = run(in.repartition(3))
    }
    assert(codegen == local, "codegen differs from the local (folded) evaluation")
    assert(interpreted == local, "interpreted eval differs from the local evaluation")
    local
  }

  test("minhashbandsq equals the composable band-key formula on every edge shape") {
    val rnd = new scala.util.Random(7)
    val edge: Seq[Seq[String]] = Seq(
      null,                                          // NULL array
      Seq(),                                         // empty array
      Seq("a b c"),                                  // one element
      Seq(null, "x y z", null, "a b c"),             // NULL elements
      Seq(null, null),                               // only NULL elements
      Seq("", "a b c"),                              // empty shingle
      Seq("café au lait", "日本語 の テキスト"),        // non-ASCII
      Seq("𝄞 clef 𝄞", "emoji 😀 grin", "a 😀 b"))     // astral plane
    val random = (0 until 200).map(_ =>
      Seq.fill(1 + rnd.nextInt(12))(Seq.fill(3)(Words(rnd.nextInt(Words.size))).mkString(" ")))
    val rows = (edge ++ random).zipWithIndex.map { case (sh, k) => Row(k, sh) }
    val in = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("k", org.apache.spark.sql.types.IntegerType),
        StructField("sh", ArrayType(StringType, containsNull = true)))))
    for ((bands, per) <- Seq((4, 3), (2, 1), (1, 5))) {
      val got = threeWays(in, _.select(col("k"),
        graft.llm.DedupLsh.bandKeys(col("sh"), bands, per).as("b")).orderBy("k"))
      val ref = in.select(col("k"), refBandKeys(col("sh"), bands, per).as("b")).orderBy("k")
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
      assert(got == ref, s"($bands, $per) band keys differ from the composable formula")
    }
    // the shingle-less arrays key every band by its bare index
    val bare = in.filter(col("k").isin(0, 1, 4))
      .select(graft.llm.DedupLsh.bandKeys(col("sh"), 4, 3)).collect().map(_.getSeq[String](0))
    assert(bare.toSeq == Seq.fill(3)(Seq("0", "1", "2", "3")))
  }

  /** The pre-kernel language ID: distinct-token `array_intersect` per
    * language, folded in LangWords order with a strict `>`. */
  private def refLangId(text: Column): Column = {
    val ts = split(text, "\\s+")
    val hits = graft.llm.TextAnalysis.LangWords.map { case (lang, ws) =>
      (lang, size(array_intersect(ts, array(ws.map(lit): _*))))
    }
    val (l0, h0) = hits.head
    val (bestLang, bestHits) = hits.tail.foldLeft((lit(l0), h0)) {
      case ((bl, bh), (lang, h)) =>
        (when(h > bh, lit(lang)).otherwise(bl), when(h > bh, h).otherwise(bh))
    }
    when(bestHits > 0, bestLang).otherwise(lit("und"))
  }

  /** The pre-kernel quality score: an interpreted stop-word `filter`. */
  private def refQualityScore(text: Column): Column = {
    val ts = split(text, "\\s+")
    val n = size(ts).cast("double")
    val stopHits = size(filter(ts,
      t => array_contains(array(graft.ops.Text.StopWords.map(lit): _*), t))).cast("double")
    least(n / lit(50.0), lit(1.0)) * (lit(1.0) - stopHits / n)
  }

  private def texts: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val stopText = graft.ops.Text.StopWords.take(8).mkString(" ")
    val edge = Seq(
      null, "", " ", "   ", "\t\n",
      "  leading space", "trailing space  ", " both \t ", "inner \t\r\n  runs",
      stopText, stopText + " " + stopText,                // all stop words
      "the le", "der the le", "la et the a", "die das the a", // language ties
      "de", "de de la", "die de", "der de",                // `de`: a fr word, the de code
      "café et la crème", "日本語 の テキスト", "𝄞 and 😀",
      Seq.fill(60)("cat").mkString(" "))                  // length component capped at 1
    val random = (0 until 300).map(_ =>
      Seq.fill(rnd.nextInt(70))(Words(rnd.nextInt(Words.size)))
        .mkString(if (rnd.nextBoolean()) " " else "  "))
    (edge ++ random).zipWithIndex.map { case (t, k) => (k, t) }.toDF("k", "text")
  }

  test("langidq and qscoreq equal their composable forms on every edge shape") {
    import graft.llm.TextAnalysis.{langId, qualityScore}
    val in = texts
    val got = threeWays(in, _.select(col("k"), langId(col("text")), qualityScore(col("text")))
      .orderBy("k"))
    val ref = in.select(col("k"), refLangId(col("text")), refQualityScore(col("text")))
      .orderBy("k").collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    assert(got == ref)
    val byText = in.select(col("text"), langId(col("text")), qualityScore(col("text")))
      .collect().map(r => Option(r.getString(0)) -> (r.getString(1), r.get(2))).toMap
    assert(byText(None) == ("und", null))
    assert(byText(Some("the le"))._1 == "en" && byText(Some("der the le"))._1 == "de")
    assert(byText(Some("de de la"))._1 == "fr" && byText(Some("die de"))._1 == "de")
    assert(byText(Some(""))._2 == 0.02 && byText(Some("   "))._2 == 0.04)
  }

  test("qscoreq follows size(NULL) = -1 under the legacy non-ANSI conf") {
    withSQLConf("spark.sql.ansi.enabled" -> "false", "spark.sql.legacy.sizeOfNull" -> "true") {
      val in = texts
      val got = in.select(col("k"), graft.llm.TextAnalysis.qualityScore(col("text")))
        .orderBy("k").collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
      val ref = in.select(col("k"), refQualityScore(col("text")))
        .orderBy("k").collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
      assert(got == ref)
      assert(got.head == "0|-0.0")
    }
  }

  test("spreadForCpu spreads a materialized one-partition cache, deciding with 0 jobs") {
    import graft.ops.Partitions
    val par = spark.sparkContext.defaultParallelism
    assume(par > 1, "needs more than one core")
    val cached = spark.range(0, 1000, 1, 1).toDF("id").persist()
    try {
      cached.count()
      assert(Partitions.cachedPartitions(
        cached.queryExecution.optimizedPlan.collectLeaves().head).contains(1))
      val (spread, jobs) = withJobCount(Partitions.spreadForCpu(cached.select(col("id") * 2)))
      assert(jobs == 0, s"deciding ran $jobs jobs")
      assert(spread.rdd.getNumPartitions == par)
      assert(spread.count() == 1000L)
    } finally cached.unpersist(blocking = true)
  }

  test("spreadForCpu leaves Range, unmaterialized caches and wide caches alone") {
    import graft.ops.Partitions
    val par = spark.sparkContext.defaultParallelism
    val range = spark.range(0, 1001, 1, 1).toDF("id")
    assert(Partitions.spreadForCpu(range) eq range)
    val lazyCache = spark.range(0, 1002, 1, 1).toDF("id").persist()
    val wide = spark.range(0, 1003, 1, par).toDF("id").persist()
    try {
      assert(Partitions.spreadForCpu(lazyCache) eq lazyCache)
      wide.count()
      assert(Partitions.spreadForCpu(wide) eq wide)
    } finally {
      lazyCache.unpersist(blocking = true)
      wide.unpersist(blocking = true)
    }
  }
}
