package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass forms of [[graft.llm.TextAnalysis.langId]] (`langidq`)
  * and [[graft.llm.TextAnalysis.qualityScore]] (`qscoreq`).
  *
  * The composable forms split the text into a token array and run
  * `array_intersect` per language, or an interpreted `filter` lambda
  * with an `array_contains` scan of the stop list per token. These walk
  * the UTF-8 bytes once and look each token up in a hash table, with
  * no token array and no per-token string copy.
  *
  * Value contract (pinned by a spec against the composable forms): the
  * token split is Spark's `split(text, '\\s+')` with limit −1 — Java
  * regex `\s` is exactly the six ASCII whitespace bytes, which never
  * occur inside a multi-byte UTF-8 char, and a text of k whitespace runs
  * has k + 1 tokens, the empty ones at its ends included. The arithmetic
  * and tie-break order are the composable forms'.
  */
object TextScores {

  /** The tokens of `s` as zero-copy views: the gaps between whitespace
    * runs, so a leading or trailing run yields an empty token and an
    * empty text yields one empty token. */
  private def foreachToken(s: UTF8String)(f: UTF8String => Unit): Unit = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || ContentGrams.isWs(Platform.getByte(base, off + i))) {
        f(UTF8String.fromAddress(base, off + start, i - start))
        i += 1
        while (i < n && ContentGrams.isWs(Platform.getByte(base, off + i))) i += 1
        start = i
        if (i == n) { f(UTF8String.fromAddress(base, off + n, 0)); i += 1 }
      } else i += 1
    }
  }

  /** Each function word of [[graft.llm.TextAnalysis.LangWords]] → the
    * bits of the (language, word) slots it fills; one bit per slot, so
    * a word repeated in a text still counts once per language. */
  private val wordSlots: java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long]()
    var bit = 0
    for ((_, ws) <- graft.llm.TextAnalysis.LangWords; w <- ws) {
      val k = UTF8String.fromString(w)
      m.put(k, java.lang.Long.valueOf(Option(m.get(k)).fold(0L)(_.longValue) | (1L << bit)))
      bit += 1
    }
    require(bit <= 64, s"langidq packs the function words into a Long, got $bit")
    m
  }

  private val langs: Array[(UTF8String, Long)] = {
    var bit = 0
    graft.llm.TextAnalysis.LangWords.map { case (lang, ws) =>
      val mask = ws.indices.foldLeft(0L)((acc, j) => acc | (1L << (bit + j)))
      bit += ws.size
      (UTF8String.fromString(lang), mask)
    }.toArray
  }

  private val Und = UTF8String.fromString("und")

  /** The language with the most distinct function-word hits, the
    * earlier of [[graft.llm.TextAnalysis.LangWords]] on a tie, "und"
    * with no hit or a NULL text. */
  def langId(s: UTF8String): UTF8String = {
    var seen = 0L
    if (s != null) foreachToken(s) { t =>
      val m = wordSlots.get(t)
      if (m != null) seen |= m.longValue
    }
    var best = Und
    var bestHits = 0
    var i = 0
    while (i < langs.length) {
      val h = java.lang.Long.bitCount(seen & langs(i)._2)
      if (h > bestHits) { best = langs(i)._1; bestHits = h }
      i += 1
    }
    best
  }

  /** least(n / 50, 1) · (1 − stopHits / n) over the n tokens. */
  def qualityScore(s: UTF8String): Double = {
    var n = 0
    var stopHits = 0
    foreachToken(s) { t =>
      n += 1
      if (ContentGrams.stop.contains(t)) stopHits += 1
    }
    val nd = n.toDouble
    math.min(nd / 50.0, 1.0) * (1.0 - stopHits.toDouble / nd)
  }

  private[functions] def stringArg(name: String, e: Expression): TypeCheckResult =
    if (e.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$name expects a string, got ${e.dataType.simpleString}")

  private def info(cls: Class[_], name: String, usage: String, example: String) =
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      cls.getName, null, name, usage, "",
      s"\n    Examples:\n      > $example\n  ",
      "", "string_funcs", "1.0.0", "", "built-in")

  private val langIdBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "langidq(text) takes 1 argument")
    LangId(args.head)
  }

  /** `legacySizeOfNull` is read when the call is resolved, as `size`
    * does, so a NULL text scores what the composable form scores. */
  private val qualityBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "qscoreq(text) takes 1 argument")
    QualityScore(args.head, SQLConf.get.legacySizeOfNull)
  }

  /** Registers `langidq` and `qscoreq` unless the session already
    * resolves them (injected by [[graft.plans.GraftExtensions]], or
    * registered before), so per-call registration does not log a
    * replacement each time. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    for ((id, _, builder) <- descriptors if !reg.functionExists(id))
      reg.createOrReplaceTempFunction(id.funcName, builder, "built-in")
  }

  val descriptors: Seq[(org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (org.apache.spark.sql.catalyst.FunctionIdentifier("langidq"),
      info(classOf[LangId], "langidq",
        "langidq(text) - heuristic language id: the language of " +
          "graft.llm.TextAnalysis.LangWords with the most distinct function " +
          "words among the split(text, '\\\\s+') tokens, the earlier language " +
          "on a tie, 'und' with no hit or a NULL text.",
        "SELECT langidq('the cat and the dog');\n       en"),
      langIdBuilder),
    (org.apache.spark.sql.catalyst.FunctionIdentifier("qscoreq"),
      info(classOf[QualityScore], "qscoreq",
        "qscoreq(text) - quality score least(n / 50, 1) * (1 - s / n) over " +
          "the n split(text, '\\\\s+') tokens, s of them stop words. NULL for " +
          "NULL unless spark.sql.legacy.sizeOfNull applies (then -0.0).",
        "SELECT qscoreq('the cat');\n       0.02"),
      qualityBuilder))
}

/** `langidq(text)`: see [[TextScores.langId]]. Never NULL. */
case class LangId(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "langidq"
  override def checkInputDataTypes(): TypeCheckResult = TextScores.stringArg(prettyName, child)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    TextScores.langId(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |UTF8String ${ev.value} = graft.functions.TextScores.langId(${c.isNull} ? null : ${c.value});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): LangId = copy(child = newChild)
}

/** `qscoreq(text)`: see [[TextScores.qualityScore]]. A NULL text gives
  * NULL, or −0.0 under `legacySizeOfNull` (where `size(NULL)` is −1). */
case class QualityScore(child: Expression, legacySizeOfNull: Boolean) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable && !legacySizeOfNull
  override def prettyName: String = "qscoreq"
  override def checkInputDataTypes(): TypeCheckResult = TextScores.stringArg(prettyName, child)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val s = child.eval(input)
    if (s != null) TextScores.qualityScore(s.asInstanceOf[UTF8String])
    else if (legacySizeOfNull) -0.0
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (legacySizeOfNull) {
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        |${c.code}
        |double ${ev.value} = ${c.isNull} ? -0.0 : graft.functions.TextScores.qualityScore(${c.value});
        |""".stripMargin, isNull = FalseLiteral)
    } else defineCodeGen(ctx, ev, c => s"graft.functions.TextScores.qualityScore($c)")

  override protected def withNewChildInternal(newChild: Expression): QualityScore =
    copy(child = newChild)
}
