package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: tokenize a CLEANED text and emit its
  * unigram+bigram+trigram list in one fused pass — the t4 keyword
  * pipeline's hot inner loop.
  *
  * The composable form
  * `concat(ts, ngrams(ts,2), ngrams(ts,3))` over
  * `ts = filter(split(c,'\\s+'), t -> length(t)>1 AND NOT stop(t))`
  * runs FOUR interpreted higher-order functions per row (the stop
  * filter plus two `transform`s over `sequence`, then the HOF-hosting
  * concat): HigherOrderFunction has no codegen, so every row pays
  * interpreted tree-walks and per-element `element_at` calls, and the
  * intermediate token/ngram arrays are allocated three times
  * (profiled: 57.5 s of task time for t4's gram stage at sf0.1).
  * This expression scans the string once, builds each gram with one
  * StringBuilder append chain, and runs inside whole-stage codegen.
  *
  * Value contract (pinned by a spec against the composable form):
  * identical token split (Java regex `\s+` = the 6 ASCII whitespace
  * chars), identical filter (`length(t) > 1` and not in
  * [[graft.ops.Text.StopWords]]), identical gram order (all unigrams,
  * then bigrams, then trigrams, single-space-joined) and null
  * behavior (null in, null out).
  *
  * CALL-SITE CONTRACT: the input must already be cleaned/lowercased
  * (the [[graft.ops.Text.cleanText]] output — pure ASCII by
  * construction, since Java's default `\w` is ASCII-only).
  */
case class ContentGrams(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "gramsq"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"gramsq expects a string column (the cleanText output), got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    ContentGrams.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ContentGrams.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): ContentGrams =
    copy(child = newChild)
}

object ContentGrams {

  /** [[graft.ops.Text.StopWords]] as a hash set; tokens are short, so
    * String hashing beats a linear array_contains scan as well. */
  private[functions] val stop: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    graft.ops.Text.StopWords.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  private val Space = UTF8String.fromString(" ")

  /** Java regex \s (default flags): exactly these six ASCII bytes. In
    * UTF-8 they only ever appear as standalone ASCII chars (every
    * continuation byte is >= 0x80), so byte-level splitting is exact. */
  private[functions] def isWs(b: Byte): Boolean =
    b == ' '.toByte || b == '\t'.toByte || b == '\n'.toByte ||
      b == 0x0B.toByte || b == '\f'.toByte || b == '\r'.toByte

  /** One pass over the UTF-8 bytes: split on whitespace runs, keep
    * tokens with numChars > 1 outside the stop list, emit
    * unigrams ++ bigrams ++ trigrams. Tokens are zero-copy views into
    * one bytes array; n-grams concatenate bytes directly
    * (`UTF8String.concatWs`) — no UTF-16 round-trip anywhere. */
  def compute(input: UTF8String): GenericArrayData = {
    val bytes = input.getBytes
    val n = bytes.length
    val toks = new java.util.ArrayList[UTF8String]()
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i - start > 1) {
        val t = UTF8String.fromBytes(bytes, start, i - start)
        if (t.numChars() > 1 && !stop.contains(t)) toks.add(t)
      }
    }
    val k = toks.size()
    val out = new Array[Any](k + math.max(k - 1, 0) + math.max(k - 2, 0))
    var o = 0
    var j = 0
    while (j < k) { out(o) = toks.get(j); o += 1; j += 1 }
    j = 0
    while (j < k - 1) {
      out(o) = UTF8String.concatWs(Space, toks.get(j), toks.get(j + 1))
      o += 1; j += 1
    }
    j = 0
    while (j < k - 2) {
      out(o) = UTF8String.concatWs(Space, toks.get(j), toks.get(j + 1), toks.get(j + 2))
      o += 1; j += 1
    }
    new GenericArrayData(out)
  }

  private val builder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "gramsq(cleanedText) takes 1 argument")
    ContentGrams(args.head)
  }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "gramsq", builder, "built-in")

  val descriptor: (org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression) = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("gramsq"),
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      classOf[ContentGrams].getName, null, "gramsq",
      "gramsq(cleanedText) - unigram+bigram+trigram list of the " +
        "whitespace tokenization of an ALREADY-CLEANED text (the " +
        "cleanText output: lowercased, ASCII word/space/_/- chars " +
        "only), dropping tokens of length < 2 and the engine stop-word " +
        "list. Single fused pass, value-identical to " +
        "concat(ts, ngrams(ts,2), ngrams(ts,3)) over the filtered " +
        "split. NULL in, NULL out.",
      "",
      "\n    Examples:\n      > SELECT gramsq('big cats sleep');\n       [\"big\",\"cats\",\"sleep\",\"big cats\",\"cats sleep\",\"big cats sleep\"]\n  ",
      "", "misc_funcs", "1.0.0", "", "built-in"),
    builder)
}
