package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Unicode NFC normalization (UAX #15 canonical composition):
  * `nai¨ve` (i + U+0308) → `naïve`, `e` + U+0301 → `é`. Every serious
  * text-curation pipeline runs this before hashing/dedup — the same
  * logical text arrives from crawls in composed and decomposed forms,
  * and without canonicalization exact dedup (x1), span dedup (x19) and
  * fingerprinting (y4/y18) all treat the variants as distinct
  * documents.
  *
  * Why a native expression: Spark has no normalization builtin and a
  * UDF would black-box the hot path. This is one codegen'd static call
  * per row with an ASCII fast path that touches only the UTF8String
  * BYTES — a pure-ASCII value (the overwhelming majority of English
  * crawl text) is provably NFC and is returned as-is, zero String
  * allocation, zero copy. Only rows carrying multi-byte sequences pay
  * the JDK normalizer (java.text.Normalizer implements the same
  * UAX #15 algorithm DuckDB's utf8proc replays for the oracle).
  *
  * Null → null; deterministic, engine-replayable.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfcq"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfcq expects a string, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(v: Any): Any =
    NfcNormalize.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NfcNormalize.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {

  /** ASCII fast path on raw bytes (no decode), JDK normalizer only for
    * multi-byte rows, and even there `isNormalized` (the UAX #15
    * quick-check) skips the rebuild when the input is already NFC. */
  def compute(s: UTF8String): UTF8String = {
    val n = s.numBytes
    var i = 0
    while (i < n) {
      if ((s.getByte(i) & 0x80) != 0) {
        val str = s.toString
        return if (java.text.Normalizer.isNormalized(
            str, java.text.Normalizer.Form.NFC)) s
        else UTF8String.fromString(java.text.Normalizer.normalize(
          str, java.text.Normalizer.Form.NFC))
      }
      i += 1
    }
    s
  }

  private val builder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "nfcq(text) takes 1 argument")
    NfcNormalize(args.head)
  }

  def register(spark: SparkSession): Unit = Kernels.registerMissing(spark, descriptor)

  val descriptor: Kernels.Descriptor = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("nfcq"),
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      classOf[NfcNormalize].getName, null, "nfcq",
      "nfcq(text) - Unicode NFC normalization (UAX #15 canonical " +
        "composition). ASCII inputs return unchanged with zero " +
        "allocation; NULL for NULL.",
      "",
      "\n    Examples:\n      > SELECT nfcq('e' || chr(769));\n       é\n  ",
      "", "string_funcs", "1.0.0", "", "built-in"),
    builder)
}
