package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native winnowing document fingerprint (Schleimer, Wilkerson, Aiken
  * — "Winnowing: Local Algorithms for Document Fingerprinting",
  * SIGMOD 2003): polynomial rolling hashes of every `k`-byte gram
  * (base 131 mod 1e9+7), then the minimum hash of every `w`-wide
  * window of consecutive gram hashes; returns the DISTINCT minima
  * sorted ascending as `array<bigint>`. Shared substrings ≥ w+k−1
  * bytes are guaranteed to contribute at least one common
  * fingerprint — the local-dedup property exact-digest hashing lacks
  * and shingle-MinHash only gives probabilistically.
  *
  * Why a native expression: the Column-composable form (substring
  * explode → per-gram hash → sliding `array_min` over slices) is
  * O(n·k + n·w) with an allocation per gram; this is ONE O(n) pass —
  * rolling recurrence + monotonic-deque window minimum — inside
  * whole-stage codegen.
  *
  * Contract: hashes are computed over the UTF-8 BYTES (the oracle
  * replays per-character `ascii()` arithmetic, identical for ASCII
  * text — run a `[^ -~]` strip first on corpora that may carry
  * multi-byte characters). Fewer than k bytes → empty array; null →
  * null. Deterministic, engine-replayable (pure modular arithmetic).
  */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnowq"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnowq expects a string, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(v: Any): Any =
    WinnowFingerprint.compute(v.asInstanceOf[UTF8String].getBytes, k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WinnowFingerprint.compute($c.getBytes(), $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprint =
    copy(child = newChild)
}

object WinnowFingerprint {

  /** Base/modulus of the rolling hash — small enough that every
    * intermediate product (≤ 255·M + M²? no: operands are reduced mod
    * M ≤ 1e9+7, and the largest product is 255·B^{k-1} mod M < 2^8·2^30
    * = 2^38) stays far under 2^63 in ANY engine's BIGINT. */
  val Base = 131L
  val Mod  = 1000000007L

  /** One O(n) pass: rolling gram hashes + monotonic-deque window
    * minima + sort/dedupe. Called from both eval and generated code. */
  def compute(bytes: Array[Byte], k: Int, w: Int): ArrayData = {
    val n = bytes.length
    val m = n - k + 1
    if (m <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val h = new Array[Long](m)
    var hh = 0L
    var j = 0
    while (j < k) { hh = (hh * Base + (bytes(j) & 0xff)) % Mod; j += 1 }
    h(0) = hh
    var bk = 1L
    j = 0
    while (j < k - 1) { bk = bk * Base % Mod; j += 1 }
    var i = 1
    while (i < m) {
      hh = (((hh - (bytes(i - 1) & 0xff) * bk % Mod + Mod) % Mod) * Base +
        (bytes(i + k - 1) & 0xff)) % Mod
      h(i) = hh
      i += 1
    }
    val win = math.min(w, m)
    val nw = m - win + 1
    val mins = new Array[Long](nw)
    val dq = new Array[Int](m)
    var head = 0
    var tail = 0
    i = 0
    while (i < m) {
      while (tail > head && h(dq(tail - 1)) >= h(i)) tail -= 1
      dq(tail) = i
      tail += 1
      if (dq(head) <= i - win) head += 1
      if (i >= win - 1) mins(i - win + 1) = h(dq(head))
      i += 1
    }
    java.util.Arrays.sort(mins)
    var cnt = 0
    i = 0
    while (i < nw) { if (i == 0 || mins(i) != mins(i - 1)) cnt += 1; i += 1 }
    val out = new Array[Long](cnt)
    var o = 0
    i = 0
    while (i < nw) {
      if (i == 0 || mins(i) != mins(i - 1)) { out(o) = mins(i); o += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  private def intLit(e: Expression, name: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(
      s"winnowq: $name must be an INTEGER literal, got $e")
  }

  private val builder: Seq[Expression] => Expression = { args =>
    require(args.length == 3, "winnowq(text, k, w) takes 3 arguments")
    val k = intLit(args(1), "k")
    val w = intLit(args(2), "w")
    require(k >= 1 && w >= 1, "winnowq needs k >= 1 and w >= 1")
    WinnowFingerprint(args.head, k, w)
  }

  def register(spark: SparkSession): Unit = Kernels.registerMissing(spark, descriptor)

  val descriptor: Kernels.Descriptor = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("winnowq"),
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      classOf[WinnowFingerprint].getName, null, "winnowq",
      "winnowq(text, k, w) - winnowing fingerprints (SIGMOD'03): distinct " +
        "sorted minima of w-windows over base-131 mod-1e9+7 rolling hashes " +
        "of k-byte grams. Hashes UTF-8 BYTES: strip non-ASCII first when " +
        "byte/codepoint parity with another engine matters. Returns [] for " +
        "text shorter than k bytes, NULL for NULL.",
      "",
      "\n    Examples:\n      > SELECT winnowq('abcdef', 3, 2);\n       [array of bigint fingerprints]\n  ",
      "", "misc_funcs", "1.0.0", "", "built-in"),
    builder)
}
