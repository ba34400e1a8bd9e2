package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the MinHash LSH band keys of a shingle
  * array — the candidate-generation hot loop of every near-dup family.
  *
  * The composable form builds `numBands · rowsPerBand` interpreted
  * lambdas, one per seed s:
  * `array_min(transform(sh, x -> md5(concat('s|', x))))`, and joins each
  * band's minima as `concat_ws('#', 'b', m1, m2, …)`. Every lambda call
  * allocates the prefixed string, its digest and the 32-char hex string,
  * and HigherOrderFunction has no codegen. This expression digests the
  * UTF-8 bytes of `s|x` with one reused `MessageDigest`, keeps each
  * seed's minimum as the raw 16 digest bytes (unsigned byte order is
  * the order of the lowercase hex strings), and hex-encodes only the
  * winners — inside whole-stage codegen.
  *
  * Value contract (pinned by a spec against the composable form): the
  * same strings bit for bit. NULL elements are skipped (md5 of NULL is
  * NULL, which `array_min` ignores); a NULL array, an empty array and
  * an all-NULL array have no minima, so every band key is its bare
  * index `b`, exactly as `concat_ws` skips NULL arguments. Never NULL.
  */
case class MinHashBands(child: Expression, numBands: Int, rowsPerBand: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhashbandsq"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhashbandsq expects an array<string> of shingles, got ${other.simpleString}")
  }

  @transient private lazy val kernel = new MinHashKernel(numBands, rowsPerBand)

  override def eval(input: InternalRow): Any =
    kernel.bands(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[MinHashKernel].getName
    val k = ctx.addMutableState(cls, "minhash",
      v => s"$v = new $cls($numBands, $rowsPerBand);")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $k.bands(${c.isNull} ? null : ${c.value});""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

/** Per-task state of [[MinHashBands]]: one MD5 digest, the per-seed
  * minima and the scratch digest, reused for every row. */
final class MinHashKernel(numBands: Int, rowsPerBand: Int) {
  private val numHashes = numBands * rowsPerBand
  private val md = MessageDigest.getInstance("MD5")
  private val prefixes = Array.tabulate(numHashes)(s => s"$s|".getBytes("UTF-8"))
  private val labels = Array.tabulate(numBands)(b => b.toString.getBytes("UTF-8"))
  private val best = new Array[Byte](numHashes * 16)
  private val dig = new Array[Byte](16)

  def bands(sh: ArrayData): ArrayData = {
    var seen = false
    if (sh != null) {
      val n = sh.numElements()
      var i = 0
      while (i < n) {
        if (!sh.isNullAt(i)) {
          val x = sh.getUTF8String(i)
          var s = 0
          while (s < numHashes) {
            md.update(prefixes(s))
            digestOf(x)
            if (!seen || smaller(s * 16)) System.arraycopy(dig, 0, best, s * 16, 16)
            s += 1
          }
          seen = true
        }
        i += 1
      }
    }
    val out = new Array[Any](numBands)
    var b = 0
    while (b < numBands) {
      val label = labels(b)
      val key = new Array[Byte](label.length + (if (seen) rowsPerBand * 33 else 0))
      System.arraycopy(label, 0, key, 0, label.length)
      if (seen) {
        var o = label.length
        var r = 0
        while (r < rowsPerBand) {
          key(o) = '#'.toByte
          o = MinHashKernel.hex(best, (b * rowsPerBand + r) * 16, key, o + 1)
          r += 1
        }
      }
      out(b) = UTF8String.fromBytes(key)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Finishes the digest over `x`'s UTF-8 bytes into `dig`, reading
    * them in place when they live in a byte array (the usual case). */
  private def digestOf(x: UTF8String): Unit = {
    x.getBaseObject match {
      case a: Array[Byte] =>
        md.update(a, (x.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, x.numBytes())
      case _ => md.update(x.getBytes)
    }
    md.digest(dig, 0, 16)
  }

  /** `dig` < the minimum stored at `off`, as unsigned bytes. */
  private def smaller(off: Int): Boolean = {
    var j = 0
    while (j < 16) {
      val a = dig(j) & 0xff
      val m = best(off + j) & 0xff
      if (a != m) return a < m
      j += 1
    }
    false
  }
}

object MinHashKernel {
  private val Hex = "0123456789abcdef".getBytes("US-ASCII")

  /** Lowercase hex of the 16 bytes at `from(off)` into `to(at)`;
    * returns the index after the last written char. */
  private def hex(from: Array[Byte], off: Int, to: Array[Byte], at: Int): Int = {
    var j = 0
    while (j < 16) {
      val v = from(off + j) & 0xff
      to(at + 2 * j) = Hex(v >>> 4)
      to(at + 2 * j + 1) = Hex(v & 0xf)
      j += 1
    }
    at + 32
  }
}

object MinHashBands {

  private def intLit(e: Expression, name: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(
      s"minhashbandsq: $name must be an INTEGER literal, got $e")
  }

  private val builder: Seq[Expression] => Expression = { args =>
    require(args.length == 3, "minhashbandsq(shingles, numBands, rowsPerBand) takes 3 arguments")
    val bands = intLit(args(1), "numBands")
    val rows = intLit(args(2), "rowsPerBand")
    require(bands >= 1 && rows >= 1, "minhashbandsq needs numBands >= 1 and rowsPerBand >= 1")
    MinHashBands(args.head, bands, rows)
  }

  /** Make `minhashbandsq` available to `expr(...)` in this session. */
  def register(spark: SparkSession): Unit = Kernels.registerMissing(spark, descriptor)

  val descriptor: Kernels.Descriptor = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("minhashbandsq"),
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      classOf[MinHashBands].getName, null, "minhashbandsq",
      "minhashbandsq(shingles, numBands, rowsPerBand) - MinHash LSH band " +
        "keys: for seed s the minimum over the non-NULL shingles x of " +
        "md5('s|' || x), seeds grouped rowsPerBand to a band, band b keyed " +
        "'b#m1#m2…'. Equal to concat_ws('#', 'b', array_min(transform(" +
        "shingles, x -> md5(concat('s|', x)))), …) per band: a shingle-less " +
        "(NULL, empty or all-NULL) array keys every band as just 'b'.",
      "",
      "\n    Examples:\n      > SELECT minhashbandsq(array(), 2, 3);\n       [\"0\",\"1\"]\n  ",
      "", "misc_funcs", "1.0.0", "", "built-in"),
    builder)
}
