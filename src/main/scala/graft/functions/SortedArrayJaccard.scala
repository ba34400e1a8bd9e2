package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}

/** Native Catalyst expression: Jaccard similarity of two SORTED,
  * DISTINCT string arrays — the verify step of every near-dup pair.
  *
  * The composable form `size(array_intersect(a,b)) / size(array_union
  * (a,b))` builds two hash sets and two intermediate arrays per pair;
  * over millions of candidate pairs that allocation dominates. This
  * expression runs one fused sorted-merge count (no allocation) in
  * whole-stage codegen and derives `|∩| / (|a| + |b| − |∩|)`.
  *
  * Contract: both inputs sorted ascending and duplicate-free (the
  * shingle builder guarantees this via array_sort∘array_distinct);
  * result matches the composable form bit-for-bit, including the
  * NaN for two empty arrays. Null ELEMENTS are skipped (cannot occur
  * in shingle arrays); a null ARRAY yields null.
  */
case class SortedArrayJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccardq"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _                        => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"jaccardq expects (array<string>, array<string>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < nx && j < ny) {
      if (x.isNullAt(i)) i += 1
      else if (y.isNullAt(j)) j += 1
      else {
        val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (c == 0) { inter += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
    }
    inter.toDouble / (nx + ny - inter).toDouble
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val inter = ctx.freshName("inter")
      val c = ctx.freshName("c")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $nx && $j < $ny) {
         |  if ($a.isNullAt($i)) { $i++; }
         |  else if ($b.isNullAt($j)) { $j++; }
         |  else {
         |    int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |    if ($c == 0) { $inter++; $i++; $j++; }
         |    else if ($c < 0) { $i++; } else { $j++; }
         |  }
         |}
         |${ev.value} = (double) $inter / (double) ($nx + $ny - $inter);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedArrayJaccard =
    copy(left = l, right = r)
}

object SortedArrayJaccard {

  private val builder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, "jaccardq(sortedA, sortedB) takes 2 arguments")
    SortedArrayJaccard(args.head, args(1))
  }

  def register(spark: SparkSession): Unit = Kernels.registerMissing(spark, descriptor)

  val descriptor: Kernels.Descriptor = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("jaccardq"),
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      classOf[SortedArrayJaccard].getName, null, "jaccardq",
      // the call-site contract, surfaced to SQL users via DESCRIBE
      // FUNCTION (round-3 advice): results are undefined off-contract
      "jaccardq(a, b) - Jaccard similarity of two SORTED ASCENDING, " +
        "DISTINCT array<string> values (e.g. array_sort(array_distinct(x))). " +
        "Unsorted or non-distinct inputs return WRONG results silently; " +
        "null elements are skipped in the intersection but counted in the " +
        "union denominator. Returns NaN for two empty arrays, NULL for a " +
        "NULL array.",
      "",
      "\n    Examples:\n      > SELECT jaccardq(array('a','b'), array('b','c'));\n       0.3333333333333333\n  ",
      "", "misc_funcs", "1.0.0", "", "built-in"),
    builder)
}
