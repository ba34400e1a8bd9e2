package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: integer dot product of two
  * `array<bigint>` columns — the hot inner loop of the quantized
  * cosine similarity ([[graft.llm.Similarity]]).
  *
  * The composable form `aggregate(zip_with(a, b, _*_), 0L, _+_)`
  * allocates an intermediate array and runs two lambda interpreters
  * per row; this expression generates a single fused loop in
  * whole-stage codegen (`doGenCode`), no allocation. Registered as the
  * SQL function `dotq` (per-session) by [[LongArrayDot.register]].
  *
  * Semantics: null if either side is null; length of the shorter array
  * bounds the loop (embedding dims are equal by contract); null
  * elements contribute 0.
  */
case class LongArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "dotq"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _                      => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dotq expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): LongArrayDot =
    copy(left = l, right = r)
}

object LongArrayDot {

  private val builder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, "dotq(arrayA, arrayB) takes 2 arguments")
    LongArrayDot(args.head, args(1))
  }

  /** Make `dotq(a, b)` available to `expr(...)` in this session. */
  def register(spark: SparkSession): Unit = Kernels.registerMissing(spark, descriptor)

  /** Descriptor for `SparkSessionExtensions.injectFunction` — sessions
    * built with [[graft.plans.GraftExtensions]] get `dotq` without a
    * per-session register() call. */
  val descriptor: Kernels.Descriptor = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("dotq"),
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      classOf[LongArrayDot].getName, "dotq"),
    builder)
}
