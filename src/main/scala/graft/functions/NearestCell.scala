package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: nearest-centroid assignment of one
  * quantized vector against a (broadcast) codebook array — the hot
  * pass of every k-means consumer ([[graft.llm.Similarity]] IVF /
  * SemDeDup training and assignment, [[graft.llm.Pq]] sub-quantizer
  * training and PQ encoding).
  *
  * WHY an expression and not `crossJoin + max_by`: the declarative
  * argmax (`max_by(struct(cell_id, nv), struct(sim, -cell_id))`)
  * carries an array-typed value and a struct-typed ordering in its
  * aggregation buffer. Neither is UnsafeRow-mutable, so
  * `HashAggregateExec` rejects the plan and Spark falls back to
  * `SortAggregateExec`: the N×numCells exploded pair stream — 1e9 rows
  * at the 1M×1024-cell probe — gets SORTED, with the full vector
  * payload copied through every buffer update. Measured at that scale
  * the training pass is minutes, not seconds. This expression computes
  * the identical argmax per ROW in one fused whole-stage-codegen loop:
  * no pair explosion, no aggregate, no sort — the corpus is scanned
  * narrow and `nv` never leaves its input row.
  *
  * Two metrics, two SQL names (registered per-session by [[register]]
  * or injected by [[graft.plans.GraftExtensions]]):
  *
  *   - `nearest_cell_cos(nv, cells)` — cells:
  *     `array<struct<cell_id:bigint, cv:array<bigint>, c2:bigint>>`
  *     (`c2 = dotq(cv, cv)`, precomputed once per codebook so the
  *     centroid self-norm is not re-derived per corpus row). Argmax of
  *     `cosine = dot/(sqrt(nn)·sqrt(c2))`, tie → smaller cell_id: the
  *     exact `max_by(…, struct(sim, -cell_id))` semantics, and the
  *     exact FP ops of [[graft.llm.Similarity.cosineQ]] (integer dots,
  *     `Math.sqrt` on the double-cast norms, one double multiply, one
  *     double divide) — so DuckDB oracles replaying
  *     `ORDER BY cosine DESC, cell_id` stay hash-identical.
  *   - `nearest_cell_l2(sv, cells)` — cells:
  *     `array<struct<cell_id:bigint, cv:array<bigint>>>`. Argmin of
  *     the exact integer `Σ(x−y)²`, tie → smaller cell_id: the
  *     `min_by(…, struct(d, cell_id))` semantics of [[graft.llm.Pq]].
  *
  * Null/edge contract (matches the `dotq` house convention): null
  * vector or null cells array → null; element loops run to the shorter
  * length and skip null elements; a null or field-null cells entry is
  * skipped; an empty cells array → null. A zero-norm vector or
  * centroid under the cosine metric makes the similarity NaN (0/0) —
  * that throws `ArithmeticException` so contract-violating input fails
  * loudly (the [[graft.llm.Similarity.cosineQ]] zero-norm contract)
  * instead of ranking garbage through NaN comparisons. Like `dotq`,
  * integer arithmetic is unchecked: quantized magnitudes are bounded
  * far below overflow by construction.
  */
case class NearestCell(left: Expression, right: Expression, useL2: Boolean)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String =
    if (useL2) "nearest_cell_l2" else "nearest_cell_cos"

  private def cellFields: Int = if (useL2) 2 else 3

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = left.dataType match {
      case ArrayType(LongType, _) => true
      case _                      => false
    }
    val cellsOk = right.dataType match {
      case ArrayType(StructType(fs), _) if fs.length == cellFields =>
        fs(0).dataType == LongType &&
          (fs(1).dataType match {
            case ArrayType(LongType, _) => true
            case _                      => false
          }) &&
          (useL2 || fs(2).dataType == LongType)
      case _ => false
    }
    if (vecOk && cellsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<bigint>, array<struct<cell_id:bigint, " +
        s"cv:array<bigint>${if (useL2) "" else ", c2:bigint"}>>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  private def dot(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val vec = a.asInstanceOf[ArrayData]
    val cells = b.asInstanceOf[ArrayData]
    val nCells = cells.numElements()
    var found = false
    var bestCell = 0L
    if (useL2) {
      var bestD = 0L
      var c = 0
      while (c < nCells) {
        if (!cells.isNullAt(c)) {
          val cell = cells.getStruct(c, 2)
          if (!cell.isNullAt(0) && !cell.isNullAt(1)) {
            val cid = cell.getLong(0)
            val cv = cell.getArray(1)
            val n = math.min(vec.numElements(), cv.numElements())
            var d = 0L
            var i = 0
            while (i < n) {
              if (!vec.isNullAt(i) && !cv.isNullAt(i)) {
                val t = vec.getLong(i) - cv.getLong(i)
                d += t * t
              }
              i += 1
            }
            if (!found || d < bestD || (d == bestD && cid < bestCell)) {
              found = true; bestD = d; bestCell = cid
            }
          }
        }
        c += 1
      }
    } else {
      val nrm = java.lang.Math.sqrt(dot(vec, vec).toDouble)
      var bestSim = 0.0
      var c = 0
      while (c < nCells) {
        if (!cells.isNullAt(c)) {
          val cell = cells.getStruct(c, 3)
          if (!cell.isNullAt(0) && !cell.isNullAt(1) && !cell.isNullAt(2)) {
            val cid = cell.getLong(0)
            val cv = cell.getArray(1)
            val sim = dot(vec, cv).toDouble /
              (nrm * java.lang.Math.sqrt(cell.getLong(2).toDouble))
            if (java.lang.Double.isNaN(sim)) {
              throw new ArithmeticException(
                "nearest_cell_cos: zero-norm vector or centroid (cosine " +
                  "undefined) — filter zero embeddings upstream")
            }
            if (!found || sim > bestSim || (sim == bestSim && cid < bestCell)) {
              found = true; bestSim = sim; bestCell = cid
            }
          }
        }
        c += 1
      }
    }
    if (found) bestCell else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (vec, cells) => {
      val nCells = ctx.freshName("nCells")
      val c = ctx.freshName("c")
      val cell = ctx.freshName("cell")
      val cid = ctx.freshName("cid")
      val cv = ctx.freshName("cv")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val found = ctx.freshName("found")
      val bestCell = ctx.freshName("bestCell")
      val body = if (useL2) {
        val bestD = ctx.freshName("bestD")
        val d = ctx.freshName("d")
        val t = ctx.freshName("t")
        s"""
           |long $bestD = 0L;
           |for (int $c = 0; $c < $nCells; $c++) {
           |  if ($cells.isNullAt($c)) continue;
           |  InternalRow $cell = $cells.getStruct($c, 2);
           |  if ($cell.isNullAt(0) || $cell.isNullAt(1)) continue;
           |  long $cid = $cell.getLong(0);
           |  ArrayData $cv = $cell.getArray(1);
           |  int $n = java.lang.Math.min($vec.numElements(), $cv.numElements());
           |  long $d = 0L;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if (!$vec.isNullAt($i) && !$cv.isNullAt($i)) {
           |      long $t = $vec.getLong($i) - $cv.getLong($i);
           |      $d += $t * $t;
           |    }
           |  }
           |  if (!$found || $d < $bestD || ($d == $bestD && $cid < $bestCell)) {
           |    $found = true; $bestD = $d; $bestCell = $cid;
           |  }
           |}
         """.stripMargin
      } else {
        val nn = ctx.freshName("nn")
        val nrm = ctx.freshName("nrm")
        val vlen = ctx.freshName("vlen")
        val v = ctx.freshName("v")
        val bestSim = ctx.freshName("bestSim")
        val dotv = ctx.freshName("dot")
        val sim = ctx.freshName("sim")
        s"""
           |int $vlen = $vec.numElements();
           |long $nn = 0L;
           |for (int $i = 0; $i < $vlen; $i++) {
           |  if (!$vec.isNullAt($i)) {
           |    long $v = $vec.getLong($i);
           |    $nn += $v * $v;
           |  }
           |}
           |double $nrm = java.lang.Math.sqrt((double) $nn);
           |double $bestSim = 0.0;
           |for (int $c = 0; $c < $nCells; $c++) {
           |  if ($cells.isNullAt($c)) continue;
           |  InternalRow $cell = $cells.getStruct($c, 3);
           |  if ($cell.isNullAt(0) || $cell.isNullAt(1) || $cell.isNullAt(2)) continue;
           |  long $cid = $cell.getLong(0);
           |  ArrayData $cv = $cell.getArray(1);
           |  int $n = java.lang.Math.min($vlen, $cv.numElements());
           |  long $dotv = 0L;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if (!$vec.isNullAt($i) && !$cv.isNullAt($i)) {
           |      $dotv += $vec.getLong($i) * $cv.getLong($i);
           |    }
           |  }
           |  double $sim = ((double) $dotv) /
           |    ($nrm * java.lang.Math.sqrt((double) $cell.getLong(2)));
           |  if (java.lang.Double.isNaN($sim)) {
           |    throw new ArithmeticException(
           |      "nearest_cell_cos: zero-norm vector or centroid (cosine " +
           |      "undefined) - filter zero embeddings upstream");
           |  }
           |  if (!$found || $sim > $bestSim || ($sim == $bestSim && $cid < $bestCell)) {
           |    $found = true; $bestSim = $sim; $bestCell = $cid;
           |  }
           |}
         """.stripMargin
      }
      s"""
         |int $nCells = $cells.numElements();
         |boolean $found = false;
         |long $bestCell = 0L;
         |$body
         |if ($found) {
         |  ${ev.value} = $bestCell;
         |} else {
         |  ${ev.isNull} = true;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): NearestCell =
    copy(left = l, right = r)
}

object NearestCell {

  private def builder(useL2: Boolean): Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      s"nearest_cell_${if (useL2) "l2" else "cos"}(vec, cells) takes 2 arguments")
    NearestCell(args.head, args(1), useL2)
  }

  /** Make `nearest_cell_cos` / `nearest_cell_l2` available to
    * `expr(...)` in this session. */
  def register(spark: SparkSession): Unit = Kernels.registerMissing(spark, descriptors: _*)

  /** Descriptors for `SparkSessionExtensions.injectFunction`. */
  val descriptors: Seq[Kernels.Descriptor] = Seq(
    (org.apache.spark.sql.catalyst.FunctionIdentifier("nearest_cell_cos"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[NearestCell].getName, "nearest_cell_cos"),
      builder(useL2 = false)),
    (org.apache.spark.sql.catalyst.FunctionIdentifier("nearest_cell_l2"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[NearestCell].getName, "nearest_cell_l2"),
      builder(useL2 = true)))
}
